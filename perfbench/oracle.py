"""Value checks against the DuckDB oracles the query registry uses.

The expected values come from ``solarpos_spark.oracle_sql`` (generated NREL
SPA and A.2 sunrise SQL) evaluated by DuckDB, compared at the registry's
5-decimal rounding. Token inputs are decoded here in SQL straight from the
parquet files the stream read, so the check does not reuse the engine's
decoder.

Angles are compared rounded to 5 decimals, except that a value within
``TIE_TOL`` of the oracle's unrounded value also passes: numpy and DuckDB
differ by a few 1e-12 degrees (libm), which decides the rounding of a value
that lies on a 5-decimal tie (seen: zenith 95.179714999997 from the engine,
95.179715000000 from the oracle).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from solarpos_spark import oracle_sql

#: digits the oracle keeps before the comparison rounds to 5
ORACLE_DIGITS = 12
#: degrees by which engine and oracle may differ across a 5-decimal tie
TIE_TOL = 1e-9

# field layout of solarpos_spark.codec (10 int32 tokens per record);
# DuckDB lists are 1-based
_DECODE_SQL = """
WITH docs AS (
  SELECT doc_id, tokens FROM read_parquet({files})
  WHERE doc_id IN (SELECT doc_id FROM sample_ids)
),
recs AS (
  SELECT doc_id, unnest(range(0, len(tokens) // 10)) AS seq_index, tokens
  FROM docs
)
SELECT doc_id, CAST(seq_index AS INTEGER) AS seq_index,
  tokens[10 * seq_index + 1] / 100000.0 AS lat,
  tokens[10 * seq_index + 2] / 100000.0 AS lon,
  CAST(tokens[10 * seq_index + 3] AS BIGINT) * 4294967296
    + CASE WHEN tokens[10 * seq_index + 4] < 0
           THEN tokens[10 * seq_index + 4] + 4294967296
           ELSE tokens[10 * seq_index + 4] END AS usec,
  tokens[10 * seq_index + 6] / 1000.0 AS delta_t,
  tokens[10 * seq_index + 7] / 1000.0 AS elevation,
  tokens[10 * seq_index + 8] / 1000.0 AS pressure,
  tokens[10 * seq_index + 9] / 1000.0 AS temperature
FROM recs
"""


def _decoded(con: duckdb.DuckDBPyConnection, files: list[str],
             doc_ids: list[str]) -> None:
    con.register("sample_ids", pd.DataFrame({"doc_id": doc_ids}))
    con.execute("CREATE OR REPLACE TEMP TABLE sample_in AS "
                + _DECODE_SQL.format(files=repr(list(files))))


def _mismatches(con: duckdb.DuckDBPyConnection, want_sql: str, got_sql: str,
                keys: list[str], exact: list[str], rounded: list[str]) -> tuple[int, int]:
    """(rows compared, rows that differ). A row missing on either side
    counts as a difference. ``want_sql`` keeps ``ORACLE_DIGITS`` digits of
    the ``rounded`` columns."""
    on = " AND ".join(f"w.{k} = g.{k}" for k in keys)
    differs = " OR ".join(
        [f"g.{keys[0]} IS NULL", f"w.{keys[0]} IS NULL"]
        + [f"g.{c} IS DISTINCT FROM w.{c}" for c in exact]
        + [f"(round(g.{c}, 5) IS DISTINCT FROM round(w.{c}, 5) "
           f"AND coalesce(abs(g.{c} - w.{c}) > {TIE_TOL}, TRUE))" for c in rounded])
    n, bad = con.execute(f"""
        WITH want AS ({want_sql}), got AS ({got_sql})
        SELECT count(*), count(*) FILTER (WHERE {differs})
        FROM want w FULL OUTER JOIN got g ON {on}""").fetchone()
    return int(n), int(bad)


def committed_counts(out_root: str) -> tuple[dict, dict]:
    """What the exactly-once sink committed under ``out_root/it=*/batch_id=*``:
    rows per (iteration, batch) and (rows, distinct (doc_id, seq_index)) per
    iteration, read back with DuckDB."""
    src = (f"read_parquet('{out_root}/*/*/*.parquet', hive_partitioning = true, "
           f"union_by_name = true)")
    with duckdb.connect() as con:
        per_batch = {(it, int(b)): int(n) for it, b, n in con.execute(
            f"SELECT it, batch_id, count(*) FROM {src} GROUP BY ALL").fetchall()}
        per_query = {it: (int(n), int(k)) for it, n, k in con.execute(
            f"SELECT it, count(*), count(DISTINCT (doc_id, seq_index)) "
            f"FROM {src} GROUP BY ALL").fetchall()}
    return per_batch, per_query


def _committed(out_dir: str, cols: str) -> str:
    return (f"SELECT {cols} FROM read_parquet('{out_dir}/*/*.parquet') "
            f"WHERE doc_id IN (SELECT doc_id FROM sample_ids)")


def _seconds(col: str) -> str:
    return f"CAST(epoch({col}) AS BIGINT) AS {col}_usec"


def check_join(files: list[str], out_dir: str,
               doc_ids: list[str]) -> tuple[int, int]:
    """Committed position ⋈ sunrise rows of ``doc_ids`` against ``spa_sql``
    joined to ``sunrise_sql`` (UTC calendar day, as the streaming join
    computes it), including the is_daylight classification."""
    with duckdb.connect() as con:
        _decoded(con, files, doc_ids)
        base = ("SELECT *, CAST(floor(usec / 86400) * 86400 AS BIGINT) AS day0 "
                "FROM sample_in")
        pos = oracle_sql.spa_sql(base, round_digits=ORACLE_DIGITS)
        want = f"""
WITH pos AS ({pos}), sr AS ({oracle_sql.sunrise_sql(base)})
SELECT p.doc_id, p.seq_index, p.usec, p.azimuth, p.zenith, s.type,
       s.sunrise_usec, s.transit_usec, s.sunset_usec,
       CASE WHEN s.type = 'ALL_DAY' THEN TRUE
            WHEN s.type = 'ALL_NIGHT' THEN FALSE
            ELSE p.usec >= s.sunrise_usec AND p.usec <= s.sunset_usec
       END AS is_daylight
FROM pos p JOIN sr s ON p.doc_id = s.doc_id AND p.seq_index = s.seq_index"""
        got = _committed(out_dir, ", ".join([
            "doc_id", "seq_index", "CAST(epoch(event_time) AS BIGINT) AS usec",
            "azimuth", "zenith", "type", _seconds("sunrise"), _seconds("transit"),
            _seconds("sunset"), "is_daylight"]))
        return _mismatches(
            con, want, got, ["doc_id", "seq_index"],
            ["usec", "type", "sunrise_usec", "transit_usec", "sunset_usec",
             "is_daylight"],
            ["azimuth", "zenith"])


def check_sweep(got: pd.DataFrame) -> tuple[int, int]:
    """Sweep rows (lat, lon, usec, delta_t, azimuth, zenith) against
    ``spa_sql`` with the position operator's defaults (elevation 0,
    1013 hPa, 15 °C)."""
    with duckdb.connect() as con:
        con.register("sweep_out", got)
        want = oracle_sql.spa_sql(
            "SELECT lat, lon, usec, delta_t, 0.0 AS elevation, "
            "1013.0 AS pressure, 15.0 AS temperature FROM sweep_out",
            round_digits=ORACLE_DIGITS)
        return _mismatches(con, want, "SELECT * FROM sweep_out",
                           ["lat", "lon", "usec"], [], ["azimuth", "zenith"])
