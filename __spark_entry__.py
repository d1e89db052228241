"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps one entry per implemented operator family from
SURVEY.md §2 to a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()``
carries the equivalent DuckDB SQL (the astronomy oracles are *generated*
from the same coefficient tables as the kernels — solarpos_spark/oracle_sql.py).

Astronomy inputs are derived deterministically from the `events` table with
integer arithmetic only, so Spark and DuckDB construct bit-identical doubles;
outputs are rounded to the reference's output precision (5 decimals) so libm
ULP differences cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarpos_spark import oracle_sql as _osql
from solarpos_spark.operators import (
    dedup, search, similarity, sketches, text, tokenops, urls, windows)
from solarpos_spark.operators import graph as _graph
from solarpos_spark.operators.hashing import (
    fmix32_sql, hash_bucket_sql, poly31_band_sql, poly31_sql,
    salted_poly_sql)
from solarpos_spark.operators.position import position
from solarpos_spark.operators.sunrise import sunrise
from solarpos_spark.sources import inputs, tokens
from solarpos_spark.streaming import pipeline as sp
from solarpos_spark.streaming import stateful
from solarpos_spark.streaming.replay import (
    commit_available_now, ordered_file_stream, time_slices)

# --------------------------------------------------------------------------
# shared input derivations: _astro_df (Spark) and its SQL twin _astro_sql
# --------------------------------------------------------------------------


def _astro_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the engine's time semantics are UTC instants; pin the session so
    # unix_timestamp/date_format on ntz columns can't shift under a
    # non-UTC driver configuration
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id"),
        (((F.col("event_id") * 37) % 14400) / 100.0 - 72.0).alias("lat"),
        (((F.col("event_id") * 73) % 36000) / 100.0 - 180.0).alias("lon"),
        F.unix_timestamp("ts").alias("usec"),
        F.lit(0.0).alias("elevation"),
        F.lit(1013.0).alias("pressure"),
        F.lit(15.0).alias("temperature"),
        F.lit(69.0).alias("delta_t"),
    )


def _astro_sql(limit: int | None = None, *, quantized: bool = False,
               delta_t: str = "69.0") -> str:
    """DuckDB twin of :func:`_astro_df` over ``event_id < limit``, plus
    ``day0`` (0h UT of the day of ``usec``, the sunrise oracles' input).
    ``quantized`` rounds lat/lon half away from zero at 1e-5 and divides
    back, as the codec does (decode_records); ``delta_t`` is an SQL
    expression over the event row."""
    def coord(c: str) -> str:
        if not quantized:
            return c
        return (f"(CASE WHEN {c} >= 0 THEN floor({c}*100000.0 + 0.5) "
                f"ELSE -floor(-({c})*100000.0 + 0.5) END) / 100000.0")

    where = "" if limit is None else f" WHERE event_id < {limit}"
    return f"""
SELECT event_id, {coord('lat0')} AS lat, {coord('lon0')} AS lon, usec,
       CAST(floor(usec / 86400) * 86400 AS BIGINT) AS day0,
       0.0 AS elevation, 1013.0 AS pressure, 15.0 AS temperature,
       {delta_t} AS delta_t
FROM (SELECT event_id, ts,
             ((event_id * 37) % 14400) / 100.0 - 72.0 AS lat0,
             ((event_id * 73) % 36000) / 100.0 - 180.0 AS lon0,
             CAST(floor(epoch(ts)) AS BIGINT) AS usec
      FROM events{where})
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------------
# oracle SQL fragments shared by several oracles (the hash family's SQL
# twins live in solarpos_spark/operators/hashing.py)
# --------------------------------------------------------------------------

#: text.subword_token_count over ``text``: ceil(chars / 4) per whitespace
#: word (at least 1) plus one token per punctuation char.
_EST_TOKENS_SQL = r"""CAST(
  list_sum(list_transform(string_split_regex(trim(text), '\s+'),
           x -> greatest(1, CAST(ceil(length(x) / 4.0) AS BIGINT))))
  + length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
  AS BIGINT)"""


def _shingle_ctes(source: str) -> str:
    """``w(doc_id, ws)`` and ``sh(doc_id, shingles)``: dedup.shingle_rows'
    distinct word trigrams per doc of ``source(doc_id, text)``; a doc
    shorter than 3 words is one shingle, its whole normalized text."""
    return rf"""w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM {source}),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) <= 2
      THEN [array_to_string(ws, ' ')]
      ELSE list_transform(range(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      END) AS shingles
  FROM w)"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _position_query(algorithm: str, *, refraction: bool = True,
                    elevation_angle: bool = False):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        src = _astro_df(spark, sf_dir)
        res = position(src, algorithm=algorithm, refraction=refraction,
                       elevation_angle=elevation_angle, ts_col="usec",
                       time_is_unix=True, show_inputs=True,
                       passthrough=["event_id"])
        val_col = "elevation-angle" if elevation_angle else "zenith"
        return res.select(
            "event_id",
            F.round("latitude", 5).alias("lat"),
            F.round("longitude", 5).alias("lon"),
            F.round("azimuth", 5).alias("azimuth"),
            F.round(F.col(val_col), 5).alias(val_col.replace("-", "_")),
        )
    return q


def _astro_token_df(spark: SparkSession, sf_dir: str,
                    limit: int = 20000) -> DataFrame:
    """Deterministic token table derived from `events` (the gate's
    bit-reproducible stand-in for the Iceberg token-sequence input): the
    _astro_df tuples encoded through the codec, one record per doc."""
    src = _astro_df(spark, sf_dir).filter(F.col("event_id") < limit)
    import numpy as np
    import pandas as pd

    from solarpos_spark import codec

    def enc(batches):
        for pdf in batches:
            recs = codec.encode_records(
                lat=pdf["lat"].to_numpy(), lon=pdf["lon"].to_numpy(),
                unix_sec=pdf["usec"].to_numpy(np.int64),
                delta_t=pdf["delta_t"].to_numpy(),
                elevation=pdf["elevation"].to_numpy(),
                pressure=pdf["pressure"].to_numpy(),
                temperature=pdf["temperature"].to_numpy(),
            )
            yield pd.DataFrame({
                "doc_id": pdf["event_id"].astype(str),
                "tokens": list(recs),
                "n_tok": codec.TOKENS_PER_RECORD,
                "source": "derived:events",
            })

    return src.mapInPandas(enc, schema=tokens.TOKEN_SCHEMA)


def _decoded_fields(dec: DataFrame) -> DataFrame:
    """Decoded token records as the fields _DECODED_FIELDS_ORACLE checks."""
    return dec.select(
        F.col("doc_id").cast("long").alias("event_id"),
        F.round("lat", 5).alias("lat"), F.round("lon", 5).alias("lon"),
        F.col("unix_sec").alias("usec"),
        F.round("delta_t", 3).alias("delta_t"),
        F.round("pressure", 3).alias("pressure"),
    )


#: the _astro_token_df inputs after the codec round trip, at output precision
_DECODED_FIELDS_ORACLE = f"""
SELECT event_id, round(lat, 5) AS lat, round(lon, 5) AS lon, usec,
       delta_t, pressure
FROM ({_astro_sql(20000)})
"""


def _q_tokens_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec bijection: derive tuples -> encode -> decode -> emit fields."""
    return _decoded_fields(tokens.decode_tokens(_astro_token_df(spark, sf_dir)))


def _token_rel_df(spark: SparkSession, sf_dir: str,
                  limit: int = 3000) -> DataFrame:
    """SQL-replayable token relation for the token-domain gate entries:
    tokens derived from event_id with integer arithmetic only (the codec
    table is mapInPandas-encoded and can't replay in DuckDB). Every
    doc_id % 7 == 0 doc carries the PLANTED run 100000..100019 at
    positions 20..39; all other positions hold a quadratic-in-j mix
    below 49999 (quadratic so two docs can never alias a whole shifted
    window range — a linear mix would; at most one j per (doc pair,
    shift) can collide, far short of an 8-gram)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < limit).select("event_id")
    eid = F.col("event_id")
    tok = F.transform(
        F.sequence(F.lit(0), F.lit(39) + (eid % 23)),
        lambda j: F.when((eid % 7 == 0) & (j >= 20) & (j <= 39),
                         F.lit(100000) + (j - 20))
                   .otherwise(((eid + 1) * F.lit(2654435761)
                               + (j + 3) * (j + 7) * 40503) % 49999)
                   .cast("int"))
    return ev.select(eid.alias("doc_id"), tok.alias("tokens"))


_TOKEN_REL_SQL = """
  SELECT event_id AS doc_id,
         list_transform(range(0, 40 + event_id % 23), j ->
           CAST(CASE WHEN event_id % 7 = 0 AND j BETWEEN 20 AND 39
                THEN 100000 + (j - 20)
                ELSE ((event_id + 1) * 2654435761
                      + (j + 3) * (j + 7) * 40503) % 49999
                END AS INTEGER)) AS tokens
  FROM events WHERE event_id < 3000
"""


def _q_token_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level 13-gram contamination screen
    (tokenops.token_ngram_decontaminate — the GPT-3 appendix-C leakage
    rule in token space): eval = one 20-token benchmark sequence whose 8
    13-grams are broadcast; planted-run docs (doc_id % 7 == 0) must
    report exactly those 8 hits, everything else 0. Grams join as exact
    int arrays — no hash, no collision caveat, oracle replays verbatim."""
    train = _token_rel_df(spark, sf_dir)
    eval_df = spark.range(1).select(
        F.lit(0).alias("doc_id"),
        F.sequence(F.lit(100000), F.lit(100019))
        .cast("array<int>").alias("tokens"))
    return tokenops.token_ngram_decontaminate(train, eval_df, n=13)


_TOKEN_DECONTAMINATE_ORACLE = f"""
WITH t AS ({_TOKEN_REL_SQL}),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(tokens) - 12, 0)),
                               i -> tokens[i + 1:i + 13])) AS gram
  FROM t),
eg AS (
  SELECT DISTINCT unnest(list_transform(range(0, 8),
                                        i -> ev[i + 1:i + 13])) AS gram
  FROM (SELECT list_transform(range(100000, 100020),
                              x -> CAST(x AS INTEGER)) AS ev)),
h AS (SELECT doc_id, count(*) AS n FROM g JOIN eg USING (gram)
      GROUP BY doc_id)
SELECT t.doc_id, coalesce(h.n, 0) AS n_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM t LEFT JOIN h ON h.doc_id = t.doc_id
"""


def _q_token_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token 8-gram novelty (tokenops.token_ngram_novelty): the
    fraction of a doc's token windows occurring in no other doc — the
    token-space memorization-risk signal. Planted-run docs share 13
    8-windows with every other multiple of 7, dragging their novelty
    below 1; the mix windows are collision-free by construction."""
    return tokenops.token_ngram_novelty(
        _token_rel_df(spark, sf_dir), n=8)


_TOKEN_NOVELTY_ORACLE = f"""
WITH t AS ({_TOKEN_REL_SQL}),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(tokens) - 7, 0)),
                               i -> tokens[i + 1:i + 8])) AS gram
  FROM t),
d AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
a AS (
  SELECT g.doc_id, count(*) AS n_windows,
         sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN d USING (gram) GROUP BY g.doc_id)
SELECT t.doc_id,
       coalesce(a.n_windows, 0) AS n_windows,
       CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN coalesce(a.n_windows, 0) > 0
            THEN round(a.n_novel / a.n_windows, 6) END AS novelty
FROM t LEFT JOIN a ON a.doc_id = t.doc_id
"""


def _q_coord_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/R1: inclusive ranges + lat-major cartesian grid (exact-binary step)."""
    g = inputs.grid_df(spark, (-60.0, 60.0, 0.25), (-30.0, 30.0, 0.25))
    return g.select(
        (F.col("lat_ord") * 241 + F.col("lon_ord")).alias("ord"),
        F.round("lat", 5).alias("lat"), F.round("lon", 5).alias("lon"),
    )


def _q_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: year series at 2h step (4380 rows for 2003, PositionTest.java:161-186)."""
    t = inputs.time_series_df(spark, 2003, step_sec=7200)
    return t.select("unix_sec")


def _q_time_series_zoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 DST-aware variant: Europe/Berlin 2024 hourly series — local
    midnight start, instant-based stepping, per-row offset flipping across
    both DST transitions, wall-clock ISO rendering in the record's own zone
    (util/DateTimeIterator.java:43-91; --timezone semantics)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from solarpos_spark.sinks.formatters import format_timestamp

    t = inputs.time_series_df(spark, 2024, zone="Europe/Berlin")
    return t.select(
        "unix_sec",
        F.col("offset_sec").cast("long").alias("offset_sec"),
        format_timestamp(F.col("ts"), F.col("offset_sec")).alias("local_iso"),
    )


def _time_series_zoned_oracle() -> str:
    """Mirror built from the SAME zoneinfo transition table the Spark plan
    embeds — pure integer arithmetic + strftime, engine-portable."""
    start, end = inputs.zoned_partial_bounds(2024, None, None, "Europe/Berlin")
    trans = inputs.zone_transitions("Europe/Berlin", start, end)
    whens = " ".join(f"WHEN unix_sec >= {t} THEN {off}"
                     for t, off in reversed(trans[1:]))
    off_case = f"CASE {whens} ELSE {trans[0][1]} END"
    offs = sorted({off for _, off in trans})
    iso_whens = " ".join(
        "WHEN offset_sec = {o} THEN '{s}'".format(
            o=o, s=("Z" if o == 0 else
                    f"{'+' if o >= 0 else '-'}{abs(o) // 3600:02d}:"
                    f"{abs(o) % 3600 // 60:02d}"))
        for o in offs)
    return f"""
WITH base AS (
  SELECT unnest(range({start}, {end}, 3600)) AS unix_sec
),
o AS (
  SELECT unix_sec, CAST(({off_case}) AS BIGINT) AS offset_sec FROM base
)
SELECT unix_sec, offset_sec,
       strftime(make_timestamp((unix_sec + offset_sec) * 1000000),
                '%Y-%m-%dT%H:%M:%S')
       || (CASE {iso_whens} END) AS local_iso
FROM o
"""


def _q_cartesian_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 + F1: the reference StressTest shape — 21x21 grid x 120 times, SPA.
    (StressTest.java:40-99: 52,920 rows.)"""
    grid = inputs.grid_df(spark, (50.0, 55.0, 0.25), (10.0, 15.0, 0.25))
    times = inputs.time_series_df(spark, 2024, 6, step_sec=21600)
    gt = inputs.grid_times_df(grid, times).withColumn("delta_t", F.lit(69.0))
    res = position(gt, algorithm="spa", ts_col="unix_sec", time_is_unix=True,
                   show_inputs=True)
    return res.select(
        F.round("latitude", 5).alias("lat"), F.round("longitude", 5).alias("lon"),
        F.unix_timestamp("dateTime").alias("usec"),
        F.round("azimuth", 5).alias("azimuth"), F.round("zenith", 5).alias("zenith"),
    )


def _q_sunrise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: sunrise/transit/set per derived coordinate/date — full value
    oracle via the generated NREL A.2 SQL (oracle_sql.sunrise_sql)."""
    src = _astro_df(spark, sf_dir).filter(F.col("event_id") < 2000)
    res = sunrise(src, ts_col="usec", time_is_unix=True,
                  passthrough=["event_id"])
    return res.select(
        "event_id",
        F.round("latitude", 5).alias("lat"), F.round("longitude", 5).alias("lon"),
        "type",
        F.unix_timestamp("sunrise").alias("sunrise_usec"),
        F.unix_timestamp("transit").alias("transit_usec"),
        F.unix_timestamp("sunset").alias("sunset_usec"),
    )


def _q_twilight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the three twilight horizons (--twilight), value-checked against
    three more sunrise_sql instantiations (civil/nautical/astronomical)."""
    src = _astro_df(spark, sf_dir).filter(F.col("event_id") < 500)
    res = sunrise(src, twilight=True, ts_col="usec", time_is_unix=True,
                  passthrough=["event_id"])
    return res.select(
        "event_id",
        F.unix_timestamp("civil_start").alias("civil_start_usec"),
        F.unix_timestamp("civil_end").alias("civil_end_usec"),
        F.unix_timestamp("nautical_start").alias("nautical_start_usec"),
        F.unix_timestamp("nautical_end").alias("nautical_end_usec"),
        F.unix_timestamp("astronomical_start").alias("astronomical_start_usec"),
        F.unix_timestamp("astronomical_end").alias("astronomical_end_usec"),
    )


def _q_position_deltat_estimated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 end-to-end: --deltat bare semantics — the NaN sentinel makes the
    engine estimate deltaT from the date (Main.java:214-216), the estimate
    feeds SPA AND is echoed in the deltaT output column."""
    src = (_astro_df(spark, sf_dir)
           .withColumn("delta_t", F.lit(float("nan")))
           .filter(F.col("event_id") < 5000))
    res = position(src, algorithm="spa", ts_col="usec", time_is_unix=True,
                   show_inputs=True, passthrough=["event_id"])
    return res.select(
        "event_id",
        F.round("deltaT", 6).alias("delta_t_used"),
        F.round("azimuth", 5).alias("azimuth"),
        F.round("zenith", 5).alias("zenith"),
    )


def _position_deltat_estimated_oracle() -> str:
    """Espenak-Meeus 2005-2050 branch mirrored with the kernel's exact
    Horner ordering (deltat.py poly()), then fed through the SPA SQL."""
    base = _astro_sql(5000, delta_t="""(
        (0.005589 * ((year(ts) + (month(ts) - 0.5) / 12.0) - 2000.0)
         + 0.32217) * ((year(ts) + (month(ts) - 0.5) / 12.0) - 2000.0)
        + 62.92)""")
    inner = _osql.spa_sql(base)
    return (
        "SELECT event_id, round(delta_t, 6) AS delta_t_used, azimuth, zenith "
        "FROM (" + inner + ")"
    )


def _q_deltat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: Espenak-Meeus deltaT estimate per event date (via the kernel UDF)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from solarpos_spark.kernels import deltat as dk

    def _est(year, month):
        y = dk.decimal_year(year.to_numpy(np.float64), month.to_numpy(np.float64))
        return pd.Series(dk.estimate(y))

    est = pandas_udf(_est, DoubleType())

    ev = _events(spark, sf_dir)
    return (
        ev.select(F.year("ts").alias("y"), F.month("ts").alias("m"))
        .distinct()
        .select("y", "m", F.round(est(F.col("y"), F.col("m")), 6).alias("delta_t_est"))
    )


def _q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling_counts(_events(spark, sf_dir))


def _q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sliding_counts(_events(spark, sf_dir))


def _q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.session_stats(_events(spark, sf_dir))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_shingle_df bounds hot-shingle join skew; 1000 is far above the sf
    # corpora's max df (7 at sf0.01, 25 at sf0.1) so the oracle is unchanged
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5,
                                     max_shingle_df=1000)


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (rows-only: xxhash64 has no DuckDB
    counterpart; end-state correctness is pinned by tests/test_dedup.py
    against exact Jaccard)."""
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir), num_hashes=32, n=3)
    return dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)


def _q_minhash_lsh_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the engine-portable poly31 universal-hash family —
    same operator topology as minhash_lsh, full SQL-oracle value parity."""
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir), num_hashes=32, n=3,
                                    hash_fn="poly31")
    return dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4,
                                     hash_fn="poly31")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (rows-only, same xxhash64 caveat)."""
    return dedup.simhash(_docs(spark, sf_dir))


def _q_simhash_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash on the poly31 hash family — full SQL-oracle value parity."""
    return dedup.simhash(_docs(spark, sf_dir), hash_fn="poly31")


def _q_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates -> exact Jaccard verify (dedup.minhash_verified_pairs,
    poly31 family): the production near-dup pipeline — verify cost bounded
    by |candidates|, reported similarity exact."""
    return dedup.minhash_verified_pairs(_docs(spark, sf_dir),
                                        hash_fn="poly31")


def _minhash_verified_oracle(threshold: float = 0.5) -> str:
    """Candidates from the minhash oracle, intersections from the shingle
    relation, jaccard filtered — mirroring minhash_verified_pairs."""
    return f"""
WITH cand AS ({_minhash_oracle()}),
{_shingle_ctes("documents")},
ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS sg FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS na, b.nsh AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
v AS (
  SELECT i.* FROM inter i
  JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
FROM v
WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= {threshold}
"""


def _q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-COMPOSED production dedup pass: MinHash/LSH candidates ->
    exact-Jaccard verify -> connected components -> one canonical doc per
    cluster. Every stage is an already-gated operator; this entry pins the
    composition end-to-end (keep-list + cluster sizes)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_verified_pairs(docs, hash_fn="poly31")
    clusters = dedup.dedup_clusters(docs, pairs.select("doc_a", "doc_b"))
    return dedup.canonical_docs(docs, clusters)


def _dedup_pipeline_oracle() -> str:
    """Recursive-CC + canonical keep over the LSH-verified pair oracle."""
    return _dup_clusters_cte(_minhash_verified_oracle()) + _CANONICAL_SELECT


def _q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-<=k near-dup pairs via pigeonhole banding (Manku
    WWW'07): equi-join on one of k+1 fingerprint pieces, popcount verify —
    never all-pairs. poly31 62-bit family so the oracle is bit-exact."""
    fps = dedup.simhash(_docs(spark, sf_dir), hash_fn="poly31")
    return dedup.simhash_near_dup_pairs(fps, max_hamming=3, n_bits=62)


def _q_simhash_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding join with the max_piece_df hot-bucket guard (VERDICT r3
    #7): piece buckets holding > 40 docs — short docs' all-zero pieces,
    verbatim template pieces — are excluded before pairing, bounding the
    equi-join at O(cap * docs) instead of O(|hot bucket|^2). Oracle mirrors
    the cap with a HAVING on the bucket df."""
    fps = dedup.simhash(_docs(spark, sf_dir), hash_fn="poly31")
    return dedup.simhash_near_dup_pairs(fps, max_hamming=3, n_bits=62,
                                        max_piece_df=40)


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (pointer-jumping min-label
    propagation, O(log n) rounds) over the n-gram Jaccard pair graph;
    singleton docs are their own cluster. Oracle: recursive-CTE reachable
    minimum — the same fixpoint, schedule-independent."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                      max_shingle_df=1000)
    return dedup.dedup_clusters(docs, pairs)


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One kept doc per near-dup cluster (longest text, doc_id tiebreak) —
    the keep-list a corpus dedup pass actually ships. WindowGroupLimit
    keeps the rank-1 shuffle O(clusters), not O(corpus)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                      max_shingle_df=1000)
    clusters = dedup.dedup_clusters(docs, pairs)
    return dedup.canonical_docs(docs, clusters)


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs variant — the small-scale oracle; the production
    default is the bucketed query below."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_duplicates(emb, threshold=0.3, exact=True,
                                                dim=64)


def _q_embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default scale path: hyperplane-LSH buckets prune the pair space, the
    join shuffles on the bucket key — never all-pairs (similarity.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_duplicates(emb, threshold=0.3, dim=64,
                                                n_planes=6)


def _q_embedding_near_dup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed near-dup with multi-probe LSH: each vector also probes 2
    Hamming-1 neighbor buckets — recall recovered without widening buckets
    (similarity.embedding_near_duplicates multiprobe)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_duplicates(emb, threshold=0.3, dim=64,
                                                n_planes=6, multiprobe=2)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk(emb, q, dim=64, k=3, n_planes=6)


def _q_ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: probe the query bucket + 3 Hamming-1 neighbors —
    the recall/latency dial (similarity.ann_topk multiprobe)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk(emb, q, dim=64, k=3, n_planes=6, multiprobe=3)


_CONTAMINATION_PROBES = ("hash join", "sort merge", "broadcast join",
                         "columnar scan", "bloom filter")


def _q_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leakage screen (text.contamination_screen): broadcast-NLJ
    substring probes over the corpus, one stream of the documents."""
    return text.contamination_screen(_docs(spark, sf_dir),
                                     _CONTAMINATION_PROBES)


_CONTAMINATION_ORACLE = f"""
WITH probes AS (
  SELECT unnest([{", ".join("'" + p + "'" for p in sorted(set(_CONTAMINATION_PROBES)))}]) AS probe),
hits AS (
  SELECT d.doc_id, p.probe
  FROM documents d JOIN probes p
    ON contains(lower(trim(d.text)), p.probe))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       array_to_string(list_sort(list(probe)), ',') AS matched
FROM hits GROUP BY doc_id
"""


def _q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing layout (curate.sequence_pack): per-shard
    running token offsets -> fixed-capacity window placement. The running
    sum partitions by shard, so no single-reducer global ordering."""
    from solarpos_spark.operators.curate import sequence_pack

    return sequence_pack(_docs(spark, sf_dir), capacity=256)


_SEQUENCE_PACK_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source AS shard,
         {_EST_TOKENS_SQL} AS n_tokens
  FROM documents),
placed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS "offset"
  FROM base)
SELECT doc_id, shard, n_tokens, "offset",
       CAST("offset" // 256 AS BIGINT) AS pack_id,
       CAST("offset" % 256 AS BIGINT) AS pack_pos,
       ("offset" // 256) <> (("offset" + n_tokens - 1) // 256)
         AS spans_boundary
FROM placed
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText within-doc repetition metrics (text.py
    repetition_stats): dup-word / top-word / top-bigram fractions."""
    return text.repetition_stats(_docs(spark, sf_dir))


_REPETITION_STATS_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
pos AS (SELECT doc_id, unnest(ws) AS wd FROM w),
wc AS (SELECT doc_id, wd, count(*) AS c FROM pos GROUP BY 1, 2),
wstats AS (
  SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
         max(c) AS top_w
  FROM wc GROUP BY 1),
bg AS (
  SELECT doc_id,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgs
  FROM w),
bpos AS (SELECT doc_id, unnest(bgs) AS b FROM bg),
bc AS (SELECT doc_id, b, count(*) AS c FROM bpos GROUP BY 1, 2),
bstats AS (
  SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bg FROM bc GROUP BY 1)
SELECT ws.doc_id, CAST(ws.n_words AS BIGINT) AS n_words,
       round(1.0 - ws.n_distinct * 1.0 / ws.n_words, 6) AS dup_word_frac,
       round(ws.top_w * 1.0 / ws.n_words, 6) AS top_word_frac,
       coalesce(round(bs.top_bg * 1.0 / bs.n_bigrams, 6), 0.0)
         AS top_bigram_frac
FROM wstats ws LEFT JOIN bstats bs ON bs.doc_id = ws.doc_id
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (similarity.ivf_topk): data-dependent coarse
    quantization with a TRAINED codebook — deterministic distributed
    k-means (similarity.ivf_train_centroids: seeded Knuth-hash init,
    fixed-point Lloyd rounds, each one Arrow assignment-and-sum stage),
    corpus assignment a zero-shuffle Arrow pass, search touches
    nprobe/n_centroids of the corpus. The oracle re-derives the full
    training in SQL. ``ivf_topk_arrow`` names the same entry: the
    expression assignment it once compared against is gone."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    cents = similarity.ivf_train_centroids(emb, n_centroids=16, n_iter=3,
                                           seed=11)
    return similarity.ivf_topk(emb, q, k=3, n_centroids=16, nprobe=4,
                               centroids=cents)


def _ivf_trained_cents_cte(n_centroids: int = 16, n_iter: int = 3,
                           seed: int = 11, dim: int = 64,
                           with_corpus: bool = True, src: str = "corpus",
                           prefix: str = "", out: str = "cents") -> str:
    """Training CTE chain over ``src(vec_id, v)`` ending in
    ``out(cid, c, cn)`` — the bit-exact SQL mirror of
    similarity.ivf_train_centroids. Init = K lowest Knuth-hash ranks
    (hash_bucket_sql, denom 2^32); each Lloyd round = argmax assignment +
    FIXED-POINT int64 sums (order-independent, so DuckDB and Spark agree
    bit-for-bit) + one IEEE double division per mean. ``prefix`` names
    the chain's CTEs so several chains (the PQ subspace codebooks)
    coexist in one WITH. ``with_corpus=False`` omits the leading corpus
    CTE so a composed oracle (ivfpq_topk) can provide a corpus carrying
    BOTH this chain's (v, vn) and the PQ chains' fv."""
    K = n_centroids
    S = f"{float(1 << 20):.1f}"

    def qt(d: int) -> str:
        x = f"v[{d + 1}] * {S}"
        return (f"CAST(CASE WHEN {x} < 0 THEN -floor(-({x}) + 0.5) "
                f"ELSE floor({x} + 0.5) END AS BIGINT)")

    sums = ",\n         ".join(f"sum({qt(d)}) AS s{d}" for d in range(dim))
    mean = "[" + ", ".join(f"s.s{d} / ({S} * s.cnt)" for d in range(dim)) + "]"
    corpus_cte = """corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
  FROM embeddings),
""" if with_corpus else ""
    parts = [f"""{corpus_cte}{prefix}rnk AS (
  SELECT vec_id, v, {hash_bucket_sql("vec_id", seed, 1 << 32)} AS r
  FROM {src}),
{prefix}c0 AS (
  SELECT row_number() OVER (ORDER BY r, vec_id) - 1 AS cid, v AS c
  FROM {prefix}rnk ORDER BY r, vec_id LIMIT {K})"""]
    for it in range(1, n_iter + 1):
        p = it - 1
        parts.append(f"""{prefix}cl{p} AS (
  SELECT list(c ORDER BY cid) AS cl,
         list(sqrt(list_dot_product(c, c)) ORDER BY cid) AS cnl
  FROM {prefix}c{p}),
{prefix}a{it} AS (
  SELECT vec_id, v, list_indexof(sc, list_max(sc)) AS list_id
  FROM (SELECT vec_id, v,
               list_transform(range(1, {K + 1}),
                              j -> list_dot_product(v, cl[j]) / cnl[j]) AS sc
        FROM {src}, {prefix}cl{p})),
{prefix}s{it} AS (
  SELECT list_id, count(*) AS cnt,
         {sums}
  FROM {prefix}a{it} GROUP BY list_id),
{prefix}c{it} AS (
  SELECT p.cid, CASE WHEN s.cnt IS NULL THEN p.c ELSE {mean} END AS c
  FROM {prefix}c{p} p LEFT JOIN {prefix}s{it} s ON s.list_id = p.cid + 1)""")
    parts.append(f"""{out} AS (
  SELECT cid, c, sqrt(list_dot_product(c, c)) AS cn FROM {prefix}c{n_iter})""")
    return ",\n".join(parts)


def _ivf_assigned_ctes(n_centroids: int = 16) -> str:
    """``clist`` and ``assigned(vec_id, v, vn, list_id)``: each corpus
    vector's argmax-cosine list (1-based) under the trained ``cents``."""
    return f"""clist AS (
  SELECT list(c ORDER BY cid) AS cl, list(cn ORDER BY cid) AS cnl
  FROM cents),
assigned AS (
  SELECT vec_id, v, vn, list_indexof(sc, list_max(sc)) AS list_id
  FROM (SELECT vec_id, v, vn,
               list_transform(range(1, {n_centroids + 1}),
                              j -> list_dot_product(v, cl[j]) / cnl[j]) AS sc
        FROM corpus, clist))"""


def _pq_codebook_ctes(*, dim: int, m: int, K: int, n_iter: int,
                      seed: int) -> str:
    """The m PQ subspace codebooks ``cents0..cents{m-1}`` (each the
    _ivf_trained_cents_cte chain over its slice of ``corpus.fv``, seed
    offset per subspace) and ``codes(vec_id, sub, code)``, the corpus
    encoded as m codes per vector."""
    d_sub = dim // m
    chains = ",\n".join(
        f"q{s}corp AS (\n  SELECT vec_id, fv[{s * d_sub + 1}:"
        f"{(s + 1) * d_sub}] AS v FROM corpus),\n"
        + _ivf_trained_cents_cte(n_centroids=K, n_iter=n_iter, seed=seed + s,
                                 dim=d_sub, with_corpus=False,
                                 src=f"q{s}corp", prefix=f"q{s}",
                                 out=f"cents{s}")
        for s in range(m))
    encodes = "\nUNION ALL\n".join(f"""
  SELECT vec_id, {s} AS sub, list_indexof(sc, list_max(sc)) - 1 AS code
  FROM (SELECT vec_id,
               list_transform(range(1, {K + 1}),
                              j -> list_dot_product(v, cl[j]) / cnl[j]) AS sc
        FROM q{s}corp,
             (SELECT list(c ORDER BY cid) AS cl,
                     list(sqrt(list_dot_product(c, c)) ORDER BY cid) AS cnl
              FROM cents{s}))""" for s in range(m))
    return f"{chains},\ncodes AS ({encodes})"


def _pq_parts_cte(*, dim: int, m: int) -> str:
    """``parts``: each query's partial dot product and squared centroid
    norm per (subspace, code) — the ADC lookup table."""
    d_sub = dim // m
    partials = "\nUNION ALL\n".join(f"""
  SELECT query_id, qn, {s} AS sub, cid AS code,
         list_dot_product(qv[{s * d_sub + 1}:{(s + 1) * d_sub}], c)
           AS partial,
         cn * cn AS cn_sq
  FROM q, cents{s}""" for s in range(m))
    return f"parts AS ({partials})"


def _pq_topk_oracle(*, dim: int = 64, m: int = 8, K: int = 16,
                    n_iter: int = 2, seed: int = 11, k: int = 3,
                    shortlist: int = 50) -> str:
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS fv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS fn
  FROM embeddings),
{_pq_codebook_ctes(dim=dim, m=m, K=K, n_iter=n_iter, seed=seed)},
q AS (SELECT vec_id AS query_id, fv AS qv, fn AS qn FROM corpus
      WHERE vec_id < 10),
{_pq_parts_cte(dim=dim, m=m)},
adc AS (
  SELECT query_id, qn, vec_id,
         round(list_sum(list(partial ORDER BY sub))
               / (qn * sqrt(list_sum(list(cn_sq ORDER BY sub)))), 6)
           AS score
  FROM codes JOIN parts USING (sub, code)
  WHERE vec_id <> query_id
  GROUP BY query_id, qn, vec_id),
sh AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id ASC) AS r FROM adc)
  WHERE r <= {shortlist}),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qc.fv, cc.fv) / (qc.fn * cc.fn), 6)
           AS score
  FROM sh s JOIN corpus cc ON cc.vec_id = s.neighbor_id
            JOIN corpus qc ON qc.vec_id = s.query_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, score
FROM ex
QUALIFY rank <= {k}
"""


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with refine (similarity.pq_topk): m=8
    subspace codebooks trained by the deterministic fixed-point Lloyd
    trainer (seed offset per subspace), corpus scanned as 8 int codes
    per vector (ADC lookup-sums), ADC top-50 reranked on exact cosine.
    The oracle re-derives ALL EIGHT trainings, the encoding, the ADC
    table and the refine cut."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk(emb, q, dim=64, m=8, n_centroids=16,
                              n_iter=2, seed=11, k=3, shortlist=50)


def _ivf_topk_oracle() -> str:
    return f"""
WITH {_ivf_trained_cents_cte()},
{_ivf_assigned_ctes()},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM corpus
      WHERE vec_id < 10),
qscore AS (
  SELECT q.query_id, q.qv, q.qn, cents.cid,
         list_dot_product(q.qv, cents.c) / cents.cn AS cs
  FROM q, cents),
probes AS (
  SELECT query_id, qv, qn, cid + 1 AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, cid ASC) AS pr
        FROM qscore)
  WHERE pr <= 4),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, a.v) / (p.qn * a.vn), 6) AS score
  FROM probes p JOIN assigned a
    ON a.list_id = p.list_id AND a.vec_id <> p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM cand)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
FROM ranked WHERE rank <= 3
"""


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (similarity.ivfpq_topk — the faiss IndexIVFPQ
    shape): the coarse codebook restricts the scan to nprobe/16 of the
    corpus AND the scanned rows are m=8 int codes, never floats; ADC
    top-50 reranked on exact cosine. Reuses the ivf_topk coarse training
    and the pq_topk subspace trainings verbatim (same seeds), so the
    oracle re-derives ALL NINE trainings plus encode, probes, ADC and
    refine."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_topk(emb, q, dim=64, k=3, n_coarse=16,
                                 nprobe=4, m=8, n_codes=16,
                                 n_iter_coarse=3, n_iter_pq=2, seed=11,
                                 shortlist=50)


def _ivfpq_topk_oracle(*, dim: int = 64, m: int = 8, K: int = 16,
                       n_coarse: int = 16, nprobe: int = 4,
                       n_iter_pq: int = 2, seed: int = 11, k: int = 3,
                       shortlist: int = 50) -> str:
    """Composes _ivf_trained_cents_cte (coarse) + _pq_codebook_ctes over
    ONE corpus CTE carrying both column spellings (v/vn for the coarse
    chain, fv for the PQ chains), then restricts the pq_topk ADC to
    probed coarse lists before the refine cut."""
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, embedding::DOUBLE[] AS fv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS vn,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS fn
  FROM embeddings),
{_ivf_trained_cents_cte(n_centroids=n_coarse, with_corpus=False)},
{_pq_codebook_ctes(dim=dim, m=m, K=K, n_iter=n_iter_pq, seed=seed)},
{_ivf_assigned_ctes(n_coarse)},
q AS (SELECT vec_id AS query_id, fv AS qv, fn AS qn FROM corpus
      WHERE vec_id < 10),
qscore AS (
  SELECT q.query_id, cents.cid,
         list_dot_product(q.qv, cents.c) / cents.cn AS cs
  FROM q, cents),
probes AS (
  SELECT query_id, cid + 1 AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, cid ASC) AS pr
        FROM qscore)
  WHERE pr <= {nprobe}),
{_pq_parts_cte(dim=dim, m=m)},
adc AS (
  SELECT p.query_id, p.qn, cd.vec_id,
         round(list_sum(list(partial ORDER BY cd.sub))
               / (p.qn * sqrt(list_sum(list(cn_sq ORDER BY cd.sub)))), 6)
           AS score
  FROM codes cd
  JOIN assigned a ON a.vec_id = cd.vec_id
  JOIN probes pr ON pr.list_id = a.list_id AND cd.vec_id <> pr.query_id
  JOIN parts p ON p.query_id = pr.query_id
              AND p.sub = cd.sub AND p.code = cd.code
  GROUP BY p.query_id, p.qn, cd.vec_id),
sh AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id ASC) AS r FROM adc)
  WHERE r <= {shortlist}),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qc.fv, cc.fv) / (qc.fn * cc.fn), 6)
           AS score
  FROM sh s JOIN corpus cc ON cc.vec_id = s.neighbor_id
            JOIN corpus qc ON qc.vec_id = s.query_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, score
FROM ex
QUALIFY rank <= {k}
"""


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semdedup — Abbas et al. 2023): k-means-cluster
    the embeddings with the SAME deterministic trained codebook as the IVF
    entries, drop every vector cosine-dominated (>= eps) by a lower id
    within its cluster. The oracle re-derives training + assignment +
    within-cluster pruning end-to-end."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.ivf_train_centroids(emb, n_centroids=16, n_iter=3,
                                           seed=11)
    return similarity.semdedup(emb, eps=0.3, centroids=cents)


def _semdedup_oracle(eps: float = 0.3) -> str:
    return f"""
WITH {_ivf_trained_cents_cte()},
{_ivf_assigned_ctes()},
rm AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) >= {eps})
SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
       rm.vec_id IS NULL AS kept
FROM assigned a LEFT JOIN rm ON rm.vec_id = a.vec_id
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_docs(spark, sf_dir))


def _q_lang_id_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram profile language ID (operators/text.py
    language_id_trigram): relational trigram explode + broadcast profile
    join + per-doc argmax with deterministic tie-break."""
    return text.language_id_trigram(_docs(spark, sf_dir))


#: both engines derive the SAME multi-line view: a newline after every 8th
#: word (verified bit-identical Java-regex vs RE2), turning the one-line
#: template docs into line-structured pages whose shared 8-word chunks are
#: exactly the corpus-boilerplate a line-dedup pass removes
_LINE_SPLIT_RE = r"((\S+\s+){7}\S+)\s+"


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-line removal (dedup.line_dedup — the CCNet /
    RefinedWeb boilerplate filter): lines occurring > 2 times across the
    corpus are dropped from every doc, order preserved, rebuilt text +
    audit counts returned."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), _LINE_SPLIT_RE, "$1\n").alias("text"))
    return dedup.line_dedup(docs, max_line_count=2, min_line_chars=8)


_LINE_DEDUP_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '((\S+\s+){7}\S+)\s+', '\1' || chr(10), 'g')
           AS text
  FROM documents),
l AS (
  SELECT doc_id, i - 1 AS pos, string_split(text, chr(10))[i] AS line
  FROM d, LATERAL (SELECT unnest(range(1,
       len(string_split(text, chr(10))) + 1)) AS i)),
hot AS (
  SELECT trim(line) AS key FROM l
  WHERE length(trim(line)) >= 8
  GROUP BY 1 HAVING count(*) > 2),
m AS (SELECT l.*, hot.key FROM l LEFT JOIN hot ON trim(l.line) = hot.key)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN key IS NULL THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       count(*) AS n_lines_in,
       CAST(sum(CASE WHEN key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_removed
FROM m GROUP BY doc_id
"""


#: both engines derive the SAME deterministic URL per doc from integer
#: arithmetic on doc_id (documents carry no URL column): mixed
#: subdomains, a second-level-suffix TLD (co.uk), a nonstandard port,
#: tracking params in emitter order, and fragments — every branch of the
#: parser/normalizer is exercised.
_URL_TLDS = ("com", "org", "co.uk", "de", "io")


def _with_url(d: DataFrame, *extra_cols: str) -> DataFrame:
    """Append the deterministic synthetic ``url`` column to any relation
    carrying ``doc_id`` (batch or streaming — pure projection). The
    host mix exercises every PSL tier: plain 1/2-label suffixes,
    private suffixes (github.io), a wildcard zone (*.kawasaki.jp, both
    at and below the wildcard depth), both exception rules
    (city.kawasaki.jp, www.ck), and a '?' inside a fragment (the
    query-vs-fragment edge)."""
    did = F.col("doc_id")
    sub = (F.when(did % 3 == 0, "www.").when(did % 3 == 1, "m.")
           .otherwise(""))
    tld = F.element_at(F.array(*[F.lit(t) for t in _URL_TLDS]),
                       (did % 5 + 1).cast("int"))
    host = (
        F.when(did % 17 == 3, F.concat(F.lit("proj"),
                                       (did % 29).cast("string"),
                                       F.lit(".github.io")))
        .when(did % 17 == 5, F.concat(F.lit("w"),
                                      (did % 13).cast("string"),
                                      F.lit(".a.kawasaki.jp")))
        .when(did % 17 == 7, F.lit("city.kawasaki.jp"))
        .when(did % 17 == 11, F.concat(F.lit("x"),
                                       (did % 7).cast("string"),
                                       F.lit(".www.ck")))
        .otherwise(F.concat(sub, F.lit("site"), (did % 97).cast("string"),
                            F.lit("."), tld)))
    scheme = F.when(did % 4 == 0, "http").otherwise("https")
    port = F.when(did % 13 == 0, ":8080").otherwise("")
    path = F.concat(F.lit("/p/"), F.expr("doc_id div 7").cast("string"))
    query = (
        F.when(did % 3 == 0,
               F.concat(F.lit("?utm_source=feed&id="), did.cast("string")))
        .when(did % 3 == 1,
              F.concat(F.lit("?ref=x&id="), did.cast("string")))
        .otherwise(""))
    frag = (F.when(did % 11 == 0,
                   F.concat(F.lit("#s"), (did % 5).cast("string")))
            .when(did % 11 == 5, F.lit("#sec?x=1"))
            .otherwise(""))
    url = F.concat(scheme, F.lit("://"), host, port, path, query, frag)
    return d.select("doc_id", *extra_cols, url.alias("url"))


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_url(_docs(spark, sf_dir), "lang", "source", "n_chars")


_URL_TRACK_PRED = " OR ".join(
    f"starts_with(x, '{p}')" for p in urls.TRACKING_PARAM_PREFIXES)
_URL_PS_SQL, _URL_PRIV_SQL = urls.psl_resolution_sql()

#: WITH-body fragment: u (the derived URL view) -> r (components +
#: labels) -> psl (public-suffix resolution, generated from the same
#: rule rows + precedence order as the Spark join chain) -> parsed
#: (typed, normalized columns). Shared by the URL oracles; mirrors
#: operators/urls.py expression by expression. ``src`` is any relation
#: exposing doc_id (+ ``extra`` passthrough columns) — documents for
#: the batch entries, the events-derived doc set for the streaming one.
_URL_CTE_TMPL = r"""
u AS (
  SELECT doc_id, __EXTRA__
         (CASE WHEN doc_id % 4 = 0 THEN 'http' ELSE 'https' END) || '://' ||
         (CASE WHEN doc_id % 17 = 3
               THEN 'proj' || CAST(doc_id % 29 AS VARCHAR) || '.github.io'
               WHEN doc_id % 17 = 5
               THEN 'w' || CAST(doc_id % 13 AS VARCHAR) || '.a.kawasaki.jp'
               WHEN doc_id % 17 = 7 THEN 'city.kawasaki.jp'
               WHEN doc_id % 17 = 11
               THEN 'x' || CAST(doc_id % 7 AS VARCHAR) || '.www.ck'
               ELSE
                 (CASE WHEN doc_id % 3 = 0 THEN 'www.'
                       WHEN doc_id % 3 = 1 THEN 'm.' ELSE '' END) ||
                 'site' || CAST(doc_id % 97 AS VARCHAR) || '.' ||
                 (['com','org','co.uk','de','io'])[CAST(doc_id % 5 + 1 AS INT)]
          END) ||
         (CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END) ||
         '/p/' || CAST(doc_id // 7 AS VARCHAR) ||
         (CASE WHEN doc_id % 3 = 0
               THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 3 = 1
               THEN '?ref=x&id=' || CAST(doc_id AS VARCHAR)
               ELSE '' END) ||
         (CASE WHEN doc_id % 11 = 0
               THEN '#s' || CAST(doc_id % 5 AS VARCHAR)
               WHEN doc_id % 11 = 5 THEN '#sec?x=1'
               ELSE '' END) AS url
  FROM __SRC__),
p0 AS (
  SELECT *, lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
              AS auth,
         regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path0,
         regexp_extract(regexp_extract(url, '^[^#]*', 0),
                        '\?([^#]*)', 1) AS query
  FROM u),
r AS (
  SELECT *, lower(regexp_extract(auth, '^([^:]+)', 1)) AS host,
         regexp_extract(auth, ':([0-9]+)$', 1) AS port_s,
         string_split(lower(regexp_extract(auth, '^([^:]+)', 1)), '.')
           AS labels,
         len(string_split(lower(regexp_extract(auth, '^([^:]+)', 1)), '.'))
           AS n
  FROM p0),
psl AS (
  SELECT *, __PS__ AS ps, __PRIV__ AS is_private_suffix
  FROM r),
parsed AS (
  SELECT doc_id, __EXTRA__ url, scheme, host, port_s,
         labels, n, is_private_suffix,
         CASE WHEN port_s = '' THEN NULL
              ELSE CAST(port_s AS BIGINT) END AS port,
         CASE WHEN n > ps THEN array_to_string(labels[n-ps:n], '.')
              ELSE host END AS registered_domain,
         array_to_string(labels[n-ps+1:n], '.') AS public_suffix,
         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         coalesce(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> x <> '' AND NOT (__TRACK__))), '&'), '') AS query_norm
  FROM psl),
canon AS (
  SELECT *, scheme || '://' || host ||
         (CASE WHEN port_s <> ''
                    AND NOT (scheme = 'http' AND port_s = '80')
                    AND NOT (scheme = 'https' AND port_s = '443')
               THEN ':' || port_s ELSE '' END) ||
         path ||
         (CASE WHEN query_norm <> '' THEN '?' || query_norm
               ELSE '' END) AS url_norm
  FROM parsed)
""".replace("__TRACK__", _URL_TRACK_PRED) \
   .replace("__PS__", _URL_PS_SQL).replace("__PRIV__", _URL_PRIV_SQL)


def _url_parsed_cte(src: str = "documents",
                    extra: str = "lang, source, n_chars, ") -> str:
    return _URL_CTE_TMPL.replace("__SRC__", src).replace("__EXTRA__",
                                                         extra)


_URL_PARSED_CTE = _url_parsed_cte()


def _q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse + canonicalization (urls.url_parse): scheme/host/port/
    path extraction plus the C4/CCNet normal form (tracking params
    stripped, params sorted, default ports and fragments dropped), and
    PSL-table-driven registered-domain / public-suffix / private-tier
    resolution (wildcard + exception + private rules, broadcast join
    chain — zero exchange). The oracle's CASE chain is generated from
    the same rule rows and precedence order."""
    return urls.url_parse(_url_docs(spark, sf_dir))


_URL_PARSE_ORACLE = f"""
WITH {_URL_PARSED_CTE}
SELECT doc_id, url, scheme, host, port, registered_domain,
       public_suffix, is_private_suffix, path, query_norm, url_norm
FROM canon
"""


def _q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain rollup (urls.domain_stats): docs/hosts/langs/
    chars per registrable domain — the profile a curation run consults
    before setting domain caps. Integer-exact aggregates; the key
    cardinality is #domains so the shuffle carries combined partials."""
    parsed = urls.url_parse(_url_docs(spark, sf_dir),
                            keep_cols=("doc_id", "lang", "n_chars"))
    return urls.domain_stats(parsed)


_URL_DOMAIN_STATS_ORACLE = f"""
WITH {_URL_PARSED_CTE}
SELECT registered_domain AS domain, count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM canon GROUP BY 1
"""

_URL_BLOCKLIST = ("co.uk", "site13.com", "site5.org", "m.site20.io")


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subdomain-aware domain blocklist (urls.blocklist_filter): hosts
    explode into their dot-suffixes which equi-join the broadcast
    blocklist (cost O(rows x labels), independent of blocklist size);
    matched docs anti-join away. The list blocks a whole public-suffix
    zone (co.uk), two registered domains, and one exact subdomain."""
    parsed = urls.url_parse(_url_docs(spark, sf_dir))
    surv = urls.blocklist_filter(parsed, _URL_BLOCKLIST)
    return surv.select("doc_id", "host", "registered_domain", "url_norm")


_URL_BLOCKLIST_SQL = (
    "[" + ", ".join(f"'{b}'" for b in _URL_BLOCKLIST) + "]")

_URL_BLOCKLIST_ORACLE = f"""
WITH {_URL_PARSED_CTE}
SELECT doc_id, host, registered_domain, url_norm
FROM canon
WHERE len(list_filter(range(1, n + 1),
      k -> list_contains({_URL_BLOCKLIST_SQL},
          array_to_string(labels[CAST(n - k + 1 AS BIGINT):n], '.')))) = 0
"""


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (text.chunk_documents):
    32-word chunks, 8-word overlap (stride 24) — posexplode words,
    integer chunk-range explode (fan-out <= 2 per word), order-pinned
    fold rebuild per (doc, chunk). The oracle replays the identical
    integer arithmetic and rebuild."""
    return text.chunk_documents(_docs(spark, sf_dir), chunk_words=32,
                                overlap_words=8)


_DOC_CHUNKS_ORACLE = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents),
l AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS word
  FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
a AS (
  SELECT doc_id, pos, word,
         unnest(range(greatest(0, (pos - 32 + 24) // 24),
                      pos // 24 + 1)) AS chunk_idx
  FROM l)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       string_agg(word, ' ' ORDER BY pos) AS text,
       count(*) AS n_words,
       CAST(min(pos) AS BIGINT) AS start_pos
FROM a GROUP BY doc_id, chunk_idx
"""


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (text.dsir_scores — Xie et al. 2023):
    hashed-unigram log-likelihood ratio of the lang='de' target model vs
    the full raw corpus, bucket-sorted deterministic float fold."""
    return text.dsir_scores(_docs(spark, sf_dir), F.col("lang") == "de")


_DSIR_SELECT_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, lang = 'de' AS tgt,
         string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
t AS (SELECT doc_id, tgt, unnest(ws) AS word FROM w),
b AS (
  SELECT doc_id, tgt,
         {poly31_sql("word")} % 1024 AS bucket
  FROM t),
lam AS (
  SELECT bucket,
         ln(sum(CASE WHEN tgt THEN 1 ELSE 0 END) + 1.0)
         - ln(count(*) + 1.0) AS lam
  FROM b GROUP BY bucket),
tot AS (
  SELECT count(*) AS R, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS T FROM b),
pc AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
d AS (
  SELECT doc_id, sum(c) AS n_words,
         list_sum(list(c * lam ORDER BY bucket)) AS s
  FROM pc JOIN lam USING (bucket) GROUP BY doc_id)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(s + n_words * (ln(R + 1024.0) - ln(T + 1024.0)), 6) AS logw,
       round(s + n_words * (ln(R + 1024.0) - ln(T + 1024.0)), 6) >= 0
         AS selected
FROM d, tot
"""


def _q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter bigrams (text.top_ngrams): exact corpus-wide top-20
    by occurrence count with doc frequency, deterministic
    (cnt desc, gram asc) cut — planned as TakeOrderedAndProject."""
    return text.top_ngrams(_docs(spark, sf_dir), n=2, k=20)


_TOP_NGRAMS_ORACLE = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS ngram
  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
c AS (
  SELECT ngram, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY ngram)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, ngram ASC) AS INT) AS rank,
       ngram, cnt, n_docs
FROM c ORDER BY cnt DESC, ngram ASC LIMIT 20
"""


def _q_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real subword token accounting (operators/tokenizer.py): fit a
    deterministic 48-piece WordPiece vocabulary on the corpus (substring
    frequency top-k + single-char fallback), then greedy longest-match
    segment every DISTINCT word via functional-graph pointer doubling
    (O(log max_word_chars) self-joins, no per-row iteration, no Python)
    and roll up per-document totals. Upgrades the est_bpe_tokens
    heuristic to tokenizer-true counts for token-budget curation. The
    oracle re-derives the FULL fit + a recursive-CTE greedy walk."""
    from solarpos_spark.operators import tokenizer

    docs = _docs(spark, sf_dir)
    vocab = tokenizer.wordpiece_fit(docs, vocab_size=48, max_piece_chars=4)
    return tokenizer.wordpiece_counts(docs, vocab, max_piece_chars=4)


_WORDPIECE_ORACLE = r"""
WITH RECURSIVE occ AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
  FROM documents),
w AS (SELECT doc_id, word FROM occ WHERE word <> ''),
wc AS (SELECT word, count(*) AS c FROM w
       WHERE length(word) <= 16 GROUP BY word),
fitpos AS (SELECT word, c,
                  unnest(generate_series(0, length(word) - 1)) AS i
           FROM wc),
fitcand AS (SELECT word, c, i,
                   unnest(generate_series(1, least(4, length(word) - i)))
                     AS l
            FROM fitpos),
pcnt AS (SELECT CASE WHEN i = 0 THEN substr(word, 1, l)
                     ELSE '##' || substr(word, i + 1, l) END AS piece,
                sum(c) AS cnt
         FROM fitcand GROUP BY 1),
topv AS (SELECT piece FROM pcnt ORDER BY cnt DESC, piece ASC LIMIT 48),
alpha AS (SELECT unnest(generate_series(97, 122)) AS x
          UNION ALL SELECT unnest(generate_series(48, 57))),
vocab AS (SELECT DISTINCT piece FROM (
  SELECT piece FROM topv
  UNION ALL SELECT chr(CAST(x AS INT)) FROM alpha
  UNION ALL SELECT '##' || chr(CAST(x AS INT)) FROM alpha)),
dw AS (SELECT DISTINCT word FROM w),
sw AS (SELECT word FROM dw WHERE length(word) <= 16),
pos AS (SELECT word, unnest(generate_series(0, length(word) - 1)) AS i
        FROM sw),
cand AS (SELECT word, i,
                unnest(generate_series(1, least(4, length(word) - i))) AS l
         FROM pos),
m AS (SELECT c.word, c.i, max(c.l) AS adv
      FROM cand c JOIN vocab v
        ON v.piece = CASE WHEN c.i = 0 THEN substr(c.word, 1, c.l)
                          ELSE '##' || substr(c.word, c.i + 1, c.l) END
      GROUP BY c.word, c.i),
f AS (SELECT p.word, p.i AS pos,
             CASE WHEN m.adv IS NULL THEN length(p.word)
                  ELSE p.i + m.adv END AS nxt,
             CASE WHEN m.adv IS NULL THEN 0 ELSE 1 END AS step,
             (m.adv IS NULL) AS unk
      FROM pos p LEFT JOIN m ON m.word = p.word AND m.i = p.i),
walk AS (
  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS steps,
         FALSE AS unk
  FROM sw
  UNION ALL
  SELECT wk.word, CAST(f.nxt AS BIGINT), wk.steps + f.step,
         wk.unk OR f.unk
  FROM walk wk JOIN f ON f.word = wk.word AND f.pos = wk.pos
  WHERE wk.pos < length(wk.word)),
wp AS (
  SELECT word, CASE WHEN unk THEN 1 ELSE steps END AS n_pieces,
         unk AS is_unk
  FROM walk WHERE pos = length(word)
  UNION ALL
  SELECT word, 1, TRUE FROM dw WHERE length(word) > 16),
per_doc AS (
  SELECT w.doc_id, count(*) AS n_words, sum(wp.n_pieces) AS n_wp_tokens,
         sum(CASE WHEN wp.is_unk THEN 1 ELSE 0 END) AS n_unk_words
  FROM w JOIN wp USING (word) GROUP BY w.doc_id)
SELECT d.doc_id,
       CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(p.n_wp_tokens, 0) AS BIGINT) AS n_wp_tokens,
       CAST(coalesce(p.n_unk_words, 0) AS BIGINT) AS n_unk_words
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def _q_hll_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-trigram estimate (sketches.hll_cardinality): the
    vocabulary-size probe of a curation run — one algebraic max-aggregate
    whose shuffle carries <= 2^p rows per input partition regardless of
    corpus size (vs an exact-distinct shuffle of every gram). ~16k true
    distinct at p=10 exercises the raw-estimate branch."""
    grams = text.ngram_occurrences(_docs(spark, sf_dir), n=3)
    return sketches.hll_cardinality(grams, "ngram", p=10)


def _q_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL: distinct users per event_type at p=12 — sparse
    registers exercise the linear-counting branch; int64 keys hash via
    their decimal string form (engine-portable)."""
    ev = _events(spark, sf_dir)
    return sketches.hll_cardinality(
        ev, "user_id", p=12, group_cols=("event_type",))


def _q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL merge law under the gate: per-event_type register relations
    merged (max per bucket) to ONE global sketch, then estimated. The
    oracle is the DIRECT single-pass global estimate — hash-equality IS
    the proof that merged rollups answer exactly like a full re-scan
    (the warehouse pattern: per-day/per-source sketches, global rollup
    without touching the raw corpus)."""
    ev = _events(spark, sf_dir)
    regs = sketches.hll_registers(
        ev, "user_id", p=12, group_cols=("event_type",))
    return sketches.hll_estimate(sketches.hll_merge(regs), p=12)


def _hll_oracle(src_cte: str, p: int, group: str = "") -> str:
    """DuckDB oracle for hll_cardinality over CTE ``v(group?, val)`` —
    generated from the operator's own constants (fmix32_sql, _alpha) so
    query and oracle cannot drift."""
    m = 1 << p
    num = sketches._alpha(m) * m * m * float(1 << 32)
    wb1 = 32 - p + 1
    large = float(1 << 32) / 30.0
    sel_g = f"{group}, " if group else ""
    gby_r = f"GROUP BY {group}, bucket" if group else "GROUP BY bucket"
    gby_a = f"GROUP BY {group}" if group else ""
    return f"""
WITH {src_cte},
p0 AS (SELECT {sel_g}{poly31_sql("val")} AS h0 FROM v),
hx AS (SELECT {sel_g}{fmix32_sql("h0")} AS h FROM p0),
r AS (
  SELECT {sel_g}h % {m} AS bucket,
         max(CASE WHEN (h >> {p}) = 0 THEN {wb1}
                  ELSE {wb1} - length(bin(h >> {p})) END) AS register
  FROM hx {gby_r}),
a AS (
  SELECT {sel_g}count(*) AS n_set,
         CAST({m} - count(*) AS BIGINT) * 4294967296
           + sum(CAST(1 AS BIGINT) << CAST(32 - register AS INT)) AS s32
  FROM r {gby_a}),
e AS (
  SELECT {sel_g}n_set, {m} - n_set AS n_zero,
         {num!r} / CAST(s32 AS DOUBLE) AS raw
  FROM a)
SELECT {sel_g}round(CASE
         WHEN raw <= {2.5 * m!r} AND n_zero > 0
         THEN {float(m)!r} * ln({float(m)!r} / CAST(n_zero AS DOUBLE))
         WHEN raw > {large!r}
         THEN -4294967296.0 * ln(1.0 - raw / 4294967296.0)
         ELSE raw END, 3) AS est_distinct,
       CAST(n_set AS BIGINT) AS n_set,
       CAST(n_zero AS BIGINT) AS n_zero,
       CASE WHEN raw <= {2.5 * m!r} AND n_zero > 0 THEN 'linear'
            WHEN raw > {large!r} THEN 'large'
            ELSE 'raw' END AS correction
FROM e
"""


_HLL_TRIGRAM_SRC = r"""w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
v AS (
  SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS val
  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t)"""

_HLL_USER_SRC = ("v AS (SELECT event_type, CAST(user_id AS VARCHAR) AS val "
                 "FROM events)")

_HLL_USER_GLOBAL_SRC = ("v AS (SELECT CAST(user_id AS VARCHAR) AS val "
                        "FROM events)")

_HLL_TRIGRAMS_ORACLE = _hll_oracle(_HLL_TRIGRAM_SRC, p=10)
_HLL_USERS_BY_TYPE_ORACLE = _hll_oracle(_HLL_USER_SRC, p=12,
                                        group="event_type")
_HLL_USER_ROLLUP_ORACLE = _hll_oracle(_HLL_USER_GLOBAL_SRC, p=12)


def _q_bottomk_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch (sketches.bottom_k): the 32 distinct trigrams with
    the smallest portable hash — a deterministic uniform sample that
    plans as TakeOrderedAndProject (per-partition heaps, no global
    sort)."""
    grams = text.ngram_occurrences(_docs(spark, sf_dir), n=3)
    return sketches.bottom_k(grams, "ngram", k=32)


def _q_bottomk_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality from the bottom-k sketch: (k-1)*2^32/h_k on a full
    sketch, exact count when underfull."""
    grams = text.ngram_occurrences(_docs(spark, sf_dir), n=3)
    return sketches.bottom_k_estimate(
        sketches.bottom_k(grams, "ngram", k=32), k=32)


def _bottomk_cut_sql(src_cte: str, k: int) -> str:
    return f"""{src_cte},
d AS (SELECT DISTINCT val FROM v),
p0 AS (SELECT val, {poly31_sql("val")} AS h0 FROM d),
hx AS (SELECT val, {fmix32_sql("h0")} AS hv FROM p0),
cut AS (SELECT val, hv FROM hx ORDER BY hv ASC, val ASC LIMIT {k})"""


_BOTTOMK_TRIGRAMS_ORACLE = f"""
WITH {_bottomk_cut_sql(_HLL_TRIGRAM_SRC, 32)}
SELECT CAST(row_number() OVER (ORDER BY hv ASC, val ASC) AS INT) AS rank,
       val, CAST(hv AS BIGINT) AS hv
FROM cut
"""

_BOTTOMK_ESTIMATE_ORACLE = f"""
WITH {_bottomk_cut_sql(_HLL_TRIGRAM_SRC, 32)},
a AS (SELECT count(*) AS n, max(hv) AS hk FROM cut)
SELECT round(CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
             ELSE {float(31 * (1 << 32))!r} / CAST(hk AS DOUBLE) END, 3)
         AS est_distinct,
       CAST(n AS BIGINT) AS n_sampled, CAST(hk AS BIGINT) AS h_k
FROM a
"""


def _q_bottomk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped bottom-k (sketches.bottom_k(group_cols=...)): EXACTLY 8
    eval docs per language, deterministically — the per-stratum
    fixed-size sample a rate-based sampler cannot promise; plans as
    WindowGroupLimit."""
    return sketches.bottom_k(
        _docs(spark, sf_dir), "doc_id", k=8, group_cols=("lang",))


def _bottomk_per_lang_oracle() -> str:
    return f"""
WITH d AS (SELECT DISTINCT lang, CAST(doc_id AS VARCHAR) AS val
           FROM documents),
p0 AS (SELECT lang, val, {poly31_sql('val')} AS h0 FROM d),
hx AS (SELECT lang, val, {fmix32_sql('h0')} AS hv FROM p0),
r AS (SELECT lang, val, hv,
      CAST(row_number() OVER (PARTITION BY lang
           ORDER BY hv ASC, val ASC) AS INT) AS rank
      FROM hx)
SELECT lang, rank, val, CAST(hv AS BIGINT) AS hv FROM r WHERE rank <= 8
"""


def _q_cms_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (sketches.cms_table/cms_estimate) over trigram
    occurrences, probed with the exact top-20 heavy hitters (the
    deterministic top_ngrams cut): (ngram, true_cnt, est_cnt) with
    est >= true by construction. width=512 forces visible collisions so
    the gate checks the sketch arithmetic, not a trivially-exact table."""
    docs = _docs(spark, sf_dir)
    # STAGED composition (r6): one gram derivation shared by the sketch
    # build and the exact top-k, and both the (2048-row) counter table
    # and the (20-row) probe list materialized via localCheckpoint before
    # the estimate join. The un-staged composed plan re-evaluated the
    # heavy subtrees under the broadcast/TakeOrdered machinery (measured
    # 18-19 s at sf1.0 vs ~3 s warm staged — stage-level executorRunTime
    # showed one 540 CPU-s stage); checkpoints are per-invocation, so
    # nothing carries across bench runs.
    grams = text.ngram_occurrences(docs, n=3).localCheckpoint(eager=True)
    table = sketches.cms_table(grams, "ngram", depth=4, width=512) \
        .localCheckpoint(eager=True)
    top = text.top_ngrams(docs, n=3, k=20, grams=grams).select(
        "ngram", F.col("cnt").alias("true_cnt")).localCheckpoint(eager=True)
    return sketches.cms_estimate(table, top, "ngram", depth=4, width=512)


_CMS_TRIGRAMS_ORACLE = f"""
WITH {_HLL_TRIGRAM_SRC},
c AS (SELECT val, count(*) AS cnt FROM v GROUP BY val),
top AS (SELECT val AS ngram, cnt AS true_cnt FROM c
        ORDER BY cnt DESC, val ASC LIMIT 20),
p0 AS (SELECT {poly31_sql('val')} AS h0 FROM v),
r0 AS (SELECT h0, unnest(range(0, 4)) AS row FROM p0),
s0 AS (SELECT row, {salted_poly_sql('h0', 'row')} AS h1 FROM r0),
t AS (SELECT row, {fmix32_sql('h1')} % 512 AS bucket,
             count(*) AS cnt
      FROM s0 GROUP BY row, bucket),
q0 AS (SELECT ngram, true_cnt, {poly31_sql('ngram')} AS h0 FROM top),
q1 AS (SELECT ngram, true_cnt, h0, unnest(range(0, 4)) AS row FROM q0),
q2 AS (SELECT ngram, true_cnt, row,
              {salted_poly_sql('h0', 'row')} AS h1 FROM q1),
q3 AS (SELECT ngram, true_cnt, row,
              {fmix32_sql('h1')} % 512 AS bucket FROM q2)
SELECT ngram, CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(min(coalesce(t.cnt, 0)) AS BIGINT) AS est_cnt
FROM q3 LEFT JOIN t USING (row, bucket)
GROUP BY ngram, true_cnt
"""


_HTML_WRAP_PREFIX = ('<html><head><style>p{color:red}</style></head>'
                     '<body><p>')
_HTML_WRAP_SUFFIX = ('<script type="text/javascript">var x = 1 &amp;&amp; '
                     '2;</script><div>Tom &amp; Jerry &lt;3</div>'
                     '</body></html>')


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style HTML -> text extraction (text.extract_html_text): each
    doc is wrapped in deterministic HTML (style/script subtrees,
    doc_id%4 nav links, entity-escaped text) and the extractor must
    recover the clean text plus link-density boilerplate signals."""
    docs = _docs(spark, sf_dir)
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_WRAP_PREFIX), F.col("text"), F.lit("</p>"),
            F.expr("repeat('<a href=\"u\">go</a>', "
                   "CAST(doc_id % 4 AS INT))"),
            F.lit(_HTML_WRAP_SUFFIX),
        ).alias("text"))
    return text.extract_html_text(html)


_HTML_EXTRACT_ORACLE = rf"""
WITH h AS (
  SELECT doc_id,
         '{_HTML_WRAP_PREFIX}' || text || '</p>'
         || repeat('<a href="u">go</a>', CAST(doc_id % 4 AS INT))
         || '{_HTML_WRAP_SUFFIX}' AS text
  FROM documents),
s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text,
             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS stripped
  FROM h),
n AS (
  SELECT doc_id, stripped,
         CAST(len(regexp_extract_all(stripped, '(?i)<a[\s>]'))
              AS BIGINT) AS n_links
  FROM s),
c AS (
  SELECT doc_id, n_links,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(stripped, '(?s)<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS t
  FROM n)
SELECT doc_id, t AS text, n_links,
       round(n_links / greatest(1, length(t)), 6) AS link_density
FROM c
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination
    (text.decontaminate_ngrams): every 29th doc plays the eval set; the
    oracle is the PLAIN exact 8-gram intersection — hash-equality proves
    the broadcast-bit prefilter + exact-verify staging lossless."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    eval_df = docs.filter(F.col("doc_id") % 29 == 0)
    return text.decontaminate_ngrams(
        corpus, eval_df, n=8, m_bits=1 << 16, k=3)


_DECONTAMINATE_ORACLE = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id,
         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]
           || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' || ws[i + 6]
           || ' ' || ws[i + 7] AS ngram
  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) t),
cg AS (SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 29 <> 0),
eg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 29 = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM cg JOIN eg USING (ngram) GROUP BY doc_id
"""


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (text.perplexity_buckets — Wenzek et
    al. 2020): hashed-unigram LM scores split into equal-count
    head/middle/tail thirds via one deterministic ntile."""
    return text.perplexity_buckets(_docs(spark, sf_dir))


_PERPLEXITY_BUCKETS_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
t AS (SELECT doc_id, unnest(ws) AS word FROM w),
b AS (
  SELECT doc_id,
         {poly31_sql("word")} % 1024 AS bucket
  FROM t),
cnt AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
tot AS (SELECT count(*) AS R FROM b),
pc AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
d AS (
  SELECT doc_id, sum(pc.c) AS n_words,
         list_sum(list(pc.c * ln(cnt.c + 1.0) ORDER BY pc.bucket)) AS s
  FROM pc JOIN cnt USING (bucket) GROUP BY doc_id),
sc AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         round(s / n_words - ln(R + 1024.0), 6) AS avg_logp
  FROM d, tot)
SELECT doc_id, n_words, avg_logp,
       CASE ntile(3) OVER (ORDER BY avg_logp ASC, doc_id ASC)
            WHEN 1 THEN 'tail' WHEN 2 THEN 'middle' ELSE 'head' END
         AS ppl_bucket
FROM sc
"""


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (text.quality_classifier —
    fastText-shaped: poly31 word hash -> broadcast weight relation ->
    int64 score sum -> softsign keep-probability)."""
    return text.quality_classifier(_docs(spark, sf_dir))


_QUALITY_CLASSIFIER_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
t AS (SELECT doc_id, unnest(ws) AS word FROM w),
h AS (
  SELECT doc_id,
         {poly31_sql("word")} % 4096 AS bucket
  FROM t),
s AS (
  SELECT doc_id, count(*) AS n_words,
         sum(((bucket * 2654435761 + 97) % 2147483647) % 2001 - 1000)
           AS score
  FROM h GROUP BY doc_id)
SELECT doc_id, n_words, CAST(score AS BIGINT) AS score,
       round(0.5 + (score / (n_words * 1000.0))
             / (2.0 * (1.0 + abs(score / (n_words * 1000.0)))), 6) AS prob,
       CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM s
"""


def _q_quality_classifier_trained(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Deterministic classifier FIT + score
    (text.quality_classifier_trained): batch perceptron over the hashed
    bag-of-words relation, int64 updates to convergence (<= 60 rounds;
    the template corpus separates at ~49/41 rounds at sf0.001/0.01, and
    converged rounds are no-ops), labels from the deterministic
    predicate "doc contains the token 'spark'". The oracle re-derives
    the FULL training — every round unrolled as MATERIALIZED CTEs (w_t
    is referenced twice per round; inlining would expand the plan
    exponentially) — the same total-reconstruction discipline as the
    IVF/PQ oracles."""
    docs = _docs(spark, sf_dir)
    label = F.array_contains(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "spark")
    return text.quality_classifier_trained(docs, label, rounds=60)


def _perceptron_trained_oracle(n_buckets: int = 4096,
                               rounds: int = 60) -> str:
    """Unrolled-training DuckDB oracle for quality_classifier_trained:
    w1 = the all-docs update (round 0 weights are zero, so every doc is
    misclassified), then per round t: score with w(t-1), take the
    y*score <= 0 set, fold the per-bucket delta, full-outer-merge into
    w(t). Mirrors text.train_quality_classifier int-for-int."""
    poly = f"{poly31_sql('word')} % {n_buckets}"
    ctes = [
        ("d", r"SELECT doc_id, string_split_regex(lower(trim(text)), "
              r"'\s+') AS ws FROM documents"),
        ("y", "SELECT doc_id, CASE WHEN list_contains(ws, 'spark') "
              "THEN 1 ELSE -1 END AS y FROM d"),
        ("tok", "SELECT doc_id, unnest(ws) AS word FROM d"),
        ("tb", f"SELECT doc_id, {poly} AS bucket, count(*) AS cnt "
               f"FROM tok GROUP BY 1, 2 UNION ALL "
               f"SELECT doc_id, {n_buckets} AS bucket, 1 AS cnt FROM d"),
        ("w1", "SELECT bucket, sum(y.y * tb.cnt) AS wt "
               "FROM tb JOIN y USING (doc_id) GROUP BY bucket"),
    ]
    for t in range(2, rounds + 1):
        ctes += [
            (f"s{t}", f"SELECT tb.doc_id, sum(tb.cnt * "
                      f"coalesce(w{t - 1}.wt, 0)) AS score FROM tb "
                      f"LEFT JOIN w{t - 1} USING (bucket) "
                      f"GROUP BY tb.doc_id"),
            (f"m{t}", f"SELECT y.doc_id, y.y FROM y JOIN s{t} "
                      f"USING (doc_id) WHERE y.y * s{t}.score <= 0"),
            (f"d{t}", f"SELECT bucket, sum(m{t}.y * tb.cnt) AS dw "
                      f"FROM tb JOIN m{t} USING (doc_id) "
                      f"GROUP BY bucket"),
            (f"w{t}", f"SELECT coalesce(a.bucket, b.bucket) AS bucket, "
                      f"coalesce(a.wt, 0) + coalesce(b.dw, 0) AS wt "
                      f"FROM w{t - 1} a FULL JOIN d{t} b "
                      f"ON a.bucket = b.bucket"),
        ]
    ctes.append(
        ("sf", f"SELECT tb.doc_id, "
               f"CAST(sum(CASE WHEN tb.bucket < {n_buckets} "
               f"THEN tb.cnt ELSE 0 END) AS BIGINT) AS n_words, "
               f"CAST(sum(tb.cnt * coalesce(wf.wt, 0)) AS BIGINT) "
               f"AS score FROM tb LEFT JOIN w{rounds} wf "
               f"ON tb.bucket = wf.bucket GROUP BY tb.doc_id"))
    body = ",\n".join(
        f"{name} AS MATERIALIZED ({sql})"
        if name == "tb" or name.startswith("w")
        else f"{name} AS ({sql})"
        for name, sql in ctes)
    return (f"WITH {body}\n"
            f"SELECT sf.doc_id, n_words, score, "
            f"CAST(y.y AS BIGINT) AS y, "
            f"CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) "
            f"AS pred FROM sf JOIN y USING (doc_id)")


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (dedup.dup_span_windows — the
    window-hash approximation of Lee et al. 2022 suffix-array dedup):
    every 8-word window occurring >= 2 times corpus-wide is a duplicate
    window; overlapping windows merge into maximal per-doc spans."""
    return dedup.dup_span_windows(_docs(spark, sf_dir), k=8, min_count=2)


_DUP_SPANS_ORACLE = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS gram
  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) t),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM dp),
i AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM m)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS n_words_dup,
       count(*) AS n_windows
FROM i GROUP BY doc_id, isl
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (text.pii_scrub): emails / bare IPv4s / international
    phone numbers -> typed placeholders + per-type audit counts. The gate
    input plants deterministic PII spans (same integer-derived literals on
    both sides) since the synthetic corpus contains none."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" node 10."),
                            (F.col("doc_id") % 200).cast("string"),
                            F.lit(".3.14 up"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" call +4930"),
                            (F.lit(1000) + F.col("doc_id") % 900)
                            .cast("string"))).otherwise(F.lit("")),
        ).alias("text"))
    return text.pii_scrub(d)


def _pii_scrub_oracle() -> str:
    derived = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0 THEN ' contact user'
              || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' node 10.'
              || CAST(doc_id % 200 AS VARCHAR) || '.3.14 up' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call +4930'
              || CAST(1000 + doc_id % 900 AS VARCHAR) ELSE '' END AS t
  FROM documents"""
    prev, stages, cols = "d", [f"d AS ({derived})"], []
    for i, (name, pat) in enumerate(text.PII_PATTERNS):
        carried = ", ".join(cols)
        carried = carried + ", " if carried else ""
        stages.append(
            f"s{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '<{name}>', 'g') AS t "
            f"FROM {prev})")
        cols.append(f"n_{name}")
        prev = f"s{i}"
    sel = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return (f"WITH {', '.join(stages)}\n"
            f"SELECT doc_id, t AS text, {sel} FROM {prev}")


def _q_value_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory quantiles (relational.histogram_quantiles): fixed
    256-bin histogram of events.value, each q resolved to the first
    bucket reaching ceil(q*n) — deterministic, error <= one bin width,
    the scale path next to the exact percentile_disc entry."""
    from solarpos_spark.operators.relational import histogram_quantiles

    ev = _events(spark, sf_dir)
    return histogram_quantiles(ev, "value",
                               qs=(0.25, 0.5, 0.9, 0.99), n_bins=256)


_VALUE_HISTOGRAM_QUANTILES_ORACLE = """
WITH s AS (SELECT min(value) AS lo, max(value) AS hi, count(value) AS n
           FROM events),
h AS (
  SELECT CASE WHEN s.hi = s.lo THEN 0
         ELSE least(255, CAST(floor(((value - s.lo) / (s.hi - s.lo))
                                    * 256.0) AS INT)) END AS bin,
         count(*) AS cnt
  FROM events, s WHERE value IS NOT NULL GROUP BY bin),
c AS (
  SELECT bin, cnt,
         CAST(sum(cnt) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM h),
qv AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT q, min(bin) AS bin FROM c, qv, s
  WHERE cum >= ceil(q * s.n) GROUP BY q),
j AS (SELECT hit.q, hit.bin, c.cnt, c.cum, s.lo, s.hi
      FROM hit JOIN c ON c.bin = hit.bin, s)
SELECT q,
       round(CASE WHEN hi = lo THEN lo
             ELSE (lo + bin * ((hi - lo) / 256.0))
                  + ((hi - lo) / 256.0) / 2 END, 6) AS est_value,
       round(CASE WHEN hi = lo THEN lo
             ELSE lo + bin * ((hi - lo) / 256.0) END, 6) AS bin_lo,
       round(CASE WHEN hi = lo THEN hi
             ELSE (lo + bin * ((hi - lo) / 256.0))
                  + ((hi - lo) / 256.0) END, 6) AS bin_hi,
       CAST(cum - cnt AS BIGINT) AS n_below
FROM j
"""


def _q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles per event type (SQL-standard
    percentile_disc == DuckDB quantile_disc: the returned value is a
    MEMBER of the group, so no interpolation float chain exists to
    diverge). The money total accumulates fixed-point cents (int64,
    order-independent) — the engine-portable alternative to a float SUM.
    Spark plan: single partial+final sort-based aggregate per type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
         .alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
         .alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)")
         .alias("p99"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(cents).alias("total_cents"),
    ))


_EVENT_QUANTILES_ORACLE = """
SELECT event_type,
       count(*) AS n,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99,
       min(value) AS vmin,
       max(value) AS vmax,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY event_type
"""


_CHAIN_TYPES = ("view", "click", "purchase")
_CHAIN_WITHIN = 86400


def _q_sequence_pattern_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step CEP chain (relational.sequence_pattern_chain): each view's
    committed first click within 24 h, then THAT click's committed
    first purchase within another 24 h — greedy MATCH_RECOGNIZE-style
    steps with no backtracking, k-1 stacked window passes sharing ONE
    exchange + sort. The oracle states the same fixpoint as per-step
    first-match mappings joined on committed successors."""
    from solarpos_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return relational.sequence_pattern_chain(
        ev, list(_CHAIN_TYPES), within_seconds=_CHAIN_WITHIN)


def _sequence_chain_oracle(types: tuple[str, ...],
                           within_seconds: int,
                           *,
                           id_below: int | None = None,
                           wm_cut_delay_s: int | None = None) -> str:
    """Stepwise-fixpoint DuckDB oracle for sequence_pattern_chain:
    mapping m_i = each types[i] row's committed first types[i+1]
    successor (row_number over (us, id)); a chain is the join of all
    mappings on dst = next src, so it exists iff every committed link
    exists — byte-identical semantics to the window implementation.

    ``wm_cut_delay_s`` adds the streaming cut for
    stream_funnel3_committed: only chains whose head horizon
    (head_us + (k-1)*within) the FINAL watermark passed have emitted.
    The watermark is driven by chain-type rows only (the type filter
    pushes below the EventTimeWatermark node); Spark tracks it in ms,
    hence the //1000 truncations."""
    w_us = int(within_seconds) * 1_000_000
    quoted = ", ".join(f"'{t}'" for t in types)
    idf = f" AND event_id < {id_below}" if id_below is not None else ""
    ctes = [("e", "SELECT user_id, event_id, event_type, epoch_us(ts) "
                  f"AS us FROM events WHERE event_type IN ({quoted})"
                  f"{idf}")]
    for i in range(len(types) - 1):
        ctes.append((f"l{i}",
                     f"SELECT x.user_id, x.event_id AS src, x.us AS "
                     f"src_us, y.event_id AS dst, y.us AS dst_us, "
                     f"row_number() OVER (PARTITION BY x.event_id "
                     f"ORDER BY y.us, y.event_id) AS rn "
                     f"FROM e x JOIN e y ON y.user_id = x.user_id "
                     f"AND x.event_type = '{types[i]}' "
                     f"AND y.event_type = '{types[i + 1]}' "
                     f"AND (y.us > x.us OR (y.us = x.us "
                     f"AND y.event_id > x.event_id)) "
                     f"AND y.us <= x.us + {w_us}"))
        ctes.append((f"m{i}", f"SELECT user_id, src, src_us, dst, "
                              f"dst_us FROM l{i} WHERE rn = 1"))
    k = len(types)
    cut = ""
    if wm_cut_delay_s is not None:
        ctes.append(("wm", "SELECT max(us) AS mx FROM e"))
        cut = (f", wm WHERE (m0.src_us + {(k - 1) * w_us}) // 1000 "
               f"< wm.mx // 1000 - {int(wm_cut_delay_s) * 1000}")
    body = ",\n".join(f"{n} AS ({q})" for n, q in ctes)
    joins = " ".join(
        f"JOIN m{i} ON m{i}.src = m{i - 1}.dst" for i in range(1, k - 1))
    steps = ["CAST(m0.src AS BIGINT) AS step1_id"] + [
        f"CAST(m{i}.dst AS BIGINT) AS step{i + 2}_id"
        for i in range(k - 1)]
    return (f"WITH {body}\n"
            f"SELECT m0.user_id, {', '.join(steps)}, "
            f"CAST(m{k - 2}.dst_us - m0.src_us AS BIGINT) AS gap_usec "
            f"FROM m0 {joins}{cut}")


def _q_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP funnel primitive (relational.sequence_pattern): first 'purchase'
    by the same user strictly after each 'error' and within 10 minutes —
    computed as ONE per-key window pass (running min(struct(us, id)) over
    the FOLLOWING frame), no A x B join. The oracle states the same
    first-match fixpoint via join + two-step min (schedule-independent)."""
    from solarpos_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return relational.sequence_pattern(
        ev, first_type="error", then_type="purchase", within_seconds=600)


_SEQUENCE_PATTERN_ORACLE = """
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
           FROM events WHERE event_type = 'error'),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
    AND b.b_us <= a.a_us + 600 * 1000000),
m1 AS (SELECT user_id, a_id, a_us, min(b_us) AS mbus FROM j GROUP BY 1, 2, 3),
m2 AS (SELECT m1.user_id, m1.a_id, m1.a_us, m1.mbus, min(j.b_id) AS b_id
       FROM m1 JOIN j ON j.user_id = m1.user_id AND j.a_id = m1.a_id
                     AND j.b_us = m1.mbus
       GROUP BY 1, 2, 3, 4)
SELECT user_id, a_id AS a_event_id, b_id AS b_event_id,
       CAST(mbus - a_us AS BIGINT) AS gap_usec
FROM m2
"""


def _q_sequence_pattern_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation CEP (relational.sequence_pattern_absent): every 'error'
    with NO 'purchase' by the same user within 10 minutes — the
    absence/timeout pattern (unacked alert), complement of
    sequence_pattern over the SAME window pass. Late B's (after the
    horizon) are reported with their gap; never-B rows carry nulls. The
    oracle is the unbounded first-match mapping LEFT-joined back and
    filtered to null-or-late."""
    from solarpos_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return relational.sequence_pattern_absent(
        ev, first_type="error", then_type="purchase", within_seconds=600)


_SEQUENCE_PATTERN_ABSENT_ORACLE = """
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
           FROM events WHERE event_type = 'error'),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))),
m1 AS (SELECT user_id, a_id, a_us, min(b_us) AS mbus FROM j GROUP BY 1, 2, 3),
m2 AS (SELECT m1.user_id, m1.a_id, m1.a_us, m1.mbus, min(j.b_id) AS b_id
       FROM m1 JOIN j ON j.user_id = m1.user_id AND j.a_id = m1.a_id
                     AND j.b_us = m1.mbus
       GROUP BY 1, 2, 3, 4)
SELECT a.user_id, a.a_id AS a_event_id,
       m2.b_id AS late_b_event_id,
       CAST(m2.mbus - a.a_us AS BIGINT) AS late_gap_usec
FROM a LEFT JOIN m2 ON m2.user_id = a.user_id AND m2.a_id = a.a_id
WHERE m2.a_id IS NULL OR m2.mbus > a.a_us + 600 * 1000000
"""


def _q_lang_id_v2_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7-language profile scorer with the abstention margin (VERDICT
    r3 #8): best-vs-runner-up score gap < 25 -> 'unknown' instead of a
    coin-flip label. Oracle mirrors via a rank-2 join on the same
    window."""
    return text.language_id_trigram(_docs(spark, sf_dir), min_margin=25)


def _lang_id_v2_oracle(min_margin: int = 0) -> str:
    vals = ",".join(
        f"('{lang}','{tri}',{len(tris) - i})"
        for lang, tris in text.LANG_TRIGRAM_PROFILES.items()
        for i, tri in enumerate(tris))
    if min_margin > 0:
        pred = (f"CASE WHEN b.lang IS NULL THEN 'unknown' "
                f"WHEN b.score - coalesce(b2.s2, 0) >= {int(min_margin)} "
                f"THEN b.lang ELSE 'unknown' END")
        margin_join = ("LEFT JOIN (SELECT doc_id, score AS s2 FROM best "
                       "WHERE rn = 2) b2 USING (doc_id)")
    else:
        pred = "coalesce(b.lang, 'unknown')"
        margin_join = ""
    return f"""
WITH prof(lang, tri, w) AS (SELECT * FROM (VALUES {vals})),
norm AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(text),
                     '[^{text.TRIGRAM_KEEP}]+', ' ', 'g')) || ' ' AS t
  FROM documents),
tri AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
  FROM norm,
       LATERAL (SELECT unnest(range(1, greatest(length(t) - 2, 0) + 1)) AS i)),
sc AS (
  SELECT doc_id, lang, sum(w) AS score
  FROM tri JOIN prof USING (tri) GROUP BY doc_id, lang),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM sc)
SELECT d.doc_id,
       {pred} AS pred_lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
{margin_join}
"""


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary column + Arrow-batched metadata
    extraction (the real decode is stubbed deterministically — no image
    libs in this container; the Spark-side schema/batching is real)."""
    from solarpos_spark.operators.multimodal import extract_binary_metadata

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return extract_binary_metadata(docs)


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (multimodal.sample_frames): the exploding
    1->N Arrow shape; every 4th 32-byte frame of the payload with a
    checksum decode stub. The oracle recomputes byte spans from hex(text)
    nibble pairs — exact for ANY utf-8 doc, not just ASCII."""
    from solarpos_spark.operators.multimodal import sample_frames

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return sample_frames(docs, frame_bytes=32, stride=4)


# byte-exact (ADVICE r3): the operator works on utf-8 BYTES; substr/ascii
# are CHARACTER-based and only agree on pure-ASCII corpora. Bytes are
# extracted from hex(text) nibble pairs instead — strlen is already
# byte-based, so every index below is a true byte offset.
_FRAME_SAMPLE_ORACLE = """
WITH f AS (
  SELECT doc_id, hex(text) AS h, strlen(text) // 32 AS n_frames
  FROM documents),
s AS (
  SELECT doc_id, h,
         unnest(range(0, CAST((n_frames + 3) // 4 AS BIGINT))) AS j
  FROM f WHERE n_frames > 0)
SELECT doc_id, CAST(j * 4 AS INT) AS frame_idx,
       CAST(j * 4 * 32 AS BIGINT) AS frame_off,
       CAST(list_sum(list_transform(
              range(0, 32),
              i -> CAST((strpos('0123456789ABCDEF',
                          substr(h, CAST((j*128 + i)*2 + 1 AS INT), 1)) - 1)
                        * 16
                      + (strpos('0123456789ABCDEF',
                          substr(h, CAST((j*128 + i)*2 + 2 AS INT), 1)) - 1)
                   AS BIGINT)))
         AS BIGINT) AS frame_checksum
FROM s
"""


def _q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF pairwise cosine (text.tfidf_cosine_pairs): the text-native
    similarity signal; co-term join topology, df-capped hot terms."""
    return text.tfidf_cosine_pairs(_docs(spark, sf_dir), threshold=0.9,
                                   max_term_df=400)


_TFIDF_PAIRS_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 400),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((1.0 + nd.n) / (1.0 + dfreq.df)) AS w
  FROM tf JOIN dfreq USING (term), nd),
-- term-sorted sequential folds: bit-match Spark's F.aggregate left fold
-- over array_sort(collect_list(...)) (ADVICE r3 accumulation-order fix)
norms AS (SELECT doc_id, sqrt(list_sum(list(w * w ORDER BY term))) AS nrm
          FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         list_sum(list(a.w * b.w ORDER BY a.term)) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.9
"""


def _q_resize_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary->binary resize plumbing (multimodal.resize_payload): keep
    every 8th byte, rebuild variable-size output buffers per batch. The
    gate compares sizes + checksum (binary reprs differ across engines);
    the thumb bytes themselves are pinned by pytest."""
    from solarpos_spark.operators.multimodal import resize_payload

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return resize_payload(docs, factor=8).select(
        "doc_id", "n_bytes_in", "n_bytes_out", "thumb_checksum")


# byte-exact via hex nibbles (see _FRAME_SAMPLE_ORACLE note); empty docs
# coalesce to checksum 0, matching the operator's empty-thumb row
_RESIZE_ORACLE = """
WITH f AS (SELECT doc_id, hex(text) AS h, strlen(text) AS nb FROM documents)
SELECT doc_id,
       CAST(nb AS BIGINT) AS n_bytes_in,
       CAST((nb + 7) // 8 AS BIGINT) AS n_bytes_out,
       CAST(coalesce(list_sum(list_transform(
              range(0, CAST((nb + 7) // 8 AS BIGINT)),
              i -> CAST((strpos('0123456789ABCDEF',
                          substr(h, CAST(i*16 + 1 AS INT), 1)) - 1) * 16
                      + (strpos('0123456789ABCDEF',
                          substr(h, CAST(i*16 + 2 AS INT), 1)) - 1)
                   AS BIGINT))), 0)
         AS BIGINT) AS thumb_checksum
FROM f
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_quality(_docs(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def _q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, q, k=3)


def _q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8 ANN (similarity.quantized_topk): quantized code
    scan (4x less bandwidth, exact-int dot) -> shortlist-10 ->
    exact-cosine rerank; same schema/rounding as similarity_topk so
    recall is directly comparable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.quantized_topk(emb, q, dim=64, k=3, shortlist=10)


_QUANTIZED_TOPK_ORACLE = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qt AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM base),
codes AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CASE WHEN scale = 0 THEN 0
            ELSE greatest(-127, least(127,
                 CAST(floor(x / scale + 0.5) AS BIGINT))) END)::DOUBLE[] AS q
  FROM qt),
qq AS (SELECT * FROM codes WHERE vec_id < 10),
scored AS (
  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q2.q, c.q) * q2.scale * c.scale, 6)
           AS approx
  FROM codes c, qq q2 WHERE c.vec_id <> q2.vec_id),
sh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY approx DESC, neighbor_id ASC) AS r FROM scored)
  WHERE r <= 10),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qb.v, cb.v)
               / (sqrt(list_dot_product(qb.v, qb.v))
                  * sqrt(list_dot_product(cb.v, cb.v))), 6) AS score
  FROM sh s JOIN base cb ON cb.vec_id = s.neighbor_id
            JOIN base qb ON qb.vec_id = s.query_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, score
FROM ex
QUALIFY rank <= 3
"""


def _q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: exact dedup -> near-dup pruning ->
    quality gate -> token accounting (operators/curate.py)."""
    from solarpos_spark.operators.curate import curate

    return curate(_docs(spark, sf_dir))


_CURATE_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
),
keep1 AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
uniq AS (SELECT fp.doc_id, fp.text FROM fp JOIN keep1
         ON fp.f = keep1.f AND fp.doc_id = keep1.doc_id),
{_shingle_ctes("uniq")},
ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS sg FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS na, b.nsh AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
dropped AS (
  SELECT DISTINCT doc_b AS doc_id FROM inter
  WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= 0.5
),
pruned AS (
  SELECT u.doc_id, u.text FROM uniq u
  WHERE u.doc_id NOT IN (SELECT doc_id FROM dropped)
),
q AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         round(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> lower(x) IN ('the','a','of','and','to','in','is'))) * 1.0
               / len(string_split_regex(trim(text), '\\s+')), 6) AS stopword_ratio,
         round(length(text) * 1.0
               / len(string_split_regex(trim(text), '\\s+')), 6) AS avg_word_len,
         {_EST_TOKENS_SQL} AS est_bpe_tokens
  FROM pruned
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words, est_bpe_tokens, stopword_ratio
FROM q
WHERE n_words >= 20 AND stopword_ratio >= 0.02 AND avg_word_len <= 12.0
"""

#: curate with near_dup='cluster': same exact-dedup + shingle CTEs, but the
#: pruning step is recursive-CTE connected components over the pair graph
#: with one canonical keeper per cluster (longest text, doc_id tiebreak) —
#: mirroring dedup.dedup_clusters + dedup.canonical_docs over `uniq`.
_CURATE_CLUSTER_ORACLE = (
    _CURATE_ORACLE
    .replace("WITH fp AS (", "WITH RECURSIVE fp AS (")
    .replace(
        """dropped AS (
  SELECT DISTINCT doc_b AS doc_id FROM inter
  WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= 0.5
),
pruned AS (
  SELECT u.doc_id, u.text FROM uniq u
  WHERE u.doc_id NOT IN (SELECT doc_id FROM dropped)
),""",
        """pairs AS (
  SELECT doc_a, doc_b FROM inter
  WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= 0.5
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(n, r) AS (
  SELECT u, u FROM und
  UNION
  SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.n
),
comp AS (SELECT n, min(r) AS c FROM reach GROUP BY n),
clusters AS (
  SELECT u.doc_id, coalesce(cp.c, u.doc_id) AS cluster_id
  FROM uniq u LEFT JOIN comp cp ON cp.n = u.doc_id
),
ranked AS (
  SELECT c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(u.text) DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN uniq u ON u.doc_id = c.doc_id
),
pruned AS (
  SELECT u.doc_id, u.text FROM uniq u
  JOIN ranked r ON r.doc_id = u.doc_id AND r.rn = 1
),""",
    )
)
assert "reach" in _CURATE_CLUSTER_ORACLE  # the .replace anchors matched


def _q_geohash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density over Z-order geohash cells (the skew-handling
    primitive of plans/partitioning.py, value-checked in the gate)."""
    from solarpos_spark.plans.partitioning import per_cell_counts

    src = _astro_df(spark, sf_dir)
    return per_cell_counts(src, precision_bits=8)


def _geohash_oracle(precision_bits: int = 8) -> str:
    n = 1 << precision_bits
    lat_q = f"least({n - 1}, CAST(floor((lat + 90.0) / 180.0 * {n}) AS BIGINT))"
    lon_q = f"least({n - 1}, CAST(floor((lon + 180.0) / 360.0 * {n}) AS BIGINT))"
    interleave = " | ".join(
        f"((({lat_q} >> {b}) & 1) << {2 * b + 1}) | "
        f"((({lon_q} >> {b}) & 1) << {2 * b})"
        for b in range(precision_bits)
    )
    return f"""
WITH base AS ({_astro_sql()})
SELECT ({interleave}) AS cell, count(*) AS n_rows
FROM base GROUP BY 1
"""


def _q_csv_position_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 format contract in the gate: full --show-inputs CSV rows, exact
    byte strings compared against a printf-built oracle."""
    from solarpos_spark.sinks import formatters as fmt

    src = _astro_df(spark, sf_dir).filter(F.col("event_id") < 3000)
    res = position(src, algorithm="spa", ts_col="usec", time_is_unix=True,
                   show_inputs=True)
    return fmt.csv_lines(res, fmt.POSITION_FIELDS)


_CSV_LINES_ORACLE_TMPL = """
SELECT printf('%.5f,%.5f,%.3f,%.3f,%.3f,%s,%.3f,%.5f,%.5f',
              lat, lon, elevation, pressure, temperature,
              strftime(to_timestamp(usec), '%Y-%m-%dT%H:%M:%SZ'),
              delta_t, azimuth, zenith) AS line
FROM ({inner})
"""


def _csv_lines_oracle() -> str:
    inner = _osql.spa_sql(_astro_sql(3000), round_digits=12)
    return _CSV_LINES_ORACLE_TMPL.format(inner=inner)


def _q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata extraction (training pipelines parse JSON
    sidecar fields): per-event_type stats over a JSON-encoded property."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


_PROPS_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def _q_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table equi-join + aggregation (TPC-H Q10 shape): top revenue
    per nation via customer ⋈ orders ⋈ lineitem ⋈ nation — exercises the
    broadcast/SMJ join planning the reference never needed."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.approx_count_distinct("c_custkey").alias("approx_customers"),
        )
        .select("n_name", "revenue", "n_items")
    )


_CUSTOMER_REVENUE_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS -> LeftSemi): orders with at least one
    high-quantity lineitem, counted per priority. The semi-join never
    multiplies rows and shuffles only the join key — the planner surface
    beyond inner equi-joins."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_ORDER_PRIORITY_SEMI_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
"""


def _q_orders_no_returns_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style NOT EXISTS -> LeftAnti: orders with no returned
    lineitem, aggregated per status."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey,
                    "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"))
    )


_ORDERS_NO_RETURNS_ANTI_ORACLE = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderstatus
"""


def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_events_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/relational.py): attach each event's most recent
    error (same user, backward-inclusive) — merge_asof/kdb aj semantics as a
    single keyed window shuffle, no range probe. Oracle: DuckDB native
    ASOF LEFT JOIN."""
    from solarpos_spark.operators.relational import asof_join

    ev = _events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value")
    res = asof_join(
        ev.select("event_id", "user_id", "ts"), err,
        on="ts", by=["user_id"], values=["value"])
    return res.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts_asof").cast("timestamp")).alias("last_error_us"),
        F.round("value_asof", 6).alias("last_error_value"),
    )


_EVENTS_ASOF_ORACLE = """
SELECT e.event_id, e.user_id,
       epoch_us(b.ts) AS last_error_us,
       round(b.value, 6) AS last_error_value
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'error') b
  ON e.user_id = b.user_id AND e.ts >= b.ts
"""


def _q_events_incident_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned interval (range) join (operators/relational.py): count each
    user's events falling inside any [error, error+10min) incident window.
    The plan is keyed equi-joins over time bins — no inequality-join
    cartesian; the oracle states the same semantics as EXISTS."""
    from solarpos_spark.operators.relational import interval_match_ids

    ev = _events(spark, sf_dir)
    incidents = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    hit = interval_match_ids(
        ev.select("event_id", "user_id", "ts"), incidents,
        probe_ts="ts", by=["user_id"], id_cols=["event_id"])
    return hit.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))


_EVENTS_INCIDENT_ORACLE = """
SELECT e.user_id, count(*) AS n_events
FROM events e
WHERE EXISTS (SELECT 1 FROM events b
              WHERE b.user_id = e.user_id AND b.event_type = 'error'
                AND e.ts >= b.ts AND e.ts < b.ts + INTERVAL 10 MINUTE)
GROUP BY e.user_id
"""


def _q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (subtotals + grand total via Expand —
    one shuffle, map-side partial aggregation). Grouped-out levels coalesce
    to 'ALL' so the value-hash is representation-stable."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.count(F.lit(1)).alias("count_order"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty", "sum_base_price", "count_order",
        )
    )


_LINEITEM_ROLLUP_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       count(*) AS count_order
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-statistics aggregate surface: exact interpolated percentiles
    (sort-based, per-group) + streaming-friendly moments. At scale the
    exact percentile is the per-key sort path; approx_percentile is the
    sketch alternative when a t-digest bound suffices."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
             F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
             F.round(F.avg("value"), 6).alias("avg_value"),
             F.round(F.stddev_samp("value"), 6).alias("sd_value"),
             F.count(F.lit(1)).alias("n"))
    )


_EVENTS_VALUE_STATS_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(avg(value), 6) AS avg_value,
       round(stddev_samp(value), 6) AS sd_value,
       count(*) AS n
FROM events GROUP BY event_type
"""


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: one row per user, one count column per event type
    (explicit pivot values -> no extra distinct-discovery job; plans as a
    single two-phase aggregate over Expand, same shuffle as a groupBy)."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    p = (ev.groupBy("user_id").pivot("event_type", types).count()
         .na.fill(0, types))
    return p.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in types]
    ).filter(F.col("user_id") < 50)


_EVENTS_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events WHERE user_id < 50 GROUP BY user_id
"""


def _q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window surface: per-user running sum + inter-event gap via
    lag(), one keyed sort (the same shuffle shape the as-of join uses)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("seq"),
        F.round(F.sum("value").over(run), 6).alias("running_value"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.lag("ts", 1).over(w).cast("timestamp"))
         ).alias("gap_us"),
    )


_USER_RUNNING_VALUE_ORACLE = """
SELECT event_id, user_id,
       row_number() OVER w AS seq,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS running_value,
       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization (relational.sessionize): per-user session
    ordinals by 30-minute inactivity gaps — one keyed shuffle +
    in-partition sort, lag + boundary-flag running sum, all integer
    microseconds. The row-assignment complement of window_session."""
    from solarpos_spark.operators.relational import sessionize

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    return sessionize(ev, gap_minutes=30)


_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS event_usec,
         epoch_us(ts) - lag(epoch_us(ts), 1)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_usec
  FROM events WHERE user_id < 20)
SELECT user_id, event_id, event_usec, gap_usec,
       CAST(sum(CASE WHEN gap_usec IS NULL
                       OR gap_usec > 30 * 60 * 1000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
FROM g
"""


def _q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test splitter (operators/curate.py
    split_assign): Knuth-hash bucket of doc_id, pure projection (zero
    shuffle for the assignment; the gate aggregates per split)."""
    from solarpos_spark.operators.curate import split_assign

    d = split_assign(_docs(spark, sf_dir))
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_CORPUS_SPLIT_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN b < 9800 THEN 'train'
              WHEN b < 9900 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, {hash_bucket_sql("doc_id", 1)} AS b
        FROM documents))
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM s GROUP BY split
"""


def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle (curate.shuffle_shards): every doc
    gets (shard, pos) from the full 32-bit Knuth-mixed key — a
    seed-reproducible random permutation into reader shards, one hash
    shuffle + per-shard sort (vs orderBy(rand()) which is neither
    partitioning-stable nor replayable). The oracle replays the hash and
    the rank."""
    from solarpos_spark.operators.curate import shuffle_shards

    return shuffle_shards(_docs(spark, sf_dir), 8).select(
        "doc_id", "shard", "pos")


_SHUFFLE_SHARDS_ORACLE = f"""
WITH k AS (
  SELECT doc_id, {hash_bucket_sql("doc_id", 5, 1 << 32)} AS key
  FROM documents)
SELECT doc_id, CAST(key % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY key % 8
                               ORDER BY key, doc_id) - 1 AS BIGINT) AS pos
FROM k
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (curate.stratified_sample):
    the training-mix rebalancer. Hash-bucket projection + pushed filter —
    zero shuffle; the gate aggregates the kept set per stratum."""
    from solarpos_spark.operators.curate import stratified_sample

    kept = stratified_sample(
        _docs(spark, sf_dir),
        {"en": 2500, "de": 10000, "fr": 10000, "es": 5000, "zh": 1250},
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_STRATIFIED_SAMPLE_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, {hash_bucket_sql("doc_id", 7)} AS bucket
  FROM documents),
kept AS (
  SELECT doc_id, lang FROM b
  WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 10000
                           WHEN 'fr' THEN 10000 WHEN 'es' THEN 5000
                           WHEN 'zh' THEN 1250 ELSE 0 END)
SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM kept GROUP BY lang
"""


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc cap (curate.source_cap — RefinedWeb-style domain
    balancing): keep the 10 largest docs per source (n_chars desc, id
    tiebreak), planned as WindowGroupLimit."""
    from solarpos_spark.operators.curate import source_cap

    return source_cap(_docs(spark, sf_dir), 10).select(
        "doc_id", "source", "n_chars", "src_rank")


_SOURCE_CAP_ORACLE = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id ASC) AS INT) AS src_rank
  FROM documents)
SELECT doc_id, source, n_chars, src_rank FROM r WHERE src_rank <= 10
"""


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling (curate.mixture_sample): src0/1/2
    get 20/15/10% of a 5000-token budget, every other source splits the
    1% default — integer-exact rates, hash-threshold survivors."""
    from solarpos_spark.operators.curate import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir),
        {"src0": 2000, "src1": 1500, "src2": 1000},
        5000, default_weight=100)


_MIXTURE_SAMPLE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         {_EST_TOKENS_SQL} AS n_tokens
  FROM documents),
tot AS (SELECT source, sum(n_tokens) AS tot FROM base GROUP BY source),
r AS (
  SELECT source,
         CAST(least(10000, (10000 * ((5000 * (CASE source
                WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1500
                WHEN 'src2' THEN 1000 ELSE 100 END)) // 10000)) // tot)
           AS BIGINT) AS rate
  FROM tot),
b AS (
  SELECT doc_id, {hash_bucket_sql("doc_id", 11)} AS bucket
  FROM documents)
SELECT base.doc_id, base.source, base.n_tokens, r.rate
FROM base JOIN r USING (source) JOIN b ON b.doc_id = base.doc_id
WHERE b.bucket < r.rate
"""


def _q_mixture_sample_wordpiece(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Mixture sampling budgeted in tokenizer-TRUE tokens: per-doc counts
    come from the fitted WordPiece segmentation (wordpiece_tokens entry)
    instead of the ceil(len/4) estimate — curate.mixture_sample's
    token_counts hook. Oracle = the full wordpiece fit+walk composed with
    the integer-exact mixture arithmetic."""
    from solarpos_spark.operators import tokenizer
    from solarpos_spark.operators.curate import mixture_sample

    docs = _docs(spark, sf_dir)
    vocab = tokenizer.wordpiece_fit(docs, vocab_size=48, max_piece_chars=4)
    counts = tokenizer.wordpiece_counts(docs, vocab, max_piece_chars=4) \
        .select("doc_id", F.col("n_wp_tokens").alias("n_tokens"))
    return mixture_sample(
        docs, {"src0": 2000, "src1": 1500, "src2": 1000},
        5000, default_weight=100, token_counts=counts)


def _mixture_wp_oracle() -> str:
    """_WORDPIECE_ORACLE's CTE chain (through per_doc) + a wordpiece-count
    base relation + _MIXTURE_SAMPLE_ORACLE's rate/hash/filter tail."""
    head = _WORDPIECE_ORACLE.split("SELECT d.doc_id,")[0].rstrip()
    assert head.endswith("GROUP BY w.doc_id)")
    base = """,
base AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(p.n_wp_tokens, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN per_doc p USING (doc_id)),
"""
    tail = "tot AS" + _MIXTURE_SAMPLE_ORACLE.split("\ntot AS", 1)[1]
    return head + base + tail


def _q_curate_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-exact curation: connected components over the near-dup pair
    graph + one canonical doc per cluster, instead of greedy drop-greater-id
    (operators/curate.py near_dup='cluster')."""
    from solarpos_spark.operators.curate import curate

    return curate(_docs(spark, sf_dir), near_dup="cluster")


def _q_curate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale curation pipeline: near-dup pairs come from
    MinHash/LSH candidates + exact-Jaccard verify (curate.py
    near_dup_pairs='lsh' -> dedup.minhash_verified_pairs) instead of the
    exhaustive co-shingle join — the composition a 100 TB pass runs.
    poly31 family so every stage stays SQL-oracle checkable."""
    from solarpos_spark.operators.curate import curate

    return curate(_docs(spark, sf_dir), near_dup_pairs="lsh",
                  hash_fn="poly31")


def _curate_lsh_oracle() -> str:
    """_CURATE_ORACLE with the exhaustive co-shingle `inter` CTE replaced
    by the candidate-restricted intersection: LSH candidates computed over
    the exact-dedup survivors (uniq), shingles of each candidate pair
    equi-joined — mirroring the fixed minhash_verified_pairs topology."""
    out = _CURATE_ORACLE.replace(
        """inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS na, b.nsh AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),""",
        f"""cand AS ({_minhash_oracle(source='uniq')}),
inter AS (
  SELECT c.doc_a, c.doc_b, a.nsh AS na, b.nsh AS nb, count(*) AS n_common
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.sg = a.sg
  GROUP BY 1, 2, 3, 4
),""",
    )
    assert "cand AS" in out  # the .replace anchor matched
    return out


_BM25_QUERY = ["broadcast", "shuffle", "join"]


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over inverted postings (operators/search.py):
    query-term filter under the explode (postings stay O(matches)),
    broadcast per-term stats, deterministic rank cut."""
    return search.bm25_topk(_docs(spark, sf_dir), _BM25_QUERY, k=15)


def _q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + dense-cosine retrieval fused by Reciprocal Rank
    Fusion (search.hybrid_topk_rrf — the standard RAG stack): each run
    cuts to depth=50 independently (postings-bounded rank / cosine
    TakeOrderedAndProject), fusion sums 1/(60+rank) over <= 100 rows.
    The dense query is the vec_id=3 embedding taken RELATIONALLY (no
    driver collect); the oracle wraps the bm25 oracle and replays the
    dense run + fusion arithmetic."""
    docs = _docs(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding")
    return search.hybrid_topk_rrf(docs, emb, _BM25_QUERY, qvec,
                                  k=20, depth=50)


def _hybrid_rrf_oracle(k: int = 20, depth: int = 50,
                       k_rrf: int = 60) -> str:
    lex_inner = search.bm25_sql_oracle(_BM25_QUERY, k=depth)
    return f"""
WITH lex AS (
  SELECT doc_id, CAST(rank AS INT) AS lex_rank FROM ({lex_inner})),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
ds AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6)
           AS s
  FROM embeddings e, q),
dense AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC)
                      AS INT) AS dense_rank
  FROM ds QUALIFY dense_rank <= {depth}),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         round(coalesce(1.0 / ({k_rrf} + l.lex_rank), 0.0)
               + coalesce(1.0 / ({k_rrf} + d.dense_rank), 0.0), 8)
           AS rrf,
         l.lex_rank, d.dense_rank
  FROM lex l FULL JOIN dense d ON d.doc_id = l.doc_id)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT)
         AS rank,
       doc_id, rrf, lex_rank, dense_rank
FROM fused
QUALIFY rank <= {k}
"""


def _q_global_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global row numbering without a single-partition
    sort (relational.global_row_number): fixed value-bins from one
    min/max pass + per-bin prefix offsets + ONE bin-partitioned window —
    RDD zipWithIndex's contract, relationally, with run-independent
    boundaries where repartitionByRange samples. Oracle = plain
    row_number() over the same total order."""
    from solarpos_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "ts")
    return relational.global_row_number(
        ev, ["ts", "event_id"]).select("event_id", "row_idx")


_GLOBAL_ROW_INDEX_ORACLE = """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT)
         AS row_idx
FROM events
"""


def _q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (all 4 grouping sets ride one Expand + two-phase
    shuffle — the full-lattice sibling of lineitem_rollup)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders", "sum_totalprice",
        )
    )


_ORDERS_CUBE_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _sunrise_oracle() -> str:
    inner = _osql.sunrise_sql(_astro_sql(2000))
    return (
        "SELECT event_id, round(lat,5) AS lat, round(lon,5) AS lon, type, "
        "sunrise_usec, transit_usec, sunset_usec FROM (" + inner + ")"
    )


def _twilight_oracle() -> str:
    base = _astro_sql(500)
    parts = []
    for name, hz in (("civil", -6.0), ("nautical", -12.0),
                     ("astronomical", -18.0)):
        inner = _osql.sunrise_sql(base, horizon=hz)
        parts.append(
            f"{name} AS (SELECT event_id, sunrise_usec AS {name}_start_usec, "
            f"sunset_usec AS {name}_end_usec FROM ({inner}))"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT c.event_id, c.civil_start_usec, c.civil_end_usec, "
        "n.nautical_start_usec, n.nautical_end_usec, "
        "a.astronomical_start_usec, a.astronomical_end_usec "
        "FROM civil c JOIN nautical n USING (event_id) "
        "JOIN astronomical a USING (event_id)"
    )


_NGRAM_JACCARD_ORACLE = f"""
WITH {_shingle_ctes("documents")},
ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS sg FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS na, b.nsh AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
FROM inter
WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= 0.5
"""

_NEAR_DUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
"""

_LANG_ID_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
h AS (
  SELECT doc_id,
    len(list_filter(ws, x -> lower(x) IN
        ('the','a','of','and','to','in','is'))) AS en_hits,
    len(list_filter(ws, x -> lower(x) IN
        ('der','die','das','und','zu','ist','ein'))) AS de_hits,
    len(list_filter(ws, x -> lower(x) IN
        ('le','la','de','et','un','est','les'))) AS fr_hits
  FROM w
)
SELECT doc_id, en_hits, de_hits, fr_hits,
  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
       WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
       WHEN fr_hits > 0 THEN 'fr'
       ELSE 'unknown' END AS pred_lang
FROM h
"""

# byte-exact via hex nibbles (ADVICE r3 — the operator reads utf-8 BYTES;
# ascii/substr are char-based and diverge on any non-ASCII doc)
_MULTIMODAL_ORACLE = """
WITH f AS (SELECT doc_id, hex(text) AS h, strlen(text) AS nb FROM documents),
b AS (
  SELECT doc_id,
         nb AS n_bytes,
         CASE WHEN nb = 0 THEN 0 ELSE
           (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1) END
           AS first_byte,
         coalesce(list_sum(list_transform(range(0, CAST(nb AS BIGINT)),
             i -> CAST((strpos('0123456789ABCDEF',
                         substr(h, CAST(i*2 + 1 AS INT), 1)) - 1) * 16
                     + (strpos('0123456789ABCDEF',
                         substr(h, CAST(i*2 + 2 AS INT), 1)) - 1)
                  AS BIGINT))), 0) AS checksum
  FROM f
)
SELECT doc_id, n_bytes, first_byte, CAST(checksum AS BIGINT) AS checksum,
       CAST(n_bytes % 64 + 16 AS INT) AS fake_width,
       CAST(checksum % 48 + 16 AS INT) AS fake_height
FROM b
"""


def _minhash_oracle(num_hashes: int = 32, bands: int = 8,
                    rows_per_band: int = 4,
                    source: str = "documents",
                    pair_pred: str = "a.doc_id < b.doc_id") -> str:
    """Mirror of dedup.minhash_signatures/lsh_candidate_pairs with
    hash_fn='poly31' — pure integer arithmetic, bit-identical in DuckDB.
    ``source`` names the (doc_id, text) relation — a table or an outer
    CTE (DuckDB scopes outer CTEs into nested WITH bodies)."""
    salted_mins = ", ".join(
        f"min({salted_poly_sql('h', i)}) AS h{i}" for i in range(num_hashes))
    bands_sql = ", ".join(
        poly31_band_sql([f"h{b * rows_per_band + r}"
                         for r in range(rows_per_band)], b) + f" AS band{b}"
        for b in range(bands))
    stacked = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bucket FROM banded"
        for b in range(bands)
    )
    return f"""
WITH {_shingle_ctes(source)},
ex AS (SELECT doc_id, unnest(shingles) AS sg FROM sh),
hashed AS (SELECT doc_id, {poly31_sql("sg")} AS h FROM ex),
sigs AS (SELECT doc_id, {salted_mins} FROM hashed GROUP BY doc_id),
banded AS (SELECT doc_id, {bands_sql} FROM sigs),
stacked AS ({stacked})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM stacked a JOIN stacked b
  ON a.band = b.band AND a.bucket = b.bucket AND {pair_pred}
"""


def _simhash_oracle() -> str:
    """Mirror of dedup.simhash(hash_fn='poly31'): 62-bit fingerprint from
    two polynomial word hashes, sign-aggregated per bit."""
    sums = ", ".join(
        f"sum(CASE WHEN ({'h1' if i < 31 else 'h2'} & {1 << (i % 31)}) <> 0 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(62)
    )
    fingerprint = " | ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(62)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, {poly31_sql("w")} AS h1, {poly31_sql("w", 131)} AS h2
  FROM ex
),
summed AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({fingerprint}) AS simhash FROM summed
"""


def _simhash_near_dup_oracle(max_hamming: int = 3, n_bits: int = 62,
                             max_piece_df: int | None = None) -> str:
    """Mirror of dedup.simhash_near_dup_pairs over the poly31 fingerprints:
    same pigeonhole pieces, same popcount-on-xor verify (fingerprints are
    nonnegative 62-bit, so >> matches Spark's shiftrightunsigned); with
    ``max_piece_df``, the same hot-bucket exclusion as a HAVING on the
    per-(piece, val) doc count."""
    pieces = max_hamming + 1
    width = -(-n_bits // pieces)
    mask = (1 << width) - 1
    stacked = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS piece, "
        f"(simhash >> {j * width}) & {mask} AS val FROM fp"
        for j in range(pieces)
    )
    guard = ""
    src = "stacked0"
    if max_piece_df is not None:
        guard = f""",
ok AS (SELECT piece, val FROM stacked0 GROUP BY piece, val
       HAVING count(*) <= {max_piece_df}),
stacked AS (SELECT s.* FROM stacked0 s JOIN ok USING (piece, val))"""
        src = "stacked"
    return f"""
WITH fp AS ({_simhash_oracle()}),
stacked0 AS ({stacked}){guard}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM {src} a JOIN {src} b
  ON a.piece = b.piece AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _dup_clusters_cte(pairs_sql: str) -> str:
    """Recursive-CTE prelude: ``pairs(doc_a, doc_b)`` -> undirected edges
    -> min-reachable component per node -> ``clusters(doc_id,
    cluster_id)`` per document (singletons keep their own id). The
    fixpoint ("component = min doc_id reachable") is exactly what
    dedup.connected_components converges to, independent of its
    iteration schedule."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(n, r) AS (
  SELECT u, u FROM und
  UNION
  SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.n
),
comp AS (SELECT n, min(r) AS c FROM reach GROUP BY n),
clusters AS (
  SELECT d.doc_id, coalesce(cp.c, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp cp ON cp.n = d.doc_id
)
"""


#: dedup.canonical_docs over ``clusters``: one kept doc per cluster
#: (longest text, doc_id tiebreak) and the cluster's size.
_CANONICAL_SELECT = """
, ranked AS (
  SELECT c.cluster_id, c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(d.text) DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS keep_doc_id, CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1
"""

_DUP_CLUSTERS_ORACLE = _dup_clusters_cte(_NGRAM_JACCARD_ORACLE) + """
SELECT doc_id, cluster_id FROM clusters
"""
_DEDUP_CANONICAL_ORACLE = (_dup_clusters_cte(_NGRAM_JACCARD_ORACLE)
                           + _CANONICAL_SELECT)


def _bucketed_ctes(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """``p``, ``e`` and ``bucketed(vec_id, v, bucket)``: each embedding's
    hyperplane bucket, mirroring similarity.hyperplane_buckets'
    deterministic seeded plane matrix."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    plane_lits = ", ".join(
        "[" + ", ".join(repr(float(v)) for v in p) + "]" for p in planes
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, planes[{i + 1}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""p AS (SELECT [{plane_lits}]::DOUBLE[][] AS planes),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (
  SELECT vec_id, v, CAST(({bucket_terms}) AS BIGINT) AS bucket FROM e, p
)"""


def _near_dup_bucketed_oracle() -> str:
    return f"""
WITH {_bucketed_ctes()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
"""


def _near_dup_multiprobe_oracle(multiprobe: int = 2) -> str:
    probe_list = ", ".join(["bucket"]
                           + [f"xor(bucket, {1 << i})"
                              for i in range(multiprobe)])
    return f"""
WITH {_bucketed_ctes()},
probed AS (
  SELECT vec_id, v, unnest([{probe_list}]) AS pb FROM bucketed
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM probed a JOIN bucketed b
  ON a.pb = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
"""


def _ann_multiprobe_oracle(multiprobe: int = 3) -> str:
    probe_list = ", ".join(["bucket"]
                           + [f"xor(bucket, {1 << i})"
                              for i in range(multiprobe)])
    return f"""
WITH {_bucketed_ctes()},
q AS (
  SELECT vec_id AS query_id, v AS qvec,
         unnest([{probe_list}]) AS bucket
  FROM bucketed WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.qvec, c.v)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS score
  FROM bucketed c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 3
"""


def _ann_oracle() -> str:
    return f"""
WITH {_bucketed_ctes()},
q AS (SELECT vec_id AS query_id, v AS qvec, bucket FROM bucketed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.qvec, c.v)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS score
  FROM bucketed c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# streaming CEP gate entries (north_rule core: readStream -> decode ->
# kernels / CEP -> exactly-once sink; the reference's stream mode is `@-`,
# util/DateTimeIterator.java:235-238, StdinTest.java:25-127). availableNow
# makes each pipeline batch-deterministic: the committed rows are a pure
# function of the (seeded, bit-reproducible) token input, so a DuckDB SQL
# oracle can hash-check them like any batch plan.
# --------------------------------------------------------------------------


def _stream_dirs(prefix: str) -> tuple[str, str, str]:
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    return f"{base}/in", f"{base}/out", f"{base}/ckpt"


def _q_stream_position_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming pipeline, gate-hashed: token files -> readStream ->
    decode (watermarked event time) -> SPA position (shared vectorized
    kernel) -> exactly-once parquet sink (idempotent batch_id partitions),
    multi-micro-batch (maxFilesPerTrigger=2 over 8 files). The returned
    DataFrame is the COMMITTED output read back from the sink — rows+hash
    fail if watermarking, replay, or sink dedup ever corrupts a row.
    Oracle: generated NREL SPA SQL over the codec-quantized inputs
    (round-half-up at 1e-5, mirroring codec._round_scaled exactly).
    """
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streampos_")
    _astro_token_df(spark, sf_dir).repartition(8) \
        .write.mode("overwrite").parquet(in_dir)
    stream = tokens.read_token_stream(spark, in_dir, max_files_per_trigger=2)
    pos = sp.position_stream(sp.decoded_stream(stream, watermark="1 hour"))
    return commit_available_now(pos, out_dir, ckpt).select(
        F.col("doc_id").cast("long").alias("event_id"),
        F.round("latitude", 5).alias("lat"),
        F.round("longitude", 5).alias("lon"),
        F.round("azimuth", 5).alias("azimuth"),
        F.round("zenith", 5).alias("zenith"),
    )


def _q_stream_dedup_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under double delivery, gate-hashed: every
    token file is delivered TWICE (at-least-once upstream), the stream
    dedups with ``dropDuplicatesWithinWatermark`` on (doc_id, seq_index),
    and the committed output must be exactly ONE copy of every record.
    The watermark horizon exceeds the data span so a duplicate is in-state
    regardless of which micro-batch delivers it — the committed set is
    batch-boundary-independent (deterministic under any file ordering).
    """
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamdedup_")
    tok = _astro_token_df(spark, sf_dir).repartition(4)
    tok.write.mode("overwrite").parquet(in_dir)
    tok.write.mode("append").parquet(in_dir)  # second delivery
    stream = tokens.read_token_stream(spark, in_dir, max_files_per_trigger=2)
    ded = sp.deduped_stream(sp.decoded_stream(stream, watermark="3650 days"))
    out = ded.select("doc_id", "seq_index", "lat", "lon", "unix_sec",
                     "delta_t", "pressure")
    return _decoded_fields(commit_available_now(out, out_dir, ckpt))


def _q_stream_window_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation on the stream, gate-hashed:
    hourly counts in APPEND mode — a window commits only once the 1 h
    watermark passes its end, so the committed set is the exact SQL
    aggregate MINUS the windows the final watermark (max event time - 1 h)
    hasn't released; the oracle states that same cut. All files land in one
    ingest batch (no intermediate watermark => no order-dependent late
    drops); the availableNow flush batch then emits deterministically.
    """
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamwin_")
    _astro_token_df(spark, sf_dir).repartition(8) \
        .write.mode("overwrite").parquet(in_dir)
    stream = tokens.read_token_stream(spark, in_dir,
                                      max_files_per_trigger=1000)
    win = sp.hourly_window_counts(
        sp.decoded_stream(stream, watermark="1 hour"))
    committed = commit_available_now(win, out_dir, ckpt)
    # round(min(q(x))) == min(round(q(x))): rounding is monotone, so the
    # oracle's min-over-rounded form matches
    return committed.select(
        F.unix_timestamp("window_start").alias("ws"),
        "n_rows",
        F.round("min_lat", 5).alias("min_lat"),
        F.round("max_lat", 5).alias("max_lat"),
    )


def _q_stream_hll_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality sketch, gate-hashed: the stream MAINTAINS
    per-hourly-window HLL registers (pipeline.hourly_distinct_registers —
    max is an algebraic streaming aggregate, state <= 2^p rows per
    window), the exactly-once sink commits the released register
    relation, and the estimate runs batch-side over the committed rows —
    the streaming half of the warehouse sketch rollup. Committed
    registers are arrival-order independent (max commutes); the window
    cut is the same watermark release as stream_window_committed, and the
    oracle re-derives registers + estimate from the raw events under that
    cut. Key: user = event_id % 500, so windows genuinely repeat users."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamhll_")
    _astro_token_df(spark, sf_dir).repartition(8) \
        .write.mode("overwrite").parquet(in_dir)
    stream = tokens.read_token_stream(spark, in_dir,
                                      max_files_per_trigger=1000)
    dec = sp.decoded_stream(stream, watermark="1 hour")
    keyed = dec.withColumn("user", F.col("doc_id").cast("long") % 500)
    regs = sp.hourly_distinct_registers(keyed, "user", p=10)
    committed = commit_available_now(regs, out_dir, ckpt).select(
        F.unix_timestamp("window_start").alias("ws"), "bucket", "register")
    return sketches.hll_estimate(committed, p=10, group_cols=("ws",))


_STREAM_HLL_SRC = """v0 AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS usec, event_id % 500 AS u
  FROM events WHERE event_id < 20000),
v AS (
  SELECT (usec // 3600) * 3600 AS ws, CAST(u AS VARCHAR) AS val
  FROM v0
  WHERE (usec // 3600) * 3600 + 3600 <= (SELECT max(usec) FROM v0) - 3600)"""


def _q_stream_cms_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency sketch, gate-hashed: the stream maintains
    per-hourly-window count-min counters (pipeline.windowed_cms_counts —
    count is algebraic, state <= depth*width per window, commit
    arrival-order independent), and point estimates for users 0..9 run
    batch-side over the committed counters (min over depth rows, absent
    coordinate = 0). Same watermark release as the other windowed
    entries; the oracle replays counters + probes under that cut."""
    from solarpos_spark.operators.sketches import _cms_coords

    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamcms_")
    _astro_token_df(spark, sf_dir).repartition(8) \
        .write.mode("overwrite").parquet(in_dir)
    stream = tokens.read_token_stream(spark, in_dir,
                                      max_files_per_trigger=1000)
    dec = sp.decoded_stream(stream, watermark="1 hour")
    keyed = dec.withColumn("user", F.col("doc_id").cast("long") % 500)
    cms = sp.windowed_cms_counts(keyed, "user", depth=4, width=64)
    tbl = commit_available_now(cms, out_dir, ckpt).select(
        F.unix_timestamp("window_start").alias("ws"), "row", "bucket",
        "cnt")
    probes = spark.range(10).select(F.col("id").alias("user"))
    coords = _cms_coords(probes, "user", ["user"], 4, 64, "poly31")
    allc = tbl.select("ws").distinct().crossJoin(F.broadcast(coords))
    return (allc.join(tbl, ["ws", "row", "bucket"], "left")
            .groupBy("ws", "user")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("est_cnt")))


def _stream_cms_oracle() -> str:
    return f"""
WITH v0 AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS usec, event_id % 500 AS u
  FROM events WHERE event_id < 20000),
v AS (
  SELECT (usec // 3600) * 3600 AS ws, CAST(u AS VARCHAR) AS val
  FROM v0
  WHERE (usec // 3600) * 3600 + 3600 <= (SELECT max(usec) FROM v0) - 3600),
p0 AS (SELECT ws, {poly31_sql('val')} AS h0 FROM v),
r0 AS (SELECT ws, h0, unnest(range(0, 4)) AS row FROM p0),
s0 AS (SELECT ws, row, {salted_poly_sql('h0', 'row')} AS h1 FROM r0),
t AS (SELECT ws, row, {fmix32_sql('h1')} % 64 AS bucket,
             count(*) AS cnt
      FROM s0 GROUP BY ws, row, bucket),
q0 AS (SELECT unnest(range(0, 10)) AS "user"),
q1 AS (SELECT "user", {poly31_sql('CAST("user" AS VARCHAR)')} AS h0
       FROM q0),
q2 AS (SELECT "user", h0, unnest(range(0, 4)) AS row FROM q1),
q3 AS (SELECT "user", row, {salted_poly_sql('h0', 'row')} AS h1 FROM q2),
q4 AS (SELECT "user", row, {fmix32_sql('h1')} % 64 AS bucket
       FROM q3),
wsd AS (SELECT DISTINCT ws FROM t)
SELECT wsd.ws, CAST("user" AS BIGINT) AS "user",
       CAST(min(coalesce(t.cnt, 0)) AS BIGINT) AS est_cnt
FROM wsd CROSS JOIN q4
LEFT JOIN t ON t.ws = wsd.ws AND t.row = q4.row AND t.bucket = q4.bucket
GROUP BY wsd.ws, "user"
"""


def _q_stream_window_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch watermarked windows with REAL cross-batch late drops,
    gate-hashed. Token rows are split into 4 files by event-time quartile
    — EXCEPT a planted subset (event_id % 97 == 0) which is deferred to
    the LAST file, arriving after the watermark has passed far beyond its
    windows. maxFilesPerTrigger=1 forces one file per micro-batch (file
    order pinned by explicit ascending mtimes), so the watermark ratchets
    up between batches and the deferred early-time rows are genuinely
    DROPPED (their windows were already emitted and evicted), while
    deferred rows near the previous batch's horizon are out-of-order but
    still live. The committed set is a pure function of the fixed file
    contents + order; the oracle replays the same watermark sequence and
    states the same final emission cut. Late-filter semantics (Spark 3.4+,
    SPARK-40925): batch f filters with eventTimeWatermarkForLateEvents =
    the PREVIOUS batch's metadata watermark = max event time through batch
    f-2 minus the delay; eviction uses the watermark through f-1. A row
    landing in the gap (W(f-2), W(f-1)] merges into state and is emitted
    in the SAME batch — counted once, no duplicate window rows. Anchor:
    north_rule 'matches output rows for the same input stream + watermark'.
    """
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamwinmb_")
    meta = _astro_df(spark, sf_dir).filter(F.col("event_id") < 20000) \
        .select("event_id", "usec")
    tok = _astro_token_df(spark, sf_dir).withColumn(
        "_eid", F.col("doc_id").cast("long"))
    joined = tok.join(meta, tok["_eid"] == meta["event_id"])
    planted = F.col("_eid") % 97 == 0
    parts = [sl.filter(~planted) for sl in time_slices(joined, "usec", 4)]
    parts[3] = parts[3].unionByName(joined.filter(planted))
    stream = ordered_file_stream(
        [p.select("doc_id", "tokens", "n_tok", "source") for p in parts],
        in_dir)
    win = sp.hourly_window_counts(
        sp.decoded_stream(stream, watermark="1 hour"))
    return commit_available_now(win, out_dir, ckpt).select(
        F.unix_timestamp("window_start").alias("ws"),
        "n_rows",
        F.round("min_lat", 5).alias("min_lat"),
        F.round("max_lat", 5).alias("max_lat"),
    )


_STREAM_WINDOW_MULTIBATCH_ORACLE = f"""
WITH b AS (
  SELECT event_id, usec, round(lat, 5) AS lat FROM ({_astro_sql(20000)})),
bounds AS (SELECT min(usec) AS tmin, max(usec) AS tmax FROM b),
r AS (
  SELECT b.*,
         CASE WHEN event_id % 97 = 0 THEN 3
              ELSE least(3, (usec - tmin) // ((tmax - tmin) // 4 + 1))
         END AS f
  FROM b, bounds),
fmax AS (SELECT f, max(usec) AS fm FROM r GROUP BY f),
-- late-event filter watermark: Spark 3.4+ passes the PREVIOUS batch's
-- metadata watermark to the filter (eventTimeWatermarkForLateEvents),
-- i.e. the max event time through batch f-2; eviction uses through f-1.
wmb AS (
  SELECT f.f, (SELECT max(fm) FROM fmax p WHERE p.f < f.f - 1) AS prevmax
  FROM fmax f),
kept AS (
  SELECT r.* FROM r JOIN wmb ON wmb.f = r.f
  WHERE wmb.prevmax IS NULL
     OR (usec // 3600) * 3600 + 3600 > wmb.prevmax - 3600),
w AS (
  SELECT (usec // 3600) * 3600 AS ws, count(*) AS n_rows,
         min(lat) AS min_lat, max(lat) AS max_lat
  FROM kept GROUP BY ws)
SELECT ws, n_rows, min_lat, max_lat
FROM w
WHERE ws + 3600 <= (SELECT max(usec) FROM b) - 3600
"""


def _q_stream_join_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream-stream join, gate-hashed: position rows join their
    same-record sunrise rows on (doc_id, seq_index) with an event-time
    range bound (streaming/pipeline.py position_sunrise_join), then the
    exactly-once sink commits one aligned row per record. Both join sides
    derive from the same decoded record, so every pair forms within its
    own micro-batch; the watermark horizon exceeds the 2020-2030 synthetic
    event span so no input row is ever late-dropped ahead of the stateful
    join — the committed set is batch-boundary-independent. Oracle: the
    generated SPA and A.2-sunrise SQLs joined on event_id over the
    codec-quantized base, including the is_daylight classification.
    """
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamjoin_")
    _astro_token_df(spark, sf_dir, limit=4000).repartition(8) \
        .write.mode("overwrite").parquet(in_dir)
    stream = tokens.read_token_stream(spark, in_dir, max_files_per_trigger=2)
    joined = sp.position_sunrise_join(
        sp.decoded_stream(stream, watermark="4000 days"))
    return commit_available_now(joined, out_dir, ckpt).select(
        F.col("doc_id").cast("long").alias("event_id"),
        F.round("azimuth", 5).alias("azimuth"),
        F.round("zenith", 5).alias("zenith"),
        "type",
        F.unix_timestamp("sunrise").alias("sunrise_usec"),
        F.unix_timestamp("transit").alias("transit_usec"),
        F.unix_timestamp("sunset").alias("sunset_usec"),
        "is_daylight",
    )


def _q_stream_funnel_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP funnel, gate-hashed: error and purchase events arrive
    as two unbounded streams; a watermarked stateful stream-stream join
    (streaming/pipeline.py funnel_stream) emits every same-user pair with
    the purchase strictly after the error and within 10 minutes, through
    the exactly-once sink. All files ingest in one availableNow batch
    (watermark still 0 => no state eviction can precede any match), so
    the committed set equals the batch fixpoint the SQL oracle states —
    batch-boundary-independent by construction."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamfunnel_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < 10000) \
        .select("event_id", "ts", "user_id", "event_type")
    for t in ("error", "purchase"):
        ev.filter(F.col("event_type") == t).repartition(4) \
            .write.mode("overwrite").parquet(f"{in_dir}/{t}")
    schema = ev.schema
    a = spark.readStream.schema(schema).parquet(f"{in_dir}/error")
    b = spark.readStream.schema(schema).parquet(f"{in_dir}/purchase")
    pairs = sp.funnel_stream(a, b, within_seconds=600, watermark="1 hour")
    return commit_available_now(pairs, out_dir, ckpt) \
        .select("user_id", "a_event_id", "b_event_id", "gap_usec")


_STREAM_FUNNEL_ORACLE = """
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
           FROM events WHERE event_type = 'error' AND event_id < 10000),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      FROM events WHERE event_type = 'purchase' AND event_id < 10000)
SELECT a.user_id, a.a_id AS a_event_id, b.b_id AS b_event_id,
       CAST(b.b_us - a.a_us AS BIGINT) AS gap_usec
FROM a JOIN b ON a.user_id = b.user_id
WHERE (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
  AND b.b_us <= a.a_us + 600 * 1000000
"""


def _q_stream_funnel_first_committed(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """TRUE first-match streaming funnel via applyInPandasWithState
    (streaming/stateful.py funnel_first_match), gate-hashed: error and
    purchase events arrive in 4 time-quartile files (pinned order,
    maxFilesPerTrigger=1), per-user custom state tracks pending windows,
    and each match is emitted exactly when the event-time watermark
    closes its window (EventTimeTimeout). In-order quartile files mean no
    row is ever late-dropped (quartiles span days, the watermark lags 1
    hour), so the committed set is the batch first-match fixpoint CUT at
    the final watermark: only windows whose deadline the watermark passed
    have emitted. The oracle states the same cut (Spark tracks event
    times in ms, hence the //1000 truncations)."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamfunnel1_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter((F.col("event_id") < 10000)
                & F.col("event_type").isin("error", "purchase")) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),  # NTZ -> TS,
                "user_id", "event_type")
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    out = stateful.funnel_first_match(stream, first_type="error",
                                      then_type="purchase",
                                      within_seconds=600)
    return commit_available_now(out, out_dir, ckpt) \
        .select("user_id", "a_event_id", "b_event_id", "gap_usec")


_STREAM_FUNNEL_FIRST_ORACLE = """
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
           FROM events WHERE event_type = 'error' AND event_id < 10000),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      FROM events WHERE event_type = 'purchase' AND event_id < 10000),
j AS (
  SELECT a.user_id, a.a_id, a.a_us, b.b_id, b.b_us
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
    AND b.b_us <= a.a_us + 600 * 1000000),
m1 AS (SELECT user_id, a_id, a_us, min(b_us) AS mbus FROM j GROUP BY 1, 2, 3),
m2 AS (SELECT m1.user_id, m1.a_id, m1.a_us, m1.mbus, min(j.b_id) AS b_id
       FROM m1 JOIN j ON j.user_id = m1.user_id AND j.a_id = m1.a_id
                     AND j.b_us = m1.mbus
       GROUP BY 1, 2, 3, 4),
wm AS (SELECT max(us) AS mx FROM (
         SELECT a_us AS us FROM a UNION ALL SELECT b_us FROM b))
SELECT user_id, a_id AS a_event_id, b_id AS b_event_id,
       CAST(mbus - a_us AS BIGINT) AS gap_usec
FROM m2, wm
WHERE (a_us + 600 * 1000000) // 1000 < mx // 1000 - 3600 * 1000
"""


def _q_stream_absence_committed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming negation CEP (streaming/stateful.py funnel_absence),
    gate-hashed: errors with NO purchase by the same user within 10
    minutes, each emitted exactly when the watermark closes its window
    — the timeout-alert pattern. Same quartile-file delivery as
    stream_funnel_first_committed; the committed set is the batch
    sequence_pattern_absent fixpoint (id columns only — a stream cannot
    know the late B at deadline) CUT at the final watermark."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamabs_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter((F.col("event_id") < 10000)
                & F.col("event_type").isin("error", "purchase")) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "event_type")
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    out = stateful.funnel_absence(stream, first_type="error",
                                  then_type="purchase", within_seconds=600)
    return commit_available_now(out, out_dir, ckpt) \
        .select("user_id", "a_event_id")


_STREAM_ABSENCE_ORACLE = """
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us
           FROM events WHERE event_type = 'error' AND event_id < 10000),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_us
      FROM events WHERE event_type = 'purchase' AND event_id < 10000),
wm AS (SELECT max(us) AS mx FROM (
         SELECT a_us AS us FROM a UNION ALL SELECT b_us FROM b))
SELECT a.user_id, a.a_id AS a_event_id
FROM a, wm
WHERE (a.a_us + 600 * 1000000) // 1000 < wm.mx // 1000 - 3600 * 1000
  AND NOT EXISTS (
    SELECT 1 FROM b
    WHERE b.user_id = a.user_id
      AND (b.b_us > a.a_us OR (b.b_us = a.a_us AND b.b_id > a.a_id))
      AND b.b_us <= a.a_us + 600 * 1000000)
"""


def _q_stream_session_committed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (F.session_window, the north_rule's
    named stream primitive), gate-hashed: per-user 30-min-gap sessions
    over events arriving in 4 time-quartile files (pinned order,
    maxFilesPerTrigger=1), APPEND mode — a session commits only once
    the 1 h watermark passes its end. Quartiles are disjoint time
    ranges, so no row is late-dropped AND no committed session can ever
    be extended (a continuing row would have to sit within the gap of a
    session the watermark already passed — impossible when new rows
    arrive above the previous file's max). Sessions STRADDLING quartile
    boundaries merge in state across micro-batches — the semantics this
    entry pins. The committed set is therefore the batch session
    fixpoint CUT at the final watermark; the oracle states that cut
    (Spark tracks event time in ms — the //1000 truncations). The money
    column folds to integer cents so the hash is float-free."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamsess_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < 10000) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "value")
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    sess = (stream.groupBy(
                F.session_window(F.col("ts"), "30 minutes").alias("w"),
                F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(cents).alias("value_cents"))
            .select("user_id",
                    F.unix_timestamp("w.start").alias("session_start"),
                    F.unix_timestamp("w.end").alias("session_end"),
                    "n_events",
                    F.col("value_cents").cast("long")
                     .alias("value_cents")))
    return commit_available_now(sess, out_dir, ckpt).select(
        "user_id", "session_start", "session_end", "n_events",
        "value_cents")


_STREAM_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us
  FROM events WHERE event_id < 10000),
ordered AS (
  SELECT user_id, us, value,
         CASE WHEN us - lag(us)
                   OVER (PARTITION BY user_id ORDER BY us, event_id)
                   >= 1800000000
              OR lag(us) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e),
sess AS (
  SELECT user_id, us, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered),
agg AS (
  SELECT user_id,
         CAST(min(us) // 1000000 AS BIGINT) AS session_start,
         CAST(max(us) // 1000000 + 1800 AS BIGINT) AS session_end,
         count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents,
         max(us) AS last_us
  FROM sess GROUP BY user_id, sid),
wm AS (SELECT max(us) // 1000 AS mx_ms FROM e)
SELECT user_id, session_start, session_end, n_events, value_cents
FROM agg, wm
WHERE last_us // 1000 + 1800000 <= mx_ms - 3600000
"""


def _q_stream_funnel3_committed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming 3-step CEP chain via applyInPandasWithState
    (streaming/stateful.py funnel_chain_first), gate-hashed:
    view -> click -> purchase with committed 24 h links, events in 4
    time-quartile files (pinned order, maxFilesPerTrigger=1). Per-user
    state buffers the chain-type events inside the rolling 48 h
    horizon; a chain emits exactly when the watermark passes its head's
    horizon. In-order quartiles mean no late drops, so the committed
    set is the batch sequence_pattern_chain fixpoint CUT at the final
    watermark — the oracle states exactly that."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamfunnel3_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter((F.col("event_id") < 10000)
                & F.col("event_type").isin(*_CHAIN_TYPES)) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "event_type")
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    out = stateful.funnel_chain_first(stream, list(_CHAIN_TYPES),
                                      within_seconds=_CHAIN_WITHIN)
    return commit_available_now(out, out_dir, ckpt).select(
        "user_id", "step1_id", "step2_id", "step3_id", "gap_usec")


def _q_stream_quota_committed(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming per-key admission quota via applyInPandasWithState
    (streaming/stateful.py first_n_per_key), gate-hashed: every user's 5
    EARLIEST events (event-time order, id tiebreak) are admitted, the
    rest rejected — the online source_cap. Events arrive in 4
    time-quartile files (pinned order, maxFilesPerTrigger=1); rows
    buffer in per-key state until the watermark strictly passes their
    event time, then admit against the running count, so cross-batch
    disorder cannot change the admitted set. In-order quartiles mean no
    row is late-dropped; the committed set is the per-key (ts, id) rank
    cut at the final watermark (Spark tracks event time in ms, hence the
    //1000 truncations in the oracle)."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamquota_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < 10000) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id")
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    out = stateful.first_n_per_key(stream, 5)
    return commit_available_now(out, out_dir, ckpt) \
        .select("user_id", "event_id", "event_usec", "rank")


_STREAM_QUOTA_ORACLE = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
           FROM events WHERE event_id < 10000),
wm AS (SELECT max(us) AS mx FROM e),
rel AS (SELECT e.* FROM e, wm
        WHERE us // 1000 < mx // 1000 - 3600 * 1000),
rk AS (SELECT user_id, event_id, us,
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY us, event_id) AS rank
       FROM rel)
SELECT user_id, event_id, CAST(us AS BIGINT) AS event_usec,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""


def _q_stream_priority_sample_committed(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Streaming per-window priority sample via applyInPandasWithState
    (streaming/stateful.windowed_priority_sample), gate-hashed: for
    every 900 s tumbling window, the 5 rows with smallest
    fmix32(id)/weight (weight = floor(value), non-positive excluded) —
    the online curate.priority_sample; top-k-per-window is not an
    algebraic aggregate, so this is per-window buffered state released
    when the watermark passes the window END (EventTimeTimeout wake).
    The priority is computed UPSTREAM by the shared batch JVM
    expression (curate.priority_expr), so the committed set is exactly
    the batch selection over windows closed by the final watermark.
    Events arrive as 4 in-order time-quartile files
    (maxFilesPerTrigger=1); closed-window eviction is final per the
    two-watermark argument (eviction at wm(<=f-1) == the late filter
    of f+1)."""
    from solarpos_spark.operators.curate import priority_expr

    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamwsample_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < 10000) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                F.floor(F.col("value")).cast("long").alias("w")) \
        .filter(F.col("w") > 0)
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir).withColumn(
        "_pri", priority_expr(F.col("event_id"), F.col("w")))
    # watermark_delay routes the watermark THROUGH the operator so its
    # per-partition candidate combiner sits below it: the groupBy(ws)
    # stateful task sees O(k) survivors per partition, state holds k
    # slots (r6 — VERDICT r5 #1), committed set provably unchanged
    out = stateful.windowed_priority_sample(stream, k=5, window_s=900,
                                            watermark_delay="1 hour")
    return commit_available_now(out, out_dir, ckpt) \
        .select("ws", "event_id", "rank")


def _stream_priority_sample_oracle(k: int = 5, window_s: int = 900,
                                   delay_s: int = 3600) -> str:
    from solarpos_spark.operators.curate import priority_sample_sql

    pri = priority_sample_sql(weight_expr="w", id_expr="event_id")
    return f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS us,
         CAST(floor(value) AS BIGINT) AS w
  FROM events WHERE event_id < 10000
    AND CAST(floor(value) AS BIGINT) > 0),
wm AS (SELECT max(us) AS mx FROM e),
b AS (
  SELECT event_id, w, us,
         (us // 1000000 // {window_s}) * {window_s} AS ws
  FROM e),
closed AS (
  SELECT b.* FROM b, wm
  WHERE (ws + {window_s}) * 1000 <= mx // 1000 - {delay_s} * 1000),
rk AS (
  SELECT ws, event_id,
         row_number() OVER (PARTITION BY ws
                            ORDER BY {pri} ASC, event_id ASC) AS rank
  FROM closed)
SELECT CAST(ws AS BIGINT) AS ws, event_id,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {k}
"""


def _q_stream_anomalies_committed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming rolling z-score anomalies via applyInPandasWithState
    (streaming/stateful.streaming_zscore_anomalies), gate-hashed: each
    event scores against its user's trailing-20 released values once
    the watermark passes its time (the first_n_per_key buffering
    discipline — cross-batch disorder cannot change any verdict).
    Values ride as exact int64 cents and ALL moments derive from exact
    integer sums via one pinned formula (mean = S/n,
    var = (SS - S*S/n)/(n-1)), so the batch SQL oracle reproduces every
    z bit-for-bit; the committed set is the batch rolling window cut at
    the final watermark."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamz_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < 10000) \
        .select("event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                .alias("_vc"))
    parts = time_slices(ev, F.unix_micros("ts"), 4)
    stream = ordered_file_stream(parts, in_dir) \
        .withWatermark("ts", "1 hour")
    out = stateful.streaming_zscore_anomalies(stream, window_rows=20,
                                              min_history=5,
                                              z_threshold=2.0)
    return commit_available_now(out, out_dir, ckpt) \
        .select("user_id", "event_id", "event_usec", "value_c", "z")


_STREAM_ANOMALIES_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events WHERE event_id < 10000),
wm AS (SELECT max(us) AS mx FROM e),
b AS (
  SELECT user_id, event_id, us, vc,
         CAST(count(vc) OVER w AS BIGINT) AS n,
         CAST(sum(vc) OVER w AS BIGINT) AS s,
         CAST(sum(vc * vc) OVER w AS BIGINT) AS ss
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT user_id, event_id, us, vc, n,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
           / (n - 1) AS var,
         CAST(vc AS DOUBLE) - CAST(s AS DOUBLE) / n AS dev
  FROM b WHERE n >= 5)
SELECT user_id, event_id, CAST(us AS BIGINT) AS event_usec,
       vc AS value_c, round(dev / sqrt(var), 6) AS z
FROM z, wm
WHERE var > 0 AND abs(dev / sqrt(var)) >= 2.0
  AND us // 1000 < mx // 1000 - 3600 * 1000
"""


_STREAM_CURATE_RATES = {"en": 5000, "de": 10000, "fr": 10000,
                        "es": 10000, "zh": 10000}


def _q_stream_url_blocklist_committed(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Stateless stream-static URL blocklist, gate-hashed: the documents
    table streams in over micro-batches, each row derives its URL and
    runs the zero-shuffle parse projection, and survivors of a broadcast
    LEFT ANTI join against the static registered-domain blocklist are
    committed exactly-once — the online ingestion guard that keeps
    blocked publishers out of a live crawl feed. No state, no
    watermark: verdicts are pure per-row functions joined against a
    static dimension, so the committed set is file- and batch-order
    independent and the oracle is the identical batch SQL.

    Granularity note: the streaming form blocks at REGISTERED-DOMAIN
    equality (an entry blocks its whole registrable domain — the
    broadcast equi-join shape a stream supports statelessly); host-level
    suffix semantics need the batch operator's suffix explode + distinct,
    which is a stateful aggregation under streaming."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamurl_")
    _docs(spark, sf_dir).repartition(8).write.mode("overwrite") \
        .parquet(in_dir)
    stream = (spark.readStream
              .schema("doc_id long, text string, lang string, "
                      "source string, n_chars long")
              .option("maxFilesPerTrigger", 2)
              .parquet(in_dir))
    parsed = urls.url_parse(_with_url(stream))
    blocked = spark.createDataFrame(
        [(b,) for b in _URL_BLOCKLIST], "blocked_domain string")
    surv = parsed.join(
        F.broadcast(blocked),
        parsed["registered_domain"] == blocked["blocked_domain"],
        "left_anti")
    return commit_available_now(
        surv.select("doc_id", "host", "registered_domain", "url_norm"),
        out_dir, ckpt).select(
        "doc_id", "host", "registered_domain", "url_norm")


_STREAM_URL_BLOCKLIST_ORACLE = f"""
WITH {_URL_PARSED_CTE}
SELECT doc_id, host, registered_domain, url_norm
FROM canon
WHERE NOT list_contains({_URL_BLOCKLIST_SQL}, registered_domain)
"""


def _q_stream_token_screen_committed(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Stateless streaming token-level contamination screen
    (tokenops.token_screen_arrow), gate-hashed: the SQL-replayable token
    relation streams in over micro-batches and every doc's 13-gram
    windows are tested against the closure-captured eval gram set inside
    one mapInArrow stage (flat-buffer sliding windows, np.isin on void
    views — no state, no watermark, no per-row Python). Verdicts are
    pure per-row functions, so the committed set is file/batch-order
    independent and the oracle is the batch decontaminate SQL verbatim —
    hash-equality ALSO proves the Arrow path == the relational path on
    the gate corpus."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamtok_")
    _token_rel_df(spark, sf_dir).repartition(8).write.mode("overwrite") \
        .parquet(in_dir)
    stream = (spark.readStream
              .schema("doc_id long, tokens array<int>")
              .option("maxFilesPerTrigger", 2)
              .parquet(in_dir))
    ev_grams = {tuple(range(100000 + i, 100000 + i + 13))
                for i in range(8)}
    out = tokenops.token_screen_arrow(stream, ev_grams, n=13)
    return commit_available_now(out, out_dir, ckpt).select(
        "doc_id", "n_hits", "contaminated")


def _q_stream_curate_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming curation, gate-hashed: the documents table
    streams in over multiple micro-batches, each doc passes the quality
    gate + per-language stratified sampler (the batch operators' exact
    expressions; streaming/pipeline.py curated_doc_stream), and the
    exactly-once sink commits the kept set. No state, no watermark — a
    doc's verdict is a pure function of the doc, so the committed rows are
    file- and batch-order independent; the oracle is the identical batch
    SQL over the same table."""
    in_dir, out_dir, ckpt = _stream_dirs("solarpos_gate_streamcurate_")
    _docs(spark, sf_dir).repartition(8).write.mode("overwrite") \
        .parquet(in_dir)
    stream = (spark.readStream
              .schema("doc_id long, text string, lang string, "
                      "source string, n_chars long")
              .option("maxFilesPerTrigger", 2)
              .parquet(in_dir))
    kept = sp.curated_doc_stream(stream, _STREAM_CURATE_RATES)
    # drop the sink's batch_id partition column: the gate compares VALUES,
    # and which micro-batch committed a row is scheduling, not semantics
    return commit_available_now(kept, out_dir, ckpt).select(
        "doc_id", "lang", "n_chars", "n_words", "stopword_ratio",
        "est_bpe_tokens")


_STREAM_CURATE_ORACLE = f"""
WITH q AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         round(len(list_filter(string_split_regex(trim(text), '\\s+'),
               x -> lower(x) IN ('the','a','of','and','to','in','is'))) * 1.0
               / len(string_split_regex(trim(text), '\\s+')), 6)
           AS stopword_ratio,
         round(length(text) * 1.0
               / len(string_split_regex(trim(text), '\\s+')), 6)
           AS avg_word_len,
         {_EST_TOKENS_SQL} AS est_bpe_tokens
  FROM documents),
b AS (SELECT *, {hash_bucket_sql("doc_id", 7)} AS bucket FROM q)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words, stopword_ratio, est_bpe_tokens
FROM b
WHERE n_words >= 20 AND stopword_ratio >= 0.02 AND avg_word_len <= 12.0
  AND bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                         WHEN 'fr' THEN 10000 WHEN 'es' THEN 10000
                         WHEN 'zh' THEN 10000 ELSE 0 END
"""


def _stream_join_oracle() -> str:
    base = _astro_sql(4000, quantized=True)
    pos = _osql.spa_sql(base)
    sr = _osql.sunrise_sql(base)
    return f"""
WITH pos AS ({pos}), sr AS ({sr})
SELECT p.event_id, p.azimuth, p.zenith, s.type,
       s.sunrise_usec, s.transit_usec, s.sunset_usec,
       CASE WHEN s.type = 'ALL_DAY' THEN TRUE
            WHEN s.type = 'ALL_NIGHT' THEN FALSE
            ELSE p.usec >= s.sunrise_usec AND p.usec <= s.sunset_usec
       END AS is_daylight
FROM pos p JOIN sr s ON p.event_id = s.event_id
"""


_STREAM_WINDOW_ORACLE = f"""
WITH b AS (
  SELECT usec, round(lat, 5) AS lat FROM ({_astro_sql(20000)})),
w AS (
  SELECT (usec // 3600) * 3600 AS ws, count(*) AS n_rows,
         min(lat) AS min_lat, max(lat) AS max_lat
  FROM b GROUP BY ws)
SELECT ws, n_rows, min_lat, max_lat
FROM w
WHERE ws + 3600 <= (SELECT max(usec) FROM b) - 3600
"""


def _stream_pos_oracle() -> str:
    inner = _osql.spa_sql(_astro_sql(20000, quantized=True))
    return (f"SELECT event_id, round(lat,5) AS lat, round(lon,5) AS lon, "
            f"azimuth, zenith FROM ({inner})")


# --------------------------------------------------------------------------
# quantile clipping (relational.winsorize)

def _q_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization (relational.winsorize): clip value
    at the [p05, p95] percentile_disc bounds — one sort-based aggregate
    to |types| bound rows (broadcast), then a zero-shuffle clipping
    projection. percentile_disc == DuckDB quantile_disc (member-of-
    group, no interpolation — the event_quantiles precedent)."""
    from solarpos_spark.operators.relational import winsorize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "event_type", "value")
    return winsorize(ev, by="event_type", lo_q=0.05, hi_q=0.95)


_VALUE_WINSORIZED_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_disc(value, 0.05) AS lo,
         quantile_disc(value, 0.95) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       round(e.value, 6) AS value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS clipped,
       (e.value < b.lo OR e.value > b.hi) AS was_clipped
FROM events e JOIN b USING (event_type)
"""


# --------------------------------------------------------------------------
# rolling z-score anomalies (relational.rolling_zscore_anomalies)

def _q_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score outliers
    (relational.rolling_zscore_anomalies): trailing-20-row frame
    (current row excluded so an outlier can't mask itself), one
    key-partitioned window carrying count/avg/stddev on a shared frame
    scan, flagged subset out. Frame iteration order pinned by
    (ts, event_id) — avg/stddev round-6 stable across engines (the
    events_value_stats precedent per frame)."""
    from solarpos_spark.operators.relational import (
        rolling_zscore_anomalies)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_zscore_anomalies(ev, z_threshold=2.5)


_VALUE_ANOMALIES_ORACLE = """
WITH b AS (
  SELECT user_id, event_id, ts, value,
         count(value) OVER w AS n,
         avg(value) OVER w AS m,
         stddev_samp(value) OVER w AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       round(value, 6) AS value, round(m, 6) AS mean,
       round(s, 6) AS sd, round((value - m) / s, 6) AS z
FROM b
WHERE n >= 5 AND s IS NOT NULL AND s > 0
  AND abs((value - m) / s) >= 2.5
"""


# --------------------------------------------------------------------------
# per-doc TF-IDF keywords (text.doc_keywords)

def _q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per doc (text.doc_keywords): tf ·
    ln((1+N)/(1+df)) ranked per doc with a WindowGroupLimit rank<=k cut
    — output O(k·docs); term tiebreak totalizes the order; cross-engine
    ln per the tfidf_pairs precedent."""
    return text.doc_keywords(_docs(spark, sf_dir), k=5)


_DOC_KEYWORDS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT doc_id, term, tf * ln((1.0 + n) / (1.0 + df)) AS w
  FROM tf JOIN dfreq USING (term), n),
rk AS (
  SELECT doc_id, term, w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, term ASC) AS rank
  FROM w)
SELECT doc_id, CAST(rank AS INT) AS rank, term, round(w, 6) AS weight
FROM rk WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# corpus quality filters: C4 word blocklist + Gopher composite rules

_BADWORDS = ("slow", "error", "null")


def _q_word_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's bad-words page filter (text.word_blocklist_filter): docs
    explode into normalized words ONCE and semi-join the broadcast
    list (O(rows x words), independent of list size — the
    urls.blocklist_filter shape); whole-word matching, not C4's
    famous substring grep."""
    return text.word_blocklist_filter(
        _docs(spark, sf_dir), _BADWORDS) \
        .select("doc_id", "lang", "source", "n_chars")


_WORD_BLOCKLIST_ORACLE = f"""
SELECT doc_id, lang, source, n_chars FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM unnest(string_split_regex(lower(trim(d.text)),
                       '\\s+')) AS t(word)
  WHERE word IN ({", ".join(f"'{w}'" for w in _BADWORDS)}))
"""


def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021 §A1.1) composed from
    the two gated signal relations (text.gopher_quality_filter):
    length/word-shape/stopword gates + repetition gates, one join of
    two per-doc aggregates; output keeps both signal sets so a survivor
    is auditable."""
    return text.gopher_quality_filter(_docs(spark, sf_dir))


def _gopher_filter_oracle() -> str:
    # composes the two signal oracles (defined later in this module;
    # called at registry-build time)
    return f"""
WITH tq AS ({_TEXT_QUALITY_ORACLE}),
rp AS ({_REPETITION_STATS_ORACLE})
SELECT tq.*, rp.dup_word_frac, rp.top_word_frac, rp.top_bigram_frac
FROM tq JOIN rp USING (doc_id)
WHERE tq.n_words BETWEEN 30 AND 100000
  AND tq.avg_word_len BETWEEN 3.0 AND 10.0
  AND tq.stopword_ratio >= 0.03
  AND rp.dup_word_frac <= 0.6
  AND rp.top_word_frac <= 0.12
  AND rp.top_bigram_frac <= 0.06
"""


# --------------------------------------------------------------------------
# embedding-space evaluation (similarity.nearest_centroid_confusion)

def _q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean confusion matrix over the labeled embeddings
    (similarity.nearest_centroid_confusion): coordinates quantize to
    2^20-scaled int64 (power-of-2 scale -> the multiply is EXACT),
    class centroids are truncating integer-div means of exact int sums
    (order-independent), assignment minimizes exact integer squared L2
    (WindowGroupLimit rank-1) — every bit replayable in SQL."""
    from solarpos_spark.operators.similarity import (
        nearest_centroid_confusion)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return nearest_centroid_confusion(emb, dim=64)


_CENTROID_CONFUSION_ORACLE = """
WITH base AS (
  SELECT vec_id AS vid, label, d,
         CAST(floor((embedding::DOUBLE[])[d + 1] * 1048576.0) AS BIGINT)
           AS xq
  FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS d) t),
cent AS (
  SELECT label AS clabel, d,
         CAST(sum(xq) AS BIGINT) // count(*) AS c
  FROM base GROUP BY 1, 2),
dists AS (
  SELECT b.vid, b.label, c.clabel,
         sum((b.xq - c.c) * (b.xq - c.c)) AS d2
  FROM base b JOIN cent c USING (d)
  GROUP BY 1, 2, 3),
assigned AS (
  SELECT vid, label, clabel FROM (
    SELECT *, row_number() OVER (PARTITION BY vid
             ORDER BY d2 ASC, clabel ASC) AS r FROM dists)
  WHERE r = 1)
SELECT label, clabel AS pred_label, CAST(count(*) AS BIGINT) AS n
FROM assigned GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# classifier evaluation (text.classifier_roc): ROC sweep over the trained
# perceptron's scores — the missing evaluation stage for the fit pipeline.

def _q_classifier_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC/precision operating points of the TRAINED quality classifier
    (text.classifier_roc over quality_classifier_trained): corpus
    collapses to distinct int64 score thresholds in one aggregate; the
    cumulative confusion windows run on that tiny relation (the
    histogram_quantiles discipline — never a corpus-wide sort). Oracle
    = the full unrolled training nested under the ROC SQL."""
    docs = _docs(spark, sf_dir)
    label = F.array_contains(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "spark")
    scored = text.quality_classifier_trained(docs, label, rounds=60)
    return text.classifier_roc(scored)


def _classifier_roc_oracle() -> str:
    base = _perceptron_trained_oracle()
    return f"""
WITH base AS ({base}),
per AS (
  SELECT score AS threshold,
         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn
  FROM base GROUP BY score),
tot AS (
  SELECT CAST(sum(np) AS BIGINT) AS P, CAST(sum(nn) AS BIGINT) AS N
  FROM per),
c AS (
  SELECT threshold,
         CAST(sum(np) OVER (ORDER BY threshold DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
         CAST(sum(nn) OVER (ORDER BY threshold DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
  FROM per)
SELECT threshold, tp, fp, P - tp AS fn, N - fp AS tn,
       round(tp * 1.0 / P, 6) AS tpr,
       round(fp * 1.0 / N, 6) AS fpr,
       round(tp * 1.0 / (tp + fp), 6) AS prec
FROM c, tot
"""


# --------------------------------------------------------------------------
# corpus snapshot diff (curate.corpus_diff): dataset-versioning changelog

def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version corpus changelog (curate.corpus_diff): the
    'new' snapshot deterministically drops every 10th doc, edits every
    7th, and adds one doc per 13th — one zero-shuffle md5 fingerprint
    per side + ONE full-outer join on the id (text never shuffles).
    The input to incremental re-processing: only added+changed re-enter
    the pipeline."""
    from solarpos_spark.operators.curate import corpus_diff

    old = _docs(spark, sf_dir)
    new = (old.filter(F.col("doc_id") % 10 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               old.filter(F.col("doc_id") % 13 == 0)
               .select((F.col("doc_id") + 500000).alias("doc_id"),
                       F.concat(F.lit("added doc "), F.col("doc_id"))
                       .alias("text"))))
    return corpus_diff(old, new)


_CORPUS_DIFF_ORACLE = r"""
WITH old AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS old_fp
  FROM documents),
newd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id,
         'added doc ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 13 = 0),
newfp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS new_fp
  FROM newd)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_fp IS NULL THEN 'added'
            WHEN n.new_fp IS NULL THEN 'removed'
            WHEN o.old_fp <> n.new_fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_fp, n.new_fp
FROM old o FULL JOIN newfp n ON n.doc_id = o.doc_id
"""


# --------------------------------------------------------------------------
# cross-corpus fuzzy decontamination (dedup.cross_corpus_verified_pairs)

def _q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train-eval overlap (dedup.cross_corpus_verified_pairs):
    the probe set is every 17th doc lightly paraphrased (3 words
    appended) — exactly what the exact n-gram screens still match but
    a whole-doc hash misses; one MinHash/banding pass over the tagged
    union, cross-side bucket collisions only, exact-Jaccard verify
    below the aggregate (the minhash_verified topology). poly31 so the
    oracle replays the hashes."""
    docs = _docs(spark, sf_dir)
    probe = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat(F.col("text"), F.lit(" probe tail marker"))
                     .alias("text")))
    return dedup.cross_corpus_verified_pairs(
        docs, probe, threshold=0.5, hash_fn="poly31")


def _fuzzy_decontaminate_oracle(threshold: float = 0.5) -> str:
    cand = _minhash_oracle(
        source="uni",
        pair_pred="a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")
    return f"""
WITH probe AS (
  SELECT doc_id, text || ' probe tail marker' AS text
  FROM documents WHERE doc_id % 17 = 0),
uni AS (
  SELECT doc_id * 2 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1 AS doc_id, text FROM probe),
cand AS ({cand}),
{_shingle_ctes("uni")},
ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS sg
       FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS na, b.nsh AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg
    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2, 3, 4),
v AS (
  SELECT i.* FROM inter i
  JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
SELECT doc_a // 2 AS doc_id, (doc_b - 1) // 2 AS probe_id,
       round(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
FROM v
WHERE round(n_common * 1.0 / (na + nb - n_common), 6) >= {threshold}
"""


# --------------------------------------------------------------------------
# BPE merge training (tokenizer.bpe_fit): the GPT-2 tokenizer-training
# algorithm (Sennrich 2016) as fully relational rounds; the oracle unrolls
# the ENTIRE training — the perceptron/IVF total-reconstruction discipline.

def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 20 BPE merges over the corpus word histogram
    (tokenizer.bpe_fit): per round ONE per-word window pass + one pair
    aggregate + a broadcast 1-row argmax joined RELATIONALLY (no driver
    collect); overlapping same-symbol runs merge leftmost-first via
    gaps-and-islands parity. All counts integer, all orders total —
    the oracle re-derives every round."""
    from solarpos_spark.operators.tokenizer import bpe_fit

    return bpe_fit(_docs(spark, sf_dir), merges=20)


def _q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc REAL BPE token counts (tokenizer.bpe_token_counts): the
    training loop's final symbol state segments every distinct word;
    corpus-sized work is one occurrence explode + one word join + one
    per-doc sum (the wordpiece_counts shape). Oracle = the unrolled
    training's final state joined back to per-doc occurrences."""
    from solarpos_spark.operators.tokenizer import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir), merges=20)


def _bpe_oracle(merges: int = 20, doc_counts: bool = False) -> str:
    wnd = "PARTITION BY word ORDER BY pos"
    ctes: list[tuple[str, str, bool]] = [
        ("occ", r"""SELECT unnest(string_split(trim(regexp_replace(
              lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
              FROM documents""", False),
        ("wrds", "SELECT word, count(*) AS freq FROM occ "
                 "WHERE word <> '' GROUP BY word", True),
        ("s0", "SELECT word, freq, pos, CASE WHEN pos <= length(word) "
               "THEN substr(word, CAST(pos AS INT), 1) ELSE '</w>' END "
               "AS sym FROM (SELECT word, freq, "
               "unnest(range(1, length(word) + 2)) AS pos FROM wrds)",
               True),
    ]
    for t in range(1, merges + 1):
        ctes.append((
            f"o{t}",
            f"SELECT word, freq, pos, sym, "
            f"lead(sym) OVER ({wnd}) AS nxt, "
            f"lag(sym) OVER ({wnd}) AS prev, "
            f"row_number() OVER ({wnd}) AS rn FROM s{t - 1}", True))
        ctes.append((
            f"c{t}",
            f"SELECT sym AS x, nxt AS y, cnt FROM ("
            f"SELECT sym, nxt, sum(freq) AS cnt FROM o{t} "
            f"WHERE nxt IS NOT NULL GROUP BY 1, 2) "
            f"ORDER BY cnt DESC, x ASC, y ASC LIMIT 1", True))
        ctes.append((
            f"f{t}",
            f"SELECT o.*, c.x, c.y, "
            f"o.rn - max(CASE WHEN o.sym = c.x AND (o.prev IS NULL "
            f"OR o.prev <> c.x) THEN o.rn END) OVER ("
            f"PARTITION BY o.word ORDER BY o.pos "
            f"ROWS UNBOUNDED PRECEDING) AS off "
            f"FROM o{t} o LEFT JOIN c{t} c ON TRUE", False))
        ctes.append((
            f"s{t}",
            f"SELECT word, freq, pos, CASE WHEN mer THEN sym || nxt "
            f"ELSE sym END AS sym FROM ("
            f"SELECT *, coalesce(CASE WHEN x IS NULL THEN FALSE "
            f"WHEN x = y THEN sym = x AND nxt = x AND off % 2 = 0 "
            f"ELSE sym = x AND nxt = y END, FALSE) AS mer, "
            f"coalesce(CASE WHEN x IS NULL THEN FALSE "
            f"WHEN x = y THEN sym = x AND off % 2 = 1 "
            f"ELSE sym = y AND prev = x END, FALSE) AS dele "
            f"FROM f{t}) WHERE NOT dele", True))
    if doc_counts:
        ctes += [
            ("occd", r"""SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(
                  lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
                  FROM documents""", False),
            ("wtok", f"SELECT word, count(*) AS tok FROM s{merges} "
                     f"GROUP BY word", False),
        ]
    body = ",\n".join(
        f"{n} AS MATERIALIZED ({s})" if m else f"{n} AS ({s})"
        for n, s, m in ctes)
    if doc_counts:
        return (f"WITH {body}\n"
                f"SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
                f"CAST(sum(tok) AS BIGINT) AS n_bpe_tokens "
                f"FROM (SELECT doc_id, word FROM occd WHERE word <> '') "
                f"JOIN wtok USING (word) GROUP BY doc_id")
    finals = "\nUNION ALL\n".join(
        f"SELECT {t} AS round, x AS left_sym, y AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM c{t}"
        for t in range(1, merges + 1))
    return f"WITH {body}\n{finals}"


# --------------------------------------------------------------------------
# event-sequence + time-series relational ops (relational.py)

def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (relational.transition_matrix): one sessionize-shaped
    window (lead over user/time) + one |types|^2-row aggregate; the
    probability denominator is a window over the aggregate itself.
    Counts integer-exact; p = one IEEE division of int64s."""
    from solarpos_spark.operators.relational import transition_matrix

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return transition_matrix(ev)


_EVENT_TRANSITIONS_ORACLE = """
WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events),
c AS (SELECT from_type, to_type, count(*) AS n FROM p
      WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) /
             CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
                  AS DOUBLE), 6) AS p
FROM c
"""


def _q_events_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-grid resampling + forward gap-fill
    (relational.resample_fill): every-7th event onto a 900 s grid so
    real gaps exist; bucket means carry across empty buckets via a
    running last(ignorenulls) window over the (tiny) grid relation.
    avg+round(6) determinism per the events_value_stats precedent."""
    from solarpos_spark.operators.relational import resample_fill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") % 7 == 0)
    return resample_fill(ev, bucket_s=900)


_EVENTS_RESAMPLED_ORACLE = """
WITH b AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS bucket_start,
         value
  FROM events WHERE event_id % 7 = 0),
a AS (SELECT bucket_start, count(*) AS n, round(avg(value), 6) AS av
      FROM b GROUP BY 1),
s AS (SELECT min(bucket_start) AS lo, max(bucket_start) AS hi FROM a),
g AS (SELECT unnest(range(lo, hi + 900, 900)) AS bucket_start FROM s),
j AS (SELECT g.bucket_start, coalesce(a.n, 0) AS n, a.av
      FROM g LEFT JOIN a USING (bucket_start))
SELECT bucket_start, CAST(n AS BIGINT) AS n,
       last_value(av IGNORE NULLS) OVER (
           ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
       av IS NULL AS filled
FROM j
"""


# --------------------------------------------------------------------------
# sparse random projection (similarity.random_project / rp_topk)

def _q_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Achlioptas sparse random projection 64→16 dims
    (similarity.random_project): each output coordinate is a FIXED
    generation-ordered ± add chain (density 1/3) — pure whole-stage-
    codegen projection, zero shuffle, no fold-order hazard. The gate
    explodes the array so the hash compares scalars; the oracle emits
    the identical chain from the same driver-generated sign table."""
    from solarpos_spark.operators.similarity import random_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = random_project(emb, in_dim=64, out_dim=16, seed=1)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim", "val"))


def _rp_project_oracle() -> str:
    from solarpos_spark.operators.similarity import rp_sql_proj

    lst = rp_sql_proj(in_dim=64, out_dim=16, seed=1)
    return f"""
WITH p AS (SELECT vec_id, {lst} AS proj FROM embeddings)
SELECT vec_id, i - 1 AS dim, proj[i] AS val
FROM p, LATERAL (SELECT unnest(range(1, 17)) AS i) t
"""


def _q_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage RP ANN (similarity.rp_topk): 16-dim projected cosine
    scan → shortlist-10 → exact 64-dim rerank; quantized_topk's shape
    with a dimension cut instead of a precision cut. Same output
    schema/rounding as similarity_topk so recall is measurable."""
    from solarpos_spark.operators.similarity import rp_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    return rp_topk(emb, q, in_dim=64, out_dim=16, seed=1, k=3,
                   shortlist=10)


def _rp_topk_oracle(k: int = 3, shortlist: int = 10) -> str:
    from solarpos_spark.operators.similarity import rp_sql_proj

    lst = rp_sql_proj(in_dim=64, out_dim=16, seed=1)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, {lst} AS proj FROM embeddings),
qq AS (SELECT * FROM p WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.proj, c.proj)
               / (sqrt(list_dot_product(q.proj, q.proj))
                  * sqrt(list_dot_product(c.proj, c.proj))), 6) AS approx
  FROM p c, qq q WHERE c.vec_id <> q.vec_id),
sh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY approx DESC, neighbor_id ASC) AS r FROM scored)
  WHERE r <= {shortlist}),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(qb.v, cb.v)
               / (sqrt(list_dot_product(qb.v, qb.v))
                  * sqrt(list_dot_product(cb.v, cb.v))), 6) AS score
  FROM sh s JOIN base cb ON cb.vec_id = s.neighbor_id
            JOIN base qb ON qb.vec_id = s.query_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank,
       neighbor_id, score
FROM ex
QUALIFY rank <= {k}
"""


# --------------------------------------------------------------------------
# weighted sampling (curate.priority_sample): sequential Poisson / priority
# sampling — deterministic weighted sampling without replacement, the
# reproducible replacement for rand()-keyed reservoirs.

def _q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global weighted bottom-k (curate.priority_sample): keep the 50
    docs with smallest fmix32(id)/n_chars — inclusion odds proportional
    to length, bit-reproducible across runs/engines (integer hash and
    weight both < 2^53, so the IEEE division is correctly rounded on
    both). Plans as TakeOrderedAndProject — never a global sort."""
    from solarpos_spark.operators.curate import priority_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return priority_sample(docs, weight_col="n_chars", k=50) \
        .select("doc_id", "source", "n_chars", "sample_priority")


def _q_priority_sample_stratified(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-source weighted bottom-k (k=20 per stratum) — the mixture-
    aware variant; rank-1..k window plans as WindowGroupLimit (partial
    limit below the one stratum-keyed shuffle)."""
    from solarpos_spark.operators.curate import priority_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return priority_sample(docs, weight_col="n_chars", k=20,
                           strata_col="source") \
        .select("doc_id", "source", "n_chars", "sample_priority")


def _priority_sample_oracle(k: int = 50, strata: bool = False) -> str:
    from solarpos_spark.operators.curate import priority_sample_sql

    pri = priority_sample_sql(weight_expr="n_chars")
    if not strata:
        return f"""
SELECT doc_id, source, n_chars, round({pri}, 6) AS sample_priority
FROM documents WHERE n_chars > 0
ORDER BY {pri} ASC, doc_id ASC LIMIT {k}
"""
    return f"""
SELECT doc_id, source, n_chars, sample_priority FROM (
  SELECT doc_id, source, n_chars, round({pri}, 6) AS sample_priority,
         row_number() OVER (PARTITION BY source
                            ORDER BY {pri} ASC, doc_id ASC) AS rn
  FROM documents WHERE n_chars > 0)
WHERE rn <= {k}
"""


# --------------------------------------------------------------------------
# MMR diversified retrieval (search.mmr_rerank): the greedy diversity pass
# over the dense shortlist — corpus-sized work is one cosine projection +
# TakeOrderedAndProject; the k rounds run on <= depth rows.

def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance top-10 over the depth-50 cosine
    shortlist for the vec_id=3 query (taken relationally): pick_t
    maximizes lam*rel - (1-lam)*max-sim-to-selected, lam=0.75 (both
    coefficients exactly representable). The oracle unrolls all 10
    greedy rounds as CTEs over the same rounded rel/sim relations."""
    from solarpos_spark.operators.search import mmr_rerank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding")
    return mmr_rerank(emb, qvec, k=10, depth=50, lam=0.75)


def _mmr_oracle(k: int = 10, depth: int = 50, lam: float = 0.75) -> str:
    """Unrolled greedy-selection oracle for mmr_rerank: shortlist +
    pairwise-sim CTEs MATERIALIZED (each is referenced every round),
    then one (pick_t, sel_t) CTE pair per round — the unrolled-training
    discipline (sel_t is referenced twice in round t+1)."""
    c_lam, c_div = repr(float(lam)), repr(1.0 - float(lam))

    def cos(x: str, y: str) -> str:
        return (f"round(list_dot_product({x}, {y}) / "
                f"(sqrt(list_dot_product({x}, {x})) * "
                f"sqrt(list_dot_product({y}, {y}))), 6)")

    ctes: list[tuple[str, str, bool]] = [
        ("q", "SELECT embedding::DOUBLE[] AS qv FROM embeddings "
              "WHERE vec_id = 3", False),
        ("base", "SELECT vec_id, embedding::DOUBLE[] AS v "
                 "FROM embeddings", True),
        ("rl", f"SELECT vec_id, v, {cos('v', 'qv')} AS rel "
               f"FROM base, q", False),
        ("sl", f"SELECT vec_id, v, rel FROM rl "
               f"ORDER BY rel DESC, vec_id ASC LIMIT {depth}", True),
        ("pw", f"SELECT x.vec_id AS a, y.vec_id AS b, "
               f"{cos('x.v', 'y.v')} AS sim "
               f"FROM sl x JOIN sl y ON x.vec_id <> y.vec_id", True),
        ("sel1", "SELECT vec_id, 1 AS rank, rel, rel AS mmr FROM sl "
                 "ORDER BY rel DESC, vec_id ASC LIMIT 1", True),
    ]
    for t in range(2, k + 1):
        ctes.append((
            f"pick{t}",
            f"SELECT vec_id, {t} AS rank, rel, round(raw, 6) AS mmr "
            f"FROM (SELECT c.vec_id, c.rel, "
            f"CAST({c_lam} AS DOUBLE) * c.rel - "
            f"CAST({c_div} AS DOUBLE) * m.maxsim AS raw "
            f"FROM (SELECT * FROM sl WHERE vec_id NOT IN "
            f"(SELECT vec_id FROM sel{t - 1})) c "
            f"JOIN (SELECT a AS vec_id, max(sim) AS maxsim FROM pw "
            f"WHERE b IN (SELECT vec_id FROM sel{t - 1}) GROUP BY a) m "
            f"USING (vec_id) "
            f"ORDER BY raw DESC, c.vec_id ASC LIMIT 1)", False))
        ctes.append((
            f"sel{t}",
            f"SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t}",
            True))
    body = ",\n".join(
        f"{n} AS MATERIALIZED ({s})" if m else f"{n} AS ({s})"
        for n, s, m in ctes)
    return (f"WITH {body}\n"
            f"SELECT CAST(rank AS INT) AS rank, vec_id, rel, mmr "
            f"FROM sel{k}")


# --------------------------------------------------------------------------
# link-graph family (operators/graph.py + urls.extract_links): web-graph
# construction from raw HTML and fixed-point integer PageRank over the
# host graph — the authority signal web-corpus curation ranks domains by.
# Inputs are synthesized deterministically from doc_id arithmetic in BOTH
# engines (the _url_docs discipline); all rank arithmetic is int64 floor
# division, so the oracles replay the FULL iteration bit-for-bit.

def _link_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic crawl HTML: a script URL that must NOT extract (not an
    href), 1-2 absolute anchors with hosts from doc_id arithmetic
    (upper/lowercase attribute spellings), and a relative anchor that
    must not extract."""
    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><script>var u="http://ignored.example/x"'
              '</script><p>'),
        F.col("text"), F.lit('</p><a href="http://h'),
        (F.col("doc_id") * 31 + 3) % 97,
        F.lit('.example/p/'), F.col("doc_id"), F.lit('">a</a>'),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit('<A HREF="https://H'),
                        (F.col("doc_id") * 31 + 10) % 97,
                        F.lit('.example/">b</A>'))).otherwise(F.lit('')),
        F.lit('<a href="/rel">c</a></html>'))
    return docs.select("doc_id", html.alias("html"))


_LINK_HTML_CTE = """
SELECT doc_id,
  '<html><script>var u="http://ignored.example/x"</script><p>' || text ||
  '</p><a href="http://h' || CAST((doc_id*31+3)%97 AS VARCHAR) ||
  '.example/p/' || CAST(doc_id AS VARCHAR) || '">a</a>' ||
  (CASE WHEN doc_id % 2 = 0
     THEN '<A HREF="https://H' || CAST((doc_id*31+10)%97 AS VARCHAR)
          || '.example/">b</A>'
     ELSE '' END) || '<a href="/rel">c</a></html>' AS html
FROM documents
"""

_LINK_EXTRACT_SQL = """
SELECT doc_id,
       unnest(regexp_extract_all(html,
              '(?i)href="(https?://[^"]+)"', 1)) AS link_url
FROM lh
"""

_LINK_HOST_SQL = (
    "lower(regexp_extract(regexp_extract(link_url, "
    "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '^([^:]+)', 1))")


def _q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction (urls.extract_links): absolute href
    targets out of raw HTML — one regexp_extract_all + Generate inside
    the scan stage, zero exchanges; link hosts reuse url_parse's
    authority regexes. Script-embedded URLs, relative targets, and
    unquoted attrs deliberately don't extract (documented portable
    subset)."""
    return urls.extract_links(_link_html_docs(spark, sf_dir))


_LINK_EXTRACT_ORACLE = f"""
WITH lh AS ({_LINK_HTML_CTE}),
e AS ({_LINK_EXTRACT_SQL})
SELECT doc_id, link_url, {_LINK_HOST_SQL} AS link_host FROM e
"""


def _host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host-graph edges from doc_id arithmetic: 3 edge
    candidates per doc over a 97-host universe, self-edges dropped.
    Edge multiplicity (deduped inside the operators) and node coverage
    scale with SF."""
    docs = _docs(spark, sf_dir).select("doc_id")
    return (docs.select(
        F.concat(F.lit("h"), F.col("doc_id") % 97).alias("src"),
        F.explode(F.array(*[
            F.concat(F.lit("h"), (F.col("doc_id") * 31 + 7 * k + 3) % 97)
            for k in range(3)])).alias("dst"))
        .filter(F.col("src") != F.col("dst")))


_HOST_EDGES_CTE = """
SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) AS u,
       'h' || CAST((doc_id * 31 + 7 * k + 3) % 97 AS VARCHAR) AS v
FROM documents, LATERAL (SELECT unnest([0, 1, 2]) AS k) t
WHERE doc_id % 97 <> (doc_id * 31 + 7 * k + 3) % 97
"""


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (graph.pagerank, 8 rounds, d=0.85,
    scale 1e12): per round ONE rank shuffle onto the src-partitioned
    edge relation + ONE contribution aggregate on dst; edges+degrees
    partitioned once and reused, localCheckpoint keeps lineage O(1) in
    rounds (the CC-loop discipline). All arithmetic int64 floor-div on
    nonnegatives (Spark `div` == DuckDB `//`), so the oracle unrolls
    the FULL 8-round recurrence as MATERIALIZED CTEs bit-for-bit."""
    from solarpos_spark.operators import graph

    return graph.pagerank(_host_edges(spark, sf_dir), rounds=8)


def _q_host_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree profile (graph.degree_stats) over the
    deduplicated host graph — one distinct + two aggregates merged
    full-outer on the node key."""
    from solarpos_spark.operators import graph

    return graph.degree_stats(_host_edges(spark, sf_dir))


_HOST_DEGREE_ORACLE = f"""
WITH eraw AS ({_HOST_EDGES_CTE}),
e AS (SELECT DISTINCT u, v FROM eraw),
od AS (SELECT u AS node, count(*) AS out_degree FROM e GROUP BY u),
id_ AS (SELECT v AS node, count(*) AS in_degree FROM e GROUP BY v)
SELECT coalesce(od.node, id_.node) AS node,
       CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree
FROM od FULL JOIN id_ ON od.node = id_.node
"""

_LINK_EDGES_CTE = f"""
SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS u,
       {_LINK_HOST_SQL} AS v
FROM (
  SELECT doc_id,
         unnest(regexp_extract_all(html,
                '(?i)href="(https?://[^"]+)"', 1)) AS link_url
  FROM ({_LINK_HTML_CTE}) lh
) ex
"""


def _q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web pipeline: raw HTML → extract_links → host edge
    relation (page host from doc_id arithmetic, target host from the
    extracted URL) → 6-round PageRank. Self-links flow through both
    engines identically (PageRank keeps them; only exact duplicates
    dedup). The oracle composes the extraction CTE under the unrolled
    recurrence — the curate-style stacked-oracle discipline."""
    from solarpos_spark.operators import graph

    links = urls.extract_links(_link_html_docs(spark, sf_dir))
    edges = links.select(
        F.concat(F.lit("h"), F.col("doc_id") % 97,
                 F.lit(".example")).alias("src"),
        F.col("link_host").alias("dst"))
    return graph.pagerank(edges, rounds=6)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: SPA position over sf0.001 events (driver smoke check)."""
    return _position_query("spa")(spark, "/root/testdata/sf0.001")


# The driver's correctness gate samples the FIRST ~50 registry entries
# (insertion order).  _DRIVER_SAMPLE_HEAD pins a representative head that
# spans every operator family — all 18 streaming committed-output entries
# plus one-or-more per batch family (VERDICT r4 directive #2) — and the
# NON-streaming slots ROTATE each round (VERDICT r5 directive #2) so
# entries the driver has never checked get covered: the r6 head keeps the
# 18 streaming entries and fills the other 32 slots with entries ABSENT
# from CORRECTNESS_r05's sample (31 of 32 are new; url_parse returns for
# URL-family coverage).  Entries NOT named here follow in their
# declaration order; the reorder is a pure permutation (locked by pytest:
# same key set, no duplicates, families spanned, >= 25 rotated in).
_DRIVER_SAMPLE_HEAD = [
    "stream_position_committed", "stream_dedup_committed",
    "stream_curate_committed", "stream_url_blocklist_committed",
    "stream_window_committed", "stream_hll_committed",
    "stream_cms_committed", "stream_window_multibatch",
    "stream_session_committed", "stream_join_committed",
    "stream_funnel_committed", "stream_funnel_first_committed",
    "stream_funnel3_committed", "stream_absence_committed",
    "stream_token_screen_committed", "stream_quota_committed",
    "stream_priority_sample_committed", "stream_anomalies_committed",
    "position_grena3", "twilight", "deltat_estimate",
    "window_sliding", "window_session",
    "line_dedup", "dup_spans", "fuzzy_decontaminate",
    "ivf_topk_arrow", "ivfpq_topk", "rp_topk",
    "embedding_near_dup_bucketed", "centroid_confusion",
    "hll_trigrams", "bottomk_trigrams",
    "url_parse",
    "quality_classifier", "gopher_filter", "doc_keywords",
    "repetition_stats",
    "wordpiece_tokens", "bpe_merges", "token_novelty",
    "priority_sample", "corpus_diff", "sequence_pack",
    "sequence_pattern_absent",
    "frame_sample",
    "event_transitions", "value_anomalies",
    "host_pagerank",
    "bm25_search",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "position_spa": _position_query("spa"),
        "position_grena3": _position_query("grena3"),
        "position_no_refraction": _position_query("spa", refraction=False),
        "elevation_angle": _position_query("spa", elevation_angle=True),
        "tokens_roundtrip": _q_tokens_roundtrip,
        "token_decontaminate": _q_token_decontaminate,
        "token_novelty": _q_token_novelty,
        "coord_grid": _q_coord_grid,
        "time_series": _q_time_series,
        "time_series_zoned": _q_time_series_zoned,
        "cartesian_sweep": _q_cartesian_sweep,
        "sunrise_daily": _q_sunrise,
        "twilight": _q_twilight,
        "deltat_estimate": _q_deltat,
        "position_deltat_estimated": _q_position_deltat_estimated,
        "window_tumbling": _q_window_tumbling,
        "window_sliding": _q_window_sliding,
        "window_session": _q_window_session,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "minhash_lsh_checkable": _q_minhash_lsh_checkable,
        "simhash": _q_simhash,
        "simhash_checkable": _q_simhash_checkable,
        "minhash_verified": _q_minhash_verified,
        "dedup_pipeline": _q_dedup_pipeline,
        "simhash_near_dup": _q_simhash_near_dup,
        "simhash_near_dup_capped": _q_simhash_near_dup_capped,
        "dup_clusters": _q_dup_clusters,
        "dedup_canonical": _q_dedup_canonical,
        "embedding_near_dup": _q_embedding_near_dup,
        "embedding_near_dup_bucketed": _q_embedding_near_dup_bucketed,
        "embedding_near_dup_multiprobe": _q_embedding_near_dup_multiprobe,
        "ann_topk": _q_ann_topk,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_arrow": _q_ivf_topk,
        "pq_topk": _q_pq_topk,
        "ivfpq_topk": _q_ivfpq_topk,
        "semdedup": _q_semdedup,
        "ann_topk_multiprobe": _q_ann_topk_multiprobe,
        "lang_id": _q_lang_id,
        "lang_id_v2": _q_lang_id_v2,
        "lang_id_v2_margin": _q_lang_id_v2_margin,
        "line_dedup": _q_line_dedup,
        "doc_chunks": _q_doc_chunks,
        "url_parse": _q_url_parse,
        "url_domain_stats": _q_url_domain_stats,
        "url_blocklist": _q_url_blocklist,
        "dup_spans": _q_dup_spans,
        "quality_classifier": _q_quality_classifier,
        "quality_classifier_trained": _q_quality_classifier_trained,
        "dsir_select": _q_dsir_select,
        "perplexity_buckets": _q_perplexity_buckets,
        "top_ngrams": _q_top_ngrams,
        "wordpiece_tokens": _q_wordpiece_tokens,
        "mixture_sample_wordpiece": _q_mixture_sample_wordpiece,
        "hll_trigrams": _q_hll_trigrams,
        "hll_users_by_type": _q_hll_users_by_type,
        "hll_user_rollup": _q_hll_user_rollup,
        "cms_trigrams": _q_cms_trigrams,
        "bottomk_trigrams": _q_bottomk_trigrams,
        "bottomk_estimate": _q_bottomk_estimate,
        "bottomk_per_lang": _q_bottomk_per_lang,
        "decontaminate": _q_decontaminate,
        "html_extract": _q_html_extract,
        "pii_scrub": _q_pii_scrub,
        "sequence_pattern": _q_sequence_pattern,
        "sequence_pattern_3": _q_sequence_pattern_3,
        "sequence_pattern_absent": _q_sequence_pattern_absent,
        "event_quantiles": _q_event_quantiles,
        "value_histogram_quantiles": _q_value_histogram_quantiles,
        "multimodal_meta": _q_multimodal_meta,
        "frame_sample": _q_frame_sample,
        "resize_payload": _q_resize_payload,
        "tfidf_pairs": _q_tfidf_pairs,
        "text_quality": _q_text_quality,
        "doc_fingerprint": _q_fingerprint,
        "similarity_topk": _q_similarity_topk,
        "quantized_topk": _q_quantized_topk,
        "csv_position_lines": _q_csv_position_lines,
        "geohash_density": _q_geohash_density,
        "curate_corpus": _q_curate,
        "curate_corpus_cluster": _q_curate_cluster,
        "curate_corpus_lsh": _q_curate_lsh,
        "stratified_sample": _q_stratified_sample,
        "source_cap": _q_source_cap,
        "mixture_sample": _q_mixture_sample,
        "bm25_search": _q_bm25_search,
        "hybrid_search_rrf": _q_hybrid_search_rrf,
        "link_extract": _q_link_extract,
        "host_pagerank": _q_host_pagerank,
        "host_degree_stats": _q_host_degree_stats,
        "link_pagerank": _q_link_pagerank,
        "priority_sample": _q_priority_sample,
        "priority_sample_stratified": _q_priority_sample_stratified,
        "mmr_rerank": _q_mmr_rerank,
        "classifier_roc": _q_classifier_roc,
        "centroid_confusion": _q_centroid_confusion,
        "word_blocklist": _q_word_blocklist,
        "gopher_filter": _q_gopher_filter,
        "doc_keywords": _q_doc_keywords,
        "value_anomalies": _q_value_anomalies,
        "value_winsorized": _q_value_winsorized,
        "corpus_diff": _q_corpus_diff,
        "fuzzy_decontaminate": _q_fuzzy_decontaminate,
        "bpe_merges": _q_bpe_merges,
        "bpe_token_counts": _q_bpe_token_counts,
        "event_transitions": _q_event_transitions,
        "events_resampled": _q_events_resampled,
        "rp_project": _q_rp_project,
        "rp_topk": _q_rp_topk,
        "global_row_index": _q_global_row_index,
        "repetition_stats": _q_repetition_stats,
        "sequence_pack": _q_sequence_pack,
        "contamination_screen": _q_contamination_screen,
        "props_extract": _q_props_extract,
        "customer_revenue": _q_customer_revenue,
        "lineitem_pricing": _q_lineitem_pricing,
        "order_priority_semi": _q_order_priority_semi,
        "orders_no_returns_anti": _q_orders_no_returns_anti,
        "events_asof_error": _q_events_asof_error,
        "events_incident_window": _q_events_incident_window,
        "lineitem_rollup": _q_lineitem_rollup,
        "corpus_split": _q_corpus_split,
        "shuffle_shards": _q_shuffle_shards,
        "events_value_stats": _q_events_value_stats,
        "events_pivot": _q_events_pivot,
        "user_running_value": _q_user_running_value,
        "sessionize": _q_sessionize,
        "orders_cube": _q_orders_cube,
        "stream_position_committed": _q_stream_position_committed,
        "stream_dedup_committed": _q_stream_dedup_committed,
        "stream_curate_committed": _q_stream_curate_committed,
        "stream_url_blocklist_committed": _q_stream_url_blocklist_committed,
        "stream_window_committed": _q_stream_window_committed,
        "stream_hll_committed": _q_stream_hll_committed,
        "stream_cms_committed": _q_stream_cms_committed,
        "stream_window_multibatch": _q_stream_window_multibatch,
        "stream_session_committed": _q_stream_session_committed,
        "stream_join_committed": _q_stream_join_committed,
        "stream_funnel_committed": _q_stream_funnel_committed,
        "stream_funnel_first_committed": _q_stream_funnel_first_committed,
        "stream_absence_committed": _q_stream_absence_committed,
        "stream_token_screen_committed": _q_stream_token_screen_committed,
        "stream_funnel3_committed": _q_stream_funnel3_committed,
        "stream_quota_committed": _q_stream_quota_committed,
        "stream_priority_sample_committed":
            _q_stream_priority_sample_committed,
        "stream_anomalies_committed": _q_stream_anomalies_committed,
    }
    head = [k for k in _DRIVER_SAMPLE_HEAD if k in q]
    return {**{k: q[k] for k in head},
            **{k: v for k, v in q.items() if k not in set(head)}}


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------


def _pos_oracle(*, refraction: bool = True, elevation_angle: bool = False,
                grena: bool = False) -> str:
    gen = _osql.grena3_sql if grena else _osql.spa_sql
    kw = {} if grena else {"refraction": refraction}
    inner = gen(_astro_sql(), **kw)
    val = ("round(90.0 - zenith, 5) AS elevation_angle" if elevation_angle
           else "zenith")
    return (
        f"SELECT event_id, round(lat,5) AS lat, round(lon,5) AS lon, "
        f"azimuth, {val} FROM ({inner})"
    )


_SLIDE_ORACLE = """
SELECT win_start AS window_start, count(*) AS n
FROM (
  SELECT (CAST(floor(epoch(ts)/900) AS BIGINT) - k.k) * 900 AS win_start
  FROM events, (SELECT unnest([0,1,2,3]) AS k) k
)
GROUP BY win_start
"""

_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess GROUP BY user_id, sid
"""

_TEXT_QUALITY_ORACLE = """
WITH w AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         string_split_regex(trim(text), '\\s+') AS words
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(len(words) AS BIGINT) AS n_words,
       round(n_punct * 1.0 / n_chars, 6) AS punct_ratio,
       round(len(list_filter(words, w -> lower(w) IN
             ('the','a','of','and','to','in','is'))) * 1.0 / len(words), 6)
           AS stopword_ratio,
       round(n_chars * 1.0 / len(words), 6) AS avg_word_len,
       CAST(list_sum(list_transform(words,
              w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT))))
            + n_punct AS BIGINT) AS est_bpe_tokens
FROM w
"""

_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(list_dot_product(q.qvec, c.cvec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS score
  FROM c, q WHERE c.neighbor_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 3
"""


def oracle_sql() -> dict[str, str]:
    return {
        "position_spa": _pos_oracle(),
        "position_grena3": _pos_oracle(grena=True),
        "position_no_refraction": _pos_oracle(refraction=False),
        "elevation_angle": _pos_oracle(elevation_angle=True),
        "tokens_roundtrip": _DECODED_FIELDS_ORACLE,
        "token_decontaminate": _TOKEN_DECONTAMINATE_ORACLE,
        "token_novelty": _TOKEN_NOVELTY_ORACLE,
        "coord_grid": """
            SELECT la.i * 241 + lo.i AS ord,
                   round(-60.0 + la.i * 0.25, 5) AS lat,
                   round(-30.0 + lo.i * 0.25, 5) AS lon
            FROM (SELECT unnest(range(0, 481)) AS i) la,
                 (SELECT unnest(range(0, 241)) AS i) lo
        """,
        "time_series": """
            SELECT unnest(range(1041379200, 1072915200, 7200)) AS unix_sec
        """,
        "time_series_zoned": _time_series_zoned_oracle(),
        "cartesian_sweep": _sweep_oracle(),
        "sunrise_daily": _sunrise_oracle(),
        "twilight": _twilight_oracle(),
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "minhash_lsh_checkable": _minhash_oracle(),
        "simhash_checkable": _simhash_oracle(),
        "minhash_verified": _minhash_verified_oracle(),
        "dedup_pipeline": _dedup_pipeline_oracle(),
        "simhash_near_dup": _simhash_near_dup_oracle(),
        "simhash_near_dup_capped": _simhash_near_dup_oracle(max_piece_df=40),
        "dup_clusters": _DUP_CLUSTERS_ORACLE,
        "dedup_canonical": _DEDUP_CANONICAL_ORACLE,
        "embedding_near_dup": _NEAR_DUP_ORACLE,
        "embedding_near_dup_bucketed": _near_dup_bucketed_oracle(),
        "embedding_near_dup_multiprobe": _near_dup_multiprobe_oracle(),
        "ann_topk": _ann_oracle(),
        "ann_topk_multiprobe": _ann_multiprobe_oracle(),
        "lang_id": _LANG_ID_ORACLE,
        "lang_id_v2": _lang_id_v2_oracle(),
        "lang_id_v2_margin": _lang_id_v2_oracle(min_margin=25),
        "line_dedup": _LINE_DEDUP_ORACLE,
        "doc_chunks": _DOC_CHUNKS_ORACLE,
        "url_parse": _URL_PARSE_ORACLE,
        "url_domain_stats": _URL_DOMAIN_STATS_ORACLE,
        "url_blocklist": _URL_BLOCKLIST_ORACLE,
        "dup_spans": _DUP_SPANS_ORACLE,
        "quality_classifier": _QUALITY_CLASSIFIER_ORACLE,
        "quality_classifier_trained": _perceptron_trained_oracle(),
        "dsir_select": _DSIR_SELECT_ORACLE,
        "perplexity_buckets": _PERPLEXITY_BUCKETS_ORACLE,
        "top_ngrams": _TOP_NGRAMS_ORACLE,
        "wordpiece_tokens": _WORDPIECE_ORACLE,
        "mixture_sample_wordpiece": _mixture_wp_oracle(),
        "hll_trigrams": _HLL_TRIGRAMS_ORACLE,
        "hll_users_by_type": _HLL_USERS_BY_TYPE_ORACLE,
        "hll_user_rollup": _HLL_USER_ROLLUP_ORACLE,
        "cms_trigrams": _CMS_TRIGRAMS_ORACLE,
        "bottomk_trigrams": _BOTTOMK_TRIGRAMS_ORACLE,
        "bottomk_estimate": _BOTTOMK_ESTIMATE_ORACLE,
        "bottomk_per_lang": _bottomk_per_lang_oracle(),
        "decontaminate": _DECONTAMINATE_ORACLE,
        "html_extract": _HTML_EXTRACT_ORACLE,
        "pii_scrub": _pii_scrub_oracle(),
        "sequence_pattern": _SEQUENCE_PATTERN_ORACLE,
        "sequence_pattern_absent": _SEQUENCE_PATTERN_ABSENT_ORACLE,
        "sequence_pattern_3": _sequence_chain_oracle(_CHAIN_TYPES, _CHAIN_WITHIN),
        "event_quantiles": _EVENT_QUANTILES_ORACLE,
        "value_histogram_quantiles": _VALUE_HISTOGRAM_QUANTILES_ORACLE,
        "multimodal_meta": _MULTIMODAL_ORACLE,
        "frame_sample": _FRAME_SAMPLE_ORACLE,
        "resize_payload": _RESIZE_ORACLE,
        "tfidf_pairs": _TFIDF_PAIRS_ORACLE,
        "csv_position_lines": _csv_lines_oracle(),
        "geohash_density": _geohash_oracle(),
        "curate_corpus": _CURATE_ORACLE,
        "curate_corpus_cluster": _CURATE_CLUSTER_ORACLE,
        "curate_corpus_lsh": _curate_lsh_oracle(),
        "stratified_sample": _STRATIFIED_SAMPLE_ORACLE,
        "source_cap": _SOURCE_CAP_ORACLE,
        "mixture_sample": _MIXTURE_SAMPLE_ORACLE,
        "bm25_search": search.bm25_sql_oracle(_BM25_QUERY, k=15),
        "hybrid_search_rrf": _hybrid_rrf_oracle(),
        "link_extract": _LINK_EXTRACT_ORACLE,
        "host_pagerank": _graph.pagerank_sql_oracle(
            _HOST_EDGES_CTE, rounds=8),
        "host_degree_stats": _HOST_DEGREE_ORACLE,
        "link_pagerank": _graph.pagerank_sql_oracle(
            _LINK_EDGES_CTE, rounds=6),
        "priority_sample": _priority_sample_oracle(k=50),
        "priority_sample_stratified": _priority_sample_oracle(
            k=20, strata=True),
        "mmr_rerank": _mmr_oracle(k=10, depth=50, lam=0.75),
        "classifier_roc": _classifier_roc_oracle(),
        "centroid_confusion": _CENTROID_CONFUSION_ORACLE,
        "word_blocklist": _WORD_BLOCKLIST_ORACLE,
        "gopher_filter": _gopher_filter_oracle(),
        "doc_keywords": _DOC_KEYWORDS_ORACLE,
        "value_anomalies": _VALUE_ANOMALIES_ORACLE,
        "value_winsorized": _VALUE_WINSORIZED_ORACLE,
        "corpus_diff": _CORPUS_DIFF_ORACLE,
        "fuzzy_decontaminate": _fuzzy_decontaminate_oracle(),
        "bpe_merges": _bpe_oracle(merges=20),
        "bpe_token_counts": _bpe_oracle(merges=20, doc_counts=True),
        "event_transitions": _EVENT_TRANSITIONS_ORACLE,
        "events_resampled": _EVENTS_RESAMPLED_ORACLE,
        "rp_project": _rp_project_oracle(),
        "rp_topk": _rp_topk_oracle(),
        "global_row_index": _GLOBAL_ROW_INDEX_ORACLE,
        "ivf_topk": _ivf_topk_oracle(),
        "ivf_topk_arrow": _ivf_topk_oracle(),
        "pq_topk": _pq_topk_oracle(),
        "ivfpq_topk": _ivfpq_topk_oracle(),
        "semdedup": _semdedup_oracle(),
        "repetition_stats": _REPETITION_STATS_ORACLE,
        "sequence_pack": _SEQUENCE_PACK_ORACLE,
        "contamination_screen": _CONTAMINATION_ORACLE,
        "props_extract": _PROPS_ORACLE,
        "customer_revenue": _CUSTOMER_REVENUE_ORACLE,
        "order_priority_semi": _ORDER_PRIORITY_SEMI_ORACLE,
        "orders_no_returns_anti": _ORDERS_NO_RETURNS_ANTI_ORACLE,
        "events_asof_error": _EVENTS_ASOF_ORACLE,
        "events_incident_window": _EVENTS_INCIDENT_ORACLE,
        "lineitem_rollup": _LINEITEM_ROLLUP_ORACLE,
        "corpus_split": _CORPUS_SPLIT_ORACLE,
        "shuffle_shards": _SHUFFLE_SHARDS_ORACLE,
        "events_value_stats": _EVENTS_VALUE_STATS_ORACLE,
        "events_pivot": _EVENTS_PIVOT_ORACLE,
        "user_running_value": _USER_RUNNING_VALUE_ORACLE,
        "sessionize": _SESSIONIZE_ORACLE,
        "orders_cube": _ORDERS_CUBE_ORACLE,
        "stream_position_committed": _stream_pos_oracle(),
        "stream_dedup_committed": _DECODED_FIELDS_ORACLE,
        "stream_curate_committed": _STREAM_CURATE_ORACLE,
        "stream_url_blocklist_committed": _STREAM_URL_BLOCKLIST_ORACLE,
        "stream_window_committed": _STREAM_WINDOW_ORACLE,
        "stream_hll_committed": _hll_oracle(_STREAM_HLL_SRC, p=10,
                                            group="ws"),
        "stream_cms_committed": _stream_cms_oracle(),
        "stream_window_multibatch": _STREAM_WINDOW_MULTIBATCH_ORACLE,
        "stream_session_committed": _STREAM_SESSION_ORACLE,
        "stream_join_committed": _stream_join_oracle(),
        "stream_funnel_committed": _STREAM_FUNNEL_ORACLE,
        "stream_funnel_first_committed": _STREAM_FUNNEL_FIRST_ORACLE,
        "stream_absence_committed": _STREAM_ABSENCE_ORACLE,
        "stream_token_screen_committed": _TOKEN_DECONTAMINATE_ORACLE,
        "stream_funnel3_committed": _sequence_chain_oracle(
            _CHAIN_TYPES, _CHAIN_WITHIN, id_below=10000,
            wm_cut_delay_s=3600),
        "stream_quota_committed": _STREAM_QUOTA_ORACLE,
        "stream_priority_sample_committed":
            _stream_priority_sample_oracle(),
        "stream_anomalies_committed": _STREAM_ANOMALIES_ORACLE,
        "deltat_estimate": _DELTAT_ORACLE,
        "position_deltat_estimated": _position_deltat_estimated_oracle(),
        "window_tumbling": """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
                   event_type, count(*) AS n, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "window_sliding": _SLIDE_ORACLE,
        "window_session": _SESSION_ORACLE,
        "dedup_exact": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        "text_quality": _TEXT_QUALITY_ORACLE,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "similarity_topk": _TOPK_ORACLE,
        "quantized_topk": _QUANTIZED_TOPK_ORACLE,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
    }


_DELTAT_ORACLE = """
WITH ym AS (SELECT DISTINCT year(ts) AS y, month(ts) AS m FROM events),
dy AS (SELECT y, m, y + (m - 0.5) / 12.0 AS yy FROM ym)
SELECT y, m,
  round(CASE
    WHEN yy >= 2005 AND yy < 2050 THEN
      62.92 + 0.32217*(yy-2000) + 0.005589*(yy-2000)*(yy-2000)
    WHEN yy >= 1986 AND yy < 2005 THEN
      63.86 + 0.3345*(yy-2000) - 0.060374*pow(yy-2000,2) + 0.0017275*pow(yy-2000,3)
      + 0.000651814*pow(yy-2000,4) + 0.00002373599*pow(yy-2000,5)
    ELSE NULL END, 6) AS delta_t_est
FROM dy
"""


def _sweep_oracle() -> str:
    base = """
    SELECT round(50.0 + la.i * 0.25, 5) AS lat,
           round(10.0 + lo.i * 0.25, 5) AS lon,
           CAST(1717200000 + t.i * 21600 AS BIGINT) AS usec,
           0.0 AS elevation, 1013.0 AS pressure, 15.0 AS temperature,
           69.0 AS delta_t
    FROM (SELECT unnest(range(0, 21)) AS i) la,
         (SELECT unnest(range(0, 21)) AS i) lo,
         (SELECT unnest(range(0, 120)) AS i) t
    """
    inner = _osql.spa_sql(base)
    return (
        "SELECT lat, lon, usec, azimuth, zenith FROM (" + inner + ")"
    )
