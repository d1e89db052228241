"""Local replica of the driver's correctness gate.

Runs every __spark_entry__ query at the given sf_dir on Spark AND its DuckDB
oracle, comparing row count, column names, and an order-insensitive value
hash. Each line ends with ``oracle=`` (the first 12 hex digits of the
sha256 of the oracle SQL with whitespace runs collapsed) and the Spark
side's ``value=`` hash, so a diff of two checkouts' output separates "the
oracle text changed" from "the values changed". The session uses
build_session()'s default cores (SPARK_GRAFT_CPUS, else every CPU).
A name that is not a registry entry exits 2 before any work; otherwise the
run ends with a ``checked=N failed=M`` line and exits 1 if M > 0.
Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = df.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_digest(sql: str | None) -> str:
    if sql is None:
        return "none"
    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()[:12]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.round(9)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        else:
            out[c] = s.astype(str)
    return pd.DataFrame(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from solarpos_spark.plans.session import build_session

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    spark = build_session(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entrymod.oracle_sql()
    checked = failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        digest = oracle_digest(oracles.get(name))
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (rows-only, no oracle) "
                  f"oracle={digest} value={value_hash(normalize(sdf))}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        s_n, o_n = normalize(sdf), normalize(odf)
        ok_rows = len(s_n) == len(o_n)
        ok_cols = sorted(s_n.columns) == sorted(o_n.columns)
        s_hash = value_hash(s_n)
        ok_hash = ok_rows and ok_cols and s_hash == value_hash(o_n)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name}: {status} rows={len(s_n)}/{len(o_n)} cols={ok_cols} "
              f"hash={ok_hash} oracle={digest} value={s_hash}")
        if not ok_hash and ok_rows and ok_cols and len(s_n) > 0:
            key = sorted(s_n.columns)
            a = s_n[key].astype(str).agg("|".join, axis=1).sort_values().reset_index(drop=True)
            b = o_n[key].astype(str).agg("|".join, axis=1).sort_values().reset_index(drop=True)
            diff = a[a != b]
            for i in diff.index[:3]:
                print(f"   spark: {a[i]}")
                print(f"  oracle: {b[i]}")
    spark.stop()
    print(f"checked={checked} failed={failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
