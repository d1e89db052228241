"""Registry entries against their generated DuckDB oracles, in-suite.

The same comparison as tools/check_correctness.py (row count, column
names, order-insensitive value hash after ``normalize``) on one Spark
session and one DuckDB connection at sf0.001. ENTRIES holds the codebook
family (IVF, PQ, IVF-PQ, SemDeDup), whose Spark side and oracle compute
every assignment and Lloyd round independently, and the astronomy entries
that run the position and sunrise UDFs; widening it to every entry of
``oracle_sql()`` needs no other change.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from tools.check_correctness import TABLES, normalize, value_hash

SF = "/root/testdata/sf0.001"
ENTRIES = ["ivf_topk", "ivf_topk_arrow", "pq_topk", "ivfpq_topk", "semdedup",
           "position_spa", "position_grena3", "position_no_refraction",
           "elevation_angle", "position_deltat_estimated", "cartesian_sweep",
           "sunrise_daily", "twilight"]


@pytest.fixture(scope="module")
def registry():
    return entry.queries(), entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_oracle(spark, con, registry, name):
    queries, oracles = registry
    got = normalize(queries[name](spark, SF).toPandas())
    want = normalize(con.sql(oracles[name]).df())
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)
