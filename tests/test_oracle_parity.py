"""Locks the generated SQL oracles against the engine on edge inputs.

* solarpos_spark/oracle_sql.py against the numpy kernels on random
  inputs (pure DuckDB + numpy, runs in seconds): any drift between the
  kernel implementations and the generated SQL (coefficient tables, mod
  semantics, interpolation, refraction guards) fails here before it can
  fail in the driver's gate.
* the hash family in solarpos_spark/operators/hashing.py: each Spark
  builder, its DuckDB SQL twin and a plain-Python reference agree bit for
  bit (TestHashTwins, needs the Spark session).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from solarpos_spark import oracle_sql
from solarpos_spark.kernels import grena3, spa, sunrise
from solarpos_spark.operators import hashing as H

N = 400
BASE = ("SELECT rid, usec, lat, lon, 0.0 AS elevation, 1013.0 AS pressure, "
        "15.0 AS temperature, 69.0 AS delta_t FROM inp")


@pytest.fixture(scope="module")
def rand_inputs():
    rng = np.random.default_rng(123)
    return {
        "rid": np.arange(N),
        "usec": rng.integers(1577836800, 1924991999, N),
        "lat": np.round(rng.uniform(-88, 88, N), 5),
        "lon": np.round(rng.uniform(-180, 180, N), 5),
    }


@pytest.fixture(scope="module")
def con(rand_inputs):
    c = duckdb.connect()
    c.register("inp", pd.DataFrame(rand_inputs))
    return c


def test_spa_sql_matches_kernel(con, rand_inputs):
    r = con.sql(oracle_sql.spa_sql(BASE) + " ORDER BY rid").df()
    az, zen = spa.solar_position(
        rand_inputs["usec"].astype(float), rand_inputs["lat"],
        rand_inputs["lon"], 0.0, 69.0, 1013.0, 15.0)
    assert np.array_equal(np.round(az, 5), r["azimuth"].to_numpy())
    assert np.array_equal(np.round(zen, 5), r["zenith"].to_numpy())


def test_spa_sql_no_refraction(con, rand_inputs):
    r = con.sql(oracle_sql.spa_sql(BASE, refraction=False)
                + " ORDER BY rid").df()
    az, zen = spa.solar_position(
        rand_inputs["usec"].astype(float), rand_inputs["lat"],
        rand_inputs["lon"], 0.0, 69.0)
    assert np.array_equal(np.round(zen, 5), r["zenith"].to_numpy())


def test_grena3_sql_matches_kernel(con, rand_inputs):
    r = con.sql(oracle_sql.grena3_sql(BASE) + " ORDER BY rid").df()
    az, zen = grena3.solar_position(
        rand_inputs["usec"].astype(float), rand_inputs["lat"],
        rand_inputs["lon"], 69.0, 1013.0, 15.0)
    assert np.array_equal(np.round(az, 5), r["azimuth"].to_numpy())
    assert np.array_equal(np.round(zen, 5), r["zenith"].to_numpy())


def test_sunrise_sql_matches_kernel(con, rand_inputs):
    day0 = (rand_inputs["usec"] // 86400) * 86400
    con.register("inp2", pd.DataFrame({
        "rid": rand_inputs["rid"], "day0": day0,
        "lat": rand_inputs["lat"], "lon": rand_inputs["lon"]}))
    q = oracle_sql.sunrise_sql(
        "SELECT rid, day0, lat, lon, 69.0 AS delta_t FROM inp2")
    r = con.sql(q + " ORDER BY rid").df()
    res = sunrise.sunrise_transit_set(day0.astype(float), rand_inputs["lat"],
                                      rand_inputs["lon"], 69.0)
    kinds = np.array(["NORMAL", "ALL_DAY", "ALL_NIGHT"])[res.kind[:, 0]]
    assert np.array_equal(kinds, r["type"].to_numpy())
    assert np.array_equal(day0 + np.floor(res.transit).astype(np.int64),
                          r["transit_usec"].to_numpy())
    normal = kinds == "NORMAL"
    got_rise = r["sunrise_usec"].to_numpy(dtype="float64", na_value=np.nan)
    want_rise = np.where(normal, day0 + np.floor(res.sunrise[:, 0]), np.nan)
    assert np.array_equal(np.nan_to_num(want_rise, nan=-1),
                          np.nan_to_num(got_rise, nan=-1))


# -- the engine-portable hash family -------------------------------------

# The references spell every constant out, so a constant changed in the
# hash module (on either side) fails here.
_P = 2147483647
_M32 = 1 << 32


def _ref_poly31(s, base):
    if s is None:
        return None
    acc = 0
    for ch in s:
        acc = (acc * base + ord(ch)) % _P
    return acc


def _ref_salted(h, i):
    return ((2 * i + 1) * 2654435761 % _P * h + (i * 40503 + 12345) % _P) % _P


def _ref_id32(x, seed):
    return (x % _M32 + seed) % _M32


def _ref_fmix32(h):
    h ^= h >> 16
    h = h * 0x85EBCA6B % _M32
    h ^= h >> 13
    h = h * 0xC2B2AE35 % _M32
    return h ^ (h >> 16)


def _ref_band(vals, band):
    acc = band
    for v in vals:
        acc = (acc * 31 + v % _P) % _P
    return acc


class TestHashTwins:
    IDS = [0, 1, 65535, 65536, _M32 - 1, _M32, 2**62, 2**63 - 1,
           -1, -_M32, -(_M32 + 7), -(2**62), -(2**63)]
    STRS = ["", None, "héllo wörld ß", "中文 字符", "a\U0001F600b \U0001D518",
            "x" * 600, "the quick brown fox"]
    SALT_ROWS = range(32)

    @staticmethod
    def _twins(spark, rows, schema, cols):
        """Rows through the Spark builders and the DuckDB twins. ``cols``
        maps name -> (Spark column, SQL expression); returns both sides'
        values per name, in row order."""
        names = [f.split()[0] for f in schema.split(",")]
        sdf = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)], f"rid long, {schema}")
        got = sdf.select(
            "rid", *[c.alias(n) for n, (c, _) in cols.items()]) \
            .orderBy("rid").collect()
        con = duckdb.connect()
        con.register("t", pd.DataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            columns=["rid", *names]).astype({"rid": "int64"}))
        sql = ", ".join(f"{q} AS {n}" for n, (_, q) in cols.items())
        twin = con.sql(f"SELECT {sql} FROM t ORDER BY rid").fetchall()
        return {n: ([r[n] for r in got], [r[j] for r in twin])
                for j, n in enumerate(cols)}

    def _check(self, out, want):
        for name, (spark_vals, sql_vals) in out.items():
            assert spark_vals == want[name], (name, "spark")
            assert sql_vals == want[name], (name, "sql")

    def test_poly31(self, spark):
        cols = {f"b{b}": (H.poly31_hash_arrow(F.col("s"), b),
                          H.poly31_sql("s", b)) for b in (31, 131)}
        out = self._twins(spark, [(s,) for s in self.STRS], "s string", cols)
        self._check(out, {f"b{b}": [_ref_poly31(s, b) for s in self.STRS]
                          for b in (31, 131)})

    def test_salted_poly(self, spark):
        hs = [0, 1, 97, _P - 1] + [_ref_poly31(s, 31)
                                   for s in self.STRS if s]
        rows = [(h, i) for h in hs for i in self.SALT_ROWS]
        cols = {"col": (H.salted_poly(F.col("h"), F.col("i")),
                        H.salted_poly_sql("h", "i"))}
        # an int row index folds to literals: one column per index
        cols.update({f"s{i}": (H.salted_poly(F.col("h"), i),
                               H.salted_poly_sql("h", i))
                     for i in self.SALT_ROWS})
        out = self._twins(spark, rows, "h long, i int", cols)
        want = {"col": [_ref_salted(h, i) for h, i in rows]}
        want.update({f"s{i}": [_ref_salted(h, i) for h, _ in rows]
                     for i in self.SALT_ROWS})
        self._check(out, want)

    def test_id32_mul32_fmix32_hash_bucket(self, spark):
        cols, want = {}, {}
        for seed in (1, 7):
            x, xq = H.id32(F.col("id"), seed), H.id32_sql("id", seed)
            cols[f"x{seed}"] = (x, xq)
            want[f"x{seed}"] = [_ref_id32(v, seed) for v in self.IDS]
            cols[f"f{seed}"] = (H.fmix32(x), H.fmix32_sql(xq))
            want[f"f{seed}"] = [_ref_fmix32(_ref_id32(v, seed))
                                for v in self.IDS]
            for denom in (10000, _M32):
                n = f"k{seed}_{denom}"
                cols[n] = (H.hash_bucket(F.col("id"), seed, denom),
                           H.hash_bucket_sql("id", seed, denom))
                want[n] = [_ref_id32(v, seed) * 2654435761 % _M32 % denom
                           for v in self.IDS]
        for b in (2654435761, 0x85EBCA6B, 0xC2B2AE35):
            cols[f"m{b}"] = (H.mul32(H.id32(F.col("id"), 0), b),
                             H.mul32_sql(H.id32_sql("id", 0), b))
            want[f"m{b}"] = [v % _M32 * b % _M32 for v in self.IDS]
        out = self._twins(spark, [(v,) for v in self.IDS], "id long", cols)
        self._check(out, want)
        assert want["f1"] == [H.py_fmix32(_ref_id32(v, 1)) for v in self.IDS]

    def test_poly31_band(self, spark):
        rng = np.random.default_rng(7)
        rows = [(0, 0, 0, 0), (_P - 1,) * 4, (1, _P - 1, 0, 12345)] + [
            tuple(int(v) for v in rng.integers(0, _P, 4)) for _ in range(20)]
        hc = [F.col(f"h{r}") for r in range(4)]
        hq = [f"h{r}" for r in range(4)]
        cols = {f"band{b}": (H.poly31_band(hc, b), H.poly31_band_sql(hq, b))
                for b in range(8)}
        out = self._twins(spark, rows, "h0 long, h1 long, h2 long, h3 long",
                          cols)
        self._check(out, {f"band{b}": [_ref_band(r, b) for r in rows]
                          for b in range(8)})
