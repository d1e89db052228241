"""Transition matrix, resample/gap-fill, and sparse random projection."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from solarpos_spark.operators.relational import (
    resample_fill, transition_matrix)
from solarpos_spark.operators.similarity import (
    random_project, rp_signs, rp_sql_proj, rp_topk)
from solarpos_spark.operators.hashing import py_fmix32


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")


def _t(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


class TestTransitionMatrix:
    def test_counts_and_probs(self, spark):
        rows = [
            (1, 1, _t(0), "a", 0.0), (2, 1, _t(1), "b", 0.0),
            (3, 1, _t(2), "a", 0.0), (4, 1, _t(3), "c", 0.0),
            (5, 2, _t(0), "a", 0.0), (6, 2, _t(1), "b", 0.0),
        ]
        got = {(r.from_type, r.to_type): (r.n, r.p) for r in
               transition_matrix(_ev(spark, rows)).collect()}
        assert got[("a", "b")] == (2, round(2 / 3, 6))
        assert got[("a", "c")] == (1, round(1 / 3, 6))
        assert got[("b", "a")] == (1, 1.0)
        assert ("c", "a") not in got  # last event has no successor

    def test_no_cross_user_transitions(self, spark):
        rows = [(1, 1, _t(0), "a", 0.0), (2, 2, _t(1), "b", 0.0)]
        assert transition_matrix(_ev(spark, rows)).count() == 0

    def test_single_shuffle_plus_tiny_aggregate(self, spark):
        rows = [(i, i % 3, _t(i), "ab"[i % 2], 0.0) for i in range(30)]
        plan = transition_matrix(_ev(spark, rows)) \
            ._jdf.queryExecution().executedPlan().toString()
        # lead-window exchange + count exchange + denominator window
        # exchange over |types|^2 rows — and nothing else
        assert plan.count("Exchange") <= 3


class TestResampleFill:
    def test_gaps_filled_forward(self, spark):
        rows = [
            (1, 1, _t(0), "a", 10.0),
            (2, 1, _t(5), "a", 20.0),     # same bucket (10 s grid: 0)
            (3, 1, _t(35), "a", 40.0),    # bucket 30; 10+20 gap empty
        ]
        got = {r.bucket_start: (r.n, r.avg_value, r.filled) for r in
               resample_fill(_ev(spark, rows), bucket_s=10).collect()}
        base = int(dt.datetime(2024, 1, 1).replace(
            tzinfo=dt.timezone.utc).timestamp())
        assert got[base] == (2, 15.0, False)
        assert got[base + 10] == (0, 15.0, True)   # carried forward
        assert got[base + 20] == (0, 15.0, True)
        assert got[base + 30] == (1, 40.0, False)
        assert len(got) == 4  # dense grid, no missing buckets

    def test_empty_leading_grid_never_happens(self, spark):
        # grid starts at the first NON-empty bucket, so avg_value is
        # never null
        rows = [(1, 1, _t(0), "a", 1.0), (2, 1, _t(59), "a", 3.0)]
        out = resample_fill(_ev(spark, rows), bucket_s=10).collect()
        assert all(r.avg_value is not None for r in out)


class TestRandomProjection:
    def test_py_fmix32_matches_engine(self, spark):
        from solarpos_spark.operators.hashing import fmix32

        df = spark.range(100).select(
            fmix32(F.col("id")).alias("h"), "id")
        for r in df.collect():
            assert r.h == py_fmix32(r.id)

    def test_sign_matrix_density(self):
        signs = rp_signs(64, 16, seed=1)
        flat = [s for row in signs for s in row]
        nz = sum(1 for s in flat if s != 0)
        # E[nz] = 1024/3 ≈ 341
        assert 280 <= nz <= 400
        assert set(flat) <= {-1, 0, 1}

    def test_projection_matches_numpy(self, spark):
        import numpy as np

        vecs = [(i, [float(((i * 7 + j) % 13) - 6) / 6.0
                     for j in range(64)]) for i in range(20)]
        df = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<float>")
        got = {r.vec_id: list(r.proj) for r in
               random_project(df, in_dim=64, out_dim=16).collect()}
        signs = np.array(rp_signs(64, 16, seed=1), dtype=np.float64)
        sc = math.sqrt(3.0 / 16)
        for i, v in vecs:
            want = (np.array(v, dtype=np.float32).astype(np.float64)
                    @ signs) * sc
            assert got[i] == pytest.approx(list(want), abs=1e-6)

    def test_zero_exchanges(self, spark):
        df = spark.createDataFrame([(1, [0.5] * 64)],
                                   "vec_id long, embedding array<float>")
        plan = random_project(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_sql_oracle_matches(self, spark):
        import duckdb

        vecs = [(i, [float(((i * 11 + j) % 17) - 8) / 8.0
                     for j in range(64)]) for i in range(10)]
        df = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<float>")
        got = sorted((r.vec_id, tuple(r.proj)) for r in
                     random_project(df).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t (vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO t VALUES (?, ?)", vecs)
        lst = rp_sql_proj(vec_expr="embedding::DOUBLE[]")
        want = sorted((i, tuple(p)) for i, p in con.sql(
            f"SELECT vec_id, {lst} FROM t").fetchall())
        assert got == want

    def test_rp_topk_recall_vs_exact(self, spark):
        from solarpos_spark.operators.similarity import brute_force_topk

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.neighbor_id) for r in
                 brute_force_topk(emb, q, k=3).collect()}
        approx = {(r.query_id, r.neighbor_id) for r in
                  rp_topk(emb, q, k=3, shortlist=10).collect()}
        recall = len(exact & approx) / len(exact)
        # this corpus is near-orthogonal random vectors (pairwise cosine
        # ~ 0 ± 0.12), hostile to every ANN here (IVF recall@5 is 0.57,
        # lowest-id codebook 0.47 — test_pipeline_ops precedent), so the
        # bar is "far above chance", not "near exact": random top-3 of
        # 499 would hit 3/499 ≈ 0.006; JL at 64→16 holds ~0.2.
        assert recall >= 0.1, recall


class TestNearestCentroidConfusion:
    def test_separable_clusters_diagonal(self, spark):
        from solarpos_spark.operators.similarity import (
            nearest_centroid_confusion)

        # 3 well-separated clusters in 4-d; label == cluster
        rows = []
        protos = {0: [1.0, 0, 0, 0], 1: [0, 1.0, 0, 0], 2: [0, 0, 1.0, 0]}
        vid = 0
        for lab, p in protos.items():
            for j in range(5):
                v = [x + 0.01 * ((vid * 7 + j) % 5 - 2) for x in p]
                rows.append((vid, v, lab))
                vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        got = {(r.label, r.pred_label): r.n for r in
               nearest_centroid_confusion(df, dim=4).collect()}
        assert got == {(0, 0): 5, (1, 1): 5, (2, 2): 5}

    def test_negative_coordinates_deterministic(self, spark):
        from solarpos_spark.operators.similarity import (
            nearest_centroid_confusion)

        # negative-sum centroids: Spark `div` and DuckDB `//` both
        # truncate toward zero — and two identical runs must agree
        rows = [(i, [-0.5 - 0.01 * i, 0.3, -0.7, 0.1], i % 2)
                for i in range(8)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        a = sorted(map(tuple,
                       nearest_centroid_confusion(df, dim=4).collect()))
        b = sorted(map(tuple,
                       nearest_centroid_confusion(df, dim=4).collect()))
        assert a == b and sum(t[2] for t in a) == 8
