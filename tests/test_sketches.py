"""HyperLogLog register-relation sketch (operators/sketches.py).

Covers: register construction, the merge law (max per bucket ==
direct pass over the union), grouped estimates, correction-branch
selection (linear counting vs raw), estimate accuracy within the
published 1.04/sqrt(m) bound, and poly31/xxhash64 variants.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from solarpos_spark.operators import sketches


def _values(spark, n, prefix="v", group=None):
    df = spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id")).alias("val"))
    if group is not None:
        df = df.withColumn("g", F.lit(group))
    return df


class TestRegisters:
    def test_register_relation_bounded(self, spark):
        regs = sketches.hll_registers(_values(spark, 5000), "val", p=6)
        rows = regs.collect()
        assert len(rows) <= 64
        assert all(0 <= r.bucket < 64 for r in rows)
        # W=32, p=6 -> rank in [1, 27]
        assert all(1 <= r.register <= 27 for r in rows)

    def test_bad_p_raises(self, spark):
        with pytest.raises(ValueError):
            sketches.hll_registers(_values(spark, 10), "val", p=3)

    def test_int_column_hashes_via_string(self, spark):
        """int64 keys hash through their decimal string form: the register
        relation equals the one built from the string column directly."""
        ints = spark.range(500).select(F.col("id").alias("val"))
        strs = spark.range(500).select(F.col("id").cast("string").alias("val"))
        a = sorted(map(tuple, sketches.hll_registers(ints, "val").collect()))
        b = sorted(map(tuple, sketches.hll_registers(strs, "val").collect()))
        assert a == b


class TestMergeLaw:
    def test_merge_equals_direct_union(self, spark):
        """max(max(A), max(B)) == max(A union B): merged per-part sketches
        give bit-identical registers (and hence estimate) to one pass."""
        a = _values(spark, 3000, prefix="a")
        b = _values(spark, 2000, prefix="a")  # overlapping keys a0..a1999
        ra = sketches.hll_registers(a, "val", p=10)
        rb = sketches.hll_registers(b, "val", p=10)
        merged = sketches.hll_merge(ra.unionAll(rb))
        direct = sketches.hll_registers(a.unionAll(b), "val", p=10)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))

    def test_merge_idempotent(self, spark):
        regs = sketches.hll_registers(_values(spark, 1000), "val", p=8)
        twice = sketches.hll_merge(regs.unionAll(regs))
        assert sorted(map(tuple, twice.collect())) == \
            sorted(map(tuple, regs.collect()))

    def test_merge_drops_group_granularity(self, spark):
        a = _values(spark, 400, group="x")
        b = _values(spark, 400, group="y")  # identical values, two groups
        regs = sketches.hll_registers(
            a.unionAll(b), "val", p=8, group_cols=("g",))
        merged = sketches.hll_merge(regs)  # global: duplicates collapse
        direct = sketches.hll_registers(_values(spark, 400), "val", p=8)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))


class TestEstimate:
    @pytest.mark.parametrize("n,p", [(200, 12), (5000, 10), (50000, 12)])
    def test_relative_error_within_bound(self, spark, n, p):
        est = sketches.hll_cardinality(
            _values(spark, n), "val", p=p).collect()[0]
        m = 1 << p
        bound = 4 * 1.04 / math.sqrt(m)  # ~4 sigma of the published error
        assert abs(est.est_distinct - n) / n < bound
        assert est.n_set + est.n_zero == m

    def test_linear_counting_branch_small_n(self, spark):
        """Tiny cardinality with mostly-empty registers -> 'linear', and
        linear counting is near-exact there."""
        est = sketches.hll_cardinality(
            _values(spark, 30), "val", p=12).collect()[0]
        assert est.correction == "linear"
        assert abs(est.est_distinct - 30) <= 2

    def test_raw_branch_at_moderate_fill(self, spark):
        est = sketches.hll_cardinality(
            _values(spark, 5000), "val", p=6).collect()[0]
        assert est.correction == "raw"

    def test_duplicates_do_not_inflate(self, spark):
        base = _values(spark, 1000)
        dup5 = base.unionAll(base).unionAll(base).unionAll(base).unionAll(base)
        a = sketches.hll_cardinality(base, "val", p=10).collect()[0]
        b = sketches.hll_cardinality(dup5, "val", p=10).collect()[0]
        assert a.est_distinct == b.est_distinct

    def test_grouped_estimates_independent(self, spark):
        df = _values(spark, 2000, group="big").unionAll(
            _values(spark, 100, prefix="w", group="small"))
        rows = {r.g: r for r in sketches.hll_cardinality(
            df, "val", p=10, group_cols=("g",)).collect()}
        assert abs(rows["big"].est_distinct - 2000) / 2000 < 0.15
        assert abs(rows["small"].est_distinct - 100) / 100 < 0.15

    def test_xxhash64_variant(self, spark):
        """Production hash: same machinery at W=32, estimate still lands."""
        est = sketches.hll_cardinality(
            _values(spark, 5000), "val", p=10, hash_fn="xxhash64").collect()[0]
        assert abs(est.est_distinct - 5000) / 5000 < 4 * 1.04 / math.sqrt(1024)

    def test_estimate_shuffle_order_independent(self, spark):
        """int64 harmonic sum -> identical digits at 8 vs 1 partitions."""
        df = _values(spark, 8000)
        a = sketches.hll_cardinality(df.repartition(8), "val", p=10)
        b = sketches.hll_cardinality(df.coalesce(1), "val", p=10)
        assert a.collect() == b.collect()


def _skewed(spark, n_heavy=300, n_tail=2000):
    """One heavy key repeated n_heavy times over a distinct tail."""
    heavy = spark.range(n_heavy).select(F.lit("heavy").alias("val"))
    tail = spark.range(n_tail).select(
        F.concat(F.lit("t"), F.col("id")).alias("val"))
    return heavy.unionAll(tail)


class TestCountMin:
    def test_table_bounded_and_mass_conserved(self, spark):
        df = _skewed(spark)
        t = sketches.cms_table(df, "val", depth=4, width=256)
        rows = t.collect()
        assert len(rows) <= 4 * 256
        per_row = {}
        for r in rows:
            assert 0 <= r.bucket < 256 and 0 <= r.row < 4
            per_row[r.row] = per_row.get(r.row, 0) + r.cnt
        # every depth row counts every input exactly once
        assert per_row == {i: 2300 for i in range(4)}

    def test_estimate_never_undercounts(self, spark):
        df = _skewed(spark)
        t = sketches.cms_table(df, "val", depth=4, width=256)
        probes = df.distinct()
        est = sketches.cms_estimate(t, probes, "val", depth=4, width=256)
        true = df.groupBy("val").count()
        joined = est.join(true, "val").collect()
        assert len(joined) == 2001
        assert all(r.est_cnt >= r["count"] for r in joined)
        heavy = [r for r in joined if r.val == "heavy"][0]
        # the heavy hitter dominates its buckets: tight estimate
        assert heavy.est_cnt - 300 <= 2300 // 256 * 4

    def test_unseen_probe_small(self, spark):
        """A value never inserted estimates at most the collision mass
        (and exactly 0 when some row has an untouched coordinate)."""
        df = _values(spark, 50)
        t = sketches.cms_table(df, "val", depth=4, width=1024)
        probe = spark.range(1).select(F.lit("never-inserted").alias("val"))
        est = sketches.cms_estimate(t, probe, "val", width=1024).collect()[0]
        assert est.est_cnt == 0  # 50 rows over 4096 counters: empty coord

    def test_merge_equals_direct(self, spark):
        a = _skewed(spark, n_heavy=100, n_tail=500)
        b = _skewed(spark, n_heavy=50, n_tail=300)
        ta = sketches.cms_table(a, "val", width=128)
        tb = sketches.cms_table(b, "val", width=128)
        merged = sketches.cms_merge(ta.unionAll(tb))
        direct = sketches.cms_table(a.unionAll(b), "val", width=128)
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, direct.collect()))

    def test_grouped_tables_independent(self, spark):
        df = _skewed(spark).withColumn("g", F.lit("x")).unionAll(
            _values(spark, 10, group="y"))
        t = sketches.cms_table(df, "val", group_cols=("g",), width=128)
        sums = {r.g: r.s for r in
                t.groupBy("g").agg(F.sum("cnt").alias("s")).collect()}
        assert sums == {"x": 4 * 2300, "y": 4 * 10}

class TestBloomDecontaminate:
    """bloom_bits + decontaminate_ngrams (text.py) — the membership
    sketch of the family, exercised through its consumer."""

    @pytest.fixture()
    def corpus_eval(self, spark):
        from pyspark.sql import Row
        mk = lambda i, ws: Row(doc_id=i, text=" ".join(ws))
        seq = [f"a{j}" for j in range(10)]          # 3 shared 8-grams
        corpus = spark.createDataFrame([
            mk(1, ["pre", "pad"] + seq),            # contaminated
            mk(2, [f"b{j}" for j in range(12)]),    # clean
            mk(3, seq + ["post"]),                  # contaminated
            mk(4, ["x"] * 6),                       # too short for 8-grams
        ])
        eval_df = spark.createDataFrame(
            [mk(100, seq), mk(101, [f"c{j}" for j in range(9)])])
        return corpus, eval_df

    def _brute(self, corpus, eval_df):
        from solarpos_spark.operators import text as t
        cg = t.ngram_occurrences(corpus, n=8).distinct()
        eg = t.ngram_occurrences(eval_df, n=8).select("ngram").distinct()
        return sorted((r.doc_id, r.n) for r in cg.join(eg, "ngram")
                      .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
                      .collect())

    @pytest.mark.parametrize("m_bits,k,hash_fn", [
        (1 << 16, 3, "xxhash64"), (2, 2, "xxhash64"),
        (1 << 16, 3, "poly31"), (2, 2, "poly31")])
    def test_exact_vs_brute_force(self, spark, corpus_eval, m_bits, k,
                                  hash_fn):
        """m_bits=2 forces EVERY gram through the Bloom stage as a false
        positive — the exact verify join must still produce the plain
        intersection answer, under both hash chains."""
        from solarpos_spark.operators import text as t
        corpus, eval_df = corpus_eval
        got = sorted((r.doc_id, r.n_hit_grams) for r in
                     t.decontaminate_ngrams(corpus, eval_df, m_bits=m_bits,
                                            k=k, hash_fn=hash_fn).collect())
        assert got == self._brute(corpus, eval_df)
        assert got == [(1, 3), (3, 3)]

    def test_bloom_bits_bounded_distinct(self, spark):
        from solarpos_spark.operators import text as t
        vals = _values(spark, 500)
        bits = t.bloom_bits(vals, "val", m_bits=64, k=3).collect()
        assert len(bits) <= 64
        assert len({r.pos for r in bits}) == len(bits)
        assert all(0 <= r.pos < 64 for r in bits)

    def test_exact_join_above_bloom_stage(self, spark, corpus_eval):
        """Plan topology: the exact string join consumes the HAVING-k
        aggregate, which consumes the broadcast bit-position join — the
        string join never sees the unfiltered gram relation."""
        import re
        from solarpos_spark.operators import text as t
        corpus, eval_df = corpus_eval
        plan = (t.decontaminate_ngrams(corpus, eval_df)
                ._jdf.queryExecution().optimizedPlan().toString())
        lines = plan.splitlines()
        j_ngram = next(i for i, l in enumerate(lines)
                       if re.search(r"ngram#\d+ = ngram#\d+", l))
        f_k = next(i for i, l in enumerate(lines) if "_k_hits" in l)
        j_pos = next(i for i, l in enumerate(lines)
                     if re.search(r"pos#\d+L = pos#\d+L", l))
        assert j_ngram < f_k < j_pos, plan


class TestCountMinPlan:
    def test_base_hash_below_generate(self, spark):
        """The poly31 base hash must sit BELOW the explode in the
        optimized plan — one evaluation per input row, not one per depth
        row. Since r6 the hash is the vectorized Arrow UDF
        (poly31_hash_arrow), so the marker is the python-UDF eval node
        instead of the interpreted aggregate() fold; the invariant (hash
        below Generate, nothing hash-shaped above it) is unchanged."""
        t = sketches.cms_table(_values(spark, 10), "val", depth=4)
        plan = t._jdf.queryExecution().optimizedPlan().toString().lower()
        gen_pos = plan.index("generate")
        below = plan[gen_pos:]
        above = plan[:gen_pos]
        assert ("pythonudf" in below) or ("aggregate(" in below), \
            "poly31 hash not under the Generate"
        assert "pythonudf" not in above and "aggregate(" not in above, \
            "poly31 hash re-evaluated above the Generate"


class TestBottomK:
    def test_deterministic_sample_and_takeordered_plan(self, spark):
        df = _values(spark, 5000)
        a = [(r.rank, r.val, r.hv)
             for r in sketches.bottom_k(df, "val", k=16).collect()]
        b = [(r.rank, r.val, r.hv)
             for r in sketches.bottom_k(df.repartition(9), "val",
                                        k=16).collect()]
        assert a == b and len(a) == 16
        assert [r[0] for r in a] == list(range(1, 17))
        assert all(a[i][2] <= a[i + 1][2] for i in range(15))
        plan = (sketches.bottom_k(df, "val", k=16)._jdf.queryExecution()
                .executedPlan().toString())
        assert "TakeOrderedAndProject" in plan, plan

    def test_duplicates_do_not_crowd(self, spark):
        base = _values(spark, 100)
        dup = base.unionAll(base).unionAll(base)
        a = sorted(r.val for r in sketches.bottom_k(base, "val", k=8).collect())
        b = sorted(r.val for r in sketches.bottom_k(dup, "val", k=8).collect())
        assert a == b

    def test_merge_law(self, spark):
        """bottom_k(A u B) == bottom_k over the union of the two
        sketches' values (min-of-mins)."""
        a = _values(spark, 800, prefix="a")
        b = _values(spark, 600, prefix="b")
        sa = sketches.bottom_k(a, "val", k=12).select("val")
        sb = sketches.bottom_k(b, "val", k=12).select("val")
        merged = sketches.bottom_k(sa.unionAll(sb), "val", k=12)
        direct = sketches.bottom_k(a.unionAll(b), "val", k=12)
        assert [tuple(r) for r in merged.collect()] == \
            [tuple(r) for r in direct.collect()]

    def test_estimate_underfull_exact_and_full_bounded(self, spark):
        small = sketches.bottom_k_estimate(
            sketches.bottom_k(_values(spark, 20), "val", k=64), k=64)
        r = small.collect()[0]
        assert r.est_distinct == 20.0 and r.n_sampled == 20
        big = sketches.bottom_k_estimate(
            sketches.bottom_k(_values(spark, 5000), "val", k=256), k=256)
        e = big.collect()[0]
        assert e.n_sampled == 256
        assert abs(e.est_distinct - 5000) / 5000 < 4 / (256 ** 0.5)


class TestBottomKGrouped:
    def test_exactly_k_per_group_and_plan(self, spark):
        df = _values(spark, 300, group="x").unionAll(
            _values(spark, 5, prefix="w", group="y"))
        out = sketches.bottom_k(df, "val", k=10, group_cols=("g",))
        rows = out.collect()
        per = {}
        for r in rows:
            per.setdefault(r.g, []).append(r.rank)
        assert sorted(per["x"]) == list(range(1, 11))
        assert sorted(per["y"]) == [1, 2, 3, 4, 5]  # underfull: all kept
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "WindowGroupLimit" in plan, plan

    def test_grouped_matches_per_group_global(self, spark):
        """The per-group sample equals running the global cut on each
        group alone — grouping changes the plan, not the answer."""
        df = _values(spark, 200, group="a").unionAll(
            _values(spark, 150, prefix="z", group="b"))
        grouped = {(r.g, r.rank, r.val, r.hv) for r in sketches.bottom_k(
            df, "val", k=7, group_cols=("g",)).collect()}
        solo = set()
        for g in ("a", "b"):
            for r in sketches.bottom_k(
                    df.filter(F.col("g") == g), "val", k=7).collect():
                solo.add((g, r.rank, r.val, r.hv))
        assert grouped == solo


class TestCountMinXxhash:
    def test_xxhash_variant_never_undercounts_and_merges(self, spark):
        df = _skewed(spark, n_heavy=200, n_tail=800)
        t = sketches.cms_table(df, "val", width=128, hash_fn="xxhash64")
        est = sketches.cms_estimate(t, df.distinct(), "val", width=128,
                                    hash_fn="xxhash64")
        true = {r.val: r["count"] for r in df.groupBy("val").count().collect()}
        rows = est.collect()
        assert len(rows) == 801
        assert all(r.est_cnt >= true[r.val] for r in rows)
        merged = sketches.cms_merge(t.unionAll(
            sketches.cms_table(df, "val", width=128, hash_fn="xxhash64")))
        doubled = sketches.cms_estimate(merged, df.distinct(), "val",
                                        width=128, hash_fn="xxhash64")
        assert all(r.est_cnt >= 2 * true[r.val] for r in doubled.collect())


def _hash_fn_operators():
    from solarpos_spark.operators import curate, dedup, text
    from solarpos_spark.streaming import pipeline

    return {
        "hll_hash": lambda df, fn: sketches.hll_hash(F.col("val"), hash_fn=fn),
        "hll_registers": lambda df, fn: sketches.hll_registers(
            df, "val", hash_fn=fn),
        "hll_cardinality": lambda df, fn: sketches.hll_cardinality(
            df, "val", hash_fn=fn),
        "cms_table": lambda df, fn: sketches.cms_table(df, "val", hash_fn=fn),
        "cms_estimate": lambda df, fn: sketches.cms_estimate(
            sketches.cms_table(df, "val"), df, "val", hash_fn=fn),
        "bottom_k": lambda df, fn: sketches.bottom_k(df, "val", hash_fn=fn),
        "minhash_signatures": lambda df, fn: dedup.minhash_signatures(
            df, hash_fn=fn),
        "lsh_candidate_pairs": lambda df, fn: dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(df), hash_fn=fn),
        "minhash_verified_pairs": lambda df, fn: dedup.minhash_verified_pairs(
            df, hash_fn=fn),
        "cross_corpus_verified_pairs":
            lambda df, fn: dedup.cross_corpus_verified_pairs(
                df, df, hash_fn=fn),
        "simhash": lambda df, fn: dedup.simhash(df, hash_fn=fn),
        "bloom_bits": lambda df, fn: text.bloom_bits(df, "val", hash_fn=fn),
        "decontaminate_ngrams": lambda df, fn: text.decontaminate_ngrams(
            df, df, hash_fn=fn),
        "curate": lambda df, fn: curate.curate(df, hash_fn=fn),
        "hourly_distinct_registers":
            lambda df, fn: pipeline.hourly_distinct_registers(
                df, "val", hash_fn=fn),
        "windowed_cms_counts": lambda df, fn: pipeline.windowed_cms_counts(
            df, "val", hash_fn=fn),
    }


class TestHashFnCheck:
    """Every operator that takes ``hash_fn`` rejects an unknown one while
    the plan is built (no action runs), instead of falling back to
    whichever hash its own branch defaults to."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit("w"), F.col("id"), F.lit("x y z"))
             .alias("text"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
            F.timestamp_seconds(F.col("id") * 60).alias("event_time"))

    @pytest.mark.parametrize("op", sorted(_hash_fn_operators()))
    def test_unknown_hash_fn_rejected(self, docs, op):
        build = _hash_fn_operators()[op]
        with pytest.raises(ValueError, match="unknown hash_fn 'xxhash'"):
            build(docs, "xxhash")
        for fn in ("poly31", "xxhash64"):
            build(docs, fn)  # both accepted values still plan
