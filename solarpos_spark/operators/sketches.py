"""Cardinality sketches for corpus-scale statistics.

HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007 — "HyperLogLog: the
analysis of a near-optimal cardinality estimation algorithm"), built
relationally so the sketch itself is a DataFrame:

* the REGISTER relation ``(bucket, register)`` is the sketch — computed by
  one ``groupBy(bucket).agg(max(rank))``. ``max`` is algebraic, so the
  shuffle carries at most ``2^p`` rows PER INPUT PARTITION no matter how
  many input rows there are (map-side partial max) — the property that
  makes "distinct urls/users/shingles over 100 TB" a metadata-sized job
  instead of an exact-distinct shuffle of the full key set.
* registers MERGE by ``max`` (associative, idempotent): per-source /
  per-day sketches union + re-max into a global estimate without
  re-scanning the corpus — the standard warehouse rollup pattern.
* the estimate is one tiny aggregate over ≤ ``2^p`` rows. The harmonic
  sum is accumulated as an EXACT int64 (``sum(2^(32-register))`` —
  registers are ≤ 27 for every supported ``p``, so each term and the sum
  are exact), never a float fold, so the result is independent of shuffle
  order — the repo-wide bit-stability invariant.

``hash_fn='poly31'`` (engine-portable polynomial hash finalized by
murmur3's fmix32 avalanche — xor-shift + 16-bit-halves multiply mod 2^32,
exact int64 arithmetic in BOTH engines) makes every stage SQL-oracle
checkable; ``'xxhash64'`` (top 32 bits of the JVM xxhash64) is the
production default. The finalizer matters: a bare polynomial hash of
similar short strings clusters (40% of buckets stay empty at n >> m and
the rank bits carry lattice structure — observed +20% estimate bias),
while the fmix32-finalized chain lands inside the published
``1.04/sqrt(m)`` error on the same inputs. Both hash_fns feed the same
W=32 HLL machinery. Standard corrections: linear counting below ``2.5 m``
when empty registers exist, the large-range correction above ``2^32/30``
(Flajolet §4). For cardinalities approaching ``2^32`` use a wider hash
slice; at that point the 2013 "HyperLogLog in Practice" 64-bit/sparse
variants apply — out of scope here, the register relation and merge law
are identical.

No reference counterpart (klausbrunner/solarpos has no sketching); this is
part of the LLM-data-pipeline surface (vocabulary size, unique-document /
unique-user counting at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import (check_hash_fn, fmix32, poly31_hash_arrow,
                      salted_poly)

#: small-m bias constants (Flajolet et al. 2007, §4); m >= 128 uses the
#: closed form 0.7213 / (1 + 1.079 / m).
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_registers(
    df: DataFrame,
    col: str,
    *,
    p: int = 12,
    group_cols: tuple[str, ...] = (),
    hash_fn: str = "poly31",
) -> DataFrame:
    """The HLL sketch as a relation: (group_cols..., bucket, register).

    bucket = low ``p`` bits of the W-bit hash; register = max over rows of
    the leading-zero rank of the remaining ``W - p`` bits (1-based; an
    all-zero remainder ranks ``W - p + 1``). Values hash via their decimal
    string form so int64 keys are engine-portable. bit-length is
    ``length(bin(w))`` — both engines render minimal binary digits.
    """
    if not 4 <= p <= 18:
        raise ValueError(f"p={p} outside [4, 18]")
    hashed = df.select(
        *group_cols, hll_hash(F.col(col), hash_fn=hash_fn).alias("_h"))
    bucket, rank = hll_bucket_rank(F.col("_h"), p=p)
    return (
        hashed.select(
            *group_cols, bucket.alias("bucket"), rank.alias("_rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rank").alias("register"))
    )


def hll_hash(col: Column, *, hash_fn: str = "poly31") -> Column:
    """The W=32 HLL hash of a value column (hashed via its string form)."""
    check_hash_fn(hash_fn)
    if hash_fn == "poly31":
        # fmix32 avalanche over the portable polynomial hash — see module
        # docstring for why the finalizer is load-bearing.
        return fmix32(poly31_hash_arrow(col.cast("string")))
    # top 32 bits of xxhash64: unsigned shift keeps the slice nonneg
    return F.shiftrightunsigned(F.xxhash64(col.cast("string")), 32)


def hll_bucket_rank(h: Column, *, p: int) -> tuple[Column, Column]:
    """(bucket, rank) of a precomputed W=32 hll_hash — shared by the batch
    register build and the streaming windowed register maintenance."""
    w_bits = 32 - p
    w = F.shiftrightunsigned(h, p)
    rank = (
        F.when(w == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return F.pmod(h, F.lit(1 << p)), rank


def hll_merge(
    registers: DataFrame, *, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge sketches down to ``group_cols`` granularity (``()`` = global).

    max per bucket — associative and idempotent, so per-source/per-day
    register relations roll up without touching the raw data. The merged
    estimate is EXACTLY the estimate a direct pass over the union of the
    inputs would produce (max(max(A), max(B)) == max(A ∪ B))."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("register").alias("register")
    )


def hll_estimate(
    registers: DataFrame,
    *,
    p: int = 12,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cardinality estimate per group from a register relation.

    Output: (group_cols..., est_distinct, n_set, n_zero, correction) where
    ``correction`` names the branch taken ('linear' | 'raw' | 'large').
    The harmonic sum is an exact int64 (empty registers contribute
    ``2^32`` each, register r contributes ``2^(32-r)``), so the only float
    steps are one division and, on the correction branches, one ``ln`` —
    both order-independent; ``est_distinct`` rounds to 3 decimals.
    """
    m = 1 << p
    # alpha * m^2 * 2^32 folded into ONE double literal (repr-stable): the
    # raw estimate is a single exact-int division both engines share
    num = _alpha(m) * m * m * float(1 << 32)
    cnt = F.count(F.lit(1))
    ssum = F.sum(F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(32 - register AS INT))"))
    agg = registers.groupBy(*group_cols).agg(
        cnt.alias("n_set"), ssum.alias("_ssum"))
    n_zero = F.lit(m) - F.col("n_set")
    s32 = n_zero * F.lit(1 << 32) + F.col("_ssum")
    raw = F.lit(num) / s32.cast("double")
    two_w = float(1 << 32)
    est = (
        F.when((raw <= F.lit(2.5 * m)) & (n_zero > 0),
               F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double")))
        .when(raw > F.lit(two_w / 30.0),
              -F.lit(two_w) * F.log(F.lit(1.0) - raw / F.lit(two_w)))
        .otherwise(raw)
    )
    corr = (
        F.when((raw <= F.lit(2.5 * m)) & (n_zero > 0), F.lit("linear"))
        .when(raw > F.lit(two_w / 30.0), F.lit("large"))
        .otherwise(F.lit("raw"))
    )
    return agg.select(
        *group_cols,
        F.round(est, 3).alias("est_distinct"),
        F.col("n_set").cast("long").alias("n_set"),
        n_zero.cast("long").alias("n_zero"),
        corr.alias("correction"),
    )


def cms_table(
    df: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    group_cols: tuple[str, ...] = (),
    hash_fn: str = "poly31",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) as a relation:
    (group_cols..., row, bucket, cnt) — ``depth * width`` counters.

    One hash-aggregate builds it: the base hash is computed ONCE per input
    row in a projection BELOW the Generate (the depth-fold explode cannot
    re-evaluate it — a Generate is not a Project, so CollapseProject stops
    there), each of the ``depth`` rows salts it with an independent
    universal hash ((a_i*h + b_i) mod P, hashing.salted_poly)
    finalized by fmix32. The shuffle carries at most ``depth * width``
    rows per input partition (map-side partial sum) — frequency estimates
    over 100 TB cost a metadata-sized exchange.

    Sketches MERGE by summing cnt per (row, bucket) — associative, so
    per-source/per-day tables roll up without re-scanning (cms_merge).
    Point estimate: min over rows of the probed counter (cms_estimate);
    always >= the true count, within eps*N with probability 1-delta for
    width=ceil(e/eps), depth=ceil(ln(1/delta)).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"depth={depth}, width={width} out of range")
    coords = _cms_coords(df, col, list(group_cols), depth, width, hash_fn)
    return (
        coords.groupBy(*group_cols, "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _cms_coords(df: DataFrame, col: str, keep: list[str],
                depth: int, width: int, hash_fn: str) -> DataFrame:
    """(keep..., row, bucket) coordinate rows, one per (input row, depth).

    ``'xxhash64'`` hashes (value, row) JVM-side in one codegen pass — the
    production path; ``'poly31'`` is the SQL-replayable chain (base fold
    below the Generate, universal salt + fmix32 per depth row). Table
    build and probes must agree."""
    check_hash_fn(hash_fn)
    idx = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    if hash_fn == "xxhash64":
        rows = df.select(*dict.fromkeys([*keep, col]), idx)
        bucket = F.pmod(F.xxhash64(F.col(col).cast("string"),
                                   F.col("row")), F.lit(width))
        return rows.select(*keep, "row", bucket.alias("bucket"))
    hashed = df.select(
        *keep, poly31_hash_arrow(F.col(col).cast("string")).alias("_h"))
    rows = hashed.select(*keep, "_h", idx)
    bucket = fmix32(salted_poly(F.col("_h"), F.col("row"))) % F.lit(width)
    return rows.select(*keep, "row", bucket.alias("bucket"))


def cms_merge(
    tables: DataFrame, *, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge sketch tables down to ``group_cols`` granularity: sum per
    (row, bucket). The merged point estimates equal a direct pass over
    the union of the inputs (sum is associative/commutative)."""
    return tables.groupBy(*group_cols, "row", "bucket").agg(
        F.sum("cnt").alias("cnt"))


def cms_estimate(
    table: DataFrame,
    probes: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "poly31",
) -> DataFrame:
    """Point-frequency estimates: probes.col -> (probes.*, est_cnt).

    Each probe value re-derives its ``depth`` (row, bucket) coordinates,
    equi-joins the counter relation (depth*width rows — always the
    BROADCAST side, so any number of probes joins shuffle-free), and
    takes the min counter. A coordinate absent
    from the table means no input row ever hashed there: the min is 0.
    ``hash_fn`` must match the table build.
    """
    coords = _cms_coords(probes, col, list(probes.columns),
                         depth, width, hash_fn)
    joined = coords.join(
        F.broadcast(table.select("row", "bucket", "cnt")),
        on=["row", "bucket"], how="left")
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
             .cast("long").alias("est_cnt"))
    )


def bottom_k(
    df: DataFrame,
    col: str,
    *,
    k: int = 64,
    hash_fn: str = "poly31",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Bottom-k sketch (Cohen & Kaplan 2007): the k DISTINCT values with
    the smallest hash — simultaneously

    * a DETERMINISTIC uniform without-replacement sample of exactly
      min(k, distinct) values (the hash is the priority, so the same set
      survives any partitioning, any engine, any re-run — what
      ``TABLESAMPLE``/RNG reservoirs cannot promise), and
    * a mergeable cardinality sketch: bottom-k of a union equals bottom-k
      of the concatenated per-source sketches (min-of-mins), estimated by
      ``(k-1) * 2^32 / h_k`` (bottom_k_estimate).

    The global cut plans as TakeOrderedAndProject — per-partition top-k
    heaps merged at the driver, never a global sort; with ``group_cols``
    ("exactly k eval docs per language") the per-group cut plans as
    WindowGroupLimit — per-partition heaps per group BEFORE the exchange.
    distinct-first keeps duplicate values from crowding the sample. Hash
    ties (32-bit) break by value asc — a total order.
    Output: (group_cols..., rank, val, hv).
    """
    hashed = (df.select(*group_cols, F.col(col).cast("string").alias("val"))
              .distinct())
    hv = hll_hash(F.col("val"), hash_fn=hash_fn)
    scored = hashed.select(*group_cols, "val", hv.alias("hv"))
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.col("hv").asc(), F.col("val").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(*group_cols, "rank", "val", "hv"))
    cut = scored.orderBy(F.col("hv").asc(), F.col("val").asc()).limit(k)
    w = Window.orderBy(F.col("hv").asc(), F.col("val").asc())
    return cut.select(
        F.row_number().over(w).alias("rank"), "val", "hv")


def bottom_k_estimate(sketch: DataFrame, *, k: int) -> DataFrame:
    """Cardinality estimate from a bottom-k sketch: if the sketch is full
    (n = k), distinct ~ (k-1) * 2^32 / h_k (the k-th smallest of n
    uniform 32-bit hashes sits near k/n * 2^32); an underfull sketch saw
    every distinct value, so the count is exact. Output one row:
    (est_distinct, n_sampled, h_k)."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("hv").alias("h_k"))
    est = (
        F.when(F.col("n_sampled") < k,
               F.col("n_sampled").cast("double"))
        .otherwise(F.lit(float((k - 1) * (1 << 32)))
                   / F.col("h_k").cast("double"))
    )
    return agg.select(
        F.round(est, 3).alias("est_distinct"),
        F.col("n_sampled").cast("long").alias("n_sampled"),
        F.col("h_k").cast("long").alias("h_k"))


def hll_cardinality(
    df: DataFrame,
    col: str,
    *,
    p: int = 12,
    group_cols: tuple[str, ...] = (),
    hash_fn: str = "poly31",
) -> DataFrame:
    """One-shot grouped distinct-count estimate (registers + estimate)."""
    regs = hll_registers(df, col, p=p, group_cols=group_cols,
                         hash_fn=hash_fn)
    return hll_estimate(regs, p=p, group_cols=group_cols)
