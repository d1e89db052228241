"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set, score
JVM-side with zip_with/aggregate (no Python). Scale path: LSH-bucketed ANN —
random-hyperplane signs bucket vectors so candidate scoring touches only
same-bucket pairs (the shuffle is keyed by bucket, never all-pairs).
Codebook family (IVF, PQ, IVF-PQ, SemDeDup): every corpus-side codebook
assignment is one fold-ordered numpy argmax in an Arrow stage
(_fold_argmax) and every codebook trains in one fixed-point Lloyd loop
(_lloyd); queries score the codebooks relationally.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import spread_input


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Per-pair cosine folds three interpreted O(dim) lambda reductions (dot +
# two norms). The join operators precompute each side's norm ONCE PER
# VECTOR below the join (the projection stays on the build/probe side —
# Catalyst never hoists computed columns above a join), so each candidate
# pair pays a single fold. Same double arithmetic -> bit-identical scores.


def _query_vecs(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qvec, _qn): the query side of the top-k operators."""
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("_qn"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, score): the k best rows per query by
    score desc, neighbor id asc — a total order, so FP ties are stable
    across engines."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "score"))


def _rerank(corpus: DataFrame, q: DataFrame, short: DataFrame, k: int, *,
            id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine top-k over a (query_id, neighbor_id) shortlist — the
    refine stage of the two-stage operators (brute_force_topk
    arithmetic). ``q`` is _query_vecs; the shortlist and queries are
    broadcast, so full corpus vectors never shuffle."""
    cvecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cvec"),
                          _norm(F.col(vec_col)).alias("_cn"))
    exact = (
        cvecs.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("qvec"), F.col("cvec"))
                        / (F.col("_qn") * F.col("_cn")), 6).alias("score"))
    )
    return _top_k(exact, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (broadcast the query side).

    Output: (query_id, rank, neighbor_id, score). Deterministic: ordered by
    rounded score desc, neighbor id asc — FP-tie stable across engines.
    """
    q = _query_vecs(queries, id_col, vec_col)
    c = spread_input(corpus, key=id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    dot = _dot(F.col("qvec"), F.col("cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(dot / (F.col("_qn") * F.col("_cn")), 6).alias("score"),
        )
    )
    return _top_k(scored, k)


def _quant_exprs(vec: Column, dim: int) -> tuple[Column, Column]:
    """(codes, scale) expressions for int8 symmetric quantization:
    per-vector ``scale = max|x| / 127``, codes
    ``clamp(floor(x/scale + 0.5), ±127)`` as long; a zero vector codes to
    all zeros (scale 0 guarded element-wise).

    CSE note: ``scale`` is fed through ``array_repeat`` in ARGUMENT
    position so the max-abs fold evaluates once per row; referencing it
    inside the lambda would inline the fold per element (interpreted
    higher-order exprs get no CSE — the dedup.shingle_rows trap),
    turning an O(dim) pass into O(dim^2)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    codes = F.zip_with(
        v, F.array_repeat(scale, dim),
        lambda x, s: F.when(s == 0.0, F.lit(0).cast("long")).otherwise(
            F.greatest(F.lit(-127).cast("long"),
                       F.least(F.lit(127).cast("long"),
                               F.floor(x / s + F.lit(0.5))))))
    return codes, scale


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 3,
    shortlist: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage top-k: int8 quantized scan -> exact float rerank.

    Stage 1 scores every (query, corpus) pair in CODE space:
    ``approx = int_dot(q_codes, c_codes) * q_scale * c_scale``. The int
    dot is exact integer arithmetic (|sum| < dim * 127^2 << 2^53, so the
    double accumulation cannot round regardless of fold order) and the
    scan streams 4x less data than float32 — the piece that matters when
    the corpus is the 100 TB side; only (query_id, neighbor_id, approx)
    reaches the shortlist window, whose rank<=N filter plans as
    WindowGroupLimit (per-partition heaps BEFORE the exchange). Stage 2
    re-scores only the shortlist — joined back to the float vectors with
    the tiny shortlist BROADCAST, so full vectors are never shuffled —
    with the exact cosine (brute_force_topk arithmetic) and emits the
    usual (query_id, rank, neighbor_id, score): identical schema and
    rounding, so recall vs the exact operator is directly measurable.
    Both cuts are total orders (rounded score desc, neighbor id asc).
    """
    codes, scale = _quant_exprs(F.col(vec_col), dim)
    corpus = spread_input(corpus, key=id_col)
    c1 = corpus.select(F.col(id_col).alias("neighbor_id"),
                       codes.alias("c_codes"), scale.alias("_cs"))
    q1 = queries.select(F.col(id_col).alias("query_id"),
                        codes.alias("q_codes"), scale.alias("_qs"))
    # unrolled integer dot: exact int64 arithmetic, so the sum does not
    # depend on the add order
    idot = F.lit(0).cast("long")
    for _i in range(1, dim + 1):
        idot = idot + (F.element_at(F.col("q_codes"), _i)
                       * F.element_at(F.col("c_codes"), _i))
    approx = F.round(idot.cast("double") * F.col("_qs") * F.col("_cs"), 6)
    scored = (
        c1.join(F.broadcast(q1), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx.alias("approx"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc())
    short = (scored.withColumn("_srank", F.row_number().over(ws))
             .filter(F.col("_srank") <= shortlist)
             .select("query_id", "neighbor_id"))
    return _rerank(corpus, _query_vecs(queries, id_col, vec_col), short, k,
                   id_col=id_col, vec_col=vec_col)


def hyperplane_buckets(
    df: DataFrame,
    *,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of n_planes projections).

    Planes are a deterministic seeded matrix embedded as literals — tiny
    (n_planes x dim doubles) so the projection is pure JVM expression code;
    cosine-similar vectors land in the same bucket with high probability.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = _dot(F.col(vec_col),
                    F.array(*[F.lit(float(v)) for v in planes[p]]))
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        )
    return df.withColumn("bucket", bucket)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 3,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only same-bucket pairs (bucket-keyed join).

    At 100 TB this is the difference between an all-pairs shuffle and a
    bucket-partitioned one; recall is tuned by n_planes and ``multiprobe``.

    ``multiprobe=m`` additionally probes the m buckets at Hamming distance 1
    from the query's bucket (flipping plane bits 0..m-1) — the standard
    multi-probe LSH recall/latency dial: candidate volume grows by at most
    (m+1)x on the (tiny, broadcast) query side while the corpus still
    shuffles once, keyed by bucket. A (query, candidate) pair can match at
    most one probe value, so no dedup is needed.
    """
    if not (0 <= multiprobe <= n_planes):
        raise ValueError(f"multiprobe must be in [0, {n_planes}]")
    cb = hyperplane_buckets(spread_input(corpus, key=id_col), dim=dim,
                            n_planes=n_planes, seed=seed,
                            vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("_cn"), "bucket")
    qb = hyperplane_buckets(queries, dim=dim, n_planes=n_planes, seed=seed,
                            vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("_qn"), "bucket")
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
              for i in range(multiprobe)])
        qb = qb.select("query_id", "qvec", "_qn",
                       F.explode(probes).alias("bucket"))
    scored = (
        cb.join(F.broadcast(qb), (cb.bucket == qb.bucket)
                & (F.col("neighbor_id") != F.col("query_id")))
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("qvec"), F.col("cvec"))
                        / (F.col("_qn") * F.col("_cn")), 6).alias("score"))
    )
    return _top_k(scored, k)


def _round6_boundary(threshold: float) -> tuple[float, bool]:
    """The raw-value predicate equivalent to
    ``F.round(x, 6) >= F.lit(threshold)``: returns ``(d0, inclusive)``
    such that the filter is ``x >= d0`` (inclusive) or ``x > d0``.

    Spark evaluates round() as BigDecimal HALF_UP over the double's
    shortest decimal repr, then compares the resulting double to
    ``double(threshold)``. That predicate holds iff the 6-decimal
    rounding of x is >= the smallest 6-decimal multiple m*1e-6 whose
    double is >= double(threshold), iff the REAL value of x is >= the
    decimal boundary b = (2m-1)/(2*10^6) (half-up sends the exact
    midpoint up). In double space the cut lands at d0 = float(b);
    whether d0 ITSELF is included follows shortest-repr semantics —
    Spark rounds BigDecimal(repr(x)), so a d0 whose shortest repr IS the
    midpoint string rounds up even when its binary value sits just below
    b — hence ``inclusive = Decimal(repr(d0)) >= b``. Shortest reprs are
    strictly monotone in the double, so every other double compares
    exactly. This lets a vectorized scorer threshold on the RAW fold
    value and defer the displayed round() to a JVM projection over
    survivors only — bit-identical selection, no numpy-vs-BigDecimal
    rounding hazard (pytest locks the equivalence on boundary-adjacent
    doubles).
    """
    from decimal import Decimal

    t = float(threshold)
    if not t > 0:
        raise ValueError("positive thresholds only")
    c = int(round(t * 1e6))
    m = None
    for cand in range(c - 3, c + 4):
        if float(Decimal(cand) / Decimal(10 ** 6)) >= t:
            m = cand
            break
    assert m is not None
    b = Decimal(2 * m - 1) / Decimal(2 * 10 ** 6)
    d0 = float(b)
    return d0, Decimal(repr(d0)) >= b


def _fold_norms(X):
    """Per-row ||x|| with _norm's exact fold order (d ascending)."""
    import numpy as np

    nn = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        nn += X[:, d] * X[:, d]
    return np.sqrt(nn)


def _fold_cos_block(X, nrm, i0, i1):
    """cos(rows i0:i1, all rows) with _dot's exact fold order: acc
    starts at 0.0 and accumulates x_d*y_d for d ascending — each numpy
    step is one IEEE mul then one IEEE add per element, exactly the
    zip_with/aggregate evaluation, so every double is bit-identical."""
    import numpy as np

    acc = np.zeros((i1 - i0, X.shape[0]))
    for d in range(X.shape[1]):
        acc += X[i0:i1, d][:, None] * X[:, d][None, :]
    return acc / (nrm[i0:i1][:, None] * nrm[None, :])


_PAIRS_SCHEMA = "id_a long, id_b long, _raw double"


def _make_bucket_pairs_fn(threshold: float, block: int = 512):
    """Per-bucket pairwise scorer for embedding_near_duplicates: rows
    (_id, _v, _ca, _cb) -> (id_a, id_b, raw cos) for pairs with
    round(cos,6) >= threshold, id_a < id_b, a-side _ca, b-side _cb.
    Blocked fold-ordered numpy (guide §4.2/§8: each vector crosses into
    its bucket group ONCE; the quadratic work is vectorized native code
    instead of a join materializing 2*dim doubles per candidate pair)."""
    d0, inclusive = _round6_boundary(threshold)

    def f(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "_raw": pd.Series(dtype="float64")})
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        X = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        ca = pdf["_ca"].to_numpy()[order]
        cb = pdf["_cb"].to_numpy()[order]
        nrm = _fold_norms(X)
        out_a, out_b, out_r = [], [], []
        for i0 in range(0, m, block):
            i1 = min(i0 + block, m)
            cos = _fold_cos_block(X, nrm, i0, i1)
            ok = (cos >= d0) if inclusive else (cos > d0)
            # id_a < id_b == row index strictly less (ids sorted)
            ok &= (np.arange(i0, i1)[:, None] < np.arange(m)[None, :])
            ok &= ca[i0:i1][:, None] & cb[None, :]
            ii, jj = np.nonzero(ok)
            out_a.append(ids[ii + i0])
            out_b.append(ids[jj])
            out_r.append(cos[ii, jj])
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "_raw": np.concatenate(out_r)})

    return f


def _make_semdedup_removed_fn(eps: float, block: int = 512):
    """Per-list removal decision for semdedup: a row is removed iff a
    LOWER-id row in the same list has round(cos,6) >= eps — same blocked
    fold-ordered numpy as _make_bucket_pairs_fn, emitting only the
    distinct removed ids (distinct within the list IS globally distinct:
    a vector has exactly one list)."""
    d0, inclusive = _round6_boundary(eps)

    def f(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_id": pd.Series(dtype="int64")})
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        X = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        nrm = _fold_norms(X)
        removed = np.zeros(m, dtype=bool)
        for i0 in range(0, m, block):
            i1 = min(i0 + block, m)
            cos = _fold_cos_block(X, nrm, i0, i1)
            ok = (cos >= d0) if inclusive else (cos > d0)
            ok &= (np.arange(i0, i1)[:, None] < np.arange(m)[None, :])
            removed |= ok.any(axis=0)
        return pd.DataFrame({"vec_id": ids[removed]})

    return f


def embedding_near_duplicates(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Pairs with cosine >= threshold (id_a < id_b).

    Default: hyperplane-LSH-bucketed — vectors are scored only against their
    own bucket, so the join shuffles on the bucket key instead of exploding
    into an all-pairs cartesian (at 10^9 vectors the difference between a
    keyed shuffle and ~5*10^17 candidate pairs). Recall is tuned by
    n_planes; cosine-similar vectors collide with probability
    (1 - theta/pi)^n_planes.

    ``exact=True``: the O(n^2) all-pairs variant — the small-scale oracle
    for recall studies and tests, never the 100 TB path.
    """
    if exact:
        a = spread_input(df, key=id_col).select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            _norm(F.col(vec_col)).alias("_na"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      _norm(F.col(vec_col)).alias("_nb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        dot = _dot(F.col("va"), F.col("vb"))
        return (
            pairs
            .select("id_a", "id_b",
                    F.round(dot / (F.col("_na") * F.col("_nb")), 6)
                    .alias("cos"))
            .filter(F.col("cos") >= threshold)
        )
    if dim is None:
        raise ValueError("bucketed near-dup needs dim (embedding length)")
    bk = hyperplane_buckets(df, dim=dim, n_planes=n_planes, seed=seed,
                            vec_col=vec_col)
    if not (0 <= multiprobe <= n_planes):
        raise ValueError(f"multiprobe must be in [0, {n_planes}]")
    # GROUPED pairwise scoring (r6, guide §8's lesson): the previous
    # bucket-keyed self-join materialized 2*dim doubles per candidate
    # pair through the join — ~1 KB per candidate, quadratic in the hot
    # bucket, and (because the planner broadcast one small side) bound to
    # the corpus scan's 1-2 splits. Here each vector moves into its
    # bucket group ONCE (the groupBy exchange), and the within-bucket
    # quadratic runs as blocked fold-ordered numpy (_fold_cos_block —
    # bit-identical doubles); the raw-value threshold (_round6_boundary)
    # is provably the same cut as filter(round(cos,6) >= threshold), and
    # the displayed round() runs JVM-side over survivors only.
    own = bk.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                    F.col("bucket").alias("_g"),
                    F.lit(True).alias("_ca"), F.lit(True).alias("_cb"))
    if multiprobe:
        # probe the m Hamming-1 neighbor buckets from ONE side (a-side
        # only: _cb=False): a pair can match at most one probe value, so
        # no dedup is needed — candidate volume grows <= (m+1)x
        flips = bk.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
            F.explode(F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
                  for i in range(multiprobe)])).alias("_g"),
            F.lit(True).alias("_ca"), F.lit(False).alias("_cb"))
        ent = own.unionByName(flips)
    else:
        ent = own
    pairs = ent.groupBy("_g").applyInPandas(
        _make_bucket_pairs_fn(threshold), _PAIRS_SCHEMA)
    return pairs.select("id_a", "id_b",
                        F.round(F.col("_raw"), 6).alias("cos"))


def _fold_norm(vec: list[float]) -> float:
    """||vec|| with the same left-fold double accumulation as _norm (and
    SQL list_dot_product) — bit-identical across the three engines."""
    acc = 0.0
    for x in vec:
        acc += x * x
    return math.sqrt(acc)


def ivf_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Untrained IVF codebook: the embeddings of the ``n_centroids``
    lowest ids, collected driver-side with their norms — the cheap
    fallback when no training pass is wanted (ivf_train_centroids is the
    production k-means trainer; pytest shows it beats this codebook on
    recall@k for out-of-codebook queries).
    """
    rows = (corpus.filter(F.col(id_col) < n_centroids)
            .select(id_col, vec_col).collect())
    out = []
    for r in sorted(rows, key=lambda r: r[0]):
        vec = [float(x) for x in r[1]]
        out.append((int(r[0]), vec, _fold_norm(vec)))
    return out


# --------------------------------------------------------------------------
# codebook assignment and training: ONE fold-ordered numpy argmax serves
# IVF (one codebook over the whole vector), PQ (m codebooks over
# consecutive dim/m slices), IVF-PQ and SemDeDup, and ONE fixed-point
# Lloyd loop trains every codebook. A literal-codebook higher-order fold
# in SQL computes the same bits but is 1.5-5x slower per stage and
# overflows janino's 64 KB method limit inside a Generate.

_QSCALE = float(1 << 20)  # fixed-point scale of the Lloyd update sums


def _book_arrays(book) -> tuple[np.ndarray, np.ndarray]:
    """(K x d centroid matrix, K norms) of a (cid, vec, norm) codebook."""
    return (np.array([c for _, c, _ in book], dtype=np.float64),
            np.array([cn for _, _, cn in book], dtype=np.float64))


def _fold_argmax(v: np.ndarray, books) -> np.ndarray:
    """0-based codes (n x m): row i's code in subspace s is the first
    argmax_j of dot(v_i[s], c_j) / ||c_j|| over ``books[s]`` (a
    _book_arrays pair), v_i[s] being the s-th of m consecutive dim/m
    slices of row i.

    The dot accumulates in _dot's left-fold order (acc += v_j * c_j for
    ascending j, one IEEE multiply and one IEEE add per step), so every
    score is bit-identical to SQL list_dot_product(v, c) / cn, and
    np.argmax's first-max rule is list_indexof(sc, list_max(sc)) — the
    DuckDB oracles replay each assignment exactly."""
    m = len(books)
    d_sub = v.shape[1] // m
    codes = np.empty((v.shape[0], m), dtype=np.int64)
    for s, (cmat, cnorm) in enumerate(books):
        sub = v[:, s * d_sub:(s + 1) * d_sub]
        scores = np.zeros((v.shape[0], cmat.shape[0]))
        for j in range(d_sub):
            scores += sub[:, j:j + 1] * cmat[:, j]
        scores /= cnorm
        codes[:, s] = np.argmax(scores, axis=1)
    return codes


def _map_vectors(df: DataFrame, fn, schema: str, *, dim: int, id_col: str,
                 vec_col: str) -> DataFrame:
    """``df.select(id_col, vec_col).mapInArrow``: each non-empty batch
    decodes to (ids, vec, v) — the id and embedding Arrow columns and the
    embeddings as an n x dim float64 matrix (float -> double is exact,
    like Spark's cast) — and the stage emits ``fn(ids, vec, v)``."""
    from collections.abc import Iterator

    import pyarrow as pa

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, vec = batch.column(0), batch.column(1)
            offs = vec.offsets.to_numpy(zero_copy_only=False)
            if not ((offs[1:] - offs[:-1]) == dim).all():
                raise ValueError("ragged embedding lengths")
            flat = vec.values.to_numpy(zero_copy_only=False)
            v = flat[offs[0]:offs[-1]].astype(np.float64).reshape(-1, dim)
            yield fn(ids, vec, v)

    return df.select(id_col, vec_col).mapInArrow(run, schema)


def _lloyd(
    corpus: DataFrame,
    *,
    m: int,
    n_centroids: int,
    n_iter: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> list[list[tuple[int, list[float], float]]]:
    """m codebooks, one per consecutive dim/m slice, trained together by
    deterministic distributed k-means (Lloyd's algorithm). Each holds
    min(n_centroids, rows) (cid, vec, norm) entries.

    Every step is engine-portable and order-independent, so the trained
    codebooks are bit-reproducible in SQL (the gate oracles re-derive
    the full training, not just the search):
    * init — per subspace s, the vectors with the lowest overflow-safe
      Knuth hash of (vec_id + seed + s) (hashing.hash_bucket, denom
      2^32 — the repo's engine-portable seeded RNG), ties by vec_id: a
      seeded pseudo-random sample, collected driver-side like faiss's
      train sample;
    * assignment — _fold_argmax, the search path's own rule;
    * update — per-(list, dim) means accumulated as FIXED-POINT int64
      sums of sign*floor(|x * 2^20| + 0.5): integer addition is exact
      and commutative, so the sum is identical under any batching,
      shuffle fetch order and engine — the float-accumulation order
      dependence that makes naive distributed k-means nondeterministic
      never arises. The mean s / (2^20 * count) is then a single IEEE
      double division on both sides. Empty lists keep their previous
      centroid.

    One Arrow stage per round assigns every slice and emits only its
    batch's partial (sub, cid, d, s, c) sums (c repeats the per-list
    count on every d row); the small (sub, cid, d) aggregate is all that
    crosses to the driver, so training scans the corpus without
    collecting it. At corpus scale the caller passes a training sample,
    faiss-style.
    """
    import pyarrow as pa

    from .hashing import hash_bucket

    # n_iter + 1 passes hit the same relation: persist once, release on
    # exit
    corpus = spread_input(corpus.select(id_col, vec_col),
                          key=id_col).persist()
    # one orderBy + limit per subspace: at m = 1 the whole query is a
    # TakeOrderedAndProject (per-partition top-K, merged on the driver,
    # no exchange); a row_number window costs an extra shuffle stage
    seeds = reduce(DataFrame.unionAll, [
        corpus.select(F.lit(s).alias("sub"), id_col, vec_col,
                      hash_bucket(F.col(id_col), seed=seed + s,
                                  denom=2**32).alias("_r"))
        .orderBy("_r", id_col).limit(n_centroids) for s in range(m)]).collect()
    dim = len(seeds[0][vec_col])
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m
    books: list[list[tuple[int, list[float], float]]] = \
        [[] for _ in range(m)]
    for r in sorted(seeds, key=lambda r: (r["sub"], r["_r"], r[id_col])):
        s = int(r["sub"])
        v = [float(x) for x in r[vec_col][s * d_sub:(s + 1) * d_sub]]
        books[s].append((len(books[s]), v, _fold_norm(v)))

    for _ in range(n_iter):
        arrays = [_book_arrays(b) for b in books]

        def sums(ids, vec, v):
            codes = _fold_argmax(v, arrays)
            xs = v * _QSCALE
            q = np.where(xs < 0, -np.floor(-xs + 0.5),
                         np.floor(xs + 0.5)).astype(np.int64)
            parts = []
            for s, (cmat, _) in enumerate(arrays):
                tot = np.zeros((cmat.shape[0], d_sub), dtype=np.int64)
                np.add.at(tot, codes[:, s], q[:, s * d_sub:(s + 1) * d_sub])
                cnt = np.bincount(codes[:, s], minlength=cmat.shape[0])
                hit = np.nonzero(cnt)[0]
                parts.append((
                    np.full(hit.size * d_sub, s, dtype=np.int32),
                    np.repeat(hit, d_sub),
                    np.tile(np.arange(d_sub, dtype=np.int32), hit.size),
                    tot[hit].ravel(), np.repeat(cnt[hit], d_sub)))
            return pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(c)) for c in zip(*parts)],
                names=["sub", "cid", "d", "s", "c"])

        rows = (_map_vectors(corpus, sums,
                             "sub int, cid long, d int, s long, c long",
                             dim=dim, id_col=id_col, vec_col=vec_col)
                .groupBy("sub", "cid", "d")
                .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
                .collect())
        acc: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in rows:
            _, tot = acc.setdefault((r["sub"], r["cid"]),
                                    (r["c"], [0] * d_sub))
            tot[r["d"]] = r["s"]
        for s in range(m):
            nxt = []
            for cid, vec, nrm in books[s]:
                ent = acc.get((s, cid))
                if ent is None:       # empty list: keep the previous centroid
                    nxt.append((cid, vec, nrm))
                    continue
                denom = _QSCALE * float(ent[0])
                nv = [x / denom for x in ent[1]]
                nxt.append((cid, nv, _fold_norm(nv)))
            books[s] = nxt
    corpus.unpersist()
    return books


def ivf_train_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    n_iter: int = 3,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Deterministic distributed k-means IVF codebook — the trained
    replacement for ivf_centroids' lowest-id sample: _lloyd with one
    codebook over the whole vector. Returns the (cid, vec, norm) list
    ivf_topk takes via ``centroids=``."""
    return _lloyd(corpus, m=1, n_centroids=n_centroids, n_iter=n_iter,
                  seed=seed, id_col=id_col, vec_col=vec_col)[0]


def ivf_assign(
    corpus: DataFrame,
    centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, cvec, _cn, list_id): every corpus vector with its
    norm (_norm's fold order) and its 1-based IVF list under
    ``centroids`` — _fold_argmax at m = 1, one Arrow pass, no shuffle."""
    import pyarrow as pa

    book = [_book_arrays(centroids)]

    def assign(ids, vec, v):
        return pa.RecordBatch.from_arrays(
            [ids, vec, pa.array(_fold_norms(v)),
             pa.array(_fold_argmax(v, book)[:, 0] + 1)],
            names=["neighbor_id", "cvec", "_cn", "list_id"])

    t = dict(corpus.dtypes)
    return _map_vectors(
        corpus, assign,
        f"neighbor_id {t[id_col]}, cvec {t[vec_col]}, _cn double, "
        "list_id long",
        dim=book[0][0].shape[1], id_col=id_col, vec_col=vec_col)


def _probe_sets(q: DataFrame, centroids, nprobe: int) -> DataFrame:
    """(query_id, qvec, _qn, list_id): each query's ``nprobe`` best
    1-based lists by dot(q, c)/||c||, lower cid on ties. The codebook
    is ranked relationally against the tiny query side."""
    import pandas as pd

    cdf = q.sparkSession.createDataFrame(pd.DataFrame(
        {"cid": [c[0] for c in centroids],
         "cvec_c": [c[1] for c in centroids],
         "cn_c": [c[2] for c in centroids]}))
    qscored = q.crossJoin(F.broadcast(cdf)).select(
        "query_id", "qvec", "_qn", "cid",
        (_dot(F.col("qvec"), F.col("cvec_c")) / F.col("cn_c")).alias("_cs"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cs").desc(), F.col("cid").asc())
    return (qscored.withColumn("_pr", F.row_number().over(wq))
            .filter(F.col("_pr") <= nprobe)
            .select("query_id", "qvec", "_qn",
                    (F.col("cid") + 1).alias("list_id")))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into centroid
    lists, search only the ``nprobe`` lists nearest each query.

    The complement of the hyperplane-LSH path (ann_topk): data-dependent
    partitioning instead of data-oblivious, the recall dial is nprobe
    instead of n_planes. Corpus-side assignment is one zero-shuffle
    Arrow pass (ivf_assign); only the (tiny) query side derives its probe
    set relationally. The candidate join shuffles the corpus once, keyed
    by list_id — at 10^9 vectors the fraction scanned is
    nprobe/n_centroids, the IVF contract.

    Output: (query_id, rank, neighbor_id, score), deterministic ties.
    """
    corpus = spread_input(corpus, key=id_col)
    if centroids is None:
        centroids = ivf_centroids(corpus, n_centroids=n_centroids,
                                  id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    probes = _probe_sets(_query_vecs(queries, id_col, vec_col), centroids,
                         nprobe)
    scored = (
        assigned.join(F.broadcast(probes),
                      (assigned.list_id == probes.list_id)
                      & (F.col("neighbor_id") != F.col("query_id")))
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("qvec"), F.col("cvec"))
                        / (F.col("_qn") * F.col("_cn")), 6).alias("score"))
    )
    return _top_k(scored, k)


def pq_train(
    corpus: DataFrame,
    *,
    dim: int,
    m: int = 4,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float], float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    splits into ``m`` subspaces of dim/m and each subspace gets its own
    codebook — _lloyd with m codebooks (subspace s seeds with seed + s),
    so the full training replays bit-exactly in SQL, codebooks and all.
    All m train TOGETHER: one distributed pass per Lloyd round for every
    codebook, not m sequential trainings."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    return _lloyd(corpus, m=m, n_centroids=n_centroids, n_iter=n_iter,
                  seed=seed, id_col=id_col, vec_col=vec_col)


def _encode(corpus: DataFrame, books, *, dim: int, id_col: str,
            vec_col: str, centroids=None) -> DataFrame:
    """(id_col, sub, code) — m rows per vector, code the _fold_argmax
    over the m PQ ``books`` — plus the 1-based coarse ``list_id`` under
    ``centroids`` when given; one Arrow pass."""
    import pyarrow as pa

    pq = [_book_arrays(b) for b in books]
    coarse = None if centroids is None else [_book_arrays(centroids)]
    m = len(pq)
    names = [id_col, "sub", "code"] + ([] if coarse is None else ["list_id"])

    def encode(ids, vec, v):
        n = v.shape[0]
        cols = [ids.take(pa.array(np.repeat(np.arange(n), m))),
                pa.array(np.tile(np.arange(m, dtype=np.int32), n)),
                pa.array(_fold_argmax(v, pq).ravel().astype(np.int32))]
        if coarse is not None:
            cols.append(pa.array(
                np.repeat(_fold_argmax(v, coarse)[:, 0] + 1, m)))
        return pa.RecordBatch.from_arrays(cols, names=names)

    schema = f"{id_col} {dict(corpus.dtypes)[id_col]}, sub int, code int"
    if coarse is not None:
        schema += ", list_id long"
    return _map_vectors(corpus, encode, schema, dim=dim, id_col=id_col,
                        vec_col=vec_col)


def pq_encode(
    corpus: DataFrame,
    books: list[list[tuple[int, list[float], float]]],
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codes as a relation: (id_col, sub, code) — m rows per vector,
    log2(n_centroids)*m bits of storage at rest. Assignment per subspace
    is the trainer's own rule (_fold_argmax), so encode == the final
    training assignment."""
    return _encode(corpus, books, dim=dim, id_col=id_col, vec_col=vec_col)


def _adc_table(q: DataFrame, books, d_sub: int) -> DataFrame:
    """(query_id, _qn, sub, code, partial, cn_sq): each query's partial
    dot product and squared centroid norm per (subspace, code) — the
    ADC lookup table, m * n_centroids rows per query."""
    cb = q.sparkSession.createDataFrame(
        [(s, cid, [float(x) for x in c], float(cn))
         for s, book in enumerate(books) for (cid, c, cn) in book],
        "sub int, code int, c array<double>, cn double")
    return q.crossJoin(F.broadcast(cb)).select(
        "query_id", "_qn", "sub", "code",
        _dot(F.expr(f"slice(qvec, sub * {d_sub} + 1, {d_sub})"),
             F.col("c")).alias("partial"),
        (F.col("cn") * F.col("cn")).alias("cn_sq"))


def _adc_topk(cand: DataFrame, q: DataFrame, corpus: DataFrame, *, k: int,
              shortlist: int | None, id_col: str,
              vec_col: str) -> DataFrame:
    """Top-k from ADC candidates (query_id, _qn, id_col, sub, partial,
    cn_sq): score = cosine against the reconstructed vector, both sums
    folded over the sub-sorted struct list (a deterministic order under
    any shuffle); ``shortlist=N`` re-ranks the ADC top-N on exact
    cosine (_rerank)."""
    agg = cand.groupBy("query_id", "_qn", F.col(id_col)).agg(
        F.array_sort(F.collect_list(
            F.struct("sub", "partial", "cn_sq"))).alias("_ps"))
    dsum = F.aggregate(F.col("_ps"), F.lit(0.0),
                       lambda acc, x: acc + x["partial"])
    nsq = F.aggregate(F.col("_ps"), F.lit(0.0),
                      lambda acc, x: acc + x["cn_sq"])
    scored = agg.select(
        "query_id", F.col(id_col).alias("neighbor_id"),
        F.round(dsum / (F.col("_qn") * F.sqrt(nsq)), 6).alias("score"))
    if shortlist is None:
        return _top_k(scored, k)
    short = _top_k(scored, shortlist).select("query_id", "neighbor_id")
    return _rerank(corpus, q, short, k, id_col=id_col, vec_col=vec_col)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    m: int = 4,
    n_centroids: int = 8,
    n_iter: int = 2,
    seed: int = 11,
    k: int = 3,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[tuple[int, list[float], float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search (faiss IndexPQ's ADC): corpus
    vectors exist only as m small codes; each query precomputes a
    (sub, code) -> partial-dot table against the codebooks (m *
    n_centroids rows per query — the broadcast side), and a candidate's
    score is one m-row lookup-sum, never a dim-length dot:

        score(q, x) = sum_s dot(q_s, c[s][code_s(x)])
                      / (||q|| * sqrt(sum_s ||c[s][code_s(x)]||^2))

    i.e. exact cosine against the RECONSTRUCTED vector. The scan side
    touches only the code relation (m ints/vector, ~dim*4/m bytes less
    than float32); both per-candidate sums fold over the sub-sorted
    struct list (deterministic accumulation order, the tfidf/ADVICE-r3
    rule), so results hash identically under any shuffle.

    ``shortlist=N`` adds the faiss "refine" stage: the per-query ADC
    top-N joins back to the retained float vectors via the tiny
    broadcast shortlist and the final k is cut on EXACT cosine — pure
    ADC ranks strong neighbors (near-identical vectors share codes) but
    blurs weak ones at a few dozen bits/vector; the refine pass fixes
    weak-neighbor ordering while the wide scan stays in code space.
    Output: (query_id, rank, neighbor_id, score) — the family schema.
    """
    if books is None:
        books = pq_train(corpus, dim=dim, m=m, n_centroids=n_centroids,
                         n_iter=n_iter, seed=seed, id_col=id_col,
                         vec_col=vec_col)
    codes = pq_encode(corpus, books, dim=dim, id_col=id_col,
                      vec_col=vec_col)
    q = _query_vecs(queries, id_col, vec_col)
    cand = codes.join(F.broadcast(_adc_table(q, books, dim // m)),
                      ["sub", "code"]) \
        .filter(F.col(id_col) != F.col("query_id"))
    return _adc_topk(cand, q, corpus, k=k, shortlist=shortlist,
                     id_col=id_col, vec_col=vec_col)


def semdedup(
    corpus: DataFrame,
    *,
    eps: float = 0.95,
    n_centroids: int = 16,
    n_iter: int = 3,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then deduplicate WITHIN clusters only — a vector is
    dropped iff a lower-id vector in the SAME cluster has cosine >= eps
    (keep-lowest-id is this engine's deterministic stand-in for the
    paper's keep-one-per-epsilon-group rule; the paper's alternative
    representative choices are one ORDER BY away).

    The clustering is the point at scale: pairwise cosine runs per list,
    so the quadratic term is Σ|list|² not |corpus|² — n_centroids is the
    knob that bounds it (the paper uses 50k clusters for 100M+ vectors;
    at 10^9 embeddings size lists to ~corpus/n_centroids ≈ 10^4-10^5).
    Reuses the deterministic trained codebook (ivf_train_centroids — same
    seed/rounds as the IVF gate entries, so the SQL oracle re-derives the
    identical clustering) and the zero-shuffle Arrow assignment
    (ivf_assign), which also computes each vector's norm once.
    The explicit repartition on list_id materializes the assignment
    exchange once for both consumers.

    Output: (vec_id, list_id, kept) — kept=false marks removed near-dups.
    """
    corpus = spread_input(corpus, key=id_col)
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids=n_centroids, n_iter=n_iter, seed=seed,
            id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    # GROUPED within-list pairwise (r6 — the embedding_near_duplicates
    # rationale): each assigned vector moves into its list group ONCE
    # (the explicit repartition below), and the Σ|list|² scoring runs as
    # blocked fold-ordered numpy instead of a self-join that carried
    # 2*dim doubles per enumerated pair (measured 143 s at sf1.0 even at
    # full task parallelism; the grouped form is seconds). The raw-value
    # eps cut (_round6_boundary) is provably identical to
    # filter(round(cos,6) >= eps); removed ids are distinct within the
    # list by construction, which IS globally distinct.
    P = corpus.sparkSession.sparkContext.defaultParallelism
    rel = assigned.select(
        F.col("neighbor_id").alias("_id"), F.col("cvec").alias("_v"),
        F.col("list_id").alias("_g")).repartition(P, "_g")
    removed = (rel.groupBy("_g")
               .applyInPandas(_make_semdedup_removed_fn(eps),
                              "vec_id long")
               .withColumn("_rm", F.lit(1)))
    # project the output from the repartitioned relation, not `assigned`:
    # the second consumer then reads the SAME materialized exchange as
    # the grouped scorer instead of re-running the O(K*dim) assignment
    return (
        rel.select(F.col("_id").alias("vec_id"),
                   F.col("_g").cast("long").alias("list_id"))
        .join(removed, "vec_id", "left")
        .select("vec_id", "list_id", F.col("_rm").isNull().alias("kept"))
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids,
    books,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF-PQ index relation: (id, sub, code, list_id) — m rows
    per vector, the table a production deployment writes ONCE (partitioned
    by list_id) and every search reads. One zero-shuffle Arrow pass
    computes both the coarse list (ivf_topk's rule) and the PQ codes
    (pq_encode's rule)."""
    return _encode(spread_input(corpus, key=id_col), books, dim=dim,
                   id_col=id_col, vec_col=vec_col, centroids=centroids)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 3,
    n_coarse: int = 16,
    nprobe: int = 4,
    m: int = 4,
    n_codes: int = 8,
    n_iter_coarse: int = 3,
    n_iter_pq: int = 2,
    seed: int = 11,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    books=None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composed ANN — the faiss IndexIVFPQ shape (Jégou et al.
    2011, §IV; ``by_residual=false`` variant), the index a 10^9-vector
    corpus actually ships: the coarse quantizer restricts the SCAN to
    nprobe/n_coarse of the corpus AND the scanned side is the m-int PQ
    code relation, never float vectors — the two scale levers the
    standalone ivf_topk (full vectors in probed lists) and pq_topk
    (codes, but the whole corpus) each pull alone.

    Index build (one-time, amortized at scale — see ivfpq_index; pass a
    prebuilt/stored relation via ``index=`` and the search plan contains
    NO sort-merge join at all, a pytest-locked shape). Search: query probe
    sets (ivf_topk's) and per-query (sub, code) -> partial-dot ADC tables
    (pq_topk's) are both tiny broadcast relations; candidates = code rows
    whose list_id is probed (broadcast hash join — the corpus never
    shuffles), scored and optionally refined exactly as in pq_topk.

    Both codebooks come from the deterministic fixed-point Lloyd trainer
    (ivf_train_centroids / pq_train), so the full pipeline — two
    trainings, encode, probes, ADC, refine — replays bit-exactly in the
    gate oracle. Output: (query_id, rank, neighbor_id, score).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids=n_coarse, n_iter=n_iter_coarse, seed=seed,
            id_col=id_col, vec_col=vec_col)
    if books is None:
        books = pq_train(corpus, dim=dim, m=m, n_centroids=n_codes,
                         n_iter=n_iter_pq, seed=seed, id_col=id_col,
                         vec_col=vec_col)
    codes = index if index is not None else ivfpq_index(
        corpus, centroids, books, dim=dim, id_col=id_col, vec_col=vec_col)
    q = _query_vecs(queries, id_col, vec_col)
    probes = _probe_sets(q, centroids, nprobe).select("query_id", "list_id")
    cand = (codes.join(F.broadcast(probes), "list_id")
            .filter(F.col(id_col) != F.col("query_id"))
            .join(F.broadcast(_adc_table(q, books, dim // m)),
                  ["query_id", "sub", "code"]))
    return _adc_topk(cand, q, corpus, k=k, shortlist=shortlist,
                     id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# sparse random projection (Achlioptas 2001 "database-friendly" variant)

def rp_signs(in_dim: int, out_dim: int, *, seed: int = 1) -> list[list[int]]:
    """The deterministic sparse sign matrix s[i][j] in {+1, 0, -1} with
    density 1/3: fmix32(i*out_dim + j + seed) mod 6 -> 0:+1, 1:-1,
    else 0 (Achlioptas 2003, JCSS — E[s]=0, Var preserved under the
    sqrt(3/out_dim) scale). Generated driver-side from the same fmix32
    constants as the engine hashes (hashing.py_fmix32), so the Spark
    expression chain and the SQL oracle derive from ONE table."""
    from .hashing import py_fmix32

    out: list[list[int]] = []
    for i in range(in_dim):
        row = []
        for j in range(out_dim):
            r = py_fmix32((i * out_dim + j + seed) & 0xFFFFFFFF) % 6
            row.append(1 if r == 0 else (-1 if r == 1 else 0))
        out.append(row)
    return out


def _rp_scale(out_dim: int) -> float:
    import math

    return math.sqrt(3.0 / out_dim)


def random_project(
    embeddings: DataFrame,
    *,
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Sparse random projection to ``out_dim`` dimensions — the cheap
    Johnson-Lindenstrauss dimensionality cut run before ANN/clustering
    when 100 TB of embeddings won't fit the index budget. With the
    Achlioptas {+1,0,-1} matrix the projection is ~2/3 zeros, so each
    output coordinate is a FIXED, generation-ordered chain of +/-
    element adds — pure whole-stage-codegen projection, zero shuffle,
    zero Python, and bit-identical in any IEEE engine (the SQL oracle
    emits the same chain from the same sign table; no dot-product
    fold-order hazard because the order is pinned by the table, not by
    data layout).

    Output: (``id_col``, proj array<double> length ``out_dim``), each
    coordinate rounded to ``round_digits``.

    Codegen note: as a plain projection (scan → project, or feeding a
    join/Generate) the ~340-term chain whole-stage-compiles fine. If an
    AGGREGATE fuses directly on top of all 16 chains in one codegen
    region, the single generated method can exceed the JVM's 64 KB
    limit and Spark logs one "Failed to compile" ERROR then falls back
    to interpreted execution for that stage — graceful, correct, and
    avoided in practice by the explode/join that always sits between
    this projection and any aggregate in the pipelines here.
    """
    signs = rp_signs(in_dim, out_dim, seed=seed)
    sc = _rp_scale(out_dim)
    v = F.col(vec_col)
    cols = []
    for j in range(out_dim):
        # start the chain at 0.0 on BOTH engines: identical term order,
        # and 0.0 + x == x exactly in IEEE so the anchor costs nothing
        term = F.lit(0.0)
        for i in range(in_dim):
            s = signs[i][j]
            if s == 0:
                continue
            e = F.element_at(v, i + 1).cast("double")
            term = (term + e) if s > 0 else (term - e)
        # + 0.0 normalizes IEEE -0.0 to +0.0 (a chain that sums to
        # negative zero would otherwise hash differently than the
        # oracle's round, which keeps the sign)
        cols.append(F.round(term * F.lit(sc), round_digits) + F.lit(0.0))
    return embeddings.select(F.col(id_col), F.array(*cols).alias("proj"))


def rp_sql_proj(
    *,
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 1,
    vec_expr: str = "embedding::DOUBLE[]",
    round_digits: int = 6,
) -> str:
    """DuckDB list expression replaying :func:`random_project`'s exact
    add chain (same sign table, same term order, same scale literal)."""
    signs = rp_signs(in_dim, out_dim, seed=seed)
    sc = repr(_rp_scale(out_dim))
    items = []
    for j in range(out_dim):
        chain = "0.0"
        for i in range(in_dim):
            s = signs[i][j]
            if s == 0:
                continue
            chain += (" + " if s > 0 else " - ") + f"({vec_expr})[{i + 1}]"
        items.append(f"(round(({chain}) * CAST({sc} AS DOUBLE), "
                     f"{round_digits}) + 0.0)")
    return "[" + ", ".join(items) + "]"


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 1,
    k: int = 3,
    shortlist: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage top-k: sparse-random-projection scan → exact rerank —
    the quantized_topk shape with the 4x bandwidth cut replaced by a
    4x DIMENSION cut (out_dim=16 of 64): stage 1 scores every pair on
    the 16-dim projected vectors (JL lemma keeps relative distances),
    stage 2 re-scores only the shortlist with the exact 64-dim cosine.
    Both stages deterministic: projected coordinates are rounded
    (pinned add chains, random_project), cuts are total orders. Output
    (query_id, rank, neighbor_id, score) — same schema/rounding as
    brute_force_topk so recall is directly measurable."""
    # MATERIALIZE the projection below a Generate (explode of a 1-element
    # array): CollapseProject would otherwise inline the 16 ~340-term add
    # chains into the join's per-PAIR projection — re-evaluating the whole
    # projection once per candidate instead of once per vector, and (when
    # the fused region also contains the cosine fold) overflowing janino's
    # 64 KB method limit into interpreted fallback (which Spark logs as
    # an ERROR).
    # Generate blocks CollapseProject (the cms_table discipline), so the
    # chains run exactly once per row and the join stage codegen stays
    # small. Norms are hoisted below the join (one per vector, not per
    # pair) with the multiplication order preserved — bit-identical.
    pc = random_project(spread_input(corpus, key=id_col), in_dim=in_dim,
                        out_dim=out_dim,
                        seed=seed, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.explode(F.array("proj")).alias("_cp")) \
        .select("neighbor_id", "_cp",
                _norm(F.col("_cp")).alias("_cpn"))
    pq = random_project(queries, in_dim=in_dim, out_dim=out_dim,
                        seed=seed, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("query_id"),
                F.explode(F.array("proj")).alias("_qp")) \
        .select("query_id", "_qp",
                _norm(F.col("_qp")).alias("_qpn"))
    approx = F.round(
        _dot(F.col("_qp"), F.col("_cp"))
        / (F.col("_qpn") * F.col("_cpn")), 6)
    scored = (
        pc.join(F.broadcast(pq), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx.alias("approx"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc())
    short = (scored.withColumn("_srank", F.row_number().over(ws))
             .filter(F.col("_srank") <= shortlist)
             .select("query_id", "neighbor_id"))
    return _rerank(corpus, _query_vecs(queries, id_col, vec_col), short, k,
                   id_col=id_col, vec_col=vec_col)


# --------------------------------------------------------------------------
# nearest-class-mean evaluation (Rocchio / NCM classifier) over labeled
# embeddings — integer fixed-point so the whole evaluation is oracle-exact.

def nearest_centroid_confusion(
    embeddings: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1 << 20,
) -> DataFrame:
    """Nearest-class-mean assignment + confusion matrix — the quick
    embedding-space quality probe (is the space linearly separated by
    label?) run before spending on a trained head; also the evaluation
    a clustering/IVF codebook is compared against.

    Determinism: coordinates quantize to ``scale``-scaled int64
    (exact), class centroids are integer floor-div means of exact int
    sums (ORDER-INDEPENDENT — no float accumulation anywhere), and
    assignment minimizes the exact integer squared L2 distance
    (|diff| <= 2^21, dim * diff^2 < 2^48 — no overflow, no rounding).
    Ties break on the smaller label. The SQL oracle replays every
    integer bit-for-bit.

    Scale shape: centroids = one posexplode + one (label, dim)
    aggregate (map-side combined, output |labels|*dim rows,
    broadcast); assignment = one broadcast join + per-(vector, label)
    exact-int aggregate over rows*|labels|*dim pipelined under the
    same scan, then a WindowGroupLimit rank-1 cut; the confusion
    output is |labels|^2 rows.

    Output: (label, pred_label, n) integer confusion counts.
    """
    xq = F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("d")
    base = spread_input(embeddings, key=id_col).select(
        F.col(id_col).alias("vid"), F.col(label_col).alias("label"),
        F.col(vec_col).alias("_v")
    ).select(
        "vid", "label", xq, "_v"
    ).select(
        "vid", "label", "d",
        F.floor(F.element_at(F.col("_v"), F.col("d") + 1)
                .cast("double") * F.lit(float(scale))).cast("long")
        .alias("xq"))
    cent = (base.groupBy("label", "d")
            .agg(F.sum("xq").alias("_s"), F.count("*").alias("_n"))
            .select(F.col("label").alias("clabel"), "d",
                    F.expr("_s div _n").alias("c")))
    dists = (base.join(F.broadcast(cent), "d")
             .groupBy("vid", "label", "clabel")
             .agg(F.sum((F.col("xq") - F.col("c"))
                        * (F.col("xq") - F.col("c"))).alias("d2")))
    w = Window.partitionBy("vid").orderBy(
        F.col("d2").asc(), F.col("clabel").asc())
    assigned = (dists.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") == 1))
    return (assigned.groupBy(
                F.col("label"), F.col("clabel").alias("pred_label"))
            .agg(F.count("*").cast("long").alias("n")))
