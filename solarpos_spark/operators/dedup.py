"""Deduplication operators for training-data pipelines.

Scale design (the 100 TB story):
* exact dedup — hash-groupBy, one shuffle on the digest; AQE coalesces.
* n-gram Jaccard — shingle explode -> co-shingle join restricted to shared
  shingles (never all-pairs); at scale add the MinHash/LSH band filter first.
* MinHash + LSH — k permutation-free hashes (xxhash64 with salt), banded into
  buckets; candidate pairs only within a bucket (the classic band trick).
* SimHash — 64-bit sign-aggregated fingerprint; near-dups differ in few bits.
All JVM-side expressions; the only Python boundary is the VECTORIZED
poly31 Arrow hash (hashing.poly31_hash_arrow — batch numpy Horner, never
row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import (check_hash_fn, poly31_band, poly31_hash_arrow,
                      salted_poly)


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents (after whitespace normalization)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def spread_input(df: DataFrame, *, key: str = "doc_id") -> DataFrame:
    """Fan an under-parallel scan out to the session's default parallelism.

    A small corpus arrives as one parquet split, so every task slot but one
    idles while the expensive shingle/signature expressions run — and a
    downstream self-join recomputes that single-threaded lineage per
    consumer. One cheap hash shuffle on the key fixes both (the exchange is
    reused across self-join branches). At scale the input already has more
    splits than cores and this is a no-op — AQE only coalesces down, it
    never fans up.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def words_col(text: Column) -> Column:
    """Normalized word array (the shingle alphabet)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) from a MATERIALIZED words array.

    ``words`` must be a column reference (not the split expression itself):
    higher-order lambdas (`transform`) evaluate interpreted with NO common-
    subexpression elimination, so an inlined split would re-tokenize the
    whole text once per `element_at` — O(words^2) regex work per document
    (measured 11 s of single-task CPU for 5000 docs before the fix).
    """
    k = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)])
    return F.when(k <= 0, F.array(F.concat_ws(" ", F.array_join(words, " ")))) \
            .otherwise(F.array_distinct(F.transform(idx, gram)))


def shingle_rows(df: DataFrame, *, n: int = 3,
                 text_col: str = "text") -> DataFrame:
    """Distinct (doc_id, shingle) rows — the NARROW n-gram construction.

    The words array is materialized below a Generate (explode of a
    1-element array) so the shingle lambda's ``element_at`` reads a bound
    column: Generate blocks CollapseProject, which would otherwise inline
    the split back into the lambda and re-tokenize the text once per
    element — the O(words^2) trap shingles_from_words documents. With the
    array pinned, per-doc work is O(words * n) cheap element_at's and the
    whole derivation is NARROW: no posexplode-window pass (which shuffled
    and sorted every word row by doc_id), no union, and no trailing
    ``distinct()`` exchange — ``array_distinct`` inside
    shingles_from_words already dedups within the doc and one row per doc
    makes (doc_id, shingle) unique by construction. Same output row set
    as the window form (r6 A/B: identical hashes, 2 exchanges fewer; the
    only remaining shuffle is spread_input's fan-out, a no-op at scale).

    Documents shorter than ``n`` words contribute their whole normalized
    text as a single shingle (shingles_from_words' degenerate branch).
    """
    wd = spread_input(df.select("doc_id", text_col)).select(
        "doc_id", words_col(F.col(text_col)).alias("_w0"))
    pinned = wd.select("doc_id", F.explode(F.array("_w0")).alias("_w"))
    return pinned.select(
        "doc_id",
        F.explode(shingles_from_words(F.col("_w"), n)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Co-shingle join (a pair is compared only if it shares >= 1 shingle),
    then |A ∩ B| / (|A| + |B| - |A ∩ B|). Output: (doc_a, doc_b, jaccard)
    with doc_a < doc_b.

    ``max_shingle_df`` bounds the join-key skew: shingles whose document
    frequency exceeds it (stopword n-grams at corpus scale — the mega-groups
    that turn the co-shingle shuffle into a hot-partition cartesian) are
    dropped from the shingle *sets* before pairing, so Jaccard is computed
    over the informative shingles only. The df pre-aggregation shuffles on
    the same shingle key as the pair join (co-partitioned). A value above
    the corpus max df is the identity.
    """
    # one narrow (doc_id, shingle) relation, explicitly repartitioned on the
    # join key: the exchange materializes the shingle derivation ONCE and is
    # reused by every consumer (df aggregate + both self-join branches
    # all want hashpartitioning(shingle))
    # EXPLICIT partition count (scale-adaptive): a bare repartition(col)
    # is AQE-optimizable and the post-shuffle co-shingle self-join — the
    # quadratic stage — collapsed to a handful of tasks at bench scale
    # (guide §2.5); pinning to defaultParallelism keeps the pair
    # enumeration spread over the cluster at any size.
    _P = df.sparkSession.sparkContext.defaultParallelism
    ex = shingle_rows(df, n=n, text_col=text_col).repartition(_P, "shingle")
    # hash-aggregate df counts (a hot shingle is ONE counter, never a
    # materialized group) and semi-join back on the same key —
    # co-partitioned with the reused exchange, no extra wide shuffle
    dfc = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_df is not None:
        ex = ex.join(dfc.filter(F.col("__df") <= max_shingle_df)
                     .select("shingle"), "shingle")
    # per-doc set sizes live in a SMALL side table joined to the aggregated
    # pairs (not to the wide exploded relation): |docs| rows, broadcastable
    # at bench scale, keyed join at corpus scale. Sizes count EVERY
    # (capped) shingle — including df=1 singletons.
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # the PAIR branches additionally drop df=1 shingles (r6): a shingle
    # held by a single document cannot produce a co-shingle pair, so the
    # semi-filter is output-invariant and removes singleton traffic from
    # the self-join's sort/probe volume. On long-tail web corpora
    # singletons dominate the shingle table; the driver's synthetic
    # corpus is template-heavy (178 of 28k shingles at sf1.0), so the
    # win there is small — the floor is the Σdf² pair-count relation
    # itself (114M distinct pairs at sf1.0), which IS the declared
    # semantics; the banded minhash_verified path is the scale answer.
    pair_keys = dfc.filter(F.col("__df") >= 2).select("shingle")
    exp = ex.join(pair_keys, "shingle")
    a = exp.alias("a")
    b = exp.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, *, num_hashes: int = 32, n: int = 3, text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: min over shingles of hash_i(shingle).

    Permutation-free variant: k independent salted hash functions — the
    standard large-scale construction (one explode + one groupBy, shuffle
    keyed by doc_id only). ``hash_fn='poly31'`` switches to the
    engine-portable universal-hash family (SQL-oracle checkable).
    """
    check_hash_fn(hash_fn)
    ex = shingle_rows(df, n=n, text_col=text_col)
    if hash_fn == "poly31":
        ex = ex.withColumn("__h", poly31_hash_arrow(F.col("shingle")))
        aggs = [F.min(salted_poly(F.col("__h"), i)).alias(f"h{i}")
                for i in range(num_hashes)]
    else:
        aggs = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
                for i in range(num_hashes)]
    return ex.groupBy("doc_id").agg(*aggs)


def _band_buckets(signatures: DataFrame, bands: int, rows_per_band: int,
                  hash_fn: str) -> DataFrame:
    """(doc_id, band, bucket): one row per band, the bucket keyed on the
    band's ``rows_per_band`` signature values, repartitioned on (band,
    bucket) for the candidate self-join."""
    check_hash_fn(hash_fn)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        key = (poly31_band(cols, b) if hash_fn == "poly31"
               else F.xxhash64(*cols, F.lit(b)))
        band_cols.append(key.alias(f"band{b}"))
    banded = signatures.select("doc_id", *band_cols)
    # explicit band-keyed partitioning — the simhash_near_dup_pairs
    # rationale: without it the banded self-join runs on the coalesced
    # 1-2-partition signature aggregate output
    _P = signatures.sparkSession.sparkContext.defaultParallelism
    return banded.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket") \
     .repartition(_P, "band", "bucket")


def lsh_candidate_pairs(
    signatures: DataFrame, *, bands: int = 8, rows_per_band: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band the signature into ``bands`` buckets; pairs sharing any band
    bucket are candidates. Output distinct (doc_a, doc_b)."""
    stacked = _band_buckets(signatures, bands, rows_per_band, hash_fn)
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash_near_dup_pairs(
    fps: DataFrame,
    *,
    max_hamming: int = 3,
    n_bits: int = 62,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    max_piece_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole banding (the standard web-scale construction, Manku et al.
    WWW'07 "Detecting Near-Duplicates for Web Crawling"): split the
    fingerprint into ``max_hamming + 1`` contiguous bit pieces — any pair
    within Hamming distance k must agree EXACTLY on at least one piece — so
    candidates come from an equi-join on (piece_index, piece_value), never
    an all-pairs scan. The verify step is one JVM popcount on the XOR.

    Scale shape: one explode (pieces per doc), one keyed shuffle on the
    piece value, distinct on the surviving pairs. Identical topology to
    lsh_candidate_pairs. Piece skew is usually bounded because each piece
    carries ~n_bits/(k+1) >= 15 bits of fingerprint — but degenerate
    corpora concentrate: short docs all land on the all-zero piece, and a
    template corpus shares pieces verbatim, making the equi-join's hot
    bucket O(|bucket|^2). ``max_piece_df`` is the skew guard (the same
    hot-key cap as ngram's max_shingle_df, co-partitioned with the join so
    the count reuses the exchange): buckets with more than that many docs
    are excluded from candidate generation. Recall caveat: a pair within
    Hamming k is found iff it agrees on at least one UNCAPPED piece —
    capped-only pairs are the price of bounding the hot bucket, the
    standard production trade (Manku §4's batch splitting bounds the same
    blow-up).

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    pieces = max_hamming + 1
    width = (n_bits + pieces - 1) // pieces
    mask = (1 << width) - 1
    fp = F.col(fp_col)
    piece_structs = [
        F.struct(
            F.lit(j).alias("piece"),
            F.shiftrightunsigned(fp, j * width).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for j in range(pieces)
    ]
    # explicit piece-keyed partitioning (r6): the fingerprint relation
    # arrives as a small AQE-coalesced aggregate output, and the planner
    # broadcasts one self-join side — binding the whole within-bucket
    # pair enumeration to 1-2 tasks (guide §2.4/§2.5). Pinning to
    # defaultParallelism keeps it spread at any scale; both join branches
    # reuse this one exchange.
    _P = fps.sparkSession.sparkContext.defaultParallelism
    stacked = fps.select(
        F.col(id_col).alias("doc_id"), fp.alias("_fp"),
        F.explode(F.array(*piece_structs)).alias("pp"),
    ).select("doc_id", "_fp", "pp.piece", "pp.val") \
     .repartition(_P, "piece", "val")
    if max_piece_df is not None:
        ok = (stacked.groupBy("piece", "val")
              .agg(F.count(F.lit(1)).alias("_df"))
              .filter(F.col("_df") <= max_piece_df)
              .select("piece", "val"))
        stacked = stacked.join(ok, ["piece", "val"])
    a, b = stacked.alias("a"), stacked.alias("b")
    ham = F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
    return (
        a.join(b, (F.col("a.piece") == F.col("b.piece"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash(df: DataFrame, *, text_col: str = "text",
            hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash over words: bit b set iff sum over words of sign(bit b of
    hash(word)) is positive. One explode + one groupBy.

    ``hash_fn='xxhash64'`` (default): 64-bit fingerprint.
    ``hash_fn='poly31'``: 62-bit fingerprint from two engine-portable
    polynomial hashes (bits 0-30 and 31-61) — SQL-oracle checkable.
    """
    words = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w")
    ex = spread_input(df.select("doc_id", text_col)).select("doc_id", words)

    def _bit(i: int) -> int:
        return (1 << i) if i < 63 else -(1 << 63)

    check_hash_fn(hash_fn)
    if hash_fn == "poly31":
        n_bits = 62
        ex = (ex.withColumn("h1", poly31_hash_arrow(F.col("w"), 31))
                .withColumn("h2", poly31_hash_arrow(F.col("w"), 131)))
        bit_of = lambda i: (F.col("h1") if i < 31 else F.col("h2")) \
            .bitwiseAND(F.lit(1 << (i % 31)))
    else:
        n_bits = 64
        ex = ex.withColumn("h", F.xxhash64(F.col("w")))
        bit_of = lambda i: F.col("h").bitwiseAND(F.lit(_bit(i)))

    aggs = [
        F.sum(F.when(bit_of(i) != 0, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(n_bits)
    ]
    summed = ex.groupBy("doc_id").agg(*aggs)
    bit_terms = [
        F.when(F.col(f"s{i}") > 0, F.lit(_bit(i))).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc.bitwiseOR(t)
    return summed.select("doc_id", acc.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    Min-label propagation with pointer jumping: each round every node takes
    the minimum label over itself and its neighbors (one keyed join +
    groupBy-min), then labels are compressed through themselves
    (l <- l[l], a second self-join) — the pointer-doubling step that turns
    O(diameter) convergence into O(log n) rounds, the property that makes
    the iterative approach viable on a 100 TB dedup graph where a single
    viral near-dup cluster can chain through millions of documents. Each
    round materializes via localCheckpoint so the lineage (and the plan
    Catalyst must optimize) stays O(1) in the iteration count.

    The fixpoint is exactly "label = min doc_id reachable", independent of
    iteration schedule — which is what the recursive-CTE SQL oracle
    computes. Convergence is detected by an aggregate (changed == 0), so
    the number of Spark jobs is rounds + 1, not rows.

    Output: (node, component) for every node that appears in ``pairs``.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # neighbor round: l(v) <- min(l(v), min_{u in N(v)} l(u))
        nbr = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(F.col("u").alias("node"), "label")
        )
        stepped = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: l(v) <- l(l(v))
        lmap = stepped.select(F.col("node").alias("_k"), F.col("label").alias("_v"))
        jumped = (
            stepped.join(lmap, stepped["label"] == lmap["_k"], "left")
            .select("node", F.coalesce("_v", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n").join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    **cc_kwargs,
) -> DataFrame:
    """Cluster id per document: min doc_id of its near-dup component;
    documents in no pair are their own singleton cluster. Zero extra
    shuffle beyond connected_components + one left join on doc_id."""
    cc = connected_components(pairs, **cc_kwargs)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One kept document per near-dup cluster: longest text wins, doc_id
    breaks ties. rank-1 window over the cluster key — Spark plans this as
    WindowGroupLimit (top-1 retained per partition BEFORE the shuffle), so
    the exchange carries one row per (cluster, input partition), not the
    whole corpus. Output: (cluster_id, keep_doc_id, n_docs)."""
    joined = clusters.join(
        docs.select(F.col(id_col).alias("doc_id"), F.length(text_col).alias("_len")),
        "doc_id",
    )
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("_len").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("_rn", F.row_number().over(win))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("_n").cast("long").alias("n_docs"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The full production near-dup pipeline: MinHash/LSH candidate
    generation THEN exact Jaccard verification — only candidate pairs pay
    the set-intersection cost.

    ngram_jaccard_pairs alone compares every co-shingle pair (correct, but
    the co-shingle join is the corpus-scale bottleneck); LSH alone returns
    candidates with false positives. Composing them bounds the verify work
    by |candidates| (the LSH recall/precision dial) while the reported
    similarity is exact.

    The candidate restriction sits BELOW the intersection aggregate —
    Catalyst never pushes a join under an aggregate, so restricting after
    counting would silently pay the full unrestricted co-shingle shuffle
    (the round-3 plan bug). Instead the candidate pairs join the shingle
    relation directly: shingles of doc_a attach per pair (keyed join on
    doc_a), then shingles of doc_b equi-join on (doc_b, shingle) keep only
    shingles present in BOTH docs, and the count aggregates a relation of
    at most Σ_candidates |shingles(doc_a)| rows. No doc_id<doc_id
    co-shingle join exists anywhere in the verify subtree. Output:
    (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    sigs = minhash_signatures(df, num_hashes=num_hashes, n=n,
                              text_col=text_col, hash_fn=hash_fn)
    cand = lsh_candidate_pairs(sigs, bands=bands,
                               rows_per_band=rows_per_band, hash_fn=hash_fn)
    ex = shingle_rows(df, n=n, text_col=text_col)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")            # shingles of the left doc, per pair
        .join(sb, ["doc_b", "shingle"])   # keep shingles present in BOTH
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b",
                F.round(F.col("n_common")
                        / (F.col("na") + F.col("nb") - F.col("n_common")), 6)
                 .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dup_span_windows(
    df: DataFrame,
    *,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    key_fn: str = "text",
) -> DataFrame:
    """Substring-level duplicate spans — the window-hash approximation of
    suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": remove any substring
    occurring verbatim more than once in the corpus). Every k-word window
    is hashed corpus-wide; a window occurring >= ``min_count`` times
    ANYWHERE (across docs or repeated within one doc) is a duplicate
    window, and overlapping/adjacent duplicate windows merge into maximal
    word spans per document — the units a downstream pass cuts out.

    Relational construction (the shingle_rows pattern — never a
    higher-order lambda over the text, see that docstring for the
    CollapseProject/CSE trap):
    1. posexplode the words array once; k-grams with positions via
       ``lead()`` windows (full grams only);
    2. one hash-aggregate on the gram key for corpus counts (a hot gram is
       ONE counter), filtered to >= min_count — the dup-gram set;
    3. semi-join the positions back on the SAME key (the explicit
       repartition materializes the gram exchange once, reused by the
       count branch and the probe branch);
    4. gaps-and-islands span merge per doc: windows at p1 < p2 chain into
       one span iff p2 - p1 <= k (their word ranges [p, p+k-1] overlap or
       touch), so an island break is ``pos - lag(pos) > k``; cumulative
       sum of breaks numbers the islands, one agg emits the span.

    Scale shape: O(total words) explode, the only wide exchanges are the
    gram-keyed agg/join (co-partitioned) and the per-doc window sort —
    never any pairwise doc join. ``key_fn='xxhash64'`` shuffles an 8-byte
    hash instead of the gram string (the 100 TB default; collisions only
    over-mark at ~2^-64 per pair — pytest pins hash/text parity), while
    the default ``'text'`` keys on the exact gram (what the SQL oracle
    mirrors, collision-free by construction).

    Output: (doc_id, span_start, span_end, n_words_dup, n_windows) with
    word positions 0-based inclusive.
    """
    # NARROW k-gram-with-position derivation (r6, the shingle_rows
    # discipline): words pinned below a Generate, grams assembled
    # map-side, posexplode supplies the SAME 0-based position the old
    # posexplode-window form carried — no corpus-wide window sort.
    wd = spread_input(df.select("doc_id", text_col)).select(
        "doc_id", words_col(F.col(text_col)).alias("_w0"))
    pinned = wd.select("doc_id", F.explode(F.array("_w0")).alias("_w"))
    warr = F.col("_w")
    kk = F.size(warr) - (k - 1)
    gram_at = lambda i: F.concat_ws(
        " ", *[F.element_at(warr, i + j + 1) for j in range(k)])
    grams_arr = F.when(
        kk > 0, F.transform(F.sequence(F.lit(0), kk - 1), gram_at)) \
        .otherwise(F.array().cast("array<string>"))
    grams = pinned.select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "gram"))
    key = F.xxhash64("gram") if key_fn == "xxhash64" else F.col("gram")
    _P = df.sparkSession.sparkContext.defaultParallelism
    keyed = grams.select("doc_id", "pos", key.alias("gkey")) \
                 .repartition(_P, "gkey")
    dup = (keyed.groupBy("gkey")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") >= min_count)
           .select("gkey"))
    dpos = keyed.join(dup, "gkey").select("doc_id", "pos")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w2) > k, 1).otherwise(0)
    isl = (dpos.select("doc_id", "pos", brk.alias("_brk"))
           .select("doc_id", "pos",
                   F.sum("_brk").over(
                       w2.rowsBetween(Window.unboundedPreceding, 0))
                   .alias("_isl")))
    return (
        isl.groupBy("doc_id", "_isl")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"),
             F.count(F.lit(1)).alias("_nw"))
        .select(
            "doc_id",
            F.col("_s").cast("long").alias("span_start"),
            (F.col("_e") + (k - 1)).cast("long").alias("span_end"),
            (F.col("_e") + k - F.col("_s")).cast("long").alias("n_words_dup"),
            F.col("_nw").cast("long").alias("n_windows"),
        )
    )


def line_dedup(
    df: DataFrame,
    *,
    max_line_count: int = 2,
    min_line_chars: int = 8,
    sep: str = "\n",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicated-line removal — the CCNet / RefinedWeb
    boilerplate filter: a line occurring more than ``max_line_count``
    times ACROSS THE CORPUS (headers, navigation chrome, cookie banners,
    license boilerplate) is removed from every document; line order is
    preserved for the survivors.

    Lines shorter than ``min_line_chars`` after trimming are never
    counted nor removed (empty separators and stub lines stay put).

    Scale shape: posexplode (map-side), one hash-aggregate keyed by the
    trimmed line to get corpus counts, a left join of the lines against
    the (small by construction — only lines repeated > max_line_count
    survive the HAVING) hot-line set on the SAME key so AQE reuses the
    exchange, and one per-doc aggregate that rebuilds the text with an
    order-pinned fold (array_sort(collect_list(struct(pos, line)))) —
    deterministic under any shuffle order. No all-pairs anything: cost is
    O(total lines) + one join against the hot set.

    Output: (doc_id, text, n_lines_in, n_lines_removed) — ``text`` is the
    rebuilt document.
    """
    import re

    # the scan+explode is consumed twice (hot-count branch + join probe).
    # Deliberately NOT pre-repartitioned on the line key (the ngram trick):
    # the hot side is small by construction, so AQE broadcast-joins it and
    # the probe side never needs hashpartitioning(key) — a forced exchange
    # would shuffle EVERY line to save one column-pruned re-scan, a bad
    # trade at any scale.
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), re.escape(sep)))
         .alias("pos", "line"),
    )
    key = F.trim(F.col("line"))
    hot = (lines.filter(F.length(key) >= min_line_chars)
           .groupBy(key.alias("key"))
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > max_line_count)
           .select("key"))
    marked = lines.join(hot, key == F.col("key"), "left")
    kept_struct = F.when(F.col("key").isNull(),
                         F.struct(F.col("pos"), F.col("line")))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept_struct)),
                            lambda x: x["line"]),
                sep).alias("text"),
            F.count(F.lit(1)).alias("n_lines_in"),
            F.sum(F.when(F.col("key").isNotNull(), 1).otherwise(0))
             .cast("long").alias("n_lines_removed"),
        )
        .select("doc_id", "text", "n_lines_in", "n_lines_removed")
    )


def cross_corpus_verified_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """FUZZY decontamination: near-duplicate pairs BETWEEN two corpora
    (training side × probe/eval side) — the Dolma/RefinedWeb-style
    fuzzy train-eval overlap check that exact n-gram screens
    (text.decontaminate, tokenops) cannot catch once an eval document
    was lightly paraphrased or re-wrapped.

    One code path with the single-corpus pipeline: the two relations
    union with the side encoded in the id's low bit (ids must fit
    int63), ONE MinHash/banding pass covers both, and the candidate
    join keeps only cross-side bucket collisions — so the shuffle is
    keyed by band bucket exactly as in lsh_candidate_pairs and the
    probe side (small: eval suites) never drives an all-pairs join.
    Exact-Jaccard verification restricts BELOW the intersection
    aggregate (the minhash_verified_pairs topology — the r3 plan-bug
    rule).

    Output: (doc_id, probe_id, jaccard) with jaccard >= threshold.
    """
    c = corpus.select((F.col("doc_id") * 2).alias("doc_id"),
                      F.col(text_col).alias("text"))
    p = probe.select((F.col("doc_id") * 2 + 1).alias("doc_id"),
                     F.col(text_col).alias("text"))
    u = c.unionByName(p)
    sigs = minhash_signatures(u, num_hashes=num_hashes, n=n,
                              hash_fn=hash_fn)
    # band exactly as lsh_candidate_pairs, but pair across SIDES
    stacked = _band_buckets(sigs, bands, rows_per_band, hash_fn)
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") % 2 == 0)
               & (F.col("b.doc_id") % 2 == 1))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ex = shingle_rows(u, n=n)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select(F.expr("doc_a div 2").alias("doc_id"),
                F.expr("(doc_b - 1) div 2").alias("probe_id"),
                F.round(F.col("n_common")
                        / (F.col("na") + F.col("nb") - F.col("n_common")),
                        6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
