"""Corpus curation: the composed training-data pipeline.

The end-to-end shape a 100 TB text-curation job takes, as one declarative
plan: exact dedup -> near-dup pruning -> quality gating -> token accounting.
Every stage is a previously-tested operator; composition adds no Python.

Near-dup rule: two modes, both deterministic.
* ``near_dup='greedy'`` (default) — drop the GREATER id of every pair
  (doc_a < doc_b drops doc_b). Chain-safe, single anti-join, the cheap
  standard choice.
* ``near_dup='cluster'`` — exact connected components over the pair graph
  (dedup.connected_components, pointer-jumping min-label propagation) and
  keep ONE canonical doc per cluster (longest text, id tiebreak). Costs
  O(log n) iterative joins but never drops a whole chain down to nothing
  the way greedy can when near-dup pairs form long paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dedup, text
from .hashing import (check_hash_fn, fmix32, fmix32_sql, hash_bucket, id32,
                      id32_sql)


def curate(
    df: DataFrame,
    *,
    jaccard_threshold: float = 0.5,
    min_words: int = 20,
    min_stopword_ratio: float = 0.02,
    max_avg_word_len: float = 12.0,
    text_col: str = "text",
    near_dup: str = "greedy",
    near_dup_pairs: str = "ngram",
    max_shingle_df: int | None = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Curated corpus: survivors with their token-accounting features.

    Stages:
    1. exact dedup — keep the min doc_id of each normalized-text group;
    2. near-dup pruning — drop the greater id of every n-gram-Jaccard pair
       above ``jaccard_threshold`` (computed among exact-dedup survivors);
    3. quality gate — language-ish heuristics over the text features.

    Pair generation (``near_dup_pairs``):
    * ``'ngram'`` (default) — exhaustive co-shingle Jaccard with the
      ``max_shingle_df`` skew guard ON by default: one stopword shingle at
      corpus scale otherwise turns the co-shingle join into a
      hot-partition cartesian. The cap is a no-op below the df it names
      (the template corpora never reach it) and bounds the hottest join
      key at 100 TB; when it fires, Jaccard is computed over the
      informative shingles only (ngram_jaccard_pairs docstring).
    * ``'lsh'`` — MinHash/LSH candidates then exact-Jaccard verify
      (dedup.minhash_verified_pairs): the corpus-scale path — verify cost
      bounded by |candidates|, never a full co-shingle self-join.
      ``hash_fn='poly31'`` keeps the whole composition SQL-oracle
      checkable.
    """
    check_hash_fn(hash_fn)
    # 1. exact dedup
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    with_fp = df.withColumn("__fp", F.md5(norm))
    keepers = (with_fp.groupBy("__fp")
               .agg(F.min("doc_id").alias("doc_id")))
    uniq = with_fp.join(keepers, ["__fp", "doc_id"]).drop("__fp")

    # 2. near-dup pruning among survivors
    if near_dup_pairs == "lsh":
        pairs = dedup.minhash_verified_pairs(
            uniq, threshold=jaccard_threshold, text_col=text_col,
            hash_fn=hash_fn)
    else:
        pairs = dedup.ngram_jaccard_pairs(uniq, threshold=jaccard_threshold,
                                          text_col=text_col,
                                          max_shingle_df=max_shingle_df)
    if near_dup == "cluster":
        clusters = dedup.dedup_clusters(uniq, pairs)
        keep = dedup.canonical_docs(uniq, clusters, text_col=text_col) \
            .select(F.col("keep_doc_id").alias("doc_id"))
        pruned = uniq.join(keep, "doc_id", "left_semi")
    else:
        dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        pruned = uniq.join(dropped, "doc_id", "left_anti")

    # 3. quality gate + token accounting
    feats = text.text_quality(pruned, text_col=text_col)
    return (
        feats.filter(
            (F.col("n_words") >= min_words)
            & (F.col("stopword_ratio") >= min_stopword_ratio)
            & (F.col("avg_word_len") <= max_avg_word_len)
        )
        .select("doc_id", "n_chars", "n_words", "est_bpe_tokens",
                "stopword_ratio")
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    *,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 7,
    default_rate: int = 0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the language-mix rebalancer.

    ``rates`` maps stratum value -> keep threshold per 10,000 (e.g.
    {'en': 2500, 'de': 10000} keeps ~25% of English and all German). A row
    survives iff hash_bucket(id, seed) < its stratum's threshold; strata
    absent from ``rates`` use ``default_rate``. Content- and
    partitioning-independent (same kept set on any cluster size, any
    re-run), composable with split_assign (different seeds decorrelate the
    two bucketings). Pure projection + filter: zero shuffle, pushes into
    the scan alongside other predicates.
    """
    bucket = hash_bucket(F.col(id_col), seed)
    thr = F.lit(int(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == F.lit(value),
                     F.lit(int(rate))).otherwise(thr)
    return df.filter(bucket < thr)


def split_assign(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: int = 1,
    cuts: tuple[tuple[str, int], ...] = (
        ("train", 9800), ("val", 9900), ("test", 10000)),
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    The training-pipeline splitter: bucket = ((id + seed) * Knuth) mod 2^32
    mod 10000, then the first cut whose bound exceeds the bucket wins
    (default 98/1/1). Content-independent and stable under repartitioning,
    re-runs and cluster size — the property a sampling UDF with RNG state
    does NOT have. Pure JVM integer arithmetic (SQL-oracle portable: the
    same expression runs in any engine), zero shuffle: assignment is a
    projection; downstream consumers filter on ``split`` and the filter
    pushes into the scan of a split-partitioned copy.
    """
    bucket = hash_bucket(F.col(id_col), seed)
    # cascading CASE, folded right-to-left: first bound > bucket wins
    expr = F.lit(None).cast("string")
    for name, bound in reversed(cuts):
        expr = F.when(bucket < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    seed: int = 5,
) -> DataFrame:
    """Deterministic global shuffle into reader shards — the reproducible
    random permutation a training run applies before sequence packing, so
    consecutive documents in a shard are decorrelated from crawl order.

    Each row gets the full 32-bit Knuth-mixed key of its id
    (``hash_bucket(id, seed, 2**32)``); ``shard = key mod n_shards`` and
    ``pos`` is the rank of ``(key, id)`` within the shard (0-based). A
    reader streaming shard s in pos order sees a pseudo-random,
    seed-reproducible document order; changing ``seed`` reshuffles.
    Content- and partitioning-independent, unlike ``df.orderBy(rand())``
    whose sample is seeded per-partition and melts under repartitioning.

    Scale shape: ONE hash shuffle on ``shard`` + per-shard sort (the
    window is partitionBy(shard) — Spark plans exchange + in-partition
    sort, spilling if a shard exceeds memory). Size ``n_shards`` so a
    shard fits an executor's spill budget (corpus / n_shards ≈ 1-4 GB);
    key ties (ids equal mod 2^32) break by id, keeping the order total.
    """
    key = hash_bucket(F.col(id_col), seed, 2**32)
    d = df.select("*", key.alias("_k")).withColumn(
        "shard", F.pmod(F.col("_k"), F.lit(int(n_shards))).cast("int"))
    w = Window.partitionBy("shard").orderBy(F.col("_k"), F.col(id_col))
    return (d.withColumn(
        "pos", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .drop("_k"))


def source_cap(
    df: DataFrame,
    max_per_source: int,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    order_col: str = "n_chars",
) -> DataFrame:
    """Per-source document cap — RefinedWeb-style domain balancing: no
    single domain/source may contribute more than ``max_per_source`` docs,
    and the ones kept are the best by ``order_col`` (desc, id tiebreak —
    a total order, so the kept set is engine- and schedule-independent).

    One rank-filter window per source: Spark plans rank <= k as
    WindowGroupLimit — per-partition top-k heaps BEFORE the exchange, so
    the shuffle carries at most k rows per (source, input partition), not
    the whole corpus. Output: input columns + ``src_rank``.
    """
    w = Window.partitionBy(source_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc())
    return (df.withColumn("src_rank", F.row_number().over(w))
            .filter(F.col("src_rank") <= int(max_per_source)))


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    total_tokens: int,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 11,
    default_weight: int = 0,
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Token-budget mixture sampling — the data-mixing step that turns
    "train on W% web, X% code, Y% wiki for T total tokens" into a kept
    document set (the Pile / DoReMi-style static mixture, deterministic).

    ``weights`` maps source -> parts-per-10000 of the ``total_tokens``
    budget (absent sources use ``default_weight``). Integer arithmetic
    end-to-end (engine-portable, no float rates):

        T_s    = total_tokens * w_s div 10000        (source's budget)
        rate_s = min(10000, 10000 * T_s div tokens_s) (keep per 10000)

    and a doc survives iff hash_bucket(id, seed) < rate_s — the same
    content-independent thresholding as stratified_sample, so the kept
    set is stable under re-runs, repartitioning and cluster size, and a
    different seed decorrelates it from split/sample bucketings.

    Plan shape: one small per-source aggregate (20-ish rows however big
    the corpus), broadcast back, filter — the corpus is scanned once for
    token counts and once for the filtered output (or once total if the
    optimizer reuses the exchange; either way no wide shuffle). Sources
    whose corpus is smaller than their budget keep everything (rate
    10000); expected kept tokens per source ~ min(tokens_s, T_s).

    Output: (id_col, source_col, n_tokens, rate) for surviving docs.

    ``token_counts`` swaps the per-word subword ESTIMATE for real counts:
    an (id_col, n_tokens) relation — e.g. tokenizer.wordpiece_counts
    renamed — joined on id (docs absent from it count 0 tokens), so the
    budget ledger uses tokenizer-true totals. Plan shape is unchanged:
    the join keys on id before the small per-source aggregate.
    """
    if token_counts is not None:
        toks = (df.select(id_col, source_col)
                .join(token_counts.select(id_col, "n_tokens"),
                      id_col, "left")
                .select(id_col, source_col,
                        F.coalesce("n_tokens", F.lit(0)).cast("long")
                         .alias("n_tokens")))
    else:
        words = text.words_col(F.col(text_col))
        n_punct = (F.length(F.col(text_col))
                   - F.length(F.regexp_replace(F.col(text_col),
                                               r"[.,!?;:]", "")))
        toks = df.select(
            id_col, source_col,
            text.subword_token_count(words, n_punct).alias("n_tokens"))
    wexpr = F.lit(int(default_weight))
    for s, wt in sorted(weights.items()):
        wexpr = F.when(F.col(source_col) == F.lit(s),
                       F.lit(int(wt))).otherwise(wexpr)
    rates = (
        toks.groupBy(source_col)
        .agg(F.sum("n_tokens").alias("_tot"))
        .select(source_col, wexpr.alias("_w"), "_tot")
        .selectExpr(
            source_col,
            f"least(10000L, (10000L * (({int(total_tokens)}L * _w) "
            "div 10000L)) div _tot) AS rate")
    )
    bucket = hash_bucket(F.col(id_col), seed)
    return (
        toks.join(F.broadcast(rates), source_col)
        .filter(bucket < F.col("rate"))
        .select(id_col, source_col,
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("rate").cast("long").alias("rate"))
    )


def sequence_pack(
    df: DataFrame,
    *,
    capacity: int = 256,
    shard_col: str | tuple[str, ...] = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col: str | None = None,
) -> DataFrame:
    """Training-sequence packing layout: concatenate documents in id order
    and cut fixed-``capacity`` token windows; emit each document's placement.

    The tokens-per-doc measure is the deterministic per-word subword count
    (text.subword_token_count). Documents are laid out per SHARD
    (default: the `source` column) — the unit real pipelines pack within,
    which also keeps the running-sum window partitioned (a global ordering
    would serialize the shuffle into one reducer at corpus scale; per-shard
    it parallelizes across shards and stays deterministic).

    ``shard_col`` may be a tuple of columns — then the layout unit is the
    combination (the columns are emitted under their own names instead of
    ``shard``). The train/val/test composition packs per (split, source):
    packing must run AFTER split assignment so every pack lives inside one
    split — a layout computed over the union has windows whose token
    accounting spans docs a split-pruned reader never sees.

    ``order_col`` overrides the within-shard layout order (id stays the
    tiebreak): pass shuffle_shards' ``pos`` to pack in the shuffled
    order instead of crawl/id order — the composition a real training
    layout uses (split -> shuffle -> pack).

    Output per doc: (doc_id, <shard cols>, n_tokens, offset, pack_id,
    pack_pos, spans_boundary) where offset is the running token start
    within the shard, pack_id = offset // capacity, pack_pos = offset %
    capacity, and spans_boundary flags docs crossing a window cut (the
    ones an attention-masking loader treats specially).
    """
    from .text import subword_token_count, words_col

    words = words_col(F.col(text_col))
    n_punct = (F.length(F.col(text_col))
               - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:]", "")))
    if isinstance(shard_col, str):
        shard_out = [F.col(shard_col).alias("shard")]
        shard_names = ["shard"]
    else:
        shard_out = [F.col(c) for c in shard_col]
        shard_names = list(shard_col)
    order_out = ([F.col(order_col).alias("_ord")]
                 if order_col is not None else [])
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *shard_out,
        *order_out,
        subword_token_count(words, n_punct).alias("n_tokens"),
    )
    order_by = (["_ord", "doc_id"] if order_col is not None
                else ["doc_id"])
    w = (Window.partitionBy(*shard_names).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, -1))
    placed = base.withColumn(
        "offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"))
    # integer division (`div`) on both sides — exact for any int64 offset,
    # unlike a double floor (and DuckDB's CAST(double AS BIGINT) rounds
    # where Spark's truncates, so float division would diverge)
    cap = int(capacity)
    return placed.select(
        "doc_id", *shard_names, "n_tokens", "offset",
        F.expr(f"`offset` div {cap}").alias("pack_id"),
        F.pmod(F.col("offset"), F.lit(cap)).cast("long").alias("pack_pos"),
        F.expr(f"`offset` div {cap} != (`offset` + n_tokens - 1) div {cap}")
         .alias("spans_boundary"),
    )


def priority_expr(id_col, weight_long, *, seed: int = 1):
    """The full-precision priority column ``(fmix32(id)+1) / weight`` —
    shared by the batch :func:`priority_sample` and the streaming
    windowed sampler (streaming/stateful.windowed_priority_sample), so
    both select the identical set. ``weight_long`` must be a positive
    int64 column (caller filters non-positive weights)."""
    return ((fmix32(id32(id_col, seed)).cast("double") + F.lit(1.0))
            / weight_long.cast("double"))


def priority_sample(
    df: DataFrame,
    *,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    seed: int = 1,
) -> DataFrame:
    """Weighted sampling without replacement: sequential Poisson /
    priority sampling (Ohlsson 1998; Rosén 1997; the Efraimidis-
    Spirakis A-ES family) — keep the k rows with the smallest
    ``priority = hash(id) / weight``, so inclusion probability is
    approximately proportional to weight. The deterministic replacement
    for ``rand()``-keyed weighted reservoirs: re-running the job (or a
    task retry at 100 TB) selects the SAME sample.

    The hash is the fmix32-avalanched id (hashing.fmix32 — the
    CLAUDE.md rule: bare arithmetic on similar ids clusters), +1 so the
    numerator lies in [1, 2^32]. Both operands are integers < 2^53, so
    the IEEE division is correctly rounded and IDENTICAL in any engine —
    a DuckDB oracle replays the selection bit-for-bit, ties broken by
    id. Rows with non-positive weight are excluded (they have zero
    inclusion mass; documented rather than erroring).

    Scale shape: global mode plans as TakeOrderedAndProject (per-
    partition top-k, one k-row-per-partition shuffle — never a global
    sort); per-stratum mode is a rank-1..k window = WindowGroupLimit
    (partial limit below the shuffle). Cost O(rows) scan + O(k·strata)
    exchange either way.

    Output: the selected input rows + ``sample_priority`` (rounded to 6
    for display; selection uses the full-precision value).
    """
    wcol = F.col(weight_col).cast("long")
    pri = priority_expr(F.col(id_col), wcol, seed=seed)
    base = (df.filter(wcol > 0)
              .withColumn("_pri", pri))
    if strata_col is None:
        out = base.orderBy(F.col("_pri").asc(), F.col(id_col).asc()) \
                  .limit(k)
    else:
        w = Window.partitionBy(strata_col).orderBy(
            F.col("_pri").asc(), F.col(id_col).asc())
        out = (base.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") <= k).drop("_rn"))
    return out.withColumn("sample_priority", F.round(F.col("_pri"), 6)) \
              .drop("_pri")


def priority_sample_sql(
    *,
    weight_expr: str,
    id_expr: str = "doc_id",
    seed: int = 1,
) -> str:
    """DuckDB expression for the full-precision priority — generated
    from the same constants as :func:`priority_sample` (the fmix32_sql
    discipline) so query and oracle cannot drift."""
    return (f"((CAST({fmix32_sql(id32_sql(id_expr, seed))} AS DOUBLE) + 1.0) "
            f"/ CAST({weight_expr} AS DOUBLE))")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions by normalized content
    fingerprint — the changelog a versioned dataset release ships
    (added / removed / changed / unchanged per id), and the input to
    incremental re-processing (only 'added'+'changed' re-enter the
    pipeline instead of re-running 100 TB).

    Scale shape: one zero-shuffle md5 fingerprint projection per side
    (the exact_duplicates normalization, so "changed" means changed
    beyond whitespace) + ONE full-outer equi-join on the id — no text
    ever shuffles, only (id, 32-byte fp).

    Output: (id_col, status, old_fp, new_fp); fingerprints are null on
    the missing side.
    """
    def fp(df: DataFrame, alias: str) -> DataFrame:
        norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)),
                                        r"\s+", " "))
        return df.select(F.col(id_col), F.md5(norm).alias(alias))

    o = fp(old, "old_fp")
    n = fp(new, "new_fp")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (o.join(n, id_col, "full")
            .select(F.col(id_col), status.alias("status"),
                    "old_fp", "new_fp"))
