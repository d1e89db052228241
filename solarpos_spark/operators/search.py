"""Keyword search: inverted postings + BM25 ranking over the corpus.

The retrieval primitive a training-data pipeline uses for targeted corpus
audits ("find the documents about X that survived curation") and for
building seed sets. Whole pipeline is JVM expressions — explode, two hash
aggregations, one broadcast of per-term stats — no Python in the hot path.

Scale shape (100 TB corpus, q query terms):
* the query-term filter lands directly under the explode, so the postings
  relation is O(matching tokens), never O(corpus tokens);
* per-doc length and the global avgdl/N are separate aggregations over the
  corpus — at scale these are precomputed once per corpus version and
  reused across queries (pass ``doc_stats=``);
* per-term document frequencies aggregate the tiny filtered postings;
* the final score needs only (candidate doc x query term) rows — the
  global top-k sort runs over candidate docs only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_input
from .similarity import _dot, _norm


def doc_length_stats(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, dl) token counts — the reusable per-corpus statistic."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("dl"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))        (Robertson/Lucene)
    score  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Output: (rank, doc_id, score) with score rounded to 6 decimals; ties
    broken by doc_id so the cut is deterministic across engines. The rank
    window is unpartitioned but runs over candidate docs only (those
    containing >= 1 query term) — bounded by the postings filter, not the
    corpus.
    """
    terms = sorted(set(t.lower() for t in query_terms))
    if doc_stats is None:
        doc_stats = doc_length_stats(docs, text_col=text_col)

    # corpus scalars: one row each, joined by broadcast cross-join
    scalars = doc_stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    # postings restricted to query terms BEFORE any aggregation
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    n, avgdl = F.col("n_docs"), F.col("avgdl")
    idf = F.log(F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doc_stats, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            "term",
            (idf * F.col("tf") * (k1 + 1.0)
             / (F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / avgdl))).alias("c"),
        )
    )
    # deterministic left fold over the term-sorted contributions (ADVICE
    # r3): a plain SUM(double) accumulates in shuffle fetch order, and the
    # gate hashes exact values — pin the order on both sides (oracle:
    # list_sum(list(c ORDER BY term))). Terms are unique per doc and the
    # list is bounded by |query_terms|.
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0), lambda acc, x: acc + x["c"]), 6).alias("score"))
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "score")
    )


def bm25_sql_oracle(query_terms: list[str], *, k: int = 10, k1: float = 1.2,
                    b: float = 0.75, src: str = "documents") -> str:
    """DuckDB mirror of bm25_topk — same tokenization, same float chain."""
    terms = sorted(set(t.lower() for t in query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH dl AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS dl
  FROM {src}),
scalars AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM {src}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({in_list}) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1.0)
           / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / s.avgdl)) AS c
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), scalars s),
-- term-sorted sequential fold: bit-matches Spark's F.aggregate left fold
scored AS (SELECT doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
           FROM contrib GROUP BY 1),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT CAST(rank AS INT) AS rank, doc_id, score FROM ranked
WHERE rank <= {k}
"""


def hybrid_topk_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: DataFrame,
    *,
    k: int = 10,
    depth: int = 50,
    k_rrf: int = 60,
    text_col: str = "text",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical + dense retrieval fused by Reciprocal Rank Fusion
    (Cormack et al. 2009, the standard RAG retrieval stack):

        rrf(d) = 1/(k_rrf + rank_bm25(d)) + 1/(k_rrf + rank_dense(d))

    with a missing run contributing 0. RRF is RANK-based, so the fusion
    is immune to the two runs' incomparable score scales — exactly why
    production hybrid search uses it over score interpolation.

    Scale shape: each run independently cuts to ``depth`` candidates —
    BM25 via the postings-bounded rank (bm25_topk), dense via a
    zero-shuffle cosine projection + TakeOrderedAndProject (global
    top-k without a global sort) — and everything downstream (rank
    windows, the full-outer fusion join) runs over <= 2*depth rows.
    ``query_vec`` is a one-row (``vec_col``) relation, broadcast.

    Determinism: both run ranks break ties by id; the fusion sum has a
    fixed two-term order; the final cut orders by (rrf desc, doc_id).
    Output: (rank, doc_id, rrf, lex_rank, dense_rank) — run ranks are
    null for docs the other run alone surfaced.
    """
    lex = bm25_topk(docs, query_terms, k=depth, text_col=text_col) \
        .select("doc_id", F.col("rank").alias("lex_rank"))
    q = query_vec.select(F.col(vec_col).alias("_qv")) \
        .withColumn("_qn", _norm(F.col("_qv")))
    scored = (spread_input(embeddings, key=id_col).crossJoin(F.broadcast(q))
              .select(F.col(id_col).alias("doc_id"),
                      F.round(_dot(F.col(vec_col), F.col("_qv"))
                              / (F.col("_qn") * _norm(F.col(vec_col))), 6)
                      .alias("_s")))
    dtop = scored.orderBy(F.col("_s").desc(), F.col("doc_id").asc()) \
        .limit(depth)
    dw = Window.orderBy(F.col("_s").desc(), F.col("doc_id").asc())
    dense = dtop.withColumn("dense_rank", F.row_number().over(dw)) \
        .select("doc_id", "dense_rank")
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.round(F.coalesce(1.0 / (F.lit(k_rrf) + F.col("lex_rank")),
                           F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("dense_rank")),
                             F.lit(0.0)), 8).alias("rrf"),
        "lex_rank", "dense_rank")
    fw = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (fused.withColumn("rank", F.row_number().over(fw))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "rrf", "lex_rank", "dense_rank"))


def mmr_rerank(
    embeddings: DataFrame,
    query_vec: DataFrame,
    *,
    k: int = 10,
    depth: int = 50,
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass a RAG stack runs over its dense
    shortlist so the k context slots aren't k near-duplicates:

        pick_t = argmax_{d in shortlist \\ S}
                 [ lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s) ]

    Convention: the first pick's score is its relevance (S empty).

    Scale shape: the corpus-sized work is ONE zero-shuffle cosine
    projection + TakeOrderedAndProject cut to ``depth``; everything
    after — the depth^2 pairwise-sim relation and the k greedy rounds —
    runs on <= depth rows (localCheckpoint'ed per round, the CC-loop
    discipline, so the plan stays O(1) in rounds). Batching many
    queries = the same shape with every window/join additionally keyed
    by query id; this entry is the one-query primitive, matching
    hybrid_topk_rrf.

    Determinism: rel and pairwise sims are rounded to 6 before
    selection (the similarity-family discipline — absorbs fold-order
    ulps); ``lam`` and ``1-lam`` are bound as Python-computed double
    literals on BOTH engines; every argmax breaks ties by id. The
    default lam=0.75 makes both coefficients exactly representable.

    Output: (rank, vec_id, rel, mmr), rank 1..k.
    """
    q = query_vec.select(F.col(vec_col).alias("_qv")) \
        .withColumn("_qn", _norm(F.col("_qv")))
    scored = (spread_input(embeddings, key=id_col).crossJoin(F.broadcast(q))
              .select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_v"),
                      F.round(_dot(F.col(vec_col), F.col("_qv"))
                              / (F.col("_qn") * _norm(F.col(vec_col))), 6)
                      .alias("rel")))
    sl = (scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
          .limit(depth)
          .withColumn("_n", _norm(F.col("_v")))
          .localCheckpoint(eager=True))
    pw = (sl.select(F.col("vec_id").alias("a"), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"))
          .join(F.broadcast(sl.select(F.col("vec_id").alias("b"),
                                      F.col("_v").alias("_vb"),
                                      F.col("_n").alias("_nb"))),
                F.col("a") != F.col("b"))
          .select("a", "b",
                  F.round(_dot(F.col("_va"), F.col("_vb"))
                          / (F.col("_na") * F.col("_nb")), 6).alias("sim"))
          .localCheckpoint(eager=True))
    c_lam = float(lam)
    c_div = 1.0 - float(lam)
    selected = (sl.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
                .limit(1)
                .select("vec_id", F.lit(1).alias("rank"), "rel",
                        F.col("rel").alias("mmr"))
                .localCheckpoint(eager=True))
    for t in range(2, k + 1):
        cand = sl.join(selected.select("vec_id"), "vec_id", "left_anti")
        ms = (pw.join(selected.select(F.col("vec_id").alias("b")), "b")
              .groupBy(F.col("a").alias("vec_id"))
              .agg(F.max("sim").alias("_maxsim")))
        pick = (cand.join(ms, "vec_id")
                .select("vec_id", "rel",
                        (F.lit(c_lam) * F.col("rel")
                         - F.lit(c_div) * F.col("_maxsim")).alias("_raw"))
                .orderBy(F.col("_raw").desc(), F.col("vec_id").asc())
                .limit(1)
                .select("vec_id", F.lit(t).alias("rank"), "rel",
                        F.round(F.col("_raw"), 6).alias("mmr")))
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select("rank", "vec_id", "rel", "mmr")
