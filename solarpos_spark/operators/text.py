"""Text-analysis operators for training-data pipelines over `documents`.

All pure JVM-side expressions (no Python in the hot path): language-ID
(character-trigram profile scoring, plus the simpler stopword voter),
quality scoring (length/punctuation/stopword ratios), per-word subword
token accounting, and document fingerprinting (normalized md5). Each has
an exact ANSI-SQL oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import (POLY_P, check_hash_fn, fmix32, poly31_hash_arrow,
                      salted_poly)

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")
STOPWORDS_DE = ("der", "die", "das", "und", "zu", "ist", "ein")
STOPWORDS_FR = ("le", "la", "de", "et", "un", "est", "les")

#: Characters kept by trigram normalization (everything else -> space).
#: Explicit class so the Java (Spark) and RE2 (DuckDB) regex engines agree.
TRIGRAM_KEEP = "a-zäöüßéèêëàâîïôûùçñíóúìãõò"

#: Top character trigrams per language, most-frequent first (Cavnar-Trenkle
#: style n-gram profiles; trigram rank lists are standard public knowledge).
#: Weight of the i-th entry is len(list) - i, so earlier = heavier. The
#: profile is deliberately a literal table: the scorer stays a broadcast
#: equi-join + sum, bit-reproducible in any engine.
LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ed ", " an", "and", "nd ", " of", "of ",
           " in", "ing", "ng ", "ion", "tio", " to", "to ", "er ", "at ",
           "en ", "es ", " re", "is ", " co", "ent", "on ", " be", " wa",
           "as ", " he", "ere"),
    "de": ("er ", "en ", "ch ", " de", "der", "die", "ie ", "ein", " ei",
           "ich", "nde", "sch", "ung", "cht", "das", " da", " un", "und",
           "ten", "ber", "gen", " ge", " be", "ver", " ve", "ine", "ste",
           "den", "rde", "hen"),
    "fr": (" de", "de ", "es ", "le ", " le", "ent", "nt ", "la ", " la",
           "ion", "on ", "re ", "e d", " co", "que", " qu", "ue ", "les",
           " et", "et ", "ait", "our", " pa", "ant", "eur", "ais", " pr",
           "ous", "ur ", "e p"),
    "es": (" de", "de ", "os ", "la ", " la", "el ", " el", "es ", "en ",
           " en", "nte", "do ", " co", "ado", "est", " es", "as ", "que",
           " qu", "ue ", "ión", "ció", "aci", " se", "nto", "con", "res",
           "sta", "ara", "por"),
    "it": (" di", "di ", "to ", "ell", "lla", "la ", " la", "one", "ion",
           "zio", "azi", "che", " ch", "he ", "re ", "ent", "nte", "on ",
           " co", "del", " de", "per", " pe", "ta ", "no ", "ato", "e d",
           "i d", "gli", " so"),
    "pt": (" de", "de ", "os ", "as ", "ão ", "ção", "açã", "do ", " do",
           "da ", " da", "em ", " em", "que", " qu", "ue ", " co", "o d",
           "e d", "ent", "nte", " se", "res", "ara", " pa", "por", " po",
           "is ", "ado", "çõe"),
    "nl": ("en ", " de", "de ", "et ", " he", "het", "an ", "van", " va",
           "er ", " ee", "een", "n d", " en", "aar", "oor", " vo", "ing",
           "ng ", " ge", "te ", " te", "den", "ter", "sch", "ijk", "ver",
           " ve", "ede", "ijn"),
}


def words_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _stopword_hits(words: Column, stopwords: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, F.lower(w))))


def subword_token_count(words: Column, punct_count: Column) -> Column:
    """Deterministic subword token estimate: each word contributes
    ``max(1, ceil(len/4))`` pieces (the ~4-chars-per-BPE-token empirical
    rate applied PER WORD, so short function words count 1 and long words
    split — unlike the old global ceil(chars/4), which charged whitespace
    and merged across word boundaries), plus one token per punctuation
    mark. The aggregate's lambda touches only the element (trivial
    arithmetic) — the array argument is evaluated once per row, so the
    CollapseProject/lambda-CSE trap (see dedup.shingle_rows) does not
    apply."""
    pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.length(w) / F.lit(4.0)).cast("long")),
    )
    return pieces + punct_count.cast("long")


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (doc_id keyed)."""
    from .dedup import spread_input

    df = spread_input(df.select("doc_id", text_col))
    words = words_col(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:]", ""))
    n_words = F.size(words)
    sw = _stopword_hits(words, STOPWORDS_EN)
    return df.select(
        F.col("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(sw / n_words, 6).alias("stopword_ratio"),
        F.round(n_chars / n_words, 6).alias("avg_word_len"),
        subword_token_count(words, n_punct).alias("est_bpe_tokens"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID (en/de/fr/unknown), deterministic ties."""
    from .dedup import spread_input

    df = spread_input(df.select("doc_id", text_col))
    words = words_col(F.col(text_col))
    en = _stopword_hits(words, STOPWORDS_EN)
    de = _stopword_hits(words, STOPWORDS_DE)
    fr = _stopword_hits(words, STOPWORDS_FR)
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    return df.select(
        F.col("doc_id"),
        en.cast("long").alias("en_hits"),
        de.cast("long").alias("de_hits"),
        fr.cast("long").alias("fr_hits"),
        pred.alias("pred_lang"),
    )


def language_id_trigram(df: DataFrame, text_col: str = "text",
                        *, min_margin: int = 0) -> DataFrame:
    """Character-trigram profile language ID (Cavnar-Trenkle style).

    ``min_margin`` > 0 adds an ambiguity gate: if the best language's
    score beats the runner-up by less than the margin (ties included),
    the prediction is 'unknown' — the abstention a curation pipeline
    wants instead of a coin-flip label. The reported score stays the
    best language's score. With the default 0 the plan is unchanged
    (no second-rank join is built).

    Construction (all JVM, one keyed shuffle):
    1. normalize: lowercase, every non-letter run -> one space, pad with
       boundary spaces (so word-initial/final trigrams exist);
    2. trigram rows RELATIONALLY: posexplode over a position sequence +
       ``substr`` — the normalization regex runs once per document (it sits
       below the Generate, which is not a Project, so CollapseProject
       cannot inline it into the per-position projection);
    3. broadcast-join the literal (lang, trigram, weight) profile table and
       sum weights per (doc, lang) — a map-side join + one partial-agg
       shuffle on doc_id;
    4. argmax per doc with a deterministic tie-break (score desc, lang
       asc); docs with no profile hit fall back to 'unknown' via the left
       join back to the input.

    100 TB note: the explode factor is ~chars-per-doc, all map-side; the
    only wide exchange is the (doc_id, lang) partial aggregate, bounded by
    4 rows per doc. Beats the stopword voter wherever a text contains none
    of the 7 memorized stopwords (pytest pins such fixtures).
    """
    from .dedup import spread_input

    spark = df.sparkSession
    rows = [(lang, tri, len(tris) - i)
            for lang, tris in LANG_TRIGRAM_PROFILES.items()
            for i, tri in enumerate(tris)]
    prof = spark.createDataFrame(rows, "lang string, tri string, w long")

    docs = spread_input(df.select("doc_id", text_col))
    norm = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                f"[^{TRIGRAM_KEEP}]+", " ")),
        F.lit(" "),
    )
    base = docs.select("doc_id", norm.alias("_norm"))
    tri = base.selectExpr(
        "doc_id", "_norm",
        "posexplode(CASE WHEN length(_norm) >= 3 "
        "THEN sequence(1, length(_norm) - 2) "
        "ELSE CAST(array() AS array<int>) END) AS (_j, _i)",
    ).select("doc_id", F.expr("substr(_norm, _i, 3)").alias("tri"))
    scores = (
        tri.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc())
    ranked = scores.withColumn("_rn", F.row_number().over(w))
    best = ranked.filter(F.col("_rn") == 1).select("doc_id", "lang", "score")
    if min_margin > 0:
        # one extra self-free pass over the tiny (doc, lang<=n_langs)
        # relation: rank-2 score per doc, margin vs rank-1
        second = (ranked.filter(F.col("_rn") == 2)
                  .select("doc_id", F.col("score").alias("_s2")))
        best = (best.join(second, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(F.col("score") - F.coalesce(F.col("_s2"), F.lit(0))
                           >= F.lit(int(min_margin)), F.col("lang"))
                     .otherwise(F.lit("unknown")).alias("lang"),
                    "score"))
    return (
        docs.select("doc_id").join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lang", F.lit("unknown")).alias("pred_lang"),
            F.coalesce("score", F.lit(0)).cast("long").alias("score"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalized md5 fingerprint (exact-dup key)."""
    from .dedup import spread_input

    df = spread_input(df.select("doc_id", text_col))
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.select(F.col("doc_id"), F.md5(norm).alias("fingerprint"))


def repetition_stats(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Within-document repetition metrics (the Gopher/MassiveText quality
    rules: published filters drop docs whose top-bigram or duplicate-word
    fractions are extreme — boilerplate, keyword stuffing, scraper loops).

    Per document: duplicate-word fraction (1 - distinct/total), top-word
    fraction, top-bigram fraction. NARROW construction (r6, the
    ngram_occurrences discipline): the words array is pinned below a
    Generate (explode of a 1-element array, blocking CollapseProject) and
    both the word occurrences and the bigrams derive from it map-side —
    no posexplode-window pass sorting every word row by doc_id. Then
    two-level hash aggregation (doc_id, token) -> doc_id; the wide
    shuffle is bounded by distinct tokens per doc, with map-side partial
    aggregation. Fractions round to 6 decimals (engine-portable);
    single-word docs have no bigrams -> 0.0.
    """
    from .dedup import spread_input

    docs = spread_input(df.select("doc_id", text_col))
    wd = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w0"))
    pinned = wd.select("doc_id", F.explode(F.array("_w0")).alias("_w"))
    w = F.col("_w")
    pos = pinned.select("doc_id", F.explode(w).alias("wd"))
    kb = F.size(w) - 1
    bgram = lambda i: F.concat_ws(" ", F.element_at(w, i + 1),
                                  F.element_at(w, i + 2))
    bgs = F.when(kb > 0, F.transform(F.sequence(F.lit(0), kb - 1), bgram)) \
           .otherwise(F.array().cast("array<string>"))
    big = pinned.select("doc_id", F.explode(bgs).alias("bg"))
    wstats = (pos.groupBy("doc_id", "wd").agg(F.count(F.lit(1)).alias("c"))
              .groupBy("doc_id")
              .agg(F.sum("c").alias("n_words"),
                   F.count(F.lit(1)).alias("n_distinct"),
                   F.max("c").alias("top_w")))
    bstats = (big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
              .groupBy("doc_id")
              .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg")))
    return (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6)
             .alias("dup_word_frac"),
            F.round(F.col("top_w") / F.col("n_words"), 6)
             .alias("top_word_frac"),
            F.coalesce(
                F.round(F.col("top_bg") / F.col("n_bigrams"), 6), F.lit(0.0))
             .alias("top_bigram_frac"),
        )
    )


def contamination_screen(
    df: DataFrame,
    probes: tuple[str, ...],
    *,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination screen: which documents contain any of the
    probe phrases (the eval-set n-grams a training corpus must not leak).

    Relational form: the probe set is a tiny broadcast relation joined with
    a substring-containment predicate — a broadcast nested-loop join that
    streams the corpus ONCE and tests |probes| literals per row, JVM-side
    (this is the one place BroadcastNestedLoopJoin is the right plan: the
    build side is a handful of phrases). The lowercase projection sits
    below the join so it folds once per document, not once per probe pair.
    Output: (doc_id, n_hits, matched) with matched = sorted
    comma-joined probe list; only contaminated docs are returned.
    """
    from .dedup import spread_input

    spark = df.sparkSession
    pdf = spark.createDataFrame([(p.lower(),) for p in sorted(set(probes))],
                                "probe string")
    docs = spread_input(df.select("doc_id", text_col)).select(
        "doc_id", F.lower(F.trim(F.col(text_col))).alias("_lt"))
    hits = docs.join(F.broadcast(pdf),
                     F.expr("contains(_lt, probe)"))
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"),
             F.array_join(F.sort_array(F.collect_list("probe")), ",")
              .alias("matched"))
        .select("doc_id", F.col("n_hits").cast("long").alias("n_hits"),
                "matched")
    )


def _bloom_hashed(df: DataFrame, col: str, keep: list[str],
                  m_bits: int, k: int, hash_fn: str) -> DataFrame:
    """(keep..., pos) — the k Bloom positions of df.col, one row each.

    xxhash64 (default): one JVM-codegen hash per (value, i) — the value
    string feeds the hash ONCE per k-row, no Python/interpreted work.
    poly31: the engine-portable chain (base fold below the Generate,
    universal salt + fmix32 per k) for SQL-replayable paths."""
    check_hash_fn(hash_fn)
    idx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i")
    if hash_fn == "xxhash64":
        rows = df.select(*dict.fromkeys([*keep, col]), idx)
        pos = F.pmod(F.xxhash64(F.col(col), F.col("_i")), F.lit(m_bits))
        return rows.select(*keep, pos.alias("pos"))
    hashed = df.select(
        *keep, poly31_hash_arrow(F.col(col).cast("string")).alias("_h"))
    rows = hashed.select(*keep, "_h", idx)
    pos = fmix32(salted_poly(F.col("_h"), F.col("_i"))) % F.lit(m_bits)
    return rows.select(*keep, pos.alias("pos"))


#: entity decode order matters: &amp; LAST, or '&amp;lt;' would double-decode
_HTML_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"))


def extract_html_text(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Raw-web text extraction: the WET-style HTML -> text step a crawl
    corpus needs before any quality/dedup stage. Conservative and fully
    relational (no parser dependency): drop script/style subtrees, strip
    remaining tags, decode the common entities, collapse whitespace —
    plus the boilerplate signals used for filtering (link count and link
    density, the readability/jusText heuristic: navigation chrome is
    link-dense, article text is not).

    Every pattern sits in the Java-regex/RE2 common subset with inline
    (?is) flags (the pii_scrub portability rule), so the DuckDB oracle
    replays extraction byte-for-byte. Counting uses CHARACTER lengths on
    both engines (DuckDB length(), never strlen — the byte/char oracle
    invariant). Zero shuffle: one projection.

    Output: (doc_id, text, n_links, link_density) — text is the
    extracted clean text.
    """
    raw = F.col(text_col)
    stripped = F.regexp_replace(raw, r"(?is)<script[^>]*>.*?</script>",
                                " ")
    stripped = F.regexp_replace(stripped,
                                r"(?is)<style[^>]*>.*?</style>", " ")
    # anchors counted AFTER the script/style strip (ADVICE r4): '<a>' /
    # '<a\nhref' forms match, anchors inside removed subtrees don't —
    # the signal now counts links that survive into the extracted text
    n_links = F.regexp_count(
        stripped, F.lit(r"(?i)<a[\s>]")).cast("long")
    t = F.regexp_replace(stripped, r"(?s)<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.select(
        "doc_id", t.alias("text"), n_links.alias("n_links"),
        F.round(n_links / F.greatest(F.lit(1), F.length(t)), 6)
         .alias("link_density"))


def bloom_bits(
    df: DataFrame, col: str, *, m_bits: int = 1 << 20, k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Bloom filter (Bloom 1970) as a relation: the DISTINCT bit positions
    set by hashing every value k ways — at most ``m_bits`` single-int
    rows whatever the input size, built by one distinct-aggregate.

    Positions come from the sketches.py hash chain (poly31 base computed
    once below the Generate, per-k universal salt, fmix32 avalanche), so
    membership probes are engine-portable. Two bit relations for the same
    (m_bits, k) merge by plain DISTINCT union — the rollup law of the
    membership sketch, same shape as HLL max-merge / CMS sum-merge.

    ``hash_fn='xxhash64'`` (default) hashes JVM-side in one codegen pass —
    the right production path; ``'poly31'`` is the engine-portable chain
    for SQL-replayable uses. Build and probe sides must agree."""
    return _bloom_hashed(df, col, [], m_bits, k, hash_fn).distinct()


def decontaminate_ngrams(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Benchmark decontamination at corpus scale: which training documents
    contain any word n-gram that also appears in the eval set (the
    Lee et al. 2022 / GPT-3 appendix-C screen).

    Output — (doc_id, n_hit_grams): every corpus doc sharing >= 1
    distinct n-gram with the eval set, with the count of distinct shared
    grams. The SEMANTICS are the exact string intersection; the PLAN is
    staged so the exact join only ever sees Bloom survivors:

    1. eval n-grams -> a Bloom BIT relation (bloom_bits: <= m_bits int
       rows, broadcast) — the only thing shipped to every executor; the
       eval gram strings themselves are never broadcast.
    2. corpus distinct (doc_id, gram) probes k positions each (base hash
       below the Generate, as cms_table) and keeps grams whose k
       positions ALL hit: join on the int position against the broadcast
       bit set, HAVING count(*) = k.
    3. false positives die in an exact string equi-join against the eval
       gram relation, restricted to the surviving candidates — at a
       false-positive rate of (1 - e^(-kn/m))^k the shuffle carries the
       true matches plus noise, not the corpus.

    Because stage 3 re-checks exactly, the Bloom stage cannot change the
    answer — the gate oracle IS the plain intersection SQL, and
    hash-equality proves the prefilter lossless. tests pin the plan shape
    (string join consumes the HAVING-k aggregate) and exactness under a
    tiny m_bits that forces visible false positives. The Bloom stage never
    touches the answer, so the default JVM-side xxhash64 needs no
    SQL-checkable twin — the intersection oracle covers both hash_fns.
    """
    grams = (ngram_occurrences(corpus, n=n, text_col=text_col)
             .select("doc_id", "ngram").distinct())
    eval_grams = (ngram_occurrences(eval_df, n=n, text_col=text_col)
                  .select("ngram").distinct())
    bits = bloom_bits(eval_grams, "ngram", m_bits=m_bits, k=k,
                      hash_fn=hash_fn)
    probes = _bloom_hashed(grams, "ngram", ["doc_id", "ngram"],
                           m_bits, k, hash_fn)
    candidates = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("_k_hits"))
        .filter(F.col("_k_hits") == k)
        .select("doc_id", "ngram")
    )
    verified = candidates.join(eval_grams, "ngram")
    return (
        verified.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_grams"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.3,
    max_term_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Document-pair cosine similarity over TF-IDF term vectors — the
    text-native similarity complementing embedding cosine (similarity.py)
    and set-overlap Jaccard (dedup.py); the standard clustering/dedup
    signal when no embedding model is in the loop.

    w(t, d) = tf * ln((1 + N) / (1 + df(t))); cos = <a, b> / (|a| |b|),
    computed with the co-term join topology of ngram_jaccard_pairs: a pair
    is scored only if it shares >= 1 term, the dot product aggregates the
    co-term join, per-doc norms live in a small side relation joined to
    the aggregated pairs. ``max_term_df`` drops ubiquitous terms before
    pairing (the same hot-key shuffle guard as the shingle df cap).
    Output: (doc_a, doc_b, cosine) with doc_a < doc_b, rounded to 6.

    Both float sums (per-doc norm, per-pair dot) accumulate via a
    DETERMINISTIC left fold over the term-sorted contribution list instead
    of a plain SUM whose accumulation order follows shuffle fetch order
    (ADVICE r3): round(..., 6) usually absorbs the ulp drift, but the gate
    hashes exact values, so the fold order is pinned on both sides — the
    oracle mirrors with list_sum(list(x ORDER BY term)), the same
    engine-portable trick as similarity.py's list_dot_product parity.
    Terms are unique per group, so the sort is a total order.
    """
    from .dedup import spread_input

    docs = spread_input(df.select("doc_id", text_col))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
         .alias("term"))
    tf = (tok.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          .repartition("term"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_term_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_term_df)
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    w = (tf.join(dfreq, "term")
         .crossJoin(F.broadcast(n_docs))
         .select("doc_id", "term",
                 (F.col("tf") * F.log((1.0 + F.col("n"))
                                      / (1.0 + F.col("df")))).alias("w")))
    def _sorted_fold(entries):
        # fold arg is a collect_list output (aggregate boundary): the
        # CollapseProject/CSE lambda trap does not apply, and the lambda
        # touches only its element
        return F.aggregate(F.array_sort(entries), F.lit(0.0),
                           lambda acc, x: acc + x["v"])

    norms = w.groupBy("doc_id").agg(
        F.sqrt(_sorted_fold(F.collect_list(F.struct(
            F.col("term"), (F.col("w") * F.col("w")).alias("v"))))
        ).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(_sorted_fold(F.collect_list(F.struct(
            F.col("a.term").alias("term"),
            (F.col("a.w") * F.col("b.w")).alias("v")))).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b",
                F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                 .alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def quality_classifier(
    df: DataFrame,
    *,
    n_buckets: int = 4096,
    text_col: str = "text",
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style hashed linear quality classifier — the model shape
    behind CCNet / LLaMA-pipeline quality filtering (a linear classifier
    over hashed bag-of-words features; Joulin et al. 2016): each word
    hashes to one of ``n_buckets`` feature buckets, the document score is
    the sum of the bucket weights (bag semantics — repeats count), and a
    squash maps the mean weight to a keep-probability.

    The weight table is a RELATION, exactly how a trained model ships at
    scale: (bucket, wt) broadcast-joined onto the hashed words — swap in
    real trained weights by passing ``weights``. The default table is a
    deterministic stand-in derived from the bucket id (no labeled data or
    training libs exist in this sandbox — documented stand-in, same
    plumbing): wt(b) = ((b * 2654435761 + 97) mod P) mod 2001 - 1000,
    an int in [-1000, 1000].

    Bit-stability: the score is an INT64 sum (order-independent under any
    shuffle); the only float chain is the final squash
    p = 0.5 + t / (2 (1 + |t|)) with t = score / (1000 n_words) — softsign,
    pure IEEE +,*,/,abs (no exp/ln), identical in any engine. The label
    thresholds the integer score directly.

    Scale shape: one posexplode (map-side), per-word hash + broadcast
    equi-join on bucket, one partial-agg shuffle keyed by doc_id.
    Output: (doc_id, n_words, score, prob, label).
    """
    from .dedup import spread_input

    spark = df.sparkSession
    if weights is None:
        weights = spark.range(n_buckets).select(
            F.col("id").alias("bucket"),
            (((F.col("id") * F.lit(2654435761) + F.lit(97)) % F.lit(POLY_P))
             % F.lit(2001) - F.lit(1000)).alias("wt"),
        )
    docs = spread_input(df.select("doc_id", text_col))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
         .alias("word"))
    hashed = tok.select(
        "doc_id", (poly31_hash_arrow(F.col("word")) % n_buckets)
        .alias("bucket"))
    # LEFT join + zero-fill (ADVICE r4): a caller-supplied TRAINED weight
    # table need not cover every bucket; uncovered words must score 0,
    # not silently drop from n_words (or erase whole docs). The default
    # table covers all buckets, so gate hashes are unchanged.
    scored = (
        hashed.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.sum(F.coalesce(F.col("wt"), F.lit(0))).alias("score"))
    )
    t = F.col("score") / (F.col("n_words") * F.lit(1000.0))
    return scored.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("score").cast("long").alias("score"),
        F.round(F.lit(0.5) + t / (F.lit(2.0) * (F.lit(1.0) + F.abs(t))), 6)
         .alias("prob"),
        F.when(F.col("score") >= 0, F.lit("keep")).otherwise(F.lit("drop"))
         .alias("label"),
    )


def _hashed_bag(df: DataFrame, label: Column, *, n_buckets: int,
                text_col: str) -> DataFrame:
    """(doc_id, y, bucket, cnt) hashed bag-of-words rows plus one bias
    row per doc at bucket == n_buckets — the feature relation both the
    perceptron fit and the trained scorer consume (identical hashing to
    :func:`quality_classifier`). The ±1 target ``y`` rides along from
    the start: deriving it here instead of joining a label relation
    later keeps the training loop free of tb-vs-derived-from-tb
    self-joins (see train_quality_classifier's plan note)."""
    from .dedup import spread_input

    docs = spread_input(df.select(
        "doc_id",
        F.when(label, F.lit(1)).otherwise(F.lit(-1))
         .cast("long").alias("y"),
        text_col))
    tok = docs.select(
        "doc_id", "y",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
         .alias("word"))
    bag = (tok.select(
        "doc_id", "y",
        (poly31_hash_arrow(F.col("word")) % n_buckets).alias("bucket"))
        .groupBy("doc_id", "y", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    bias = docs.select(
        "doc_id", "y", F.lit(n_buckets).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"))
    return bag.unionByName(bias)


def train_quality_classifier(
    df: DataFrame,
    label: Column,
    *,
    n_buckets: int = 4096,
    rounds: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic FIT stage for the hashed linear classifier: batch
    perceptron over the hashed bag-of-words relation, fixed ``rounds``
    iterations of pure int64 arithmetic (the ivf_train_centroids loop
    discipline — only a bounded weight-delta relation ever crosses to
    the driver, <= n_buckets + 1 ints per round).

    Per round: score every doc against the current weights (broadcast
    sparse relation, missing buckets = 0), take the misclassified set
    (y * score <= 0 — round 0 has zero weights, so every doc updates),
    and fold the batch update w[b] += sum(y * cnt) over misclassified
    docs. All sums are int64 over ints — order-independent, so the
    trained weights are bit-identical under any partitioning, and a
    DuckDB oracle re-derives the FULL training by unrolling the same
    rounds (``_perceptron_oracle`` in __spark_entry__.py).

    ``label`` is a deterministic boolean Column over ``df`` (+1/-1
    target). A bias feature rides at bucket == n_buckets. Converged
    rounds (empty misclassified set) are no-ops, so extra rounds never
    change the answer. Returns the sparse (bucket, wt) weight relation
    (zero weights dropped; safe because scoring coalesces misses to 0).

    Plan note: the per-round misclassified set is computed with a
    window sum over the SAME single pass that feeds the bucket
    aggregate — never as ``tb.join(aggregate-of-tb)``. Besides saving a
    shuffle, that self-join shape silently DUPLICATED every matched row
    once per union branch of tb under Spark 4.1's self-join
    deduplication (observed 2x deltas, 2026-08-17); the window form has
    one unambiguous lineage.
    """
    spark = df.sparkSession
    # iterative reuse: every round re-scans the same hashed-bag relation —
    # persist it ONCE, hash-partitioned by doc_id (the ivf_train_centroids
    # persist discipline; only the tiny bucket aggregate exchanges per
    # round)
    tb = (_hashed_bag(df, label, n_buckets=n_buckets, text_col=text_col)
          .repartition("doc_id").persist())
    wts = _perceptron_rounds(spark, tb, rounds)
    tb.unpersist()
    return spark.createDataFrame(
        sorted(wts.items()) or [(0, 0)], "bucket long, wt long")


def _perceptron_rounds(spark: SparkSession, tb: DataFrame,
                       rounds: int) -> dict[int, int]:
    """The batch-perceptron round loop over a persisted doc_id-partitioned
    hashed-bag relation; returns the trained sparse weights.

    Per-round shape (r6): ONE doc_id-aligned hash aggregate computes every
    doc's score AND carries its (bucket, cnt) bag through collect_list, so
    the misclassified set explodes straight into the bucket-delta partial
    aggregate — no per-round window SORT of the corpus-sized cache (A/B at
    sf1.0: 0.83 s vs 1.04 s warm per round), and no tb-vs-derived-from-tb
    self-join anywhere (the Spark 4.1 union dedup hazard, CLAUDE.md). The
    groupBy(doc_id, y) reuses the cache's hashpartitioning(doc_id) — zero
    corpus-sized exchange per round; the delta exchange carries <=
    n_buckets + 1 int rows. Deltas are int64 sums over ints —
    order-independent, so the trained weights are bit-identical to the
    window form the oracle replays. The remaining per-round wall is job
    latency, not data (~0.15 s of it is the scan at sf1.0).
    """
    wts: dict[int, int] = {}
    for _ in range(rounds):
        if wts:
            wdf = spark.createDataFrame(
                sorted(wts.items()), "bucket long, wt long")
            mis = (tb.join(F.broadcast(wdf), "bucket", "left")
                   .groupBy("doc_id", "y")
                   .agg(F.sum(F.col("cnt")
                              * F.coalesce(F.col("wt"), F.lit(0)))
                        .alias("_s"),
                        F.collect_list(F.struct("bucket", "cnt"))
                        .alias("_bag"))
                   .filter(F.col("y") * F.col("_s") <= 0))
            mis_rows = mis.select(
                "y", F.explode("_bag").alias("_bc")).select(
                "y", F.col("_bc.bucket").alias("bucket"),
                F.col("_bc.cnt").alias("cnt"))
        else:
            mis_rows = tb  # zero weights score every doc 0 -> all update
        delta = (mis_rows.groupBy("bucket")
                 .agg(F.sum(F.col("y") * F.col("cnt")).alias("dw"))
                 .collect())  # bounded: <= n_buckets + 1 int rows
        if not delta:
            break  # converged; remaining rounds are no-ops
        for r in delta:
            wts[r["bucket"]] = wts.get(r["bucket"], 0) + r["dw"]
        wts = {b: w for b, w in wts.items() if w != 0}
    return wts


def quality_classifier_trained(
    df: DataFrame,
    label: Column,
    *,
    n_buckets: int = 4096,
    rounds: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Fit (:func:`train_quality_classifier`) then score: each doc's
    trained int64 score, its deterministic target y and the thresholded
    prediction (score > 0 -> +1, ties negative — the same tie rule the
    fit's misclassification test uses). Output: (doc_id, n_words,
    score, y, pred), all int64 — bit-stable under any shuffle.

    The hashed bag is derived and persisted ONCE and shared between the
    training rounds and the scoring pass (r6: the previous shape paid the
    full explode+hash+aggregate derivation twice)."""
    spark = df.sparkSession
    tb = (_hashed_bag(df, label, n_buckets=n_buckets, text_col=text_col)
          .repartition("doc_id").persist())
    wts = _perceptron_rounds(spark, tb, rounds)
    w = spark.createDataFrame(
        sorted(wts.items()) or [(0, 0)], "bucket long, wt long")
    scored = (tb.join(F.broadcast(w), "bucket", "left")
              .groupBy("doc_id", "y")
              .agg(F.sum(F.when(F.col("bucket") < n_buckets, F.col("cnt"))
                          .otherwise(F.lit(0))).cast("long")
                    .alias("n_words"),
                   F.sum(F.col("cnt") * F.coalesce(F.col("wt"), F.lit(0)))
                    .cast("long").alias("score")))
    out = scored.select(
        "doc_id", "n_words", "score", "y",
        F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(-1))
         .cast("long").alias("pred"))
    # materialize the per-doc result (tiny) so the shared bag cache can be
    # released NOW — a persist left live past return would be found by
    # CacheManager's plan-matching on the next invocation and silently
    # carry work across bench reps (the no-cross-run-caching rule)
    out = out.localCheckpoint(eager=True)
    tb.unpersist()
    return out


def _dsir_buckets(df: DataFrame, target: Column, *, n_buckets: int,
                  text_col: str) -> DataFrame:
    """(doc_id, _tgt, bucket) token rows — shared fit/score derivation."""
    from .dedup import spread_input

    docs = spread_input(df.select("doc_id", text_col, target.alias("_tgt")))
    tok = docs.select(
        "doc_id", "_tgt",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
         .alias("word"))
    return tok.select(
        "doc_id", "_tgt",
        (poly31_hash_arrow(F.col("word")) % n_buckets).alias("bucket"))


def dsir_fit(
    df: DataFrame,
    target: Column,
    *,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> tuple[list[tuple[int, int, int]], int, int]:
    """Fit the two DSIR hashed-unigram count models in ONE corpus pass:
    per-bucket (raw count, target count) from a single conditional
    aggregate, collected driver-side — the model is B <= a few thousand
    integer triples, the same league as the IVF codebook collect, and at
    100 TB this pass runs on a SAMPLE exactly as the paper fits its
    n-gram models. Totals reduce driver-side from the collected ints
    (exact integer arithmetic — no float leaves the engine).

    Returns (rows, R, T) with rows = [(bucket, r_b, t_b), ...].
    """
    bc = _dsir_buckets(df, target, n_buckets=n_buckets, text_col=text_col)
    rows = (bc.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("r"),
                 F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("t"))
            .collect())
    model = sorted((int(x["bucket"]), int(x["r"]), int(x["t"]))
                   for x in rows)
    R = sum(r for _, r, _ in model)
    T = sum(t for _, _, t in model)
    return model, R, T


def dsir_scores(
    df: DataFrame,
    target: Column | None = None,
    *,
    model: tuple[list[tuple[int, int, int]], int, int] | None = None,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by the log-likelihood ratio of two hashed-unigram bag-of-words models
    — one fit on the ``target`` subset (the domain you want more of), one
    on the full raw corpus. logw > 0 means "more target-like than
    raw-average"; resampling keeps the high-logw tail.

    logw(d) = Σ_b c_{d,b} (ln(t_b+α) − ln(r_b+α))
              + |d| (ln(R+αB) − ln(T+αB))
    with c_{d,b} the doc's count in bucket b = poly31(word) mod B, t/r the
    target/raw corpus bucket counts, T/R their totals, α add-α smoothing.

    fit-then-score, the paper's own split and the reason the plan has NO
    multi-consumer re-scan: ``dsir_fit`` makes one token pass (optionally
    over a sample) and ships B integer triples to the driver; scoring is
    then a SINGLE distributed token pass — explode, hash, one
    (doc_id, bucket) two-level hash agg, broadcast-join the B-row λ
    relation, fold. (A fused all-relational form was tried first: three
    consumers of the token relation prune different columns, so Catalyst
    cannot reuse one exchange and the corpus is scanned three times —
    the fit/score split is both the production semantics and the better
    plan.) λ stays an ENGINE expression over the collected ints, so no
    driver-side libm enters the value chain.

    Bit-stability: every count is integral; the only float reduction —
    Σ_b c·λ per doc — folds over the bucket-sorted contribution list
    (the tfidf_cosine_pairs trick), pinned under any shuffle; the SQL
    oracle mirrors with list_sum(list(x ORDER BY bucket)).

    ``target`` is a Column predicate over ``df``'s rows (e.g.
    F.col("lang") == "de"). Output: (doc_id, n_words, logw, selected)
    with selected = logw >= 0 (the resampling step's deterministic
    stand-in; the paper's Gumbel-noise sampling is one seeded hash away).
    """
    if model is None:
        if target is None:
            raise ValueError("dsir_scores needs target or a fitted model")
        model = dsir_fit(df, target, n_buckets=n_buckets, text_col=text_col)
    rows, R, T = model
    spark = df.sparkSession
    lam = spark.createDataFrame(rows, "bucket long, r long, t long").select(
        "bucket",
        (F.log(F.col("t") + F.lit(alpha))
         - F.log(F.col("r") + F.lit(alpha))).alias("lam"))
    bc = _dsir_buckets(df, target if target is not None else F.lit(False),
                       n_buckets=n_buckets, text_col=text_col)
    percd = bc.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    # LEFT join: a bucket unseen by a sample-fitted model has r=t=0, so
    # its λ = ln(α) − ln(α) = 0 — coalesce, never drop the tokens
    folded = (
        percd.join(F.broadcast(lam), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(
                    F.col("bucket"),
                    (F.col("c") * F.coalesce(F.col("lam"), F.lit(0.0)))
                    .alias("v")))),
                F.lit(0.0), lambda acc, x: acc + x["v"]).alias("_s"),
        )
    )
    ab = alpha * n_buckets
    logw = F.round(
        F.col("_s") + F.col("n_words")
        * (F.log(F.lit(R) + F.lit(ab)) - F.log(F.lit(T) + F.lit(ab))), 6)
    return folded.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        logw.alias("logw"),
        (logw >= 0).alias("selected"),
    )


def unigram_fit(
    df: DataFrame,
    *,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> tuple[list[tuple[int, int]], int]:
    """Fit a hashed-unigram language model in one corpus pass: per-bucket
    counts collected driver-side (B integer pairs — the dsir_fit /
    IVF-codebook collect pattern; fit on a SAMPLE at corpus scale).
    Returns (rows, R) with rows = [(bucket, c_b), ...], R = Σ c_b."""
    bc = _dsir_buckets(df, F.lit(False), n_buckets=n_buckets,
                       text_col=text_col)
    rows = (bc.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
            .collect())
    model = sorted((int(x["bucket"]), int(x["c"])) for x in rows)
    return model, sum(c for _, c in model)


def perplexity_buckets(
    df: DataFrame,
    *,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    model: tuple[list[tuple[int, int]], int] | None = None,
) -> DataFrame:
    """CCNet-style language-model perplexity bucketing (Wenzek et al.
    2020: score every document under a LM fit on a reference corpus, then
    split the corpus into equal-count head / middle / tail thirds —
    head = most fluent, the quality signal CCNet filters and samples by).
    The LM here is the hashed-unigram model (KenLM stand-in with the same
    pipeline shape): avg_logp(d) = (Σ_w ln(c_{b(w)}+α))/|d| − ln(R+αB),
    higher = more corpus-typical.

    fit-then-score like dsir_scores (one token pass each, B-int-pair
    model driver-side, λ/logp stays an engine expression — no driver
    libm in the value chain). Bucketing is a single ntile(3) over
    (avg_logp, doc_id) — equal-count thirds without a second pass over
    the scored relation (a threshold-based variant would re-run the
    token-pass lineage to aggregate its own quantiles); the global sort
    is range-partitioned, |docs| rows not tokens, and ties are broken by
    doc_id so the cut is deterministic in any engine.

    Output: (doc_id, n_words, avg_logp, ppl_bucket in head|middle|tail).
    """
    if model is None:
        model = unigram_fit(df, n_buckets=n_buckets, text_col=text_col)
    rows, R = model
    spark = df.sparkSession
    lm = spark.createDataFrame(rows, "bucket long, c long").select(
        "bucket", F.log(F.col("c") + F.lit(alpha)).alias("logp"))
    bc = _dsir_buckets(df, F.lit(False), n_buckets=n_buckets,
                       text_col=text_col)
    percd = bc.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    folded = (
        percd.join(F.broadcast(lm), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(
                    F.col("bucket"),
                    (F.col("c") * F.coalesce(F.col("logp"),
                                             F.log(F.lit(alpha))))
                    .alias("v")))),
                F.lit(0.0), lambda acc, x: acc + x["v"]).alias("_s"),
        )
    )
    ab = alpha * n_buckets
    scored = folded.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(F.col("_s") / F.col("n_words")
                - F.log(F.lit(R) + F.lit(ab)), 6).alias("avg_logp"),
    )
    nt = F.ntile(3).over(
        Window.orderBy(F.col("avg_logp").asc(), F.col("doc_id").asc()))
    return scored.select(
        "doc_id", "n_words", "avg_logp",
        F.when(nt == 1, F.lit("tail")).when(nt == 2, F.lit("middle"))
         .otherwise(F.lit("head")).alias("ppl_bucket"),
    )


def ngram_occurrences(
    df: DataFrame, *, n: int = 2, text_col: str = "text",
) -> DataFrame:
    """Every word n-gram OCCURRENCE as a row: (doc_id, ngram).

    NARROW construction (r6): the words array is materialized below a
    Generate (explode of a 1-element array — blocks CollapseProject, the
    shingle_rows discipline) so the per-index lambda's ``element_at``
    reads a bound column instead of re-running the split per element.
    No posexplode-window pass: the previous form shuffled and sorted
    every word occurrence by doc_id just to assemble adjacent words; here
    the whole derivation is map-side. Docs shorter than ``n`` words
    contribute nothing (the window form's _full filter), and the gram
    text is the identical concat_ws chain — same output rows."""
    from .dedup import spread_input

    docs = spread_input(df.select("doc_id", text_col))
    wd = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w0"))
    pinned = wd.select("doc_id", F.explode(F.array("_w0")).alias("_w"))
    w = F.col("_w")
    k = F.size(w) - (n - 1)
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(w, i + j + 1) for j in range(n)])
    grams = F.when(k > 0, F.transform(F.sequence(F.lit(0), k - 1), gram)) \
             .otherwise(F.array().cast("array<string>"))
    return pinned.select("doc_id", F.explode(grams).alias("ngram"))


def top_ngrams(
    df: DataFrame,
    *,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide heavy-hitter word n-grams: the exact top-k by total
    occurrence count with document frequency — the boilerplate /
    template-phrase detector a curation run eyeballs before setting
    line-dedup and shingle-df caps.

    ``grams``: an already-derived (doc_id, ngram) occurrence relation to
    reuse (r6 — callers that also build a sketch over the same grams
    share ONE derivation instead of re-tokenizing the corpus).

    Relational n-grams (posexplode + lead windows, the repetition_stats
    construction — occurrences, NOT the distinct shingle sets), one hash
    aggregate keyed by the gram (a hot gram is one counter + one distinct
    doc_id sub-agg), then a DETERMINISTIC global top-k: orderBy
    (cnt desc, gram asc) + limit plans as TakeOrderedAndProject —
    per-partition top-k heaps merged at the driver, never a global sort
    of the full gram relation — and the total order makes the cut
    engine-portable (rank ties cannot exist: the gram is unique).
    The rank projection windows over the k returned rows only.

    Output: (rank, ngram, cnt, n_docs).
    """
    if grams is None:
        grams = ngram_occurrences(df, n=n, text_col=text_col)
    counts = (grams.groupBy("ngram")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.countDistinct("doc_id").alias("n_docs")))
    top = counts.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    return top.select(
        F.row_number().over(w).alias("rank"), "ngram",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_docs").cast("long").alias("n_docs"))


def chunk_documents(
    df: DataFrame,
    *,
    chunk_words: int = 64,
    overlap_words: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size chunking — the context-window splitter an
    embedding/RAG/pretraining prep stage runs over every document:
    chunk k covers word positions [k*stride, k*stride + chunk_words)
    with stride = chunk_words - overlap_words, so consecutive chunks
    share ``overlap_words`` words and no content is lost at boundaries.

    Fully relational: posexplode the words, compute each word's chunk
    range [k_lo, k_hi] with integer arithmetic (k_hi = pos div stride;
    k_lo clamps at 0 — Spark's truncating div and an oracle's floor div
    agree wherever the clamp doesn't already win), explode the range
    (fan-out <= ceil(chunk/stride) per word — a constant), and rebuild
    each chunk with the order-pinned fold (array_sort(collect_list(
    struct(pos, word)))) — deterministic under any shuffle order, the
    line_dedup idiom. One exchange keyed by (doc, chunk): O(words x
    overlap-factor) total, no per-doc serialization, scales with the
    corpus not the document count.

    Word-based, not token-based, by design: words are a deterministic
    engine-portable unit (split on whitespace); a token-budget variant
    composes by multiplying ``chunk_words`` by the corpus's measured
    words-per-token ratio. Output: (doc_id, chunk_idx, text, n_words,
    start_pos).
    """
    chunk = int(chunk_words)
    stride = chunk - int(overlap_words)
    if stride <= 0:
        raise ValueError("overlap_words must be < chunk_words")
    words = df.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
         .alias("pos", "word"))
    k_lo = F.greatest(
        F.lit(0), F.expr(f"(pos - {chunk} + {stride}) div {stride}"))
    k_hi = F.expr(f"pos div {stride}")
    assigned = words.select(
        "doc_id", "pos", "word",
        F.explode(F.sequence(k_lo.cast("int"), k_hi.cast("int")))
         .alias("chunk_idx"))
    return (
        assigned.groupBy("doc_id", "chunk_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x["word"]),
                " ").alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.min("pos").cast("long").alias("start_pos"),
        )
        .select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
                "text", "n_words", "start_pos")
    )


#: (name, regex) PII patterns — conservative, engine-portable subset (the
#: same expression must compile identically under Java regex (Spark) and
#: RE2 (DuckDB): no backrefs, no lookaround). Order matters: emails are
#: scrubbed before IPs so an address inside a hostname-ish local part is
#: consumed by the email rule first; counting runs on the progressively
#: scrubbed text with the same order on both sides.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+\d{7,15}"),
)


def pii_scrub(
    df: DataFrame,
    *,
    text_col: str = "text",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """PII redaction — the C4-style scrub pass every released corpus runs:
    emails, bare IPv4 addresses and international phone numbers are
    replaced by typed placeholder tokens (``<email>`` etc.), with per-type
    match counts for audit metrics.

    Pure JVM projection (regexp_count + regexp_replace chained per
    pattern): zero shuffle, pushes alongside other scan-level projections,
    scales linearly in bytes. Each pattern counts matches in the text AS
    ALREADY SCRUBBED by the preceding patterns, then replaces them — a
    deterministic pipeline order mirrored verbatim in the SQL oracle.

    Output: (doc_id, text, n_<name> per pattern).
    """
    from .dedup import spread_input

    df = spread_input(df.select("doc_id", text_col))
    cur = F.col(text_col)
    counts = []
    for name, pat in patterns:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long")
                      .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, f"<{name}>")
    return df.select(F.col("doc_id"), cur.alias("text"), *counts)


def classifier_roc(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "y",
    round_digits: int = 6,
) -> DataFrame:
    """ROC / precision operating points for a scored relation (the
    evaluation stage the trained quality classifier was missing): one
    row per DISTINCT score threshold with the confusion counts and
    tpr/fpr/precision at "predict positive iff score >= threshold".

    Scale shape: one hash aggregate collapses the corpus to its
    distinct operating thresholds (|distinct scores| rows — for the
    int64 perceptron scores this is at most #docs but typically far
    fewer), then the cumulative windows run on that TINY relation —
    the histogram_quantiles discipline: the single-partition sort is
    O(#thresholds), never a global sort of the corpus.

    Determinism: all counts int64; each ratio is one IEEE division of
    exact ints <= 1.0 in magnitude, rounded for display.

    Output: (threshold, tp, fp, fn, tn, tpr, fpr, prec), ordered
    thresholds descending = the ROC sweep.
    """
    from pyspark.sql import Window

    pos = F.when(F.col(label_col) == 1, 1).otherwise(0)
    neg = F.when(F.col(label_col) == -1, 1).otherwise(0)
    per = scored.groupBy(F.col(score_col).alias("threshold")).agg(
        F.sum(pos).cast("long").alias("_np"),
        F.sum(neg).cast("long").alias("_nn"))
    cum = Window.orderBy(F.col("threshold").desc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    d = round_digits
    return (per
            .withColumn("tp", F.sum("_np").over(cum).cast("long"))
            .withColumn("fp", F.sum("_nn").over(cum).cast("long"))
            .withColumn("_P", F.sum("_np").over(tot).cast("long"))
            .withColumn("_N", F.sum("_nn").over(tot).cast("long"))
            .select(
                "threshold", "tp", "fp",
                (F.col("_P") - F.col("tp")).cast("long").alias("fn"),
                (F.col("_N") - F.col("fp")).cast("long").alias("tn"),
                F.round(F.col("tp") / F.col("_P"), d).alias("tpr"),
                F.round(F.col("fp") / F.col("_N"), d).alias("fpr"),
                F.round(F.col("tp") / (F.col("tp") + F.col("fp")), d)
                .alias("prec")))


def word_blocklist_filter(
    docs: DataFrame,
    blocked: "Sequence[str]",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The C4 'bad words' page filter: drop any document containing a
    blocked word (Raffel et al. 2020 removed pages matching the public
    blocklist wholesale). Scale shape = urls.blocklist_filter's: the
    doc explodes into its words ONCE and semi-joins the broadcast list
    — cost O(rows × words), independent of list size; a per-pattern
    regex/LIKE chain would be O(rows × patterns) and unshippable at
    real blocklist sizes. Matching is whole-word on the normalized
    token (lowercased, whitespace-split), so 'class' never matches a
    blocked 'ass' the way C4's substring grep famously did.
    """
    spark = docs.sparkSession
    bl = spark.createDataFrame([(w.lower(),) for w in blocked],
                               "word string")
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("word"))
    hit = (words.join(F.broadcast(bl), "word", "left_semi")
           .select(id_col).distinct())
    return docs.join(hit, id_col, "left_anti")


def gopher_quality_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 100000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    min_stopword_ratio: float = 0.03,
    max_dup_word_frac: float = 0.6,
    max_top_word_frac: float = 0.12,
    max_top_bigram_frac: float = 0.06,
) -> DataFrame:
    """The Gopher rules (Rae et al. 2021, §A1.1) composed from the two
    already-gated signal relations: length/word-shape/stopword gates
    from text_quality and the repetition gates (duplicate-word mass,
    most-frequent word/bigram fractions) from repetition_stats — the
    standard web-corpus quality pass, one join of two per-doc
    aggregates, all thresholds on rounded-6 deterministic signals.

    Output: surviving (doc_id + both signal sets) so the caller can
    audit WHY a doc survived.
    """
    q = text_quality(docs, text_col=text_col)
    r = repetition_stats(docs, text_col=text_col).drop("n_words")
    j = q.join(r, "doc_id")
    return j.filter(
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("avg_word_len") >= min_avg_word_len)
        & (F.col("avg_word_len") <= max_avg_word_len)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac))


def doc_keywords(
    df: DataFrame,
    *,
    k: int = 5,
    max_term_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the corpus-audit/browse
    surface (what is this cluster/domain about?) and the cheap sparse
    doc representation retrieval UIs ship. Same weighting as
    tfidf_cosine_pairs (w = tf · ln((1+N)/(1+df))); the per-doc rank<=k
    window plans as WindowGroupLimit (per-partition heaps below the
    doc-keyed exchange), so the output is O(k · docs) however long the
    documents. Ordering is (w desc, term asc) — the weight is ONE
    multiply of an int tf by a shared ln value, identical across
    engines (the tfidf_pairs precedent), and the lexicographic term
    tiebreak totalizes it. ``max_term_df`` drops ubiquitous terms
    (stopword suppression without a stopword list).

    Output: (doc_id, rank, term, weight), weight rounded to 6.
    """
    from pyspark.sql import Window

    from .dedup import spread_input

    docs = spread_input(df.select("doc_id", text_col))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_term_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_term_df)
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    w = (tf.join(dfreq, "term")
         .crossJoin(F.broadcast(n_docs))
         .select("doc_id", "term",
                 (F.col("tf") * F.log((1.0 + F.col("n"))
                                      / (1.0 + F.col("df"))))
                 .alias("_w")))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("_w").desc(), F.col("term").asc())
    return (w.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "term",
                    F.round(F.col("_w"), 6).alias("weight")))
