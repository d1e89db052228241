"""Structured-Streaming CEP pipeline over the token stream.

The north_rule core: an unbounded stream of pre-tokenized sequences
(the Spark analogue of solarpos's ``@-`` stdin mode,
util/DateTimeIterator.java:235-238) is decoded per micro-batch, position and
sunrise rows are derived with the same vectorized kernels as the batch path,
and CEP operators run on event time:

* watermark-bounded exact dedup of re-delivered records,
* tumbling windows by observation hour: row counts, HLL registers and
  count-min counters per window,
* a stateful stream-stream join aligning each position row with its
  same-day sunrise row (equi-key + event-time range, watermark-bounded),
* a stateless curation filter and a stream-stream event funnel.

Session windows are ``F.session_window`` (operators/windows.py), the
follows-by machines live in streaming/stateful.py and the exactly-once
sink in sinks/exactly_once.py.

Row values are identical to the batch path by construction — the UDFs are
shared — so the batch oracles in __spark_entry__.py pin streaming
correctness; streaming-specific semantics (late-data drops, resume) are
covered in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.position import position
from ..operators.sunrise import sunrise
from ..sources.tokens import decode_tokens


def decoded_stream(token_stream: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Decode + event-time column + watermark. Event time is the encoded
    observation timestamp (the reference's input dateTime)."""
    dec = decode_tokens(token_stream)
    return dec.withColumn(
        "event_time", F.timestamp_seconds(F.col("unix_sec"))
    ).withWatermark("event_time", watermark)


def deduped_stream(decoded: DataFrame,
                   keys: tuple[str, ...] = ("doc_id", "seq_index")) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same logical record
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    The training-pipeline guard for at-least-once upstreams (replayed files,
    producer retries): state is keyed by ``keys`` and EVICTED once the
    watermark passes — O(in-flight window), not O(stream), the same bound
    as the stateful join. Batch equivalent: ``dropDuplicates(keys)``.
    Requires ``decoded`` to carry a watermark (decoded_stream sets one).
    """
    return decoded.dropDuplicatesWithinWatermark(list(keys))


def position_stream(decoded: DataFrame, *, algorithm: str = "spa") -> DataFrame:
    """1:1 position rows (the graft's primary path, R3)."""
    out = position(
        decoded, algorithm=algorithm, ts_col="unix_sec", time_is_unix=True,
        passthrough=["doc_id", "seq_index", "event_time"],
    )
    return out


def sunrise_stream(decoded: DataFrame, *, twilight: bool = False) -> DataFrame:
    """Per-record sunrise rows keyed like the position stream."""
    return sunrise(
        decoded, twilight=twilight, ts_col="unix_sec", time_is_unix=True,
        passthrough=["doc_id", "seq_index", "event_time"],
    )


def hourly_window_counts(decoded: DataFrame) -> DataFrame:
    """Tumbling 1h windows over observation hour: row counts + coordinate
    extent per bucket (watermark-bounded, append-able)."""
    return (
        decoded.groupBy(F.window("event_time", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            F.approx_count_distinct("doc_id").alias("n_docs"),
        )
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n_rows", "min_lat", "max_lat", "n_docs")
    )


def hourly_distinct_registers(
    decoded: DataFrame, value_col: str, *, p: int = 10,
    hash_fn: str = "poly31",
) -> DataFrame:
    """Streaming HLL register maintenance: per hourly event-time window,
    the (bucket, register) relation of distinct ``value_col`` values —
    the unbounded-stream form of the sketches.py cardinality sketch.

    ``max`` is an algebraic streaming aggregate, so state per window is
    bounded by 2^p registers no matter how many rows arrive, and a
    window's register rows append once the watermark releases it. The
    committed relation is ARRIVAL-ORDER INDEPENDENT for rows that beat
    the watermark (max commutes), and estimating is a batch-side
    sketches.hll_estimate over the committed rows grouped by window —
    the streaming half of the warehouse rollup: the stream maintains
    registers, readers merge/estimate without touching raw events.

    Output: (window_start, bucket, register). ``decoded`` must carry a
    watermark on event_time (decoded_stream sets one).
    """
    from ..operators.sketches import hll_bucket_rank, hll_hash

    h = hll_hash(F.col(value_col), hash_fn=hash_fn)
    bucket, rank = hll_bucket_rank(F.col("_h"), p=p)
    return (
        decoded.select("event_time", h.alias("_h"))
        .select("event_time", bucket.alias("bucket"), rank.alias("_rank"))
        .groupBy(F.window("event_time", "1 hour").alias("w"),
                 F.col("bucket"))
        .agg(F.max("_rank").alias("register"))
        .select(F.col("w.start").alias("window_start"), "bucket",
                "register")
    )


def windowed_cms_counts(
    decoded: DataFrame, value_col: str, *, depth: int = 4,
    width: int = 256, hash_fn: str = "poly31",
) -> DataFrame:
    """Streaming count-min maintenance: per hourly event-time window the
    depth x width counter relation of ``value_col`` — the frequency
    companion to hourly_distinct_registers. count is algebraic, so state
    per window is bounded by depth*width counters whatever the rate, the
    committed relation is arrival-order independent (sum commutes), and
    point estimates run batch-side over the committed counters
    (sketches.cms_estimate semantics: min over rows, absent
    coordinate = 0). Output: (window_start, row, bucket, cnt)."""
    from ..operators.sketches import _cms_coords

    coords = _cms_coords(
        decoded.select("event_time", F.col(value_col)), value_col,
        ["event_time"], depth, width, hash_fn)
    return (
        coords.groupBy(F.window("event_time", "1 hour").alias("w"),
                       "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "row", "bucket",
                "cnt")
    )


_TWILIGHT_COLS = ("astronomical_start", "nautical_start", "civil_start",
                  "civil_end", "nautical_end", "astronomical_end")


def position_sunrise_join(decoded: DataFrame, *, algorithm: str = "spa",
                          join_window: str = "INTERVAL 1 DAY",
                          twilight: bool = False) -> DataFrame:
    """Stateful stream-stream join: position rows ⋈ their same-key sunrise
    rows on (doc_id, seq_index) with an event-time range bound.

    Both sides carry watermarks (inherited from ``decoded``), so Spark can
    evict join state once the watermark passes the range bound — the state
    stays O(watermark-window), not O(stream). The time condition keeps the
    join within one observation day (sunrise is day-resolution).

    ``twilight=True`` additionally carries the six twilight horizons
    (--twilight, SunriseCommand.java:143-155) through the join — same state
    bound, the sunrise side just gets wider rows.
    """
    extra = list(_TWILIGHT_COLS) if twilight else []
    pos = position_stream(decoded, algorithm=algorithm).alias("p")
    sr = (
        sunrise_stream(decoded, twilight=twilight)
        .select(
            F.col("doc_id").alias("s_doc_id"),
            F.col("seq_index").alias("s_seq_index"),
            F.col("event_time").alias("s_event_time"),
            "type", "sunrise", "transit", "sunset", *extra,
        )
        .alias("s")
    )
    cond = (
        (F.col("p.doc_id") == F.col("s_doc_id"))
        & (F.col("p.seq_index") == F.col("s_seq_index"))
        & (F.col("s_event_time") >= F.col("p.event_time") - F.expr(join_window))
        & (F.col("s_event_time") <= F.col("p.event_time") + F.expr(join_window))
    )
    joined = pos.join(sr, cond, "inner")
    return joined.select(
        "p.doc_id", "p.seq_index", "p.event_time",
        "p.latitude", "p.longitude", "p.azimuth", "p.zenith",
        "type", "sunrise", "transit", "sunset", *extra,
        # is the observation between sunrise and sunset?
        F.when(F.col("type") == "ALL_DAY", F.lit(True))
        .when(F.col("type") == "ALL_NIGHT", F.lit(False))
        .otherwise((F.col("p.event_time") >= F.col("sunrise"))
                   & (F.col("p.event_time") <= F.col("sunset")))
        .alias("is_daylight"),
    )


def curated_doc_stream(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    *,
    min_words: int = 20,
    min_stopword_ratio: float = 0.02,
    max_avg_word_len: float = 12.0,
    text_col: str = "text",
) -> DataFrame:
    """Stateless streaming curation: quality gate + stratified sampling on
    an unbounded DOCUMENT stream (the LLM-data twin of the token CEP path).

    Every stage is a pure projection/filter built from the SAME expression
    builders as the batch operators (text.text_quality features,
    hashing.hash_bucket sampling), so committed rows are bit-identical to
    the batch plan over the same input — which is exactly what the gate
    entry hash-checks. No state, no watermark: a quality filter commits a
    doc the micro-batch it arrives, at any file/batch ordering. (The
    stateful stages of batch curate — exact/near dedup — need keyed state
    on a stream; the exact-dedup analogue is deduped_stream.)
    """
    from ..operators.hashing import hash_bucket
    from ..operators.text import (STOPWORDS_EN, _stopword_hits,
                                  subword_token_count, words_col)

    words = words_col(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[.,!?;:]", ""))
    n_words = F.size(words)
    sw = _stopword_hits(words, STOPWORDS_EN)
    feats = docs.select(
        "doc_id", "lang",
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(sw / n_words, 6).alias("stopword_ratio"),
        F.round(n_chars / n_words, 6).alias("avg_word_len"),
        subword_token_count(words, n_punct).alias("est_bpe_tokens"),
    )
    kept = feats.filter(
        (F.col("n_words") >= min_words)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("avg_word_len") <= max_avg_word_len)
    )
    if rates is not None:
        thr = F.lit(0)
        for value, rate in sorted(rates.items()):
            thr = F.when(F.col("lang") == F.lit(value),
                         F.lit(int(rate))).otherwise(thr)
        kept = kept.filter(hash_bucket(F.col("doc_id"), seed=7) < thr)
    return kept.select("doc_id", "lang", "n_chars", "n_words",
                       "stopword_ratio", "est_bpe_tokens")


def funnel_stream(
    a_stream: DataFrame,
    b_stream: DataFrame,
    *,
    within_seconds: int,
    watermark: str = "1 hour",
    by: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming CEP funnel: stateful stream-stream join emitting every
    (A, B) pair by the same key with B strictly after A (lexicographic
    (ts, id)) and within ``within_seconds`` — the unbounded-stream
    counterpart of relational.sequence_pattern (which keeps only the FIRST
    B; a stream can't know "first" until the watermark closes the window,
    so the streaming form emits the pairs and leaves the rank-1 cut to the
    consumer or a downstream batch pass).

    Both sides carry event-time watermarks and the join condition bounds
    B's time to [A, A + within], so Spark evicts join state once the
    watermark passes the bound — state is O(watermark + within), not
    O(stream). Output: (by, a_event_id, b_event_id, gap_usec).
    """
    bound = F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
    a = (a_stream.select(
            F.col(by).alias("a_key"),
            F.col(id_col).alias("a_id"),
            F.col(ts_col).cast("timestamp").alias("a_ts"))
         .withWatermark("a_ts", watermark).alias("a"))
    b = (b_stream.select(
            F.col(by).alias("b_key"),
            F.col(id_col).alias("b_id"),
            F.col(ts_col).cast("timestamp").alias("b_ts"))
         .withWatermark("b_ts", watermark).alias("b"))
    after = (F.col("b_ts") > F.col("a_ts")) | (
        (F.col("b_ts") == F.col("a_ts")) & (F.col("b_id") > F.col("a_id")))
    cond = (
        (F.col("a_key") == F.col("b_key"))
        & (F.col("b_ts") >= F.col("a_ts"))          # state-eviction bound
        & (F.col("b_ts") <= F.col("a_ts") + bound)  # state-eviction bound
        & after
    )
    return a.join(b, cond, "inner").select(
        F.col("a_key").alias(by),
        F.col("a_id").alias("a_event_id"),
        F.col("b_id").alias("b_event_id"),
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_usec"),
    )
