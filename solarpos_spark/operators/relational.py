"""Relational breadth operators Spark lacks as primitives: as-of join and
binned interval (range) join.

Neither exists in the reference (its dataflow is map-only,
PositionCommand.java:115-122); they are the standard constructions a
large-scale training-data/event pipeline needs, built so the plan survives
100 TB:

* :func:`asof_join` — the distributed as-of (nearest-earlier match) as ONE
  shuffle: union the tagged streams and take a running ``last(...,
  ignorenulls)`` window, instead of a per-row range probe or a cartesian.
  This is the classic kdb/pandas ``merge_asof`` semantics expressed in
  whole-stage-codegen window form.
* :func:`interval_match_ids` — interval containment via bucketed equi-join:
  explode each interval into the fixed-width time bins it covers, equi-join
  probe rows on (key, bin), then refine with the exact bounds. Candidate
  fan-out is O(interval_len / bin) per interval — never all-pairs, no
  BroadcastNestedLoopJoin.

Skew note (100 TB): both shuffle on the `by`/key columns; a pathologically
hot key (one user with 10^9 events) is handled IN the operators here:
:func:`asof_join` takes ``bucket_micros`` (coarse-time-range salt within
key + a cheap carry-in merge pass — the window is order-dependent so the
salt must respect time order) and :func:`interval_match_ids` takes
``n_salt`` (replicate the small interval side per salt, spread probes).
Both produce output identical to the unsalted plan (tests/test_relational
locks this on a 10^6-row single-key input).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "_asof_tag"


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    *,
    on: str = "ts",
    by: Sequence[str] = (),
    values: Sequence[str] = (),
    suffix: str = "_asof",
    bucket_micros: int | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: for every probe row, attach the
    ``values`` columns of the latest build row with ``build.on <= probe.on``
    within the same ``by`` group (pandas ``merge_asof(direction="backward",
    allow_exact_matches=True)`` semantics; DuckDB ``ASOF LEFT JOIN ... ON
    probe.on >= build.on``).

    Construction: tag build rows 0 and probe rows 1, union, and take ONE
    running ``last(struct(on, *values), ignorenulls=True)`` ordered by
    ``(on, tag)`` — the tag ordering makes equal timestamps match
    (inclusive), and the single struct guarantees every attached column
    comes from the SAME matched build row (a matched row's NULL value is
    carried, never skipped for an older row's non-NULL). One shuffle on
    ``by``; no range probe, no join explosion. The matched build timestamp
    comes back as ``{on}{suffix}``.

    ``bucket_micros`` (skew guard): partition the window by
    ``(by, on div bucket_micros)`` instead of ``by`` alone, bounding any
    partition to one key x one time bucket — the remedy for a single
    pathologically hot key (one user, 10^9 events). Cross-bucket matches
    are restored by a carry-in pass over the per-bucket-latest build rows
    (one tiny window per key over #buckets rows). Output is identical to
    the unsalted plan.
    """
    by = list(by)
    values = list(values)
    b = build.select(
        *by,
        F.col(on).alias(f"{on}{suffix}"),
        *[F.col(v).alias(f"{v}{suffix}") for v in values],
    ).withColumn(_TAG, F.lit(0))
    p = probe.withColumn(_TAG, F.lit(1))
    # unionByName fills each side's missing columns with nulls: build rows
    # carry null probe columns and vice versa
    u = p.unionByName(
        b.withColumn(on, F.col(f"{on}{suffix}")),
        allowMissingColumns=True,
    )
    # the single matched build row, as one struct (field order: on first,
    # so struct max/last agree with timestamp order)
    build_struct = F.when(
        F.col(_TAG) == 0,
        F.struct(
            F.col(f"{on}{suffix}").alias("_on"),
            *[F.col(f"{v}{suffix}").alias(v) for v in values],
        ),
    )
    out_cols = [
        *probe.columns,
        F.col("_m._on").alias(f"{on}{suffix}"),
        *[F.col(f"_m.{v}").alias(f"{v}{suffix}") for v in values],
    ]

    if bucket_micros is None:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col(_TAG).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            u.withColumn("_m", F.last(build_struct, ignorenulls=True).over(w))
            .filter(F.col(_TAG) == 1)
            .select(*out_cols)
        )

    # --- salted two-pass plan ---
    bucket_micros = int(bucket_micros)
    u = u.withColumn("_bkt", F.expr(
        f"unix_micros(cast({on} as timestamp)) div {bucket_micros}"))
    # pass 1: same window, partitioned ALSO by the time bucket — partition
    # size is bounded no matter how hot the key is
    w1 = (
        Window.partitionBy(*by, "_bkt")
        .orderBy(F.col(on).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pass1 = u.withColumn("_m1", F.last(build_struct, ignorenulls=True).over(w1))
    # carry-in: latest build struct of each earlier bucket. max(struct)
    # orders by the first field (= on), so it is the bucket's latest build
    # row; the carry window runs over #buckets rows per key — tiny.
    bmax = (
        u.groupBy(*by, "_bkt")
        .agg(F.max(build_struct).alias("_bmax"))
    )
    wc = (
        Window.partitionBy(*by)
        .orderBy(F.col("_bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmax.withColumn(
        "_cin", F.last("_bmax", ignorenulls=True).over(wc)
    ).select(*by, "_bkt", "_cin")
    return (
        pass1.filter(F.col(_TAG) == 1)
        .join(carry, by + ["_bkt"], "left")
        .withColumn("_m", F.coalesce("_m1", "_cin"))
        .select(*out_cols)
    )


def interval_match_ids(
    probe: DataFrame,
    intervals: DataFrame,
    *,
    probe_ts: str = "ts",
    start_ts: str = "start_ts",
    end_ts: str = "end_ts",
    by: Sequence[str] = (),
    id_cols: Sequence[str] = ("event_id",),
    bin_micros: int = 600_000_000,
    n_salt: int = 1,
) -> DataFrame:
    """IDs of probe rows contained in >=1 interval: ``start <= ts < end``
    within the same ``by`` group — the binned range-join construction.

    Each interval explodes into the fixed-width bins it covers
    (``ceil(len/bin)+1`` rows, typically 1-2), probes equi-join on
    ``(by, bin)``, the exact bounds refine, and overlapping intervals
    dedup through ``distinct()`` on the id columns. All shuffles are keyed
    equi-joins: no inequality-join cartesian anywhere in the plan.

    ``n_salt`` > 1 (skew guard): when one ``(by, bin)`` cell is hot (one
    user's incident bin holding 10^8 probe rows), replicate each exploded
    interval row ``n_salt`` times and spread probe rows across the salts by
    a deterministic hash of ``id_cols`` — join cells shrink ``n_salt``-fold
    at the cost of ``n_salt``x the (small) interval side. Output identical
    to the unsalted plan.
    """
    by = list(by)
    id_cols = list(id_cols)
    bin_micros = int(bin_micros)
    n_salt = int(n_salt)
    iv = intervals.select(
        *by,
        F.unix_micros(F.col(start_ts).cast("timestamp")).alias("_s_us"),
        F.unix_micros(F.col(end_ts).cast("timestamp")).alias("_e_us"),
    )
    # integer `div`, not float `/`: micros near 2^50 lose ulps in a double
    # and a boundary bin id must be exact
    binned = iv.select(
        *by,
        "_s_us",
        "_e_us",
        F.explode(
            F.sequence(
                F.expr(f"_s_us div {bin_micros}"),
                # end-exclusive: the last contained microsecond is e-1
                F.expr(f"(_e_us - 1) div {bin_micros}"),
            )
        ).alias("_bin"),
    )
    p = probe.select(
        *by, *id_cols, F.unix_micros(F.col(probe_ts).cast("timestamp")).alias("_p_us")
    ).withColumn("_bin", F.expr(f"_p_us div {bin_micros}"))
    join_keys = by + ["_bin"]
    if n_salt > 1:
        binned = binned.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        p = p.withColumn(
            "_salt", F.pmod(F.xxhash64(*id_cols), F.lit(n_salt)))
        join_keys = join_keys + ["_salt"]
    cand = p.join(binned, on=join_keys).filter(
        (F.col("_p_us") >= F.col("_s_us")) & (F.col("_p_us") < F.col("_e_us"))
    )
    return cand.select(*by, *id_cols).distinct()


def histogram_quantiles(
    df: DataFrame,
    col: str,
    *,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    n_bins: int = 1024,
) -> DataFrame:
    """Bounded-memory approximate quantiles by fixed value-range binning —
    the scale path next to the exact ``percentile_disc`` aggregate (which
    sorts every group member): two scans and an ``n_bins``-row histogram,
    whatever the input size, with a DETERMINISTIC answer (unlike
    ``approx_percentile``'s merge-order-sensitive sketch, which the
    repo's bit-stable gate cannot hash).

    Pass 1 takes (min, max, n) in one aggregate; pass 2 histograms
    ``bucket = clamp(floor((x - min)/(max - min) * n_bins))`` — a
    map-side-combined hash aggregate shuffling <= n_bins rows per
    partition. Each requested q resolves to the first bucket whose
    cumulative count reaches ``ceil(q * n)``; the true quantile provably
    lies in that bucket, so the error is at most one bin width
    ((max-min)/n_bins). Output per q: (q, est_value (bin midpoint),
    bin_lo, bin_hi, n_below) — n_below = rows in strictly lower buckets.

    All arithmetic is engine-portable: min/max/count are order
    independent, the bucket map is pure double ops on identical inputs,
    cumulative sums are exact int64.

    NULLs are excluded up front (ADVICE r4): count(col) already ignored
    them, but a NULL bin in the histogram would shift the cumulative
    ranks — and Spark windows order NULL bins first while DuckDB orders
    them last, so the engines would diverge on null-bearing columns.
    """
    df = df.filter(F.col(col).isNotNull())
    stats = df.agg(
        F.min(F.col(col)).alias("_lo"), F.max(F.col(col)).alias("_hi"),
        F.count(F.col(col)).alias("_n"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(F.lit(n_bins - 1),
                F.floor((F.col(col) - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo"))
                        * F.lit(float(n_bins))).cast("int")))
    hist = (df.crossJoin(F.broadcast(stats))
            .select(bucket.alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin", "cnt", F.sum("cnt").over(w).cast("long").alias("cum"))
    probes = df.sparkSession.createDataFrame(
        [(float(q),) for q in sorted(qs)], "q double")
    hit = (cum.crossJoin(F.broadcast(probes))
           .crossJoin(F.broadcast(stats))
           .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("_n")))
           .groupBy("q").agg(
               F.min(F.struct("bin", "cnt", "cum")).alias("_b"),
               F.first("_lo").alias("_lo"), F.first("_hi").alias("_hi")))
    bw = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    lo = F.col("_lo") + F.col("_b.bin") * bw
    return hit.select(
        "q",
        F.round(F.when(F.col("_hi") == F.col("_lo"), F.col("_lo"))
                 .otherwise(lo + bw / 2), 6).alias("est_value"),
        F.round(F.when(F.col("_hi") == F.col("_lo"), F.col("_lo"))
                 .otherwise(lo), 6).alias("bin_lo"),
        F.round(F.when(F.col("_hi") == F.col("_lo"), F.col("_hi"))
                 .otherwise(lo + bw), 6).alias("bin_hi"),
        (F.col("_b.cum") - F.col("_b.cnt")).cast("long").alias("n_below"))


def sessionize(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Row-level sessionization: assign every event its per-user session
    ordinal, where a new session starts after ``gap_minutes`` of
    inactivity — the analytics primitive behind funnels/retention, and
    the ROW-ASSIGNMENT complement of the aggregated session windows
    (operators/windows.py session_window gives per-session rollups; this
    keeps the events and labels them).

    One keyed shuffle + in-partition sort (the same Window shape as
    user_running_value): ``lag`` finds each event's gap to its
    predecessor in (ts, id) order, a boundary flag marks gaps above the
    threshold, and the running sum of flags is the session ordinal —
    O(rows) per user, whole-stage-codegen window functions end to end,
    all integer microsecond arithmetic (hash-stable). Skewed users
    follow the asof_join playbook if one key dominates.

    Output: (user_col, id_col, event_usec, gap_usec nullable,
    session_seq 1-based).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = (us - F.lag(us).over(w)).alias("gap_usec")
    new_s = F.when(
        gap.isNull() | (gap > F.lit(int(gap_minutes) * 60_000_000)),
        1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return events.select(
        F.col(user_col),
        F.col(id_col),
        us.alias("event_usec"),
        gap,
        F.sum(new_s).over(run).cast("long").alias("session_seq"),
    )


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    n_bins: int = 256,
    out_col: str = "row_idx",
) -> DataFrame:
    """Deterministic 0-based global row numbering by ``order_cols``
    WITHOUT a single-partition sort — the data-layout primitive behind
    contiguous training-shard indices (RDD zipWithIndex without the RDD,
    and without repartitionByRange's SAMPLED — run-dependent —
    boundaries).

    Two driver-side reductions, both tiny: (1) min/max of the leading
    order column -> ``n_bins`` FIXED-width value bins (pure integer/
    double arithmetic — deterministic across runs and engines where
    sampled range boundaries are neither); (2) per-bin counts -> prefix
    offsets, broadcast back (<= n_bins rows). Global index = bin offset
    + within-bin rank from ONE bin-partitioned window, so the sort is
    n_bins-way parallel and no partition ever holds more than its value
    range. Skewed leading columns concentrate bins — pick a leading
    column with spread (or raise n_bins) the same way you'd pick a
    range-partition key.

    ``order_cols`` must form a total order (include a tiebreaker id);
    the leading column must be numeric/timestamp-castable and non-null.
    Output: the input columns plus ``out_col`` (0-based dense long,
    exactly row_number()-1 over the same order).
    """
    order_cols = list(order_cols)
    lead = order_cols[0]
    lv = F.col(lead)
    if dict(df.dtypes).get(lead, "").startswith("timestamp"):
        lv = F.unix_micros(lv.cast("timestamp"))  # NTZ-safe numeric
    lv = lv.cast("double")
    mn, mx = df.agg(F.min(lv), F.max(lv)).collect()[0]
    if mn is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    mn, mx = float(mn), float(mx)
    width = (mx - mn) / n_bins or 1.0
    bin_col = F.least(
        F.lit(n_bins - 1),
        F.floor((lv - F.lit(mn)) / F.lit(width))).cast("int")
    binned = df.withColumn("_bin", bin_col)
    counts = {int(r["_bin"]): int(r["n"])
              for r in binned.groupBy("_bin")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    acc, offsets = 0, []
    for b in range(n_bins):
        offsets.append((b, acc))
        acc += counts.get(b, 0)
    spark = df.sparkSession
    import pandas as pd

    odf = spark.createDataFrame(
        pd.DataFrame(offsets, columns=["_bin", "_off"]),
        "_bin int, _off long")
    w = (Window.partitionBy("_bin")
         .orderBy(*[F.col(c).asc() for c in order_cols]))
    return (binned.join(F.broadcast(odf), "_bin")
            .withColumn(out_col,
                        (F.col("_off") + F.row_number().over(w) - 1)
                        .cast("long"))
            .drop("_bin", "_off"))


def _next_b(events: DataFrame, first_type: str, then_type: str, by: str,
            ts_col: str, type_col: str, id_col: str) -> DataFrame:
    """The ``first_type`` rows of ``events``, each with ``_us`` (its event
    time in microseconds) and ``_nb`` = struct(us, id) of the first
    ``then_type`` row by the same key strictly after it in (us, id) order,
    null when there is none — the one window pass behind
    :func:`sequence_pattern` and :func:`sequence_pattern_absent`."""
    # cast covers TIMESTAMP_NTZ sources (UTC session => identity wall
    # clock); only differences and ordering are used, so any constant
    # zone offset cancels
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # only A/B rows influence the result — the restriction pushes into the
    # parquet scan and shrinks the one shuffle to the two event types
    e = events.filter(F.col(type_col).isin(first_type, then_type)).select(
        F.col(by), F.col(id_col), F.col(type_col), us.alias("_us"))
    w = (Window.partitionBy(by)
         .orderBy(F.col("_us").asc(), F.col(id_col).asc())
         .rowsBetween(1, Window.unboundedFollowing))
    nxt = F.min(
        F.when(F.col(type_col) == then_type,
               F.struct(F.col("_us").alias("us"),
                        F.col(id_col).alias("id")))).over(w)
    return (e.withColumn("_nb", nxt)
            .filter(F.col(type_col) == first_type))


def sequence_pattern(
    events: DataFrame,
    *,
    first_type: str,
    then_type: str,
    within_seconds: int,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """CEP sequence-pattern detection: for every ``first_type`` event, the
    FIRST ``then_type`` event by the same key strictly after it and within
    ``within_seconds`` — the A-followed-by-B funnel primitive
    (MATCH_RECOGNIZE's simplest pattern, which Spark SQL lacks).

    One shuffle, no pair blow-up: instead of joining A-rows to B-rows
    (O(|A|x|B|) per key for bursty keys), take a per-key window ordered by
    (event time, id) and a running ``min(struct(us, id))`` over the
    FOLLOWING frame restricted to B rows — every row learns its next B in
    a single whole-stage-codegen window pass, then A rows filter on the
    time bound. "After" means (ts, id) lexicographically greater, so
    simultaneous events resolve deterministically.

    Output: (``by``, a_event_id, b_event_id, gap_usec) with gap_usec the
    exact microsecond distance (integer — engine-portable, no float).
    """
    return (
        _next_b(events, first_type, then_type, by, ts_col, type_col, id_col)
        .filter(F.col("_nb").isNotNull()
                & (F.col("_nb.us")
                   <= F.col("_us") + F.lit(int(within_seconds) * 1_000_000)))
        .select(
            F.col(by),
            F.col(id_col).alias("a_event_id"),
            F.col("_nb.id").alias("b_event_id"),
            (F.col("_nb.us") - F.col("_us")).alias("gap_usec"),
        )
    )


def sequence_pattern_absent(
    events: DataFrame,
    *,
    first_type: str,
    then_type: str,
    within_seconds: int,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Negation CEP: every ``first_type`` event with NO ``then_type``
    event by the same key strictly after it within ``within_seconds`` —
    MATCH_RECOGNIZE's absence/timeout pattern (abandoned checkout,
    unacknowledged alert), the complement of :func:`sequence_pattern`.

    Same single per-key window pass (running ``min(struct(us, id))`` over
    the FOLLOWING frame restricted to B rows — no A x B join, one
    shuffle): an A row qualifies when its next-B min is null or lands
    beyond the horizon. When a LATE B exists (after the window) it is
    reported with its gap, so downstream distinguishes "B came late"
    from "B never came"; both columns are null otherwise.

    Output: (``by``, a_event_id, late_b_event_id, late_gap_usec).
    """
    horizon = F.col("_us") + F.lit(int(within_seconds) * 1_000_000)
    return (
        _next_b(events, first_type, then_type, by, ts_col, type_col, id_col)
        .filter(F.col("_nb").isNull() | (F.col("_nb.us") > horizon))
        .select(
            F.col(by),
            F.col(id_col).alias("a_event_id"),
            F.col("_nb.id").alias("late_b_event_id"),
            (F.col("_nb.us") - F.col("_us")).alias("late_gap_usec"),
        )
    )


def sequence_pattern_chain(
    events: DataFrame,
    types: Sequence[str],
    *,
    within_seconds: int,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """n-step CEP chain: for every ``types[0]`` event, its FIRST
    ``types[1]`` successor within ``within_seconds``, then THAT row's
    first ``types[2]`` successor within another ``within_seconds``, and
    so on — iterated first-match composition of
    :func:`sequence_pattern` (MATCH_RECOGNIZE's A B C ... pattern with
    greedy committed steps: no backtracking, so a chain fails if the
    first-match successor at any step has no onward match, exactly like
    a committed greedy quantifier).

    Plan shape: k-1 stacked window passes, all on the SAME
    (partitionBy key, orderBy (event time, id)) spec, so Catalyst plans
    ONE exchange + ONE sort and evaluates the Window operators back to
    back — still no A x B join blow-up at any step. Each pass runs
    back-to-front: a row of ``types[i]`` learns the first following
    ``types[i+1]`` row that itself completed the rest of the chain, via
    ``min(struct(us, id, ids, last_us))`` over the following frame
    ((us, id) leads the struct and is unique, so the carried chain ids
    never influence the ordering). Repeated types in the pattern are
    fine: each step keeps its own chain column.

    Output: (``by``, step1_id ... stepk_id, gap_usec) where gap_usec is
    the exact microsecond span from the first to the last matched event
    (integer — engine-portable).
    """
    types = list(types)
    k = len(types)
    if k < 2:
        raise ValueError("sequence_pattern_chain needs >= 2 step types")
    within_us = int(within_seconds) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = events.filter(F.col(type_col).isin(*set(types))).select(
        F.col(by), F.col(id_col), F.col(type_col), us.alias("_us"))
    w = (Window.partitionBy(by)
         .orderBy(F.col("_us").asc(), F.col(id_col).asc())
         .rowsBetween(1, Window.unboundedFollowing))
    # _s{i} on a types[i] row = (us, id, chain ids from here to the end,
    # last us) if the COMMITTED chain from this row completes, else null
    e = e.withColumn(
        f"_s{k - 1}",
        F.when(F.col(type_col) == types[k - 1],
               F.struct(F.col("_us").alias("us"),
                        F.col(id_col).alias("id"),
                        F.array(F.col(id_col)).alias("ids"),
                        F.col("_us").alias("last_us"))))
    for i in range(k - 2, -1, -1):
        # committed semantics: the candidate is the first types[i+1] row
        # REGARDLESS of whether its own suffix completed — its (possibly
        # null) suffix rides inside the min struct behind the unique
        # (us, id) prefix, and a null suffix kills the chain
        nxt = F.min(
            F.when(F.col(type_col) == types[i + 1],
                   F.struct(F.col("_us").alias("us"),
                            F.col(id_col).alias("id"),
                            F.col(f"_s{i + 1}").alias("s")))).over(w)
        e = e.withColumn(
            f"_s{i}",
            F.when((F.col(type_col) == types[i])
                   & nxt.isNotNull()
                   & (nxt["us"] <= F.col("_us") + F.lit(within_us))
                   & nxt["s"].isNotNull(),
                   F.struct(F.col("_us").alias("us"),
                            F.col(id_col).alias("id"),
                            F.concat(F.array(F.col(id_col)),
                                     nxt["s"]["ids"]).alias("ids"),
                            nxt["s"]["last_us"].alias("last_us"))))
    done = e.filter(F.col("_s0").isNotNull())
    return done.select(
        F.col(by),
        *[F.element_at(F.col("_s0.ids"), i + 1).alias(f"step{i + 1}_id")
          for i in range(k)],
        (F.col("_s0.last_us") - F.col("_s0.us")).alias("gap_usec"),
    )


def transition_matrix(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    round_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition counts + probabilities over per-key
    event sequences — the journey profile (what follows what) a
    funnel/sessionization analysis starts from, and the generative model
    behind synthetic-sequence QA checks.

    Scale shape: ONE key-partitioned window (lead over the per-key order
    — the sessionize exchange) feeding ONE tiny aggregate on
    (from_type, to_type); the output is |types|^2 rows however large the
    input. The probability denominator is a second window over the
    aggregate itself (zero extra exchange at |types|^2 rows, partitioned
    on from_type).

    Determinism: counts are integers; probability = count/total is one
    IEEE division of exact int64s (< 2^53) — identical across engines,
    then rounded for display. The per-key order must be total
    (``order_cols`` should end in a unique id) or lead() is
    schedule-dependent.
    """
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    pairs = (events
             .withColumn("_to", F.lead(type_col).over(w))
             .filter(F.col("_to").isNotNull())
             .select(F.col(type_col).alias("from_type"),
                     F.col("_to").alias("to_type")))
    counts = pairs.groupBy("from_type", "to_type") \
        .agg(F.count("*").alias("n"))
    tw = Window.partitionBy("from_type")
    return (counts
            .withColumn("_tot", F.sum("n").over(tw))
            .select("from_type", "to_type", F.col("n").cast("long").alias("n"),
                    F.round(F.col("n").cast("double")
                            / F.col("_tot").cast("double"),
                            round_digits).alias("p")))


def resample_fill(
    events: DataFrame,
    *,
    bucket_s: int,
    ts_col: str = "ts",
    value_col: str = "value",
    round_digits: int = 6,
) -> DataFrame:
    """Fixed-width time-bucket resampling with forward gap-fill — the
    time-series normalization step (regularize an event stream onto a
    uniform grid, carry the last observation across empty buckets) that
    precedes any windowed model input.

    Scale shape: one hash aggregate on the bucket key (map-side combined;
    output is O(span/bucket) rows, independent of input rows), then the
    dense grid comes from ONE single-row min/max aggregate exploded via
    ``sequence`` (never a driver loop), left-joined and forward-filled
    with a running ``last(..., ignorenulls)`` window — the asof_join
    construction over the grid relation, which is tiny, so the final
    window's single-partition sort is O(span/bucket), not O(input).

    Output per grid bucket: ``bucket_start`` (epoch s), ``n`` (rows in
    bucket, 0 for gaps), ``avg_value`` (bucket mean, forward-filled
    across gaps — null only for leading gaps), ``filled`` (true where
    carried). Mean determinism follows the events_value_stats precedent:
    avg + round(6) hashes stably on this data shape.
    """
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_s))
         * F.lit(bucket_s)).cast("long")
    agg = (events.select(b.alias("bucket_start"), F.col(value_col))
           .groupBy("bucket_start")
           .agg(F.count("*").alias("n"),
                F.round(F.avg(value_col), round_digits).alias("_avg")))
    span = agg.agg(F.min("bucket_start").alias("lo"),
                   F.max("bucket_start").alias("hi"))
    grid = span.select(F.explode(F.sequence(
        F.col("lo"), F.col("hi"), F.lit(bucket_s))).alias("bucket_start"))
    w = (Window.orderBy("bucket_start")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    joined = grid.join(agg, "bucket_start", "left")
    return (joined
            .select("bucket_start",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    F.last("_avg", ignorenulls=True).over(w)
                    .alias("avg_value"),
                    F.col("_avg").isNull().alias("filled")))


def rolling_zscore_anomalies(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window_rows: int = 20,
    min_history: int = 5,
    z_threshold: float = 2.5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key rolling z-score anomaly detection: flag a value whose
    deviation from the TRAILING ``window_rows``-row mean exceeds
    ``z_threshold`` trailing standard deviations — the standard online
    telemetry/metrics outlier pass (the trailing frame excludes the
    current row, so an outlier cannot mask itself).

    Scale shape: ONE key-partitioned window (the sessionize exchange)
    carries all three frame aggregates (count/avg/stddev share the
    frame scan); output is the flagged subset only. Rows with fewer
    than ``min_history`` trailing observations are unscored (a cold
    key can't be judged).

    Determinism: the frame content and its iteration order are pinned
    by the total per-key order (``ts``, ``id``); avg/stddev_samp over
    the identical ordered frame round-6 stable across engines — the
    events_value_stats precedent, applied per frame.

    Output: (key, id, ts epoch-seconds, value, mean, sd, z) for
    |z| >= threshold, all floats rounded.
    """
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
         .rowsBetween(-window_rows, -1))
    d = round_digits
    base = (events
            .withColumn("_n", F.count(value_col).over(w))
            .withColumn("_m", F.avg(value_col).over(w))
            .withColumn("_s", F.stddev_samp(value_col).over(w)))
    z = (F.col(value_col) - F.col("_m")) / F.col("_s")
    return (base
            .filter((F.col("_n") >= min_history)
                    & F.col("_s").isNotNull() & (F.col("_s") > 0))
            .withColumn("_z", z)
            .filter(F.abs(F.col("_z")) >= z_threshold)
            .select(F.col(key_col), F.col(id_col),
                    F.unix_timestamp(F.col(ts_col)).cast("long")
                    .alias("ts_sec"),
                    F.round(F.col(value_col), d).alias("value"),
                    F.round(F.col("_m"), d).alias("mean"),
                    F.round(F.col("_s"), d).alias("sd"),
                    F.round(F.col("_z"), d).alias("z")))


def winsorize(
    df: DataFrame,
    *,
    value_col: str = "value",
    by: str | None = None,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """Quantile clipping (winsorization): cap ``value_col`` at the
    [lo_q, hi_q] percentiles, optionally per group — the outlier
    treatment a feature pipeline applies before scale-sensitive
    downstream math (the complement of rolling_zscore_anomalies, which
    FLAGS instead of capping).

    Determinism: the bounds come from ``percentile_disc`` — the
    SQL-standard discrete quantile whose result is a MEMBER of the
    group (no interpolation float chain; identical in DuckDB's
    quantile_disc, the event_quantiles precedent). Scale shape: one
    sort-based aggregate produces |groups| bound rows (broadcast), then
    clipping is a zero-shuffle projection.

    Output: input key columns + ``value`` (rounded), ``clipped``
    (rounded), ``was_clipped``.
    """
    keys = [by] if by is not None else []
    bounds = (df.groupBy(*keys) if keys else df.groupBy()).agg(
        F.expr(f"percentile_disc({lo_q}) WITHIN GROUP "
               f"(ORDER BY {value_col})").alias("_lo"),
        F.expr(f"percentile_disc({hi_q}) WITHIN GROUP "
               f"(ORDER BY {value_col})").alias("_hi"))
    joined = (df.join(F.broadcast(bounds), keys) if keys
              else df.crossJoin(F.broadcast(bounds)))
    clipped = F.least(F.greatest(F.col(value_col), F.col("_lo")),
                      F.col("_hi"))
    d = round_digits
    return joined.select(
        *[c for c in df.columns if c != value_col],
        F.round(F.col(value_col), d).alias("value"),
        F.round(clipped, d).alias("clipped"),
        ((F.col(value_col) < F.col("_lo"))
         | (F.col(value_col) > F.col("_hi"))).alias("was_clipped"))
