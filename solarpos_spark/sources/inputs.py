"""Input-mode DataFrame builders — the reference's four plan shapes.

Mirrors sealed ``InputMode`` + ``Main.createInputMode``
(/root/reference/src/main/java/net/e175/klaus/solarpos/InputMode.java:17-195):

* S1 coordinate range ``start:end:step`` (CoordinateRange.java:57-64)
* S2 time series from a partial date + step (util/DateTimeIterator.java:43-91)
* R1 lat x lon cartesian grid, lat-major order (InputMode.java:72-76)
* R2 time x coords cartesian (PositionCommand.java:117-135)
* S3/S4 coordinate / time file scans (util/DateTimeIterator.java:93-213)

Axis values are generated on the driver with *repeated addition* to match the
reference's FP accumulation exactly (CoordinateRange.java:63 iterates
``i -> i + step``); axes are tiny (<= 360/0.001 values) so driver-side
generation costs nothing and the grid itself is built distributed via
crossJoin of two broadcast-size DataFrames.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MIN_COORD_STEP = 1e-3  # CoordinateRange.java:11,16-22
MIN_TIME_STEP = 1  # seconds; DurationConverter.java:37-42
MAX_TIME_STEP = 86400


def coordinate_values(start: float, end: float, step: float,
                      lo: float, hi: float) -> list[float]:
    """Inclusive arithmetic sequence with reference validation + FP semantics."""
    if not (lo <= start <= hi and lo <= end <= hi):
        raise ValueError(f"coordinate out of range [{lo}, {hi}]: {start}:{end}")
    if start > end:
        raise ValueError(f"range start {start} > end {end}")
    if step <= 0:  # CoordinateRange.java:14-16, even for single points
        raise ValueError(f"step must be positive, got {step}")
    if step < MIN_COORD_STEP and start != end:
        raise ValueError(f"step {step} below minimum {MIN_COORD_STEP}")
    if start == end:
        return [start]
    count = int(round((end - start) / step)) + 1  # CoordinateRange.java:57-60
    vals = []
    v = start
    for _ in range(count):  # repeated addition, CoordinateRange.java:63
        vals.append(v)
        v = v + step
    return vals


def grid_df(spark: SparkSession, lat_range: tuple[float, float, float],
            lon_range: tuple[float, float, float]) -> DataFrame:
    """R1: every lat crossed with every lon, lat-major order.

    The crossJoin of two driver-built axes is broadcast by Catalyst
    (BroadcastNestedLoopJoin); ``__ord`` columns reconstruct generation
    order deterministically under any parallelism (GeographicSweepTest.java:39-44).
    Each axis is an Arrow-backed local relation: a JVM LocalTableScan, so no
    Python worker round-trip happens at execution time.
    """
    import pandas as pd

    lats = coordinate_values(*lat_range, lo=-90.0, hi=90.0)
    lons = coordinate_values(*lon_range, lo=-180.0, hi=180.0)
    lat_df = spark.createDataFrame(pd.DataFrame({
        "lat_ord": pd.Series(range(len(lats)), dtype="int64"),
        "lat": pd.Series(lats, dtype="float64"),
    }))
    lon_df = spark.createDataFrame(pd.DataFrame({
        "lon_ord": pd.Series(range(len(lons)), dtype="int64"),
        "lon": pd.Series(lons, dtype="float64"),
    }))
    return lat_df.crossJoin(lon_df)


# --------------------------------------------------------------------------
# S2 time series: DST-aware ZoneId semantics
# --------------------------------------------------------------------------

#: sampling stride for transition discovery — real tzdata never has two
#: transitions within one day (DST periods are months apart)
_TZ_SCAN_STEP = 86400


def tzinfo_of(zone: str):
    """tzinfo for an IANA ZoneId OR a fixed offset, like java's ZoneId.of:
    accepts ``Europe/Berlin``, ``UTC``, ``Z``, ``+01:00``, ``-0330``,
    ``+05`` (SunriseTest.java:57-64 passes bare offsets as --timezone)."""
    if zone in ("Z", "z"):
        return timezone.utc
    # ZoneId.of also accepts UTC/GMT/UT-prefixed offsets ("UTC+01:00")
    pm = re.fullmatch(r"(?:UTC|GMT|UT)([+-].+)", zone)
    if pm:
        zone = pm.group(1)
    m = re.fullmatch(r"([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", zone)
    if m:
        secs = (int(m.group(2)) * 3600 + int(m.group(3) or 0) * 60
                + int(m.group(4) or 0))
        return timezone((1 if m.group(1) == "+" else -1) * timedelta(seconds=secs))
    return ZoneInfo(zone)


def _utc_offset(zinfo, unix_sec: int) -> int:
    dt = datetime.fromtimestamp(unix_sec, tz=timezone.utc).astimezone(zinfo)
    return int(dt.utcoffset().total_seconds())


def zone_transitions(zone: str, start_unix: int, end_unix: int) -> list[tuple[int, int]]:
    """UTC-offset intervals of a zone over [start, end).

    Returns ``[(instant, offset_sec), ...]`` where each instant is the first
    second the offset applies (the first entry is ``start_unix``). Computed
    from the OS tzdata via :mod:`zoneinfo` on the driver: daily samples, each
    offset change bisected to the exact transition second. A handful of
    entries per year — small enough to embed as JVM literals, which is what
    keeps the per-row offset column pure expression code at any scale (the
    Spark analogue of the reference's per-value ``ZonedDateTime`` zone
    lookup, util/DateTimeIterator.java:43-91).
    """
    z = tzinfo_of(zone)
    out = [(start_unix, _utc_offset(z, start_unix))]
    t = start_unix
    while t < end_unix:
        t2 = min(t + _TZ_SCAN_STEP, end_unix - 1)
        if t2 <= t:
            break
        if _utc_offset(z, t2) != out[-1][1]:
            lo, hi = t, t2  # offset(lo) == prev, offset(hi) != prev
            while hi - lo > 1:
                mid = (lo + hi) // 2
                if _utc_offset(z, mid) == out[-1][1]:
                    lo = mid
                else:
                    hi = mid
            out.append((hi, _utc_offset(z, hi)))
        t = t2
    return out


def offset_column(transitions: list[tuple[int, int]], unix_col) -> "F.Column":
    """Per-row UTC offset from embedded transition literals (latest
    transition <= unix_sec wins). Pure JVM expression — no Python, no join."""
    expr = F.lit(transitions[0][1])
    for t, off in transitions[1:]:
        # built innermost-first: the outermost (= latest) transition is
        # checked first, so later intervals take precedence
        expr = F.when(unix_col >= F.lit(t), F.lit(off)).otherwise(expr)
    return expr.cast("int")


def local_midnight_unix(year: int, month: int, day: int, zone: str) -> int:
    """Instant of local midnight under Java's gap/overlap resolution.

    Python's fold=0 semantics (PEP 495) produce the same instant as
    ``ZonedDateTime.of``: in a DST gap the pre-gap offset applies (equal to
    Java's shift-forward-by-gap-length), in an overlap the earlier offset
    wins (DateTimeIterator.java:70-91 start-of-period construction).
    """
    return int(datetime(year, month, day, tzinfo=tzinfo_of(zone)).timestamp())


def zoned_partial_bounds(year: int, month: int | None, day: int | None,
                         zone: str) -> tuple[int, int]:
    """[start, end) instants for a year / year-month / date partial in a
    ZoneId or fixed offset. The end bound is the local midnight starting the
    next period — the reference's loop predicate (`i.getYear() == year` etc.
    in LOCAL time, DateTimeIterator.java:70-91) reduces to `instant < end`
    because the step is instant-based (ZonedDateTime.plus(Duration)) and
    tzdata has no transitions at period boundaries."""
    if month is None:
        return (local_midnight_unix(year, 1, 1, zone),
                local_midnight_unix(year + 1, 1, 1, zone))
    if day is None:
        ny, nm = (year + 1, 1) if month == 12 else (year, month + 1)
        return (local_midnight_unix(year, month, 1, zone),
                local_midnight_unix(ny, nm, 1, zone))
    nxt = date(year, month, day) + timedelta(days=1)
    return (local_midnight_unix(year, month, day, zone),
            local_midnight_unix(nxt.year, nxt.month, nxt.day, zone))


def time_series_df(
    spark: SparkSession,
    year: int,
    month: int | None = None,
    day: int | None = None,
    *,
    step_sec: int = 3600,
    zone: str = "UTC",
) -> DataFrame:
    """S2: a year / year-month / date partial as a series of instants, with
    the reference's ZoneId semantics (util/DateTimeIterator.java:43-91) for
    an IANA zone and a fixed offset (``"+01:00"``) alike: starts at *local*
    midnight in ``zone``, steps by exact instants (ZonedDateTime.plus(Duration)
    is instant arithmetic), ends when the local period is left, and carries
    a per-row ``offset_sec`` that flips across DST transitions. A date with
    a step of a day or more yields the single midnight row.

    Columns ``ts, unix_sec, offset_sec``. ``spark.range`` is already
    distributed and the arithmetic is pure-integer (exact, unlike the FP
    coordinate axes), so the series needs no repartition downstream.
    """
    if not (MIN_TIME_STEP <= step_sec <= MAX_TIME_STEP):
        raise ValueError(f"step {step_sec}s outside [{MIN_TIME_STEP}, {MAX_TIME_STEP}]")
    start, end = zoned_partial_bounds(year, month, day, zone)
    if day is not None and step_sec >= 86400:
        end = start + 1  # single local-midnight row (DateTimeIterator.java:85-88)
    n = (end - 1 - start) // step_sec + 1
    trans = zone_transitions(zone, start, end)
    unix = (F.lit(start) + F.col("id") * step_sec).alias("unix_sec")
    return (
        spark.range(n)
        .select(unix)
        .select(
            F.timestamp_seconds(F.col("unix_sec")).alias("ts"),
            F.col("unix_sec"),
            offset_column(trans, F.col("unix_sec")).alias("offset_sec"),
        )
    )


def grid_times_df(grid: DataFrame, times: DataFrame,
                  parallelism: int | None = None) -> DataFrame:
    """R2: time x coords cartesian, time-major order (time outer loop,
    PositionCommand.java:117-135).

    Partitioning is the whole performance story here: timestamps are spread
    round-robin across tasks and the (small) grid is broadcast, so every
    partition holds *complete* coordinate sets for a few timestamps — the
    layout that lets the position UDF's per-timestamp hoisting amortize
    (one SPA time-dependent computation per ~grid_size rows, exactly like
    the reference's loop structure PositionCommand.java:115-122)."""
    if parallelism is None:
        # time_series_df is a partitioned range (contiguous timestamp runs
        # per partition — ideal for hoisting); no shuffle needed.
        return times.crossJoin(F.broadcast(grid))
    return times.repartition(parallelism).crossJoin(F.broadcast(grid))


def _text_lines(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame[value: string] of raw lines from a file path, or from the
    driver's stdin when ``path == "-"`` (the reference's ``@-``,
    DateTimeIterator.java:223-229, InputMode.isStdinPath). Stdin is an
    inherently serial driver-side stream, so it lands as an Arrow-backed
    local relation; file paths stay distributed ``spark.read.text`` scans."""
    if path == "-":
        import sys

        import pandas as pd

        raw = sys.stdin.read().splitlines()
        return spark.createDataFrame(pd.DataFrame({"value": pd.Series(raw, dtype="object")})) \
            if raw else spark.createDataFrame([], "value string")
    return spark.read.text(path)


#: timestamp formats of time lines and paired lines, tried in order
#: (util/DateTimeIterator.java:93-143). Java parsing consumes the whole text,
#: so each format accepts only its own shape.
_TIME_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mmXXX",
    "yyyy-MM-dd'T'HH:mm",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def _read_lines(spark: SparkSession, path: str, *, coords: bool, time: bool,
                require_time: bool, strict: bool, with_ord: bool,
                error: str) -> DataFrame:
    """The one reader of the S3/S4/S5 text modes. ``path="-"`` reads stdin.

    Lines are trimmed; blank lines and ``#`` comments are skipped
    (util/DateTimeIterator.java:203-213). ``coords`` reads ``lat lon`` from
    the first two space/comma-separated fields; ``time`` reads a timestamp
    from the whole line, or from the third field after coordinates, plus its
    display offset. A line is bad when its field count is wrong, a
    coordinate is not a number, the time parses under none of
    ``_TIME_FORMATS``, or ``require_time`` (position's TIME_REQUIRED
    precision, DateTimeIterator.TimePrecision) meets a date without a time.
    ``strict`` aborts on a bad line with ``"<error>: <line>"``, like the
    reference's parse exceptions; otherwise bad lines are dropped.
    ``with_ord`` keeps ``_ord``, the scan-order line ordinal
    (``monotonically_increasing_id`` over the raw lines: (split, row)
    lexicographic = file order), so callers can reproduce the reference's
    line-order output under any later repartitioning.
    """
    lines = (
        _text_lines(spark, path)
        .select(F.monotonically_increasing_id().alias("_ord"),
                F.trim(F.col("value")).alias("line"))
        .filter((F.col("line") != "") & ~F.col("line").startswith("#"))
    )
    parts = F.split(F.col("line"), r"[,\s]+")
    cols, bad = [], F.lit(False)
    if coords:
        lat = F.element_at(parts, 1).cast("double")
        lon = F.element_at(parts, 2).cast("double")
        cols += [lat.alias("lat"), lon.alias("lon")]
        bad = (F.size(parts) != (3 if time else 2)) | lat.isNull() | lon.isNull()
    if time:
        text = F.element_at(parts, 3) if coords else F.col("line")
        ts = F.coalesce(*(F.try_to_timestamp(text, F.lit(f))
                          for f in _TIME_FORMATS))
        cols += [ts.alias("ts"), _line_offset_col(text)]
        bad = (bad | ts.isNull()
               | (F.lit(require_time) & text.rlike(r"^\d{4}-\d{2}-\d{2}$")))
    names = (["lat", "lon"] if coords else []) + (["ts", "offset_sec"] if time else [])
    out = lines.select("_ord", "line", *cols, bad.alias("_bad"))
    if strict:
        out = out.filter(F.when(~F.col("_bad"), F.lit(True)).otherwise(
            F.raise_error(F.concat(F.lit(f"{error}: "), F.col("line")))))
    else:
        out = out.filter(~F.col("_bad"))
    return out.select(*names, *(["_ord"] if with_ord else []))


def coords_from_text(spark: SparkSession, path: str, *,
                     strict: bool = True, with_ord: bool = False) -> DataFrame:
    """S3: lines ``lat lon`` -> ``lat, lon`` (see :func:`_read_lines`)."""
    return _read_lines(spark, path, coords=True, time=False,
                       require_time=False, strict=strict, with_ord=with_ord,
                       error="invalid coordinate line")


def times_from_text(spark: SparkSession, path: str, *,
                    require_time: bool = False,
                    strict: bool = True, with_ord: bool = False) -> DataFrame:
    """S4: one timestamp per line -> ``ts, offset_sec`` (see
    :func:`_read_lines`)."""
    return _read_lines(spark, path, coords=False, time=True,
                       require_time=require_time, strict=strict,
                       with_ord=with_ord, error="unusable time line")


def paired_from_text(spark: SparkSession, path: str, *,
                     require_time: bool = False,
                     strict: bool = True, with_ord: bool = False) -> DataFrame:
    """S5: lines ``lat lon datetime`` -> 1:1 ``lat, lon, ts, offset_sec``
    records, no cartesian expansion (util/DateTimeIterator.java:150-190;
    see :func:`_read_lines`)."""
    return _read_lines(spark, path, coords=True, time=True,
                       require_time=require_time, strict=strict,
                       with_ord=with_ord, error="invalid paired data line")


def _line_offset_col(line) -> "F.Column":
    """Display offset (seconds) from a timestamp string's trailing
    ``+HH:MM``, the one offset form ``_TIME_FORMATS`` parses (the reference
    keeps each parsed line's zone and prints event times in it; Z / naive
    lines render as UTC)."""
    sign = F.regexp_extract(line, r"([+-])\d{2}:\d{2}$", 1)
    hh = F.regexp_extract(line, r"[+-](\d{2}):\d{2}$", 1)
    mm = F.regexp_extract(line, r"[+-]\d{2}:(\d{2})$", 1)
    secs = (F.coalesce(F.nullif(hh, F.lit("")), F.lit("0")).cast("int") * 3600
            + F.coalesce(F.nullif(mm, F.lit("")), F.lit("0")).cast("int") * 60)
    return F.when(sign == "-", -secs).otherwise(secs).alias("offset_sec")


# --------------------------------------------------------------------------
# S7 unified input-mode dispatch (InputMode.java:17-195, Main.java:180-200)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class InputPlan:
    """One of the reference's four sealed input modes, resolved to a
    DataFrame plus the mode-derived show-inputs default
    (InputMode.shouldShowInputs). The caller passes ``show_inputs`` to
    position()/sunrise(); the CLI lets an explicit --show-inputs /
    --no-show-inputs override it (Main.shouldShowInputs)."""

    df: DataFrame
    mode: str  # 'ranges' | 'coord_file' | 'time_file' | 'paired'
    show_inputs: bool


def _as_range(v) -> tuple[float, float, float]:
    """Scalar -> degenerate single-point range; tuple -> (start, end, step)."""
    if isinstance(v, (int, float)):
        return (float(v), float(v), 1.0)
    start, end, step = v
    return (float(start), float(end), float(step))


def _times_for_partial(spark: SparkSession, time, *, step_sec: int,
                       zone: str,
                       instant_offset_sec: int = 0) -> tuple[DataFrame, bool]:
    """(times df with ts/unix_sec/offset_sec, hasMultipleTimes).

    ``time`` is a partial-date tuple (year[, month[, day]]) -> a zoned
    series (multiple, InputMode.hasMultipleTimes counts Year/YearMonth/
    LocalDate regardless of row count), or a single unix instant / ISO
    string -> one row (not multiple).
    """
    if isinstance(time, tuple):
        parts = tuple(time) + (None, None)
        t = time_series_df(spark, parts[0], parts[1], parts[2],
                           step_sec=step_sec, zone=zone)
        return t, True
    if isinstance(time, str):
        unix = int(datetime.fromisoformat(time).timestamp())
    else:
        unix = int(time)
    one = spark.range(1).select(
        F.timestamp_seconds(F.lit(unix)).alias("ts"),
        F.lit(unix).alias("unix_sec"),
        # display offset: the reference renders instants in the input's /
        # overridden zone (convertToZonedDateTime keeps the offset)
        F.lit(int(instant_offset_sec)).alias("offset_sec"),
    )
    return one, False


def make_input_plan(
    spark: SparkSession,
    *,
    lat=None,
    lon=None,
    time=None,
    coord_file: str | None = None,
    time_file: str | None = None,
    paired_file: str | None = None,
    step_sec: int = 3600,
    zone: str = "UTC",
    delta_t: float | None = None,
    require_time: bool = False,
    instant_offset_sec: int = 0,
    keep_ord: bool = False,
) -> InputPlan:
    """Mirror of Main.createInputMode's four plan shapes
    (Main.java:156-200; InputMode.java:17-195):

    * paired_file          -> PairedData (1:1 rows, no cartesian)
    * coord_file [+ time]  -> CoordinateFile x time(s)
    * time_file  [+ ranges]-> ranges x TimeFile
    * else                 -> CoordinateRanges x partial/instant

    lat/lon accept a scalar or a (start, end, step) tuple; ``time`` accepts
    a partial-date tuple (year[, month[, day]]), a unix int, or an ISO
    string. The returned plan's ``show_inputs`` is the reference's
    auto-enable rule: files and multi-valued inputs show inputs, a single
    point at a single instant does not (InputMode.java:105,130,160,195 and
    :72-76). ``delta_t`` mirrors the global ``--deltat`` (float('nan') = the
    bare estimate sentinel, Main.java:214-216).

    ``keep_ord=True`` keeps generation-order ordinals ``_ord_t`` (time
    component: series unix second / file line ordinal) and ``_ord_c``
    (coordinate component: lat-major grid ordinal / file line ordinal)
    through the plan, so a consumer can ``orderBy("_ord_t", "_ord_c")`` to
    reproduce the reference's deterministic time-major output order on a
    cluster — bare scan order is only coincidentally right in local mode.
    """
    def _plan(df: DataFrame, mode: str, show: bool) -> InputPlan:
        if delta_t is not None:
            df = df.withColumn("delta_t", F.lit(float(delta_t)))
        return InputPlan(df, mode, show)

    if paired_file is not None:
        p = paired_from_text(spark, paired_file, require_time=require_time,
                             with_ord=keep_ord)
        if keep_ord:
            p = (p.withColumnRenamed("_ord", "_ord_t")
                 .withColumn("_ord_c", F.lit(0)))
        return _plan(p, "paired", True)

    # (times with ts/unix_sec/offset_sec, hasMultipleTimes); with keep_ord,
    # file rows carry their line ordinal as _ord_t and series/instant rows
    # their unix second (monotone in generation order)
    if time_file is not None:
        times = times_from_text(spark, time_file, require_time=require_time,
                                with_ord=keep_ord).select(
            "ts", F.unix_timestamp("ts").alias("unix_sec"), "offset_sec",
            *([F.col("_ord").alias("_ord_t")] if keep_ord else []))
        multi_times = True
    else:
        times, multi_times = _times_for_partial(
            spark, time, step_sec=step_sec, zone=zone,
            instant_offset_sec=instant_offset_sec)
        if keep_ord:
            times = times.withColumn("_ord_t", F.col("unix_sec"))

    if coord_file is not None:
        # a coordinate file x a time file is the combination the reference's
        # usage text advertises (`solarpos @coords.txt @times.txt position`,
        # Main.java:25), though its DateTimeConverter silently swallows the
        # time file into a dummy `now` (DateTimeConverter.java:104-107); we
        # implement what the example documents instead
        coords = coords_from_text(spark, coord_file, with_ord=keep_ord)
        if keep_ord:
            coords = coords.withColumnRenamed("_ord", "_ord_c")
        return _plan(times.crossJoin(coords), "coord_file", True)

    lat_r = _as_range(lat)
    lon_r = _as_range(lon)
    grid = grid_df(spark, lat_r, lon_r)
    if keep_ord:
        # lat-major generation order in one ordinal (lon count < 2^32)
        grid = grid.withColumn(
            "_ord_c",
            F.col("lat_ord") * F.lit(2**32) + F.col("lon_ord"))
    grid = grid.drop("lat_ord", "lon_ord")
    multi = (lat_r[0] != lat_r[1]) or (lon_r[0] != lon_r[1]) or multi_times
    return _plan(grid_times_df(grid, times),
                 "ranges" if time_file is None else "time_file", multi)


def validate_decoded(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """R7 data-path validation: reference domain rules applied to decoded
    records (CoordinateRange.java:70-96, PositionCommand.java:301-313).

    ``strict=True`` mirrors the reference's abort-on-violation: any bad row
    raises at execution time (F.raise_error inside a when-guard, JVM-side).
    ``strict=False`` filters violations out instead (pipeline mode).
    """
    ok = (
        F.col("lat").between(-90.0, 90.0)
        & F.col("lon").between(-180.0, 180.0)
        & (F.col("pressure").isNull() | F.col("pressure").between(0.1, 2000.0))
        & (F.col("temperature").isNull()
           | F.col("temperature").between(-100.0, 100.0))
    )
    if not strict:
        return df.filter(ok)
    guard = F.when(
        ok, F.lit(True)
    ).otherwise(
        F.raise_error(F.format_string(
            "record out of range: lat=%s lon=%s pressure=%s temperature=%s",
            F.col("lat"), F.col("lon"), F.col("pressure"), F.col("temperature")))
    )
    return df.filter(guard)
