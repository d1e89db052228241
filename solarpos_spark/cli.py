"""K5: CLI wrapper with the reference's argument surface + exit-code contract.

Mirrors ``solarpos <latitude> <longitude> <dateTime> [globals]
position|sunrise [opts]`` (Main.java:15-135, PositionCommand.java:33-78,
SunriseCommand.java:57-60) on top of the Spark engine:

* positionals accept scalars, ``start:end:step`` ranges, and ``@file``
  (coordinate file, time file, or paired data — the four InputMode shapes
  via :func:`solarpos_spark.sources.inputs.make_input_plan`)
* ``--deltat`` bare = estimate sentinel; ``--deltat=X`` explicit
  (Main.java:117-126)
* exit codes follow picocli's contract (Main.java:252-256 +
  MainTest.java:54-74): 0 success, 2 usage/validation error, 1 runtime
  failure
* one deliberate difference: with no timezone info anywhere we default to
  UTC, not the host's system zone — a distributed engine must not depend on
  driver-local configuration.
"""

from __future__ import annotations

import argparse
import math
import re
import sys
from datetime import datetime, timezone

USAGE_ERROR = 2
RUNTIME_ERROR = 1

VERSION = "solarpos-spark 0.2 (PySpark engine, solarpos-compatible CLI)"

_RANGE_RE = re.compile(r"^(-?\d+(?:\.\d+)?):(-?\d+(?:\.\d+)?):(\d+(?:\.\d+)?)$")
_DUR_RE = re.compile(r"^(\d+)([smhd]?)$")
_DUR_UNIT = {"": 1, "s": 1, "m": 60, "h": 3600, "d": 86400}
# ISO-8601 durations, the reference's Duration.parse fallback
# (DurationConverter.java:30-34); case-insensitive like java.time
_ISO_DUR_RE = re.compile(
    r"^P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$", re.IGNORECASE)
_TIME_ONLY_RE = re.compile(r"^\d{1,2}:\d{2}")

# deterministic-clock hook mirroring the reference's "solarpos.test.clock"
# system property (DateTimeConverter.java:17-25): an ISO instant that fixes
# what "now" / time-only inputs resolve the current date from
_TEST_CLOCK_ENV = "SOLARPOS_TEST_CLOCK"


def _now_utc() -> datetime:
    import os

    fixed = os.environ.get(_TEST_CLOCK_ENV)
    if fixed:
        return datetime.fromisoformat(fixed).astimezone(timezone.utc)
    return datetime.now(tz=timezone.utc)


class CliError(Exception):
    """Usage/validation error -> exit 2."""


def _parse_coord(text: str):
    m = _RANGE_RE.match(text)
    if m:
        return (float(m.group(1)), float(m.group(2)), float(m.group(3)))
    try:
        return float(text)
    except ValueError:
        raise CliError(f"invalid coordinate: {text!r}") from None


def _parse_step(text: str) -> int:
    m = _DUR_RE.match(text)
    if m:
        return int(m.group(1)) * _DUR_UNIT[m.group(2)]
    m = _ISO_DUR_RE.match(text)
    if m and any(m.groups()):
        d, h, mi, s = (int(g) if g else 0 for g in m.groups())
        return d * 86400 + h * 3600 + mi * 60 + s
    raise CliError(f"invalid step duration: {text!r}")


def _parse_time(text: str, zone: str | None):
    """-> (time argument for make_input_plan, effective zone, display
    offset seconds).

    Partials stay tuples (the series path); instants become unix ints and
    carry the offset the reference would print them in
    (convertToZonedDateTime keeps the input's / overridden zone). A
    --timezone override KEEPS the wall-clock reading
    (DateTimeIterator.java:59-63).
    """
    from .sources.inputs import tzinfo_of

    eff_zone = zone or "UTC"
    if text.lower() == "now":
        # 'now' is an instant — a --timezone override changes only the
        # rendering zone (ZonedDateTime.now(zone): same instant, zone's
        # current offset), never the instant itself.
        now = _now_utc()
        off = 0
        if zone is not None:
            off = int(now.astimezone(tzinfo_of(zone))
                      .utcoffset().total_seconds())
        return int(now.timestamp()), eff_zone, off
    if _TIME_ONLY_RE.match(text):
        # time-only input -> today's date at that time
        # (DateTimeConverter.tryParseTimeOnly + convertToZonedDateTime's
        # LocalTime/OffsetTime branches). "Today" is taken in the effective
        # zone (UTC default — deliberate: no driver-local system zone).
        from datetime import time as dtime

        try:
            t = dtime.fromisoformat(text)
        except ValueError:
            raise CliError(f"invalid time: {text!r}") from None
        if zone is not None:
            # zone override keeps the wall-clock reading
            tz = tzinfo_of(zone)
            t = t.replace(tzinfo=None)
        else:
            tz = t.tzinfo or timezone.utc
        today = _now_utc().astimezone(tz).date()
        dt = datetime.combine(today, t.replace(tzinfo=None), tzinfo=tz)
        return (int(dt.timestamp()), eff_zone,
                int(dt.utcoffset().total_seconds()))
    if re.fullmatch(r"\d{4}", text):
        return (int(text),), eff_zone, 0
    if re.fullmatch(r"\d{4}-\d{2}", text):
        y, m = text.split("-")
        return (int(y), int(m)), eff_zone, 0
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", text):
        y, m, d = text.split("-")
        return (int(y), int(m), int(d)), eff_zone, 0
    try:
        dt = datetime.fromisoformat(text)
    except ValueError:
        raise CliError(f"invalid date/time: {text!r}") from None
    if zone is not None:
        # override keeps wall time: reattach the zone to the local reading
        dt = dt.replace(tzinfo=tzinfo_of(zone))
    elif dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (int(dt.timestamp()), eff_zone,
            int(dt.utcoffset().total_seconds()))


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="solarpos-spark", add_help=True, exit_on_error=False,
        description="Topocentric solar coordinates / sunrise-sunset on Spark.")
    p.add_argument("-V", "--version", action="store_true")
    p.add_argument("inputs", nargs="*",
                   help="latitude longitude dateTime (each may be a range "
                        "start:end:step or @file; a single @file is "
                        "paired lat lon datetime data)")
    p.add_argument("--timezone", default=None)
    # type=str.lower: enum values are case-insensitive
    # (Main.createCommandLine setCaseInsensitiveEnumValuesAllowed)
    p.add_argument("--format", choices=("human", "csv", "json"),
                   type=str.lower, default="human")
    p.add_argument("--deltat", nargs="?", const="NaN", default="0")
    p.add_argument("--show-inputs", dest="show_inputs", action="store_true",
                   default=None)
    p.add_argument("--no-show-inputs", dest="show_inputs",
                   action="store_false")
    p.add_argument("--headers", dest="headers", action="store_true",
                   default=True)
    p.add_argument("--no-headers", dest="headers", action="store_false")
    p.add_argument("--perf", action="store_true",
                   help="show performance statistics on stderr")
    p.add_argument("--parallel", action="store_true",
                   help="accepted for compatibility; Spark is parallel")
    # subcommand options (flat namespace — argparse subparsers fight the
    # reference's positional-before-subcommand layout)
    p.add_argument("-a", "--algorithm", choices=("spa", "grena3"),
                   type=str.lower, default="spa")
    p.add_argument("--elevation", type=float, default=0.0)
    p.add_argument("--pressure", type=float, default=1013.0)
    p.add_argument("--temperature", type=float, default=15.0)
    p.add_argument("--step", default="1h")
    p.add_argument("--refraction", dest="refraction", action="store_true",
                   default=True)
    p.add_argument("--no-refraction", dest="refraction", action="store_false")
    p.add_argument("--elevation-angle", dest="elevation_angle",
                   action="store_true")
    p.add_argument("--twilight", action="store_true")
    # negative coordinates and negative ranges are positionals
    # ("-34.6118", "-10.0:-5.0:1.0" — PositionTest.negativeCoordinates /
    # negativeCoordinateRange; picocli handles this via
    # setUnmatchedOptionsArePositionalParams). argparse's stock negative-
    # number matcher only admits plain numbers, so widen it to cover the
    # start:end:step range syntax too.
    try:
        p._negative_number_matcher = re.compile(
            r"^-\d+(\.\d+)?(:-?\d+(\.\d+)?:\d+(\.\d+)?)?$")
    except AttributeError:  # pragma: no cover — private API hedge
        pass
    return p


def _make_plan(spark, tokens: list[str], ns) -> tuple:
    """Resolve the positional layout to an InputPlan (+ command name)."""
    from .sources import inputs

    if not tokens:
        raise CliError("missing inputs and command")
    command = tokens[-1]
    if command not in ("position", "sunrise"):
        raise CliError(f"unknown command: {command!r} (position|sunrise)")
    pos = tokens[:-1]
    # sunrise has no --step: it always iterates whole days
    # (SunriseCommand.java:84, Duration.ofDays(1))
    step_sec = 86400 if command == "sunrise" else _parse_step(ns.step)
    delta_t = float(ns.deltat) if ns.deltat != "NaN" else math.nan

    # position needs explicit times in time and paired files (TIME_REQUIRED
    # precision); sunrise is date-sufficient (DateTimeIterator.TimePrecision)
    kw = dict(step_sec=step_sec, delta_t=delta_t,
              require_time=(command == "position"),
              # keep generation-order ordinals through the plan so _render
              # can reproduce the reference's deterministic time-major
              # output order under any cluster partitioning
              keep_ord=True)
    # at most one input may be stdin (Main.validateStdinUsage)
    if sum(1 for t in pos if t == "@-") > 1:
        raise CliError("cannot use stdin (@-) for multiple inputs")
    if len(pos) == 1 and pos[0].startswith("@"):
        plan = inputs.make_input_plan(spark, paired_file=pos[0][1:], **kw)
    elif len(pos) == 2 and pos[0].startswith("@"):
        if pos[1].startswith("@"):
            # @coords x @times cartesian (the combination Main.java:25's
            # example documents; see inputs.make_input_plan for the
            # reference-quirk note)
            plan = inputs.make_input_plan(
                spark, coord_file=pos[0][1:], time_file=pos[1][1:], **kw)
        elif pos[1] == "now":
            # reference quirk: @coordFile + "now" routes to PairedData
            # (Main.createCoordinateFileMode), so lines carry their own times
            plan = inputs.make_input_plan(spark, paired_file=pos[0][1:], **kw)
        else:
            t, zone, off = _parse_time(pos[1], ns.timezone)
            plan = inputs.make_input_plan(spark, coord_file=pos[0][1:],
                                          time=t, zone=zone,
                                          instant_offset_sec=off, **kw)
    elif len(pos) == 3:
        lat = _parse_coord(pos[0])
        lon = _parse_coord(pos[1])
        _validate_coord(lat, -90.0, 90.0, "latitude")
        _validate_coord(lon, -180.0, 180.0, "longitude")
        if pos[2].startswith("@"):
            plan = inputs.make_input_plan(spark, lat=lat, lon=lon,
                                          time_file=pos[2][1:], **kw)
        else:
            t, zone, off = _parse_time(pos[2], ns.timezone)
            plan = inputs.make_input_plan(spark, lat=lat, lon=lon, time=t,
                                          zone=zone,
                                          instant_offset_sec=off, **kw)
    else:
        raise CliError(f"expected 'lat lon dateTime command', got {tokens!r}")
    return plan, command


def _validate_coord(c, lo: float, hi: float, name: str) -> None:
    """Bounds validation (MainTest.rejectsBadCoords: 91 / 200 -> exit != 0)."""
    vals = (c, c) if isinstance(c, float) else (c[0], c[1])
    for v in vals:
        if not (lo <= v <= hi):
            raise CliError(f"{name} out of range [{lo}, {hi}]: {v}")


def _render(df, command: str, ns, out) -> int:
    """Write the formatted result; returns the number of data rows (the
    reference's PerformanceTracker counts emitted values)."""
    from pyspark.sql import functions as F  # noqa: F401

    from .sinks import formatters as fmt

    if "_ord_t" in df.columns:
        df = df.orderBy("_ord_t", "_ord_c").drop("_ord_t", "_ord_c")
    fields = fmt.POSITION_FIELDS if command == "position" else fmt.SUNRISE_FIELDS
    offset_col = "offset_sec" if "offset_sec" in df.columns else None
    if ns.format == "csv":
        doc = fmt.to_csv_string(df, fields, headers=ns.headers,
                                offset_col=offset_col)
        out.write(doc)
        return doc.count("\r\n") - (1 if ns.headers else 0)
    if ns.format == "json":
        doc = fmt.to_json_string(df, fields, offset_col=offset_col)
        out.write(doc)
        return doc.count("\n")
    blocks = [r["block"] for r in
              fmt.human_blocks(df, fields, offset_col=offset_col).collect()]
    out.write("\n\n".join(blocks) + ("\n" if blocks else ""))
    return len(blocks)


def main(argv: list[str] | None = None, spark=None, out=None) -> int:
    import time as _time

    t_start = _time.perf_counter()
    argv = sys.argv[1:] if argv is None else argv
    out = out or sys.stdout
    parser = _build_parser()
    try:
        # intermixed: the reference's layout interleaves positionals and
        # options (lat lon time --globals command --subopts)
        ns = parser.parse_intermixed_args(argv)
    except (argparse.ArgumentError, SystemExit) as e:
        code = e.code if isinstance(e, SystemExit) else USAGE_ERROR
        return USAGE_ERROR if code not in (0,) else 0
    if ns.version:
        out.write(VERSION + "\n")
        return 0
    if ns.inputs and ns.inputs[-1] == "help":
        # positional 'help' command (Main.COMMANDS) -> usage, exit 0,
        # no Spark session needed
        out.write(parser.format_help())
        return 0

    try:
        own_session = spark is None
        if own_session:
            from .plans.session import build_session

            spark = build_session(app_name="solarpos-cli")
            spark.sparkContext.setLogLevel("ERROR")
        try:
            plan, command = _make_plan(spark, ns.inputs, ns)
            from pyspark.sql import functions as F

            from .operators.position import position
            from .operators.sunrise import sunrise

            # an explicit --show-inputs / --no-show-inputs beats the plan's
            # auto rule (Main.shouldShowInputs, Main.java:137-141)
            show = (ns.show_inputs if ns.show_inputs is not None
                    else plan.show_inputs)
            keep = [c for c in ("offset_sec", "_ord_t", "_ord_c")
                    if c in plan.df.columns]
            if command == "position":
                base = plan.df.withColumns({
                    "elevation": F.lit(ns.elevation),
                    "pressure": F.lit(ns.pressure),
                    "temperature": F.lit(ns.temperature)})
                res = position(base, algorithm=ns.algorithm,
                               refraction=ns.refraction,
                               elevation_angle=ns.elevation_angle,
                               show_inputs=show, passthrough=keep)
            else:
                res = sunrise(plan.df, twilight=ns.twilight, show_inputs=show,
                              offset_col="offset_sec", passthrough=keep)
            n_rows = _render(res, command, ns, out)
            if ns.perf:
                # PerformanceTracker.printStats format (stderr)
                secs = _time.perf_counter() - t_start
                print("Performance: %d values in %.3f seconds (%.0f/s)"
                      % (n_rows, secs, n_rows / secs if secs else 0.0),
                      file=sys.stderr)
            return 0
        finally:
            if own_session:
                spark.stop()
    except CliError as e:
        print(f"error: {e}", file=sys.stderr)
        return USAGE_ERROR
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return USAGE_ERROR
    except Exception as e:  # noqa: BLE001 — CLI boundary
        print(f"failure: {type(e).__name__}: {e}", file=sys.stderr)
        return RUNTIME_ERROR


if __name__ == "__main__":
    raise SystemExit(main())
