"""Sunrise/transit/set operator — an Arrow UDF over the kernel.

Spark-side equivalent of the reference's sunrise command
(/root/reference/src/main/java/net/e175/klaus/solarpos/SunriseCommand.java):
day-resolution solver (fixed 1-day step, SunriseCommand.java:84), type
classification NORMAL|ALL_DAY|ALL_NIGHT with nullable event times
(SunriseCommand.java:176-196), optional civil/nautical/astronomical
twilights (--twilight, SunriseCommand.java:143-155).

The UDF takes pyarrow arrays and returns one ``StructArray``; event times
are int64 arrays whose validity mask marks the events that do not happen.
Like the position UDF, it ships deltaT only when the DataFrame has it and
binds the default as a Python scalar otherwise.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from ..kernels import sunrise as k
from .position import DEFAULTS, bind_inputs, resolve_delta_t, to_numpy

_TYPE_NAMES = pa.array(["NORMAL", "ALL_DAY", "ALL_NIGHT"])

_BASIC_FIELDS = [
    StructField("type", StringType()),
    StructField("transit", LongType()),
    StructField("sunrise", LongType()),
    StructField("sunset", LongType()),
    # deltaT actually used (estimate resolved from the NaN sentinel, like
    # the reference's PositionData.deltaT echo — Main.java:214-216)
    StructField("delta_t_res", DoubleType()),
]
_TWILIGHT_FIELDS = [
    StructField(n, LongType())
    for n in ("civil_start", "civil_end", "nautical_start", "nautical_end",
              "astronomical_start", "astronomical_end")
]


def _nullable_seconds(day0: np.ndarray, sec: np.ndarray) -> pa.Array:
    """day0 + seconds-of-day -> int64 unix seconds, null where ``sec`` is
    NaN (truncated, matching the reference's second-resolution output
    TimeFormats.java:21)."""
    mask = np.isnan(sec)
    vals = (day0 + np.floor(np.where(mask, 0.0, sec))).astype(np.int64)
    return pa.array(vals, mask=mask)


def _solve(day0_unix: np.ndarray, lat: np.ndarray, lon: np.ndarray,
           delta_t: np.ndarray, twilight: bool) -> pa.StructArray:
    horizons = [k.HORIZON_SUNRISE_SUNSET]
    if twilight:
        horizons += [k.HORIZON_CIVIL, k.HORIZON_NAUTICAL, k.HORIZON_ASTRONOMICAL]
    r = k.sunrise_transit_set(day0_unix.astype(np.float64), lat, lon, delta_t,
                              np.array(horizons))
    cols = {
        "type": _TYPE_NAMES.take(r.kind[:, 0]),
        "transit": pa.array((day0_unix + np.floor(r.transit)).astype(np.int64)),
        "sunrise": _nullable_seconds(day0_unix, r.sunrise[:, 0]),
        "sunset": _nullable_seconds(day0_unix, r.sunset[:, 0]),
        "delta_t_res": pa.array(delta_t),
    }
    if twilight:
        for j, name in ((1, "civil"), (2, "nautical"), (3, "astronomical")):
            cols[f"{name}_start"] = _nullable_seconds(day0_unix, r.sunrise[:, j])
            cols[f"{name}_end"] = _nullable_seconds(day0_unix, r.sunset[:, j])
    return pa.StructArray.from_arrays(list(cols.values()), names=list(cols))


def _sunrise_udf(twilight: bool, shipped: tuple[str, ...]):
    """The sunrise UDF of one (twilight, shipped deltaT) key, built on first
    use and kept as a module attribute (see position._position_udf). It
    takes ``(day0, lat, lon[, delta_t])``."""
    name = "_udf_" + "_".join(("twilight" if twilight else "basic",) + shipped)
    if name not in globals():
        schema = StructType(_BASIC_FIELDS + (_TWILIGHT_FIELDS if twilight else []))

        @arrow_udf(schema)
        def udf(day0: pa.Array, lat: pa.Array, lon: pa.Array,
                *optional: pa.Array) -> pa.Array:
            d0 = to_numpy(day0)
            dt = resolve_delta_t(
                d0, to_numpy(optional[0]) if shipped else DEFAULTS["delta_t"])
            return _solve(d0, to_numpy(lat), to_numpy(lon), dt, twilight)

        globals()[name] = udf
    return globals()[name]


def sunrise(
    df: DataFrame,
    *,
    twilight: bool = False,
    show_inputs: bool = True,
    ts_col: str = "ts",
    time_is_unix: bool = False,
    offset_col: str | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Sunrise operator. The input instant is resolved to its local calendar
    date (via ``offset_col`` seconds if given, else UTC), mirroring the
    reference's zone handling (util/DateTimeIterator.java:59-63). Inputs
    and deltaT are shown only with ``show_inputs`` (the CLI applies the
    reference's auto rule, Main.java:137-141)."""
    b = bind_inputs(df, ts_col, time_is_unix, passthrough)
    off = b.get(offset_col, 0, "long")
    # anchor = the INSTANT of the local date's midnight (wall midnight minus
    # the zone offset), not 0h UT of that date: the reference's library runs
    # A.2 from the zoned midnight instant, which shifts late events (astro
    # dusk) by ~0.1 s — derived by bisecting SunriseTest.java:57-64 goldens
    # (all 13 match only with this anchor; see kernels/sunrise.py docstring)
    day0 = (F.floor((b.unix + off) / 86400) * 86400 - off).cast("long")
    shipped = ("delta_t",) if "delta_t" in df.columns else ()
    out = df.withColumn("__sr", _sunrise_udf(twilight, shipped)(
        day0, F.col("lat").cast("double"), F.col("lon").cast("double"),
        *(b.get(n, DEFAULTS[n]) for n in shipped)))

    # field set + ordering = SunriseCommand.getFieldNames
    # (SunriseCommand.java:134-160): inputs only when shown, type always,
    # twilight events in chronological order around sunrise/transit/sunset
    proj = []
    if show_inputs:
        proj += [
            F.col("lat").alias("latitude"), F.col("lon").alias("longitude"),
            b.date_time.alias("dateTime"),
            F.col("__sr.delta_t_res").alias("deltaT"),
        ]
    proj.append(F.col("__sr.type").alias("type"))
    event_order = (
        ("astronomical_start", "nautical_start", "civil_start", "sunrise",
         "transit", "sunset", "civil_end", "nautical_end", "astronomical_end")
        if twilight else ("sunrise", "transit", "sunset"))
    for name in event_order:
        proj.append(F.timestamp_seconds(F.col(f"__sr.{name}")).alias(name))
    return out.select(*b.keep, *proj)
