"""Solar-position operator — an Arrow UDF over the kernels.

Spark-side equivalent of the reference's position command
(/root/reference/src/main/java/net/e175/klaus/solarpos/PositionCommand.java):
a 1:1 row map (R3/R5) computing ``struct(azimuth, zenith)`` from
(time, lat, lon, elevation, pressure, temperature, deltaT).

The UDF takes pyarrow arrays and returns one ``StructArray``; no pandas. An
optional input the DataFrame lacks (elevation, pressure, temperature,
deltaT) is not shipped as a literal column: its default is a Python scalar
bound inside the UDF, so only real columns cross the Arrow boundary (4 on
the grid sweep instead of 7). The projection of those defaults for
``show_inputs`` stays on the JVM.

The reference's key physical optimization — computing SPA time-dependent
terms once per unique timestamp (PositionCommand.java:228-257) — happens
*inside* the UDF, in the kernel's 1-D lexsort grouping of the Arrow batch's
(timestamp, deltaT) pairs, so it needs no shuffle and survives any
partitioning. Batches are sized by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (plans/session.py).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from ..kernels import deltat as deltat_kernel
from ..kernels import grena3 as grena3_kernel
from ..kernels import spa as spa_kernel

_POSITION_SCHEMA = StructType([
    StructField("azimuth", DoubleType()),
    StructField("zenith", DoubleType()),
    # the deltaT actually used: echoes the input unless it was the NaN
    # estimate sentinel, in which case this is the Espenak-Meeus estimate —
    # the reference prints the estimated value (Main.java:214-216 feeds
    # PositionData.deltaT), not the sentinel
    StructField("delta_t_res", DoubleType()),
])

#: optional inputs and their defaults when the DataFrame lacks them
#: (PositionCommand.java:39-57)
DEFAULTS = {"elevation": 0.0, "pressure": 1013.0, "temperature": 15.0,
            "delta_t": 0.0}

#: --algorithm name -> kernel taking (unix_sec, lat, lon, elevation,
#: delta_t, pressure, temperature); Grena3 takes no elevation
#: (PositionCommand.java:284-297)
_KERNELS = {
    "spa": spa_kernel.solar_position,
    "grena3": lambda ts, lat, lon, elev, dt, press, temp:
        grena3_kernel.solar_position(ts, lat, lon, dt, press, temp),
}


def resolve_delta_t(unix_sec: np.ndarray, delta_t: np.ndarray | float) -> np.ndarray:
    """NaN deltaT -> Espenak-Meeus estimate from the date (Main.java:214-216).
    A scalar ``delta_t`` stands for every row; the result is one per row."""
    delta_t = np.broadcast_to(np.asarray(delta_t, dtype=np.float64), unix_sec.shape)
    nanm = np.isnan(delta_t)
    if not np.any(nanm):
        return delta_t
    # decimal year from the UTC calendar date of the instant
    days = np.asarray(unix_sec[nanm], dtype=np.int64) // 86400
    dt64 = days.astype("datetime64[D]")
    years = dt64.astype("datetime64[Y]").astype(np.int64) + 1970
    months = (dt64.astype("datetime64[M]").astype(np.int64) % 12) + 1
    est = deltat_kernel.estimate(deltat_kernel.decimal_year(years, months))
    out = delta_t.copy()
    out[nanm] = est
    return out


def position_kernel(algorithm: str, refraction: bool) -> Callable:
    """The one kernel dispatch of the position UDF and the fused token path:
    ``(unix_sec int64, lat, lon, elevation, pressure, temperature, delta_t)
    -> (azimuth, zenith, deltaT used)`` over whole numpy columns; the four
    optional inputs may also be scalars. Without refraction the kernel gets
    no pressure/temperature. Raises ValueError for an algorithm other than
    ``spa`` or ``grena3``."""
    if algorithm not in _KERNELS:
        raise ValueError(f"unknown algorithm {algorithm!r} (spa|grena3)")
    kernel = _KERNELS[algorithm]

    def run(unix_sec, lat, lon, elevation, pressure, temperature, delta_t):
        dt = resolve_delta_t(unix_sec, delta_t)
        az, zen = kernel(unix_sec.astype(np.float64), lat, lon, elevation, dt,
                         pressure if refraction else None,
                         temperature if refraction else None)
        return az, zen, dt

    return run


def to_numpy(a: pa.Array) -> np.ndarray:
    """An Arrow UDF argument as numpy (zero-copy without nulls; a null
    double reads as NaN)."""
    return a.to_numpy(zero_copy_only=False)


def _position_udf(algorithm: str, refraction: bool, shipped: tuple[str, ...]):
    """The position UDF of one (algorithm, refraction, shipped optional
    inputs) key, built on first use and kept as a module attribute: a UDF
    caches its JVM function, and a rebuilt session resets that cache on
    module attributes only (perfbench/run.py ``_forget_jvm_udfs``). It
    takes ``(unix_sec, lat, lon, *shipped)``; every other optional input
    is its default."""
    name = "_udf_" + "_".join(
        (algorithm, "refraction" if refraction else "no_refraction") + shipped)
    if name not in globals():
        kernel = position_kernel(algorithm, refraction)
        bound = {n: v for n, v in DEFAULTS.items() if n not in shipped}

        @arrow_udf(_POSITION_SCHEMA)
        def udf(unix_sec: pa.Array, lat: pa.Array, lon: pa.Array,
                *optional: pa.Array) -> pa.Array:
            az, zen, dt = kernel(
                to_numpy(unix_sec), to_numpy(lat), to_numpy(lon), **bound,
                **{n: to_numpy(c) for n, c in zip(shipped, optional)})
            return pa.StructArray.from_arrays(
                [pa.array(az), pa.array(zen), pa.array(dt)],
                names=_POSITION_SCHEMA.names)

        globals()[name] = udf
    return globals()[name]


class BoundInputs(NamedTuple):
    """What position() and sunrise() read from their input DataFrame."""

    #: ``get(name, default, dtype="double")``: the column cast to ``dtype``
    #: when present, else the literal default (PositionCommand.java:39-57)
    get: Callable[..., Column]
    #: the input instant in unix seconds
    unix: Column
    #: the input instant as a timestamp (the ``dateTime`` output field)
    date_time: Column
    #: passthrough columns, emitted first
    keep: list[Column]


def bind_inputs(df: DataFrame, ts_col: str, time_is_unix: bool,
                passthrough: list[str] | None) -> BoundInputs:
    """``ts_col`` holds a timestamp, or unix seconds when ``time_is_unix``.
    ``passthrough=None`` keeps ``doc_id``/``seq_index`` when present."""
    cols = set(df.columns)

    def get(name: str | None, default, dtype: str = "double") -> Column:
        return (F.col(name) if name in cols else F.lit(default)).cast(dtype)

    ts = F.col(ts_col)
    unix = ts.cast("long") if time_is_unix else F.unix_timestamp(ts)
    keep = (passthrough if passthrough is not None
            else [c for c in ("doc_id", "seq_index") if c in cols])
    return BoundInputs(get, unix,
                       F.timestamp_seconds(unix) if time_is_unix else ts,
                       [F.col(c) for c in keep])


def position(
    df: DataFrame,
    *,
    algorithm: str = "spa",
    refraction: bool = True,
    elevation_angle: bool = False,
    show_inputs: bool = True,
    ts_col: str = "ts",
    time_is_unix: bool = False,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Position operator with the reference's flag-driven projection.

    Expects columns ``lat, lon, <ts_col>`` and optionally
    ``elevation, pressure, temperature, delta_t`` (defaulted like
    PositionCommand.java:39-57 when absent). Output column set follows
    PositionCommand.java:149-201: [inputs...,] dateTime, deltaT, azimuth,
    zenith|elevation-angle — pressure/temperature dropped w/o refraction,
    inputs and deltaT only with ``show_inputs`` (the CLI applies the
    reference's auto rule, Main.java:137-141). ``algorithm`` is ``spa`` or
    ``grena3``; any other name raises ValueError here.
    """
    # the optional inputs the UDF receives; the others are bound in Python
    shipped = tuple(n for n in (DEFAULTS if refraction else ("elevation", "delta_t"))
                    if n in df.columns)
    udf = _position_udf(algorithm, refraction, shipped)
    b = bind_inputs(df, ts_col, time_is_unix, passthrough)
    out = df.withColumn("__pos", udf(
        b.unix, F.col("lat").cast("double"), F.col("lon").cast("double"),
        *(b.get(n, DEFAULTS[n]) for n in shipped)))
    elevation = b.get("elevation", DEFAULTS["elevation"])
    pressure = b.get("pressure", DEFAULTS["pressure"])
    temperature = b.get("temperature", DEFAULTS["temperature"])

    proj: list[Column] = []
    if show_inputs:
        proj += [F.col("lat").alias("latitude"), F.col("lon").alias("longitude"),
                 elevation.alias("elevation")]
        if refraction:
            proj += [pressure.alias("pressure"),
                     temperature.alias("temperature")]
    proj.append(b.date_time.alias("dateTime"))
    if show_inputs:
        # deltaT appears only with inputs (PositionCommand.java:184-199:
        # the non-show field set is dateTime, azimuth, zenith)
        proj.append(F.col("__pos.delta_t_res").alias("deltaT"))
    proj.append(F.col("__pos.azimuth").alias("azimuth"))
    if elevation_angle:
        proj.append((F.lit(90.0) - F.col("__pos.zenith")).alias("elevation-angle"))
    else:
        proj.append(F.col("__pos.zenith").alias("zenith"))
    return out.select(*b.keep, *proj)
