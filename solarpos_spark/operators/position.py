"""Solar-position operator — Arrow-vectorized pandas UDFs over the kernels.

Spark-side equivalent of the reference's position command
(/root/reference/src/main/java/net/e175/klaus/solarpos/PositionCommand.java):
a 1:1 row map (R3/R5) computing ``struct(azimuth, zenith)`` from
(time, lat, lon, elevation, pressure, temperature, deltaT).

The reference's key physical optimization — computing SPA time-dependent
terms once per unique timestamp (PositionCommand.java:228-257) — happens
*inside* the UDF, in the kernel's 1-D lexsort grouping of the Arrow batch's
(timestamp, deltaT) pairs, so it needs no shuffle and survives any
partitioning. Batches are sized by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (plans/session.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from ..codec import FLAG_GRENA3, FLAG_NO_REFRACTION
from ..kernels import deltat as deltat_kernel
from ..kernels import grena3 as grena3_kernel
from ..kernels import spa as spa_kernel

ALGORITHM_SPA = "spa"
ALGORITHM_GRENA3 = "grena3"

_POSITION_SCHEMA = StructType([
    StructField("azimuth", DoubleType()),
    StructField("zenith", DoubleType()),
    # the deltaT actually used: echoes the input unless it was the NaN
    # estimate sentinel, in which case this is the Espenak-Meeus estimate —
    # the reference prints the estimated value (Main.java:214-216 feeds
    # PositionData.deltaT), not the sentinel
    StructField("delta_t_res", DoubleType()),
])


def _compute_position(
    unix_sec: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    elevation: np.ndarray,
    pressure: np.ndarray,
    temperature: np.ndarray,
    delta_t: np.ndarray,
    flags: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Dispatch on per-row flags; each algorithm subset is one vector call.

    A subset that is the whole batch (always so for the sweep and the
    stream) takes the columns as they are instead of boolean-indexed copies.
    """
    az = np.empty_like(lat)
    zen = np.empty_like(lat)
    grena_mask = (flags & FLAG_GRENA3) != 0
    norefr_mask = (flags & FLAG_NO_REFRACTION) != 0
    for alg_mask, fn in ((~grena_mask, _spa_call), (grena_mask, _grena_call)):
        for refr in (True, False):
            m = alg_mask & (norefr_mask != refr)
            if not np.any(m):
                continue
            if np.all(m):
                m = slice(None)
            a, z = fn(unix_sec[m], lat[m], lon[m], elevation[m],
                      pressure[m] if refr else None,
                      temperature[m] if refr else None, delta_t[m])
            az[m] = a
            zen[m] = z
    return az, zen


def _spa_call(ts, lat, lon, elev, press, temp, dt):
    return spa_kernel.solar_position(ts, lat, lon, elev, dt, press, temp)


def _grena_call(ts, lat, lon, elev, press, temp, dt):
    return grena3_kernel.solar_position(ts, lat, lon, dt, press, temp)


def resolve_delta_t(unix_sec: np.ndarray, delta_t: np.ndarray) -> np.ndarray:
    """NaN deltaT -> Espenak-Meeus estimate from the date (Main.java:214-216)."""
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


@pandas_udf(_POSITION_SCHEMA)
def position_udf(
    unix_sec: pd.Series, lat: pd.Series, lon: pd.Series, elevation: pd.Series,
    pressure: pd.Series, temperature: pd.Series, delta_t: pd.Series,
    flags: pd.Series,
) -> pd.DataFrame:
    ts = unix_sec.to_numpy(dtype=np.int64)
    dt = resolve_delta_t(ts, delta_t.to_numpy(dtype=np.float64))
    az, zen = _compute_position(
        ts.astype(np.float64),
        lat.to_numpy(dtype=np.float64),
        lon.to_numpy(dtype=np.float64),
        elevation.to_numpy(dtype=np.float64),
        pressure.to_numpy(dtype=np.float64),
        temperature.to_numpy(dtype=np.float64),
        dt,
        flags.to_numpy(dtype=np.int64),
    )
    return pd.DataFrame({"azimuth": az, "zenith": zen, "delta_t_res": dt})


def position(
    df: DataFrame,
    *,
    algorithm: str = ALGORITHM_SPA,
    refraction: bool = True,
    elevation_angle: bool = False,
    show_inputs: bool | None = None,
    ts_col: str = "ts",
    time_is_unix: bool = False,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Position operator with the reference's flag-driven projection.

    Expects columns ``lat, lon, <ts_col>`` and optionally
    ``elevation, pressure, temperature, delta_t, flags`` (defaulted like
    PositionCommand.java:39-57 when absent). Output column set follows
    PositionCommand.java:149-201: [inputs...,] dateTime, deltaT, azimuth,
    zenith|elevation-angle — pressure/temperature dropped w/o refraction.

    ``df`` may be an :class:`~solarpos_spark.sources.inputs.InputPlan`
    (the unified dispatch facade): with ``show_inputs=None`` the plan's
    mode-derived auto rule applies — files and multi-valued inputs show
    input columns, a single point at a single instant does not
    (Main.shouldShowInputs, Main.java:137-141). A bare DataFrame with
    ``show_inputs=None`` defaults to True (the engine's typical
    multi-valued case).
    """
    from ..sources.inputs import InputPlan

    if isinstance(df, InputPlan):
        if show_inputs is None:
            show_inputs = df.show_inputs
        df = df.df
    cols = dict.fromkeys(df.columns)
    get = lambda name, default: (F.col(name) if name in cols else F.lit(default))

    base_flags = (FLAG_GRENA3 if algorithm == ALGORITHM_GRENA3 else 0) | (
        0 if refraction else FLAG_NO_REFRACTION
    )
    flags_col = (
        F.col("flags") if "flags" in cols and algorithm == "auto"
        else F.lit(base_flags)
    )
    unix = F.col(ts_col).cast("long") if time_is_unix else F.unix_timestamp(F.col(ts_col))

    pos = position_udf(
        unix,
        F.col("lat").cast("double"),
        F.col("lon").cast("double"),
        get("elevation", 0.0).cast("double"),
        get("pressure", 1013.0).cast("double"),
        get("temperature", 15.0).cast("double"),
        get("delta_t", 0.0).cast("double"),
        flags_col.cast("long"),
    )
    out = df.withColumn("__pos", pos)

    # InputPlan carries the reference's auto show-inputs rule (resolved
    # above); a bare DataFrame defaults to showing inputs
    show = show_inputs if show_inputs is not None else True
    proj: list[Column] = []
    if show:
        proj += [F.col("lat").alias("latitude"), F.col("lon").alias("longitude"),
                 get("elevation", 0.0).cast("double").alias("elevation")]
        if refraction:
            proj += [get("pressure", 1013.0).cast("double").alias("pressure"),
                     get("temperature", 15.0).cast("double").alias("temperature")]
    proj.append(
        (F.timestamp_seconds(unix) if time_is_unix else F.col(ts_col)).alias("dateTime"))
    if show:
        # deltaT appears only with inputs (PositionCommand.java:184-199:
        # the non-show field set is dateTime, azimuth, zenith)
        proj.append(F.col("__pos.delta_t_res").alias("deltaT"))
    proj.append(F.col("__pos.azimuth").alias("azimuth"))
    if elevation_angle:
        proj.append((F.lit(90.0) - F.col("__pos.zenith")).alias("elevation-angle"))
    else:
        proj.append(F.col("__pos.zenith").alias("zenith"))
    keep = (passthrough if passthrough is not None
            else [c for c in ("doc_id", "seq_index") if c in cols])
    return out.select(*[F.col(c) for c in keep], *proj)
