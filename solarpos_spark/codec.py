"""Token codec: bijection between bulk-job tuples and ``array<int32>`` tokens.

BASELINE.json's input is an Iceberg/parquet table of *pre-tokenized
sequences* ``(doc_id, tokens array<int32>, n_tok, source)``; each sequence's
tokens decode to one or more 7-field bulk-job tuples — exactly the record
solarpos consumes in paired stream mode (``lat lon datetime`` line +
per-command options: /root/reference/src/main/java/net/e175/klaus/solarpos/
util/DateTimeIterator.java:179-190, PositionCommand.java:39-57,
Main.java:118-125).

Layout: fixed-width records of :data:`TOKENS_PER_RECORD` int32 each —
fixed width keeps decode fully vectorized (one ``reshape``, no per-row
scanning) and makes ``n_tok`` a pure function of record count.

+---+---------------+----------------------------------------------------+
| i | field         | encoding                                           |
+===+===============+====================================================+
| 0 | lat           | round(lat * 1e5)  (matches CSV %.5f contract, K1)  |
| 1 | lon           | round(lon * 1e5)                                   |
| 2 | ts_hi         | unix_sec >> 32 (arithmetic shift of int64 seconds) |
| 3 | ts_lo         | unix_sec & 0xFFFFFFFF, re-biased into int32        |
| 4 | offset_sec    | UTC offset seconds of the *output* zone            |
| 5 | delta_t       | round(deltaT * 1e3); INT32_MIN = estimate sentinel |
|   |               | (reference NaN sentinel, Main.java:118-125)        |
| 6 | elevation     | round(m * 1e3)                                     |
| 7 | pressure      | round(hPa * 1e3)                                   |
| 8 | temperature   | round(degC * 1e3)                                  |
| 9 | flags         | bit0: algorithm (0=SPA 1=GRENA3); bit1: no-refract |
+---+---------------+----------------------------------------------------+

Scales mirror the reference's output precision table
(formatter/SerializerRegistry.java:96-103 via PositionCommand.java:152-179):
lat/lon 5 decimals, elevation/pressure/temperature/deltaT 3 decimals —
so "token-array equality" of decoded-then-re-encoded rows is exactly
formatted-output equality. All functions are vectorized numpy.
"""

from __future__ import annotations

import numpy as np

TOKENS_PER_RECORD = 10
INT32_MIN = np.int32(-2147483648)

SCALE_COORD = 1e5
SCALE_MILLI = 1e3

FLAG_GRENA3 = 1
FLAG_NO_REFRACTION = 2

FIELDS = (
    "lat", "lon", "ts_hi", "ts_lo", "offset_sec",
    "delta_t", "elevation", "pressure", "temperature", "flags",
)


def _round_scaled(x: np.ndarray, scale: float) -> np.ndarray:
    """Round half away from zero (Java HALF_UP, as %.Nf formatting does)."""
    x = np.asarray(x, dtype=np.float64)
    return np.where(
        np.isnan(x),
        np.int64(INT32_MIN),
        np.sign(x) * np.floor(np.abs(x) * scale + 0.5),
    ).astype(np.int64)


def encode_records(
    lat: np.ndarray,
    lon: np.ndarray,
    unix_sec: np.ndarray,
    offset_sec: np.ndarray | int = 0,
    delta_t: np.ndarray | float = 0.0,
    elevation: np.ndarray | float = 0.0,
    pressure: np.ndarray | float = 1013.0,
    temperature: np.ndarray | float = 15.0,
    flags: np.ndarray | int = 0,
) -> np.ndarray:
    """Encode n tuples -> (n, TOKENS_PER_RECORD) int32 matrix."""
    lat = np.asarray(lat, dtype=np.float64)
    n = lat.shape[0]
    lon = np.broadcast_to(np.asarray(lon, dtype=np.float64), (n,))
    unix_sec = np.broadcast_to(np.asarray(unix_sec, dtype=np.int64), (n,))
    offset_sec = np.broadcast_to(np.asarray(offset_sec, dtype=np.int64), (n,))
    flags = np.broadcast_to(np.asarray(flags, dtype=np.int64), (n,))

    out = np.empty((n, TOKENS_PER_RECORD), dtype=np.int64)
    out[:, 0] = _round_scaled(lat, SCALE_COORD)
    out[:, 1] = _round_scaled(lon, SCALE_COORD)
    out[:, 2] = unix_sec >> 32
    lo = unix_sec & np.int64(0xFFFFFFFF)
    out[:, 3] = np.where(lo >= np.int64(1) << 31, lo - (np.int64(1) << 32), lo)
    out[:, 4] = offset_sec
    out[:, 5] = _round_scaled(np.broadcast_to(np.asarray(delta_t, np.float64), (n,)), SCALE_MILLI)
    out[:, 6] = _round_scaled(np.broadcast_to(np.asarray(elevation, np.float64), (n,)), SCALE_MILLI)
    out[:, 7] = _round_scaled(np.broadcast_to(np.asarray(pressure, np.float64), (n,)), SCALE_MILLI)
    out[:, 8] = _round_scaled(np.broadcast_to(np.asarray(temperature, np.float64), (n,)), SCALE_MILLI)
    out[:, 9] = flags
    if np.any((out[:, [0, 1, 4, 5, 6, 7, 8, 9]] > 2147483647)
              | (out[:, [0, 1, 4, 5, 6, 7, 8, 9]] < -2147483648)):
        raise ValueError("token field out of int32 range")
    return out.astype(np.int32)


def decode_records(tokens: np.ndarray) -> dict[str, np.ndarray]:
    """Decode (n, TOKENS_PER_RECORD) int32 -> dict of field arrays.

    ``delta_t`` is NaN where the estimate sentinel was stored.
    """
    t = np.asarray(tokens, dtype=np.int64)
    if t.ndim != 2 or t.shape[1] != TOKENS_PER_RECORD:
        raise ValueError(f"expected (n, {TOKENS_PER_RECORD}) token matrix, got {t.shape}")
    lo = np.where(t[:, 3] < 0, t[:, 3] + (np.int64(1) << 32), t[:, 3])
    unix_sec = (t[:, 2] << 32) | lo
    dt_raw = t[:, 5]
    return {
        "lat": t[:, 0] / SCALE_COORD,
        "lon": t[:, 1] / SCALE_COORD,
        "unix_sec": unix_sec,
        "offset_sec": t[:, 4].astype(np.int32),
        "delta_t": np.where(dt_raw == np.int64(INT32_MIN), np.nan, dt_raw / SCALE_MILLI),
        "elevation": t[:, 6] / SCALE_MILLI,
        "pressure": t[:, 7] / SCALE_MILLI,
        "temperature": t[:, 8] / SCALE_MILLI,
        "flags": t[:, 9].astype(np.int32),
    }
