"""Julian-date helpers, vectorized over numpy arrays.

Time is carried as Unix epoch seconds (UTC, no leap seconds — the same
convention as java.time used by the reference: see
/root/reference/src/main/java/net/e175/klaus/solarpos/util/DateTimeIterator.java).
"""

from __future__ import annotations

import numpy as np

#: Julian date of the Unix epoch 1970-01-01T00:00:00Z.
JD_UNIX_EPOCH = 2440587.5

#: Julian date of J2000.0 (2000-01-01T12:00:00 TT).
JD_J2000 = 2451545.0


def julian_day(unix_sec: np.ndarray) -> np.ndarray:
    """Julian day (UT) from Unix epoch seconds."""
    return np.asarray(unix_sec, dtype=np.float64) / 86400.0 + JD_UNIX_EPOCH


def julian_ephemeris_day(jd: np.ndarray, delta_t: np.ndarray) -> np.ndarray:
    """JDE = JD + deltaT/86400 (Reda & Andreas 2003 eq. 5)."""
    return jd + np.asarray(delta_t, dtype=np.float64) / 86400.0


def julian_century(jd: np.ndarray) -> np.ndarray:
    """Julian centuries since J2000 (eq. 6)."""
    return (jd - JD_J2000) / 36525.0


def julian_ephemeris_millennium(jce: np.ndarray) -> np.ndarray:
    """Julian ephemeris millennium (eq. 8)."""
    return jce / 10.0


def limit_degrees(deg: np.ndarray) -> np.ndarray:
    """Normalize degrees to [0, 360)."""
    return np.mod(deg, 360.0)


def limit_degrees180pm(deg: np.ndarray) -> np.ndarray:
    """Normalize degrees to (-180, 180]."""
    d = np.mod(deg, 360.0)
    return np.where(d > 180.0, d - 360.0, d)


def limit_zero_to_one(x: np.ndarray) -> np.ndarray:
    """Normalize a day-fraction to [0, 1)."""
    return np.mod(x, 1.0)
