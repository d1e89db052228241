"""Sunrise / transit / sunset / twilight solver — NREL SPA appendix A.2.

Vectorized numpy implementation of the sun rise/transit/set procedure from
Reda & Andreas (2003) section A.2, matching the behavior the reference gets
from ``SPA.calculateSunriseTransitSet``
(/root/reference/src/main/java/net/e175/klaus/solarpos/SunriseCommand.java:169-196):

* per-day classification into NORMAL / ALL_DAY / ALL_NIGHT (the reference's
  sealed ``SunriseResult`` sum type),
* multiple horizons computed in one call (sunrise/sunset at -0.8333 deg plus
  civil -6, nautical -12, astronomical -18 twilights for ``--twilight``),
* nullable (NaN) event times for polar cases (SunriseTest.java:267,292).

Inputs: ``day0_unix`` is Unix seconds of the MIDNIGHT INSTANT of the target
calendar date in the input's zone — i.e. wall-clock midnight minus the zone
offset (0h UT for UTC inputs). The reference resolves the zoned input
datetime to its local calendar date (SunriseCommand.java:84-91) and its
library anchors the whole A.2 procedure at that zoned midnight instant, not
at 0h UT: the A.2 day-fraction interpolation is anchor-sensitive at the
~0.1 s level for events late in the anchored day (largest for astronomical
dusk). Derived by bisecting the SunriseTest.java:57-64 +01:00 goldens —
with the UT-midnight anchor 12/13 fields match and astronomical dusk reads
22:11:25.92 UT (golden 22:11:26); with the zoned-midnight anchor all 13
match exactly. Returned event times are seconds relative to ``day0_unix``
(may fall slightly outside [0, 86400)).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .julian import limit_degrees, limit_degrees180pm, limit_zero_to_one
from .spa import _unique_pairs, time_dependent_parts

DEG = np.pi / 180.0

#: Horizon elevation angles (degrees) used by the reference
#: (SunriseCommand.java:23-29): sunrise/sunset and the three twilights.
HORIZON_SUNRISE_SUNSET = -0.8333
HORIZON_CIVIL = -6.0
HORIZON_NAUTICAL = -12.0
HORIZON_ASTRONOMICAL = -18.0

TYPE_NORMAL = 0
TYPE_ALL_DAY = 1
TYPE_ALL_NIGHT = 2


class SunriseResult(NamedTuple):
    """Arrays of shape (n, k) for n rows x k horizons; seconds-of-day UT.

    ``transit`` is always present (shape (n,)); ``sunrise``/``sunset`` are NaN
    where ``kind`` != TYPE_NORMAL for that horizon.
    """

    kind: np.ndarray  # (n, k) int8
    transit: np.ndarray  # (n,) float64 seconds of day UT
    sunrise: np.ndarray  # (n, k) float64 seconds of day UT, NaN if N/A
    sunset: np.ndarray  # (n, k) float64


def _interpolate(v_minus: np.ndarray, v_zero: np.ndarray, v_plus: np.ndarray,
                 n: np.ndarray) -> np.ndarray:
    """A.2 eq. interpolation with the NREL wrap guard (|a|,|b| >= 2 -> frac)."""
    a = v_zero - v_minus
    b = v_plus - v_zero
    a = np.where(np.abs(a) >= 2.0, a - np.floor(a), a)
    b = np.where(np.abs(b) >= 2.0, b - np.floor(b), b)
    c = b - a
    return v_zero + n * (a + b + c * n) / 2.0


def sunrise_transit_set(
    day0_unix: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    delta_t: np.ndarray | float = 0.0,
    horizons: np.ndarray | None = None,
) -> SunriseResult:
    """Compute rise/transit/set for each row at each horizon angle."""
    day0_unix = np.asarray(day0_unix, dtype=np.float64)
    n_rows = day0_unix.shape[0]
    lat = np.broadcast_to(np.asarray(lat, dtype=np.float64), (n_rows,))
    lon = np.broadcast_to(np.asarray(lon, dtype=np.float64), (n_rows,))
    delta_t = np.broadcast_to(np.asarray(delta_t, dtype=np.float64), (n_rows,))
    if horizons is None:
        horizons = np.array([HORIZON_SUNRISE_SUNSET])
    horizons = np.asarray(horizons, dtype=np.float64)
    k = horizons.shape[0]

    # --- per-unique-day time-dependent terms (hoisted, as in the position path)
    u_day, u_dt, inverse = _unique_pairs(day0_unix, delta_t)

    # nu at 0h UT of the day, computed WITH deltaT (NREL A.2 step 1)
    td_day = time_dependent_parts(u_day, u_dt)
    nu_u = td_day.nu

    # alpha/delta for day-1, day, day+1 at 0 TT (deltaT = 0)
    days3 = np.concatenate([u_day - 86400.0, u_day, u_day + 86400.0])
    td3 = time_dependent_parts(days3, np.zeros_like(days3))
    m = u_day.shape[0]
    alpha_m, alpha_0, alpha_p = td3.alpha[:m], td3.alpha[m:2 * m], td3.alpha[2 * m:]
    delta_m, delta_0, delta_p = td3.delta[:m], td3.delta[m:2 * m], td3.delta[2 * m:]

    nu = nu_u[inverse]
    a_m, a_0, a_p = alpha_m[inverse], alpha_0[inverse], alpha_p[inverse]
    d_m, d_0, d_p = delta_m[inverse], delta_0[inverse], delta_p[inverse]
    dt = delta_t

    phi_rad = lat * DEG

    # approximate transit (A.2 eq. A3), fraction of day
    m0 = limit_zero_to_one((a_0 - lon - nu) / 360.0)

    # transit: refined with H'0
    nu0 = nu + 360.985647 * m0
    n0 = m0 + dt / 86400.0
    alpha_p0 = _interpolate(a_m, a_0, a_p, n0)
    h_prime0 = limit_degrees180pm(nu0 + lon - alpha_p0)
    t_transit = (m0 - h_prime0 / 360.0) * 86400.0  # seconds of day UT

    # per-horizon rise/set
    d0_rad = d_0 * DEG
    kind = np.zeros((n_rows, k), dtype=np.int8)
    rise = np.full((n_rows, k), np.nan)
    sset = np.full((n_rows, k), np.nan)

    for j in range(k):
        h0p = horizons[j]
        arg = (np.sin(h0p * DEG) - np.sin(phi_rad) * np.sin(d0_rad)) / (
            np.cos(phi_rad) * np.cos(d0_rad)
        )
        all_day = arg < -1.0  # sun never goes below the horizon
        all_night = arg > 1.0  # sun never rises above the horizon
        normal = ~(all_day | all_night)
        kind[:, j] = np.where(all_day, TYPE_ALL_DAY,
                              np.where(all_night, TYPE_ALL_NIGHT, TYPE_NORMAL))

        h0 = np.degrees(np.arccos(np.clip(arg, -1.0, 1.0)))  # [0, 180]
        m1 = limit_zero_to_one(m0 - h0 / 360.0)
        m2 = limit_zero_to_one(m0 + h0 / 360.0)

        for which, mi, out in (("rise", m1, rise), ("set", m2, sset)):
            nui = nu + 360.985647 * mi
            ni = mi + dt / 86400.0
            alpha_pi = _interpolate(a_m, a_0, a_p, ni)
            delta_pi = _interpolate(d_m, d_0, d_p, ni)
            h_prime = limit_degrees180pm(nui + lon - alpha_pi)
            dp_rad = delta_pi * DEG
            h_i = np.degrees(
                np.arcsin(
                    np.sin(phi_rad) * np.sin(dp_rad)
                    + np.cos(phi_rad) * np.cos(dp_rad) * np.cos(h_prime * DEG)
                )
            )
            frac = mi + (h_i - h0p) / (
                360.0 * np.cos(dp_rad) * np.cos(phi_rad) * np.sin(h_prime * DEG)
            )
            out[:, j] = np.where(normal, frac * 86400.0, np.nan)

    return SunriseResult(kind=kind, transit=t_transit, sunrise=rise, sunset=sset)
