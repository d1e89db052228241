"""NREL Solar Position Algorithm (SPA), fully vectorized in numpy.

Implements Reda, I. & Andreas, A. (2003, rev. 2008), "Solar Position
Algorithm for Solar Radiation Applications", NREL/TP-560-34302 — the same
published algorithm behind the reference's `net.e175.klaus:solarpositioning`
dependency (called from
/root/reference/src/main/java/net/e175/klaus/solarpos/PositionCommand.java:274-298).

Structure mirrors the reference's key physical optimization
(PositionCommand.java:228-257): the expensive *time-dependent* terms
(heliocentric L/B/R series, nutation, obliquity, apparent sidereal time,
geocentric right ascension/declination) are computed once per unique
(timestamp, deltaT) pair and broadcast across all coordinates — here via
``_unique_pairs``, a 1-D ``lexsort`` over one Arrow batch (``np.unique``
with ``axis=0`` would sort a structured-dtype view, which costs more than
the location half it feeds).

All angles in degrees unless suffixed ``_rad``. All functions accept and
return numpy float64 arrays and are free of Python-level per-row loops.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .julian import (
    julian_century,
    julian_day,
    julian_ephemeris_day,
    julian_ephemeris_millennium,
    limit_degrees,
    limit_degrees180pm,
)

DEG = np.pi / 180.0

# ---------------------------------------------------------------------------
# Earth periodic terms, Reda & Andreas 2003 Table A4.2 (units: 1e-8 rad)
# Rows are (A, B, C); the series value is sum(A * cos(B + C * JME)).
# ---------------------------------------------------------------------------

_L0 = np.array([
    [175347046.0, 0.0, 0.0],
    [3341656.0, 4.6692568, 6283.07585],
    [34894.0, 4.6261, 12566.1517],
    [3497.0, 2.7441, 5753.3849],
    [3418.0, 2.8289, 3.5231],
    [3136.0, 3.6277, 77713.7715],
    [2676.0, 4.4181, 7860.4194],
    [2343.0, 6.1352, 3930.2097],
    [1324.0, 0.7425, 11506.7698],
    [1273.0, 2.0371, 529.691],
    [1199.0, 1.1096, 1577.3435],
    [990.0, 5.233, 5884.927],
    [902.0, 2.045, 26.298],
    [857.0, 3.508, 398.149],
    [780.0, 1.179, 5223.694],
    [753.0, 2.533, 5507.553],
    [505.0, 4.583, 18849.228],
    [492.0, 4.205, 775.523],
    [357.0, 2.92, 0.067],
    [317.0, 5.849, 11790.629],
    [284.0, 1.899, 796.298],
    [271.0, 0.315, 10977.079],
    [243.0, 0.345, 5486.778],
    [206.0, 4.806, 2544.314],
    [205.0, 1.869, 5573.143],
    [202.0, 2.458, 6069.777],
    [156.0, 0.833, 213.299],
    [132.0, 3.411, 2942.463],
    [126.0, 1.083, 20.775],
    [115.0, 0.645, 0.98],
    [103.0, 0.636, 4694.003],
    [102.0, 0.976, 15720.839],
    [102.0, 4.267, 7.114],
    [99.0, 6.21, 2146.17],
    [98.0, 0.68, 155.42],
    [86.0, 5.98, 161000.69],
    [85.0, 1.3, 6275.96],
    [85.0, 3.67, 71430.7],
    [80.0, 1.81, 17260.15],
    [79.0, 3.04, 12036.46],
    [75.0, 1.76, 5088.63],
    [74.0, 3.5, 3154.69],
    [74.0, 4.68, 801.82],
    [70.0, 0.83, 9437.76],
    [62.0, 3.98, 8827.39],
    [61.0, 1.82, 7084.9],
    [57.0, 2.78, 6286.6],
    [56.0, 4.39, 14143.5],
    [56.0, 3.47, 6279.55],
    [52.0, 0.19, 12139.55],
    [52.0, 1.33, 1748.02],
    [51.0, 0.28, 5856.48],
    [49.0, 0.49, 1194.45],
    [41.0, 5.37, 8429.24],
    [41.0, 2.4, 19651.05],
    [39.0, 6.17, 10447.39],
    [37.0, 6.04, 10213.29],
    [37.0, 2.57, 1059.38],
    [36.0, 1.71, 2352.87],
    [36.0, 1.78, 6812.77],
    [33.0, 0.59, 17789.85],
    [30.0, 0.44, 83996.85],
    [30.0, 2.74, 1349.87],
    [25.0, 3.16, 4690.48],
])

_L1 = np.array([
    [628331966747.0, 0.0, 0.0],
    [206059.0, 2.678235, 6283.07585],
    [4303.0, 2.6351, 12566.1517],
    [425.0, 1.59, 3.523],
    [119.0, 5.796, 26.298],
    [109.0, 2.966, 1577.344],
    [93.0, 2.59, 18849.23],
    [72.0, 1.14, 529.69],
    [68.0, 1.87, 398.15],
    [67.0, 4.41, 5507.55],
    [59.0, 2.89, 5223.69],
    [56.0, 2.17, 155.42],
    [45.0, 0.4, 796.3],
    [36.0, 0.47, 775.52],
    [29.0, 2.65, 7.11],
    [21.0, 5.34, 0.98],
    [19.0, 1.85, 5486.78],
    [19.0, 4.97, 213.3],
    [17.0, 2.99, 6275.96],
    [16.0, 0.03, 2544.31],
    [16.0, 1.43, 2146.17],
    [15.0, 1.21, 10977.08],
    [12.0, 2.83, 1748.02],
    [12.0, 3.26, 5088.63],
    [12.0, 5.27, 1194.45],
    [12.0, 2.08, 4694.0],
    [11.0, 0.77, 553.57],
    [10.0, 1.3, 6286.6],
    [10.0, 4.24, 1349.87],
    [9.0, 2.7, 242.73],
    [9.0, 5.64, 951.72],
    [8.0, 5.3, 2352.87],
    [6.0, 2.65, 9437.76],
    [6.0, 4.67, 4690.48],
])

_L2 = np.array([
    [52919.0, 0.0, 0.0],
    [8720.0, 1.0721, 6283.0758],
    [309.0, 0.867, 12566.152],
    [27.0, 0.05, 3.52],
    [16.0, 5.19, 26.3],
    [16.0, 3.68, 155.42],
    [10.0, 0.76, 18849.23],
    [9.0, 2.06, 77713.77],
    [7.0, 0.83, 775.52],
    [5.0, 4.66, 1577.34],
    [4.0, 1.03, 7.11],
    [4.0, 3.44, 5573.14],
    [3.0, 5.14, 796.3],
    [3.0, 6.05, 5507.55],
    [3.0, 1.19, 242.73],
    [3.0, 6.12, 529.69],
    [3.0, 0.31, 398.15],
    [3.0, 2.28, 553.57],
    [2.0, 4.38, 5223.69],
    [2.0, 3.75, 0.98],
])

_L3 = np.array([
    [289.0, 5.844, 6283.076],
    [35.0, 0.0, 0.0],
    [17.0, 5.49, 12566.15],
    [3.0, 5.2, 155.42],
    [1.0, 4.72, 3.52],
    [1.0, 5.3, 18849.23],
    [1.0, 5.97, 242.73],
])

_L4 = np.array([
    [114.0, 3.142, 0.0],
    [8.0, 4.13, 6283.08],
    [1.0, 3.84, 12566.15],
])

_L5 = np.array([
    [1.0, 3.14, 0.0],
])

_B0 = np.array([
    [280.0, 3.199, 84334.662],
    [102.0, 5.422, 5507.553],
    [80.0, 3.88, 5223.69],
    [44.0, 3.7, 2352.87],
    [32.0, 4.0, 1577.34],
])

_B1 = np.array([
    [9.0, 3.9, 5507.55],
    [6.0, 1.73, 5223.69],
])

_R0 = np.array([
    [100013989.0, 0.0, 0.0],
    [1670700.0, 3.0984635, 6283.07585],
    [13956.0, 3.05525, 12566.1517],
    [3084.0, 5.1985, 77713.7715],
    [1628.0, 1.1739, 5753.3849],
    [1576.0, 2.8469, 7860.4194],
    [925.0, 5.453, 11506.77],
    [542.0, 4.564, 3930.21],
    [472.0, 3.661, 5884.927],
    [346.0, 0.964, 5507.553],
    [329.0, 5.9, 5223.694],
    [307.0, 0.299, 5573.143],
    [243.0, 4.273, 11790.629],
    [212.0, 5.847, 1577.344],
    [186.0, 5.022, 10977.079],
    [175.0, 3.012, 18849.228],
    [110.0, 5.055, 5486.778],
    [98.0, 0.89, 6069.78],
    [86.0, 5.69, 15720.84],
    [86.0, 1.27, 161000.69],
    [65.0, 0.27, 17260.15],
    [63.0, 0.92, 529.69],
    [57.0, 2.01, 83996.85],
    [56.0, 5.24, 71430.7],
    [49.0, 3.25, 2544.31],
    [47.0, 2.58, 775.52],
    [45.0, 5.54, 9437.76],
    [43.0, 6.01, 6275.96],
    [39.0, 5.36, 4694.0],
    [38.0, 2.39, 8827.39],
    [37.0, 0.83, 19651.05],
    [37.0, 4.9, 12139.55],
    [36.0, 1.67, 12036.46],
    [35.0, 1.84, 2942.46],
    [33.0, 0.24, 7084.9],
    [32.0, 0.18, 5088.63],
    [32.0, 1.78, 398.15],
    [28.0, 1.21, 6286.6],
    [28.0, 1.9, 6279.55],
    [26.0, 4.59, 10447.39],
])

_R1 = np.array([
    [103019.0, 1.10749, 6283.07585],
    [1721.0, 1.0644, 12566.1517],
    [702.0, 3.142, 0.0],
    [32.0, 1.02, 18849.23],
    [31.0, 2.84, 5507.55],
    [25.0, 1.32, 5223.69],
    [18.0, 1.42, 1577.34],
    [10.0, 5.91, 10977.08],
    [9.0, 1.42, 6275.96],
    [9.0, 0.27, 5486.78],
])

_R2 = np.array([
    [4359.0, 5.7846, 6283.0758],
    [124.0, 5.579, 12566.152],
    [12.0, 3.14, 0.0],
    [9.0, 3.63, 77713.77],
    [6.0, 1.87, 5573.14],
    [3.0, 5.47, 18849.23],
])

_R3 = np.array([
    [145.0, 4.273, 6283.076],
    [7.0, 3.92, 12566.15],
])

_R4 = np.array([
    [4.0, 2.56, 6283.08],
])

# ---------------------------------------------------------------------------
# Nutation periodic terms, Table A4.3.
# Columns: Y0..Y4 (coefficients of X0..X4), a, b, c, d.
# ---------------------------------------------------------------------------

_NUTATION = np.array([
    [0, 0, 0, 0, 1, -171996, -174.2, 92025, 8.9],
    [-2, 0, 0, 2, 2, -13187, -1.6, 5736, -3.1],
    [0, 0, 0, 2, 2, -2274, -0.2, 977, -0.5],
    [0, 0, 0, 0, 2, 2062, 0.2, -895, 0.5],
    [0, 1, 0, 0, 0, 1426, -3.4, 54, -0.1],
    [0, 0, 1, 0, 0, 712, 0.1, -7, 0],
    [-2, 1, 0, 2, 2, -517, 1.2, 224, -0.6],
    [0, 0, 0, 2, 1, -386, -0.4, 200, 0],
    [0, 0, 1, 2, 2, -301, 0, 129, -0.1],
    [-2, -1, 0, 2, 2, 217, -0.5, -95, 0.3],
    [-2, 0, 1, 0, 0, -158, 0, 0, 0],
    [-2, 0, 0, 2, 1, 129, 0.1, -70, 0],
    [0, 0, -1, 2, 2, 123, 0, -53, 0],
    [2, 0, 0, 0, 0, 63, 0, 0, 0],
    [0, 0, 1, 0, 1, 63, 0.1, -33, 0],
    [2, 0, -1, 2, 2, -59, 0, 26, 0],
    [0, 0, -1, 0, 1, -58, -0.1, 32, 0],
    [0, 0, 1, 2, 1, -51, 0, 27, 0],
    [-2, 0, 2, 0, 0, 48, 0, 0, 0],
    [0, 0, -2, 2, 1, 46, 0, -24, 0],
    [2, 0, 0, 2, 2, -38, 0, 16, 0],
    [0, 0, 2, 2, 2, -31, 0, 13, 0],
    [0, 0, 2, 0, 0, 29, 0, 0, 0],
    [-2, 0, 1, 2, 2, 29, 0, -12, 0],
    [0, 0, 0, 2, 0, 26, 0, 0, 0],
    [-2, 0, 0, 2, 0, -22, 0, 0, 0],
    [0, 0, -1, 2, 1, 21, 0, -10, 0],
    [0, 2, 0, 0, 0, 17, -0.1, 0, 0],
    [2, 0, -1, 0, 1, 16, 0, -8, 0],
    [-2, 2, 0, 2, 2, -16, 0.1, 7, 0],
    [0, 1, 0, 0, 1, -15, 0, 9, 0],
    [-2, 0, 1, 0, 1, -13, 0, 7, 0],
    [0, -1, 0, 0, 1, -12, 0, 6, 0],
    [0, 0, 2, -2, 0, 11, 0, 0, 0],
    [2, 0, -1, 2, 1, -10, 0, 5, 0],
    [2, 0, 1, 2, 2, -8, 0, 3, 0],
    [0, 1, 0, 2, 2, 7, 0, -3, 0],
    [-2, 1, 1, 0, 0, -7, 0, 0, 0],
    [0, -1, 0, 2, 2, -7, 0, 3, 0],
    [2, 0, 0, 2, 1, -7, 0, 3, 0],
    [2, 0, 1, 0, 0, 6, 0, 0, 0],
    [-2, 0, 2, 2, 2, 6, 0, -3, 0],
    [-2, 0, 1, 2, 1, 6, 0, -3, 0],
    [2, 0, -2, 0, 1, -6, 0, 3, 0],
    [2, 0, 0, 0, 1, -6, 0, 3, 0],
    [0, -1, 1, 0, 0, 5, 0, 0, 0],
    [-2, -1, 0, 2, 1, -5, 0, 3, 0],
    [-2, 0, 0, 0, 1, -5, 0, 3, 0],
    [0, 0, 2, 2, 1, -5, 0, 3, 0],
    [-2, 0, 2, 0, 1, 4, 0, 0, 0],
    [-2, 1, 0, 2, 1, 4, 0, 0, 0],
    [0, 0, 1, -2, 0, 4, 0, 0, 0],
    [-1, 0, 1, 0, 0, -4, 0, 0, 0],
    [-2, 1, 0, 0, 0, -4, 0, 0, 0],
    [1, 0, 0, 0, 0, -4, 0, 0, 0],
    [0, 0, 1, 2, 0, 3, 0, 0, 0],
    [0, 0, -2, 2, 2, -3, 0, 0, 0],
    [-1, -1, 1, 0, 0, -3, 0, 0, 0],
    [0, 1, 1, 0, 0, -3, 0, 0, 0],
    [0, -1, 1, 2, 2, -3, 0, 0, 0],
    [2, -1, -1, 2, 2, -3, 0, 0, 0],
    [0, 0, 3, 2, 2, -3, 0, 0, 0],
    [2, -1, 0, 2, 2, -3, 0, 0, 0],
], dtype=np.float64)

_NUT_Y = _NUTATION[:, 0:5]  # (63, 5)
_NUT_A = _NUTATION[:, 5]
_NUT_B = _NUTATION[:, 6]
_NUT_C = _NUTATION[:, 7]
_NUT_D = _NUTATION[:, 8]
_NUT_EPS_MASK = (_NUT_C != 0) | (_NUT_D != 0)

#: Default refraction threshold: correction applied when the true elevation is
#: above -(sun radius + typical horizon refraction), as in the NREL reference
#: C implementation (SUN_RADIUS 0.26667, atmos_refract 0.5667).
SUN_RADIUS = 0.26667
ATMOS_REFRACT = 0.5667


def _series_sum(terms: np.ndarray, jme: np.ndarray) -> np.ndarray:
    """sum(A * cos(B + C*JME)) for one Lx/Bx/Rx table, vectorized over jme.

    The weighted sum is a BLAS matvec (cos_matrix @ A); cos() dominates and
    is irreducible — every term's amplitude exceeds the 5-decimal output
    budget, so no truncation is possible.
    """
    # terms: (k, 3); jme: (n,) -> (n,)
    arg = np.outer(jme, terms[:, 2])
    arg += terms[:, 1][None, :]
    np.cos(arg, out=arg)
    return arg @ terms[:, 0]


def heliocentric_longitude(jme: np.ndarray) -> np.ndarray:
    """L in degrees, eq. 10-12."""
    l0 = _series_sum(_L0, jme)
    l1 = _series_sum(_L1, jme)
    l2 = _series_sum(_L2, jme)
    l3 = _series_sum(_L3, jme)
    l4 = _series_sum(_L4, jme)
    l5 = _series_sum(_L5, jme)
    l_rad = (l0 + jme * (l1 + jme * (l2 + jme * (l3 + jme * (l4 + jme * l5))))) / 1e8
    return limit_degrees(l_rad / DEG)


def heliocentric_latitude(jme: np.ndarray) -> np.ndarray:
    """B in degrees, eq. 10-12 applied to B terms."""
    b0 = _series_sum(_B0, jme)
    b1 = _series_sum(_B1, jme)
    b_rad = (b0 + jme * b1) / 1e8
    return b_rad / DEG


def earth_radius_vector(jme: np.ndarray) -> np.ndarray:
    """R in astronomical units."""
    r0 = _series_sum(_R0, jme)
    r1 = _series_sum(_R1, jme)
    r2 = _series_sum(_R2, jme)
    r3 = _series_sum(_R3, jme)
    r4 = _series_sum(_R4, jme)
    return (r0 + jme * (r1 + jme * (r2 + jme * (r3 + jme * r4)))) / 1e8


def nutation(jce: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(delta_psi, delta_epsilon) in degrees, eq. 15-23."""
    x0 = 297.85036 + jce * (445267.111480 + jce * (-0.0019142 + jce / 189474.0))
    x1 = 357.52772 + jce * (35999.050340 + jce * (-0.0001603 - jce / 300000.0))
    x2 = 134.96298 + jce * (477198.867398 + jce * (0.0086972 + jce / 56250.0))
    x3 = 93.27191 + jce * (483202.017538 + jce * (-0.0036825 + jce / 327270.0))
    x4 = 125.04452 + jce * (-1934.136261 + jce * (0.0020708 + jce / 450000.0))
    x = np.stack([x0, x1, x2, x3, x4], axis=1)  # (n, 5)
    arg = (x @ _NUT_Y.T) * DEG  # (n, 63)
    jce_col = jce[:, None]
    dpsi = np.sum((_NUT_A[None, :] + _NUT_B[None, :] * jce_col) * np.sin(arg), axis=1) / 36e6
    # delta-epsilon only involves the 38 rows with nonzero c/d coefficients;
    # skip cos() on the zero columns (~20% of the nutation trig)
    m = _NUT_EPS_MASK
    deps = np.sum(
        (_NUT_C[None, m] + _NUT_D[None, m] * jce_col) * np.cos(arg[:, m]),
        axis=1) / 36e6
    return dpsi, deps


def true_obliquity(jme: np.ndarray, delta_epsilon: np.ndarray) -> np.ndarray:
    """epsilon in degrees, eq. 24-25."""
    u = jme / 10.0
    e0 = (84381.448 + u * (-4680.93 + u * (-1.55 + u * (1999.25 + u * (-51.38
          + u * (-249.67 + u * (-39.05 + u * (7.12 + u * (27.87 + u * (5.79
          + u * 2.45))))))))))
    return e0 / 3600.0 + delta_epsilon


class SpaTimeDependent(NamedTuple):
    """Per-timestamp terms reused across all coordinates.

    Mirrors the reference's ``SPA.calculateSpaTimeDependentParts``
    (PositionCommand.java:228-237) split.
    """

    alpha: np.ndarray  # geocentric right ascension, degrees
    delta: np.ndarray  # geocentric declination, degrees
    nu: np.ndarray  # apparent sidereal time at Greenwich, degrees
    r: np.ndarray  # earth radius vector, AU


#: Rows per internal chunk of the periodic-term evaluation. The series sums
#: materialize (chunk, n_terms) matrices (largest: 64-term L0); 8192 rows
#: keeps every temporary ~4 MB — L2/L3-resident — instead of letting a 65k
#: Arrow batch allocate ~33 MB per intermediate. Unchunked, 32 concurrent
#: workers thrash memory bandwidth and *absolute* throughput collapses
#: (measured: 22k rows/s at n=1.6M vs 66k at n=100k in one process).
_TD_CHUNK = 8192


def time_dependent_parts(unix_sec: np.ndarray, delta_t: np.ndarray) -> SpaTimeDependent:
    """Compute the time-dependent SPA terms (eq. 3-30) for each timestamp.

    Chunked internally (see _TD_CHUNK) so peak temporary memory is constant
    regardless of batch size."""
    unix_sec = np.asarray(unix_sec, dtype=np.float64)
    n = unix_sec.shape[0]
    if n > _TD_CHUNK:
        delta_t_b = np.broadcast_to(np.asarray(delta_t, dtype=np.float64), (n,))
        alpha = np.empty(n)
        delta = np.empty(n)
        nu = np.empty(n)
        r = np.empty(n)
        for lo in range(0, n, _TD_CHUNK):
            hi = min(lo + _TD_CHUNK, n)
            part = _time_dependent_parts_block(unix_sec[lo:hi], delta_t_b[lo:hi])
            alpha[lo:hi] = part.alpha
            delta[lo:hi] = part.delta
            nu[lo:hi] = part.nu
            r[lo:hi] = part.r
        return SpaTimeDependent(alpha=alpha, delta=delta, nu=nu, r=r)
    return _time_dependent_parts_block(unix_sec, delta_t)


def _time_dependent_parts_block(unix_sec: np.ndarray, delta_t: np.ndarray) -> SpaTimeDependent:
    unix_sec = np.asarray(unix_sec, dtype=np.float64)
    delta_t = np.broadcast_to(np.asarray(delta_t, dtype=np.float64), unix_sec.shape)
    jd = julian_day(unix_sec)
    jde = julian_ephemeris_day(jd, delta_t)
    jc = julian_century(jd)
    jce = julian_century(jde)
    jme = julian_ephemeris_millennium(jce)

    l_deg = heliocentric_longitude(jme)
    b_deg = heliocentric_latitude(jme)
    r = earth_radius_vector(jme)

    theta = limit_degrees(l_deg + 180.0)  # geocentric longitude, eq. 13
    beta = -b_deg  # geocentric latitude, eq. 14

    dpsi, deps = nutation(jce)
    epsilon = true_obliquity(jme, deps)

    dtau = -20.4898 / (3600.0 * r)  # aberration, eq. 26
    lam = theta + dpsi + dtau  # apparent sun longitude, eq. 27

    nu0 = limit_degrees(
        280.46061837
        + 360.98564736629 * (jd - 2451545.0)
        + jc * jc * (0.000387933 - jc / 38710000.0)
    )  # mean sidereal time, eq. 28
    nu = nu0 + dpsi * np.cos(epsilon * DEG)  # apparent sidereal time, eq. 29

    lam_rad = lam * DEG
    eps_rad = epsilon * DEG
    beta_rad = beta * DEG

    alpha = limit_degrees(
        np.arctan2(
            np.sin(lam_rad) * np.cos(eps_rad) - np.tan(beta_rad) * np.sin(eps_rad),
            np.cos(lam_rad),
        )
        / DEG
    )  # geocentric RA, eq. 30
    delta = (
        np.arcsin(
            np.sin(beta_rad) * np.cos(eps_rad)
            + np.cos(beta_rad) * np.sin(eps_rad) * np.sin(lam_rad)
        )
        / DEG
    )  # geocentric declination, eq. 31
    return SpaTimeDependent(alpha=alpha, delta=delta, nu=nu, r=r)


def _instant_terms(td: SpaTimeDependent) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """sin δ, cos δ and sin ξ: the location half's terms that depend on the
    instant only."""
    delta_rad = td.delta * DEG
    xi = 8.794 / (3600.0 * td.r)  # equatorial horizontal parallax, eq. 33
    return np.sin(delta_rad), np.cos(delta_rad), np.sin(xi * DEG)


def _location_terms(lat: np.ndarray, elevation: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """sin φ, cos φ, x and y (eq. 34-36): the location half's terms that
    depend on (latitude, elevation) only."""
    phi = lat * DEG
    sin_phi = np.sin(phi)
    cos_phi = np.cos(phi)
    u = np.arctan(0.99664719 * np.tan(phi))
    elev_ratio = elevation / 6378140.0
    x = np.cos(u) + elev_ratio * cos_phi
    y = 0.99664719 * np.sin(u) + elev_ratio * sin_phi
    return sin_phi, cos_phi, x, y


def position_from_time_dependent(
    td: SpaTimeDependent,
    lat: np.ndarray,
    lon: np.ndarray,
    elevation: np.ndarray,
    pressure: np.ndarray | None = None,
    temperature: np.ndarray | None = None,
    *,
    inverse: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Location-dependent half of SPA (eq. 32-44): returns (azimuth, zenith).

    ``pressure``/``temperature`` of None disables the refraction correction
    (reference ``--no-refraction``, PositionCommand.java:67-73,210-213).

    Without ``inverse``, ``td`` is row-aligned. With it, ``td`` holds one
    entry per unique instant and ``inverse`` maps each row onto its entry:
    the terms that depend on the instant only are then computed per instant,
    those on (lat, elevation) only per unique pair, and both are gathered.
    The results are elementwise ufuncs of the same operands, so the output
    bits equal the row-aligned call's.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    elevation = np.broadcast_to(np.asarray(elevation, dtype=np.float64), lat.shape)

    if inverse is None:
        sin_phi, cos_phi, x, y = _location_terms(lat, elevation)
        sin_delta, cos_delta, sin_xi = _instant_terms(td)
        nu, alpha = td.nu, td.alpha
    else:
        # keyed on the bit patterns, so -0.0 and 0.0 stay apart (sin keeps
        # the sign of a zero)
        u_lat, u_elev, loc = _unique_pairs(lat.view(np.int64), elevation.view(np.int64))
        sin_phi, cos_phi, x, y = (
            v[loc] for v in _location_terms(u_lat.view(np.float64), u_elev.view(np.float64)))
        sin_delta, cos_delta, sin_xi = (v[inverse] for v in _instant_terms(td))
        nu, alpha = td.nu[inverse], td.alpha[inverse]

    h = limit_degrees(nu + lon - alpha)  # observer local hour angle, eq. 32
    h_rad = h * DEG
    cos_h = np.cos(h_rad)

    x_sin_xi = x * sin_xi
    denom = cos_delta - x_sin_xi * cos_h  # shared by eq. 37 and 39

    dalpha_rad = np.arctan2(-x_sin_xi * np.sin(h_rad), denom)  # parallax in RA, eq. 37
    delta_prime = np.arctan2(
        (sin_delta - y * sin_xi) * np.cos(dalpha_rad), denom,
    )  # topocentric declination, eq. 39
    h_prime_rad = h_rad - dalpha_rad  # topocentric local hour angle, eq. 40
    cos_h_prime = np.cos(h_prime_rad)

    e0_rad = np.arcsin(
        sin_phi * np.sin(delta_prime) + cos_phi * np.cos(delta_prime) * cos_h_prime
    )  # topocentric elevation w/o refraction, eq. 41
    e0 = e0_rad / DEG

    if pressure is not None and temperature is not None:
        pressure = np.broadcast_to(np.asarray(pressure, dtype=np.float64), lat.shape)
        temperature = np.broadcast_to(np.asarray(temperature, dtype=np.float64), lat.shape)
        # eq. 42; applied only when the sun is at/above the visible horizon
        del_e = np.where(
            e0 >= -(SUN_RADIUS + ATMOS_REFRACT),
            (pressure / 1010.0)
            * (283.0 / (273.0 + temperature))
            * 1.02
            / (60.0 * np.tan((e0 + 10.3 / (e0 + 5.11)) * DEG)),
            0.0,
        )
        e = e0 + del_e
    else:
        e = e0

    zenith = 90.0 - e  # eq. 44

    gamma = limit_degrees(
        np.arctan2(
            np.sin(h_prime_rad),
            cos_h_prime * sin_phi - np.tan(delta_prime) * cos_phi,
        )
        / DEG
    )  # topocentric astronomers azimuth, eq. 45
    azimuth = limit_degrees(gamma + 180.0)  # eq. 46, measured from north
    return azimuth, zenith


def _unique_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted unique (a, b) pairs and the inverse that maps rows onto them.

    Returns ``(ua, ub, inverse)``, equal to ``uniq[:, 0], uniq[:, 1],
    inverse`` of ``np.unique(np.stack([a, b], 1), axis=0,
    return_inverse=True)``, but with a 1-D ``lexsort`` instead of a sort
    over a structured-dtype view: at 64k rows ~50x cheaper on a sweep
    batch (few instants, each a run of grid rows), ~5x with every pair
    distinct.
    -0.0 and 0.0 are one key, as in ``np.unique``.
    """
    order = np.lexsort((b, a))
    sa = a[order]
    sb = b[order]
    starts = np.empty(sa.shape[0], dtype=bool)
    starts[:1] = True
    starts[1:] = (sa[1:] != sa[:-1]) | (sb[1:] != sb[:-1])
    inverse = np.empty(sa.shape[0], dtype=np.intp)
    inverse[order] = np.cumsum(starts) - 1
    return sa[starts], sb[starts], inverse


def solar_position(
    unix_sec: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    elevation: np.ndarray | float = 0.0,
    delta_t: np.ndarray | float = 0.0,
    pressure: np.ndarray | float | None = None,
    temperature: np.ndarray | float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Full SPA for row-aligned arrays, hoisting on both axes.

    Rows sharing a (unix_sec, delta_t) pair compute the expensive series once
    (reference optimization at PositionCommand.java:115-122), and the
    location half's per-instant and per-(lat, elevation) terms once per
    unique key (``position_from_time_dependent(inverse=)``).
    """
    unix_sec = np.asarray(unix_sec, dtype=np.float64)
    n = unix_sec.shape[0]
    delta_t = np.broadcast_to(np.asarray(delta_t, dtype=np.float64), (n,))
    u_ts, u_dt, inverse = _unique_pairs(unix_sec, delta_t)
    td_u = time_dependent_parts(u_ts, u_dt)
    lat = np.broadcast_to(np.asarray(lat, dtype=np.float64), (n,))
    lon = np.broadcast_to(np.asarray(lon, dtype=np.float64), (n,))
    elevation = np.broadcast_to(np.asarray(elevation, dtype=np.float64), (n,))
    if pressure is None or temperature is None:
        pressure = temperature = None
    return position_from_time_dependent(td_u, lat, lon, elevation, pressure, temperature,
                                        inverse=inverse)
