"""Golden-vector tests for the pure-numpy astronomy kernels.

Every expected value is carried over from the reference's JUnit suite
(file:line cited per case) — the correctness contract of SURVEY.md §5.
No Spark involved: these run in milliseconds and gate the UDF layer.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

import numpy as np
import pytest

from solarpos_spark.kernels import deltat, grena3, spa, sunrise


def ts(s: str) -> float:
    return datetime.fromisoformat(s).timestamp()


def arr(*xs):
    return np.asarray(xs, dtype=np.float64)


class TestSpaPosition:
    def test_golden_2022(self):
        # PositionTest.java:30-31
        az, zen = spa.solar_position(arr(ts("2022-10-17T12:00:00+00:00")),
                                     arr(52.0), arr(25.0), 0.0, 69.0, 1013.0, 15.0)
        assert round(az[0], 5) == 211.17614
        assert round(zen[0], 5) == 66.06832

    def test_golden_2003(self):
        # PositionTest.java:94
        az, zen = spa.solar_position(arr(ts("2003-10-17T12:00:00+00:00")),
                                     arr(52.0), arr(25.0), 0.0, 69.0, 1013.0, 15.0)
        assert round(az[0], 5) == 211.20726
        assert round(zen[0], 5) == 65.92499

    def test_nrel_paper_example(self):
        # Reda & Andreas 2003 worked example (section 6 / table A4.1)
        az, zen = spa.solar_position(arr(ts("2003-10-17T19:30:30+00:00")),
                                     arr(39.742476), arr(-105.1786),
                                     1830.14, 67.0, 820.0, 11.0)
        assert round(az[0], 5) == 194.34024
        assert round(zen[0], 5) == 50.11162

    def test_elevation_angle_complement(self):
        # PositionTest.java:481-499: azimuth + elevation-angle golden
        az, zen = spa.solar_position(arr(ts("2022-10-17T12:00:00+00:00")),
                                     arr(52.0), arr(25.0), 0.0, 69.0, 1013.0, 15.0)
        assert round(90.0 - zen[0], 5) == 23.93168

    def test_twelve_row_day_series(self):
        # PositionTest.java:144-156: full-day 7200s-step golden CSV block
        golden = [
            (38.87778, 131.09385), (69.90910, 116.13739), (94.54534, 97.98688),
            (118.48590, 80.32356), (146.00826, 66.76879), (178.46662, 61.15269),
            (211.20726, 65.92499), (239.15181, 78.98078), (263.21613, 96.46308),
            (287.52922, 114.74832), (317.71947, 130.28269), (358.05561, 137.33998),
        ]
        t0 = ts("2003-10-17T00:00:00+00:00")
        tss = np.array([t0 + 7200.0 * i for i in range(12)])
        az, zen = spa.solar_position(tss, np.full(12, 52.0), np.full(12, 25.0),
                                     0.0, 69.0, 1013.0, 15.0)
        for i, (ga, gz) in enumerate(golden):
            assert round(az[i], 5) == ga, f"row {i} azimuth"
            assert round(zen[i], 5) == gz, f"row {i} zenith"

    def test_no_refraction_lowers_elevation(self):
        t = arr(ts("2022-10-17T12:00:00+00:00"))
        _, zen_refr = spa.solar_position(t, arr(52.0), arr(25.0), 0.0, 69.0, 1013.0, 15.0)
        _, zen_none = spa.solar_position(t, arr(52.0), arr(25.0), 0.0, 69.0)
        assert zen_none[0] > zen_refr[0]

    def test_time_dependent_hoisting_consistency(self):
        # many coords at one instant must equal per-row computation
        t0 = ts("2024-06-01T09:00:00+00:00")
        lats = np.linspace(-60, 60, 41)
        lons = np.linspace(-150, 150, 41)
        tss = np.full(41, t0)
        az1, zen1 = spa.solar_position(tss, lats, lons, 0.0, 69.0, 1013.0, 15.0)
        for i in (0, 20, 40):
            az2, zen2 = spa.solar_position(arr(t0), arr(lats[i]), arr(lons[i]),
                                           0.0, 69.0, 1013.0, 15.0)
            assert az1[i] == az2[0] and zen1[i] == zen2[0]


def _pairs_case(name: str):
    rng = np.random.default_rng(31)
    if name == "empty":
        return np.empty(0), np.empty(0)
    if name == "one_row":
        return arr(1.7e9), arr(69.0)
    if name == "all_equal":
        return np.full(1000, 1.7e9), np.full(1000, 69.0)
    if name == "signed_zero_delta_t":
        ts_ = 1.7e9 + 3600.0 * rng.integers(0, 40, 5000)
        return ts_, rng.choice(arr(0.0, -0.0, 69.0), 5000)
    if name == "heavy_repeats_70k":
        ts_ = 1.7e9 + 3600.0 * rng.integers(0, 37, 70_000)
        return ts_, rng.choice(arr(64.5, 69.0, 0.0), 70_000)
    if name == "all_distinct_70k":
        return rng.uniform(-1e10, 1e10, 70_000), rng.uniform(-10.0, 200.0, 70_000)
    raise ValueError(name)


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def _seeded_batch(n: int = 10_000, seed: int = 20261017):
    rng = np.random.default_rng(seed)
    t = 1_600_000_000.0 + 3600.0 * rng.integers(0, 500, n)
    dt = rng.choice(arr(0.0, 64.5, 69.0), n)
    lat = rng.uniform(-89.0, 89.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    elev = rng.uniform(0.0, 4000.0, n)
    press = rng.uniform(600.0, 1050.0, n)
    temp = rng.uniform(-30.0, 45.0, n)
    return t, dt, lat, lon, elev, press, temp


class TestHoist:
    """The per-instant hoist (one lexsort over (ts, deltaT)) and the kernels'
    output bits. The digests are sha256 of the raw float64 bytes, recorded
    before the hoist moved off ``np.unique(axis=0)`` and the SPA location
    half stopped recomputing its trig terms: a change to either kernel
    that is meant to be a pure speed-up must keep them."""

    @pytest.mark.parametrize("case", [
        "empty", "one_row", "all_equal", "signed_zero_delta_t",
        "heavy_repeats_70k", "all_distinct_70k"])
    def test_unique_pairs_matches_np_unique(self, case):
        a, b = _pairs_case(case)
        uniq, inverse = np.unique(np.stack([a, b], 1), axis=0, return_inverse=True)
        ua, ub, inv = spa._unique_pairs(a, b)
        # -0.0 and 0.0 are one key in both; which sign stands for it is
        # the sort's choice, so compare values, not bytes
        assert np.array_equal(ua, uniq[:, 0]) and np.array_equal(ub, uniq[:, 1])
        assert inv.dtype == inverse.dtype and np.array_equal(inv, inverse)

    def test_solar_position_digests(self):
        t, dt, lat, lon, elev, press, temp = _seeded_batch()
        assert _digest(*spa.solar_position(t, lat, lon, elev, dt, press, temp)) == (
            "c1fdfd1aac18d48e062db2ce7b0755cfcb48f3deea455d0c5d3ea2257cca1e38")
        assert _digest(*spa.solar_position(t, lat, lon, elev, dt)) == (
            "00b7f2b6cf10b64242588a686bdfcc71bf36b60bf6fd29a2caeded06e0ad7abc")

    def test_sunrise_digests(self):
        t, dt, lat, lon, _, _, _ = _seeded_batch()
        day0 = (t // 86400.0) * 86400.0
        r = sunrise.sunrise_transit_set(day0, lat, lon, dt)
        assert _digest(r.kind, r.transit, r.sunrise, r.sunset) == (
            "43934590771117f549b93bae26318a565034c926c2f914ccd2cc494015040699")
        hz = np.array([sunrise.HORIZON_SUNRISE_SUNSET, sunrise.HORIZON_CIVIL,
                       sunrise.HORIZON_NAUTICAL, sunrise.HORIZON_ASTRONOMICAL])
        r = sunrise.sunrise_transit_set(day0, lat, lon, dt, hz)
        assert _digest(r.kind, r.transit, r.sunrise, r.sunset) == (
            "11cb5bf8e62c711c7e8b9502795ddb8070f9e6e4ffc88a215c6efcad9b915bf5")

    @pytest.mark.parametrize("refraction", [True, False])
    def test_hoisted_equals_per_row(self, refraction):
        # shuffled rows, 300 instants x 3 deltaT values (signed zeros too),
        # so the hoist's inverse has to undo both the grouping and the order
        rng = np.random.default_rng(97)
        n = 20_000
        t = 1.7e9 + 1800.0 * rng.integers(0, 300, n)
        dt = rng.choice(arr(0.0, -0.0, 69.0), n)
        lat = rng.uniform(-89.0, 89.0, n)
        lon = rng.uniform(-180.0, 180.0, n)
        elev = rng.uniform(0.0, 3000.0, n)
        press, temp = (rng.uniform(700.0, 1050.0, n), rng.uniform(-20.0, 40.0, n)) \
            if refraction else (None, None)
        az, zen = spa.solar_position(t, lat, lon, elev, dt, press, temp)

        # reference: the time-dependent terms of each row's own instant,
        # looked up row by row. They come from one call over the distinct
        # instants because the periodic-term sums are BLAS products whose
        # last bit depends on the rows batched with them
        uniq = np.unique(np.stack([t, dt], 1), axis=0)
        td_u = spa.time_dependent_parts(uniq[:, 0], uniq[:, 1])
        row_of = {(a, b): i for i, (a, b) in enumerate(uniq.tolist())}
        idx = np.array([row_of[(a, b)] for a, b in zip(t.tolist(), dt.tolist())])
        td_rows = spa.SpaTimeDependent(*(f[idx] for f in td_u))
        az_r, zen_r = spa.position_from_time_dependent(
            td_rows, lat, lon, elev, press, temp)
        assert az.tobytes() == az_r.tobytes() and zen.tobytes() == zen_r.tobytes()

        # and the hoist is blind to row order
        perm = rng.permutation(n)
        az_p, zen_p = spa.solar_position(
            t[perm], lat[perm], lon[perm], elev[perm], dt[perm],
            None if press is None else press[perm],
            None if temp is None else temp[perm])
        assert az_p.tobytes() == az[perm].tobytes()
        assert zen_p.tobytes() == zen[perm].tobytes()


class TestTwoAxisHoist:
    """The location half with ``inverse=`` (per-instant and per-(lat,
    elevation) terms computed once and gathered) against the same call on
    row-aligned time-dependent terms: identical bits."""

    @staticmethod
    def _sweep_batch():
        # 5-degree grid (the equator row as -0.0 and 0.0, which sin tells
        # apart) x 37 hourly instants, two elevations: every (lat,
        # elevation) pair repeats on each instant
        lats = np.concatenate([np.arange(-60.0, 61.0, 5.0), arr(-0.0)])
        grid_lat, grid_lon = (g.ravel() for g in np.meshgrid(lats, np.arange(-180.0, 180.0, 5.0)))
        k = grid_lat.shape[0]
        t = np.repeat(1.7e9 + 3600.0 * np.arange(37), k)
        lat, lon = np.tile(grid_lat, 37), np.tile(grid_lon, 37)
        elev = np.tile(np.where(np.arange(k) % 2 == 0, 0.0, 1500.0), 37)
        return t, np.full(t.shape, 69.0), lat, lon, elev

    @staticmethod
    def _distinct_batch(n: int = 20_000):
        rng = np.random.default_rng(11)
        return (rng.uniform(1e9, 2e9, n), rng.uniform(0.0, 100.0, n),
                rng.uniform(-89.0, 89.0, n), rng.uniform(-180.0, 180.0, n),
                rng.uniform(0.0, 4000.0, n))

    @pytest.mark.parametrize("shape", ["sweep", "distinct"])
    @pytest.mark.parametrize("refraction", [True, False])
    def test_hoisted_location_half_equals_per_row(self, shape, refraction):
        t, dt, lat, lon, elev = self._sweep_batch() if shape == "sweep" \
            else self._distinct_batch()
        press, temp = (np.full(t.shape, 990.0), np.full(t.shape, 21.0)) \
            if refraction else (None, None)
        u_ts, u_dt, inverse = spa._unique_pairs(t, dt)
        td_u = spa.time_dependent_parts(u_ts, u_dt)
        az, zen = spa.position_from_time_dependent(
            td_u, lat, lon, elev, press, temp, inverse=inverse)
        az_r, zen_r = spa.position_from_time_dependent(
            spa.SpaTimeDependent(*(f[inverse] for f in td_u)),
            lat, lon, elev, press, temp)
        assert az.tobytes() == az_r.tobytes() and zen.tobytes() == zen_r.tobytes()


class TestGrena3:
    def test_golden(self):
        # PositionTest.java:78-79 — the golden is the CLI's %.5f output
        # ("211.17436" / "66.06850"), so 5 decimals is the comparable
        # precision (both the published 4.26e-5 parallax constant and the
        # round-1 over-calibrated 4.265e-5 agree with it at %.5f).
        az, zen = grena3.solar_position(arr(ts("2022-10-17T12:00:00+00:00")),
                                        arr(52.0), arr(25.0), 69.0, 1013.0, 15.0)
        assert f"{az[0]:.5f}" == "211.17436"
        assert f"{zen[0]:.5f}" == "66.06850"

    def test_envelope_vs_spa(self):
        # Grena 2012 claims <= ~0.01 deg over 2010-2110
        rng = np.random.default_rng(7)
        n = 2000
        t0 = ts("2012-01-01T00:00:00+00:00")
        t1 = ts("2105-01-01T00:00:00+00:00")
        tss = rng.uniform(t0, t1, n)
        lats = rng.uniform(-65, 65, n)
        lons = rng.uniform(-180, 180, n)
        az1, zen1 = grena3.solar_position(tss, lats, lons, 69.0)
        az2, zen2 = spa.solar_position(tss, lats, lons, 0.0, 69.0)
        assert np.max(np.abs(zen1 - zen2)) < 0.012
        daz = np.abs((az1 - az2 + 180.0) % 360.0 - 180.0) * np.sin(np.radians(zen1))
        assert np.max(daz) < 0.012


class TestSunrise:
    def day0(self, s: str) -> float:
        return datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp()

    @staticmethod
    def hms(day0: float, sec: float) -> str:
        return datetime.fromtimestamp(day0 + sec, tz=timezone.utc).strftime("%H:%M:%S")

    def test_golden_basic(self):
        # SunriseTest.java:29-31
        d0 = self.day0("2022-10-17")
        r = sunrise.sunrise_transit_set(arr(d0), arr(52.0), arr(25.0), 69.0)
        assert self.hms(d0, r.sunrise[0, 0]) == "04:47:51"
        assert self.hms(d0, r.transit[0]) == "10:05:21"
        assert self.hms(d0, r.sunset[0, 0]) == "15:22:00"

    def test_golden_twilights(self):
        # SunriseTest.java:57-64 (zone +01:00; UT values asserted here).
        # The A.2 anchor is the ZONED midnight instant (wall midnight minus
        # offset) — the anchor that satisfies all 13 goldens at once; a UT
        # anchor puts astronomical dusk 0.08 s under the truncation boundary
        # (kernels/sunrise.py docstring).
        d0 = self.day0("2023-05-01") - 3600  # +01:00 local midnight instant
        hz = np.array([sunrise.HORIZON_SUNRISE_SUNSET, sunrise.HORIZON_CIVIL,
                       sunrise.HORIZON_NAUTICAL, sunrise.HORIZON_ASTRONOMICAL])
        r = sunrise.sunrise_transit_set(arr(d0), arr(52.49), arr(-1.89), 69.0, hz)
        assert self.hms(d0, r.sunrise[0, 0]) == "04:36:58"
        assert self.hms(d0, r.sunset[0, 0]) == "19:33:32"
        assert self.hms(d0, r.sunrise[0, 1]) == "03:57:41"
        assert self.hms(d0, r.sunset[0, 1]) == "20:13:05"
        assert self.hms(d0, r.sunrise[0, 2]) == "03:06:25"
        assert self.hms(d0, r.sunset[0, 2]) == "21:04:53"
        assert self.hms(d0, r.sunrise[0, 3]) == "02:01:18"

    def test_golden_astronomical_dusk_second(self):
        # the round-1/2 xfail, resolved by the zoned-midnight anchor
        d0 = self.day0("2023-05-01") - 3600
        hz = np.array([sunrise.HORIZON_ASTRONOMICAL])
        r = sunrise.sunrise_transit_set(arr(d0), arr(52.49), arr(-1.89), 69.0, hz)
        assert self.hms(d0, r.sunset[0, 0]) == "22:11:26"

    def test_polar_night_and_return_of_sun(self):
        # SunriseTest.java:267-268, 292-301 (no --deltat flag -> deltaT = 0)
        d0 = self.day0("2023-02-01")
        r = sunrise.sunrise_transit_set(arr(d0), arr(78.22), arr(15.63), 0.0)
        assert r.kind[0, 0] == sunrise.TYPE_ALL_NIGHT
        assert np.isnan(r.sunrise[0, 0]) and np.isnan(r.sunset[0, 0])
        assert not np.isnan(r.transit[0])  # transit always present

        d0 = self.day0("2023-02-28")
        r = sunrise.sunrise_transit_set(arr(d0), arr(78.22), arr(15.63), 0.0)
        assert r.kind[0, 0] == sunrise.TYPE_NORMAL
        assert self.hms(d0, r.sunrise[0, 0]) == "07:38:45"

    def test_polar_all_day(self):
        # midsummer at 78N: sun never sets at -0.8333
        d0 = self.day0("2023-06-21")
        r = sunrise.sunrise_transit_set(arr(d0), arr(78.22), arr(15.63), 0.0)
        assert r.kind[0, 0] == sunrise.TYPE_ALL_DAY

    def test_vectorized_month(self):
        # SunriseTest.java:204-227 shape: 28 rows for 2023-02
        d0 = self.day0("2023-02-01")
        days = np.array([d0 + 86400.0 * i for i in range(28)])
        r = sunrise.sunrise_transit_set(days, np.full(28, 52.0), np.full(28, 25.0), 0.0)
        assert r.transit.shape == (28,)
        assert np.all(r.kind[:, 0] == sunrise.TYPE_NORMAL)
        # sunrise gets earlier through February at 52N
        assert r.sunrise[27, 0] < r.sunrise[0, 0]


class TestDeltaT:
    def test_contemporary_range(self):
        y = deltat.decimal_year(np.array([2023]), np.array([6]))
        v = deltat.estimate(y)
        assert 60.0 < v[0] < 80.0

    def test_continuity_at_2005(self):
        lo = deltat.estimate(np.array([2004.999]))
        hi = deltat.estimate(np.array([2005.001]))
        assert abs(lo[0] - hi[0]) < 1.0

    def test_historical(self):
        v = deltat.estimate(np.array([1900.5]))
        assert -4.0 < v[0] < 0.0


class TestSunriseProperties:
    """Hypothesis-style invariants over the rise/set solver (plain
    parametrization — the input space is structured, not adversarial)."""

    def test_kind_geography(self):
        import numpy as np
        # mid-latitudes are NORMAL year-round; polar summer/winter flip
        days_jun = np.full(30, datetime(2024, 6, 10, tzinfo=timezone.utc).timestamp())
        days_dec = np.full(30, datetime(2024, 12, 10, tzinfo=timezone.utc).timestamp())
        lats = np.linspace(-59, 59, 30)
        r = sunrise.sunrise_transit_set(days_jun, lats, np.zeros(30), 69.0)
        assert np.all(r.kind[:, 0] == sunrise.TYPE_NORMAL)
        hi = np.full(10, 85.0)
        r_jun = sunrise.sunrise_transit_set(days_jun[:10], hi, np.zeros(10), 69.0)
        r_dec = sunrise.sunrise_transit_set(days_dec[:10], hi, np.zeros(10), 69.0)
        assert np.all(r_jun.kind[:, 0] == sunrise.TYPE_ALL_DAY)
        assert np.all(r_dec.kind[:, 0] == sunrise.TYPE_ALL_NIGHT)

    def test_event_ordering_near_meridian(self):
        import numpy as np
        rng = np.random.default_rng(11)
        n = 200
        day0 = (rng.integers(1577836800, 1924991999, n) // 86400) * 86400
        lats = rng.uniform(-55, 55, n)
        lons = rng.uniform(-25, 25, n)  # near-meridian: no UT-day wrap
        r = sunrise.sunrise_transit_set(day0.astype(float), lats, lons, 69.0)
        assert np.all(r.kind[:, 0] == sunrise.TYPE_NORMAL)
        assert np.all(r.sunrise[:, 0] < r.transit)
        assert np.all(r.transit < r.sunset[:, 0])

    def test_twilight_ordering(self):
        import numpy as np
        day0 = np.full(50, datetime(2024, 3, 15, tzinfo=timezone.utc).timestamp())
        lats = np.linspace(-50, 50, 50)
        hz = np.array([sunrise.HORIZON_SUNRISE_SUNSET, sunrise.HORIZON_CIVIL,
                       sunrise.HORIZON_NAUTICAL, sunrise.HORIZON_ASTRONOMICAL])
        r = sunrise.sunrise_transit_set(day0, lats, np.zeros(50), 69.0, hz)
        # deeper horizon -> earlier dawn, later dusk
        assert np.all(r.sunrise[:, 3] < r.sunrise[:, 2])
        assert np.all(r.sunrise[:, 2] < r.sunrise[:, 1])
        assert np.all(r.sunrise[:, 1] < r.sunrise[:, 0])
        assert np.all(r.sunset[:, 0] < r.sunset[:, 1])
        assert np.all(r.sunset[:, 1] < r.sunset[:, 2])
        assert np.all(r.sunset[:, 2] < r.sunset[:, 3])
