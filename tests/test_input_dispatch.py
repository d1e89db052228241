"""Unified input-mode dispatch + auto show-inputs rule (S7/R4).

Replicates the reference's sealed InputMode hierarchy semantics
(InputMode.java:17-195, Main.createInputMode Main.java:156-200,
Main.shouldShowInputs Main.java:137-141) and the column-set expectations of
InputModeTest.java:17-37 / GeographicSweepTest.java:130-193 /
PositionTest csvDefaultHasHeaders.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solarpos_spark.operators.position import position
from solarpos_spark.operators.sunrise import sunrise
from solarpos_spark.sources import inputs


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


class TestAutoShowInputsRule:
    def test_single_point_single_instant_hides_inputs(self, spark):
        plan = inputs.make_input_plan(spark, lat=52.0, lon=25.0,
                                      time="2003-10-17T12:00:00+00:00")
        assert plan.mode == "ranges" and plan.show_inputs is False

    def test_coordinate_range_shows_inputs(self, spark):
        plan = inputs.make_input_plan(spark, lat=(0.0, 10.0, 10.0), lon=20.0,
                                      time="2024-01-15T12:00:00+00:00")
        assert plan.show_inputs is True

    def test_time_series_shows_inputs(self, spark):
        # hasMultipleTimes: Year/YearMonth/LocalDate partials count as
        # multiple even when they yield one row (InputMode.java:73-76)
        plan = inputs.make_input_plan(spark, lat=52.0, lon=25.0,
                                      time=(2024, 6, 15), step_sec=86400)
        assert plan.show_inputs is True
        assert plan.df.count() == 1

    def test_file_modes_always_show(self, spark, tmp_path):
        cf = _write(tmp_path, "coords.txt", "52.0 25.0\n53.0 26.0\n")
        tf = _write(tmp_path, "times.txt", "2024-01-15T12:00:00\n")
        pf = _write(tmp_path, "paired.txt", "52.0 25.0 2024-01-15T12:00:00\n")
        assert inputs.make_input_plan(
            spark, coord_file=cf,
            time="2024-01-15T12:00:00+00:00").show_inputs is True
        assert inputs.make_input_plan(
            spark, lat=52.0, lon=25.0, time_file=tf).show_inputs is True
        assert inputs.make_input_plan(
            spark, paired_file=pf).show_inputs is True


class TestDispatchShapes:
    def test_cartesian_product_order(self, spark):
        # InputModeTest.java:17-37: (0,10,10) x (20,30,10) -> 4 coords
        plan = inputs.make_input_plan(spark, lat=(0.0, 10.0, 10.0),
                                      lon=(20.0, 30.0, 10.0),
                                      time="2024-01-15T12:00:00+00:00")
        got = [(r["lat"], r["lon"]) for r in
               plan.df.orderBy("lat", "lon").collect()]
        assert got == [(0.0, 20.0), (0.0, 30.0), (10.0, 20.0), (10.0, 30.0)]

    def test_paired_no_cartesian(self, spark, tmp_path):
        pf = _write(tmp_path, "paired.txt",
                    "25.0 50.0 2023-06-21T12:00\n26.0 51.0 2023-06-22T06:30\n")
        plan = inputs.make_input_plan(spark, paired_file=pf)
        rows = plan.df.orderBy("lat").collect()
        assert len(rows) == 2
        assert rows[0]["lat"] == 25.0 and rows[0]["lon"] == 50.0

    def test_coord_file_times_cross(self, spark, tmp_path):
        cf = _write(tmp_path, "coords.txt", "52.0 25.0\n# comment\n53.0 26.0\n")
        plan = inputs.make_input_plan(spark, coord_file=cf, time=(2024, 2, 1),
                                      step_sec=7200)
        assert plan.df.count() == 2 * 12

    def test_time_file_grid_cross(self, spark, tmp_path):
        tf = _write(tmp_path, "times.txt",
                    "2024-01-15T12:00:00\n2024-01-15T18:00:00\n")
        plan = inputs.make_input_plan(spark, lat=(50.0, 51.0, 1.0), lon=10.0,
                                      time_file=tf)
        assert plan.df.count() == 4


class TestTimePrecision:
    def test_strict_rejects_unparseable_line(self, spark, tmp_path):
        tf = _write(tmp_path, "bad.txt", "2024-01-15T12:00:00\nnot a time\n")
        import pytest as _pytest
        with _pytest.raises(Exception, match="unusable time line"):
            inputs.times_from_text(spark, tf).collect()

    def test_require_time_rejects_date_only(self, spark, tmp_path):
        # TimePrecision.TIME_REQUIRED (position): date-only lines abort
        tf = _write(tmp_path, "dates.txt", "2024-01-15\n")
        import pytest as _pytest
        with _pytest.raises(Exception, match="unusable time line"):
            inputs.times_from_text(spark, tf, require_time=True).collect()
        # DATE_SUFFICIENT (sunrise): the same file is fine -> local midnight
        rows = inputs.times_from_text(spark, tf).collect()
        assert len(rows) == 1

    def test_cli_position_rejects_date_only_time_file(self, spark, tmp_path):
        from solarpos_spark import cli
        import io

        tf = _write(tmp_path, "dates.txt", "2024-01-15\n")
        code = cli.main(["52", "25", f"@{tf}", "position"], spark=spark,
                        out=io.StringIO())
        assert code != 0
        code = cli.main(["52", "25", f"@{tf}", "sunrise"], spark=spark,
                        out=io.StringIO())
        assert code == 0

    def test_paired_require_time_rejects_date_only(self, spark, tmp_path):
        # paired lines follow the same TIME_REQUIRED rule as time files
        # (DateTimeIterator.java:150-190): position rejects a date without
        # a time, sunrise takes it as midnight
        from solarpos_spark import cli
        import io

        pf = _write(tmp_path, "paired.txt", "52.0 13.0 2024-01-01\n")
        with pytest.raises(Exception, match="invalid paired data line"):
            inputs.make_input_plan(spark, paired_file=pf,
                                   require_time=True).df.collect()
        assert cli.main([f"@{pf}", "position"], spark=spark,
                        out=io.StringIO()) != 0
        assert cli.main([f"@{pf}", "sunrise"], spark=spark,
                        out=io.StringIO()) == 0

    def test_paired_fractional_seconds(self, spark, tmp_path):
        # a paired line takes every time-file format, fractional seconds
        # included, and parses to the same instant and display offset as
        # the same text in a time file
        stamps = ["2024-01-01T07:30:15.250+01:00", "2024-01-01T07:30:15+01:00",
                  "2024-01-01T07:30:15", "2024-01-01T07:30-05:30",
                  "2024-01-01T07:30", "2024-01-01", "2024-01-01T07:30:15Z",
                  "2024-06-01T23:59:59-03:30"]
        pf = _write(tmp_path, "paired.txt",
                    "".join(f"52.0 13.0 {t}\n" for t in stamps))
        tf = _write(tmp_path, "times.txt", "".join(f"{t}\n" for t in stamps))
        paired = inputs.paired_from_text(spark, pf, with_ord=True) \
            .orderBy("_ord").collect()
        times = inputs.times_from_text(spark, tf, with_ord=True) \
            .orderBy("_ord").collect()
        assert [(r["ts"], r["offset_sec"]) for r in paired] == [
            (r["ts"], r["offset_sec"]) for r in times]
        assert len(paired) == len(stamps)
        assert paired[0]["offset_sec"] == 3600
        assert paired[0]["ts"].microsecond == 250000
        assert paired[3]["offset_sec"] == -19800
        assert paired[7]["offset_sec"] == -12600

    def test_colon_less_offset_aborts(self, spark, tmp_path):
        # no time format takes a colon-less +HHMM offset, so such a line is
        # an unparseable line, never a line whose offset gets read
        tf = _write(tmp_path, "times.txt", "2024-06-01T23:59:59-0330\n")
        with pytest.raises(Exception, match="unusable time line"):
            inputs.times_from_text(spark, tf).collect()
        pf = _write(tmp_path, "paired.txt", "52.0,13.0 2024-06-01T23:59:59-0330\n")
        with pytest.raises(Exception, match="invalid paired data line"):
            inputs.paired_from_text(spark, pf).collect()


class TestReferenceColumnSets:
    """The four shapes drive position()/sunrise() defaults to the
    reference's exact output column sets."""

    def test_position_no_show(self, spark):
        plan = inputs.make_input_plan(spark, lat=52.0, lon=25.0,
                                      time="2003-10-17T12:00:00+00:00",
                                      delta_t=69.0)
        out = position(plan.df, algorithm="spa", show_inputs=plan.show_inputs)
        # PositionTest csvDefaultHasHeaders: "dateTime,azimuth,zenith" +
        # "2003-10-17T12:00:00Z,211.20726,65.92499"
        assert out.columns == ["dateTime", "azimuth", "zenith"]
        row = out.collect()[0]
        assert f"{row['azimuth']:.5f}" == "211.20726"
        assert f"{row['zenith']:.5f}" == "65.92499"

    def test_position_show_with_refraction(self, spark):
        plan = inputs.make_input_plan(spark, lat=(52.0, 53.0, 1.0), lon=25.0,
                                      time="2003-10-17T12:00:00+00:00")
        out = position(plan.df, algorithm="spa", show_inputs=plan.show_inputs)
        assert out.columns == [
            "latitude", "longitude", "elevation", "pressure", "temperature",
            "dateTime", "deltaT", "azimuth", "zenith"]

    def test_position_show_no_refraction(self, spark):
        plan = inputs.make_input_plan(spark, lat=(52.0, 53.0, 1.0), lon=25.0,
                                      time="2003-10-17T12:00:00+00:00")
        out = position(plan.df, refraction=False,
                       show_inputs=plan.show_inputs)
        assert out.columns == [
            "latitude", "longitude", "elevation", "dateTime", "deltaT",
            "azimuth", "zenith"]

    def test_position_explicit_flag_overrides_mode(self, spark):
        # --show-inputs / --no-show-inputs beat the auto rule
        # (Main.java:137-141), which the CLI applies
        import io

        from solarpos_spark import cli

        def header(*argv):
            out = io.StringIO()
            assert cli.main([*argv, "--format=csv", "position"], spark=spark,
                            out=out) == 0
            return out.getvalue().splitlines()[0]

        assert header("52.0", "25.0", "2003-10-17T12:00:00Z") == \
            "dateTime,azimuth,zenith"
        assert header("52.0", "25.0", "2003-10-17T12:00:00Z",
                      "--show-inputs").startswith("latitude,longitude,")
        assert header("52.0:53.0:1.0", "25.0", "2003-10-17T12:00:00Z") \
            .startswith("latitude,longitude,")
        assert header("52.0:53.0:1.0", "25.0", "2003-10-17T12:00:00Z",
                      "--no-show-inputs") == "dateTime,azimuth,zenith"

    def test_unknown_algorithm_raises(self, spark):
        # a misspelt algorithm fails when the plan is built
        from solarpos_spark.sources import tokens

        plan = inputs.make_input_plan(spark, lat=52.0, lon=25.0,
                                      time="2003-10-17T12:00:00+00:00")
        with pytest.raises(ValueError, match="unknown algorithm"):
            position(plan.df, algorithm="Grena3")
        tok = tokens.generate_token_sequences(spark, 1)
        with pytest.raises(ValueError, match="unknown algorithm"):
            tokens.decode_position_arrow(tok, algorithm="auto")

    def test_sunrise_no_show(self, spark):
        plan = inputs.make_input_plan(spark, lat=52.0, lon=25.0,
                                      time="2022-10-17T12:00:00+00:00")
        out = sunrise(plan.df, show_inputs=plan.show_inputs)
        # SunriseCommand.getFieldNames(showInput=False, twilight=False)
        assert out.columns == ["type", "sunrise", "transit", "sunset"]

    def test_sunrise_show_twilight_chronological(self, spark):
        plan = inputs.make_input_plan(spark, lat=(52.0, 53.0, 1.0), lon=25.0,
                                      time="2022-10-17T12:00:00+00:00")
        out = sunrise(plan.df, twilight=True, show_inputs=plan.show_inputs)
        assert out.columns == [
            "latitude", "longitude", "dateTime", "deltaT", "type",
            "astronomical_start", "nautical_start", "civil_start",
            "sunrise", "transit", "sunset",
            "civil_end", "nautical_end", "astronomical_end"]


class TestCoordinateRangeValidation:
    """CoordinateRange.java:13-26 constructor rules (InputModeTest
    coordinateRangeRejectsZeroStep/NegativeSteps, CoordinateRangeTest
    rejectsStepTooSmall/acceptsMinimumStep/allowsSmallStepForSinglePoint)."""

    def test_rejects_zero_and_negative_step_even_single_point(self):
        import pytest

        from solarpos_spark.sources.inputs import coordinate_values

        for bad in (0.0, -0.5):
            with pytest.raises(ValueError):
                coordinate_values(10.0, 10.0, bad, -90, 90)
            with pytest.raises(ValueError):
                coordinate_values(10.0, 20.0, bad, -90, 90)

    def test_small_step_ok_for_single_point_only(self):
        import pytest

        from solarpos_spark.sources.inputs import coordinate_values

        assert coordinate_values(10.0, 10.0, 1e-4, -90, 90) == [10.0]
        with pytest.raises(ValueError):
            coordinate_values(10.0, 10.1, 1e-4, -90, 90)

    def test_accepts_minimum_step(self):
        from solarpos_spark.sources.inputs import coordinate_values

        vals = coordinate_values(10.0, 10.002, 0.001, -90, 90)
        assert len(vals) == 3


class TestTzinfoOf:
    def test_offsets_and_prefixes(self):
        from datetime import datetime, timezone

        from solarpos_spark.sources.inputs import tzinfo_of

        ref = datetime(2024, 1, 1, tzinfo=timezone.utc)
        for z, secs in (("+01:00", 3600), ("-0330", -12600), ("+05", 18000),
                        ("Z", 0), ("UTC+01:00", 3600), ("GMT-2", -7200),
                        ("UTC", 0), ("Europe/Berlin", 3600)):
            tz = tzinfo_of(z)
            assert int(ref.astimezone(tz).utcoffset().total_seconds()) == secs, z
