"""Spark-layer tests: sources, codec round-trip, operators, projections.

Mirrors the reference's E2E test matrix (SURVEY.md §5): golden values through
the full Spark path, cardinality/boundary checks, grid ordering, polar
nullability, input-mode scanning with comments/blank lines.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from solarpos_spark.operators.position import position
from solarpos_spark.operators.sunrise import sunrise
from solarpos_spark.sources import inputs, tokens


def ts_df(spark, lat, lon, iso, delta_t=69.0):
    return (
        spark.createDataFrame([(lat, lon, iso)], "lat double, lon double, s string")
        .select("lat", "lon", F.to_timestamp("s").alias("ts"))
        .withColumn("delta_t", F.lit(delta_t))
    )


class TestGridSemantics:
    def test_grid_order_and_count(self, spark):
        # GeographicSweepTest.java:39-44: 2x2 grid, lat-major order
        g = inputs.grid_df(spark, (40.0, 41.0, 1.0), (73.0, 74.0, 1.0))
        rows = g.orderBy("lat_ord", "lon_ord").collect()
        assert [(r["lat"], r["lon"]) for r in rows] == [
            (40.0, 73.0), (40.0, 74.0), (41.0, 73.0), (41.0, 74.0)]

    def test_range_count_formula(self, spark):
        # CoordinateRange.java:57-60: count = round((end-start)/step)+1
        vals = inputs.coordinate_values(52.0, 53.0, 0.1, -90.0, 90.0)
        assert len(vals) == 11
        assert abs(vals[-1] - 53.0) < 1e-9

    def test_range_validation(self):
        with pytest.raises(ValueError):
            inputs.coordinate_values(95.0, 96.0, 1.0, -90.0, 90.0)
        with pytest.raises(ValueError):
            inputs.coordinate_values(10.0, 20.0, 0.0001, -90.0, 90.0)
        with pytest.raises(ValueError):
            inputs.coordinate_values(20.0, 10.0, 1.0, -90.0, 90.0)

    def test_single_point_range(self):
        assert inputs.coordinate_values(52.0, 52.0, 1.0, -90.0, 90.0) == [52.0]


class TestTimeSeries:
    def test_year_cardinality(self, spark):
        # PositionTest.java:161-186: 2003 @ 2h -> 4380 rows
        t = inputs.time_series_df(spark, 2003, step_sec=7200)
        rows = t.agg(F.count("*"), F.min("unix_sec"), F.max("unix_sec")).collect()[0]
        assert rows[0] == 4380
        assert rows[1] == int(datetime(2003, 1, 1, tzinfo=timezone.utc).timestamp())
        assert rows[2] == int(datetime(2003, 12, 31, 22, tzinfo=timezone.utc).timestamp())

    def test_leap_month_cardinality(self, spark):
        # PositionTest.java:202-226: 2024-02 @ 2h -> 348 rows
        t = inputs.time_series_df(spark, 2024, 2, step_sec=7200)
        assert t.count() == 348

    def test_single_date_day_step(self, spark):
        # date with step >= 1d -> single midnight row
        t = inputs.time_series_df(spark, 2024, 3, 15, step_sec=86400)
        rows = t.collect()
        assert len(rows) == 1
        assert rows[0]["unix_sec"] == int(
            datetime(2024, 3, 15, tzinfo=timezone.utc).timestamp())

    def test_step_validation(self, spark):
        with pytest.raises(ValueError):
            inputs.time_series_df(spark, 2024, step_sec=0)
        with pytest.raises(ValueError):
            inputs.time_series_df(spark, 2024, step_sec=999999)

    def test_timezone_offset_shifts_start(self, spark):
        # fixed-offset zones: local midnight for +01:00 is 23:00Z the day
        # before, for -05:30 05:30Z the same day; every row carries the offset
        for zone, start, off in (
                ("+01:00", datetime(2024, 3, 14, 23, tzinfo=timezone.utc), 3600),
                ("-05:30", datetime(2024, 3, 15, 5, 30, tzinfo=timezone.utc), -19800)):
            rows = inputs.time_series_df(spark, 2024, 3, 15, step_sec=86400,
                                         zone=zone).collect()
            assert [(r["unix_sec"], r["offset_sec"]) for r in rows] == [
                (int(start.timestamp()), off)], zone


class TestTokenCodec:
    def test_roundtrip_through_spark(self, spark):
        t = tokens.generate_token_sequences(spark, 32, records_per_doc=4)
        dec = tokens.decode_tokens(t)
        rows = dec.collect()
        assert len(rows) == 128
        for r in rows:
            assert -90.0 <= r["lat"] <= 90.0
            assert -180.0 <= r["lon"] <= 180.0
            assert r["delta_t"] == 69.0
            assert 0 <= r["seq_index"] < 4

    def test_field_pruned_decode_matches_full(self, spark):
        """fields= must change only the emitted columns, never the values
        (the manual column pruning an Arrow stage needs, since Catalyst
        cannot prune through mapInArrow)."""
        t = tokens.generate_token_sequences(spark, 16, records_per_doc=3)
        full = tokens.decode_tokens(t).select(
            "doc_id", "unix_sec", "lat").orderBy(
            "doc_id", "unix_sec", "lat").collect()
        pruned_df = tokens.decode_tokens(t, fields=("unix_sec", "lat"))
        assert pruned_df.columns == ["doc_id", "lat", "unix_sec"]
        pruned = pruned_df.select("doc_id", "unix_sec", "lat") \
            .orderBy("doc_id", "unix_sec", "lat").collect()
        assert [tuple(r) for r in pruned] == [tuple(r) for r in full]
        import pytest as _pytest
        with _pytest.raises(ValueError):
            tokens.decode_tokens(t, fields=("nope",))

    def test_generation_is_partition_invariant(self, spark):
        a = tokens.decode_tokens(
            tokens.generate_token_sequences(spark, 20, partitions=1)
        ).orderBy("doc_id", "seq_index").collect()
        b = tokens.decode_tokens(
            tokens.generate_token_sequences(spark, 20, partitions=7)
        ).orderBy("doc_id", "seq_index").collect()
        assert a == b

    def test_fused_decode_position_bit_equal(self, spark):
        """decode_position_arrow (one Arrow pass) must be value-identical to
        decode_tokens -> position (two stages) — same ΔT resolution, same
        kernels. Three docs carry the codec's "estimate ΔT" sentinel (one
        mixed with a stored ΔT): both paths must use the Espenak-Meeus
        estimate there, not NaN."""
        from pyspark.sql import functions as F

        from solarpos_spark import codec
        from solarpos_spark.operators.position import position

        recs = codec.encode_records(
            lat=np.array([52.0, -33.9, 10.0, 10.0]),
            lon=np.array([25.0, 18.4, 20.0, 20.0]),
            unix_sec=np.array([1066392000, 1700000000, 1700000000,
                               1700003600]),
            delta_t=np.array([np.nan, np.nan, 69.0, np.nan]))
        sentinel = spark.createDataFrame(
            [("est-0", recs[0].tolist(), 10, "test"),
             ("est-1", recs[1].tolist(), 10, "test"),
             ("est-2", recs[2:].reshape(-1).tolist(), 20, "test")],
            tokens.TOKEN_SCHEMA)
        t = tokens.generate_token_sequences(
            spark, 64, records_per_doc=4, partitions=3).unionByName(sentinel)
        fused = tokens.decode_position_arrow(t).select(
            "doc_id", "seq_index", "azimuth", "zenith")
        assert fused.filter(F.isnan("azimuth") | F.isnan("zenith")
                            | F.col("azimuth").isNull()).count() == 0
        two_stage = position(
            tokens.decode_tokens(t), algorithm="spa", ts_col="unix_sec",
            time_is_unix=True, show_inputs=False,
            passthrough=["doc_id", "seq_index"],
        ).select("doc_id", "seq_index", "azimuth", "zenith")
        assert fused.count() == 260
        assert fused.exceptAll(two_stage).count() == 0
        assert two_stage.exceptAll(fused).count() == 0
        # grena3 flavor too
        fused_g = tokens.decode_position_arrow(t, algorithm="grena3").select(
            "doc_id", "seq_index", "azimuth", "zenith")
        two_g = position(
            tokens.decode_tokens(t), algorithm="grena3", ts_col="unix_sec",
            time_is_unix=True, show_inputs=False,
            passthrough=["doc_id", "seq_index"],
        ).select("doc_id", "seq_index", "azimuth", "zenith")
        assert fused_g.exceptAll(two_g).count() == 0

    def test_estimate_sentinel_roundtrip(self):
        from solarpos_spark import codec

        recs = codec.encode_records(
            lat=np.array([10.0]), lon=np.array([20.0]),
            unix_sec=np.array([1700000000]), delta_t=np.array([np.nan]))
        out = codec.decode_records(recs)
        assert np.isnan(out["delta_t"][0])

    def test_precision_is_output_contract(self):
        # codec quantization == formatted-output equality (K1 precision table)
        from solarpos_spark import codec

        recs = codec.encode_records(
            lat=np.array([52.000004999]), lon=np.array([-1.890000001]),
            unix_sec=np.array([1700000000]))
        out = codec.decode_records(recs)
        assert out["lat"][0] == 52.0  # %.5f half-up
        assert out["lon"][0] == -1.89


class TestPositionOperator:
    def test_golden_through_spark(self, spark):
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        r = position(df, algorithm="spa").collect()[0]
        assert round(r["azimuth"], 5) == 211.17614
        assert round(r["zenith"], 5) == 66.06832

    def test_grena3_golden_through_spark(self, spark):
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        r = position(df, algorithm="grena3").collect()[0]
        # the reference golden is %.5f CLI output (see tests/test_kernels.py)
        assert f"{r['azimuth']:.5f}" == "211.17436"
        assert f"{r['zenith']:.5f}" == "66.06850"

    def test_elevation_angle_projection(self, spark):
        # PositionCommand.java:173-179: zenith column swapped
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        out = position(df, elevation_angle=True)
        assert "elevation-angle" in out.columns and "zenith" not in out.columns
        assert round(out.collect()[0]["elevation-angle"], 5) == 23.93168

    def test_no_refraction_drops_columns(self, spark):
        # PositionCommand.java:156-160
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        out = position(df, refraction=False)
        assert "pressure" not in out.columns and "temperature" not in out.columns

    def test_deltat_estimate_sentinel(self, spark):
        # NaN deltaT -> Espenak-Meeus estimate (Main.java:214-216)
        df = ts_df(spark, 52.0, 25.0, "2023-06-01 12:00:00", delta_t=float("nan"))
        r = position(df, algorithm="spa").collect()[0]
        df0 = ts_df(spark, 52.0, 25.0, "2023-06-01 12:00:00", delta_t=0.0)
        r0 = position(df0, algorithm="spa").collect()[0]
        assert r["azimuth"] != r0["azimuth"]  # estimate applied, not 0

    def test_cartesian_sweep_count(self, spark):
        # StressTest.java shape at reduced size: 5x5 grid x 4 times
        grid = inputs.grid_df(spark, (50.0, 51.0, 0.25), (10.0, 11.0, 0.25))
        times = inputs.time_series_df(spark, 2024, 6, 1, step_sec=21600)
        gt = inputs.grid_times_df(grid, times)
        out = position(gt, ts_col="unix_sec", time_is_unix=True)
        assert out.count() == 25 * 4


_OPTIONAL = ("elevation", "pressure", "temperature", "delta_t")


def _udf_arg_counts(df):
    """Argument count of each UDF in the executed plan's ArrowEvalPython
    node (the columns shipped to the Python worker)."""
    df.collect()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if node.nodeName() == "ArrowEvalPython":
            udfs = node.udfs()
            return [udfs.apply(i).children().size() for i in range(udfs.size())]
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    raise AssertionError("no ArrowEvalPython node")


class TestPositionUdf:
    """The Arrow UDF ships only the optional inputs the DataFrame has and
    binds the others' defaults in Python; its output equals the kernel's
    on the same numpy columns, whatever is shipped."""

    @pytest.fixture(scope="class")
    def rows(self):
        rng = np.random.default_rng(5)
        n = 40
        cols = {
            "row": np.arange(n),
            "unix": 1_500_000_000 + 3600 * rng.integers(0, 8, n),
            "lat": rng.uniform(-70.0, 70.0, n),
            "lon": rng.uniform(-180.0, 180.0, n),
            "elevation": rng.uniform(0.0, 3000.0, n),
            "pressure": rng.uniform(700.0, 1050.0, n),
            "temperature": rng.uniform(-20.0, 40.0, n),
            "delta_t": rng.uniform(60.0, 70.0, n),
        }
        cols["delta_t"][3] = np.nan  # the Espenak-Meeus estimate path
        return cols

    @pytest.mark.parametrize("algorithm", ["spa", "grena3"])
    @pytest.mark.parametrize("refraction", [True, False])
    def test_udf_equals_kernel_for_every_shipped_set(self, spark, rows,
                                                     algorithm, refraction):
        from itertools import combinations

        from solarpos_spark.operators.position import DEFAULTS, position_kernel

        n = rows["row"].shape[0]
        # one partition, so the UDF sees the kernel's batch: the SPA series
        # of an instant may differ in the last bit with the instants batched
        # with it (ROADMAP item 6)
        full = spark.createDataFrame(
            [tuple(v.item() for v in r) for r in zip(*rows.values())],
            "row long, unix long, lat double, lon double, elevation double, "
            "pressure double, temperature double, delta_t double").coalesce(1)
        subsets = [s for k in range(5) for s in combinations(_OPTIONAL, k)]
        assert len(subsets) == 16
        union = None
        for case, present in enumerate(subsets):
            df = full.drop(*(c for c in _OPTIONAL if c not in present)) \
                .withColumn("case", F.lit(case))
            out = position(df, algorithm=algorithm, refraction=refraction,
                           ts_col="unix", time_is_unix=True,
                           passthrough=["case", "row"])
            union = out if union is None else union.unionByName(out)
        got = {}
        for r in union.collect():
            got.setdefault(r["case"], []).append(r)
        kernel = position_kernel(algorithm, refraction)
        for case, present in enumerate(subsets):
            given = {c: rows[c] if c in present else np.full(n, DEFAULTS[c])
                     for c in _OPTIONAL}
            az, zen, dt = kernel(rows["unix"], rows["lat"], rows["lon"], **given)
            rs = sorted(got[case], key=lambda r: r["row"])
            for name, want in (("azimuth", az), ("zenith", zen), ("deltaT", dt)):
                assert np.array([r[name] for r in rs]).tobytes() == want.tobytes(), \
                    (present, name)

    def test_literal_inputs_are_not_shipped(self, spark):
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        assert set(df.columns) & set(_OPTIONAL) == {"delta_t"}
        assert _udf_arg_counts(position(df)) == [4]
        assert _udf_arg_counts(sunrise(df)) == [4]
        full = df.withColumn("elevation", F.lit(10.0)) \
            .withColumn("pressure", F.lit(1000.0)).withColumn("temperature", F.lit(5.0))
        assert _udf_arg_counts(position(full)) == [7]
        # without refraction pressure and temperature are not inputs
        assert _udf_arg_counts(position(full, refraction=False)) == [5]
        assert _udf_arg_counts(sunrise(full.drop("delta_t"))) == [3]


class TestSunriseOperator:
    def test_golden_through_spark(self, spark):
        df = ts_df(spark, 52.0, 25.0, "2022-10-17 12:00:00")
        r = sunrise(df).collect()[0]
        assert r["type"] == "NORMAL"
        assert r["sunrise"].strftime("%H:%M:%S") == "04:47:51"
        assert r["transit"].strftime("%H:%M:%S") == "10:05:21"
        assert r["sunset"].strftime("%H:%M:%S") == "15:22:00"

    def test_polar_nulls(self, spark):
        # SunriseTest.java:267,292: ALL_NIGHT -> null sunrise/sunset
        df = ts_df(spark, 78.22, 15.63, "2023-02-01 00:00:00", delta_t=0.0)
        r = sunrise(df).collect()[0]
        assert r["type"] == "ALL_NIGHT"
        assert r["sunrise"] is None and r["sunset"] is None
        assert r["transit"] is not None

    def test_twilight_columns(self, spark):
        df = ts_df(spark, 52.49, -1.89, "2023-05-01 12:00:00")
        out = sunrise(df, twilight=True)
        r = out.collect()[0]
        assert r["civil_start"].strftime("%H:%M:%S") == "03:57:41"  # UT
        assert r["nautical_end"].strftime("%H:%M:%S") == "21:04:53"

    def test_day_resolution_ignores_time(self, spark):
        # SunriseCommand: input time-of-day irrelevant
        a = sunrise(ts_df(spark, 52.0, 25.0, "2022-10-17 03:00:00")).collect()[0]
        b = sunrise(ts_df(spark, 52.0, 25.0, "2022-10-17 21:30:00")).collect()[0]
        assert a["sunrise"] == b["sunrise"]


class TestFileScans:
    def test_coords_file_with_comments(self, spark, tmp_path):
        # StdinTest / DateTimeIteratorTest: comments + blanks skipped
        p = tmp_path / "coords.txt"
        p.write_text("# header\n52.0 25.0\n\n51.5,13.4\n  # trailing comment\n")
        rows = inputs.coords_from_text(spark, str(p)).orderBy("lat").collect()
        assert [(r["lat"], r["lon"]) for r in rows] == [(51.5, 13.4), (52.0, 25.0)]

    def test_times_file_multiformat(self, spark, tmp_path):
        p = tmp_path / "times.txt"
        p.write_text("2024-01-01T06:00:00Z\n2024-01-01 07:00:00\n2024-01-02\n")
        rows = inputs.times_from_text(spark, str(p)).orderBy("ts").collect()
        assert len(rows) == 3
        assert rows[0]["ts"].hour == 6

    def test_paired_file_no_expansion(self, spark, tmp_path):
        # InputMode.java:159-195: 1:1, no cartesian
        p = tmp_path / "paired.txt"
        p.write_text("52.0 25.0 2022-10-17T12:00:00Z\n40.0 -73.0 2024-01-01T00:00:00Z\n")
        df = inputs.paired_from_text(spark, str(p))
        assert df.count() == 2
        out = position(df.withColumn("delta_t", F.lit(69.0)), algorithm="spa")
        r = out.orderBy(F.desc("latitude")).collect()[0]
        assert round(r["azimuth"], 5) == 211.17614


class TestDataPathValidation:
    def test_strict_raises_on_bad_row(self, spark):
        from solarpos_spark.sources.inputs import validate_decoded

        df = spark.createDataFrame(
            [(52.0, 25.0, 1013.0, 15.0), (95.0, 0.0, 1013.0, 15.0)],
            "lat double, lon double, pressure double, temperature double")
        ok = validate_decoded(df.filter(F.col("lat") <= 90.0))
        assert ok.count() == 1
        import pytest as _pytest
        with _pytest.raises(Exception, match="out of range"):
            validate_decoded(df).count()

    def test_filter_mode_drops(self, spark):
        from solarpos_spark.sources.inputs import validate_decoded

        df = spark.createDataFrame(
            [(52.0, 25.0, 1013.0, 15.0), (0.0, 0.0, 5000.0, 15.0)],
            "lat double, lon double, pressure double, temperature double")
        assert validate_decoded(df, strict=False).count() == 1


class TestReferenceParityExtras:
    def test_combined_grid_time_count_and_order(self, spark):
        # GeographicSweepTest.java:70-88: 2x2 grid x 2 times -> 8 rows,
        # time-major then lat-major order
        grid = inputs.grid_df(spark, (40.0, 41.0, 1.0), (73.0, 74.0, 1.0))
        times = inputs.time_series_df(spark, 2024, 6, 1, step_sec=43200)
        gt = inputs.grid_times_df(grid, times)
        rows = gt.orderBy("unix_sec", "lat_ord", "lon_ord").collect()
        assert len(rows) == 8
        assert [(r["lat"], r["lon"]) for r in rows[:4]] == [
            (40.0, 73.0), (40.0, 74.0), (41.0, 73.0), (41.0, 74.0)]
        assert rows[0]["unix_sec"] < rows[4]["unix_sec"]

    def test_sunrise_year_cardinality(self, spark):
        # SunriseTest.java:179-202: year 2023 -> 365 rows, fixed 1-day step
        days = inputs.time_series_df(spark, 2023, step_sec=86400)
        df = days.withColumn("lat", F.lit(52.0)).withColumn("lon", F.lit(25.0))
        out = sunrise(df, ts_col="unix_sec", time_is_unix=True)
        assert out.count() == 365
        bounds = out.agg(F.min("dateTime"), F.max("dateTime")).collect()[0]
        assert bounds[0].strftime("%Y-%m-%d") == "2023-01-01"
        assert bounds[1].strftime("%Y-%m-%d") == "2023-12-31"

    def test_sunrise_month_cardinality(self, spark):
        # SunriseTest.java:204-227: 2023-02 -> 28 rows
        days = inputs.time_series_df(spark, 2023, 2, step_sec=86400)
        df = days.withColumn("lat", F.lit(52.0)).withColumn("lon", F.lit(25.0))
        assert sunrise(df, ts_col="unix_sec", time_is_unix=True).count() == 28

    def test_times_file_fractional_seconds(self, spark, tmp_path):
        # DateTimeConverterTest.java:213-231 (regression #77): fractional
        # seconds accepted
        p = tmp_path / "times.txt"
        p.write_text("2024-01-01T06:00:00.000Z\n2024-01-01T07:30:15.250+01:00\n")
        rows = inputs.times_from_text(spark, str(p)).orderBy("ts").collect()
        assert len(rows) == 2
        assert rows[0]["ts"].hour == 6
        assert rows[1]["ts"].hour == 6  # 07:30+01:00 == 06:30Z
        assert rows[1]["ts"].minute == 30
