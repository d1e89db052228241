"""DST-aware ZoneId time-series semantics (S2 zoned variant).

Replicates the reference's zone handling (util/DateTimeIterator.java:43-91):
series start at *local* midnight under a real ZoneId, steps are exact
instants (ZonedDateTime.plus(Duration)) and the per-row UTC offset flips
across DST transitions.
"""

from __future__ import annotations

from datetime import datetime
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from solarpos_spark.sources import inputs

BERLIN = "Europe/Berlin"
# Historical facts, Berlin 2024: CET(+01) -> CEST(+02) at 2024-03-31T01:00Z,
# back at 2024-10-27T01:00Z.
SPRING = 1711846800
FALL = 1729990800


def _jvm_offset(zone: str):
    return (F.unix_timestamp(
        F.from_utc_timestamp(F.timestamp_seconds(F.col("unix_sec")), zone))
        - F.col("unix_sec"))


class TestZoneTransitions:
    def test_berlin_2024(self):
        start = int(datetime(2024, 1, 1, tzinfo=ZoneInfo(BERLIN)).timestamp())
        end = int(datetime(2025, 1, 1, tzinfo=ZoneInfo(BERLIN)).timestamp())
        trans = inputs.zone_transitions(BERLIN, start, end)
        assert trans == [(start, 3600), (SPRING, 7200), (FALL, 3600)]

    def test_fixed_offset_zone_single_interval(self):
        trans = inputs.zone_transitions("Etc/GMT-5", 0, 365 * 86400)
        assert trans == [(0, 5 * 3600)]


class TestZonedSeries:
    def test_berlin_year_hourly(self, spark):
        df = inputs.time_series_zoned_df(spark, 2024, zone=BERLIN)
        rows = df.orderBy("unix_sec").collect()
        # leap year, equal offsets at both boundaries -> exactly 366*24 rows
        assert len(rows) == 8784
        # starts at local midnight = 2023-12-31T23:00Z
        assert rows[0]["unix_sec"] == 1704063600
        assert rows[-1]["unix_sec"] == 1735686000 - 3600
        # offset flips exactly at the documented transition instants
        by_sec = {r["unix_sec"]: r["offset_sec"] for r in rows}
        assert by_sec[SPRING - 3600] == 3600
        assert by_sec[SPRING] == 7200
        assert by_sec[FALL - 3600] == 7200
        assert by_sec[FALL] == 3600
        # CEST covers 210 days * 24 h
        assert sum(1 for r in rows if r["offset_sec"] == 7200) == 5040

    @pytest.mark.parametrize("zone", [BERLIN, "America/New_York"])
    def test_offsets_match_jvm_tzdata(self, spark, zone):
        """zoneinfo-derived transition literals == the JVM's own tzdata."""
        df = inputs.time_series_zoned_df(spark, 2024, zone=zone)
        assert df.filter(_jvm_offset(zone) != F.col("offset_sec")).count() == 0

    def test_midnight_dst_gap_day(self, spark):
        """America/Santiago 2024-09-08: clocks jump 00:00->01:00, so the
        'local midnight' start resolves forward (Java ZonedDateTime.of gap
        rule) and the 23-hour day yields 23 hourly rows."""
        df = inputs.time_series_zoned_df(spark, 2024, 9, 8,
                                         zone="America/Santiago")
        rows = df.orderBy("unix_sec").collect()
        assert len(rows) == 23
        first = datetime.fromtimestamp(rows[0]["unix_sec"],
                                       tz=ZoneInfo("America/Santiago"))
        assert (first.hour, first.minute) == (1, 0)  # gap-resolved start
        assert rows[0]["offset_sec"] == -3 * 3600

    def test_utc_zone_matches_fixed_offset_variant(self, spark):
        zoned = inputs.time_series_zoned_df(spark, 2003, step_sec=7200,
                                            zone="UTC")
        fixed = inputs.time_series_df(spark, 2003, step_sec=7200)
        assert zoned.select("unix_sec", "offset_sec").exceptAll(
            fixed.select("unix_sec", "offset_sec")).count() == 0
        assert zoned.count() == fixed.count() == 4380

    def test_single_date_large_step_single_row(self, spark):
        df = inputs.time_series_zoned_df(spark, 2024, 6, 15, step_sec=86400,
                                         zone=BERLIN)
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0]["unix_sec"] == int(
            datetime(2024, 6, 15, tzinfo=ZoneInfo(BERLIN)).timestamp())
