"""Dense-axis edge rules (usage_data.rb:291-440): interior buckets for
DAYS/MONTHS, shrink-a-week for WEEKS, the asymmetric QUARTERS rule, raw
hour floors for HOURS — for the Spark ``serving.dense_axis`` and the
driver-side ``serving.driver_axis`` alike, and the two against each
other over zones, zone-id forms and DST transitions."""

from __future__ import annotations

import itertools
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.plans import serving


def _ms(*args) -> int:
    return int(datetime(*args, tzinfo=timezone.utc).timestamp() * 1000)


def _spark_axis(spark, unit, zone, s, e, clamp=None):
    """``dense_axis`` with each bucket's local date, as Spark renders it."""
    if clamp is not None:
        clamp = spark.range(1, numPartitions=1).select(
            F.lit(clamp[0]).cast("long").alias("min_ms"),
            F.lit(clamp[1]).cast("long").alias("max_ms"),
        )
    axis = serving.dense_axis(spark, unit, zone, s, e, clamp=clamp)
    local = F.from_utc_timestamp(F.col("bucket").cast("timestamp"), zone)
    rows = axis.select("bucket", F.date_format(local, "yyyy-MM-dd").alias("time")).collect()
    return [(r["bucket"], r["time"]) for r in rows]


def _driver_axis(spark, unit, zone, s, e, clamp=None):
    return serving.driver_axis(unit, serving.resolve_zone(spark, zone), s, e, *(clamp or (None, None)))


_IMPLS = {"spark": _spark_axis, "driver": _driver_axis}


def _axis(spark, unit, zone, s, e):
    """{implementation: buckets}: every edge rule holds for both."""
    return {name: [b for b, _ in impl(spark, unit, zone, s, e)] for name, impl in _IMPLS.items()}


def _each(buckets):
    return dict.fromkeys(_IMPLS, buckets)


def test_hours_floor_inclusive(spark):
    got = _axis(spark, "HOURS", "UTC", _ms(2024, 5, 1, 10, 30), _ms(2024, 5, 1, 12, 5))
    assert got == _each([datetime(2024, 5, 1, 10), datetime(2024, 5, 1, 11), datetime(2024, 5, 1, 12)])


def test_days_interior_only(spark):
    # [05-01 06:00, 05-04 20:00] UTC → interior days 05-02, 05-03 only
    got = _axis(spark, "DAYS", "UTC", _ms(2024, 5, 1, 6), _ms(2024, 5, 4, 20))
    assert got == _each([datetime(2024, 5, 2), datetime(2024, 5, 3)])


def test_weeks_shrunk_one_per_side(spark):
    # Sundays at 2024-05-05 and 2024-05-26 → axis 05-12, 05-19
    got = _axis(spark, "WEEKS", "UTC", _ms(2024, 5, 7), _ms(2024, 5, 28))
    assert got == _each([datetime(2024, 5, 12), datetime(2024, 5, 19)])


def test_months_interior_only(spark):
    got = _axis(spark, "MONTHS", "UTC", _ms(2024, 1, 15), _ms(2024, 4, 10))
    assert got == _each([datetime(2024, 2, 1), datetime(2024, 3, 1)])


def test_quarters_asymmetric(spark):
    # start rounds DOWN to its quarter (not advanced); end shrinks one
    # quarter: [2024-02-10, 2024-11-20] → Q1, Q2, Q3 starts.
    got = _axis(spark, "QUARTERS", "UTC", _ms(2024, 2, 10), _ms(2024, 11, 20))
    assert got == _each([datetime(2024, 1, 1), datetime(2024, 4, 1), datetime(2024, 7, 1)])


def test_days_la_uses_local_calendar(spark):
    # 2024-05-01 05:00 UTC is still 04-30 in LA; 05-04 20:00 UTC is
    # 05-04 13:00 LA → interior local days 05-01..05-03, each rendered
    # as LA-midnight in UTC (07:00).
    got = _axis(spark, "DAYS", "America/Los_Angeles", _ms(2024, 5, 1, 5), _ms(2024, 5, 4, 20))
    assert got == _each([
        datetime(2024, 5, 1, 7),
        datetime(2024, 5, 2, 7),
        datetime(2024, 5, 3, 7),
    ])


# DST transitions: Sao Paulo moved its clocks at local midnight (a gap in
# November 2018, an overlap in February 2019), Beirut and Havana at
# midnight too, Lord Howe by 30 minutes, London at 01:00 UTC. Apia
# skipped 2011-12-30 altogether.
_GRID_ZONES = [
    "PST", "+05:30", "+8:00", "GMT+8", "UTC+8", "Z", "EST", "Etc/GMT+8",
    "Pacific/Apia", "America/Sao_Paulo", "Asia/Beirut", "Australia/Lord_Howe",
    "America/Havana", "Europe/London",
]
_GRID_WINDOWS = {
    # a year of transitions both ways, clamped to an off-hour range
    "dst-year-clamped": (
        _ms(2018, 6, 1), _ms(2019, 6, 1),
        (_ms(2018, 7, 10, 7, 15) + 123, _ms(2019, 5, 20, 22)),
    ),
    "apia-unclamped": (_ms(2011, 12, 20, 9), _ms(2012, 1, 10, 15), None),
    "inverted": (_ms(2019, 3, 1), _ms(2018, 3, 1), None),
    "clamp-past-end": (_ms(2018, 1, 1), _ms(2018, 3, 1), (_ms(2018, 6, 1), _ms(2019, 1, 1))),
}


@pytest.mark.parametrize("zone", _GRID_ZONES)
def test_driver_axis_matches_spark_grid(spark, zone):
    mismatches = []
    for unit, (window, (s, e, clamp)) in itertools.product(
        ["HOURS", "DAYS", "WEEKS", "MONTHS", "QUARTERS"], _GRID_WINDOWS.items()
    ):
        want = _spark_axis(spark, unit, zone, s, e, clamp)
        if _driver_axis(spark, unit, zone, s, e, clamp) != want:
            mismatches.append((unit, window))
    assert mismatches == []


@pytest.mark.parametrize("zone", ["utc", "Bogus/Zone"])
def test_driver_axis_rejects_what_spark_rejects(spark, zone):
    s, e = _ms(2024, 5, 1), _ms(2024, 5, 4)
    with pytest.raises(Exception) as want:
        _spark_axis(spark, "DAYS", zone, s, e)
    with pytest.raises(Exception) as got:
        _driver_axis(spark, "DAYS", zone, s, e)
    assert type(got.value) is type(want.value)
    assert "INVALID_TIMEZONE" in str(got.value) and "INVALID_TIMEZONE" in str(want.value)


def test_queries_self_heal_non_utc_default_session(spark):
    """The external driver runs queries on a VANILLA session whose
    default timezone is the machine's — the engine's naive-UTC
    timestamp math must not depend on it. Every query path resets the
    session to UTC via ensure_engine_confs (load_table), so a session
    that starts in Asia/Tokyo must produce bit-identical results to a
    UTC one. Pins the contract end-to-end on the most tz-sensitive
    registered query (tz-parameterized week/quarter rollups) plus a
    serving query (clamped dense axis + local-date rendering)."""
    from white_elephant_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    for name in ("rollup_time_units_tz", "usage_csv_table_days"):
        fn = qs[name].fn
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        want = sorted(map(tuple, fn(spark, sf).collect()))
        # A caller-mangled session: the query must self-heal.
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        try:
            got = sorted(map(tuple, fn(spark, sf).collect()))
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert got == want, name


def test_driver_axis_refuses_oversized_windows():
    """The axis is counted before it is built: a window over
    MAX_AXIS_BUCKETS buckets raises (the route answers 500) instead of
    filling the driver's memory."""
    cap = serving.MAX_AXIS_BUCKETS
    assert len(serving.driver_axis("HOURS", timezone.utc, 0, (cap - 1) * 3_600_000)) == cap
    with pytest.raises(ValueError, match="buckets"):
        serving.driver_axis("HOURS", timezone.utc, 0, cap * 3_600_000)
    # years 1..9999, unclamped
    for unit in ("HOURS", "DAYS"):
        with pytest.raises(ValueError, match="buckets"):
            serving.driver_axis(unit, timezone.utc, _ms(1, 1, 1), _ms(9999, 12, 31))
