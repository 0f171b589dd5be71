"""Serving-layer time-series assembly (§3.2-§3.3 of SURVEY.md).

Reproduces the reference's ``get_time_range`` dense-axis construction
(server/app/usage_data.rb:291-440) and the ``/api/usage`` /
``/api/table`` response shaping (server/app.rb:44-157):

1. clamp the requested [start, end] to the cluster's MIN/MAX time
   (A10, usage_data.rb:279-310) — except HOURS, which the reference
   floors from the *raw* request bounds (:313-324, preserved quirk);
2. generate the dense bucket axis with the interior-bucket edge rules
   (DAYS/MONTHS: strictly interior buckets; WEEKS: Sunday-rounded then
   shrunk a week per side; QUARTERS: end shrunk one quarter, start
   not advanced — the reference's asymmetry, :401-433);
3. roll up the metric per (user, bucket), right-join the axis, fill
   gaps with 0 (W7);
4. shape: per-user series + one aggregated series for the non-selected
   users (A12), or the CSV table with minutes→hours and local dates
   (S11, app.rb:136-156).

Two implementations of step 2 share these edge rules. :func:`dense_axis`
is ``sequence``+``explode`` on one row, lazy over a clamp DataFrame, for
the registered queries; :func:`driver_axis` computes the same axis in
Python from values already on the driver, so a served read whose
roll-up is cached starts no Spark job. Buckets stay naive-UTC instants.
"""

from __future__ import annotations

from datetime import date, datetime, time, timedelta, timezone, tzinfo
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HOUR_MS = 3_600_000
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _safe_seq(lo: Column, hi: Column, step: Column | None = None) -> Column:
    """``sequence(lo, hi)`` that yields NULL (→ no rows after
    ``explode``) when the range is empty — the reference's
    ``(start..end)`` Ruby ranges are empty, never an error, when
    start > end (usage_data.rb:326-433); Spark's ``sequence`` throws
    on inverted bounds with a positive step."""
    seq = F.sequence(lo, hi, step) if step is not None else F.sequence(lo, hi)
    return F.when(lo <= hi, seq)


def _local_day(ms: Column, zone: str) -> Column:
    """Local calendar date of a UTC epoch-ms instant."""
    return F.to_date(F.from_utc_timestamp(F.timestamp_millis(ms), zone))


def _day_to_utc_ts(day: Column, zone: str) -> Column:
    """Local midnight of a date, as a naive-UTC timestamp."""
    return F.to_utc_timestamp(day.cast("timestamp"), zone).cast("timestamp_ntz")


def dense_axis(
    spark: SparkSession,
    unit: str,
    zone: str,
    start_ms: int,
    end_ms: int,
    clamp: DataFrame | None = None,
) -> DataFrame:
    """One-column DataFrame ``bucket`` of dense axis timestamps.

    ``clamp`` is an optional 1-row DataFrame (min_ms, max_ms) — the
    A10 MIN/MAX range of the cube — applied to every unit except
    HOURS (reference quirk)."""
    unit = unit.upper()
    base = (clamp if clamp is not None else spark.range(1)).limit(1)
    if clamp is not None:
        s = F.greatest(F.lit(start_ms), F.col("min_ms"))
        e = F.least(F.lit(end_ms), F.col("max_ms"))
    else:
        s, e = F.lit(start_ms), F.lit(end_ms)

    if unit == "HOURS":
        # raw request bounds, hour-floored, inclusive (usage_data.rb:313-324)
        idx = _safe_seq(
            F.floor(F.lit(start_ms) / HOUR_MS), F.floor(F.lit(end_ms) / HOUR_MS)
        )
        return base.select(F.explode(idx).alias("h")).select(
            F.timestamp_millis(F.col("h") * HOUR_MS).cast("timestamp_ntz").alias("bucket")
        )

    sd, ed = _local_day(s, zone), _local_day(e, zone)
    if unit == "DAYS":
        # interior days only: start.next_day .. end.prev_day (:326-347)
        days = _safe_seq(F.date_add(sd, 1), F.date_sub(ed, 1), F.expr("interval 1 day"))
    elif unit == "WEEKS":
        # Sunday of each bound, then shrink one week per side (:349-374)
        sd = F.date_sub(sd, F.dayofweek(sd) - F.lit(1))
        ed = F.date_sub(ed, F.dayofweek(ed) - F.lit(1))
        days = _safe_seq(F.date_add(sd, 7), F.date_sub(ed, 7), F.expr("interval 7 days"))
    elif unit == "MONTHS":
        # interior months (:376-399)
        days = _safe_seq(
            F.add_months(F.trunc(sd, "month"), 1),
            F.add_months(F.trunc(ed, "month"), -1),
            F.expr("interval 1 month"),
        )
    elif unit == "QUARTERS":
        # quarter starts; end shrunk one quarter, start NOT advanced
        # (:401-433 — the reference's asymmetric edge rule)
        days = _safe_seq(
            F.trunc(sd, "quarter"),
            F.add_months(F.trunc(ed, "quarter"), -3),
            F.expr("interval 3 months"),
        )
    else:
        raise ValueError(f"bad unit: {unit}")

    return base.select(F.explode(days).alias("d")).select(
        _day_to_utc_ts(F.col("d"), zone).alias("bucket")
    )


def resolve_zone(spark: SparkSession, zone: str) -> tzinfo:
    """``zone`` as Spark reads it, as a Python ``tzinfo``.

    The id goes through Spark's own parser (``DateTimeUtils.getZoneId``,
    one py4j call, no job), so the short ids (``PST``, ``EST``), offset
    forms (``+8:00``, ``GMT+8``, ``UTC+8``, ``Z``) and ``Etc/GMT+8``
    mean what they mean in Spark's ``from_utc_timestamp``, and an id
    Spark rejects (``utc``, ``Bogus/Zone``) raises Spark's
    ``INVALID_TIMEZONE`` error. A fixed offset becomes a
    ``datetime.timezone``; a region becomes a ``ZoneInfo``, whose rules
    come from the host's tz database (``/usr/share/zoneinfo``, else the
    ``tzdata`` package), not the JVM's: the driver axis follows the
    host database while the roll-up buckets follow the JVM's, so the
    two can disagree for a transition one database has and the other
    lacks."""
    zid = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(zone).normalized()
    if zid.getClass().getName() == "java.time.ZoneOffset":
        return timezone(timedelta(seconds=zid.getTotalSeconds()))
    return ZoneInfo(zid.getId())


#: Most buckets one driver axis may hold. The window comes from the
#: request and HOURS ignores the clamp, so a wider axis is refused
#: before it is built.
MAX_AXIS_BUCKETS = 100_000


def _steps(first: int, last: int, step: int) -> range:
    """``range(first, last + 1, step)``; ValueError past
    :data:`MAX_AXIS_BUCKETS` entries."""
    r = range(first, last + 1, step)
    if len(r) > MAX_AXIS_BUCKETS:
        raise ValueError(f"time window spans {len(r)} buckets, over {MAX_AXIS_BUCKETS}")
    return r


def _instant(ms: int) -> datetime:
    return _EPOCH + timedelta(milliseconds=ms)


def _month_index(d: date) -> int:
    return d.year * 12 + d.month - 1


def _month_starts(first: int, last: int, step: int) -> list[date]:
    """First days of the months ``first``, ``first + step``, … up to
    ``last``, given as month indices; empty when ``first > last``."""
    return [date(m // 12, m % 12 + 1, 1) for m in _steps(first, last, step)]


def _every(first: date, last: date, step: int) -> list[date]:
    """``first``, ``first + step`` days, … up to ``last``; empty when
    ``first > last``."""
    return [first + timedelta(days=i) for i in _steps(0, (last - first).days, step)]


def driver_axis(
    unit: str,
    tz: tzinfo,
    start_ms: int,
    end_ms: int,
    min_ms: int | None = None,
    max_ms: int | None = None,
) -> list[tuple[datetime, str]]:
    """:func:`dense_axis` computed in Python, with each bucket's local
    ``yyyy-MM-dd`` date: ascending (naive-UTC bucket, date) pairs.

    ``tz`` is the zone from :func:`resolve_zone`; ``min_ms``/``max_ms``
    is the A10 clamp (``None`` leaves that side unclamped, as Spark's
    ``greatest``/``least`` skip NULL), ignored for HOURS. Local midnight
    takes ``fold=0``: in a DST gap that is Java's shift-forward
    instant, in an overlap its earlier offset. The date comes from the
    bucket instant, as ``date_format(from_utc_timestamp(bucket))``
    renders it, not from the sequence date: a local day that does not
    exist (``Pacific/Apia`` 2011-12-30) renders as the day it shifts
    into."""
    unit = unit.upper()
    if unit == "HOURS":
        # raw request bounds, hour-floored, inclusive (usage_data.rb:313-324);
        # both are converted first, so a bound past datetime's range
        # fails before any bucket is built
        first, last = _instant(start_ms // HOUR_MS * HOUR_MS), _instant(end_ms // HOUR_MS * HOUR_MS)
        hours = (last - first) // timedelta(hours=1)
        buckets = [first + timedelta(hours=h) for h in _steps(0, hours, 1)]
    else:
        s = start_ms if min_ms is None else max(start_ms, min_ms)
        e = end_ms if max_ms is None else min(end_ms, max_ms)
        sd, ed = _instant(s).astimezone(tz).date(), _instant(e).astimezone(tz).date()
        if unit == "DAYS":
            # interior days only: start.next_day .. end.prev_day (:326-347)
            dates = _every(sd + timedelta(days=1), ed - timedelta(days=1), 1)
        elif unit == "WEEKS":
            # Sunday of each bound, then shrink one week per side (:349-374)
            sd -= timedelta(days=sd.isoweekday() % 7)
            ed -= timedelta(days=ed.isoweekday() % 7)
            dates = _every(sd + timedelta(days=7), ed - timedelta(days=7), 7)
        elif unit == "MONTHS":
            # interior months (:376-399)
            dates = _month_starts(_month_index(sd) + 1, _month_index(ed) - 1, 1)
        elif unit == "QUARTERS":
            # quarter starts; end shrunk one quarter, start NOT advanced
            # (:401-433 — the reference's asymmetric edge rule)
            dates = _month_starts(_month_index(sd) // 3 * 3, _month_index(ed) // 3 * 3 - 3, 3)
        else:
            raise ValueError(f"bad unit: {unit}")
        buckets = [datetime.combine(d, time(), tz).astimezone(timezone.utc) for d in dates]
    return [(b.replace(tzinfo=None), b.astimezone(tz).date().isoformat()) for b in buckets]


def clamp_range(usage: DataFrame, time_col: str = "time") -> DataFrame:
    """A10 — 1-row (min_ms, max_ms) clamp frame from the cube."""
    return usage.agg(
        F.unix_millis(F.min(time_col).cast("timestamp")).alias("min_ms"),
        F.unix_millis(F.max(time_col).cast("timestamp")).alias("max_ms"),
    )


def timeseries(
    series: DataFrame,
    axis: DataFrame,
    users: list[str],
    users_to_aggregate: list[str] | None = None,
    other_label: str = "__other__",
) -> DataFrame:
    """§3.2 steps 5-6: per-user dense series for ``users`` plus one
    aggregated series for ``users_to_aggregate`` (A12), zero-filled on
    the axis (W7). ``series`` has (userName, bucket, value)."""
    sel = series.filter(F.col("userName").isin(users))
    parts = [sel]
    if users_to_aggregate:
        agg = (
            series.filter(F.col("userName").isin(users_to_aggregate))
            .groupBy("bucket")
            .agg(F.sum("value").alias("value"))
            .select(F.lit(other_label).alias("userName"), "bucket", "value")
        )
        parts.append(agg)
    combined = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    names = users + ([other_label] if users_to_aggregate else [])
    axis_users = axis.crossJoin(
        F.broadcast(
            combined.sparkSession.createDataFrame([(u,) for u in names], "userName string")
        )
    )
    return axis_users.join(combined, ["bucket", "userName"], "left").select(
        "userName",
        "bucket",
        F.coalesce(F.col("value"), F.lit(0)).alias("value"),
    )


def csv_table(
    series: DataFrame,
    axis: DataFrame,
    users: list[str],
    zone: str,
    to_hours: bool = True,
) -> DataFrame:
    """S11 — ``/api/table`` shape (app.rb:136-156): one row per
    bucket, ``time`` rendered as the local %Y-%m-%d date, one column
    per user, minutes→hours via a single division."""
    dense = timeseries(series, axis, users)
    val = (F.col("value") / 60.0) if to_hours else F.col("value")
    pivoted = (
        dense.withColumn("value", val)
        .groupBy("bucket")
        .pivot("userName", users)
        .sum("value")
    )
    out = pivoted.select(
        F.date_format(F.from_utc_timestamp(F.col("bucket").cast("timestamp"), zone), "yyyy-MM-dd").alias("time"),
        *[F.coalesce(F.col(u), F.lit(0.0)).alias(u) for u in users],
    )
    return out.orderBy("time")
