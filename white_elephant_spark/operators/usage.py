"""Hourly usage-cube materialization (A1-A3 in SURVEY.md §2.4).

The reference walks each attempt's [startTime, finishTime) span across
GMT hour boundaries in an imperative mapper loop
(analysis/ComputeUsagePerHour.java:270-338 ``writeStats``), emitting
one prorated stats record per touched hour, then sums per
(user, hour, cluster, excess, type, status) key in the reducer
(:393-446). Spark-first version: ``sequence`` + ``explode`` generate
the hour buckets declaratively, overlap arithmetic is plain column
math, and the final ``groupBy().agg(sum)`` gets map-side partial
aggregation from the hash-aggregate for free. Everything is
whole-stage-codegen'd — no UDF, no Python.

Reference quirks preserved exactly (SURVEY §4):
- loop condition ``currentTime < end``: a zero-duration attempt emits
  **no** buckets (not even started/finished); an attempt finishing
  exactly on an hour boundary books its ``finished`` flag into the
  *preceding* hour (the boundary bucket itself is never emitted).
- ``cpuMinutes`` and ``spilledRecords`` are prorated by
  ``overlap/(end-start)``; ``spilledRecords`` is truncated to a long
  *per bucket* (the Java ``(long)`` cast, ComputeUsagePerHour.java:315).
- ``reduceShuffleBytes`` is **not** prorated — the full counter value
  repeats in every bucket the attempt touches (:317-320).
- ``started``/``finished`` use the inclusive boundary tests of
  :324-332.
- hour truncation is GMT (``timeZone`` static, :60), so bucketing is
  pure epoch-ms arithmetic — no calendar, no DST.

Deliberate deviation: the reference THROWS on ``finishTime <
startTime`` (ComputeUsagePerHour.java:275-278), killing the whole
job for one bad record; this pipeline's drop-don't-error contract
drops the row instead (the ``end > start`` filter subsumes both the
reverse-order and zero-duration cases). Neither engine guards
against a wildly corrupt finishTime (the reference walks its loop
once per hour of the bogus span; ``sequence``+``explode``
materializes the same per-row bucket list) — on pathological input
both degrade, in the same O(span) way, rather than silently
altering clean-data semantics with a cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOUR_MS = 3_600_000

#: cube dimension columns (Stats.avsc:24-50 AttemptStatsKey)
KEY_COLS = ("user", "time", "cluster", "excess", "type", "status")
#: cube measure columns (Stats.avsc:52-64 AttemptStatsValue)
MEASURE_COLS = (
    "started",
    "finished",
    "elapsedMinutes",
    "cpuMinutes",
    "spilledRecords",
    "reduceShuffleBytes",
)

#: P8 — the usage stage's quality gate as SQL
#: (ComputeUsagePerHour.java:232-255): status set, start and finish
#: times set and positive. The expressions below are Spark SQL text
#: (functions/sqltext.py says why).
USABLE = (
    "taskStatus IS NOT NULL AND startTime IS NOT NULL AND startTime > 0"
    " AND finishTime IS NOT NULL AND finishTime > 0"
)


def filter_usable_attempts(attempts: DataFrame) -> DataFrame:
    """P8 — drop attempts with null status or null/non-positive
    start/finish times (:data:`USABLE`)."""
    return attempts.filter(USABLE)


def explode_attempt_hours(attempts: DataFrame) -> DataFrame:
    """A1 — one row per (attempt × GMT hour touched), with prorated
    measures. Input columns: user, cluster, excess, type(MAP|REDUCE),
    taskStatus, startTime/finishTime (epoch ms), counters
    map<string,long> (keys CPU_MILLISECONDS / SPILLED_RECORDS /
    REDUCE_SHUFFLE_BYTES).

    Scale note: bucket fan-out is bounded by attempt duration (an
    attempt spanning H hours produces H rows); the explode happens
    after scan-side filters, so at 100 TB the row multiplication rides
    on already-pruned columns, and no per-attempt state ever exists
    outside a single generated row.
    """
    # Hour indices floor(start/H) .. floor((end-1)/H): the last bucket
    # is the one whose start is strictly below `end` (loop condition
    # `currentTime < end`, ComputeUsagePerHour.java:285).
    hours = f"sequence(floor(startTime / {HOUR_MS}), floor((finishTime - 1) / {HOUR_MS}))"
    exploded = attempts.filter("finishTime > startTime").selectExpr(
        "*",
        f"explode({hours}) AS hour_idx",
        "element_at(counters, 'CPU_MILLISECONDS') AS _cpu",
        "element_at(counters, 'SPILLED_RECORDS') AS _spilled",
        "element_at(counters, 'REDUCE_SHUFFLE_BYTES') AS _shuffle",
    )

    bucket = f"(hour_idx * {HOUR_MS})"
    bucket_end = f"({bucket} + {HOUR_MS})"
    overlap = f"(least({bucket_end}, finishTime) - greatest({bucket}, startTime))"
    pct = f"({overlap} / (finishTime - startTime))"

    return exploded.selectExpr(
        "user",
        f"CAST(timestamp_millis({bucket}) AS TIMESTAMP_NTZ) AS time",
        "cluster",
        "excess",
        "type",
        "taskStatus AS status",
        # inclusive boundary tests (ComputeUsagePerHour.java:324-332)
        f"CAST({bucket_end} >= startTime AND startTime >= {bucket} AS INT) AS started",
        f"CAST({bucket_end} >= finishTime AND finishTime >= {bucket} AS INT) AS finished",
        f"{overlap} / 60000.0D AS elapsedMinutes",
        f"{pct} * _cpu / 60000.0D AS cpuMinutes",
        # Java (long) cast truncates toward zero; operands are >= 0.
        f"CAST(floor({pct} * _spilled) AS BIGINT) AS spilledRecords",
        "_shuffle AS reduceShuffleBytes",
        # Exact integer twins of the minutes measures: summing these is
        # order-independent (reproducible on any cluster) where double
        # minutes are not. elapsedMs*1/60000 == elapsedMinutes.
        f"CAST({overlap} AS BIGINT) AS elapsedMs",
        f"CAST(floor({pct} * _cpu) AS BIGINT) AS cpuMsProrated",
    )


def aggregate_usage(per_hour_rows: DataFrame) -> DataFrame:
    """A3 — final sum per cube key (ComputeUsagePerHour.java:393-446).
    Spark ``sum`` is null-skipping like the reference's
    null-preserving pairwise adds: all-null groups stay null."""
    sums = [
        "CAST(sum(started) AS INT) AS started",
        "CAST(sum(finished) AS INT) AS finished",
        *(f"sum({c}) AS {c}" for c in MEASURE_COLS[2:]),
    ]
    return per_hour_rows.groupBy(*KEY_COLS).agg(*map(F.expr, sums))


def aggregate_usage_exact(per_hour_rows: DataFrame) -> DataFrame:
    """A3 on the exact-integer measure twins (ms instead of minutes):
    bit-identical sums regardless of partitioning / combine order, so
    a distributed run and a single-threaded oracle always agree."""
    sums = [
        "CAST(sum(started) AS BIGINT) AS started",
        "CAST(sum(finished) AS BIGINT) AS finished",
        *(
            f"sum({c}) AS {c}"
            for c in ("elapsedMs", "cpuMsProrated", "spilledRecords", "reduceShuffleBytes")
        ),
    ]
    return per_hour_rows.groupBy(*KEY_COLS).agg(*map(F.expr, sums))


def build_usage_per_hour(attempts: DataFrame) -> DataFrame:
    """A1+A2+A3 — attempts → hourly usage cube."""
    return aggregate_usage(explode_attempt_hours(filter_usable_attempts(attempts)))
