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


def filter_usable_attempts(attempts: DataFrame) -> DataFrame:
    """P8 — the usage stage's quality gate
    (ComputeUsagePerHour.java:232-255): drop attempts with null
    status or null/non-positive start/finish times."""
    return attempts.filter(
        F.col("taskStatus").isNotNull()
        & F.col("startTime").isNotNull()
        & (F.col("startTime") > 0)
        & F.col("finishTime").isNotNull()
        & (F.col("finishTime") > 0)
    )


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
    a = attempts
    start, end = F.col("startTime"), F.col("finishTime")
    cpu = F.element_at(F.col("counters"), "CPU_MILLISECONDS")
    spilled = F.element_at(F.col("counters"), "SPILLED_RECORDS")
    shuffle = F.element_at(F.col("counters"), "REDUCE_SHUFFLE_BYTES")

    # Hour indices floor(start/H) .. floor((end-1)/H): the last bucket
    # is the one whose start is strictly below `end` (loop condition
    # `currentTime < end`, ComputeUsagePerHour.java:285).
    hours = F.sequence(
        F.floor(start / HOUR_MS),
        F.floor((end - F.lit(1)) / HOUR_MS),
    )
    exploded = a.filter(end > start).select(
        "*",
        F.explode(hours).alias("hour_idx"),
        cpu.alias("_cpu"),
        spilled.alias("_spilled"),
        shuffle.alias("_shuffle"),
    )

    bucket = F.col("hour_idx") * HOUR_MS
    bucket_end = bucket + HOUR_MS
    overlap = F.least(bucket_end, end) - F.greatest(bucket, start)
    pct = overlap / (end - start)

    return exploded.select(
        F.col("user"),
        F.timestamp_millis(bucket).cast("timestamp_ntz").alias("time"),
        F.col("cluster"),
        F.col("excess"),
        F.col("type"),
        F.col("taskStatus").alias("status"),
        # inclusive boundary tests (ComputeUsagePerHour.java:324-332)
        ((bucket_end >= start) & (start >= bucket)).cast("int").alias("started"),
        ((bucket_end >= end) & (end >= bucket)).cast("int").alias("finished"),
        (overlap / 60000.0).alias("elapsedMinutes"),
        (pct * F.col("_cpu") / 60000.0).alias("cpuMinutes"),
        # Java (long) cast truncates toward zero; operands are >= 0.
        F.floor(pct * F.col("_spilled")).cast("long").alias("spilledRecords"),
        F.col("_shuffle").alias("reduceShuffleBytes"),
        # Exact integer twins of the minutes measures: summing these is
        # order-independent (reproducible on any cluster) where double
        # minutes are not. elapsedMs*1/60000 == elapsedMinutes.
        overlap.cast("long").alias("elapsedMs"),
        F.floor(pct * F.col("_cpu")).cast("long").alias("cpuMsProrated"),
    )


def aggregate_usage(per_hour_rows: DataFrame) -> DataFrame:
    """A3 — final sum per cube key (ComputeUsagePerHour.java:393-446).
    Spark ``sum`` is null-skipping like the reference's
    null-preserving pairwise adds: all-null groups stay null."""
    return per_hour_rows.groupBy(*KEY_COLS).agg(
        F.sum("started").cast("int").alias("started"),
        F.sum("finished").cast("int").alias("finished"),
        F.sum("elapsedMinutes").alias("elapsedMinutes"),
        F.sum("cpuMinutes").alias("cpuMinutes"),
        F.sum("spilledRecords").alias("spilledRecords"),
        F.sum("reduceShuffleBytes").alias("reduceShuffleBytes"),
    )


def aggregate_usage_exact(per_hour_rows: DataFrame) -> DataFrame:
    """A3 on the exact-integer measure twins (ms instead of minutes):
    bit-identical sums regardless of partitioning / combine order, so
    a distributed run and a single-threaded oracle always agree."""
    return per_hour_rows.groupBy(*KEY_COLS).agg(
        F.sum("started").cast("long").alias("started"),
        F.sum("finished").cast("long").alias("finished"),
        F.sum("elapsedMs").alias("elapsedMs"),
        F.sum("cpuMsProrated").alias("cpuMsProrated"),
        F.sum("spilledRecords").alias("spilledRecords"),
        F.sum("reduceShuffleBytes").alias("reduceShuffleBytes"),
    )


def build_usage_per_hour(attempts: DataFrame) -> DataFrame:
    """A1+A2+A3 — attempts → hourly usage cube."""
    return aggregate_usage(explode_attempt_hours(filter_usable_attempts(attempts)))
