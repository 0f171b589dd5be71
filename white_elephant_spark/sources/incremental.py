"""Incremental, idempotent cube refresh (I1-I5 + S7 in SURVEY.md §2.7).

The reference's incremental machinery, re-expressed Spark-first:

- **I1/I2 skip-if-output-exists**: the batch driver enumerates
  (cluster, year, day) work units and skips days whose output dir
  already exists, except the last ``num.days.forced`` days which are
  always reprocessed to pick up late/partial data
  (util/JobStatsProcessing.java:51-91;
  analysis/ComputeUsagePerHour.java:137-157;
  hadoop/config/jobs/base.properties:16-21).
  Here: :func:`plan_days` diffs the input's day range against the
  existing ``day=`` partition directories, unioning in the forced
  window.

- **S7 staged atomic output** (mapreduce/lib/job/StagedOutputJob.java
  :170-214) and **I5 per-file atomicity**
  (server/app/usage_file_load_task.rb:150-163): Spark's dynamic
  partition overwrite replaces exactly the partitions present in the
  new write, each committed atomically by the file committer — the
  partition is the unit of consistency, like the reference's staged
  day directory.

- **I3 changed-file reload** (server/app/usage_loader.rb:83-163) maps
  to the forced-window rebuild: a day partition is always recomputed
  *from scratch* out of all current input for that day, never
  appended to, so reprocessing is idempotent.

Storage: all directory/file probing goes through the listing
abstraction (sources/listing.py) — ``LocalListing`` for tests,
``HadoopFsListing`` for HDFS/S3/GCS/ABFS — so the incremental state
survives object storage; the reference's equivalent probe is
``FileSystem.exists`` (JobStatsProcessing.java:71-79).

Scale: the refresh cost is O(days changed) in the write, not
O(history). The input is materialized once per refresh: ``refresh``
persists the attempts it is given, one aggregate over them returns
the usable day range and the cluster set, and the write of the
planned day partitions reads the same persisted rows; the cache is
released before ``refresh`` returns or raises. Each refresh therefore
scans and reconstructs its input once, the rows entering the write
are exactly the rows the plan was made from, and the write touches
only the planned (cluster, day) partitions. Nothing prunes the input
scan itself: the caller decides which logs a refresh reads.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import literal
from white_elephant_spark.operators import usage
from white_elephant_spark.sources.listing import Listing, LocalListing

DAY_MS = 86_400_000


def existing_cluster_days(
    path: str, listing: Listing | None = None
) -> set[tuple[str, date]]:
    """I1 — the high-water-mark state at the reference's granularity:
    which (cluster, day) partitions exist under ``path``. The
    reference probes existence per cluster per day
    (JobStatsProcessing.java:71-79) — day-only tracking would let one
    cluster's built day permanently suppress building that day for a
    cluster whose history arrives later (late onboarding). Listing
    goes through the storage abstraction (sources/listing.py); pass
    :class:`~white_elephant_spark.sources.listing.HadoopFsListing`
    when the cube lives on HDFS/object storage."""
    listing = listing or LocalListing()
    out: set[tuple[str, date]] = set()
    for cluster_dir in listing.list_subdirs(path):
        if not cluster_dir.startswith("cluster="):
            continue
        cluster = cluster_dir[len("cluster=") :]
        for day_dir in listing.list_subdirs(os.path.join(path, cluster_dir)):
            if not day_dir.startswith("day="):
                continue
            try:
                out.add((cluster, date.fromisoformat(day_dir[len("day=") :])))
            except ValueError:
                # A foreign/hand-created dir (day=__HIVE_DEFAULT_
                # PARTITION__, day=backup) must not crash-loop every
                # future refresh — an unparseable partition simply
                # isn't high-water-mark state (drop-don't-error).
                continue
    return out


#: Min/max calendar day (GMT) any attempt's buckets can touch, over
#: P8-usable attempts only (``usage.USABLE``): an unusable attempt can
#: never contribute a bucket, and a single epoch-zero garbage row would
#: otherwise stretch the planned range back to 1970, materializing a
#: ~20k-day work list that ``build_day_cube`` then filters to nothing
#: on every refresh.
_DAY_RANGE = (
    f"min(CASE WHEN {usage.USABLE} THEN to_date(timestamp_millis(startTime)) END) AS lo",
    f"max(CASE WHEN {usage.USABLE} THEN to_date(timestamp_millis(finishTime)) END) AS hi",
)


def input_day_range(attempts: DataFrame) -> tuple[date | None, date | None]:
    """(lo, hi) days of the usable attempts; (None, None) when there
    are none."""
    lo, hi = attempts.selectExpr(*_DAY_RANGE).first()
    return lo, hi


def input_plan(attempts: DataFrame) -> tuple[date | None, date | None, list]:
    """:func:`input_day_range` and the distinct ``cluster`` values of
    ALL attempts (usable or not, null included), in one aggregate.
    ``collect_set`` drops nulls, so each cluster rides in a struct."""
    lo, hi, clusters = attempts.selectExpr(
        *_DAY_RANGE, "collect_set(struct(cluster)) AS clusters"
    ).first()
    return lo, hi, [c for (c,) in clusters]


def plan_days(
    lo: date, hi: date, existing: set[date], num_days_forced: int = 5
) -> list[date]:
    """I1 work-unit selection: every day in [lo, hi] without existing
    output, plus the last ``num_days_forced`` days of the range
    unconditionally (base.properties:16-21 ``num.days.forced``)."""
    all_days = [lo + timedelta(days=i) for i in range((hi - lo).days + 1)]
    forced_floor = hi - timedelta(days=num_days_forced - 1)
    return [d for d in all_days if d not in existing or d >= forced_floor]


def plan_cluster_days(
    lo: date,
    hi: date,
    clusters: list[str],
    existing: set[tuple[str, date]],
    num_days_forced: int = 5,
) -> set[tuple[str, date]]:
    """Per-cluster work-unit selection — :func:`plan_days` at the
    reference's (cluster, day) granularity: for EACH input cluster,
    every day in [lo, hi] that cluster lacks, plus the forced window
    unconditionally. A day built for cluster A does not suppress
    building it for newly-arrived cluster B."""
    out: set[tuple[str, date]] = set()
    for c in clusters:
        have = {d for cc, d in existing if cc == c}
        out.update((c, d) for d in plan_days(lo, hi, have, num_days_forced))
    return out


def build_day_cube(
    attempts: DataFrame,
    days: list[date],
    pairs: set[tuple[str, date]] | None = None,
) -> DataFrame:
    """Exact-integer hourly cube restricted to bucket days ∈ ``days``
    (and, when ``pairs`` is given, to planned (cluster, day) units —
    clusters that already have a day keep it untouched).

    The coarse ``finishTime``/``startTime`` range predicate is applied
    *before* the explode, so attempts outside the days never explode
    (an attempt only contributes to a day its [start, finish) span
    overlaps); the precise per-bucket filter runs after. ``pairs`` is work-list-sized
    (clusters × missing days), so its IN-filter is a broadcast-safe
    literal list, never a join.
    """
    if not days:
        raise ValueError("no days to build")
    lo, hi = min(days), max(days)
    lo_ms = (lo - date(1970, 1, 1)).days * DAY_MS  # 00:00 GMT of first day
    hi_ms = ((hi - date(1970, 1, 1)).days + 1) * DAY_MS  # end of last day
    att = attempts.filter(f"finishTime > {lo_ms} AND startTime < {hi_ms}")
    rows = usage.explode_attempt_hours(usage.filter_usable_attempts(att))
    if pairs is not None:
        # One predicate leg per planned day: (day == d AND cluster IN
        # {clusters planned for d}). A delimiter-joined string key
        # could alias a cluster name containing the delimiter into (or
        # out of) the plan; structural predicates cannot. Leg count is
        # work-list-bounded (≤ window days), each an IN literal list.
        by_day: dict[date, list[str]] = {}
        for c, d in sorted(pairs):
            by_day.setdefault(d, []).append(c)
        legs = [
            f"(to_date(time) = CAST('{d.isoformat()}' AS DATE)"
            f" AND cluster IN ({', '.join(map(literal, cs))}))"
            for d, cs in sorted(by_day.items())
        ] or ["false"]  # empty plan: nothing to rebuild
        rows = rows.filter(" OR ".join(legs))
    else:
        rows = rows.filter(
            f"to_date(time) IN ({', '.join(literal(d.isoformat()) for d in days)})"
        )
    return usage.aggregate_usage_exact(rows)


def write_day_partitions(cube: DataFrame, path: str) -> None:
    """S7/I5 — dynamic partition overwrite by (cluster, day): only the
    partitions present in ``cube`` are replaced; everything else is
    untouched. Layout mirrors the reference's
    ``<root>/<cluster>/<yyyy>/<MMdd>`` day directories
    (JobStatsProcessing.java:62-67)."""
    spark = cube.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # Repartition on the partition keys first: one task owns each
        # (cluster, day), producing one well-sized file per partition
        # dir rather than shuffle_partitions × days small files.
        (
            cube.withColumn("day", F.expr("to_date(time)"))
            .repartition("cluster", "day")
            .write.mode("overwrite")
            .partitionBy("cluster", "day")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def refresh(
    attempts: DataFrame, path: str, num_days_forced: int = 5, listing: Listing | None = None
) -> list[date]:
    """I1-I5 end to end: plan the day set from the input range and the
    existing partitions, rebuild exactly those day partitions from all
    current input, overwrite them atomically. Returns the days built.
    Re-running with unchanged input is a no-op beyond the forced
    window and idempotent inside it.

    The input is evaluated once: it is persisted for the call (unless
    the caller already cached it), planned from one aggregate
    (:func:`input_plan`) and written from the same cached rows, then
    released, also when the write fails."""
    owned = attempts.storageLevel == StorageLevel.NONE
    if owned:
        attempts = attempts.persist()
    try:
        lo, hi, clusters = input_plan(attempts)
        if lo is None:
            return []
        pairs = plan_cluster_days(
            lo, hi, clusters, existing_cluster_days(path, listing), num_days_forced
        )
        days = sorted({d for _c, d in pairs})
        if days:
            write_day_partitions(build_day_cube(attempts, days, pairs=pairs), path)
        return days
    finally:
        if owned:
            attempts.unpersist()


def read_cube(spark: SparkSession, path: str) -> DataFrame:
    """Read the materialized cube back; partition columns are
    reattached by partition discovery, ``day`` is dropped (derivable
    from ``time``)."""
    return spark.read.parquet(path).drop("day")
