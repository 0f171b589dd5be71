"""I1-I5 incremental refresh semantics on hand-built attempts."""

from __future__ import annotations

import contextlib
from datetime import date

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.sources import incremental as inc

HOUR = 3_600_000
DAY = 24 * HOUR
# day 0 = 1970-01-01
D = lambda n: date.fromordinal(719163 + n)  # noqa: E731


def _attempts(spark, rows):
    """rows: (id, startMs, finishMs); fixed dims, CPU counter = duration."""
    return spark.createDataFrame(
        [
            (
                "j1",
                "t1",
                aid,
                "u0",
                "c1",
                "MAP",
                "SUCCESS",
                False,
                s,
                f,
                {"CPU_MILLISECONDS": f - s, "SPILLED_RECORDS": 0, "REDUCE_SHUFFLE_BYTES": 7},
            )
            for aid, s, f in rows
        ],
        "jobId string, taskId string, taskAttemptId string, user string, cluster string,"
        " type string, taskStatus string, excess boolean, startTime long, finishTime long,"
        " counters map<string,long>",
    )


def test_plan_days_skips_existing_and_forces_tail():
    existing = {D(0), D(1), D(2), D(5)}
    got = inc.plan_days(D(0), D(6), existing, num_days_forced=2)
    # 3,4,6 missing; 5,6 forced
    assert got == [D(3), D(4), D(5), D(6)]


def test_refresh_two_generations_equals_full(spark, tmp_path):
    path = str(tmp_path / "cube")
    # gen1: attempts on days 0-1; one spans midnight of day 1→2 boundary? no: keep ≤ day1
    gen1 = _attempts(
        spark,
        [("a1", 1 * HOUR, 3 * HOUR), ("a2", DAY + HOUR, DAY + 2 * HOUR)],
    )
    built = inc.refresh(gen1, path, num_days_forced=1)
    assert built == [D(0), D(1)]
    assert inc.existing_cluster_days(path) == {("c1", D(0)), ("c1", D(1))}

    # gen2 adds a late attempt starting on day 1 and spanning into day 2
    late = [("a3", DAY + 23 * HOUR + 1800_000, 2 * DAY + 1800_000)]
    full = _attempts(
        spark,
        [("a1", 1 * HOUR, 3 * HOUR), ("a2", DAY + HOUR, DAY + 2 * HOUR)] + late,
    )
    built2 = inc.refresh(full, path, num_days_forced=2)
    # day 0 skipped (exists, outside forced window); days 1-2 rebuilt
    assert built2 == [D(1), D(2)]

    got = inc.read_cube(spark, path)
    want = inc.build_day_cube(full, [D(0), D(1), D(2)])
    merged = (
        got.groupBy("time").agg(F.sum("elapsedMs").alias("ms")).orderBy("time").collect()
    )
    want_rows = (
        want.groupBy("time").agg(F.sum("elapsedMs").alias("ms")).orderBy("time").collect()
    )
    assert merged == want_rows
    # total elapsed = sum of attempt durations
    assert sum(r["ms"] for r in merged) == 2 * HOUR + HOUR + HOUR


def test_refresh_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "cube")
    att = _attempts(spark, [("a1", HOUR, 2 * HOUR)])
    inc.refresh(att, path)
    first = sorted(map(tuple, inc.read_cube(spark, path).collect()))
    inc.refresh(att, path)  # same input again: forced rebuild, same bytes
    second = sorted(map(tuple, inc.read_cube(spark, path).collect()))
    assert first == second


def test_build_day_cube_requires_days(spark):
    with pytest.raises(ValueError):
        inc.build_day_cube(_attempts(spark, []), [])


def test_planned_pairs_are_structural_not_string_keys(spark):
    """A cluster name containing the old '|' delimiter (or any other
    text) must select exactly its own planned (cluster, day) units —
    the pair filter is structural predicates, not string concat."""
    rows = [
        ("weird", "c|1970-01-02", "a1", HOUR, 2 * HOUR),          # day 0
        ("weird", "c|1970-01-02", "a2", DAY + HOUR, DAY + 2 * HOUR),  # day 1
        ("plain", "c", "a3", HOUR, 2 * HOUR),                      # day 0
        ("plain", "c", "a4", DAY + HOUR, DAY + 2 * HOUR),          # day 1
        # quote and backslashes: the predicate is SQL text
        ("quoted", "it's\\' c\\", "a5", HOUR, 2 * HOUR),          # day 0
        ("quoted", "it's\\' c\\", "a6", DAY + HOUR, DAY + 2 * HOUR),  # day 1
    ]
    att = spark.createDataFrame(
        [
            (
                j, "t1", aid, "u0", c, "MAP", "SUCCESS", False, s, f,
                {"CPU_MILLISECONDS": f - s, "SPILLED_RECORDS": 0, "REDUCE_SHUFFLE_BYTES": 7},
            )
            for j, c, aid, s, f in rows
        ],
        "jobId string, taskId string, taskAttemptId string, user string, cluster string,"
        " type string, taskStatus string, excess boolean, startTime long, finishTime long,"
        " counters map<string,long>",
    )
    got = inc.build_day_cube(
        att,
        [D(0), D(1)],
        pairs={("c", D(0)), ("c|1970-01-02", D(1)), ("it's\\' c\\", D(1))},
    )
    units = sorted(
        (r["cluster"], r["day"])
        for r in got.select("cluster", F.to_date("time").alias("day")).distinct().collect()
    )
    assert units == [("c", D(0)), ("c|1970-01-02", D(1)), ("it's\\' c\\", D(1))]
    # and an empty plan builds nothing (guard, not IndexError)
    assert inc.build_day_cube(att, [D(0)], pairs=set()).count() == 0


def test_hadoopfs_listing_matches_local(spark, tmp_path):
    """The HadoopFsListing (JVM FileSystem API — the object-storage
    path) must agree with LocalListing on the same tree, including
    hidden-file filtering and missing-path behavior."""
    from white_elephant_spark.sources import incremental as inc
    from white_elephant_spark.sources.listing import HadoopFsListing, LocalListing

    d = tmp_path / "cube"
    (d / "cluster=a" / "day=2024-01-01").mkdir(parents=True)
    (d / "cluster=a" / "day=2024-01-02").mkdir()
    (d / "cluster=b" / "day=2024-01-02").mkdir(parents=True)
    (d / "cluster=a" / "day=2024-01-01" / "x.parquet").write_bytes(b"d")
    (d / "cluster=a" / "day=2024-01-01" / "_SUCCESS").write_bytes(b"")
    (d / "cluster=a" / "day=2024-01-01" / ".hidden.parquet").write_bytes(b"h")
    # In-flight committer output: part files inside a _temporary tree
    # have non-hidden NAMES — the hidden rule must apply per path
    # segment (the reference's PathFilter runs per directory level),
    # or another writer's uncommitted data gets ingested.
    tmp = d / "cluster=a" / "day=2024-01-02" / "_temporary" / "attempt_0"
    tmp.mkdir(parents=True)
    (tmp / "part-00000.parquet").write_bytes(b"inflight")

    local, hfs = LocalListing(), HadoopFsListing(spark)
    assert sorted(hfs.list_subdirs(str(d))) == sorted(local.list_subdirs(str(d)))
    lw = local.walk_files(str(d), ".parquet")
    hw = hfs.walk_files(str(d), ".parquet")
    assert [p.rsplit("/", 1)[-1] for p in lw] == ["x.parquet"]
    assert [p.rsplit("/", 1)[-1] for p in hw] == ["x.parquet"]
    assert inc.existing_cluster_days(str(d), hfs) == inc.existing_cluster_days(str(d))
    assert hfs.list_subdirs(str(d / "nope")) == []
    assert hfs.walk_files(str(d / "nope"), ".parquet") == {}


def _attempts_c(spark, rows):
    """Like _attempts but rows are (cluster, attempt_id, start, finish)."""
    return spark.createDataFrame(
        [
            (
                "j1", "t1", aid, "u0", cl, "MAP", "SUCCESS", False, s, f,
                {"CPU_MILLISECONDS": f - s, "SPILLED_RECORDS": 0, "REDUCE_SHUFFLE_BYTES": 7},
            )
            for cl, aid, s, f in rows
        ],
        "jobId string, taskId string, taskAttemptId string, user string, cluster string,"
        " type string, taskStatus string, excess boolean, startTime long, finishTime long,"
        " counters map<string,long>",
    )


def test_late_onboarded_cluster_gets_existing_days(spark, tmp_path):
    # Reference parity (JobStatsProcessing.java:71-79): existence is
    # probed per (cluster, day). A day built for cluster A must NOT
    # suppress building that same day for cluster B whose history
    # arrives later, even outside the forced window.
    path = str(tmp_path / "cube")
    a_rows = [("ca", "a1", 1 * HOUR, 3 * HOUR), ("ca", "a2", 10 * DAY + HOUR, 10 * DAY + 2 * HOUR)]
    inc.refresh(_attempts_c(spark, a_rows), path, num_days_forced=1)
    assert inc.existing_cluster_days(path) == {("ca", D(0)), ("ca", D(10))}

    # cluster B onboards with history on day 0 — far outside forced=1
    both = _attempts_c(spark, a_rows + [("cb", "b1", 2 * HOUR, 4 * HOUR)])
    built = inc.refresh(both, path, num_days_forced=1)
    assert D(0) in built  # day 0 re-planned because cb lacks it
    got = inc.existing_cluster_days(path)
    assert ("cb", D(0)) in got and ("ca", D(0)) in got
    # and cb's rows actually landed
    cube = inc.read_cube(spark, path)
    assert cube.filter(F.col("cluster") == "cb").count() > 0
    # ca's day-0 partition survived the pair-filtered rebuild
    assert cube.filter((F.col("cluster") == "ca")).count() > 0


def test_foreign_partition_dirs_do_not_crash_planning(tmp_path):
    # A hand-created or hive-null dir under the cube root must not
    # crash-loop every future refresh: unparseable day dirs simply
    # aren't high-water-mark state (drop-don't-error).
    root = tmp_path / "cube" / "cluster=a"
    for day in ("day=2024-01-01", "day=__HIVE_DEFAULT_PARTITION__", "day=backup"):
        (root / day).mkdir(parents=True)
    got = inc.existing_cluster_days(str(tmp_path / "cube"))
    assert got == {("a", date(2024, 1, 1))}


def test_plan_cluster_days_is_per_cluster():
    existing = {("ca", D(0)), ("ca", D(1)), ("cb", D(1))}
    got = inc.plan_cluster_days(D(0), D(2), ["ca", "cb"], existing, num_days_forced=1)
    # ca lacks nothing but the forced tail; cb lacks day 0
    assert got == {("ca", D(2)), ("cb", D(0)), ("cb", D(2))}


# -- I5 fault injection: mid-write kill on the BATCH refresh path ------
# The streaming cube upsert already has kill/replay coverage
# (tests/test_streaming.py); these pin the same "better a gap than a
# subset" contract (usage_file_load_task.rb:150-163) for the batch
# refresh: a job that dies mid dynamic-partition-overwrite must leave
# (a) no partially-written day visible to planning or readers and
# (b) every previously-committed partition intact, and a clean re-run
# must converge to the from-scratch result.


@contextlib.contextmanager
def _poisoned(monkeypatch, hour_ms: int):
    """Inject a task-time failure that fires DURING the write job, not
    at planning: the cube that ``build_day_cube`` returns raises on
    its row for the hour starting at ``hour_ms``. ``refresh`` persists
    its input and plans from an aggregate over it, and that aggregate
    computes every input column, so a poison on an input column would
    fire before any write starts; a poison above the cube aggregate
    runs only in the write job's tasks. Yields the list of
    ``write_day_partitions`` entries, so a test can assert that the
    write was entered before the error."""
    build, write, entered = inc.build_day_cube, inc.write_day_partitions, []
    bucket = F.timestamp_millis(F.lit(hour_ms)).cast("timestamp_ntz")

    def poisoned_build(*args, **kwargs):
        cube = build(*args, **kwargs)
        return cube.withColumn(
            "user",
            F.when(
                F.col("time") == bucket,
                F.raise_error(F.lit("injected batch-refresh kill")).cast("string"),
            ).otherwise(F.col("user")),
        )

    def spy_write(cube, path):
        entered.append(path)
        return write(cube, path)

    with monkeypatch.context() as m:
        m.setattr(inc, "build_day_cube", poisoned_build)
        m.setattr(inc, "write_day_partitions", spy_write)
        yield entered


def test_refresh_kill_midwrite_initial_build_leaves_no_state(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "cube")
    att = _attempts(spark, [("a1", HOUR, 2 * HOUR), ("a2", DAY + HOUR, DAY + 2 * HOUR)])
    with _poisoned(monkeypatch, HOUR) as entered, pytest.raises(
        Exception, match="injected batch-refresh kill"
    ):
        inc.refresh(att, path, num_days_forced=1)
    assert entered == [path]
    # nothing committed: planning state is empty (a leftover staging
    # dir must not register as a cluster/day), so the re-run rebuilds
    # everything rather than skipping "existing" days
    assert inc.existing_cluster_days(path) == set()
    built = inc.refresh(att, path, num_days_forced=1)
    assert built == [D(0), D(1)]
    got = sorted(map(tuple, inc.read_cube(spark, path).collect()))
    fresh = str(tmp_path / "fresh")
    inc.refresh(att, fresh, num_days_forced=1)
    assert got == sorted(map(tuple, inc.read_cube(spark, fresh).collect()))


def test_refresh_kill_midwrite_keeps_committed_days_then_converges(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "cube")
    gen1 = _attempts(spark, [("a1", HOUR, 2 * HOUR)])
    assert inc.refresh(gen1, path, num_days_forced=1) == [D(0)]
    before = sorted(map(tuple, inc.read_cube(spark, path).collect()))

    # gen2 adds day 1; the poison rides only the NEW attempt's hour
    # bucket, so the kill lands while day-1 output is being produced
    gen2_rows = [("a1", HOUR, 2 * HOUR), ("a2", DAY + HOUR, DAY + 2 * HOUR)]
    gen2 = _attempts(spark, gen2_rows)
    with _poisoned(monkeypatch, DAY + HOUR) as entered, pytest.raises(
        Exception, match="injected batch-refresh kill"
    ):
        inc.refresh(gen2, path, num_days_forced=1)
    assert entered == [path]

    # gap-not-subset: day 1 must not exist (neither a partial file set
    # nor a planning entry); day 0's committed bytes are untouched
    assert inc.existing_cluster_days(path) == {("c1", D(0))}
    assert sorted(map(tuple, inc.read_cube(spark, path).collect())) == before

    # convergence: the clean re-run plans day 1 again (it never entered
    # the high-water mark) and the result equals a from-scratch build
    built = inc.refresh(gen2, path, num_days_forced=1)
    assert D(1) in built
    got = sorted(map(tuple, inc.read_cube(spark, path).collect()))
    fresh = str(tmp_path / "fresh")
    inc.refresh(gen2, fresh, num_days_forced=1)
    assert got == sorted(map(tuple, inc.read_cube(spark, fresh).collect()))


def test_refresh_kill_while_rebuilding_committed_day_keeps_old_bytes(spark, tmp_path, monkeypatch):
    # The sharpest I5 case: the forced window REBUILDS an
    # already-committed day via dynamic partition overwrite; a kill
    # mid-rebuild must leave the OLD partition bytes in place (the old
    # dir is replaced only at job commit) — not a half-written mix and
    # not a deleted day.
    path = str(tmp_path / "cube")
    gen1 = _attempts(spark, [("a1", HOUR, 2 * HOUR)])
    assert inc.refresh(gen1, path, num_days_forced=1) == [D(0)]
    before = sorted(map(tuple, inc.read_cube(spark, path).collect()))

    # same day arrives again with an extra attempt; forced window
    # covers day 0, so the plan rebuilds it — and the poison rides the
    # new attempt's hour bucket, killing the overwrite job mid-write
    gen2 = _attempts(spark, [("a1", HOUR, 2 * HOUR), ("a2", 3 * HOUR, 4 * HOUR)])
    with _poisoned(monkeypatch, 3 * HOUR) as entered, pytest.raises(
        Exception, match="injected batch-refresh kill"
    ):
        inc.refresh(gen2, path, num_days_forced=1)
    assert entered == [path]

    assert inc.existing_cluster_days(path) == {("c1", D(0))}
    assert sorted(map(tuple, inc.read_cube(spark, path).collect())) == before

    # clean re-run converges to the from-scratch result
    inc.refresh(gen2, path, num_days_forced=1)
    got = sorted(map(tuple, inc.read_cube(spark, path).collect()))
    fresh = str(tmp_path / "fresh")
    inc.refresh(gen2, fresh, num_days_forced=1)
    assert got == sorted(map(tuple, inc.read_cube(spark, fresh).collect()))


# -- one evaluation of the input per refresh ----------------------------


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_refresh_evaluates_input_once_and_releases_it(spark, tmp_path, monkeypatch):
    from pyspark.accumulators import AccumulatorParam

    class Ids(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    sc = spark.sparkContext
    seen = sc.accumulator([], Ids())

    @F.udf("long")
    def start_counted(aid, start):
        seen.add([aid])
        return start

    rows = [("a1", HOUR, 2 * HOUR), ("a2", DAY + HOUR, DAY + 2 * HOUR), ("a3", 0, HOUR)]
    # startTime feeds both the plan's day range and the cube build
    att = _attempts(spark, rows).withColumn(
        "startTime", start_counted("taskAttemptId", "startTime")
    )
    cached = _persistent_rdds(spark)
    write, jobs_before_write = inc.write_day_partitions, []

    def spy_write(cube, path):
        jobs_before_write.append(len(sc.statusTracker().getJobIdsForGroup("refresh-once")))
        return write(cube, path)

    monkeypatch.setattr(inc, "write_day_partitions", spy_write)
    # AQE runs each shuffle stage as a job of its own; off, one action
    # is one job.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("refresh-once", "refresh-once")
    try:
        assert inc.refresh(att, str(tmp_path / "cube"), num_days_forced=1) == [D(0), D(1)]
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert sorted(seen.value) == ["a1", "a2", "a3"]  # every row computed once
    assert jobs_before_write == [1]  # the planning aggregate
    assert _persistent_rdds(spark) == cached

    # released after a failed write too
    with _poisoned(monkeypatch, HOUR) as entered, pytest.raises(
        Exception, match="injected batch-refresh kill"
    ):
        inc.refresh(_attempts(spark, rows), str(tmp_path / "killed"), num_days_forced=1)
    assert entered
    assert _persistent_rdds(spark) == cached


def test_refresh_keeps_a_callers_cache(spark, tmp_path):
    att = _attempts(spark, [("a1", HOUR, 2 * HOUR)]).cache()
    att.count()
    cached = _persistent_rdds(spark)
    try:
        assert inc.refresh(att, str(tmp_path / "cube"), num_days_forced=1) == [D(0)]
        assert att.is_cached
        assert _persistent_rdds(spark) == cached
    finally:
        att.unpersist()
