"""Golden tests for parse/reconstruct/usage on handcrafted log lines —
the §4 quirk list of SURVEY.md (proration, excess labeling, merge
precedence, boundary counts, truncated-line dropping)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.operators import parse, reconstruct, usage
from white_elephant_spark.sources.catalog import ensure_engine_confs

H = 3_600_000
T0 = 1_700_000_000_000  # not hour aligned
T0H = (T0 // H) * H


def _lines(spark, rows):
    ensure_engine_confs(spark)
    return spark.createDataFrame([(i + 1, line) for i, line in enumerate(rows)], "seq int, line string")


# ---------------------------------------------------------------- parsing


def test_classify_and_noise_drop(spark):
    df = _lines(
        spark,
        [
            'Job JOBID="job_1_2" USER="alice" SUBMIT_TIME="5" .',
            'MapAttempt TASK_TYPE="MAP" TASKID="task_1_2_m_1" TASK_ATTEMPT_ID="attempt_1" TASK_STATUS="SUCCESS" START_TIME="1" FINISH_TIME="2" .',
            'Task TASKID="task_1_2_m_1" TASK_TYPE="MAP" TASK_STATUS="SUCCESS" .',
            'Meta VERSION="1" .',
            'MapAttempt TASK_TYPE="CLEANUP" TASKID="task_1_2_m_1" .',  # not MAP|REDUCE
        ],
    )
    kinds = [r[0] for r in df.selectExpr(parse.classify("line")).collect()]
    assert kinds == ["job", "attempt", "task", None, None]


def test_param_extraction_strips_escaped_quotes(spark):
    df = _lines(spark, ['Job JOBID="job_1_2" JOBNAME="my\\"job" USER="bob" .'])
    row = parse.parse_job_lines(df).collect()[0]
    assert row.jobName == "myjob"
    assert row.user == "bob"
    assert row.jobId == "job_1_2"


def test_job_status_only_success_failure(spark):
    rows = parse.parse_job_lines(
        _lines(
            spark,
            [
                'Job JOBID="job_1_1" JOB_STATUS="SUCCESS" .',
                'Job JOBID="job_1_2" JOB_STATUS="FAILURE" .',
                'Job JOBID="job_1_3" JOB_STATUS="RUNNING" .',
            ],
        )
    ).collect()
    statuses = {r.jobId: r.jobStatus for r in rows}
    assert statuses == {"job_1_1": "SUCCESS", "job_1_2": "FAILED", "job_1_3": None}


def test_counters_and_job_id_derivation(spark):
    df = _lines(
        spark,
        [
            'ReduceAttempt TASK_TYPE="REDUCE" TASKID="task_77_5_r_3" TASK_ATTEMPT_ID="attempt_77_5_r_3_0" '
            'TASK_STATUS="SUCCESS" START_TIME="10" FINISH_TIME="20" '
            'COUNTERS="[(CPU_MILLISECONDS)(CPU time)(45000)][(SPILLED_RECORDS)(Spilled Records)(1200)]" .',
        ],
    )
    row = parse.parse_attempt_lines(df).collect()[0]
    assert row.jobId == "job_77_5"
    assert row.type == "REDUCE"
    assert row.counters == {"CPU_MILLISECONDS": 45000, "SPILLED_RECORDS": 1200}


def test_truncated_attempt_dropped(spark):
    df = _lines(spark, ['MapAttempt TASK_TYPE="MAP" TASK_STATUS="SUCCESS" START_TIME="1" .'])
    assert parse.parse_attempt_lines(df).count() == 0  # no TASKID/ATTEMPT_ID


# ---------------------------------------------------------- reconstruction


def _attempt_frag(task, att, status=None, start=None, finish=None, counters=""):
    parts = [f'MapAttempt TASK_TYPE="MAP" TASKID="{task}" TASK_ATTEMPT_ID="{att}"']
    if status:
        parts.append(f'TASK_STATUS="{status}"')
    if start is not None:
        parts.append(f'START_TIME="{start}"')
    if finish is not None:
        parts.append(f'FINISH_TIME="{finish}"')
    if counters:
        parts.append(f'COUNTERS="{counters}"')
    return " ".join(parts) + " ."


def test_duplicate_attempt_fragments_merge_max_times(spark):
    # quirk 5: duplicate fragments merge with MAX of times
    # (ParseJobsFromLogs.java:575-609); counters from last fragment.
    df = _lines(
        spark,
        [
            _attempt_frag("task_1_1_m_1", "a1", "SUCCESS", 100, 900, "[(CPU_MILLISECONDS)(c)(1)]"),
            _attempt_frag("task_1_1_m_1", "a1", "SUCCESS", 200, 500, "[(CPU_MILLISECONDS)(c)(2)]"),
        ],
    )
    merged = reconstruct.merge_attempt_fragments(parse.parse_attempt_lines(df)).collect()
    assert len(merged) == 1
    m = merged[0]
    assert (m.startTime, m.finishTime) == (200, 900)
    assert m.counters == {"CPU_MILLISECONDS": 2}


def test_invalid_attempts_dropped_not_errored(spark):
    df = _lines(
        spark,
        [
            _attempt_frag("task_1_1_m_1", "a1", "SUCCESS", 100, 50),  # finish < start
            _attempt_frag("task_1_1_m_2", "a2", None, 100, 200),  # no status
            _attempt_frag("task_1_1_m_3", "a3", "SUCCESS", 100, 200),  # valid
        ],
    )
    merged = reconstruct.merge_attempt_fragments(parse.parse_attempt_lines(df))
    assert reconstruct.filter_valid_attempts(merged).count() == 1


@pytest.mark.parametrize(
    "statuses,expected",
    [
        # one success + retries: all non-success are excess
        (["FAILED", "SUCCESS", "KILLED"], [True, False, True]),
        # no success at all: FIRST (by startTime) attempt un-marked
        (["FAILED", "KILLED", "FAILED"], [False, True, True]),
        # all success (dup tasks attempts): none excess
        (["SUCCESS", "SUCCESS"], [False, False]),
    ],
)
def test_excess_labeling(spark, statuses, expected):
    rows = [
        ("job_1_1", "task_1_1_m_1", f"a{i}", s, 100 * (i + 1), 1000 * (i + 1))
        for i, s in enumerate(statuses)
    ]
    df = spark.createDataFrame(
        rows, "jobId string, taskId string, taskAttemptId string, taskStatus string, startTime long, finishTime long"
    )
    out = reconstruct.label_excess(df).orderBy("startTime").collect()
    assert [r.excess for r in out] == expected


def test_excess_labeling_tie_on_start_time(spark):
    # All-failed task whose attempts TIE on startTime: the un-mark
    # must resolve by taskAttemptId alone (the J5 order is startTime
    # then attemptId — ParseJobsFromLogs.java:709-748).
    rows = [
        ("job_1", "task_1", a, "FAILED", 100, 1000)
        for a in ("a3", "a1", "a2")
    ]
    df = spark.createDataFrame(
        rows, "jobId string, taskId string, taskAttemptId string, taskStatus string, startTime long, finishTime long"
    )
    out = {r.taskAttemptId: r.excess for r in reconstruct.label_excess(df).collect()}
    assert out == {"a1": False, "a2": True, "a3": True}


def test_excess_attempt_labeling_query_exercises_edge_cases(spark):
    # The registered J5 query must actually CONTAIN the edge cases it
    # claims: at least one all-failed task with an un-marked first
    # attempt, and at least one all-failed task whose attempts tie on
    # startTime.
    from white_elephant_spark.plans.registry import all_queries

    q = all_queries()["excess_attempt_labeling"]
    out = q.fn(spark, "/root/testdata/sf0.001")
    agg = out.groupBy("jobId", "taskId").agg(
        F.max((F.col("taskStatus") == "SUCCESS").cast("int")).alias("any_success"),
        F.sum((~F.col("excess")).cast("int")).alias("n_unmarked"),
        (F.count_distinct("startTime") == 1).cast("int").alias("tied"),
        F.count(F.lit(1)).alias("n"),
    )
    allfail = agg.filter((F.col("any_success") == 0) & (F.col("n") > 1))
    assert allfail.count() > 0
    # exactly one un-marked attempt per all-failed task
    assert allfail.filter(F.col("n_unmarked") != 1).count() == 0
    assert allfail.filter(F.col("tied") == 1).count() > 0


def test_job_fragment_merge_terminal_status(spark):
    # quirk 4: jobStatus only from lines that also carry FINISH_TIME.
    df = _lines(
        spark,
        [
            'Job JOBID="job_9_9" USER="eve" JOB_STATUS="FAILURE" SUBMIT_TIME="100" .',
            'Job JOBID="job_9_9" JOB_STATUS="SUCCESS" FINISH_TIME="900" .',
        ],
    )
    m = reconstruct.merge_job_fragments(parse.parse_job_lines(df)).collect()[0]
    assert m.jobStatus == "SUCCESS"
    assert m.user == "eve"
    assert (m.submitTime, m.finishTime) == (100, 900)


# ----------------------------------------------------------------- usage


def _attempts_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "user string, cluster string, excess boolean, type string, taskStatus string, "
        "startTime long, finishTime long, counters map<string,long>",
    )


def test_hour_explode_proration(spark):
    # attempt spanning 3 hours: T0H+1800000 .. T0H+2h (ends on boundary)
    start = T0H + 1_800_000
    end = T0H + 2 * H
    cnt = {"CPU_MILLISECONDS": 120000, "SPILLED_RECORDS": 1000, "REDUCE_SHUFFLE_BYTES": 777}
    df = _attempts_df(spark, [("u", "c", False, "MAP", "SUCCESS", start, end, cnt)])
    out = usage.explode_attempt_hours(df).orderBy("time").collect()
    # bucket at floor(end)==end is NOT emitted (loop cond currentTime < end)
    assert len(out) == 2
    b0, b1 = out
    assert b0.elapsedMs == 1_800_000 and b1.elapsedMs == H
    assert (b0.started, b0.finished) == (1, 0)
    # finished books into the PRECEDING hour for boundary-aligned end
    assert (b1.started, b1.finished) == (0, 1)
    assert b0.elapsedMinutes == 30.0 and b1.elapsedMinutes == 60.0
    # proration: 1/3 vs 2/3 of the span
    assert abs(b0.cpuMinutes - (1 / 3) * 2.0) < 1e-12
    assert b0.spilledRecords == 333 and b1.spilledRecords == 666  # floor per bucket
    # quirk 1: reduceShuffleBytes NOT prorated — full value each bucket
    assert b0.reduceShuffleBytes == 777 and b1.reduceShuffleBytes == 777


def test_zero_duration_attempt_emits_nothing(spark):
    df = _attempts_df(spark, [("u", "c", False, "MAP", "SUCCESS", T0, T0, {})])
    assert usage.explode_attempt_hours(df).count() == 0


def test_elapsed_sums_to_attempt_duration(spark):
    # property: per-attempt bucketized elapsedMs sums to the span
    rows = [
        ("u", "c", False, "MAP", "SUCCESS", T0 + i * 7_777_777, T0 + i * 7_777_777 + 5_432_100 + i, {})
        for i in range(20)
    ]
    df = _attempts_df(spark, rows)
    total = usage.explode_attempt_hours(df).agg(F.sum("elapsedMs")).collect()[0][0]
    assert total == sum(5_432_100 + i for i in range(20))


def test_cube_null_preserving_cpu(spark):
    # all-null cpu counters → cpuMinutes stays NULL after aggregation
    df = _attempts_df(spark, [("u", "c", False, "MAP", "SUCCESS", T0, T0 + 1000, {})])
    cube = usage.build_usage_per_hour(df.withColumn("taskStatus", F.lit("SUCCESS"))).collect()
    assert cube[0].cpuMinutes is None
    assert cube[0].elapsedMinutes == pytest.approx(1000 / 60000)


# ------------------------------------------------------- raw log file scan


def test_read_log_lines_seq_survives_file_splits(spark, tmp_path):
    """S1+P9: the (file_block_start, row-in-partition) seq struct must
    reproduce within-file line order even when one file is carved into
    many input splits — the geometry a 100 TB scan actually has. The
    last-wins fold over TOTAL_MAPS detects any ordering break."""
    from white_elephant_spark.operators import parse as P
    from white_elephant_spark.operators import reconstruct as R
    from white_elephant_spark.sources import logfiles

    n = 5000
    log = tmp_path / "cluster-a" / "daily" / "2024" / "0101"
    log.mkdir(parents=True)
    with open(log / "big.log", "w") as fh:
        for i in range(n):  # one job, n fragments: value i at line i
            fh.write(f'Job JOBID="job_7_1" USER="u" TOTAL_MAPS="{i}" .\n')
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # force ~64 splits over one small file
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        lines = logfiles.read_log_lines(spark, str(tmp_path / "*" / "daily" / "*" / "*" / "*.log"))
        assert lines.rdd.getNumPartitions() > 8, "file was not split"
        merged = R.merge_job_fragments(P.parse_job_lines(lines)).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)
    assert len(merged) == 1
    assert merged[0]["totalMaps"] == n - 1  # last line in file order wins


def test_cluster_from_path(spark, tmp_path):
    from white_elephant_spark.sources import logfiles

    d = tmp_path / "logs" / "prod-west" / "daily" / "2024" / "0202"
    d.mkdir(parents=True)
    (d / "f.log").write_text('Job JOBID="job_1_1" USER="u" TOTAL_MAPS="3" .\n')
    lines = logfiles.read_log_lines(spark, str(tmp_path / "logs" / "*" / "daily" / "*" / "*" / "*.log"))
    got = lines.withColumn("cluster", logfiles.cluster_from_path(root_name="logs")).first()
    assert got["cluster"] == "prod-west"


def _log_chain(spark, glob):
    """read_log_lines → parse → reconstruct → job join: the attempts
    an incremental refresh takes as input."""
    from white_elephant_spark.sources import logfiles

    lines = logfiles.read_log_lines(spark, glob).withColumn(
        "cluster", logfiles.cluster_from_path(root_name="logs")
    )
    atts = reconstruct.reconstruct_attempts(parse.parse_attempt_lines(lines))
    jobs = reconstruct.merge_job_fragments(parse.parse_job_lines(lines), extra_keys=("cluster",))
    return atts.drop("cluster").join(jobs.select("jobId", "user", "cluster"), "jobId")


# py4j commands the Column-API build of _log_chain made (one F.col is
# 13 round trips); the expression-string build must need at most half.
COLUMN_API_CHAIN_COMMANDS = 3114


def test_log_chain_driver_build_is_bounded(spark, tmp_path, py4j_commands):
    d = tmp_path / "logs" / "c1" / "daily" / "2024" / "0202"
    d.mkdir(parents=True)
    (d / "f.log").write_text('Job JOBID="job_1_1" USER="u" .\n')
    glob = str(tmp_path / "logs" / "*" / "daily" / "*" / "*" / "*.log")
    _log_chain(spark, glob)  # warm: first-use class lookups
    sent = py4j_commands(lambda: _log_chain(spark, glob))
    assert 0 < sent <= COLUMN_API_CHAIN_COMMANDS // 2, sent
