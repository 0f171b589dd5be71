"""Entity reconstruction (J1-J6 in SURVEY.md §2.3).

The reference reconstructs Job ⊃ Task ⊃ Attempt entities by shuffling
every line fragment of a job to one reducer and merging imperatively
(parsing/ParseJobsFromLogs.java:297-760). Spark-first version: each
merge is a ``groupBy().agg()`` with per-field precedence expressions —
map-side partial aggregation halves the shuffle for free, and nothing
ever materializes a whole job in one task's memory (at 100 TB a single
hot job's fragments still fit, because merges are associative
aggregates, not an in-reducer list).

Merge semantics preserved from the reference (SURVEY §4 quirk list):
- last-non-null wins per field, in *line order* (J2/J3). Line order
  inside a log file is reproduced with ``input_file_name`` + a
  monotonically increasing per-file line index captured at scan time;
  here the caller provides an explicit ``seq`` ordering column.
- jobStatus is taken only from lines that also carry FINISH_TIME
  (ParseJobsFromLogs.java:385-389) — status appears throughout a
  job's lifetime, only the terminal one counts.
- duplicate attempt fragments merge times with **max**
  (ParseJobsFromLogs.java:575-609) and keep the last counters map
  (:616-619).
- attempts missing ids/status/times or with finish<start are dropped
  (P7, ParseJobsFromLogs.java:622-669).
- excess labeling (J5, ParseJobsFromLogs.java:709-748): within a
  task, every non-SUCCESS attempt is excess; if no attempt succeeded,
  the first (by startTime, then attemptId) is un-marked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident

# The folds, filters and labels below are built from Spark SQL
# expression strings (functions/sqltext.py says why).


def _last_non_null(cols: tuple[str, ...], seq: str) -> list[str]:
    """SQL folds: each of ``cols`` from the highest-``seq`` row where
    it's set."""
    return [f"max_by({c}, CASE WHEN {c} IS NOT NULL THEN {seq} END) AS {c}" for c in cols]


def merge_job_fragments(
    job_lines: DataFrame, seq_col: str = "seq", extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """J2 — fold per-line job fragments to one row per jobId
    (ParseJobsFromLogs.java:380-456). ``extra_keys`` carries
    job-constant columns (e.g. the P9 ``cluster`` derived from the
    file path) through the fold as additional group keys."""
    seq = ident(seq_col)
    folds = [
        *_last_non_null(("user", "jobName", "jobQueue"), seq),
        # terminal-status rule: only lines that also carry finishTime
        "max_by(jobStatus, CASE WHEN jobStatus IS NOT NULL"
        f" AND finishTime IS NOT NULL THEN {seq} END) AS jobStatus",
        *_last_non_null(
            (
                "submitTime", "launchTime", "finishTime", "totalMaps",
                "totalReduces", "finishedMaps", "finishedReduces",
                "failedMaps", "failedReduces",
            ),
            seq,
        ),
    ]
    return job_lines.groupBy("jobId", *extra_keys).agg(*map(F.expr, folds))


def merge_task_fragments(task_lines: DataFrame, seq_col: str = "seq") -> DataFrame:
    """J3 — one row per (jobId, taskId), last-non-null per field
    (ParseJobsFromLogs.java:458-527)."""
    folds = _last_non_null(("type", "taskStatus", "startTime", "finishTime"), ident(seq_col))
    return task_lines.groupBy("jobId", "taskId").agg(*map(F.expr, folds))


def merge_attempt_fragments(attempt_lines: DataFrame, seq_col: str = "seq") -> DataFrame:
    """J4 (merge half) — one row per attempt; times merge with max,
    counters keep the last fragment's map
    (ParseJobsFromLogs.java:575-619)."""
    seq = ident(seq_col)
    folds = [
        *_last_non_null(("type", "taskStatus"), seq),
        *(
            f"max({c}) AS {c}"
            for c in ("startTime", "finishTime", "shuffleFinished", "sortFinished")
        ),
        f"max_by(counters, {seq}) AS counters",
    ]
    return attempt_lines.groupBy("jobId", "taskId", "taskAttemptId").agg(*map(F.expr, folds))


def filter_valid_attempts(attempts: DataFrame) -> DataFrame:
    """P7 — drop (not error) attempts missing id/status/times or with
    finish < start (ParseJobsFromLogs.java:622-669)."""
    return attempts.filter(
        "taskAttemptId IS NOT NULL AND taskStatus IS NOT NULL"
        " AND startTime IS NOT NULL AND finishTime IS NOT NULL"
        " AND finishTime >= startTime"
    )


def label_excess(attempts: DataFrame) -> DataFrame:
    """J5 — excess-attempt labeling (ParseJobsFromLogs.java:709-748).

    Per task (attempts ordered by startTime, then attemptId):
    every non-SUCCESS attempt is ``excess``; if **no** attempt of the
    task succeeded, the first attempt is un-marked — the task had to
    run once, so only retries count as waste.
    """
    task = "PARTITION BY jobId, taskId"
    any_success = f"max(CAST(taskStatus = 'SUCCESS' AS INT)) OVER ({task}) = 1"
    rn = f"row_number() OVER ({task} ORDER BY startTime ASC, taskAttemptId ASC)"
    return attempts.withColumn(
        "excess",
        F.expr(
            "CASE WHEN taskStatus = 'SUCCESS' THEN false"
            f" ELSE CASE WHEN {any_success} THEN true ELSE {rn} != 1 END END"
        ),
    )


def derive_attempt_measures(attempts: DataFrame) -> DataFrame:
    """J6 — per-attempt derived measures
    (ParseJobsFromLogs.java:715-731): wall minutes from the time span,
    cpuMinutes from the CPU_MILLISECONDS counter; zero start/finish
    nulls the measure."""
    return attempts.withColumns(
        {
            "minutes": F.expr(
                "CASE WHEN startTime > 0 AND finishTime > 0"
                " THEN (finishTime - startTime) / 60000.0D END"
            ),
            "cpuMinutes": F.expr(
                "element_at(counters, 'CPU_MILLISECONDS') / 60000.0D"
            ),
        }
    )


def _cmp_fields(a: Column, b: Column, fields: list[str]) -> Column:
    """Lexicographic struct comparator as a -1/0/1 expression — the
    Spark analogue of the reference's Java sort comparators. Needed
    (vs natural struct ordering) because the structs carry map-typed
    columns (counters), which are not orderable in Spark."""
    out = F.lit(0)
    for f in reversed(fields):
        out = (
            F.when(a[f] < b[f], F.lit(-1))
            .when(a[f] > b[f], F.lit(1))
            .otherwise(out)
        )
    return out


def to_nested_jobs(
    jobs: DataFrame, tasks: DataFrame, attempts: DataFrame
) -> DataFrame:
    """J3/J4 attach + O1 sorts — assemble the reference's nested
    export record Job ⊃ Task ⊃ Attempt (LogData.avsc:30-139) from the
    flat entity DataFrames.

    Sort parity: tasks ordered by taskId
    (ParseJobsFromLogs.java:518-524); attempts ordered by startTime,
    then taskAttemptId (:701-707,751-757). Attempts attach to their
    task by (jobId, taskId) inner match (:679-694 — the reference
    errors on a missing task; here the inner join drops, consistent
    with the P7 drop-don't-error policy).

    Distributed shape: two groupBy+collect_list levels — each task's
    attempt list, then each job's task list, lives in one aggregation
    buffer, which is exactly the reference's reducer memory footprint
    for one job. The flat DataFrames remain the query-side
    representation (SURVEY §7.3); this operator exists for export
    parity at the serving edge."""
    att_struct = F.struct(
        "taskAttemptId", "taskStatus", "startTime", "finishTime",
        "shuffleFinished", "sortFinished",
        *(["counters"] if "counters" in attempts.columns else []),
        *(["excess"] if "excess" in attempts.columns else []),
        *(["minutes"] if "minutes" in attempts.columns else []),
        *(["cpuMinutes"] if "cpuMinutes" in attempts.columns else []),
    )
    att_arrays = attempts.groupBy("jobId", "taskId").agg(
        F.array_sort(
            F.collect_list(att_struct),
            lambda a, b: _cmp_fields(a, b, ["startTime", "taskAttemptId"]),
        ).alias("attempts")
    )
    task_struct = F.struct(
        "taskId", "type", "taskStatus", "startTime", "finishTime", "attempts"
    )
    task_arrays = (
        tasks.join(att_arrays, ["jobId", "taskId"])
        .groupBy("jobId")
        .agg(
            F.array_sort(
                F.collect_list(task_struct),
                lambda a, b: _cmp_fields(a, b, ["taskId"]),
            ).alias("tasks")
        )
    )
    return jobs.join(task_arrays, "jobId", "left")


def reconstruct_attempts(raw_attempt_lines: DataFrame, seq_col: str = "seq") -> DataFrame:
    """Full J4+P7+J5+J6 chain from parsed attempt-line fragments to
    labeled, measured attempts (the input of the usage cube)."""
    merged = merge_attempt_fragments(raw_attempt_lines, seq_col)
    return derive_attempt_measures(label_excess(filter_valid_attempts(merged)))
