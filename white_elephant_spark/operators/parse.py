"""Log-line parsing (P1-P5 in SURVEY.md §2.2).

Re-expresses the reference's regex line parser
(hadoop/src/java/com/linkedin/whiteelephant/parsing/LineParsing.java:44-219,
267-338) as pure Catalyst expressions: ``rlike`` classification,
``regexp_extract_all`` → ``map_from_arrays`` parameter extraction.
No Python UDFs — the whole extract phase stays inside whole-stage
codegen, which is what makes it viable on 100 TB of raw logs.

Line grammar (LineParsing.java:44-51):
- params:    NAME="value"            (backslash-escaped quotes stripped first,
                                      LineParsing.java:56)
- counters:  [(NAME)(display)(123)]  (LineParsing.java:48)
- Job line:     ^Job JOBID="job_d_d" ... — or any line carrying USER= plus a
                job_d_d token (LineParsing.java:53-97)
- Attempt line: ^(Map|Reduce)Attempt TASK_TYPE="(MAP|REDUCE)" ...
                (LineParsing.java:158-219)
- Task line:    ^Task TASKID="task_..." TASK_TYPE="(MAP|REDUCE)" ...
                (LineParsing.java:267-338)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident, literal

# Regexes mirroring LineParsing.java:44-51 (semantics, not code).
PARAM_RE = r'([A-Z_]+)="([^"]*)"'
COUNTER_RE = r"\[\(([A-Z_]+)\)\([^()]*\)\((\d+)\)\]"
JOB_ID_RE = r"job_\d+_\d+"
JOB_LINE_RE = r'^Job JOBID="job_\d+_\d+"'
ATTEMPT_LINE_RE = r'^(Map|Reduce)Attempt TASK_TYPE="(MAP|REDUCE)"'
TASK_LINE_RE = r'^Task TASKID="task_\d+_\d+_[mr]_\d+" TASK_TYPE="(MAP|REDUCE)"'
ESCAPED_QUOTE_RE = r'\\"'
TASK_JOB_RE = r"task_(\d+_\d+)"

# The helpers below return Spark SQL text over a column expression
# (sqltext's module docstring says why).


def strip_escaped_quotes(line: str) -> str:
    """LineParsing.java:56 — remove ``\\"`` before param extraction."""
    return f"regexp_replace({line}, {literal(ESCAPED_QUOTE_RE)}, '')"


def params_map(line: str) -> str:
    """All ``NAME="value"`` pairs as map<string,string>; duplicate
    names keep the last occurrence (the reference's put-in-loop
    behavior, LineParsing.java:88-92 — requires
    spark.sql.mapKeyDedupPolicy=LAST_WIN, set by the catalog)."""
    clean, rx = strip_escaped_quotes(line), literal(PARAM_RE)
    return (
        f"map_from_arrays(regexp_extract_all({clean}, {rx}, 1),"
        f" regexp_extract_all({clean}, {rx}, 2))"
    )


def counters_map(line: str) -> str:
    """COUNTERS groups ``[(NAME)(display)(value)]`` as
    map<string,long> (LineParsing.java:48,186-199)."""
    clean, rx = strip_escaped_quotes(line), literal(COUNTER_RE)
    return (
        f"map_from_arrays(regexp_extract_all({clean}, {rx}, 1),"
        f" CAST(regexp_extract_all({clean}, {rx}, 2) AS ARRAY<BIGINT>))"
    )


def job_id_from_task_id(task_id: str) -> str:
    """Derive jobId from a taskId/attemptId
    (LineParsing.java:201: ``String.format("job_%s_%s", ...)``)."""
    return (
        f"regexp_replace(regexp_extract({task_id}, {literal(TASK_JOB_RE)}, 0),"
        f" '^task_', 'job_')"
    )


def classify(line: str) -> str:
    """P5 line classifier (ParseJobsFromLogs.java:205-262): try job →
    attempt → task; anything else is noise (NULL kind)."""
    return (
        f"CASE WHEN {line} RLIKE {literal(JOB_LINE_RE)}"
        f" OR (contains({line}, 'USER=') AND {line} RLIKE {literal(JOB_ID_RE)}) THEN 'job'"
        f" WHEN {line} RLIKE {literal(ATTEMPT_LINE_RE)} THEN 'attempt'"
        f" WHEN {line} RLIKE {literal(TASK_LINE_RE)} THEN 'task'"
        f" ELSE CAST(NULL AS STRING) END"
    )


def _str(params: str, key: str) -> str:
    return f"element_at({params}, {literal(key)})"


def _ms(params: str, key: str) -> str:
    return f"CAST({_str(params, key)} AS BIGINT)"


def _int(params: str, key: str) -> str:
    return f"CAST({_str(params, key)} AS INT)"


def parse_job_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """P1+P2 — job-line fragments with typed fields
    (LineParsing.java:53-156). One output row per job *line*; the
    merge to one row per job is reconstruct.merge_job_fragments.

    JOB_STATUS is kept only when the line's value is SUCCESS or
    FAILURE (LineParsing.java:128-134), normalized to the JobStatus
    enum domain {SUCCESS, FAILED, KILLED} (LogData.avsc:113-119).
    """
    line = ident(line_col)
    p = params_map(line)
    raw_status = _str(p, "JOB_STATUS")
    job_id_group = f"({JOB_ID_RE})"
    return (
        df.filter(f"({classify(line)}) = 'job'")
        .selectExpr(
            "*",
            f"coalesce({_str(p, 'JOBID')},"
            f" regexp_extract({line}, {literal(job_id_group)}, 1)) AS jobId",
            f"{_str(p, 'USER')} AS user",
            f"{_str(p, 'JOBNAME')} AS jobName",
            f"{_str(p, 'JOB_QUEUE')} AS jobQueue",
            f"CASE WHEN {raw_status} = 'SUCCESS' THEN 'SUCCESS'"
            f" WHEN {raw_status} = 'FAILURE' THEN 'FAILED' END AS jobStatus",
            f"{_ms(p, 'SUBMIT_TIME')} AS submitTime",
            f"{_ms(p, 'LAUNCH_TIME')} AS launchTime",
            f"{_ms(p, 'FINISH_TIME')} AS finishTime",
            f"{_int(p, 'TOTAL_MAPS')} AS totalMaps",
            f"{_int(p, 'TOTAL_REDUCES')} AS totalReduces",
            f"{_int(p, 'FINISHED_MAPS')} AS finishedMaps",
            f"{_int(p, 'FINISHED_REDUCES')} AS finishedReduces",
            f"{_int(p, 'FAILED_MAPS')} AS failedMaps",
            f"{_int(p, 'FAILED_REDUCES')} AS failedReduces",
        )
        # length(jobId) > 0 ≡ isNotNull AND != '' — in ONE reference.
        # The optimizer pushes this predicate below the projection by
        # substituting the aliased expression per reference, and a
        # filter-side evaluation re-derives the whole params map (the
        # codegen subexpression sharing that makes the 13-field
        # projection cost one map build does not extend into the
        # Filter): measured at sf0.1, the two-conjunct form ran the
        # parse at 8.9 s vs 5.6 s with the single-reference predicate.
        .filter("length(jobId) > 0")
        .drop(line_col)
    )


def parse_attempt_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """P3 — attempt-line fragments (LineParsing.java:158-219), with
    counters map and jobId derived from the taskId. Truncated lines
    missing TASKID/TASK_ATTEMPT_ID are dropped
    (ParseJobsFromLogs.java:230-262)."""
    line = ident(line_col)
    p = params_map(line)
    return (
        df.filter(f"({classify(line)}) = 'attempt'")
        .selectExpr(
            "*",
            f"regexp_extract({line}, {literal(ATTEMPT_LINE_RE)}, 2) AS type",
            f"{_str(p, 'TASKID')} AS taskId",
            f"{_str(p, 'TASK_ATTEMPT_ID')} AS taskAttemptId",
            f"{_str(p, 'TASK_STATUS')} AS taskStatus",
            f"{_ms(p, 'START_TIME')} AS startTime",
            f"{_ms(p, 'FINISH_TIME')} AS finishTime",
            f"{_ms(p, 'SHUFFLE_FINISHED')} AS shuffleFinished",
            f"{_ms(p, 'SORT_FINISHED')} AS sortFinished",
            f"{counters_map(line)} AS counters",
        )
        .withColumn("jobId", F.expr(job_id_from_task_id("taskId")))
        # Two references instead of three (see parse_job_lines' filter
        # note): jobId is a regex of taskId, so length(jobId) > 0
        # already implies taskId IS NOT NULL — only the attempt id
        # needs its own check.
        .filter("taskAttemptId IS NOT NULL AND length(jobId) > 0")
        .drop(line_col)
    )


def parse_task_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """P4 — task-line fragments (LineParsing.java:267-338)."""
    line = ident(line_col)
    p = params_map(line)
    return (
        df.filter(f"({classify(line)}) = 'task'")
        .selectExpr(
            "*",
            f"regexp_extract({line}, {literal(TASK_LINE_RE)}, 1) AS type",
            f"{_str(p, 'TASKID')} AS taskId",
            f"{_str(p, 'TASK_STATUS')} AS taskStatus",
            f"{_ms(p, 'START_TIME')} AS startTime",
            f"{_ms(p, 'FINISH_TIME')} AS finishTime",
        )
        .withColumn("jobId", F.expr(job_id_from_task_id("taskId")))
        # single reference (see parse_job_lines' filter note): jobId
        # derives from taskId, so length(jobId) > 0 covers both the
        # taskId null check and the non-empty check.
        .filter("length(jobId) > 0")
        .drop(line_col)
    )
