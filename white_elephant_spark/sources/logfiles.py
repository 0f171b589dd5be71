"""Raw log-file scan: S1 (combined text scan) + P9 (path↔record
correlation) in SURVEY.md §2.1-2.2.

The reference's entry point is *files of Hadoop job-history lines*:
``CombinedTextInputFormat`` packs many small log files into ≤100 MB
splits (mapreduce/lib/input/CombinedTextInputFormat.java:32-64;
hadoop/config/jobs/base.properties:39-40) and the mapper attaches the
split path containing the jobId to every parsed record
(parsing/ParseJobsFromLogs.java:280-294). Line order *within a file*
is the merge precedence for entity reconstruction — "last line wins"
(J2/J3 last-non-null folds).

Spark-first re-expression:

- **S1 scan + small-file combining**: ``spark.read.text`` — Spark's
  file source bin-packs small files into tasks automatically
  (``spark.sql.files.maxPartitionBytes`` ≈ the reference's 100 MB max
  split; ``openCostInBytes`` penalizes tiny files).
- **P9 path**: the hidden ``_metadata`` column of file sources gives
  ``file_path`` per row — the exact analogue of the reference's
  ``context.getInputSplit().getPath()``.
- **Merge-order key without a shuffle**: a per-file line number would
  need a window over the whole scan. Instead ``seq`` is the struct
  ``(file_block_start, row-position-in-partition)``:
  ``_metadata.file_block_start`` orders the splits of one file by
  byte offset, and the low 33 bits of ``monotonically_increasing_id``
  order rows inside a split (they increment in read = file order).
  Lexicographic struct comparison therefore reproduces file line
  order *within each file* — which is the only order the reference's
  reducer ever sees, since a job's lines live in that job's history
  file — at zero shuffle cost, on any split geometry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident, literal

# Low 33 bits of monotonically_increasing_id = row index within the
# partition (the upper bits are the partition id).
_ROW_IN_PARTITION_MASK = (1 << 33) - 1


def read_log_lines(
    spark: SparkSession,
    paths: str | list[str],
    path_col: str = "path",
    seq_col: str = "seq",
    line_col: str = "line",
) -> DataFrame:
    """S1+P9 — one row per log line with its source file path and a
    within-file ordering key.

    Returns ``(path string, seq struct<block:long,pos:long>, line
    string)``. ``seq`` compares lexicographically in within-file line
    order; feed it to the ``reconstruct.merge_*`` folds as the
    precedence column. Hidden files (``_*``/``.*``) are skipped by the
    file source itself (the reference's S5 filter,
    mapreduce/lib/job/StagedOutputJob.java:244-253)."""
    df = spark.read.text(paths if isinstance(paths, str) else list(paths))
    return df.selectExpr(
        f"_metadata.file_path AS {ident(path_col)}",
        "named_struct('block', _metadata.file_block_start,"
        f" 'pos', monotonically_increasing_id() & {_ROW_IN_PARTITION_MASK}) AS {ident(seq_col)}",
        f"value AS {ident(line_col)}",
    )


def cluster_from_path(path_col: str = "path", root_name: str = "logs") -> Column:
    """Extract the cluster name from the reference's directory layout
    ``<root>/<cluster>/daily/<yyyy>/<MMdd>/<file>``
    (util/JobStatsProcessing.java:62-67)."""
    return F.expr(f"regexp_extract({ident(path_col)}, {literal(root_name + '/([^/]+)/')}, 1)")
