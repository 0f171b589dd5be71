"""Profile one or more registered queries with bench-identical session
settings: run each N times and print one row per run, the run's wall
time split into three layers plus its Spark work.

- ``build_s``: driver-side DataFrame construction up to the first Spark
  job, including any action the plan builder runs;
- ``exec_s``: executor run time of the run's stages over the cores;
- ``sched_s``: the rest (scheduling, task launch, driver overhead);
- jobs, stages, tasks, shuffle-write and spill bytes, and the peak
  tasks per core of any stage;
- ``other_jobs``, ``other_exec_s``: jobs and executor time of every
  OTHER job group that submitted a job inside the run — the
  micro-batches a streaming query runs on its own thread, under the
  stream's own job group.

Each run's jobs are tagged with their own job group and read back from
Spark's status store (``perfbench/accounting.py``), so jobs started
outside the run, and untagged jobs, are not counted. ``--explain`` prints each query's formatted physical
plan after its runs (``--runs 0 --explain`` prints plans only).

Usage: python tools/profile_query.py [--explain] [--runs N] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from accounting import OpStats, SparkAccounting  # noqa: E402

COLUMNS = (
    "wall_s", "build_s", "exec_s", "sched_s", "jobs", "stages", "tasks",
    "shuffle_write_bytes", "spill_bytes", "peak_tasks_per_core",
    "other_jobs", "other_exec_s",
)


@dataclass
class RunStats(OpStats):
    """One run's accounting plus the other job groups it started."""

    other_jobs: int = 0
    other_exec_s: float = 0.0


def _other_groups(spark, group: str, start: float, end: float) -> set[str]:
    """Job groups other than ``group`` that submitted a job between
    ``start`` and ``end`` (epoch seconds)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g, sub = job.jobGroup(), job.submissionTime()
        if g.isEmpty() or sub.isEmpty() or g.get() == group:
            continue
        if start <= sub.get().getTime() / 1000.0 <= end:
            out.add(g.get())
    return out


def profile_run(spark, acct: SparkAccounting, fn, sf_dir: str, group: str) -> RunStats:
    """Build ``fn(spark, sf_dir)`` and run it into a noop sink with its
    Spark jobs tagged ``group``; return the run's accounting."""
    acct.tag(group)
    start = time.time()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        end = time.time()
        acct.untag()
    acct.drain()
    others = [acct.stats(g, start, end) for g in _other_groups(spark, group, start, end)]
    return RunStats(
        **vars(acct.stats(group, start, end)),
        other_jobs=sum(o.jobs for o in others),
        other_exec_s=sum(o.exec_s for o in others),
    )


def _cell(v) -> str:
    return f"{v:.3f}" if isinstance(v, float) else str(v)


def main() -> None:
    args = sys.argv[1:]
    explain = "--explain" in args
    args = [a for a in args if a != "--explain"]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from white_elephant_spark.plans.registry import all_queries
    from white_elephant_spark.session import get_spark

    parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "8"))
    spark = get_spark(
        "profile",
        shuffle_partitions=parts,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    acct = SparkAccounting(spark, spark.sparkContext.defaultParallelism)
    qs = all_queries()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    print("| query | run | " + " | ".join(COLUMNS) + " |")
    print("|---|---|" + "---|" * len(COLUMNS))
    for name in args:
        q = qs[name]
        for r in range(runs):
            st = profile_run(spark, acct, q.fn, sf_dir, f"profile:{name}:{r}")
            cells = " | ".join(_cell(getattr(st, c)) for c in COLUMNS)
            print(f"| {name} | {r} | {cells} |", flush=True)
            spark.catalog.clearCache()
        if explain:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            print(plan)


if __name__ == "__main__":
    main()
