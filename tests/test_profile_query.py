"""``tools/profile_query.py``'s per-run accounting on a real query."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import profile_query  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_profile_run_splits_wall_and_counts_only_its_own_jobs(spark):
    from white_elephant_spark.plans.registry import all_queries

    fn = all_queries()["q1_pricing_summary"].fn
    acct = profile_query.SparkAccounting(spark, spark.sparkContext.defaultParallelism)
    first = profile_query.profile_run(spark, acct, fn, SF, "profile-test:0")
    spark.range(10).count()  # untagged work between the two runs
    second = profile_query.profile_run(spark, acct, fn, SF, "profile-test:1")
    for st in (first, second):
        assert st.jobs >= 1 and st.stages >= 1
        assert st.tasks >= st.stages
        assert abs(st.build_s + st.exec_s + st.sched_s - st.wall_s) < 1e-6
    assert second.jobs <= first.jobs
    assert second.other_jobs == 0  # untagged work is no other group


def test_profile_run_counts_stream_micro_batch_jobs(spark, tmp_path):
    """A streaming query's micro-batches run on the stream's thread
    under the stream's own job group: the run counts them as other
    jobs, not as its own."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.range(20).write.parquet(inp)

    def fn(spark, _sf_dir):
        q = (
            spark.readStream.schema("id long").parquet(inp)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.range(1)

    acct = profile_query.SparkAccounting(spark, spark.sparkContext.defaultParallelism)
    st = profile_query.profile_run(spark, acct, fn, SF, "profile-test:stream")
    assert st.other_jobs >= 1 and st.other_exec_s >= 0.0
    assert st.jobs >= 1  # the noop write of the returned frame
