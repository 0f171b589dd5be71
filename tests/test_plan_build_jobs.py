"""Building a registered query's DataFrame a second time starts no
Spark job: whatever the first build trained or counted is served from
the model registry, and the plan stays lazy until its caller runs it.
Queries whose build runs Spark work by design are listed below, each
with its reason."""

from __future__ import annotations

from white_elephant_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"

#: query -> why its warm rebuild still starts Spark jobs
BUILD_RUNS_JOBS = {
    "ann_ivf_topk": "collects the query set to the driver",
    "embedding_cluster_map": "collects the k-row cluster sizes",
    "conf_parse_join": "writes its XML fixture files",
    "zorder_layout_keys": "collects the exact rank cuts (layout.rank_cuts_multi)",
    "jsonl_quality_ingest": "writes its JSONL fixture files",
    "incremental_cube_refresh": "the refresh is the operation under test",
    "streaming_cube_refresh": "the stream is the operation under test",
    "streaming_dedup_join": "the stream is the operation under test",
    "streaming_job_sessions": "the stream is the operation under test",
}


def _build_jobs(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_allow_list_names_registered_queries_with_reasons():
    qs = all_queries()
    assert set(BUILD_RUNS_JOBS) <= set(qs)
    assert all(r.strip() and "\n" not in r for r in BUILD_RUNS_JOBS.values())


def test_warm_rebuild_starts_no_spark_job(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "models"))
    offenders = {}
    for name, q in sorted(all_queries().items()):
        if name in BUILD_RUNS_JOBS:
            continue
        _build_jobs(spark, q.fn, f"build-test:{name}:cold")
        warm = _build_jobs(spark, q.fn, f"build-test:{name}:warm")
        if warm:
            offenders[name] = warm
    spark.catalog.clearCache()
    assert offenders == {}
