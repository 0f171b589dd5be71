"""UsageApi: the /api/* handler shapes on a hand-built cube."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.plans import serving
from white_elephant_spark.plans.api import UsageApi
from white_elephant_spark.plans.metrics import rollup_by_time

HOUR = 3_600_000
DAY1 = 1714521600000  # 2024-05-01 00:00 UTC


@pytest.fixture()
def api(spark):
    rows = []
    for h, user, minutes in [
        (-48, "u0", 1.0),  # 2024-04-29: widens the A10 clamp range so
        (96, "u0", 1.0),   # 2024-05-05  interior-day axes are non-empty
        (0, "u1", 60.0),
        (1, "u1", 30.0),
        (0, "u2", 10.0),
        (30, "u3", 5.0),  # next day
        (-24 * 200, "u0", 2.0),  # 2023-10-14 and 2024-11-17: a clamp
        (24 * 200, "u0", 3.0),   # range wide enough for week..quarter axes
    ]:
        rows.append(("c1", user, DAY1 + h * HOUR, "MAP", "SUCCESS", False, minutes))
    cube = spark.createDataFrame(
        rows,
        "cluster string, user string, t long, type string, status string,"
        " excess boolean, elapsedMinutes double",
    ).select(
        "cluster", "user",
        F.timestamp_millis(F.col("t")).cast("timestamp_ntz").alias("time"),
        "type", "status", "excess", "elapsedMinutes",
        F.col("elapsedMinutes").alias("cpuMinutes"),
        F.lit(1).alias("started"), F.lit(1).alias("finished"),
        F.lit(0).alias("reduceShuffleBytes"),
    )
    return UsageApi(spark, cube)


def test_clusters_users(api):
    assert api.clusters() == ["c1"]
    assert api.users("c1") == ["u0", "u1", "u2", "u3"]


def test_usage_shape_and_aggregation(api):
    res = api.usage(
        start_ms=DAY1 - 86_400_000,
        end_ms=DAY1 + 3 * 86_400_000,
        unit="HOURS",
        zone="UTC",
        users=["u1"],
        cluster="c1",
        metric="minutesTotal",
        users_to_aggregate=["u2", "u3"],
    )
    assert res["cluster"] == "c1" and res["num_aggregated_users"] == 2
    assert len(res["times"]) == len(res["users"][0]["data"])
    assert sum(res["users"][0]["data"]) == 90.0
    assert sum(res["users_aggregated"]) == 15.0
    # the hour axis is dense: mostly zeros
    assert res["users"][0]["data"].count(0.0) > 10


def test_cache_excludes_user_list(api):
    kw = dict(
        start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000, unit="HOURS",
        zone="UTC", cluster="c1", metric="minutesTotal",
    )
    api.usage(users=["u1"], **kw)
    api.usage(users=["u2", "u3"], **kw)
    assert api.cache.misses == 1 and api.cache.hits == 1
    api.on_data_loaded()
    api.usage(users=["u1"], **kw)
    assert api.cache.misses == 2


def test_table_csv(api):
    csv = api.table_csv(
        start_ms=DAY1 - 86_400_000,
        end_ms=DAY1 + 2 * 86_400_000 + 1,
        unit="DAYS",
        zone="UTC",
        users=["u1", "u2"],
        cluster="c1",
        metric="minutesTotal",
    )
    lines = csv.strip().split("\n")
    assert lines[0] == "time,u1,u2"
    # interior days only: 2024-05-01 .. 2024-05-02
    assert [ln.split(",")[0] for ln in lines[1:]] == ["2024-05-01", "2024-05-02"]
    # u1: 90 minutes = 1.5 h on 05-01
    assert lines[1] == "2024-05-01,1.5,0.166667"


def test_api_cache_hit_rate_user_filter_independent(api):
    """cache_builder.rb:15-49 parity at the API level: the memo key is
    the request shape MINUS the user list (usage_data.rb:442-454), so
    N requests over any user selections against one (cluster, unit,
    zone, metric) shape cost exactly one roll-up build — hit rate
    (N-1)/N — and /api/table reuses the same entry as /api/usage.
    A shape change misses; a data load invalidates."""
    win = dict(start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000)
    shape = dict(unit="HOURS", zone="UTC", cluster="c1")
    api.usage(users=["u1"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 0)
    api.usage(users=["u2", "u3"], **win, **shape)
    api.usage(users=["u0", "u1", "u2"], users_to_aggregate=["u3"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 2)
    # /api/table with yet another selection: same cached roll-up
    api.table_csv(users=["u3"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 3)
    # shape change (unit) is a different key -> miss
    api.usage(users=["u1"], **win, unit="DAYS", zone="UTC", cluster="c1")
    assert (api.cache.misses, api.cache.hits) == (2, 3)
    # data load invalidates: same shape rebuilds once, then hits again
    api.on_data_loaded()
    api.usage(users=["u1"], **win, **shape)
    api.usage(users=["u2"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (3, 4)


# -- the driver-side shaping against the Spark reference -----------------
def _reference_usage(api, start_ms, end_ms, unit, zone, users, cluster, metric, users_to_aggregate):
    """/api/usage computed entirely in Spark: roll-up, A10 clamp scan,
    dense axis, zero-fill and the "other" sum as DataFrames."""
    from datetime import timezone

    series = rollup_by_time(api.cube, metric, cluster, unit, zone)
    clamp = serving.clamp_range(api.cube.filter(F.col("cluster") == cluster))
    axis = serving.dense_axis(api.spark, unit, zone, start_ms, end_ms, clamp=clamp)
    dense = serving.timeseries(series, axis, users, users_to_aggregate).collect()
    buckets = sorted({r["bucket"] for r in dense})
    idx = {b: i for i, b in enumerate(buckets)}
    per_user: dict[str, list[float]] = {}
    for r in dense:
        per_user.setdefault(r["userName"], [0.0] * len(buckets))[idx[r["bucket"]]] = r["value"]
    agg = per_user.pop("__other__", None)
    return {
        "times": [int(b.replace(tzinfo=timezone.utc).timestamp() * 1000) for b in buckets],
        "users": [{"user": u, "data": per_user[u]} for u in users if u in per_user],
        "users_aggregated": agg,
        "num_aggregated_users": len(users_to_aggregate or []),
        "cluster": cluster,
    }


def _reference_table(api, start_ms, end_ms, unit, zone, users, cluster, metric):
    series = rollup_by_time(api.cube, metric, cluster, unit, zone)
    clamp = serving.clamp_range(api.cube.filter(F.col("cluster") == cluster))
    axis = serving.dense_axis(api.spark, unit, zone, start_ms, end_ms, clamp=clamp)
    rows = serving.csv_table(series, axis, users, zone, to_hours=True).collect()
    out = ["time," + ",".join(users)]
    out += [r["time"] + "," + ",".join(f"{r[u]:g}" for u in users) for r in rows]
    return "\n".join(out) + "\n"


def _assert_same_usage(got, want):
    assert got["times"] == want["times"]
    assert [s["user"] for s in got["users"]] == [s["user"] for s in want["users"]]
    for g, w in zip(got["users"], want["users"]):
        assert all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(g["data"], w["data"]))
    if want["users_aggregated"] is None:
        assert got["users_aggregated"] is None
    else:
        assert all(
            math.isclose(a, b, rel_tol=1e-9)
            for a, b in zip(got["users_aggregated"], want["users_aggregated"], strict=True)
        )
    for k in ("num_aggregated_users", "cluster"):
        assert got[k] == want[k]


def _assert_same_table(got, want):
    # equal dates may tie in the reference's ORDER BY time (HOURS)
    lines, ref = got.splitlines(), want.splitlines()
    assert lines[0] == ref[0] and sorted(lines[1:]) == sorted(ref[1:])
    days = [ln.split(",")[0] for ln in lines[1:]]
    assert days == sorted(days)


@pytest.mark.parametrize(
    "unit, zone",
    list(itertools.product(
        ["HOURS", "DAYS", "WEEKS", "MONTHS", "QUARTERS"],
        ["UTC", "America/Los_Angeles", "Asia/Kolkata"],
    )),
)
def test_usage_and_table_match_spark_reference(api, unit, zone):
    # HOURS ignores the clamp, so it gets a window of days; the others
    # a window wider than the cube, clamped to it (A10)
    days = 5 if unit == "HOURS" else 300
    kw = dict(
        start_ms=DAY1 - days * 86_400_000, end_ms=DAY1 + days * 86_400_000,
        unit=unit, zone=zone, cluster="c1", metric="minutesTotal",
    )
    users = ["u1", "u0", "u9"]  # u9 has no data: a zero-filled row
    got = api.usage(users=users, users_to_aggregate=["u2", "u3"], **kw)
    want = _reference_usage(api, users=users, users_to_aggregate=["u2", "u3"], **kw)
    assert got["times"]  # a non-empty axis on every unit
    _assert_same_usage(got, want)
    _assert_same_table(api.table_csv(users=users, **kw), _reference_table(api, users=users, **kw))


@pytest.mark.parametrize(
    "cluster, users, others, start_ms, end_ms",
    [
        ("c1", [], [], DAY1 - 86_400_000, DAY1 + 3 * 86_400_000),  # empty user
        ("c1", [], ["u1", "u2"], DAY1 - 86_400_000, DAY1 + 3 * 86_400_000),  # aggregate only
        ("nope", ["u1"], ["u2"], DAY1 - 86_400_000, DAY1 + 3 * 86_400_000),  # absent cluster
        ("c1", ["u1"], ["u2"], DAY1 + 400 * 86_400_000, DAY1 + 500 * 86_400_000),  # past the cube
    ],
    ids=["empty-user", "aggregate-only", "absent-cluster", "outside-cube"],
)
@pytest.mark.parametrize("unit", ["HOURS", "DAYS"])
def test_edge_cases_match_spark_reference(api, cluster, users, others, start_ms, end_ms, unit):
    kw = dict(start_ms=start_ms, end_ms=end_ms, unit=unit, zone="UTC", cluster=cluster,
              metric="minutesTotal")
    got = api.usage(users=users, users_to_aggregate=others, **kw)
    _assert_same_usage(got, _reference_usage(api, users=users, users_to_aggregate=others, **kw))
    _assert_same_table(api.table_csv(users=users, **kw), _reference_table(api, users=users, **kw))
    if not (users or others) or not got["times"]:
        assert got["times"] == [] and got["users"] == []


_groups = itertools.count()


def _spark_jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"api-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store has seen them
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spark_jobs_per_read(api, spark):
    """A cached roll-up, the per-data-load dimension memo and the
    driver-side dense axis leave no Spark job on a usage or table read
    and none on the dimension routes; a miss starts only its roll-up's
    jobs, and a data load costs one dimension scan."""
    kw = dict(start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000, unit="DAYS",
              zone="UTC", cluster="c1", metric="minutesTotal")
    api.usage(users=["u1"], users_to_aggregate=["u2"], **kw)  # warm
    assert _spark_jobs(spark, lambda: api.usage(users=["u2", "u3"], users_to_aggregate=["u1"], **kw)) == 0
    assert _spark_jobs(spark, lambda: api.table_csv(users=["u1", "u3"], **kw)) == 0
    assert _spark_jobs(spark, api.clusters) == 0
    assert _spark_jobs(spark, lambda: api.users("c1")) == 0
    miss = dict(kw, zone="America/Los_Angeles")
    jobs = _spark_jobs(spark, lambda: api.usage(users=["u1"], users_to_aggregate=["u2"], **miss))
    rollup = rollup_by_time(api.cube, "minutesTotal", "c1", "DAYS", "America/Los_Angeles")
    assert 1 <= jobs <= _spark_jobs(spark, rollup.collect)
    api.on_data_loaded()
    assert _spark_jobs(spark, api.clusters) == 1
    assert _spark_jobs(spark, lambda: api.users("c1")) == 0
