"""HTTP daemon: route/param/status parity with server/app.rb over a
real listening socket (ephemeral port, daemon thread)."""

from __future__ import annotations

import itertools
import json
import threading
import time
import tracemalloc
import urllib.error
import urllib.request
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.plans.api import UsageApi
from white_elephant_spark.server import make_server

HOUR = 3_600_000
DAY1 = 1714521600000  # 2024-05-01 00:00 UTC


@pytest.fixture(scope="module")
def api(spark):
    rows = []
    for h, user, minutes in [
        (-48, "u0", 1.0),
        (96, "u0", 1.0),
        (0, "u1", 60.0),
        (1, "u1", 30.0),
        (0, "u2", 10.0),
        (30, "u3", 5.0),
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


@pytest.fixture(scope="module")
def base_url(api):
    srv = make_server(api, host="127.0.0.1", port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    host, port = srv.server_address[:2]
    yield f"http://{host}:{port}"
    srv.shutdown()
    srv.server_close()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, dict(r.headers), r.read()


def _get_json(url: str):
    status, _, body = _get(url)
    return status, json.loads(body)


def _status_of(url: str, data: bytes | None = None) -> int:
    req = urllib.request.Request(url, data=data)
    if data is not None:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


USAGE_QS = (
    f"start={DAY1 - 86_400_000}&end={DAY1 + 3 * 86_400_000}&unit=HOURS"
    "&zone=UTC&user=u1,u1&users_to_aggregate=u2,u3&cluster=c1&type=minutesTotal"
)


def test_index_and_404(base_url):
    status, idx = _get_json(base_url + "/")
    assert status == 200 and any("/api/usage" in e for e in idx["endpoints"])
    assert _status_of(base_url + "/api/nope") == 404


def test_clusters_and_users(base_url, api):
    assert _get_json(base_url + "/api/clusters") == (200, ["c1"])
    assert _get_json(base_url + "/api/users?cluster=c1") == (200, api.users("c1"))
    # app.rb:35 — missing cluster is halt 500
    assert _status_of(base_url + "/api/users") == 500


def test_usage_get_matches_direct_call(base_url, api):
    status, res = _get_json(base_url + "/api/usage?" + USAGE_QS)
    direct = api.usage(
        start_ms=DAY1 - 86_400_000,
        end_ms=DAY1 + 3 * 86_400_000,
        unit="HOURS",
        zone="UTC",
        users=["u1"],  # u1,u1 de-duped (split(",").uniq)
        cluster="c1",
        metric="minutesTotal",
        users_to_aggregate=["u2", "u3"],
    )
    assert status == 200
    assert res["times"] == direct["times"]
    assert res["users"] == direct["users"]
    assert res["users_aggregated"] == direct["users_aggregated"]
    assert res["num_aggregated_users"] == 2 and res["cluster"] == "c1"
    assert sum(res["users"][0]["data"]) == 90.0
    assert sum(res["users_aggregated"]) == 15.0


def test_usage_post_json_body(base_url):
    body = json.dumps(
        {
            "start": DAY1 - 86_400_000,
            "end": DAY1 + 3 * 86_400_000,
            "unit": "HOURS",
            "zone": "UTC",
            "user": "u1",
            "users_to_aggregate": ["u2", "u3"],  # list form allowed in body
            "cluster": "c1",
            "type": "minutesTotal",
        }
    ).encode()
    req = urllib.request.Request(base_url + "/api/usage", data=body)
    req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=60) as r:
        res = json.loads(r.read())
    assert sum(res["users"][0]["data"]) == 90.0
    assert res["num_aggregated_users"] == 2


def test_usage_missing_param_is_500(base_url):
    # drop `type` — app.rb:69 halts 500
    qs = USAGE_QS.replace("&type=minutesTotal", "")
    assert _status_of(base_url + "/api/usage?" + qs) == 500
    assert _status_of(base_url + "/api/usage", data=b"not json") == 500


def test_empty_user_lists_mirror_reference(base_url):
    # app.rb:86-92 — "".split(",") is empty: users=[] in the response,
    # users_aggregated defaults to [].
    qs = USAGE_QS.replace("user=u1,u1", "user=").replace(
        "users_to_aggregate=u2,u3", "users_to_aggregate="
    )
    status, res = _get_json(base_url + "/api/usage?" + qs)
    assert status == 200
    assert res["users"] == [] and res["users_aggregated"] == []
    assert res["num_aggregated_users"] == 0


def test_invalid_zone_is_500(base_url):
    # Spark rejects the id (INVALID_TIMEZONE): the route answers 500
    qs = USAGE_QS.replace("zone=UTC", "zone=Bogus%2FZone")
    assert _status_of(base_url + "/api/usage?" + qs) == 500
    assert _status_of(base_url + "/api/table?" + qs) == 500


def test_oversized_hours_window_is_500_without_building_it(base_url):
    # years 1..9999 in hours is ~88M buckets (~17 GB as Python objects):
    # counted, refused with 500, never built
    lo = int(datetime(1, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
    hi = int(datetime(9999, 12, 31, tzinfo=timezone.utc).timestamp() * 1000)
    qs = USAGE_QS.replace(f"start={DAY1 - 86_400_000}", f"start={lo}").replace(
        f"end={DAY1 + 3 * 86_400_000}", f"end={hi}"
    )
    tracemalloc.start()
    try:
        t0 = time.monotonic()
        assert _status_of(base_url + "/api/usage?" + qs) == 500
        assert _status_of(base_url + "/api/table?" + qs) == 500
        elapsed = time.monotonic() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert elapsed < 10
    assert peak < 16 * 2**20


def test_table_csv_headers_and_body(base_url, api):
    qs = (
        f"start={DAY1}&end={DAY1 + 2 * 86_400_000}&unit=DAYS&zone=UTC"
        "&user=u1,u3&cluster=c1&type=minutesTotal"
    )
    status, headers, body = _get(base_url + "/api/table?" + qs)
    assert status == 200
    # app.rb:112-113 — attachment + octet-stream, verbatim
    assert headers["Content-Disposition"] == "attachment;filename=table.csv"
    assert headers["Content-Type"] == "application/octet-stream"
    direct = api.table_csv(
        start_ms=DAY1,
        end_ms=DAY1 + 2 * 86_400_000,
        unit="DAYS",
        zone="UTC",
        users=["u1", "u3"],
        cluster="c1",
        metric="minutesTotal",
    )
    assert body.decode() == direct
    assert body.decode().splitlines()[0] == "time,u1,u3"


def test_handler_disables_nagle(api):
    # headers and body are two writes: with Nagle on, every keep-alive
    # response stalls on the client's delayed ACK
    srv = make_server(api, host="127.0.0.1", port=0)
    try:
        assert srv.RequestHandlerClass.disable_nagle_algorithm is True
    finally:
        srv.server_close()


def test_refresh_runs_reload_hook_before_invalidation(api):
    # cmd_serve wires on_refresh to re-read rewritten source files;
    # the server must run it BEFORE invalidating the roll-up cache
    # (else rebuilt roll-ups would come from the stale cube).
    calls = []
    srv = make_server(
        api,
        host="127.0.0.1",
        port=0,
        on_refresh=lambda: calls.append(api.cache._generation),
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address[:2]
        gen = api.cache._generation
        req = urllib.request.Request(f"http://{host}:{port}/api/refresh", data=b"{}")
        with urllib.request.urlopen(req, timeout=60) as r:
            assert json.loads(r.read()) == {"ok": True}
        # hook observed the pre-invalidation generation
        assert calls == [gen]
        assert api.cache._generation == gen + 1
    finally:
        srv.shutdown()
        srv.server_close()


def test_soak_mixed_load_with_midflight_refresh(spark, tmp_path):
    """Soak the full daemon + live Spark session: worker threads
    hammer /api/usage and /api/table while /api/refresh rewrites the
    source parquet mid-flight (wired exactly like cmd_serve's
    reload hook). Invariants: zero 500s, every request issued after
    the refresh barrier serves the rewritten data (no stale reads),
    and the block manager doesn't leak persisted frames under
    request churn."""
    import time as _time

    import os
    import shutil

    src = str(tmp_path / "cube.parquet")

    def _write(scale: float, path: str) -> None:
        rows = []
        # span 3 days so the DAYS unit has a non-empty interior-days
        # axis (reference quirk: interior buckets only, clamped)
        for h, user, minutes in [
            (0, "u1", 60.0), (25, "u1", 30.0), (49, "u1", 20.0), (0, "u2", 10.0),
        ]:
            rows.append(("c1", user, DAY1 + h * HOUR, "MAP", "SUCCESS", False, minutes * scale))
        spark.createDataFrame(
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
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def _swap_in(staging: str) -> None:
        # The production rewrite is an EXTERNAL process (the uploader /
        # an upstream pipeline): it must not touch this session's
        # CacheManager the way a same-session write.parquet(src) would
        # (recacheByPath drops the daemon's cached blocks mid-flight).
        # Simulate it with pure OS-level directory swaps.
        old = src + ".old"
        os.rename(src, old)
        os.rename(staging, src)
        shutil.rmtree(old)

    _write(1.0, src)
    api = UsageApi(spark, spark.read.parquet(src))
    api.cube.persist().count()

    def _reload() -> None:  # cmd_serve's hook, verbatim semantics
        spark.catalog.refreshByPath(src)
        api.cube.unpersist()
        api.cube.persist().count()

    srv = make_server(api, host="127.0.0.1", port=0, on_refresh=_reload)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address[:2]
    base = f"http://{host}:{port}"
    qs = (
        f"start={DAY1 - 86_400_000}&end={DAY1 + 3 * 86_400_000}&unit={{unit}}"
        "&zone=UTC&user=u1&users_to_aggregate=u2&cluster=c1&type=minutesTotal"
    )
    # u1's total per unit at scale 2.0: HOURS sees all three rows;
    # interior-days DAYS sees only the 05-02 bucket (30.0 doubled)
    v2_expected = {"HOURS": 220.0, "DAYS": 60.0}
    refreshed = threading.Event()
    bad: list = []
    post_refresh: list[tuple[str, float]] = []
    lock = threading.Lock()

    # Each worker keeps reading until it has issued this many requests
    # after the barrier, however fast reads are, or until the deadline.
    after_quota, deadline = 6, _time.monotonic() + 120

    def worker(seed: int) -> None:
        issued_after = 0
        for i in itertools.count():
            if issued_after >= after_quota or _time.monotonic() > deadline:
                return
            unit = ("HOURS", "DAYS")[(seed + i) % 2]
            after = refreshed.is_set()  # sampled BEFORE issuing
            issued_after += after
            try:
                if (seed + i) % 3 == 2:
                    status, _, body = _get(base + "/api/table?" + qs.format(unit=unit))
                    u1 = None
                else:
                    status, res = _get_json(base + "/api/usage?" + qs.format(unit=unit))
                    u1 = sum(res["users"][0]["data"])
            except urllib.error.HTTPError as e:
                with lock:
                    bad.append((e.code, e.read()[:300]))
                continue
            except Exception as e:
                with lock:
                    bad.append(repr(e))
                continue
            with lock:
                if status != 200:
                    bad.append((status, unit))
                if after and u1 is not None:
                    post_refresh.append((unit, u1))

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(6)]
    for t in threads:
        t.start()
    staging = str(tmp_path / "staging.parquet")
    _write(2.0, staging)  # doubled values, written out-of-band
    _time.sleep(0.5)  # let the load build
    _swap_in(staging)  # rewrite the corpus mid-flight
    req = urllib.request.Request(base + "/api/refresh", data=b"{}")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert json.loads(r.read()) == {"ok": True}
    refreshed.set()  # barrier: everything issued from here must be v2
    for t in threads:
        t.join(timeout=180)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert post_refresh  # barrier was actually exercised
    assert all(s == v2_expected[u] for u, s in post_refresh)

    # no block-manager leak: another full pass over the same shapes
    # must not grow the persisted-RDD set (cache hits, no re-persist)
    def _persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    for unit in ("HOURS", "DAYS"):
        _get_json(base + "/api/usage?" + qs.format(unit=unit))
    before = _persisted()
    for _ in range(3):
        for unit in ("HOURS", "DAYS"):
            _get_json(base + "/api/usage?" + qs.format(unit=unit))
            _get(base + "/api/table?" + qs.format(unit=unit))
    assert _persisted() == before
    srv.shutdown()
    srv.server_close()
    api.cache.clear()
    api.cube.unpersist()


def test_refresh_invalidates_cache(base_url, api):
    _get_json(base_url + "/api/usage?" + USAGE_QS)  # warm a roll-up
    gen, misses = api.cache._generation, api.cache.misses
    req = urllib.request.Request(base_url + "/api/refresh", data=b"{}")
    req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert json.loads(r.read()) == {"ok": True}
    # invalidate() is a lazy generation bump: the next request must
    # rebuild (a cache miss), not serve the stale roll-up.
    assert api.cache._generation == gen + 1
    _get_json(base_url + "/api/usage?" + USAGE_QS)
    assert api.cache.misses == misses + 1


def test_scheduler_pool_tagged_per_request():
    # mode=FAIR alone puts every job in the internally-FIFO 'default'
    # pool; the handler must tag a per-request pool for fair sharing
    # to actually happen. Stub api: GET / touches no api method, so
    # only the tagging path runs.
    class _Rec:
        def __init__(self):
            self.calls = []

        def setLocalProperty(self, k, v):
            self.calls.append((k, v))

    class _Stub:
        pass

    stub = _Stub()
    stub.spark = _Stub()
    stub.spark.sparkContext = _Rec()

    srv = make_server(stub, host="127.0.0.1", port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        _get("http://{}:{}/".format(*srv.server_address[:2]))
    finally:
        srv.shutdown()
        srv.server_close()
    calls = stub.spark.sparkContext.calls
    assert len(calls) == 1
    k, v = calls[0]
    assert k == "spark.scheduler.pool" and v.startswith("req-")

    # scheduler_pools=False (the FIFO-baseline posture bench_http
    # measures): no tagging at all
    stub.spark.sparkContext.calls.clear()
    srv = make_server(stub, host="127.0.0.1", port=0, scheduler_pools=False)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        _get("http://{}:{}/".format(*srv.server_address[:2]))
    finally:
        srv.shutdown()
        srv.server_close()
    assert stub.spark.sparkContext.calls == []


def test_scheduler_pools_distinct_across_threads():
    # Regression: pool index must NOT be derived from
    # threading.get_ident() % N — glibc idents are pthread descriptor
    # addresses aligned past 32 bytes, so the modulo maps EVERY
    # handler thread to 'req-0' and fair sharing silently collapses
    # to one FIFO pool. ThreadingHTTPServer spawns a fresh thread per
    # connection, so distinct requests must draw distinct pools.
    class _Rec:
        def __init__(self):
            self.calls = []
            self.lock = threading.Lock()

        def setLocalProperty(self, k, v):
            with self.lock:
                self.calls.append((k, v))

    class _Stub:
        pass

    stub = _Stub()
    stub.spark = _Stub()
    stub.spark.sparkContext = _Rec()

    srv = make_server(stub, host="127.0.0.1", port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = "http://{}:{}/".format(*srv.server_address[:2])
        for _ in range(8):
            _get(base)
    finally:
        srv.shutdown()
        srv.server_close()
    pools = [v for k, v in stub.spark.sparkContext.calls]
    assert len(pools) == 8
    # 8 fresh threads, 32-pool namespace: all 8 must be distinct
    # (ident-modulo scores 1 here).
    assert len(set(pools)) == 8, pools


def _stub_api(set_local_property):
    class _Ctx:
        setLocalProperty = staticmethod(set_local_property)

    class _Stub:
        pass

    stub = _Stub()
    stub.spark = _Stub()
    stub.spark.sparkContext = _Ctx()
    return stub


def _get_index(stub):
    srv = make_server(stub, host="127.0.0.1", port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = "http://{}:{}/".format(*srv.server_address[:2])
        try:
            with urllib.request.urlopen(url, timeout=60) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())
    finally:
        srv.shutdown()
        srv.server_close()


def test_scheduler_pool_tagging_failures():
    # A stopped context (its JVM handle gone, or the gateway down)
    # serves the route without a pool; any other failure answers 500
    # with its message instead of dropping the connection.
    def stopped(k, v):
        raise AttributeError("'NoneType' object has no attribute 'setLocalProperty'")

    def broken(k, v):
        raise RuntimeError("pool tagging broke")

    status, body = _get_index(_stub_api(stopped))
    assert status == 200 and "endpoints" in body
    assert _get_index(_stub_api(broken)) == (500, {"error": "RuntimeError: pool tagging broke"})
