"""HTTP serving latency benchmark → ``BENCH_http_r{N}.json`` sidecar.

The query bench (bench.py) measures plan construction + execution;
this measures the OTHER flagship surface — the serving daemon
(server.py over plans/api.py, the reference's Sinatra app.rb) —
end-to-end through a real listening socket: request parsing, the
read/write freshness lock, the (cluster, unit, zone, metric) roll-up
cache, Spark execution on miss, JSON shaping, socket write.

Three phases over the production cube (``__main__._serving_api`` at
$SPARK_GRAFT_SF_DIR, default sf0.1):

- **miss**: K distinct cache keys, each requested exactly once, T
  threads concurrently — every request builds its roll-up in Spark.
- **hit**: the same keys re-requested R times each under the same
  concurrency — every request serves the collected roll-up, the
  memoized cluster clamp and the dense axis from the driver, and
  starts no Spark job.
- **refresh barrier**: T threads hammer warmed keys while one
  ``POST /api/refresh`` lands mid-flight. The refresh takes the
  exclusive lock (drains in-flight reads, invalidates the cache), so
  the phase records the barrier wall time and the worst blocked
  request; post-barrier requests are first-touch misses again and are
  tagged separately instead of polluting the hit numbers.

A fourth phase, **hit_fifo_baseline**, re-runs the hit workload
against a second server built with ``scheduler_pools=False`` — the
FIFO-equivalent posture (all jobs in Spark's internally-FIFO
``default`` pool) — so the committed artifact carries both scheduler
postures side by side. A fifth, **light_under_heavy**, measures the
heterogeneous case per-request pools exist for: one thread of light
``/api/clusters`` requests while the remaining threads build heavy
cold-miss roll-ups, under each posture (fresh zone pairs so both
measure genuinely cold heavy work).

Workload is deterministic (seeded key order, fixed counts) so the
sidecar is comparable round-over-round. Tripwire: against the newest
committed ``BENCH_http_r*.json`` **at the same SF and thread count**
(a prior at a different SPARK_GRAFT_SF_DIR or thread count is a
different workload — treated as no prior), flag any phase whose p95
grew >3x (floor 20 ms — below that, thread-scheduling jitter
dominates). Failed requests never shrink a phase's sample silently:
each phase records a ``failures`` count and the run warns on any.
Empty ``regressions`` is the expected state.

Usage: python tools/bench_http.py   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, SPARK_GRAFT_HTTP_THREADS)
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import urllib.parse
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THREADS = int(os.environ.get("SPARK_GRAFT_HTTP_THREADS", "8"))
HIT_ROUNDS = 4  # each warmed key re-requested this many times
P95_FACTOR = 3.0
P95_FLOOR = 0.02

#: deterministic miss-key space: 2 zones x 2 units x 4 metrics = 16
#: distinct (cluster, unit, zone, metric) roll-ups.
ZONES = ["UTC", "America/Los_Angeles"]
UNITS = ["DAYS", "WEEKS"]
METRICS = ["minutesTotal", "cpuTotal", "minutesMap", "successFinished"]


def pctl(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return round(s[int(q * (len(s) - 1))], 4) if s else -1.0


def summarize(xs: list[float]) -> dict:
    return {"n": len(xs), "p50": pctl(xs, 0.50), "p95": pctl(xs, 0.95)}


def prior_http(
    repo: str,
    sf: float | None = None,
    threads: int | None = None,
    exclude: str | None = None,
) -> tuple[str | None, dict]:
    """Newest committed sidecar COMPARABLE to this run: same SF and
    same thread count (bench.py's strict sf gating, extended with the
    concurrency knob — p95 at 2 threads vs 8 is a different workload
    and would false-flag or silently mask). ``exclude`` skips the
    run's OWN output file so a re-run within a round still compares
    against the prior round, not its first attempt. ``None``
    sf/threads keeps the legacy newest-wins behavior for tooling
    tests."""
    cands: list[tuple[int, str]] = []
    for f in os.listdir(repo):
        m = re.fullmatch(r"BENCH_http_r(\d+)\.json", f)
        if m and f != exclude:
            cands.append((int(m.group(1)), f))
    for _, fname in sorted(cands, reverse=True):
        try:
            with open(os.path.join(repo, fname)) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        if sf is not None and doc.get("sf") != sf:
            continue
        if threads is not None and doc.get("threads") != threads:
            continue
        return fname, doc
    return None, {}


def compute_regressions(cur: dict, prior: dict) -> list[str]:
    """Phase-level p95 tripwire: >3x growth above a 20 ms floor.
    ``hit_fifo_baseline`` joins the comparison once both sides carry
    it (r10's artifact predates the phase — the guard skips None)."""
    out = []
    for phase in ("miss", "hit", "post_refresh_miss", "hit_fifo_baseline"):
        a, b = cur.get(phase, {}).get("p95"), prior.get(phase, {}).get("p95")
        if (
            a is not None
            and b is not None
            and min(a, b) >= P95_FLOOR
            and a > P95_FACTOR * b
        ):
            out.append(f"{phase}.p95")
    return sorted(out)


def run_phase(urls: list[str], threads: int) -> tuple[list[float], list[str]]:
    """Issue every URL exactly once across a fixed-size thread pool;
    per-request wall seconds in issue order (order is deterministic,
    completion interleaving is not — stats are order-free). A failed
    request (HTTP error, timeout, socket reset) must NOT silently
    shrink the sample — it is recorded and surfaced in the artifact's
    per-phase ``failures`` count; a worker survives it and keeps
    draining (the old code let the worker thread die, so a phase
    could quietly summarize partial data and look green)."""
    lats: list[float] = []
    fails: list[str] = []
    lock = threading.Lock()
    it = iter(urls)

    def worker():
        while True:
            with lock:
                u = next(it, None)
            if u is None:
                return
            t0 = time.time()
            try:
                with urllib.request.urlopen(u, timeout=300) as r:
                    r.read()
            except Exception as e:
                with lock:
                    fails.append(f"{type(e).__name__}: {e}")
                continue
            dt = time.time() - t0
            with lock:
                lats.append(dt)

    ts = [threading.Thread(target=worker) for _ in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return lats, fails


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from bench import next_round
    from white_elephant_spark.__main__ import _serving_api
    from white_elephant_spark.server import make_server
    from white_elephant_spark.session import get_spark

    spark = get_spark(
        "bench-http",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "8")),
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            # Serving posture: concurrent requests each run small Spark
            # jobs; FIFO serializes them behind whichever arrived first.
            # mode=FAIR is necessary but NOT sufficient — fair sharing
            # only happens across pools, and without assignments every
            # job is in the one internally-FIFO 'default' pool. The
            # server tags a per-request pool (server.py
            # scheduler_pools=True); the hit_fifo_baseline phase below
            # measures the no-pools posture alongside for the record.
            "spark.scheduler.mode": "FAIR",
        },
    )
    api = _serving_api(spark, sf_dir)
    # Serving posture: the daemon keeps the cube hot (cmd_serve
    # persists it); latency here is serve-path, not cube build.
    api.cube = api.cube.persist()
    api.cube.count()

    srv = make_server(api, host="127.0.0.1", port=0)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    host, port = srv.server_address[:2]
    base = f"http://{host}:{port}"

    from pyspark.sql import functions as F

    cluster = api.clusters()[0]
    users = api.users(cluster)
    sel, agg = users[:5], users[5:]
    mm = (
        api.cube.filter(F.col("cluster") == cluster)
        .agg(F.min("time").alias("lo"), F.max("time").alias("hi"))
        .collect()[0]
    )
    from datetime import timezone

    to_ms = lambda d: int(d.replace(tzinfo=timezone.utc).timestamp() * 1000)  # noqa: E731
    start_ms, end_ms = to_ms(mm["lo"]), to_ms(mm["hi"])

    def usage_url(unit: str, zone: str, metric: str) -> str:
        q = urllib.parse.urlencode(
            {
                "cluster": cluster,
                "unit": unit,
                "zone": zone,
                "type": metric,
                "user": ",".join(sel),
                "users_to_aggregate": ",".join(agg),
                "start": start_ms,
                "end": end_ms,
            }
        )
        return f"{base}/api/usage?{q}"

    keys = [(u, z, t) for z in ZONES for u in UNITS for t in METRICS]
    miss_urls = [usage_url(*k) for k in keys]

    # phase 1 — misses (each key's first touch builds the roll-up)
    miss, miss_fail = run_phase(miss_urls, THREADS)
    # phase 2 — hits (cache warmed by phase 1)
    hit, hit_fail = run_phase(miss_urls * HIT_ROUNDS, THREADS)

    # phase 2b — FIFO-equivalent baseline, committed alongside: a
    # second server over the SAME api (cache stays warm) built with
    # scheduler_pools=False, so every request's jobs land in the
    # single 'default' pool — which Spark schedules FIFO internally
    # even under spark.scheduler.mode=FAIR. The hit/hit_fifo_baseline
    # pair is the committed evidence for the per-request-pool posture
    # (mode=FAIR alone does not fair-share; see server.py).
    srv_fifo = make_server(api, host="127.0.0.1", port=0, scheduler_pools=False)
    th_fifo = threading.Thread(target=srv_fifo.serve_forever, daemon=True)
    th_fifo.start()
    fbase = "http://{}:{}".format(*srv_fifo.server_address[:2])
    fifo_urls = [u.replace(base, fbase, 1) for u in miss_urls]
    hit_fifo, fifo_fail = run_phase(fifo_urls * HIT_ROUNDS, THREADS)

    # phase 2c — light-under-heavy, both postures. For HOMOGENEOUS
    # concurrent jobs (the hit phase) processor-sharing finishes
    # everything late, so FAIR pools can't beat FIFO there; the payoff
    # is HETEROGENEOUS traffic — a light request (/api/clusters, one
    # tiny job) must not starve behind in-flight heavy roll-up misses.
    # T-1 threads build fresh-zone misses while one thread loops the
    # light request; each posture gets its own untouched zone pair so
    # both measure genuinely cold heavy work.
    def light_under_heavy(target_base: str, zones: list[str]) -> tuple[dict, int]:
        heavy_urls = [
            usage_url(u, z, t).replace(base, target_base, 1)
            for z in zones
            for u in UNITS
            for t in METRICS
        ]
        light: list[float] = []
        lfails: list[str] = []
        done = threading.Event()

        def light_worker():
            consecutive = 0
            while not done.is_set():
                t0 = time.time()
                try:
                    with urllib.request.urlopen(
                        f"{target_base}/api/clusters", timeout=300
                    ) as r:
                        r.read()
                except Exception as e:
                    lfails.append(f"{type(e).__name__}: {e}")
                    consecutive += 1
                    # A dead/rejecting server would otherwise turn
                    # this loop into a tight connect-fail spin for the
                    # whole heavy phase, unboundedly skewing the
                    # failure count. Back off briefly, and abort the
                    # light leg loudly after a sustained failure run.
                    if consecutive >= 50:
                        lfails.append("ABORT: 50 consecutive light-request failures")
                        return
                    time.sleep(0.1)
                    continue
                consecutive = 0
                light.append(time.time() - t0)

        lt = threading.Thread(target=light_worker)
        lt.start()
        _, hfails = run_phase(heavy_urls, max(1, THREADS - 1))
        done.set()
        lt.join()
        return {**summarize(light), "failures": len(lfails) + len(hfails)}, len(
            heavy_urls
        )

    light_fair, heavy_n = light_under_heavy(base, ["Asia/Tokyo", "Europe/Berlin"])
    light_fifo, _ = light_under_heavy(fbase, ["Asia/Kolkata", "Australia/Sydney"])
    srv_fifo.shutdown()
    srv_fifo.server_close()

    # phase 3 — refresh barrier under load: hammer warmed keys on T
    # threads; fire one refresh once the hammering is in flight.
    stop = threading.Event()
    blocked: list[float] = []
    blk_lock = threading.Lock()

    hammer_fail: list[str] = []

    def hammer(i: int):
        j = i
        while not stop.is_set():
            t0 = time.time()
            try:
                with urllib.request.urlopen(
                    miss_urls[j % len(miss_urls)], timeout=300
                ) as r:
                    r.read()
            except Exception as e:
                with blk_lock:
                    hammer_fail.append(f"{type(e).__name__}: {e}")
                j += THREADS
                continue
            with blk_lock:
                blocked.append(time.time() - t0)
            j += THREADS

    hs = [threading.Thread(target=hammer, args=(i,)) for i in range(THREADS)]
    for t in hs:
        t.start()
    time.sleep(0.3)  # let requests be genuinely in flight
    t0 = time.time()
    req = urllib.request.Request(f"{base}/api/refresh", data=b"{}", method="POST")
    req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=300) as r:
        r.read()
    barrier = time.time() - t0
    stop.set()
    for t in hs:
        t.join()

    # post-refresh: the cache is cold again — first touches are misses
    post, post_fail = run_phase(miss_urls, THREADS)

    srv.shutdown()
    srv.server_close()

    phase_fails = (
        len(miss_fail)
        + len(hit_fail)
        + len(fifo_fail)
        + len(hammer_fail)
        + len(post_fail)
        + light_fair["failures"]
        + light_fifo["failures"]
    )
    all_fail = miss_fail + hit_fail + fifo_fail + hammer_fail + post_fail
    if phase_fails:
        first = all_fail[0] if all_fail else "(light/heavy phase)"
        print(
            f"WARNING: {phase_fails} failed requests; first: {first}",
            file=sys.stderr,
        )

    repo = REPO
    result = {
        "metric": "http_usage_latency",
        "unit": "sec",
        "sf": sf,
        "threads": THREADS,
        "keys": len(keys),
        "scheduler": {"mode": "FAIR", "pools": "per-request"},
        "miss": {**summarize(miss), "failures": len(miss_fail)},
        "hit": {**summarize(hit), "failures": len(hit_fail)},
        "hit_fifo_baseline": {**summarize(hit_fifo), "failures": len(fifo_fail)},
        "light_under_heavy": {
            "heavy_n": heavy_n,
            "fair_pools": light_fair,
            "fifo_baseline": light_fifo,
        },
        "refresh": {
            "barrier_sec": round(barrier, 4),
            "inflight_n": len(blocked),
            "inflight_max": pctl(blocked, 1.0),
            "failures": len(hammer_fail),
        },
        "post_refresh_miss": {**summarize(post), "failures": len(post_fail)},
        "total_failures": phase_fails,
        "failure_samples": all_fail[:5],
    }
    side_name = f"BENCH_http_r{next_round(repo):02d}.json"
    prior_file, prior = prior_http(repo, sf, THREADS, exclude=side_name)
    result["regressions"] = compute_regressions(result, prior)
    result["regressions_vs"] = prior_file
    side = os.path.join(repo, side_name)
    try:
        with open(side, "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
