"""End-to-end benchmark of the White Elephant engine.

    python3 perfbench/run.py --workload {refresh_serve,query_suite} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. One process generates seeded
inputs, drives a closed-loop workload against the engine's public entry
points for at least ``--seconds`` of timed wall, and checks the outputs:

- ``refresh_serve``: Hadoop job-history logs are refreshed into the
  hourly usage cube day by day while the cube is served over HTTP with
  ``server.make_server``;
- ``query_suite``: registered queries of the dedup, fuzzy-matching,
  text-profile, similarity and clustering families over a generated
  text and embedding corpus.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions from the outside, tags Spark jobs per op and
prints per-layer metrics. Outputs are checked outside the timed region;
the last stdout line is one JSON object ``{correct, attempted, failed,
metrics}`` and the exit code is non-zero on any mismatch.

Every run works in a fresh directory under ``.perfbench_runs/`` in the
checkout (inputs, cube, model store, warehouse, Spark local dirs) and
removes it at exit; the traced run leaves its spans in
``.perfbench_runs/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from datetime import timedelta  # noqa: E402
from urllib.parse import urlencode  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import accounting  # noqa: E402
import checks  # noqa: E402
import corpus  # noqa: E402
import loggen  # noqa: E402
from accounting import median  # noqa: E402

# -- refresh_serve shape ---------------------------------------------------
JOBS_PER_DAY = 100  # per cluster; ~3.1k log lines per cluster-day
FILES_PER_DAY = 3  # history files per cluster-day
REFRESH_DAYS = 2  # scanned history stays at this many days
LATE_JOBS = 5  # per cluster, landed late into the previous day each cycle
# Two hot roll-up keys, so after each refresh two reads miss and the
# other three /api/usage reads of the cycle hit; op_p50_s falls among
# the hits.
HOT_KEYS = (
    ("alpha", "HOURS", "UTC", "minutesTotal"),
    ("beta", "DAYS", "America/Los_Angeles", "cpuTotal"),
)
USAGE_READS_PER_CYCLE = 5
# Each run sets up this many times from scratch (fresh inputs, build,
# server or trained models) and reports the median as setup_s; the
# set-ups are also the first part of the warm-up.
SETUPS = 3
# Warm-up rounds after the set-ups (one read of each dashboard route,
# or one query pass), the same number in every run so that every run
# times the same ops at the same point.
WARM_ROUNDS = 1
# whole cycles and passes are timed, at least this many, even past --seconds
MIN_TIMED_CYCLES = 2

# -- query_suite shape -----------------------------------------------------
# Registered queries that load the dedup (exact digest), similarity
# (IVF index over k-means-refined centroids) and text operators,
# fastest first: one query per pass runs faster than ann_ivf_topk and
# one slower, so op_p50_s is ann_ivf_topk's time. The IVF quantizer is
# trained in each set-up.
QUERIES = ("dedup_exact", "ann_ivf_topk", "text_profile")
CORPUS_DOCS, CORPUS_VECS = 500, 500
MIN_TIMED_PASSES = 5

OP_HEADER = "X-Perfbench-Op"


@dataclass
class Op:
    route: str
    path: str
    params: dict
    status: int = 0
    body: bytes = b""
    latency: float = 0.0
    traced: bool = False
    measured: bool = False
    ok: bool = True
    note: str = ""
    id: int = field(default_factory=itertools.count(1).__next__)


@dataclass
class ApiCall:
    route: str
    group: str
    op: int | None  # the Op id of the HTTP request that made the call
    start: float
    end: float


@dataclass
class Bench:
    """One run: directories, Spark session, server, tracer and results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    base: str = ""
    spark: object = None
    cores: int = 1
    server: object = None
    server_thread: object = None
    port: int = 0
    tracer: accounting.Tracer = field(default_factory=accounting.Tracer)
    acct: accounting.SparkAccounting | None = None
    ops: list[Op] = field(default_factory=list)
    api_calls: list[ApiCall] = field(default_factory=list)
    missed: list = field(default_factory=list)  # roll-up builders of cache misses
    layer: dict[str, float] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    extras: dict[str, tuple[float, str]] = field(default_factory=dict)
    t_first_op: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)


# -- setup -----------------------------------------------------------------
def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def start(b: Bench) -> None:
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    b.base = tempfile.mkdtemp(prefix=f"{b.workload}-{b.seed}-", dir=runs)
    for d in ("tmp", "local", "models", "warehouse", "jtmp"):
        os.makedirs(b.path(d))
    # Nothing of this run may land outside its directory, and nothing
    # of an earlier run may be found by it.
    os.environ["TMPDIR"] = b.path("tmp")
    tempfile.tempdir = b.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = b.path("local")
    os.environ["SPARK_GRAFT_MODEL_DIR"] = b.path("models")
    # Spark's Python workers run the engine's UDFs and import its package.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from white_elephant_spark.session import get_spark

    b.cores = len(os.sched_getaffinity(0))
    b.spark = get_spark(
        "perfbench",
        master=f"local[{b.cores}]",
        shuffle_partitions=b.cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": b.path("local"),
            "spark.sql.warehouse.dir": b.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={b.path('jtmp')}",
            "spark.ui.showConsoleProgress": "false",
            # the serving daemon's posture (__main__.cmd_serve)
            "spark.scheduler.mode": "FAIR",
            # keep every job and stage of a run for the traced accounting
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    b.spark.sparkContext.setLogLevel("ERROR")
    log(f"spark session local[{b.cores}]")
    if b.trace:
        b.acct = accounting.SparkAccounting(b.spark, b.cores)
        install_wrappers(b)


def stop_server(b: Bench) -> None:
    if b.server is not None:
        b.server.shutdown()
        b.server.server_close()
        b.server_thread.join(timeout=30)
        b.server = None


def close(b: Bench) -> None:
    """Stop the server, the Spark session and its JVM; remove the run dir."""
    stop_server(b)
    if b.spark is not None:
        sc = b.spark.sparkContext
        proc = sc._gateway.proc
        b.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    if b.base:
        shutil.rmtree(b.base, ignore_errors=True)


def peak_rss_mb(b: Bench) -> float:
    """Peak RSS of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = b.spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def cube_disk_bytes(cube_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(cube_dir) for f in files)


# -- engine entry points ---------------------------------------------------
def cube_input(spark, gen: loggen.LogGen, probe: dict | None = None):
    """Raw logs → attempts joined to their job's user and cluster:
    logfiles scan, parse, fragment merges, validity filter, excess
    labelling. ``probe`` receives the intermediate frames."""
    from white_elephant_spark.operators import parse, reconstruct
    from white_elephant_spark.sources import logfiles

    lines = logfiles.read_log_lines(spark, gen.glob()).withColumn(
        "cluster", logfiles.cluster_from_path(root_name=loggen.ROOT_NAME)
    )
    att_lines = parse.parse_attempt_lines(lines)
    job_lines = parse.parse_job_lines(lines)
    atts = reconstruct.reconstruct_attempts(att_lines)
    jobs = reconstruct.merge_job_fragments(job_lines, extra_keys=("cluster",))
    out = atts.drop("cluster").join(jobs.select("jobId", "user", "cluster"), "jobId")
    if probe is not None:
        probe.update(lines=lines, att_lines=att_lines, job_lines=job_lines)
    return out


def etl(b: Bench, gen: loggen.LogGen, cube_dir: str, forced: int):
    from white_elephant_spark.sources import incremental

    return incremental.refresh(cube_input(b.spark, gen), cube_dir, num_days_forced=forced)


def serving_cube(spark, cube_dir: str):
    """The cube as ``UsageApi`` expects it: minutes-typed measures next
    to the exact-integer ones."""
    from pyspark.sql import functions as F

    from white_elephant_spark.sources import incremental

    return incremental.read_cube(spark, cube_dir).withColumns(
        {
            "elapsedMinutes": F.col("elapsedMs") / 60000.0,
            "cpuMinutes": F.col("cpuMsProrated") / 60000.0,
        }
    )


_request_op = threading.local()  # the Op id of the request a server thread handles


def start_server(b: Bench, cube_dir: str):
    from white_elephant_spark.plans.api import UsageApi
    from white_elephant_spark.server import make_server

    api = UsageApi(b.spark, serving_cube(b.spark, cube_dir))
    api.cube.persist().count()
    reload_times: list[float] = []

    def reload() -> None:
        # __main__.cmd_serve's _reload: drop cached blocks and file
        # indexes under the cube path, then re-materialize.
        t0 = time.time()
        b.spark.catalog.refreshByPath(os.path.abspath(cube_dir))
        api.cube.unpersist()
        api.cube.persist().count()
        reload_times.append(time.time() - t0)

    b.server = make_server(api, host="127.0.0.1", port=0, on_refresh=reload)
    if b.trace:
        # pair each UsageApi call with the HTTP request that made it
        handler = b.server.RequestHandlerClass
        for meth in ("do_GET", "do_POST"):
            orig = getattr(handler, meth)

            def handle(self, _orig=orig):
                op = self.headers.get(OP_HEADER)
                _request_op.id = int(op) if op else None
                return _orig(self)

            setattr(handler, meth, handle)
    b.port = b.server.server_address[1]
    b.server_thread = threading.Thread(target=b.server.serve_forever, daemon=True)
    b.server_thread.start()
    return api, reload_times


# -- HTTP client -------------------------------------------------------------
class Client:
    """One keep-alive connection; every request is timed from send."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def send(self, op: Op, method: str = "GET") -> Op:
        body = b"{}" if method == "POST" else None
        headers = {"Content-Type": "application/json"} if body else {}
        if op.traced:
            headers[OP_HEADER] = str(op.id)
        t0 = time.perf_counter()
        try:
            self.conn.request(method, op.path, body=body, headers=headers)
            resp = self.conn.getresponse()
            op.body = resp.read()
            op.status = resp.status
        except (OSError, http.client.HTTPException) as e:
            op.status, op.ok, op.note = -1, False, f"{type(e).__name__}: {e}"
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        op.latency = time.perf_counter() - t0
        if op.status != 200:
            op.ok = False
        return op

    def close(self) -> None:
        self.conn.close()


def request(route: str, params: dict) -> Op:
    path = f"/api/{route}" + (f"?{urlencode(params)}" if params else "")
    return Op(route, path, params)


def usage_params(key, start_ms, end_ms, users, others) -> dict:
    cluster, unit, zone, metric = key
    return {
        "start": start_ms, "end": end_ms, "unit": unit, "zone": zone,
        "user": ",".join(users), "users_to_aggregate": ",".join(others),
        "cluster": cluster, "type": metric,
    }


# -- traced-run instrumentation -----------------------------------------------
def install_wrappers(b: Bench) -> None:
    """Spans around every public function the workloads reach, and job
    groups per API call so server-thread jobs count for their request."""
    from white_elephant_spark.operators import parse, reconstruct, usage
    from white_elephant_spark.plans import api as api_mod
    from white_elephant_spark.plans import cache, serving
    from white_elephant_spark.sources import incremental, logfiles

    t = b.tracer
    for mod, names in (
        (logfiles, ("read_log_lines",)),
        (parse, ("parse_attempt_lines", "parse_job_lines")),
        (reconstruct, ("reconstruct_attempts", "merge_job_fragments")),
        (usage, ("explode_attempt_hours", "aggregate_usage_exact")),
        (incremental, ("refresh", "input_day_range", "existing_cluster_days",
                       "build_day_cube", "write_day_partitions", "read_cube")),
        (serving, ("clamp_range", "dense_axis", "timeseries", "csv_table")),
        (api_mod, ("rollup_by_time",)),
    ):
        for name in names:
            t.wrap(mod, name, f"{mod.__name__.rsplit('.', 1)[-1]}.{name}")

    acct, seq, lock = b.acct, itertools.count(1), threading.Lock()
    routes = {"usage": "usage", "table_csv": "table", "users": "users", "clusters": "clusters"}
    for meth, route in routes.items():
        orig = getattr(api_mod.UsageApi, meth)

        def call(self, *a, _orig=orig, _route=route, **k):
            if not t.active:
                return _orig(self, *a, **k)
            with lock:
                group = f"req-{_route}-{next(seq)}"
            acct.tag(group)
            t.set_op(group)
            t0 = time.time()
            try:
                return t.record(f"api.{_route}", _orig, self, *a, **k)
            finally:
                t1 = time.time()
                acct.untag()
                t.set_op(None)
                b.api_calls.append(ApiCall(_route, group, getattr(_request_op, "id", None), t0, t1))

        setattr(api_mod.UsageApi, meth, call)

    orig_get = cache.QueryCache.get_or_build

    def get_or_build(self, key, build):
        if not t.active:
            return orig_get(self, key, build)
        misses = self.misses
        df = t.record("cache.get_or_build", orig_get, self, key, build)
        if self.misses > misses:
            # materialized later, by rollup_probe, outside the request
            b.missed.append(build)
        return df

    cache.QueryCache.get_or_build = get_or_build


def traced_op(b: Bench, group: str, fn, *args, **kwargs):
    """Run one main-thread op under a job group and a span."""
    b.acct.tag(group)
    b.tracer.set_op(group)
    t0 = time.time()
    try:
        return b.tracer.record(group.split("-")[0], fn, *args, **kwargs), t0, time.time()
    finally:
        b.acct.untag()
        b.tracer.set_op(None)


def etl_probe(b: Bench, gen: loggen.LogGen) -> None:
    """Self time of the lazy ETL layers by prefix materialization to the
    ``noop`` sink — scan; + parse; + reconstruct; + usage — and their
    work counts. Both parse branches scan the logs, so the scan prefix
    is materialized twice to match."""
    from white_elephant_spark.operators import usage

    frames: dict = {}
    b.tracer.active = True
    cube_in = cube_input(b.spark, gen, probe=frames)
    hours = usage.explode_attempt_hours(usage.filter_usable_attempts(cube_in))
    cube = usage.aggregate_usage_exact(hours)

    def noop(*dfs):
        for df in dfs:
            df.write.format("noop").mode("overwrite").save()

    # The reconstruct prefix keeps only the columns the usage layer
    # reads, so column pruning cannot make usage's self time negative.
    usage_in = cube_in.select("user", "cluster", "excess", "type", "taskStatus",
                              "startTime", "finishTime", "counters")
    prefixes = (
        ("scan", (frames["lines"], frames["lines"])),
        ("parse", (frames["att_lines"], frames["job_lines"])),
        ("reconstruct", (usage_in,)),
        ("usage", (cube,)),
    )
    walls, shuffle = {}, {}
    for rep in range(2):  # the first pass compiles the prefix plans
        for name, dfs in prefixes:
            _, t0, t1 = traced_op(b, f"prefix-{name}-{rep}", noop, *dfs)
            walls[name] = t1 - t0
            shuffle[name] = (f"prefix-{name}-{rep}", t0, t1)
    b.tracer.active = False
    b.acct.drain()
    st = {n: b.acct.stats(*shuffle[n]) for n in shuffle}
    L = b.layer
    L["logfiles.lines"] = frames["lines"].count()
    L["parse.self_s"] = walls["parse"] - walls["scan"]
    L["parse.fragments"] = frames["att_lines"].count() + frames["job_lines"].count()
    L["reconstruct.self_s"] = walls["reconstruct"] - walls["parse"]
    L["reconstruct.attempts"] = cube_in.count()
    L["reconstruct.shuffle_bytes"] = st["reconstruct"].shuffle_write_bytes - st["parse"].shuffle_write_bytes
    L["usage.self_s"] = walls["usage"] - walls["reconstruct"]
    L["usage.hour_rows"] = hours.count()
    L["usage.cube_rows"] = cube.count()


def rollup_probe(b: Bench) -> None:
    """metrics.rollup_s: the roll-ups that missed the cache in the
    traced phases, built again and materialized under their own job
    groups, outside any request."""
    walls = []
    b.tracer.active = True
    for i, build in enumerate(b.missed):
        _, t0, t1 = traced_op(b, f"rollup-{i}", lambda: build().count())
        walls.append(t1 - t0)
    b.tracer.active = False
    b.layer["metrics.rollup_s"] = median(walls)


def incremental_layers(b: Bench, refreshes: list[tuple]) -> None:
    """incremental.* and logfiles.scan_passes from traced refresh ops:
    (group, start, end, days built, (files, bytes) written, log bytes)."""
    writes = [s for s in b.tracer.spans if s.name == "incremental.write_day_partitions"]
    plan, write, passes, stats = [], [], [], []
    for group, t0, t1, _days, _w, log_bytes in refreshes:
        w = next((s for s in writes if s.op == group), None)
        if w is not None:
            plan.append(w.start - t0)
            write.append(w.end - w.start)
        st = b.acct.stats(group, t0, t1)
        stats.append(st)
        passes.append(st.input_bytes / log_bytes)
    L = b.layer
    L["incremental.plan_s"] = median(plan)
    L["incremental.write_s"] = median(write)
    L["incremental.days_built"] = median(len(r[3]) for r in refreshes)
    L["incremental.files_written"] = median(r[4][0] for r in refreshes)
    L["incremental.bytes_written"] = median(r[4][1] for r in refreshes)
    L["logfiles.scan_passes"] = median(passes)
    spark_layers(b, "spark.etl.", stats)


def spark_layers(b: Bench, prefix: str, stats: list) -> None:
    """Per-op medians of the Spark work of ``stats``."""
    L = b.layer
    for f in ("jobs", "stages", "tasks", "build_s", "exec_s", "sched_s",
              "shuffle_write_bytes", "spill_bytes", "gc_s", "peak_tasks_per_core"):
        L[prefix + f] = median(getattr(s, f) for s in stats)
    L[prefix + "build_share"] = sum(s.build_s for s in stats) / max(1e-9, sum(s.wall_s for s in stats))


def files_snapshot(cube_dir: str) -> dict[str, tuple[int, float]]:
    out = {}
    for dirpath, _d, files in os.walk(cube_dir):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    new = [p for p, v in after.items() if before.get(p) != v and not os.path.basename(p).startswith(".")]
    return len(new), sum(after[p][0] for p in new)


def api_layers(b: Bench, http_ops: list[Op]) -> None:
    """spark.*, api.*, server.overhead_s and trace.overhead_s from the
    traced API calls and the HTTP requests that made them."""
    b.acct.drain()
    calls = list(b.api_calls)
    stats = {c.group: b.acct.stats(c.group, c.start, c.end) for c in calls}
    spark_layers(b, "spark.", list(stats.values()))
    L = b.layer
    for route in ("usage", "table", "users", "clusters"):
        rc = [c for c in calls if c.route == route]
        L[f"api.{route}_s"] = median(c.end - c.start for c in rc)
        L[f"api.{route}_jobs"] = median(stats[c.group].jobs for c in rc)
    traced = {o.id: o for o in http_ops if o.traced}
    L["server.overhead_s"] = median(
        traced[c.op].latency - (c.end - c.start) for c in calls if c.op in traced
    )
    untraced = [o.latency for o in http_ops if o.measured and not o.traced]
    L["trace.overhead_s"] = median(o.latency for o in traced.values()) - median(untraced)


# -- workloads ---------------------------------------------------------------
def repeat_setup(b: Bench, setup, check, teardown):
    """Run ``setup(k)`` SETUPS times, each from scratch, and report the
    median as setup_s. Each set-up's result is checked outside its
    timing; all but the last are torn down. Returns the last result."""
    times = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        state = setup(k)
        times.append(time.perf_counter() - t0)
        log(f"set-up {k + 1}: {times[-1]:.3f}s")
        err = check(state)
        b.ops.append(Op("setup", "", {"k": k}, status=200, ok=not err, note=err))
        if k < SETUPS - 1:
            teardown(state)
    b.e2e["setup_s"] = median(times)
    b.extras["setup_first_s"] = (times[0], "s")
    return state


def day(i: int):
    return loggen.FIRST_DAY + timedelta(days=i)


def refresh_serve(b: Bench) -> None:
    """Writes beside reads: each cycle lands a new day (plus a late file
    for the day before and deletes the oldest day's logs), refreshes the
    cube incrementally, reloads the server and reads the dashboard."""
    backfill = {day(i) for i in range(REFRESH_DAYS)}

    def setup(k: int):
        """Logs of the first days, the backfill build and the server."""
        base = b.path(f"setup{k}")
        gen = loggen.LogGen(os.path.join(base, "logs"), b.seed, JOBS_PER_DAY, FILES_PER_DAY)
        for d in sorted(backfill):
            gen.write_day(d)
        cube_dir = os.path.join(base, "cube")
        etl(b, gen, cube_dir, 2)
        api, reload_times = start_server(b, cube_dir)
        return base, gen, cube_dir, api, reload_times

    def teardown(state) -> None:
        stop_server(b)
        state[3].cube.unpersist()
        shutil.rmtree(state[0], ignore_errors=True)

    state = repeat_setup(b, setup, lambda st: checks.check_cube(st[2], st[1].truth(backfill), backfill), teardown)
    _base, gen, cube_dir, api, reload_times = state
    log(f"logs: {gen.lines()} lines in {len(gen.files)} files; server up")
    # No cycle rebuilds the first day: it is checked after the timed cycles.
    backfill_truth = gen.truth({day(0)})
    client = Client(b.port)
    # Warm-up: the dashboard's routes, each read once on the backfilled
    # cube. The set-ups' backfills have warmed the refresh path.
    lo = loggen.day_ms(day(0))
    hi = loggen.day_ms(day(REFRESH_DAYS - 1)) + loggen.DAY_MS - loggen.HOUR_MS
    users_by_cluster = checks.cluster_users(cube_dir)
    for _ in range(WARM_ROUNDS):
        key = HOT_KEYS[0]
        params = usage_params(key, lo, hi, list(loggen.USERS[:3]), list(loggen.USERS[3:]))
        for op in (request("usage", params), request("clusters", {}), request("users", {"cluster": key[0]}),
                   request("table", {k: v for k, v in params.items() if k != "users_to_aggregate"})):
            client.send(op)
            if op.ok and (err := checks.shape_error(op, users_by_cluster)):
                op.ok, op.note = False, err
            b.ops.append(op)
    rng = random.Random(b.seed)
    cycles: list[dict] = []
    refreshes = []
    hits = misses = 0
    timed = 0.0
    i = REFRESH_DAYS
    b.t_first_op = time.perf_counter()
    while True:
        traced = b.trace and len(cycles) % 2 == 1
        new, late_day = day(i), day(i - 1)
        gen.write_day(new)
        gen.write_day(late_day, late=LATE_JOBS)
        gen.remove_day(day(i - REFRESH_DAYS))
        log_bytes, log_lines = gen.nbytes(), gen.lines()
        b.tracer.active = traced
        h, m = api.cache.hits, api.cache.misses
        t_land = time.perf_counter()
        refresh_op = Op("refresh", "", {"day": new.isoformat()}, traced=traced, measured=True)
        before = files_snapshot(cube_dir) if traced else None
        t0 = time.perf_counter()
        try:
            if traced:
                built, e0, e1 = traced_op(b, f"refresh-{i}", etl, b, gen, cube_dir, 2)
            else:
                built = etl(b, gen, cube_dir, 2)
            refresh_op.status = 200
        except Exception as e:  # a failed refresh is a failed op, not a crash
            built, refresh_op.ok, refresh_op.note = [], False, f"{type(e).__name__}: {e}"
        refresh_op.latency = time.perf_counter() - t0
        if traced and refresh_op.ok:
            refreshes.append((f"refresh-{i}", e0, e1, built, written(before, files_snapshot(cube_dir)), log_bytes))
        if not {new, late_day} <= set(built):
            refresh_op.ok, refresh_op.note = False, f"days built {built}"
        post = request("refresh", {})
        post.traced, post.measured = traced, True
        client.send(post, method="POST")
        lo = loggen.day_ms(late_day)
        hi = loggen.day_ms(new) + loggen.DAY_MS - loggen.HOUR_MS
        reads = []
        for k in range(USAGE_READS_PER_CYCLE):
            key = HOT_KEYS[k % len(HOT_KEYS)]
            users = list(loggen.USERS[:3]) if k == 0 else rng.sample(loggen.USERS[:10], 3)
            others = [u for u in loggen.USERS if u not in users] if k == 0 else rng.sample(loggen.USERS[10:25], 5)
            reads.append(request("usage", usage_params(key, lo, hi, users, others)))
            if k == 0:
                # the dashboard page load after the freshness read
                reads += [request("clusters", {}), request("users", {"cluster": key[0]})]
        reads.append(request("table", {k: v for k, v in reads[0].params.items() if k != "users_to_aggregate"}))
        t_fresh = None
        for op in reads:
            op.traced, op.measured = traced, True
            client.send(op)
            if t_fresh is None:
                t_fresh = time.perf_counter()
        t_end = time.perf_counter()
        b.tracer.active = False
        if traced:
            hits, misses = hits + api.cache.hits - h, misses + api.cache.misses - m
        b.ops += [refresh_op, post] + reads
        # outside the timed region: the rebuilt days against ground truth
        bad = checks.check_cycle(cube_dir, gen.truth({new, late_day}), {new, late_day}, reads, loggen.day_ms(new))
        if bad:
            refresh_op.ok, refresh_op.note = False, bad
        cycles.append({
            "refresh": refresh_op.latency, "wall": t_end - t_land,
            "fresh": t_fresh - t_land, "lines": log_lines, "reads": reads, "post": post,
            "reload": reload_times[-1] if reload_times else 0.0,
        })
        log(f"cycle: refresh {refresh_op.latency:.3f}s"
            f" fresh {t_fresh - t_land:.3f}s reads p50 {median(o.latency for o in reads):.3f}s")
        i += 1
        timed += t_end - t_land
        if timed >= b.seconds and len(cycles) >= MIN_TIMED_CYCLES:
            break
    client.close()
    err = checks.check_cube(cube_dir, backfill_truth, {day(0)})
    if err:
        b.ops.append(Op("backfill", "", {}, ok=False, note=err))
    reads = [op for c in cycles for op in c["reads"]]
    if b.trace:
        b.acct.drain()
        api_layers(b, reads)
        L = b.layer
        L["cache.hits"], L["cache.misses"] = hits, misses
        L["cache.hit_ratio"] = hits / max(1, hits + misses)
        tc = [c for c in cycles if c["post"].traced]
        L["server.reload_s"] = median(c["reload"] for c in tc)
        L["server.barrier_s"] = median(c["post"].latency - c["reload"] for c in tc)
        incremental_layers(b, refreshes)
        rollup_probe(b)
        etl_probe(b, gen)
    else:
        b.e2e["op_p50_s"] = median(op.latency for op in reads)
        b.e2e["ops_per_s"] = len(reads) / timed
        b.extras["timed_ops"] = (len(reads), "count")
        b.extras["etl_lines_per_s"] = (sum(c["lines"] for c in cycles) / sum(c["refresh"] for c in cycles), "lines/s")
        b.extras["freshness_s"] = (median(c["fresh"] for c in cycles), "s")
        b.extras["cycles"] = (len(cycles), "count")
    b.extras["cube_disk_bytes"] = (cube_disk_bytes(cube_dir), "bytes")


def release_persists(spark) -> None:
    """Drop what one query left cached, as ``bench.py`` does between
    queries: Dataset persists and RDD-level persists alike."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def query_suite(b: Bench) -> None:
    """Registered queries, one at a time in a seeded order per pass, each
    built and fully materialized. A set-up writes the corpus and builds
    every query's plan, which trains the models the queries use. The
    first pass after the set-ups collects every result for the oracle
    check; later passes write to the ``noop`` sink."""
    from white_elephant_spark.plans.registry import all_queries

    qs = all_queries()

    def setup(k: int) -> str:
        # a new corpus path, so the queries' models are trained again
        data = b.path(f"corpus{k}")
        corpus.write(data, b.seed, CORPUS_DOCS, CORPUS_VECS)
        for name in QUERIES:
            qs[name].fn(b.spark, data)
        return data

    def teardown(data: str) -> None:
        release_persists(b.spark)
        shutil.rmtree(data, ignore_errors=True)

    data = repeat_setup(b, setup, lambda _data: "", teardown)
    release_persists(b.spark)
    log(f"corpus: {CORPUS_DOCS} documents, {CORPUS_VECS} embeddings")
    rng = random.Random(b.seed)
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    groups: list[tuple[str, str, float, float]] = []  # traced query ops

    def materialize(name: str) -> None:
        qs[name].fn(b.spark, data).write.format("noop").mode("overwrite").save()

    def run_pass(kind: str, traced: bool = False) -> list[Op]:
        names = list(QUERIES)
        rng.shuffle(names)
        ops = []
        for name in names:
            op = Op("query", name, {}, traced=traced, measured=kind == "timed")
            t0 = time.perf_counter()
            try:
                if kind == "check":
                    df = qs[name].fn(b.spark, data)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                elif traced:
                    group = f"q-{name}-{op.id}"
                    _, g0, g1 = traced_op(b, group, materialize, name)
                    groups.append((name, group, g0, g1))
                else:
                    materialize(name)
                op.status = 200
            except Exception as e:  # a failed query is a failed op, not a crash
                op.ok, op.note = False, f"{type(e).__name__}: {e}"
            op.latency = time.perf_counter() - t0
            release_persists(b.spark)
            ops.append(op)
        b.ops.extend(ops)
        log(f"{kind} pass: {sum(o.latency for o in ops):.3f}s")
        return ops

    run_pass("check")
    for _ in range(WARM_ROUNDS):
        run_pass("warm")
    b.t_first_op = time.perf_counter()
    measured: list[Op] = []
    # whole passes; a traced run alternates untraced and traced passes
    while len(measured) < MIN_TIMED_PASSES * len(QUERIES) or time.perf_counter() - b.t_first_op < b.seconds:
        measured += run_pass("timed", traced=b.trace and len(measured) // len(QUERIES) % 2 == 1)
    wall = time.perf_counter() - b.t_first_op

    # outside the timed region: every query's result against its oracle
    errors = checks.check_queries(data, {n: qs[n].oracle for n in QUERIES}, results)
    for op in b.ops:
        if op.ok and errors.get(op.path):
            op.ok, op.note = False, errors[op.path]
    if b.trace:
        b.acct.drain()
        traced = [o for o in measured if o.traced]
        untraced = [o for o in measured if not o.traced]
        stats = [(name, b.acct.stats(group, g0, g1)) for name, group, g0, g1 in groups]
        spark_layers(b, "spark.", [st for _, st in stats])
        for name in QUERIES:
            mine = [st for n, st in stats if n == name]
            b.layer[f"q.{name}.wall_s"] = median(st.wall_s for st in mine)
            b.layer[f"q.{name}.build_s"] = median(st.build_s for st in mine)
        b.layer["trace.overhead_s"] = median(o.latency for o in traced) - median(o.latency for o in untraced)
    else:
        b.e2e["op_p50_s"] = median(o.latency for o in measured)
        b.e2e["ops_per_s"] = len(measured) / wall
        b.extras["timed_ops"] = (len(measured), "count")
        for name in QUERIES:
            b.extras[f"q.{name}_s"] = (median(o.latency for o in measured if o.path == name), "s")


WORKLOADS = {"refresh_serve": refresh_serve, "query_suite": query_suite}

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}


def per_layer_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import white_elephant_spark.server  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        start(b)
        WORKLOADS[args.workload](b)
        b.extras["first_op_s"] = (b.t_first_op - T_PROCESS, "s")
        b.extras["peak_rss_mb"] = (peak_rss_mb(b), "MB")
        if b.trace:
            spans = os.path.join(ROOT, ".perfbench_runs", f"spans-{b.workload}-{b.seed}.jsonl")
            b.tracer.dump(spans)
            print(f"spans: {spans}", file=sys.stderr)
    finally:
        close(b)

    by_route: dict[str, list[float]] = {}
    for o in b.ops:
        if o.measured:
            by_route.setdefault(o.route, []).append(o.latency)
    for r, xs in sorted(by_route.items()):
        log(f"{r}: n={len(xs)} p50={median(xs):.3f}s min={min(xs):.3f}s max={max(xs):.3f}s")
    failed = [o for o in b.ops if not o.ok]
    attempted = len(b.ops)
    for o in failed[:10]:
        print(f"FAILED {o.route} {o.path[:120]} status={o.status} {o.note[:300]}", file=sys.stderr)
    print(f"workload {b.workload} seed {b.seed}: {attempted} ops, {len(failed)} failed")
    extras = dict(b.extras, fail_frac=(len(failed) / attempted, "1"))
    if b.trace:
        names = per_layer_names()
        extras.update((k, (v, layer_unit(k))) for k, v in b.layer.items() if k not in names)
        metrics = {k: {"value": float(b.layer[k]), "unit": layer_unit(k)} for k in names}
    else:
        metrics = {k: {"value": float(b.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    for k, (v, u) in sorted(extras.items()):
        print(f"  {k:32s} {v:14.6g} {u}")
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "passes", "per_core", "share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
