"""Listening HTTP frontend for :class:`UsageApi` — the reference's
Sinatra server as a stdlib ``ThreadingHTTPServer``.

Route parity with ``server/app.rb``:

- ``GET  /api/clusters``  (app.rb:39-42)  → JSON list
- ``GET  /api/users``     (app.rb:32-37)  → JSON list; missing
  ``cluster`` → 500 (Sinatra ``halt 500``)
- ``GET  /api/usage``     (app.rb:44-46, 58-107) → usage JSON
- ``POST /api/usage``     (app.rb:48-56) → same handler, params from
  the JSON request body
- ``GET  /api/table``     (app.rb:110-157) → CSV with the reference's
  ``Content-Disposition: attachment;filename=table.csv`` /
  ``application/octet-stream`` headers

Parameter semantics mirror app.rb exactly: every listed param is
required and its absence is a 500 (``halt 500``, not a 400 — kept
verbatim for parity); ``user`` / ``users_to_aggregate`` are
comma-split with order-preserving de-dup (Ruby ``split(",").uniq``);
``start`` / ``end`` are epoch-ms integers; ``type`` is the metric
name. Handler threads call :class:`UsageApi` on the shared session
(the Spark driver is thread-safe): roll-ups run as Spark jobs once per
data load, and a cached read shapes its response, dense axis included,
on the driver without starting a Spark job. Under
``spark.scheduler.mode=FAIR`` each handler tags its jobs with a
per-request scheduler pool (see ``_route``) so concurrent requests
round-robin instead of queueing FIFO.

Deviations, both documented non-goals (SURVEY §7): ``GET /`` returns
a JSON endpoint listing instead of the CoffeeScript dashboard, and
``POST /api/refresh`` (no reference analogue) exposes the I4
data-reload hook (:meth:`UsageApi.on_data_loaded`) so an external
refresh loop can invalidate cached roll-ups without a restart.
"""

from __future__ import annotations

import itertools
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable
from urllib.parse import parse_qs, urlparse

from py4j.protocol import Py4JError

from white_elephant_spark.plans.api import UsageApi
from white_elephant_spark.plans.cache import ReadWriteLock

_INDEX = {
    "endpoints": [
        "GET /api/clusters",
        "GET /api/users?cluster=",
        "GET|POST /api/usage (start,end,unit,zone,user,users_to_aggregate,cluster,type)",
        "GET /api/table (start,end,unit,zone,user,cluster,type)",
        "POST /api/refresh",
    ],
    "note": "dashboard UI out of scope; data endpoints mirror server/app.rb",
}

#: Scheduler-pool namespace size for per-request FAIR sharing. Spark
#: never reaps ad-hoc pools from the root pool, so an unbounded
#: per-thread name (ThreadingHTTPServer spawns a thread per
#: connection) would leak pool objects in a long-running daemon;
#: hashing thread ids into a fixed namespace bounds that while still
#: giving every concurrently-running request its own pool up to this
#: many in flight (two requests colliding on a pool degrade to FIFO
#: between just those two).
_SCHEDULER_POOLS = 32


class _Halt(Exception):
    """app.rb's ``halt 500`` — short-circuit with a status code."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def _require(params: dict[str, Any], key: str) -> Any:
    v = params.get(key)
    if v is None:
        # app.rb uses `params[:x] || (halt 500)` — 500, not 400.
        raise _Halt(500, f"missing required param {key!r}")
    return v


def _split_users(raw: Any) -> list[str]:
    """Ruby ``split(",").uniq``: order-preserving, drops empties."""
    if isinstance(raw, list):  # JSON body may pass a real list
        items = [str(u) for u in raw]
    else:
        items = str(raw).split(",")
    return list(dict.fromkeys(u for u in items if u))


def make_server(
    api: UsageApi,
    host: str = "127.0.0.1",
    port: int = 0,
    on_refresh: Callable[[], None] | None = None,
    scheduler_pools: bool = True,
) -> ThreadingHTTPServer:
    """Build (but don't start) the server; ``port=0`` picks a free
    port — read it back from ``server.server_address``. Run with
    ``serve_forever()`` (blocking) or on a daemon thread in tests.

    ``on_refresh`` runs before the cache invalidation on
    ``POST /api/refresh`` — the place to re-read rewritten source
    files (``spark.catalog.refreshByPath`` + re-persist), without
    which invalidating the roll-up cache alone would rebuild from the
    still-persisted pre-refresh cube.

    Refresh vs in-flight queries: data routes hold a shared lock for
    the duration of each request; ``/api/refresh`` takes the
    exclusive side, so the reload hook's ``unpersist`` can never
    remove blocks that a running query's tasks are scanning (that
    race 500s every in-flight request in local mode and forces
    mid-query lineage re-reads on a cluster). Requests arriving
    during a refresh queue briefly and then serve the new data —
    which also makes the refresh response a true barrier: anything
    issued after it returns sees the rewritten corpus.

    ``scheduler_pools``: tag each request's Spark jobs with a
    per-thread ``spark.scheduler.pool``. ``spark.scheduler.mode=FAIR``
    alone does NOT fair-share concurrent requests — with no pool
    assignment every job lands in the single built-in ``default``
    pool, whose *internal* scheduling is FIFO, so in-flight requests
    still queue behind whichever job arrived first. Ad-hoc pools
    named via the local property are created on first use with
    default settings and fair-shared at the root, which is what
    delivers the round-robin. PySpark pins each Python thread to its
    own JVM thread (pinned-thread mode, default since 3.2), so the
    local property is correctly request-scoped. ``False`` keeps every
    job in the default pool — the FIFO-equivalent baseline posture
    that ``tools/bench_http.py`` measures alongside."""

    rwlock = ReadWriteLock()

    # Pool index per handler thread. NOT ``get_ident() % N``: glibc
    # thread idents are pthread descriptor addresses, aligned past 32
    # bytes, so the modulo maps every thread to pool 0 and the whole
    # FAIR setup silently degrades to one shared FIFO pool. A
    # process-wide counter drawn once per thread round-robins the
    # bounded namespace instead, so up to ``_SCHEDULER_POOLS``
    # concurrent requests each get a distinct fair-shared pool.
    _pool_seq = itertools.count()
    _pool_idx = threading.local()

    def _tag_scheduler_pool() -> None:
        if not scheduler_pools:
            return
        idx = getattr(_pool_idx, "idx", None)
        if idx is None:
            idx = next(_pool_seq) % _SCHEDULER_POOLS
            _pool_idx.idx = idx
        try:
            api.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"req-{idx}"
            )
        except (AttributeError, Py4JError):
            pass  # a stopped context: the route answers without a pool

    class Handler(BaseHTTPRequestHandler):
        server_version = "white-elephant-spark"
        protocol_version = "HTTP/1.1"
        # Headers and body go out as two writes; with Nagle on, the
        # body waits for the client's delayed ACK (~40 ms) on every
        # keep-alive response.
        disable_nagle_algorithm = True

        def log_message(self, fmt: str, *args: Any) -> None:  # quiet
            pass

        # -- plumbing ------------------------------------------------
        def _send(self, code: int, body: bytes, ctype: str, extra: dict[str, str] | None = None) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in (extra or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def _json(self, obj: Any, code: int = 200) -> None:
            self._send(code, json.dumps(obj).encode(), "application/json")

        def _params(self) -> dict[str, Any]:
            q = parse_qs(urlparse(self.path).query, keep_blank_values=True)
            return {k: v[-1] for k, v in q.items()}

        def _body_params(self) -> dict[str, Any]:
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b"{}"
            try:
                parsed = json.loads(raw or b"{}")
            except ValueError as e:
                raise _Halt(500, f"bad JSON body: {e}") from e
            if not isinstance(parsed, dict):
                raise _Halt(500, "JSON body must be an object")
            return parsed

        # -- routes --------------------------------------------------
        def do_GET(self) -> None:
            self._route("GET", self._params())

        def do_POST(self) -> None:
            try:
                params = self._body_params()
            except _Halt as h:
                self._json({"error": str(h)}, h.code)
                return
            self._route("POST", params)

        def _route(self, method: str, params: dict[str, Any]) -> None:
            path = urlparse(self.path).path.rstrip("/") or "/"
            # Compute the full response BYTES under the lock, send them
            # after release: wfile.write can block indefinitely on a
            # client that stopped reading, and a read lock held through
            # that stall plus one queued writer (refresh) would wedge
            # every route server-wide. Spark work and serialization
            # happen locked; the socket never does.
            try:
                _tag_scheduler_pool()
                if method == "POST" and path == "/api/refresh":
                    rwlock.acquire_write()  # drain in-flight queries
                    try:
                        if on_refresh is not None:
                            on_refresh()
                        api.on_data_loaded()
                    finally:
                        rwlock.release_write()
                    reply = (200, json.dumps({"ok": True}).encode(), "application/json", None)
                else:
                    rwlock.acquire_read()
                    try:
                        if method == "GET" and path == "/":
                            reply = (200, json.dumps(_INDEX).encode(), "application/json", None)
                        elif method == "GET" and path == "/api/clusters":
                            reply = (200, json.dumps(api.clusters()).encode(), "application/json", None)
                        elif method == "GET" and path == "/api/users":
                            body = json.dumps(api.users(str(_require(params, "cluster"))))
                            reply = (200, body.encode(), "application/json", None)
                        elif path == "/api/usage" and method in ("GET", "POST"):
                            reply = (200, self._usage(params), "application/json", None)
                        elif method == "GET" and path == "/api/table":
                            reply = (
                                200,
                                self._table(params),
                                "application/octet-stream",
                                {"Content-Disposition": "attachment;filename=table.csv"},
                            )
                        else:
                            reply = (404, json.dumps({"error": f"no route {method} {path}"}).encode(), "application/json", None)
                    finally:
                        rwlock.release_read()
            except _Halt as h:
                reply = (h.code, json.dumps({"error": str(h)}).encode(), "application/json", None)
            except Exception as e:  # handler thread must answer, not die
                reply = (500, json.dumps({"error": f"{type(e).__name__}: {e}"}).encode(), "application/json", None)
            code, body, ctype, extra = reply
            self._send(code, body, ctype, extra)

        def _usage(self, p: dict[str, Any]) -> bytes:
            res = api.usage(
                start_ms=int(_require(p, "start")),
                end_ms=int(_require(p, "end")),
                unit=str(_require(p, "unit")),
                zone=str(_require(p, "zone")),
                users=_split_users(_require(p, "user")),
                cluster=str(_require(p, "cluster")),
                metric=str(_require(p, "type")),
                users_to_aggregate=_split_users(_require(p, "users_to_aggregate")),
            )
            if res["users_aggregated"] is None:
                res["users_aggregated"] = []  # app.rb default (:92)
            return json.dumps(res).encode()

        def _table(self, p: dict[str, Any]) -> bytes:
            return api.table_csv(
                start_ms=int(_require(p, "start")),
                end_ms=int(_require(p, "end")),
                unit=str(_require(p, "unit")),
                zone=str(_require(p, "zone")),
                users=_split_users(_require(p, "user")),
                cluster=str(_require(p, "cluster")),
                metric=str(_require(p, "type")),
            ).encode()

    return ThreadingHTTPServer((host, port), Handler)
