"""Command-line front door: ``python -m white_elephant_spark ...``.

The reference is driven by ``hadoop/bin/run.sh <job.properties>`` (batch)
and the Sinatra routes ``/api/{clusters,users,usage,table}``
(server/app.rb:32-157 in /root/reference). This CLI is the standalone
equivalent over the registry: list the capability surface, run any
registered query, print its oracle SQL or physical plan, and serve the
reference's four API shapes from the materialized cube.

Everything here is a thin shell over ``plans.registry`` /
``plans.api`` — no query logic lives in the CLI.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark():
    from white_elephant_spark.session import get_spark

    return get_spark("white-elephant-cli")


def cmd_list(args: argparse.Namespace) -> int:
    from white_elephant_spark.plans.registry import all_queries

    qs = all_queries()
    for name, qd in sorted(qs.items()):
        tags = ",".join(qd.tags)
        print(f"{name:32s} [{tags}]")
    print(f"\n{len(qs)} queries; all oracle-checked (tools/selfcheck.py)")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from white_elephant_spark.plans.registry import all_queries

    qs = all_queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    df = qs[args.query].fn(_spark(), args.sf_dir)
    if args.csv:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(args.csv)
        print(f"wrote {args.csv}")
    elif args.json:
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    else:
        df.show(args.limit, truncate=not args.wide)
    return 0


def cmd_oracle(args: argparse.Namespace) -> int:
    from white_elephant_spark.plans.registry import all_queries

    qd = all_queries().get(args.query)
    if qd is None:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    print(qd.oracle.strip() if qd.oracle else "-- rows-only check (no SQL oracle)")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    from white_elephant_spark.plans.registry import all_queries

    qd = all_queries().get(args.query)
    if qd is None:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    qd.fn(_spark(), args.sf_dir).explain("formatted")
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """One-pass column profile of a corpus table (operators/quality)."""
    from white_elephant_spark.operators.quality import profile
    from white_elephant_spark.sources.catalog import TABLES, load_table

    if args.table not in TABLES:
        print(f"unknown table {args.table!r}; one of {', '.join(TABLES)}", file=sys.stderr)
        return 2
    df = load_table(_spark(), args.sf_dir, args.table)
    cols = args.columns.split(",") if args.columns else None
    profile(df, cols).show(100, truncate=False)
    return 0


def _serving_api(spark, sf_dir: str):
    """The UsageApi over the serving cube (minutes-typed A3 measures;
    the integer-exact twin exists for oracle hashing, not the API)."""
    from white_elephant_spark.operators import reconstruct, usage
    from white_elephant_spark.plans.api import UsageApi
    from white_elephant_spark.plans.pipeline_queries import _attempts_from_events

    cube = usage.build_usage_per_hour(
        reconstruct.label_excess(_attempts_from_events(spark, sf_dir))
    )
    return UsageApi(spark, cube)


def cmd_api(args: argparse.Namespace) -> int:
    """Answer one reference API request shape from the cube
    (server/app.rb:32-157): clusters | users | usage | table."""
    from datetime import timezone

    from pyspark.sql import functions as F

    spark = _spark()
    api = _serving_api(spark, args.sf_dir)
    if args.endpoint == "clusters":
        out: object = api.clusters()
        print(json.dumps(out))
        return 0
    cluster = args.cluster or api.clusters()[0]
    if args.endpoint == "users":
        print(json.dumps(api.users(cluster)))
        return 0
    users = args.users.split(",") if args.users else api.users(cluster)[:10]
    # Default window = the cube's full range (the A10 clamp).
    mm = (
        api.cube.filter(F.col("cluster") == cluster)
        .agg(F.min("time").alias("lo"), F.max("time").alias("hi"))
        .collect()[0]
    )
    to_ms = lambda d: int(d.replace(tzinfo=timezone.utc).timestamp() * 1000)  # noqa: E731
    start_ms = args.start_ms if args.start_ms is not None else to_ms(mm["lo"])
    end_ms = args.end_ms if args.end_ms is not None else to_ms(mm["hi"])
    if args.endpoint == "usage":
        rest = [u for u in api.users(cluster) if u not in users]
        print(
            json.dumps(
                api.usage(
                    start_ms=start_ms,
                    end_ms=end_ms,
                    unit=args.unit,
                    zone=args.zone,
                    users=users,
                    cluster=cluster,
                    metric=args.metric,
                    users_to_aggregate=rest,
                ),
                default=str,
            )
        )
    else:
        print(
            api.table_csv(
                start_ms=start_ms,
                end_ms=end_ms,
                unit=args.unit,
                zone=args.zone,
                users=users,
                cluster=cluster,
                metric=args.metric,
            )
        )
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    """Listening HTTP daemon over the four /api/* routes
    (server/app.rb:29-157) — blocks until interrupted."""
    from white_elephant_spark.server import make_server
    from white_elephant_spark.session import get_spark

    # FAIR scheduling for the daemon: each request runs small Spark
    # jobs from its handler thread; FIFO queues every in-flight
    # request behind whichever job arrived first. The mode alone is
    # not enough — without pool assignments every job lands in the
    # single 'default' pool, which schedules FIFO internally — so the
    # server additionally tags each request with a per-thread
    # spark.scheduler.pool (server.py make_server, scheduler_pools=
    # True); ad-hoc pools are fair-shared at the root, delivering the
    # round-robin. Both postures measured in BENCH_http_r11.json
    # (hit vs hit_fifo_baseline) — the standard multi-tenant config.
    spark = get_spark(
        "white-elephant-serve", extra_conf={"spark.scheduler.mode": "FAIR"}
    )
    api = _serving_api(spark, args.sf_dir)
    # Materialize the cube once up front so the first request pays
    # query latency, not the full parse/reconstruct pipeline.
    api.cube.persist().count()

    def _reload() -> None:
        # POST /api/refresh must serve REWRITTEN source files, not the
        # persisted pre-refresh cube: drop every cached block and file
        # index under the corpus path, then re-materialize. (The
        # roll-up cache invalidation happens after this hook.)
        spark.catalog.refreshByPath(os.path.abspath(args.sf_dir))
        api.cube.unpersist()
        api.cube.persist().count()

    srv = make_server(api, host=args.host, port=args.port, on_refresh=_reload)
    host, port = srv.server_address[:2]
    print(f"serving /api/* on http://{host}:{port} (cube: {args.sf_dir})", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def cmd_models(args: argparse.Namespace) -> int:
    """Inspect or garbage-collect the on-disk model/index store
    (``.scratch/models`` — the train-once/serve-many tier)."""
    from white_elephant_spark import models

    if args.action == "gc":
        res = models.gc_disk(grace_s=args.grace_s)
        print(
            json.dumps(
                {
                    "removed": len(res["removed"]),
                    "reclaimed_bytes": res["reclaimed_bytes"],
                    "kept": res["kept"],
                }
            )
        )
        return 0
    for e in models.disk_entries():
        meta = e["meta"] or {}
        print(
            json.dumps(
                {
                    "dir": os.path.basename(e["dir"]),
                    "name": meta.get("name"),
                    "params": meta.get("params"),
                    "corpus": meta.get("path"),
                    "bytes": e["bytes"],
                    "servable": e["servable"],
                }
            )
        )
    return 0


def cmd_upload(args: argparse.Namespace) -> int:
    """S13 log uploader as a CLI entrypoint — the cron surface the
    reference drives through statsupload.pl. Prints one line per
    planned file (action, queue, src -> dest)."""
    from white_elephant_spark.sources.transfer import upload_logs

    plan = upload_logs(
        _spark(),
        args.local_dir,
        args.dest,
        args.grid,
        days=args.days,
        older_than_s=args.older_than_hours * 3600.0,
    )
    for act in plan:
        print(f"{act.action}\t{act.queue}\t{act.src} -> {act.dest}")
    print(
        f"{sum(1 for a in plan if a.action == 'upload')} uploaded, "
        f"{sum(1 for a in plan if a.action == 'skip_uploaded')} already present"
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m white_elephant_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sub.add_parser("list", help="list registered queries").set_defaults(fn=cmd_list)

    pr = sub.add_parser("run", help="run a registered query")
    pr.add_argument("query")
    pr.add_argument("--sf-dir", default=sf_default)
    pr.add_argument("--limit", type=int, default=20)
    pr.add_argument("--csv", help="write full result as CSV to this dir")
    pr.add_argument("--json", action="store_true", help="print rows as JSON lines")
    pr.add_argument("--wide", action="store_true", help="don't truncate columns")
    pr.set_defaults(fn=cmd_run)

    po = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    po.add_argument("query")
    po.set_defaults(fn=cmd_oracle)

    pe = sub.add_parser("explain", help="print a query's physical plan")
    pe.add_argument("query")
    pe.add_argument("--sf-dir", default=sf_default)
    pe.set_defaults(fn=cmd_explain)

    pp = sub.add_parser("profile", help="one-pass column profile of a corpus table")
    pp.add_argument("table")
    pp.add_argument("--sf-dir", default=sf_default)
    pp.add_argument("--columns", default="", help="comma-separated subset")
    pp.set_defaults(fn=cmd_profile)

    pa = sub.add_parser("api", help="answer a reference /api/* request shape")
    pa.add_argument("endpoint", choices=["clusters", "users", "usage", "table"])
    pa.add_argument("--sf-dir", default=sf_default)
    pa.add_argument("--cluster", default=None)
    pa.add_argument("--unit", default="HOURS")
    pa.add_argument("--zone", default="UTC")
    pa.add_argument("--metric", default="minutesTotal")
    pa.add_argument("--users", default="")
    pa.add_argument("--start-ms", type=int, default=None)
    pa.add_argument("--end-ms", type=int, default=None)
    pa.set_defaults(fn=cmd_api)

    ps = sub.add_parser(
        "serve", help="listening HTTP daemon over the /api/* routes (server/app.rb)"
    )
    ps.add_argument("--sf-dir", default=sf_default)
    ps.add_argument("--host", default="127.0.0.1")
    ps.add_argument("--port", type=int, default=8080)
    ps.set_defaults(fn=cmd_serve)

    pm = sub.add_parser(
        "models", help="inspect or gc the on-disk model/index store"
    )
    pm.add_argument("action", choices=["list", "gc"])
    pm.add_argument(
        "--grace-s",
        type=float,
        default=3600.0,
        help="gc: only reclaim dirs unservable for at least this long",
    )
    pm.set_defaults(fn=cmd_models)

    pu = sub.add_parser(
        "upload",
        help="ship finished local log files to dated distributed-storage dirs (S13)",
    )
    pu.add_argument("local_dir")
    pu.add_argument("dest", help="destination root URI (hdfs://, s3a://, file://, ...)")
    pu.add_argument("--grid", default="default")
    pu.add_argument("--days", type=int, default=7, help="upload files newer than N days")
    pu.add_argument(
        "--older-than-hours",
        type=float,
        default=24.0,
        help="only files at least this old (job surely finished)",
    )
    pu.set_defaults(fn=cmd_upload)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
