"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet dir, then compares row count, normalized
schema, and an order-insensitive value hash (columns sorted by name,
rows sorted by their stringified tuple). Usage:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of a double is reproducible; both engines hand back IEEE doubles
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def run(sf_dir: str, only: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession

    from white_elephant_spark.plans.registry import all_queries

    # VANILLA session, like the external driver's — no engine session
    # factory. Every semantics-bearing conf (nanos parquet, UTC,
    # map-dedup policy) must be applied by the query path itself
    # (sources/catalog.ensure_engine_confs), or this gate catches it.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName("selfcheck")
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
    )
    # Driver-heap override for ABOVE-GATE scale factors only: the
    # driver's gate runs sf0.01 where the 1g default is plenty (and
    # the default here stays exactly that, preserving the vanilla
    # mirror); the sf1 re-verification needs the same 8g the bench's
    # engine session runs with — heap size is capacity, not semantics.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table: a directory of part files (the
            # synthesized sf1 corpus) — glob it for DuckDB.
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = all_queries()
    names = only or sorted(qs)
    failures = 0
    for name in names:
        qd = qs[name]
        t0 = time.time()
        try:
            sdf = qd.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            shash = table_hash(scols, [tuple(r) for r in srows])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if qd.oracle is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s) hash={shash}")
            continue
        try:
            cur = con.execute(qd.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            ohash = table_hash(ocols, orows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_hash = shash == ohash
        if ok_rows and ok_cols and ok_hash:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        else:
            failures += 1
            print(
                f"FAIL {name}: rows {len(srows)} vs {len(orows)}; "
                f"cols {scols} vs {ocols}; hash {shash} vs {ohash}"
            )
            if ok_rows and ok_cols and len(srows) <= 2000:
                _diff(scols, srows, ocols, orows)
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return failures


def _diff(scols, srows, ocols, orows, limit: int = 5) -> None:
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sset = {"|".join(_norm(r[i]) for i in order_s) for r in srows}
    oset = {"|".join(_norm(r[i]) for i in order_o) for r in orows}
    for line in list(sset - oset)[:limit]:
        print(f"  spark-only: {line}")
    for line in list(oset - sset)[:limit]:
        print(f"  oracle-only: {line}")


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(1 if run(sf_dir, only or None) else 0)
