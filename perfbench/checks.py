"""Output checks, run outside the timed region.

The cube files are read back with DuckDB, never with the engine: the
cube must equal the generator's ground truth, and ``/api/usage``
responses must match a DuckDB roll-up of the cube files. Registered
queries are compared with their DuckDB oracles.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
from datetime import date

import duckdb

import loggen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

HOUR_MS = loggen.HOUR_MS
_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _con(cube_dir: str):
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW cube AS SELECT *,
              CAST(elapsedMs AS DOUBLE) / 60000.0::DOUBLE AS elapsedMinutes,
              CAST(cpuMsProrated AS DOUBLE) / 60000.0::DOUBLE AS cpuMinutes
            FROM read_parquet('{cube_dir}/**/*.parquet', hive_partitioning = true)"""
    )
    return con


def cube_rows(cube_dir: str, days: set[date] | None = None) -> dict[tuple, tuple]:
    """The cube as {(user, hour_ms, cluster, excess, type, status): measures}."""
    con = _con(cube_dir)
    rows = con.execute(
        """SELECT user, epoch_ms(time), cluster, excess, type, status, started, finished,
                  elapsedMs, cpuMsProrated, spilledRecords, reduceShuffleBytes
           FROM cube"""
    ).fetchall()
    con.close()
    # Days are selected here rather than in SQL: DuckDB 1.0 rewrites
    # CAST(time AS DATE) IN (...) into an equality on midnight.
    keep = None if days is None else {loggen.day_ms(d) // loggen.DAY_MS for d in days}
    return {r[:6]: tuple(r[6:]) for r in rows if keep is None or r[1] // loggen.DAY_MS in keep}


def check_cube(cube_dir: str, truth: dict, days: set[date] | None = None) -> str:
    """'' when the cube (restricted to ``days``) equals ``truth``."""
    got = cube_rows(cube_dir, days)
    if got == truth:
        return ""
    missing = [k for k in truth if k not in got]
    extra = [k for k in got if k not in truth]
    wrong = [k for k in truth if k in got and got[k] != truth[k]]
    return (
        f"cube mismatch: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong rows"
        f" (e.g. {(missing or extra or wrong)[:1]})"
    )


def cluster_users(cube_dir: str) -> dict[str, list[str]]:
    con = _con(cube_dir)
    rows = con.execute("SELECT DISTINCT cluster, user FROM cube ORDER BY 1, 2").fetchall()
    con.close()
    out: dict[str, list[str]] = {}
    for c, u in rows:
        out.setdefault(c, []).append(u)
    return out


def _bucket_sql(unit: str, zone: str) -> str:
    """Epoch-ms bucket of the naive-UTC ``time``: local wall time in
    ``zone`` truncated to the unit (weeks start on Sunday), back to UTC."""
    if unit == "HOURS":
        return "epoch_ms(date_trunc('hour', time))"
    local = f"timezone('{zone}', timezone('UTC', time))"
    day = f"date_trunc('day', {local})"
    trunc = {
        "DAYS": day,
        "WEEKS": f"CAST({day} - to_days(CAST(dayofweek({day}) AS INTEGER)) AS TIMESTAMP)",
        "MONTHS": f"date_trunc('month', {local})",
        "QUARTERS": f"date_trunc('quarter', {local})",
    }[unit]
    return f"epoch_ms(timezone('{zone}', {trunc}))"


def rollup(con, cluster: str, unit: str, zone: str, metric_name: str) -> dict[tuple, float]:
    from white_elephant_spark.plans.metrics import METRICS

    m = METRICS[metric_name]
    preds = [f"cluster = '{cluster}'"]
    if m.type_eq is not None:
        preds.append(f"type = '{m.type_eq}'")
    if m.status_eq is not None:
        preds.append(f"status = '{m.status_eq}'")
    if m.excess_eq is not None:
        preds.append(f"excess = {str(m.excess_eq).upper()}")
    rows = con.execute(
        f"""SELECT user, {_bucket_sql(unit, zone)} AS b,
                   CAST(sum(CAST({m.measure} AS DECIMAL(27,4))) AS DOUBLE)
            FROM cube WHERE {' AND '.join(preds)} GROUP BY ALL"""
    ).fetchall()
    return {(u, b): v for u, b, v in rows if v is not None}


def _close(a: float, b: float) -> bool:
    # Per-row DECIMAL(27,4) rounding may differ in the last place
    # between engines; a handful of rows per bucket stays far below this.
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-2)


def shape_error(op, users_by_cluster: dict[str, list[str]] | None) -> str:
    """'' when a 200 response has the route's shape (and, given the
    cube's users, the right dimension lists)."""
    p = op.params
    try:
        if op.route == "clusters":
            got = json.loads(op.body)
            if users_by_cluster is not None and got != sorted(users_by_cluster):
                return f"clusters {got}"
        elif op.route == "users":
            got = json.loads(op.body)
            if not all(isinstance(u, str) for u in got):
                return "users: not a list of names"
            if users_by_cluster is not None and got != users_by_cluster.get(p["cluster"], []):
                return f"users of {p['cluster']}: {len(got)} names"
        elif op.route == "usage":
            r = json.loads(op.body)
            times = r["times"]
            users = p["user"].split(",")
            if sorted(set(times)) != times or r["cluster"] != p["cluster"]:
                return "usage: times not increasing or wrong cluster"
            # an empty axis (no whole bucket inside the window) has no series
            if [u["user"] for u in r["users"]] != (users if times else []):
                return "usage: user series"
            if any(len(u["data"]) != len(times) for u in r["users"]):
                return "usage: series length"
            if len(r["users_aggregated"]) != len(times):
                return "usage: aggregated series length"
            if r["num_aggregated_users"] != len(p["users_to_aggregate"].split(",")):
                return "usage: num_aggregated_users"
            if p["unit"] == "HOURS":
                hours = range(int(p["start"]) // HOUR_MS, int(p["end"]) // HOUR_MS + 1)
                if times != [h * HOUR_MS for h in hours]:
                    return "usage: hourly axis"
        elif op.route == "table":
            lines = op.body.decode().splitlines()
            users = p["user"].split(",")
            if lines[0] != "time," + ",".join(users):
                return "table: header"
            for line in lines[1:]:
                cells = line.split(",")
                if len(cells) != len(users) + 1 or not _DATE.match(cells[0]):
                    return f"table: row {line[:40]}"
                [float(c) for c in cells[1:]]
    except (ValueError, KeyError, TypeError, IndexError) as e:
        return f"{op.route}: {type(e).__name__}: {e}"
    return ""


def value_error(op, expected: dict[tuple, float]) -> str:
    """'' when every value of a usage response equals the DuckDB roll-up."""
    r = json.loads(op.body)
    others = op.params["users_to_aggregate"].split(",")
    for i, t in enumerate(r["times"]):
        for s in r["users"]:
            want = expected.get((s["user"], t), 0.0)
            if not _close(s["data"][i], want):
                return f"usage value {s['user']}@{t}: {s['data'][i]} != {want}"
        want = sum(expected.get((u, t), 0.0) for u in others)
        if not _close(r["users_aggregated"][i], want):
            return f"aggregated value @{t}: {r['users_aggregated'][i]} != {want}"
    return ""


def check_cycle(cube_dir: str, truth_days: dict, days: set[date], reads, fresh_after: int) -> str:
    """refresh_serve, after each cycle: the rebuilt days equal the ground
    truth, the first read already shows the new day, and the dimension
    reads list the cube's clusters and users."""
    err = check_cube(cube_dir, truth_days, days)
    if err:
        return err
    users = cluster_users(cube_dir)
    for op in reads:
        if not op.ok:
            continue
        e = shape_error(op, users)
        if e:
            op.ok, op.note = False, e
    first = json.loads(reads[0].body) if reads[0].ok else None
    if first is not None:
        series = [s["data"] for s in first["users"]] + [first["users_aggregated"]]
        idx = [i for i, t in enumerate(first["times"]) if t >= fresh_after]
        if not any(s[i] for s in series for i in idx):
            reads[0].ok, reads[0].note = False, "new day not visible after refresh"
        else:
            p = reads[0].params
            con = _con(cube_dir)
            e = value_error(reads[0], rollup(con, p["cluster"], p["unit"], p["zone"], p["type"]))
            con.close()
            if e:
                reads[0].ok, reads[0].note = False, e
    return ""


def check_queries(data_dir: str, oracles: dict[str, str], results: dict) -> dict[str, str]:
    """{query: error} for every registered query whose collected result
    differs from its DuckDB oracle over the same parquet files: row
    count, column names, and the order-insensitive value hash of
    ``tools/selfcheck.py``."""
    import selfcheck

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    errors = {}
    for name, sql in oracles.items():
        if name not in results:
            continue  # the query itself failed; its ops say why
        cols, rows = results[name]
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if len(rows) != len(orows) or sorted(cols) != sorted(ocols):
            errors[name] = f"{len(rows)} rows {sorted(cols)} vs oracle {len(orows)} rows {sorted(ocols)}"
        elif selfcheck.table_hash(cols, rows) != selfcheck.table_hash(ocols, orows):
            errors[name] = "value hash differs from the oracle's"
    con.close()
    return errors
