"""Ordered funnel (operators/funnel.py): hand-verified micro-case plus
a DuckDB oracle cross-check on the events corpus."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from white_elephant_spark.operators.funnel import funnel_times

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture()
def tiny(spark):
    rows = [
        # u1 completes view -> click -> purchase in order
        ("u1", "view", 10), ("u1", "click", 20), ("u1", "purchase", 30),
        # u2 clicks before viewing: click must not count; re-click later
        ("u2", "click", 5), ("u2", "view", 10), ("u2", "purchase", 15),
        # u3 stops after view
        ("u3", "view", 40), ("u3", "purchase", 35),  # purchase BEFORE view: no
        # u4 never views
        ("u4", "click", 1), ("u4", "purchase", 2),
    ]
    return spark.createDataFrame(rows, "user_id string, event_type string, ts long")


def test_funnel_times_order_semantics(tiny):
    times = {
        r["user"]: r
        for r in funnel_times(
            tiny,
            [F.col("event_type") == s for s in ("view", "click", "purchase")],
        ).collect()
    }
    assert set(times) == {"u1", "u2", "u3"}  # u4 never entered
    assert (times["u1"]["t1"], times["u1"]["t2"], times["u1"]["t3"]) == (10, 20, 30)
    # u2: click at 5 precedes view(10) -> not counted; no later click
    assert times["u2"]["t2"] is None and times["u2"]["t3"] is None
    # u3: purchase(35) precedes view(40) -> funnel stops at step 1
    assert times["u3"]["t2"] is None


def test_funnel_max_span(tiny):
    times = {
        r["user"]: r
        for r in funnel_times(
            tiny,
            [F.col("event_type") == s for s in ("view", "click")],
            max_span=F.lit(5),
        ).collect()
    }
    # u1's click at 20 is 10 past t1=10 -> outside the 5-tick horizon
    assert times["u1"]["t2"] is None


def test_cohort_retention(spark):
    from white_elephant_spark.operators.funnel import cohort_retention

    # Two weekly cohorts; u1/u2 join week 0 (u2 churns), u3 joins week 1.
    w = 7 * 86400
    rows = [
        ("u1", 0), ("u1", w), ("u1", 2 * w),
        ("u2", 3600),
        ("u3", w + 60), ("u3", 2 * w + 60),
    ]
    ev = spark.createDataFrame(rows, "user_id string, e long").select(
        "user_id", F.timestamp_seconds(F.col("e") + 4 * 86400).alias("ts")
    )  # +4d aligns epoch (Thursday) to the Monday week boundary
    got = {
        (r["cohort"].isoformat(), r["period_offset"]): (r["active_users"], r["retention"])
        for r in cohort_retention(ev, unit="week").collect()
    }
    cohorts = sorted({c for c, _ in got})
    c0, c1 = cohorts[0], cohorts[1]
    assert got[(c0, 0)] == (2, 1.0)
    assert got[(c0, 1)][0] == 1 and got[(c0, 1)][1] == pytest.approx(0.5)
    assert got[(c0, 2)][0] == 1
    assert got[(c1, 0)] == (1, 1.0)
    assert got[(c1, 1)] == (1, 1.0)


def test_funnel_matches_duckdb_oracle(spark):
    from white_elephant_spark.sources.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts")
    )
    got = sorted(
        (r["user"], r["t1"], r["t2"], r["t3"])
        for r in funnel_times(
            ev,
            [F.col("event_type") == s for s in ("view", "click", "purchase")],
        ).collect()
    )
    exp = sorted(
        duckdb.sql(
            f"""
            WITH e AS (SELECT user_id, event_type,
                              CAST(epoch_us(ts) AS BIGINT) AS ts
                       FROM '{SF_EVENTS}'),
            s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type='view' GROUP BY 1),
            s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
                   WHERE e.event_type='click' AND e.ts >= s1.t1 GROUP BY 1),
            s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
                   WHERE e.event_type='purchase' AND e.ts >= s2.t2 GROUP BY 1)
            SELECT s1.user_id, s1.t1, s2.t2, s3.t3
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            """
        ).fetchall()
    )
    assert got == exp


# ----------------------------------------- re-entrant (any-window) funnel


def _brute_any_window(rows, step_names, span):
    """Reference implementation: per user, try every step-1 anchor in
    ts order with greedy-minimal chaining; first converting anchor
    wins. rows = (user, type, ts)."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, typ, ts in rows:
        by_user[u].append((ts, typ))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        anchors = sorted(ts for ts, typ in evs if typ == step_names[0])
        if not anchors:
            continue
        best = None
        for a in anchors:
            t = a
            ok = True
            for s in step_names[1:]:
                nxt = [ts for ts, typ in evs if typ == s and ts >= t]
                if not nxt:
                    ok = False
                    break
                t = min(nxt)
            if ok and (span is None or t <= a + span):
                best = (a, t)
                break
        out[u] = best if best else (anchors[0], None)
    return out


def test_any_window_reenters_where_first_touch_expires(spark):
    from white_elephant_spark.operators.funnel import funnel_times_any_window

    rows = [
        # first window expires (purchase at 200 > 10+50); re-entry at
        # 300 converts within a fresh horizon
        ("u1", "view", 10), ("u1", "click", 15), ("u1", "purchase", 200),
        ("u1", "view", 300), ("u1", "click", 310), ("u1", "purchase", 320),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts long")
    steps = [F.col("event_type") == s for s in ("view", "click", "purchase")]
    ft = funnel_times(df, steps, max_span=F.lit(50)).collect()[0]
    assert ft["t3"] is None  # first-touch: anchored at 10, expired
    aw = funnel_times_any_window(df, steps, max_span=F.lit(50)).collect()[0]
    assert (aw["t1"], aw["tk"]) == (300, 320)  # re-entrant: converts


def test_any_window_matches_brute_force_random(spark):
    import random

    from white_elephant_spark.operators.funnel import funnel_times_any_window

    rng = random.Random(77)
    names = ("a", "b", "c")
    for span in (None, 7, 25):
        rows = [
            (f"u{rng.randrange(12)}", rng.choice(names), rng.randrange(60))
            for _ in range(400)
        ]
        df = spark.createDataFrame(
            rows, "user_id string, event_type string, ts long"
        )
        steps = [F.col("event_type") == s for s in names]
        got = {
            r["user"]: (r["t1"], r["tk"])
            for r in funnel_times_any_window(
                df, steps, max_span=None if span is None else F.lit(span)
            ).collect()
        }
        exp = _brute_any_window(rows, names, span)
        assert got == exp, f"span={span}"


def test_any_window_single_step_and_dupes(spark):
    from white_elephant_spark.operators.funnel import funnel_times_any_window

    rows = [("u1", "a", 5), ("u1", "a", 5), ("u2", "b", 1)]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts long")
    got = {
        r["user"]: (r["t1"], r["tk"])
        for r in funnel_times_any_window(df, [F.col("event_type") == "a"]).collect()
    }
    assert got == {"u1": (5, 5)}


def test_one_pass_equals_join_form_random(spark):
    """funnel_first_and_any's first-touch chain (one pass over the
    tagged events) equals the join form, funnel_times: same users,
    same values, for random event streams, with and without a span
    bound, including overlapping step predicates."""
    import random

    from white_elephant_spark.operators.funnel import funnel_first_and_any

    rng = random.Random(99)
    names = ("a", "b", "c")
    for span, overlap in ((None, False), (7, False), (25, True)):
        rows = [
            (f"u{rng.randrange(12)}", rng.choice(names), rng.randrange(60))
            for _ in range(400)
        ]
        df = spark.createDataFrame(
            rows, "user_id string, event_type string, ts long"
        )
        if overlap:
            # step 2 matches b OR c — an event can satisfy several steps
            steps = [
                F.col("event_type") == "a",
                F.col("event_type").isin("b", "c"),
                F.col("event_type") == "c",
            ]
        else:
            steps = [F.col("event_type") == s for s in names]
        ms = None if span is None else F.lit(span)
        cols = ["user", "t1", "t2", "t3"]
        a = sorted(map(tuple, funnel_times(df, steps, max_span=ms).select(cols).collect()))
        b = sorted(map(tuple, funnel_first_and_any(df, steps, max_span=ms).select(cols).collect()))
        assert a == b, f"span={span}"


def test_tag_steps_one_row_per_match(spark):
    from white_elephant_spark.operators.funnel import tag_steps

    df = spark.createDataFrame(
        [("u1", "a", 1), ("u1", "b", 2), ("u2", "x", 3)],
        "user_id string, event_type string, ts long",
    )
    steps = [F.col("event_type") == "a", F.col("event_type").isin("a", "b")]
    got = sorted(tuple(r) for r in tag_steps(df, steps).collect())
    # "a" matches steps 1 and 2; "b" matches step 2; "x" drops out
    assert got == [("u1", 1, 1), ("u1", 1, 2), ("u1", 2, 2)]


def test_fused_first_and_any_equals_both_operators(spark):
    """funnel_first_and_any == (funnel_times, funnel_times_any_window)
    column-for-column on random event streams."""
    import random

    from white_elephant_spark.operators.funnel import (
        funnel_first_and_any,
        funnel_times,
        funnel_times_any_window,
    )

    rng = random.Random(123)
    names = ("a", "b", "c")
    for span in (None, 7, 25):
        rows = [
            (f"u{rng.randrange(12)}", rng.choice(names), rng.randrange(60))
            for _ in range(400)
        ]
        df = spark.createDataFrame(
            rows, "user_id string, event_type string, ts long"
        )
        steps = [F.col("event_type") == s for s in names]
        ms = None if span is None else F.lit(span)
        fused = {
            r["user"]: r for r in funnel_first_and_any(df, steps, max_span=ms).collect()
        }
        ft = {r["user"]: r for r in funnel_times(df, steps, max_span=ms).collect()}
        aw = {
            r["user"]: r
            for r in funnel_times_any_window(df, steps, max_span=ms).collect()
        }
        assert set(fused) == set(ft) == set(aw)
        for u, r in fused.items():
            assert (r["t1"], r["t2"], r["t3"]) == (ft[u]["t1"], ft[u]["t2"], ft[u]["t3"]), (span, u)
            t1_any = r["t1_any"] if r["t1_any"] is not None else r["t1"]
            assert (t1_any, r["tk_any"]) == (aw[u]["t1"], aw[u]["tk"]), (span, u)
