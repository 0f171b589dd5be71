"""Ordered funnel analysis over an event stream.

The reference's serving layer answers "how much did each user do per
bucket" (server/app/usage_data.rb:525-645 in /root/reference); the
natural next question over the same events table — "how many users did
A, then B, then C, in order (within a horizon)?" — has no operator
there. This is the classic funnel/sequence-match, built in the shape
that scales:

Step 1 is one hash aggregation (map-side combined) producing each
user's earliest step-1 time. Each later step is a filter on its own
event predicate joined to the (user, prev_ts) table — the probe side
shrinks monotonically (only users still in the funnel), the join key
is the user, and no per-user event array is ever collected. K steps =
K aggregations + K-1 equi-joins; nothing is quadratic and no window
sort over the full stream is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "funnel_times",
    "funnel_times_any_window",
    "cohort_retention",
]


def tag_steps(
    events: DataFrame,
    steps: list[Column],
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """One scan of ``events`` → ``(user, ts, step)`` rows, one row per
    step predicate each event matches (events matching several steps
    appear once per match, same as a per-step filter+union, but read
    once). The shared tagging base for both funnel formulations, so a
    query computing several funnel variants re-uses one Exchange of
    this frame instead of re-scanning the fact table per variant."""
    u, t = F.col(user_col), F.col(ts_col)
    matched = F.array_compact(
        F.array(*[F.when(p, F.lit(i)) for i, p in enumerate(steps, start=1)])
    )
    return events.select(u.alias("user"), t.alias("ts"), matched.alias("__m")).select(
        "user", "ts", F.explode("__m").alias("step")
    )


def funnel_times(
    events: DataFrame,
    steps: list[Column],
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_span: Column | None = None,
) -> DataFrame:
    """Per-user earliest completion time of each funnel step, in
    order: row = (user, t1, t2, ..., tK) with tI null once the funnel
    is left. ``steps`` are boolean predicates over the event row.
    ``max_span`` (e.g. ``F.expr("INTERVAL 1 HOUR")``) bounds the whole
    funnel relative to t1.

    Anchoring semantic (deliberate): the funnel is anchored to each
    user's **earliest** step-1 event — ``t1 = MIN(ts)`` — and, with
    ``max_span``, the whole horizon is measured from that first entry.
    A user whose first entry window expires but who re-enters later
    and would have completed within a fresh horizon counts as NOT
    converted. This is the standard "first-touch" funnel; an
    any-qualifying-window (re-entrant) funnel needs per-window
    matching and is a different, more expensive operator.
    """
    if not steps:
        raise ValueError("at least one step")
    u, t = F.col(user_col), F.col(ts_col)
    out = (
        events.filter(steps[0])
        .groupBy(u.alias("user"))
        .agg(F.min(t).alias("t1"))
    )
    for i, pred in enumerate(steps[1:], start=2):
        cand = events.filter(pred).select(u.alias("user"), t.alias("__t"))
        cond = F.col("__t") >= F.col(f"t{i - 1}")
        if max_span is not None:
            cond = cond & (F.col("__t") <= F.col("t1") + max_span)
        prev_cols = ["user", "t1"] if i == 2 else ["user", "t1", f"t{i - 1}"]
        nxt = (
            cand.join(out.select(*prev_cols), "user")
            .filter(cond)
            .groupBy("user")
            .agg(F.min("__t").alias(f"t{i}"))
        )
        out = out.join(nxt, "user", "left")
    return out


def funnel_first_and_any(
    events: DataFrame,
    steps: list[Column],
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_span: Column | None = None,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Both funnel semantics from ONE pipeline: per user,
    ``(user, t1, t2, ..., tK, t1_any, tk_any)`` where ``t1..tK`` are
    :func:`funnel_times`'s first-touch chain and
    ``(coalesce(t1_any, t1), tk_any)`` is
    :func:`funnel_times_any_window`'s re-entrant result — value-equal
    to running the two operators separately (property-tested in
    tests/test_funnel.py).

    Why fuse: planned separately, each leg's first window operand is
    projected *below* its own Exchange, so the two hash(user)
    exchanges don't canonicalize equal and ReuseExchange cannot dedup
    them — the tagged frame is scanned and shuffled twice. Here the
    first-touch chain (whole-partition frames, no sort) and the
    re-entrant chain (ordered range frames) stack over the SAME
    Window partitioning, so the plan is one scan, one Exchange, one
    sort, K-1+K window passes, one final aggregate — and a caller can
    emit both legs' rows with ``explode(array(struct...))`` instead
    of a branch that would re-plan the pipeline per leg."""
    from pyspark.sql.window import Window

    if not steps:
        raise ValueError("at least one step")
    k = len(steps)
    if tagged is None:
        tagged = tag_steps(events, steps, user_col, ts_col)
    wall = Window.partitionBy("user")
    word = (
        Window.partitionBy("user")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # First-touch chain: chained whole-partition conditional mins.
    cur = tagged.withColumn(
        "t1", F.min(F.when(F.col("step") == 1, F.col("ts"))).over(wall)
    )
    for i in range(2, k + 1):
        cond = (F.col("step") == i) & (F.col("ts") >= F.col(f"t{i - 1}"))
        if max_span is not None:
            cond = cond & (F.col("ts") <= F.col("t1") + max_span)
        cur = cur.withColumn(f"t{i}", F.min(F.when(cond, F.col("ts"))).over(wall))
    # Re-entrant chain: greedy-minimal completion per anchor,
    # backwards from step K (same recurrence as
    # funnel_times_any_window, same frame).
    cur = cur.withColumn("h", F.when(F.col("step") == k, F.col("ts")))
    for i in range(k - 1, 0, -1):
        nxt_h = F.min(F.when(F.col("step") == i + 1, F.col("h"))).over(word)
        cur = cur.withColumn(
            "h", F.when(F.col("step") == i, nxt_h).otherwise(F.col("h"))
        )
    is1 = F.col("step") == 1
    if max_span is not None:
        ok = is1 & (F.col("h") <= F.col("ts") + max_span)
    else:
        ok = is1 & F.col("h").isNotNull()
    names = [f"t{i}" for i in range(1, k + 1)]
    return (
        cur.filter(F.col("t1").isNotNull())
        .groupBy("user")
        .agg(
            *[F.min(n).alias(n) for n in names],
            F.min(F.when(ok, F.col("ts"))).alias("t1_any"),
            F.min_by(F.when(is1, F.col("h")), F.when(ok, F.col("ts"))).alias(
                "tk_any"
            ),
        )
    )


def funnel_times_any_window(
    events: DataFrame,
    steps: list[Column],
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_span: Column | None = None,
    tagged: DataFrame | None = None,
) -> DataFrame:
    """Re-entrant funnel — the any-qualifying-window semantic
    :func:`funnel_times` deliberately does not have: a user converts
    if ANY of their step-1 events anchors an ordered chain
    ``t1 <= t2 <= ... <= tK`` with ``tK <= t1 + max_span`` — a user
    whose first window expired but who re-entered later still counts.
    Returns one row per user who ever did step 1:
    ``(user, t1, tK)`` where ``t1`` is the earliest *converting*
    anchor and ``tK`` its (greedy-minimal) completion time — both
    null-tK rows mean the user entered but never converted from any
    anchor.

    Plan shape — linear, no per-anchor joins: each event explodes
    into one row per step predicate it matches (a ≤K-wide
    projection), then K-1 chained window passes over ONE
    (user, ts-sorted) shuffle compute, backwards from step K,
    ``h_i(e) = min over later step-(i+1) rows of h_{i+1}`` — the
    earliest completion of steps i..K starting at ``e``. RANGE frames
    (CURRENT ROW → UNBOUNDED FOLLOWING) make ties at equal ``ts``
    visible in both directions, matching the first-touch form's
    non-strict ``>=`` chaining. All windows share the same
    partitioning and ordering, so Spark plans one Exchange + one Sort
    for the whole chain; greedy-minimal chaining is exhaustive
    because taking the earliest next step leaves maximal room for the
    rest (exchange-argument optimality, asserted against brute force
    in tests/test_funnel.py).

    ``tagged`` lets a caller pass a pre-built :func:`tag_steps` frame
    so several funnel variants share one Exchange."""
    from pyspark.sql.window import Window

    if not steps:
        raise ValueError("at least one step")
    k = len(steps)
    if tagged is None:
        tagged = tag_steps(events, steps, user_col, ts_col)
    w = (
        Window.partitionBy("user")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cur = tagged.withColumn("h", F.when(F.col("step") == k, F.col("ts")))
    for i in range(k - 1, 0, -1):
        nxt_h = F.min(F.when(F.col("step") == i + 1, F.col("h"))).over(w)
        cur = cur.withColumn(
            "h", F.when(F.col("step") == i, nxt_h).otherwise(F.col("h"))
        )
    anchors = cur.filter(F.col("step") == 1)
    if max_span is not None:
        ok = F.col("h") <= F.col("ts") + max_span
    else:
        ok = F.col("h").isNotNull()
    return anchors.groupBy("user").agg(
        F.min(F.when(ok, F.col("ts"))).alias("t1_any"),
        F.min_by(F.col("h"), F.when(ok, F.col("ts"))).alias("tk_any"),
        F.min("ts").alias("first_entry"),
    ).select(
        "user",
        F.coalesce("t1_any", "first_entry").alias("t1"),
        F.col("tk_any").alias("tk"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period ("cohort"), tracked across subsequent periods.

    Returns (cohort, period_offset, active_users, cohort_size,
    retention) — ``period_offset`` 0 is the cohort period itself
    (retention 1.0 by construction).

    Shape: ONE aggregation keyed on the user carries both the
    first-seen period (min) and the distinct active-period set
    (collect_set — map-side partial dedup, the same rows the old
    separate distinct shuffled), the set explodes back to (user,
    cohort, period_offset), then the final group and a
    whole-partition window over the grouped (cohort) frame for the
    size/retention columns. The previous shape paid two full event
    shuffles (first-seen agg + distinct) and re-joined them on the
    user; fusing them into one groupBy(user) removes one corpus-wide
    Exchange and the join outright — identical output (min of
    truncated periods == truncation of min; the exploded set is
    exactly the distinct (user, period) relation; the old inner join
    dropped null users, preserved here by the explicit filter).
    Every step map-side-combinable, nothing quadratic.
    """
    _UNIT_SECONDS = {"week": 604800, "day": 86400, "hour": 3600}
    if unit != "month" and unit not in _UNIT_SECONDS:
        raise ValueError(
            f"unsupported unit {unit!r}; expected one of "
            f"{sorted(_UNIT_SECONDS) + ['month']}"
        )
    from pyspark.sql.window import Window

    u, t = F.col(user_col), F.col(ts_col)
    per = lambda c: F.date_trunc(unit, c)  # noqa: E731
    per_user = (
        events.filter(u.isNotNull())
        .select(u.alias("user"), per(t).alias("period"))
        .groupBy("user")
        .agg(
            F.min("period").alias("cohort"),
            F.collect_set("period").alias("periods"),
        )
    )
    span = F.months_between(F.col("period"), F.col("cohort")) if unit == "month" else (
        F.col("period").cast("long") - F.col("cohort").cast("long")
    ) / F.lit(_UNIT_SECONDS[unit])
    joined = per_user.select(
        "user", "cohort", F.explode("periods").alias("period")
    ).select("user", "cohort", F.round(span).cast("long").alias("period_offset"))
    # cohort_size needs no separate aggregation over `first`: every
    # user's first period is active by construction, so the cohort's
    # size IS its active_users at period_offset 0 — attached with a
    # whole-partition window over the (tiny) grouped frame instead of
    # re-planning the first-seen branch into a sizes table + join.
    # count(*) == count_distinct(user) here: the exploded set yields
    # at most one row per (user, period), and a user has ONE cohort.
    grouped = joined.groupBy("cohort", "period_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    size = F.max(
        F.when(F.col("period_offset") == 0, F.col("active_users"))
    ).over(Window.partitionBy("cohort"))
    return grouped.select(
        "cohort",
        "period_offset",
        "active_users",
        size.alias("cohort_size"),
        (F.col("active_users").cast("double") / size).alias("retention"),
    )
