"""Temporal joins and sessionization: as-of join, interval (range)
join, gap-based batch sessions.

The reference engine has no temporal-join operator (its joins are the
jobId equi-joins of SURVEY.md §2.3); these are the time-series
operations a training-data / telemetry pipeline needs next to them —
"attach the most recent dimension state to each fact", "find facts
inside windows", "cut event streams into sessions".

Spark-first shapes, chosen for the 100 TB case:

- **As-of join = union + window, one shuffle.** Tag both inputs,
  union them, and take ``last(payload, ignorenulls=True)`` over a
  (key)-partitioned window ordered by (time, side). Right rows sort
  *before* left rows at equal timestamps, so the match is inclusive
  (``l.t >= r.t``) exactly like DuckDB's ``ASOF JOIN``. Cost: one
  shuffle on the join key for both sides together — no per-key
  driver loops, no range explosion, no broadcast requirement. This
  is the classic scalable as-of shape (the same plan Flink's
  temporal join and kdb's aj compile to).
- **Keyless interval join = day-bucket banding.** Without an equi
  key, a naive range join is a cartesian product. Explode each
  interval to the coarse time buckets it covers (bounded fan-out =
  interval span / bucket width), map each fact row to its bucket, and
  equi-join on the bucket before the exact containment filter. The
  bucket is the shuffle key; Catalyst runs a plain hash join.
- **Sessionization = lag + running count.** A new-session flag
  (gap > threshold) cumulatively summed over the per-user window is
  the standard two-window formulation; one shuffle on user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``right_time <= left_time`` (``direction="backward"``, inclusive)
    or the least ``right_time >= left_time`` (``"forward"``) within
    the same ``key`` group. Unmatched left rows keep nulls.

    ``tolerance_ms`` bounds the match distance (pandas
    ``merge_asof(tolerance=...)`` semantics): a match farther than the
    tolerance is nulled out, the row is kept. Applied as a post-window
    predicate — the single-shuffle union+window plan is unchanged.

    ``right`` must be unique per (key, right_time) — pre-aggregate it
    otherwise (ties would make any engine's pick arbitrary). Output:
    all left columns, plus every non-key right column (right's time
    column included, as matched state).

    NULL times never match (the DuckDB ``ASOF JOIN`` contract:
    ``l.t >= NULL`` is never true): right rows with a NULL time are
    dropped from the state stream — under ``asc_nulls_first`` they
    would otherwise sort before everything and become the backward
    match for every row — and a left row with a NULL time keeps a
    NULL attach in BOTH directions (forward's ``desc_nulls_last``
    would otherwise hand it the whole window).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    right = right.filter(F.col(right_time).isNotNull())
    r_payload = [c for c in right.columns if c != key]
    l_side = left.select(
        F.col(key).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*r_payload).alias("s")).schema["s"].dataType
        ).alias("_r"),
    )
    r_side = right.select(
        F.col(key).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
        ).alias("_l"),
        F.struct(*r_payload).alias("_r"),
    )
    if direction == "backward":
        order = [F.col("_t").asc(), F.col("_side").asc()]
    else:
        order = [F.col("_t").desc(), F.col("_side").asc()]
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l_side.unionByName(r_side)
        .withColumn(
            "_m",
            F.when(
                F.col("_t").isNotNull(), F.last("_r", ignorenulls=True).over(w)
            ),
        )
        .filter(F.col("_side") == 1)
    )
    if tolerance_ms is not None:
        lt = F.unix_millis(F.col("_t").cast("timestamp"))
        rt = F.unix_millis(F.col(f"_m.{right_time}").cast("timestamp"))
        delta = (lt - rt) if direction == "backward" else (rt - lt)
        matched = matched.withColumn(
            "_m", F.when(delta <= F.lit(tolerance_ms), F.col("_m"))
        )
    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns] + [
        F.col(f"_m.{c}").alias(c) for c in r_payload
    ]
    return matched.select(*out_cols)


def asof_join_both(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    backward_tolerance_ms: int | None = None,
    forward_tolerance_ms: int | None = None,
    forward_prefix: str = "fwd_",
) -> DataFrame:
    """Both as-of directions in ONE pass: every left row attaches the
    latest right row at-or-before its time (backward, original column
    names) AND the earliest right row at-or-after it (forward,
    columns prefixed ``forward_prefix``).

    Plan shape: the two direction windows share the hash partitioning
    on ``key``, so Catalyst plans ONE Exchange with two Sorts (t asc
    / t desc) — versus two full union+window plans PLUS a join of the
    legs on a unique left id when the directions are computed
    separately (three exchanges of the fact set). Tie handling per
    direction matches :func:`asof_join`: right rows sort before left
    rows at equal times under (t, side) in both sort orders, so both
    matches are inclusive."""
    right = right.filter(F.col(right_time).isNotNull())
    r_payload = [c for c in right.columns if c != key]
    l_side = left.select(
        F.col(key).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*r_payload).alias("s")).schema["s"].dataType
        ).alias("_r"),
    )
    r_side = right.select(
        F.col(key).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType
        ).alias("_l"),
        F.struct(*r_payload).alias("_r"),
    )
    wb = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward via the DESCENDING sort of the same partitioning: the
    # frame [unboundedPreceding, currentRow] then holds exactly the
    # rows with t >= current (right rows first at ties — inclusive),
    # and last(_r, ignorenulls) picks the SMALLEST such right time.
    wf = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").desc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    guard = F.col("_t").isNotNull()
    matched = (
        l_side.unionByName(r_side)
        .withColumn("_mb", F.when(guard, F.last("_r", ignorenulls=True).over(wb)))
        .withColumn("_mf", F.when(guard, F.last("_r", ignorenulls=True).over(wf)))
        .filter(F.col("_side") == 1)
    )
    lt = F.unix_millis(F.col("_t").cast("timestamp"))
    if backward_tolerance_ms is not None:
        bt = F.unix_millis(F.col(f"_mb.{right_time}").cast("timestamp"))
        matched = matched.withColumn(
            "_mb", F.when(lt - bt <= F.lit(backward_tolerance_ms), F.col("_mb"))
        )
    if forward_tolerance_ms is not None:
        ft = F.unix_millis(F.col(f"_mf.{right_time}").cast("timestamp"))
        matched = matched.withColumn(
            "_mf", F.when(ft - lt <= F.lit(forward_tolerance_ms), F.col("_mf"))
        )
    out_cols = (
        [F.col(f"_l.{c}").alias(c) for c in left.columns]
        + [F.col(f"_mb.{c}").alias(c) for c in r_payload]
        + [F.col(f"_mf.{c}").alias(f"{forward_prefix}{c}") for c in r_payload]
    )
    return matched.select(*out_cols)


#: fixed-width bucket units for :func:`interval_join`'s epoch grid
_BUCKET_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _bucket_seconds(bucket: str) -> int:
    """Width in seconds of a fixed-duration bucket spec ('1 day',
    '6 hours'). Calendar units (month/quarter/year) are rejected:
    they have no fixed width, so no epoch grid exists for them."""
    parts = bucket.strip().lower().split()
    if len(parts) == 1:
        parts = ["1", parts[0]]
    if len(parts) != 2 or parts[1] not in _BUCKET_UNITS or not parts[0].isdigit():
        raise ValueError(
            f"bucket must be '<n> <second|minute|hour|day|week>[s]', got {bucket!r}"
        )
    n = int(parts[0])
    if n <= 0:
        raise ValueError(f"bucket width must be positive, got {bucket!r}")
    return n * _BUCKET_UNITS[parts[1]]


def interval_join(
    facts: DataFrame,
    windows: DataFrame,
    fact_time: str,
    win_start: str,
    win_end: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Keyless range join: every (fact, window) pair with
    ``win_start <= fact_time < win_end``, via coarse-bucket banding.

    Each window row explodes to the ``bucket``-width time buckets its
    interval covers (fan-out = ceil(span / bucket) + 1, bounded by
    the widest interval); each fact maps to exactly one bucket. The
    equi-join on the bucket turns the range predicate into a hash
    join + residual filter — never a cartesian product. Output: all
    window columns, then all fact columns.

    Buckets live on one epoch-aligned integer grid (``floor(epoch_s /
    bucket_s)``) shared by facts and windows — an earlier form
    truncated facts to the DAY regardless of ``bucket``, so any
    coarser bucket silently dropped matching pairs whose fact day
    fell between window-sequence steps. Fixed-width buckets only
    (calendar units like ``month`` have no fixed width; pick days).
    """
    bucket_s = _bucket_seconds(bucket)
    f_bkt = F.floor(F.unix_timestamp(F.col(fact_time)) / F.lit(bucket_s))
    w_bkts = windows.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(win_start)) / F.lit(bucket_s)),
                F.floor(F.unix_timestamp(F.col(win_end)) / F.lit(bucket_s)),
            )
        ),
    )
    f_bkts = facts.withColumn("_bkt", f_bkt)
    return (
        w_bkts.join(f_bkts, "_bkt")
        .filter(
            (F.col(fact_time) >= F.col(win_start))
            & (F.col(fact_time) < F.col(win_end))
        )
        .select(*windows.columns, *facts.columns)
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since
    the user's previous event exceeds ``gap_minutes``. Returns the
    input with ``session_seq`` (1-based per-user session counter)
    attached — aggregate downstream for per-session rollups.

    ``tiebreak`` (e.g. the event id) totally orders equal timestamps
    so the lag — and therefore the session cut — is deterministic.
    One shuffle on the user column; both windows share it.
    """
    order = [time_col] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    # Gap math in integer microseconds (unix_micros / DuckDB epoch_us)
    # — never float seconds, so a 1800.000001s gap cuts identically in
    # both engines.
    gap_us = gap_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | (us - prev > gap_us), 1).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def scd2_segments(
    rows: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    state_col: str = "event_type",
    tiebreak: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension build (gaps-and-islands): for
    each key, collapse consecutive runs of the same ``state_col``
    value (ordered by time) into validity segments.

    Output: (key, state, valid_from, valid_to, n_events, is_current) —
    ``valid_to`` is the next segment's start (NULL on the live
    segment), the half-open convention every warehouse dimension
    table uses.

    Distributed shape: ONE shuffle on the key; the change-detection
    lag, the running segment counter, and the post-aggregation lead
    all share that partitioning (Catalyst plans zero additional
    Exchanges — the groupBy keys are a superset of the window
    partition key). ``tiebreak`` totally orders equal timestamps so
    the run boundaries are engine-deterministic.
    """
    # Alias BEFORE the window, not in the same projection: the
    # groupBy below must reference the exact attribute the window
    # partitioned on, or EnsureRequirements can't prove
    # co-partitioning and inserts a second shuffle.
    base = rows.select(
        F.col(key_col).alias("key"),
        F.col(time_col).alias("t"),
        F.col(state_col).alias("state"),
        *([F.col(tiebreak).alias("ord2")] if tiebreak else []),
    )
    order = [F.col("t").asc(), (F.col("ord2") if tiebreak else F.col("state")).asc()]
    w = Window.partitionBy("key").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_state = F.lag(F.col("state")).over(w)
    is_new = F.when(
        prev_state.isNull() | (prev_state != F.col("state")), 1
    ).otherwise(0)
    seg = base.select(
        "key",
        "t",
        "state",
        F.sum(is_new).over(run).alias("seg_id"),
    )
    # state is constant within a run by construction; MIN is just the
    # engine-agnostic way to pick it.
    collapsed = seg.groupBy("key", "seg_id").agg(
        F.min("state").alias("state"),
        F.min("t").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wseg = Window.partitionBy("key").orderBy(F.col("seg_id").asc())
    return collapsed.select(
        "key",
        "state",
        "valid_from",
        F.lead("valid_from").over(wseg).alias("valid_to"),
        "n_events",
    ).withColumn("is_current", F.col("valid_to").isNull())


def sql_scd2_segments(
    rows_cte: str,
    key_expr: str = "user_id",
    time_expr: str = "ts",
    state_expr: str = "event_type",
    tiebreak: str | None = None,
) -> str:
    """DuckDB twin of :func:`scd2_segments` over a CTE with the same
    column semantics; yields a ``scd2`` CTE."""
    order_tail = tiebreak if tiebreak else state_expr
    return f"""
scd2_marks AS (
  SELECT {key_expr} AS key, {time_expr} AS t, {state_expr} AS state,
         {order_tail} AS ord2,
         CASE WHEN LAG({state_expr}) OVER w IS NULL
                OR LAG({state_expr}) OVER w <> {state_expr}
              THEN 1 ELSE 0 END AS is_new
  FROM {rows_cte}
  WINDOW w AS (PARTITION BY {key_expr} ORDER BY {time_expr} ASC, {order_tail} ASC)
),
scd2_runs AS (
  SELECT key, t, state,
         SUM(is_new) OVER (PARTITION BY key ORDER BY t ASC, ord2 ASC
                           ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM scd2_marks
),
scd2_grp AS (
  SELECT key, seg_id, MIN(state) AS state, MIN(t) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM scd2_runs GROUP BY key, seg_id
),
scd2 AS (
  SELECT key, state, valid_from,
         LEAD(valid_from) OVER (PARTITION BY key ORDER BY seg_id ASC) AS valid_to,
         n_events,
         LEAD(valid_from) OVER (PARTITION BY key ORDER BY seg_id ASC) IS NULL AS is_current
  FROM scd2_grp
)
"""
