"""Temporal-operator queries: as-of join, keyless interval join,
batch sessionization — each with a DuckDB oracle (native ASOF JOIN /
inequality join / window SQL) derived from the base tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions.compat import dsum, sql_dsum
from white_elephant_spark.operators import temporal
from white_elephant_spark.plans.registry import register
from white_elephant_spark.session import stream_state_partitions
from white_elephant_spark.sources.catalog import load_table


@register(
    "asof_latest_order_per_event",
    oracle="""
WITH od AS (
  SELECT o_custkey AS user_id, o_orderdate,
         MAX(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
),
ev AS (SELECT event_id, user_id, ts FROM events),
bwd AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate, o.o_orderkey, o.o_totalprice
  FROM ev e ASOF LEFT JOIN od o
    ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
),
fwd AS (
  SELECT e.event_id, o.o_orderdate AS next_orderdate,
         o.o_orderkey AS next_orderkey,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC) AS rk
  FROM ev e JOIN od o
    ON e.user_id = o.user_id
   AND o.o_orderdate >= e.ts
   AND o.o_orderdate <= e.ts + INTERVAL 30 DAY
)
SELECT b.event_id, b.user_id, b.ts,
       b.o_orderdate, b.o_orderkey, b.o_totalprice,
       f.next_orderdate, f.next_orderkey
FROM bwd b LEFT JOIN (SELECT * FROM fwd WHERE rk = 1) f USING (event_id)
""",
    tags=("temporal", "join", "window"),
)
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both as-of directions in one verified result: each event picks
    up the customer's most recent order state at the event timestamp
    (backward, unbounded — DuckDB's native ASOF JOIN is the oracle)
    AND the next order within a 30-day tolerance window (forward —
    pandas ``merge_asof(direction='forward', tolerance=...)``
    semantics; the oracle emulates it with an inequality join +
    row_number, since DuckDB ASOF is backward-only). Orders are first
    deduped to one row per (custkey, orderdate) via arg-max on
    orderkey so matches are well-defined. Both directions come out of
    ONE union+window pass (:func:`temporal.asof_join_both`): a single
    exchange on the key with two sorts — no per-direction replan and
    no leg-merging join on the event id."""
    ev = load_table(spark, sf_dir, "events", spread=False).select("event_id", "user_id", "ts")
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        )
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    both = temporal.asof_join_both(
        ev,
        od,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        forward_tolerance_ms=30 * 86_400_000,
    )
    return both.select(
        "event_id",
        "user_id",
        "ts",
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
        F.col("fwd_o_orderdate").alias("next_orderdate"),
        F.col("fwd_o_orderkey").alias("next_orderkey"),
    )


@register(
    "interval_join_busy_windows",
    oracle=f"""
WITH wins AS (
  SELECT day AS win_start, day + INTERVAL 3 DAY AS win_end
  FROM (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n
    FROM events GROUP BY 1
    ORDER BY n DESC, day ASC LIMIT 5
  )
)
SELECT w.win_start, w.win_end, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('e.value')} AS total_value
FROM wins w JOIN events e
  ON e.ts >= w.win_start AND e.ts < w.win_end
GROUP BY 1, 2, 3
""",
    tags=("temporal", "join", "range"),
)
def interval_join_busy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join: the 5 busiest days open 3-day windows;
    every event falling inside any window is matched and rolled up
    per (window, event_type). Day-bucket banding turns the range
    predicate into an equi-join (bounded fan-out: 4 buckets per
    window) — the oracle does the naive inequality join, which is
    only viable at oracle scale."""
    ev = load_table(spark, sf_dir, "events")
    wins = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("day").asc())
        .limit(5)
        .select(
            F.col("day").alias("win_start"),
            (F.col("day") + F.expr("interval 3 day")).alias("win_end"),
        )
    )
    joined = temporal.interval_join(
        ev.select("ts", "event_type", "value"),
        wins,
        fact_time="ts",
        win_start="win_start",
        win_end="win_end",
    )
    return joined.groupBy("win_start", "win_end", "event_type").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )


@register(
    "event_sessions_batch",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS total_value
FROM sess GROUP BY 1, 2
""",
    tags=("temporal", "window", "session"),
)
def event_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization (30-min gap): the offline twin of the
    stateful streaming sessionizer (``streaming/stateful.py``,
    exercised in tests/test_stateful_streaming.py), cut with lag +
    running-sum windows and rolled up per session. Gap math is
    integer microseconds so both engines cut identically."""
    ev = load_table(spark, sf_dir, "events", spread=False).select(
        "user_id", "ts", "event_id", "value"
    )
    s = temporal.sessionize(ev, gap_minutes=30, tiebreak="event_id")
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "event_funnel_cohorts",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s1 ON e.user_id = s1.user_id JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY 1
),
fun AS (
  SELECT s1.user_id, s1.t1, s2.t2, s3.t3
  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id
),
first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort FROM events GROUP BY 1
),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period FROM events),
j AS (
  SELECT a.user_id, f.cohort,
         CAST(round((epoch(a.period) - epoch(f.cohort)) / 604800.0) AS BIGINT)
           AS period_offset
  FROM act a JOIN first_seen f ON a.user_id = f.user_id
),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first_seen GROUP BY 1
),
coh AS (
  SELECT j.cohort, j.period_offset,
         CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS active_users,
         s.cohort_size
  FROM j JOIN sizes s ON j.cohort = s.cohort
  GROUP BY 1, 2, s.cohort_size
),
fa_anchors AS (
  SELECT user_id, ts AS a FROM events WHERE event_type = 'view'
),
fa_chain AS (
  SELECT user_id, a,
         (SELECT MIN(e3.ts) FROM events e3
          WHERE e3.user_id = fa2.user_id AND e3.event_type = 'purchase'
            AND e3.ts >= fa2.t2) AS tk
  FROM (
    SELECT user_id, a,
           (SELECT MIN(e2.ts) FROM events e2
            WHERE e2.user_id = fa_anchors.user_id AND e2.event_type = 'click'
              AND e2.ts >= fa_anchors.a) AS t2
    FROM fa_anchors
  ) fa2
),
fa_conv AS (
  SELECT user_id, a, tk FROM fa_chain
  WHERE tk IS NOT NULL AND tk <= a + INTERVAL 7 DAY
),
fa_first AS (
  SELECT user_id, MIN(a) AS first_entry FROM fa_anchors GROUP BY 1
),
fa_best AS (
  SELECT user_id, MIN(a) AS t1 FROM fa_conv GROUP BY 1
),
fa AS (
  SELECT f.user_id,
         COALESCE(b.t1, f.first_entry) AS t1,
         (SELECT MIN(c.tk) FROM fa_conv c
          WHERE c.user_id = f.user_id AND c.a = b.t1) AS tk
  FROM fa_first f LEFT JOIN fa_best b ON f.user_id = b.user_id
)
SELECT 'funnel' AS kind, user_id, t1, t2, t3,
       CAST(NULL AS TIMESTAMP) AS cohort, CAST(NULL AS BIGINT) AS period_offset,
       CAST(NULL AS BIGINT) AS active_users, CAST(NULL AS BIGINT) AS cohort_size,
       CAST(NULL AS DOUBLE) AS retention
FROM fun
UNION ALL
SELECT 'cohort' AS kind, CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS TIMESTAMP) AS t1, CAST(NULL AS TIMESTAMP) AS t2,
       CAST(NULL AS TIMESTAMP) AS t3,
       cohort, period_offset, active_users, cohort_size,
       CAST(active_users AS DOUBLE) / cohort_size AS retention
FROM coh
UNION ALL
SELECT 'funnel_any' AS kind, user_id, t1,
       CAST(NULL AS TIMESTAMP) AS t2, tk AS t3,
       CAST(NULL AS TIMESTAMP) AS cohort, CAST(NULL AS BIGINT) AS period_offset,
       CAST(NULL AS BIGINT) AS active_users, CAST(NULL AS BIGINT) AS cohort_size,
       CAST(NULL AS DOUBLE) AS retention
FROM fa
""",
    tags=("temporal", "funnel", "cohort"),
)
def event_funnel_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifecycle analytics over the event stream, both halves of
    :mod:`white_elephant_spark.operators.funnel` in one verified
    result (``kind`` column):

    - ``funnel`` — per-user earliest completion times of the ordered
      view → click → purchase funnel within a 7-day horizon from
      first entry (first-touch anchoring);
    - ``cohort`` — weekly cohort retention matrix (users grouped by
      first-activity week, tracked across subsequent weeks; two
      map-side-combinable aggregations + one equi-join);
    - ``funnel_any`` — the re-entrant (any-qualifying-window)
      semantic: a user whose first-touch window expired but who
      re-entered later still converts. ``t1`` is the earliest
      *converting* anchor (else first entry), ``t3`` its completion,
      ``t2`` NULL. The oracle re-derives it with per-anchor greedy
      correlated mins, so the two formulations must agree exactly.

    Both funnel kinds come from ONE fused pipeline
    (:func:`~white_elephant_spark.operators.funnel.
    funnel_first_and_any`): one scan of the fact table, one
    hash(user) Exchange, the first-touch chain (whole-partition
    frames) and the re-entrant chain (ordered range frames) stacked
    over the same partitioning, one final per-user aggregate — the
    two row kinds are emitted by exploding an array of structs, so
    no per-leg branch re-plans the pipeline. Plan-shape guarded in
    tests/test_plan_shapes_new.py.
    """
    from white_elephant_spark.operators import funnel

    ev = load_table(spark, sf_dir, "events", spread=False).select("user_id", "ts", "event_type")
    steps = [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]
    null_ts = F.lit(None).cast("timestamp_ntz")
    null_long = F.lit(None).cast("long")
    null_dbl = F.lit(None).cast("double")
    # Both funnel legs come out of ONE fused pipeline (one events
    # scan, one hash(user) Exchange, stacked window chains — see
    # funnel.funnel_first_and_any for why separate legs cannot share
    # their exchange), and the two row kinds are emitted with
    # explode(array(struct...)) so nothing is re-planned per leg.
    both = funnel.funnel_first_and_any(
        ev, steps, max_span=F.expr("INTERVAL 7 DAYS")
    )
    fun = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("funnel").alias("kind"),
                    F.col("user").alias("user_id"),
                    F.col("t1").alias("t1"),
                    F.col("t2").alias("t2"),
                    F.col("t3").alias("t3"),
                ),
                F.struct(
                    F.lit("funnel_any").alias("kind"),
                    F.col("user").alias("user_id"),
                    F.coalesce("t1_any", "t1").alias("t1"),
                    null_ts.alias("t2"),
                    F.col("tk_any").alias("t3"),
                ),
            )
        ).alias("r")
    ).select(
        "r.kind",
        "r.user_id",
        "r.t1",
        "r.t2",
        "r.t3",
        null_ts.alias("cohort"),
        null_long.alias("period_offset"),
        null_long.alias("active_users"),
        null_long.alias("cohort_size"),
        null_dbl.alias("retention"),
    )
    coh = funnel.cohort_retention(ev, unit="week").select(
        F.lit("cohort").alias("kind"),
        null_long.alias("user_id"),
        null_ts.alias("t1"),
        null_ts.alias("t2"),
        null_ts.alias("t3"),
        F.col("cohort").cast("timestamp_ntz").alias("cohort"),
        "period_offset",
        "active_users",
        F.col("cohort_size").cast("long").alias("cohort_size"),
        "retention",
    )
    return fun.unionByName(coh)


@register(
    "streaming_dedup_join",
    oracle="""
SELECT 'event' AS kind, event_id, ts, user_id, event_type, value,
       CAST(NULL AS BIGINT) AS r_event_id, CAST(NULL AS TIMESTAMP) AS r_ts
FROM events
UNION ALL
SELECT 'pair' AS kind, l.event_id, l.ts, l.user_id, l.event_type, l.value,
       r.event_id AS r_event_id, r.ts AS r_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'error'
 AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
UNION ALL
SELECT 'metrics' AS kind,
       3 * (SELECT COUNT(*) FROM events) AS event_id,
       CAST(NULL AS TIMESTAMP) AS ts,
       (SELECT COUNT(*) FROM events) AS user_id,
       'observe' AS event_type,
       CAST(NULL AS DOUBLE) AS value,
       (SELECT COUNT(*)
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND l.event_type = 'click' AND r.event_type = 'error'
         AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE) AS r_event_id,
       CAST(NULL AS TIMESTAMP) AS r_ts
""",
    tags=("streaming", "dedup", "join"),
)
def streaming_dedup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online ingest tail, two stateful streaming operators in one
    verified result (``kind`` column):

    - ``event`` rows — streaming exactly-once dedup: the events table
      arrives as three at-least-once deliveries (two copies, then a
      third in a later ingestion cycle); keyed ``dropDuplicates``
      state in the checkpoint suppresses every re-delivery — within a
      batch, across batches, and across ``availableNow`` restarts —
      so the sink holds exactly the distinct source rows. Watermark
      bounds the seen-set to a 60-day horizon (the state-size
      contract at scale).
    - ``pair`` rows — watermarked stream-stream join over the deduped
      stream (:func:`white_elephant_spark.streaming.join_stream.
      windowed_stream_join`): every ``error`` attributed to the same
      user's preceding ``click`` within a 10-minute window; the
      equality key co-locates both sides and the time-range predicate
      bounds buffered state. The oracle is the batch inequality join
      over the distinct events.
    - one ``metrics`` row — the stream monitor, driver-attested:
      ``observe()`` counters on the dedup cycles (rows seen before
      the seen-set / rows emitted) and on the join output, collected
      through :class:`~white_elephant_spark.streaming.monitor.
      MetricsListener` and folded into the hashed result
      (event_id = rows seen across all cycles = 3·|events|,
      user_id = rows the dedup emitted = |events|,
      r_event_id = pairs the stream-stream join emitted). The oracle
      re-derives each total relationally, so a monitor that
      over/under-counts breaks the hash."""
    import os
    import shutil
    import time as _time

    from white_elephant_spark.streaming import dedup_stream as ds
    from white_elephant_spark.streaming import join_stream as js
    from white_elephant_spark.streaming import monitor as mon

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
        "streaming_dedup",
    )
    shutil.rmtree(root, ignore_errors=True)
    inp, out, jout, ckpt, jckpt = (
        os.path.join(root, d) for d in ("in", "out", "jout", "ckpt", "jckpt")
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    # Stateful stages sized from the box (the checkpoints below are
    # created fresh every run, so they pin whatever is set here).
    with stream_state_partitions(spark):
        listener = mon.MetricsListener(maxlen=64)
        spark.streams.addListener(listener)
        try:
            ev.unionAll(ev).write.mode("append").parquet(inp)
            ds.run_dedup_cycle(spark, inp, out, ckpt, horizon="60 days", observe_name="dedup1")
            ev.write.mode("append").parquet(inp)
            ds.run_dedup_cycle(spark, inp, out, ckpt, horizon="60 days", observe_name="dedup2")

            # Stream-stream join over the deduped stream: clicks ⋈ errors
            # per user within 10 minutes (both legs are streaming filters
            # of the same file stream — a genuine stream-stream self-join).
            # One micro-batch for the whole backlog: with the default
            # 1000-file cap a huge backlog could split into several
            # batches, letting the watermark advance between them and
            # evict buffered rows mid-join — correct streaming behavior,
            # but this query's oracle is the complete batch join.
            dd = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, event_type string, value double"
                )
                .option("maxFilesPerTrigger", "1000000")
                .parquet(out)
            )
            joined = js.windowed_stream_join(
                dd.filter(F.col("event_type") == "click"),
                dd.filter(F.col("event_type") == "error"),
                key="user_id",
                window="10 minutes",
            )
            joined = mon.with_batch_metrics(
                joined, "join_out", {"rows": F.count(F.lit(1))}
            )
            q = (
                joined.writeStream.outputMode("append")
                .option("checkpointLocation", jckpt)
                .foreachBatch(lambda df, _e: df.write.mode("append").parquet(jout))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # The listener bus is async: progress events land moments
            # after awaitTermination returns. Wait (bounded) until every
            # observe group has reported, then read the totals. A timeout
            # fails loudly — a silent zero would corrupt the hashed
            # metrics row.
            groups = ("dedup1_in", "dedup1_out", "dedup2_in", "dedup2_out", "join_out")
            deadline = _time.time() + 60.0
            while _time.time() < deadline:
                seen = {g for e in listener.history for g in e["observed"]}
                if all(g in seen for g in groups):
                    break
                _time.sleep(0.05)
            else:
                missing = [g for g in groups if g not in seen]
                raise RuntimeError(f"stream monitor missed observe groups: {missing}")
            rows_seen = listener.observed_total(
                "dedup1_in", "rows"
            ) + listener.observed_total("dedup2_in", "rows")
            rows_emitted = listener.observed_total(
                "dedup1_out", "rows"
            ) + listener.observed_total("dedup2_out", "rows")
            pairs_emitted = listener.observed_total("join_out", "rows")
        finally:
            spark.streams.removeListener(listener)

    events_out = spark.read.parquet(out).select(
        F.lit("event").alias("kind"),
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit(None).cast("long").alias("r_event_id"),
        F.lit(None).cast("timestamp_ntz").alias("r_ts"),
    )
    join_schema = (
        "l_event_id long, l_ts timestamp, l_user_id long, l_event_type string,"
        " l_value double, r_event_id long, r_ts timestamp, r_user_id long,"
        " r_event_type string, r_value double"
    )
    pairs_raw = (
        spark.read.schema(join_schema).parquet(jout)
        if os.path.isdir(jout)
        else spark.createDataFrame([], join_schema)
    )
    pairs_out = pairs_raw.select(
        F.lit("pair").alias("kind"),
        F.col("l_event_id").alias("event_id"),
        F.col("l_ts").cast("timestamp_ntz").alias("ts"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_type").alias("event_type"),
        F.col("l_value").alias("value"),
        F.col("r_event_id"),
        F.col("r_ts").cast("timestamp_ntz").alias("r_ts"),
    )
    metrics_out = spark.range(1).select(
        F.lit("metrics").alias("kind"),
        F.lit(rows_seen).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        F.lit(rows_emitted).cast("long").alias("user_id"),
        F.lit("observe").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(pairs_emitted).cast("long").alias("r_event_id"),
        F.lit(None).cast("timestamp_ntz").alias("r_ts"),
    )
    return events_out.unionByName(pairs_out).unionByName(metrics_out)


@register(
    "scd2_user_segments",
    oracle=f"""
WITH ev AS (SELECT user_id, ts, event_type FROM events),
{temporal.sql_scd2_segments('ev').strip()}
SELECT key AS user_id, state AS event_type, valid_from, valid_to,
       n_events, is_current
FROM scd2
""",
    tags=("temporal", "window", "scd2"),
)
def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build (gaps-and-islands) over the event
    stream: each user's consecutive runs of one event_type collapsed
    to validity segments with half-open [valid_from, valid_to)
    bounds, the live segment flagged ``is_current`` — the standard
    warehouse SCD2 shape, built with ONE shuffle on the user key
    (change-detection lag, running segment counter and the
    post-aggregation lead all reuse the same partitioning)."""
    ev = load_table(spark, sf_dir, "events", spread=False).select("user_id", "ts", "event_type")
    seg = temporal.scd2_segments(ev, "user_id", "ts", "event_type")
    return seg.select(
        F.col("key").alias("user_id"),
        F.col("state").alias("event_type"),
        "valid_from",
        "valid_to",
        "n_events",
        "is_current",
    )
