"""Scale-path physical-layout queries: bucketed co-located joins and
salted skew aggregation.

Results are ordinary join/rollup answers (oracle-checkable with plain
SQL); what these queries add is the *physical* strategy that keeps
them fast at the 100 TB target:

- ``bucketed_colocated_join`` pays the shuffle once at write time
  (``bucketBy`` on the join key) so the join itself plans with no
  Exchange — the layout the parsed_jobs ⋈ parsed_confs join
  (README.md:96-98 in /root/reference) would use in production.
- ``skew_salted_event_rollup`` spreads hot grouping keys over salt
  shards before the final combine — the defense for the reference's
  one-heavy-user cube keys (ComputeUsagePerHour.java:148-149 sizing
  comment acknowledges the pressure).

tests/test_scale.py asserts the plan properties (no Exchange between
bucketed scans and the join; salt column never escapes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions.compat import dec, sql_dsum
from white_elephant_spark.operators.skew import salted_rollup
from white_elephant_spark.plans.registry import register
from white_elephant_spark.sources import layout
from white_elephant_spark.sources.bucketing import bucketed_pair
from white_elephant_spark.sources.catalog import load_table


@register(
    "bucketed_colocated_join",
    oracle=f"""
SELECT o_orderpriority,
       {sql_dsum('CAST(l_extendedprice AS DECIMAL(27,4)) * CAST(1 - l_discount AS DECIMAL(27,4))')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
    tags=("join", "bucketing", "sink", "scale"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build bucketed copies of orders/lineitem on the order key, then
    join bucket-to-bucket (shuffle paid at write, not per query)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o, li = bucketed_pair(
        spark,
        orders,
        lineitem,
        "o_orderkey",
        "l_orderkey",
        num_buckets=8,
        tag=os.path.basename(sf_dir.rstrip("/")),
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "skew_salted_event_rollup",
    oracle=f"""
SELECT event_type,
       {sql_dsum('value')} AS sum_value,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    tags=("agg", "skew", "scale"),
)
def skew_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-cardinality rollup through the salted two-phase path: each
    event_type spreads over 32 salt shards before the final combine —
    exact, but no single task owns a hot key's full volume."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return salted_rollup(
        ev, ["event_type"], dsum_cols=["value"], count_alias="n", n_salt=32
    )


_ZBITS = 4  # 16 quantile ranks per dimension


@register(
    "zorder_layout_keys",
    oracle=f"""
WITH cuts AS (
  SELECT {layout.sql_rank_cuts('events', 'user_id', 1 << _ZBITS)} AS cu,
         {layout.sql_rank_cuts('events', 'value', 1 << _ZBITS)} AS cv
),
bucketed AS (
  SELECT event_id,
         CAST({layout.sql_bucket_from_cuts('user_id', 'cu')} AS BIGINT) AS ub,
         CAST({layout.sql_bucket_from_cuts('value', 'cv')} AS BIGINT) AS vb
  FROM events, cuts
)
SELECT event_id, ub, vb,
       CAST({layout.sql_zvalue(['ub', 'vb'], _ZBITS)} AS BIGINT) AS zval
FROM bucketed
""",
    tags=("layout", "zorder", "scale"),
)
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order layout math, hash-verified per row: every event's
    quantile-bucket rank on (user_id, value) and the Morton interleave
    of the two ranks — the key a z-ordered write would range-partition
    on, so parquet footer min/max stats go tight on BOTH filter
    columns at once. The query writes nothing.

    The 15 interior cuts per dimension are *exact rank cuts*
    (:func:`white_elephant_spark.sources.layout.rank_cuts_multi` —
    ``percentile_disc`` semantics: integer thresholds, cuts are
    actual data values, driver collect bounded by 2^bits, never rows),
    so the oracle reproduces every bucket and z-value bit-for-bit at
    any scale. Interpolated percentiles are NOT engine-portable: Spark
    ``percentile`` and DuckDB ``quantile_cont`` associate the
    interpolation arithmetic differently, and the resulting 1-ULP cut
    difference flips the bucket of every row lying exactly on a cut
    (surfaced by the sf1 decade check on the duplicate-heavy
    synthesized corpus). Building the query runs one Spark job: the
    collect of both dimensions' cuts."""
    ev = load_table(spark, sf_dir, "events")
    # Both dimensions' exact cuts from ONE scan: one (dim, v)
    # aggregation and per-dimension windows.
    cuts = layout.rank_cuts_multi(ev, ["user_id", "value"], 1 << _ZBITS)
    ub = layout.bucket_from_cuts(F.col("user_id"), cuts["user_id"])
    vb = layout.bucket_from_cuts(F.col("value"), cuts["value"])
    return ev.select(
        "event_id",
        ub.alias("ub"),
        vb.alias("vb"),
        layout.zvalue([ub, vb], bits=_ZBITS).alias("zval"),
    )
