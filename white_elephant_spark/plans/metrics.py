"""The serving-layer metric catalog and roll-up builder (A4-A13).

Reproduces the reference's 17 UI metric types
(server/app/assets/javascripts/models/usage_query.js.coffee:25-41)
and their resolution to WHERE predicates + a measure column
(server/app/usage_data.rb:144-266 ``where_for_type`` /
``data_key_for_type``), and the roll-up SQL shape of
``query_by_time`` (usage_data.rb:525-645):

    SELECT userName, <time-expr>, SUM(measure) FROM Usage
    WHERE cluster = ? [AND type/status/excess = ?]
    GROUP BY userName, <time-expr>
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions import timeunits as tu
from white_elephant_spark.functions.compat import dec


@dataclass(frozen=True)
class Metric:
    name: str
    measure: str  # cube measure column (data_key_for_type, usage_data.rb:244-266)
    type_eq: str | None = None  # predicate on `type` (where_for_type)
    status_eq: str | None = None  # predicate on `status`
    excess_eq: bool | None = None  # predicate on `excess`


# usage_data.rb:144-192 (predicates) + :244-266 (measures).
METRICS: dict[str, Metric] = {
    m.name: m
    for m in [
        Metric("minutesTotal", "elapsedMinutes"),
        Metric("minutesMap", "elapsedMinutes", type_eq="MAP"),
        Metric("minutesReduce", "elapsedMinutes", type_eq="REDUCE"),
        Metric("minutesExcessTotal", "elapsedMinutes", excess_eq=True),
        Metric("minutesExcessMap", "elapsedMinutes", type_eq="MAP", excess_eq=True),
        Metric("minutesExcessReduce", "elapsedMinutes", type_eq="REDUCE", excess_eq=True),
        Metric("minutesSuccess", "elapsedMinutes", status_eq="SUCCESS"),
        Metric("minutesFailed", "elapsedMinutes", status_eq="FAILED"),
        Metric("minutesKilled", "elapsedMinutes", status_eq="KILLED"),
        Metric("cpuTotal", "cpuMinutes"),
        Metric("totalStarted", "started"),
        Metric("mapStarted", "started", type_eq="MAP"),
        Metric("reduceStarted", "started", type_eq="REDUCE"),
        Metric("successFinished", "finished", status_eq="SUCCESS"),
        Metric("failedFinished", "finished", status_eq="FAILED"),
        Metric("killedFinished", "finished", status_eq="KILLED"),
        Metric("reduceShuffleBytes", "reduceShuffleBytes", type_eq="REDUCE"),
    ]
}


def metric_predicate(metric: Metric) -> Column:
    pred = F.lit(True)
    if metric.type_eq is not None:
        pred = pred & (F.col("type") == metric.type_eq)
    if metric.status_eq is not None:
        pred = pred & (F.col("status") == metric.status_eq)
    if metric.excess_eq is not None:
        pred = pred & (F.col("excess") == F.lit(metric.excess_eq))
    return pred


def metric_predicate_sql(metric: Metric) -> str:
    parts = ["TRUE"]
    if metric.type_eq is not None:
        parts.append(f"type = '{metric.type_eq}'")
    if metric.status_eq is not None:
        parts.append(f"status = '{metric.status_eq}'")
    if metric.excess_eq is not None:
        parts.append(f"excess = {str(metric.excess_eq).upper()}")
    return " AND ".join(parts)


def rollup_by_time(
    usage: DataFrame,
    metric_name: str,
    cluster: str | None = None,
    unit: str = "HOURS",
    zone: str = "UTC",
) -> DataFrame:
    """A4 — the ``query_by_time`` roll-up (usage_data.rb:525-645):
    filter by cluster + metric predicates, bucket `time` by
    unit/zone, sum the metric's measure per (userName, bucket).

    The measure sum goes through DECIMAL (compat convention) so the
    distributed result is order-independent.
    """
    metric = METRICS[metric_name]
    df = usage
    if cluster is not None:
        df = df.filter(F.col("cluster") == cluster)
    df = df.filter(metric_predicate(metric))
    return (
        df.groupBy(
            F.col("user").alias("userName"),
            tu.bucket(F.col("time"), unit, zone).alias("bucket"),
        )
        .agg(F.sum(dec(F.col(metric.measure))).cast("double").alias("value"))
    )

