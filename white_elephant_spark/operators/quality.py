"""Data-quality expectations: declarative constraint checks over a
DataFrame.

The reference's only quality instrumentation is MapReduce counters
around its attempt filter — it counts how many records the usage stage
skipped and why (ComputeUsagePerHour.java:232-255 in /root/reference)
— and its only enforcement is silent dropping (LineParsing.java:256-259).
A corpus pipeline needs the declarative form: *assert* properties of
a table (null-rate, domain, uniqueness, referential integrity) in as
few distributed passes as the properties allow.

Execution shape:

- **Row-local rules** (not-null, range, regex)
  compile to ``sum(violation_flag)`` expressions and run in ONE
  aggregation over one scan — map-side partial sums, a single-row
  result. Adding a rule adds a column to the agg, not a pass.
- **Uniqueness** needs a shuffle on the key (it is a grouped count by
  definition); one per distinct key-set.
- **Referential integrity** is a broadcast-or-shuffle left-anti join
  against the parent's distinct keys — Catalyst picks the strategy by
  size, exactly like any dimension join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Rule",
    "not_null",
    "in_range",
    "matches",
    "check_rows",
    "check_unique",
    "check_foreign_key",
    "check",
    "profile",
    "histogram",
]


@dataclass(frozen=True)
class Rule:
    """A named row-local expectation; ``violated`` is a boolean Column
    that is true on rows breaking the rule."""

    name: str
    violated: Column


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo: float | int, hi: float | int) -> Rule:
    c = F.col(col)
    return Rule(f"in_range({col},{lo},{hi})", c.isNull() | (c < lo) | (c > hi))


def matches(col: str, pattern: str) -> Rule:
    c = F.col(col)
    return Rule(f"matches({col})", c.isNull() | ~c.rlike(pattern))


def check_rows(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """All row-local rules in one aggregation pass.

    Returns (rule, violations, total, pass) — one row per rule, from a
    single scan of ``df`` regardless of rule count.
    """
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.sum(r.violated.cast("long")).alias(f"__v{i}") for i, r in enumerate(rules)
    ]
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    out = [(r.name, int(row[f"__v{i}"] or 0), int(row["__total"])) for i, r in enumerate(rules)]
    return spark.createDataFrame(
        [(n, v, t, v == 0) for n, v, t in out],
        "rule string, violations long, total long, pass boolean",
    )


def check_unique(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-uniqueness expectation: one shuffle on the key, violations =
    rows beyond the first per duplicate key."""
    dup = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("long").alias("violations"),
        )
        .collect()[0]
    )
    total = df.count()
    v = int(dup["violations"])
    return df.sparkSession.createDataFrame(
        [(f"unique({','.join(key_cols)})", v, total, v == 0)],
        "rule string, violations long, total long, pass boolean",
    )


def check_foreign_key(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """Referential integrity: child keys with no parent. Planned as a
    left-anti join against the parent's distinct keys — broadcast when
    the parent is small, shuffle otherwise (Catalyst decides)."""
    orphans = (
        child.select(F.col(child_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .join(
            parent.select(F.col(parent_col).alias("__k")).distinct(),
            "__k",
            "left_anti",
        )
        .count()
    )
    total = child.count()
    return child.sparkSession.createDataFrame(
        [(f"fk({child_col}->{parent_col})", orphans, total, orphans == 0)],
        "rule string, violations long, total long, pass boolean",
    )


def check(
    df: DataFrame,
    rules: list[Rule] | None = None,
    unique: list[list[str]] | None = None,
    foreign_keys: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Full expectation suite → one report DataFrame. Pass count =
    1 (row rules) + len(unique) + len(foreign_keys)."""
    parts = []
    if rules:
        parts.append(check_rows(df, rules))
    for keys in unique or []:
        parts.append(check_unique(df, keys))
    for child_col, parent, parent_col in foreign_keys or []:
        parts.append(check_foreign_key(df, child_col, parent, parent_col))
    if not parts:
        raise ValueError("no expectations given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column profiles — count/nulls/distinct-approx plus
    min/max/mean/stddev for numerics — in ONE aggregation over one
    scan, however many columns are profiled (the map-side partial agg
    carries one sketch-sized state per column, so this is the same
    single-pass shape Deequ-style profilers use).

    Returns one row per column: (column, total, nulls, approx_distinct,
    min, max, mean, stddev) — min/max/mean/stddev null for
    non-numerics.
    """
    if cols is None:
        cols = df.columns
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null{i}"))
        aggs.append(F.approx_count_distinct(c).alias(f"__dist{i}"))
        if c in numeric:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"__min{i}"),
                F.max(F.col(c).cast("double")).alias(f"__max{i}"),
                F.avg(F.col(c).cast("double")).alias(f"__avg{i}"),
                F.stddev(F.col(c).cast("double")).alias(f"__std{i}"),
            ]
    row = df.agg(*aggs).collect()[0]
    out = []
    for i, c in enumerate(cols):
        num = c in numeric
        out.append(
            (
                c,
                int(row["__n"]),
                int(row[f"__null{i}"] or 0),
                int(row[f"__dist{i}"]),
                float(row[f"__min{i}"]) if num and row[f"__min{i}"] is not None else None,
                float(row[f"__max{i}"]) if num and row[f"__max{i}"] is not None else None,
                float(row[f"__avg{i}"]) if num and row[f"__avg{i}"] is not None else None,
                float(row[f"__std{i}"]) if num and row[f"__std{i}"] is not None else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, total long, nulls long, approx_distinct long,"
        " min double, max double, mean double, stddev double",
    )


def histogram(df: DataFrame, col: str, nbins: int = 10) -> DataFrame:
    """Equi-width histogram of a numeric column: one min/max pass,
    then one map-side bucket groupBy — two scans total, no sort.
    Returns (bucket, lo, hi, cnt) with empty buckets filled."""
    mm = df.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
    ).collect()[0]
    if mm["lo"] is None:
        raise ValueError(f"histogram({col!r}): no non-null values in column")
    lo, hi = float(mm["lo"]), float(mm["hi"])
    width = (hi - lo) / nbins or 1.0
    bucket = F.least(
        F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width)).cast("long"),
        F.lit(nbins - 1).cast("long"),
    )
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    axis = df.sparkSession.range(nbins).select(F.col("id").alias("bucket"))
    return (
        axis.join(counts, "bucket", "left")
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        )
        .orderBy("bucket")
    )
