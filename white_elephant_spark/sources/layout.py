"""Z-order layout keys: exact rank cuts, bucketing and the Morton
interleave, each with its DuckDB twin.

The reference's only layout tool is its directory scheme
(``<cluster>/<yyyy>/<MMdd>``, the reference's
util/JobStatsProcessing.java:62-67): one-dimensional pruning by day.
A table filtered on *several* dimensions at once (user AND time,
cluster AND status) gains little from a single sort order, which only
helps the leading column. Z-ordering interleaves the bits of several key columns into
one Morton code; a write sorted or range-partitioned on it gives every
output file a small hyper-rectangle of the key space, so parquet
footer min/max stats become tight on **all** interleaved columns.
This module computes that key (the ``zorder_layout_keys`` query); it
writes no table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "zvalue",
    "sql_zvalue",
    "bucket_from_cuts",
    "sql_bucket_from_cuts",
]


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (z-curve) interleave of ``cols``.

    Each input must already be a non-negative integral column scaled
    to ``[0, 2**bits)`` — callers rank/clamp first (see
    :func:`bucket_from_cuts`). Bit ``b`` of column ``i`` lands at output
    position ``b * n_cols + i``, so the resulting long orders the rows
    along the z-curve of the joint key space.

    Built as one JVM expression tree (``shiftright``/``shiftleft``/
    ``bitwiseOR``) — whole-stage codegen folds it into straight-line
    long arithmetic; no UDF, no Python in the hot path.
    """
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long") for c in cols]
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return out


def sql_zvalue(exprs: list[str], bits: int) -> str:
    """DuckDB twin of :func:`zvalue` over already-bucketed integer
    expressions: bit ``b`` of expression ``i`` lands at position
    ``b·n + i``. Disjoint positions make OR equal to addition, so the
    SQL form is a plain sum of shifted bits."""
    n = len(exprs)
    terms = [
        f"(((({e}) >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, e in enumerate(exprs)
    ]
    return "(" + " + ".join(terms) + ")"


def rank_cuts_multi(
    df, cols: list[str], num_buckets: int = 16
) -> dict[str, list[float]]:
    """Exact *discrete* quantile cuts (``percentile_disc`` semantics)
    for each of ``cols``, in ONE pass over ``df``: cut ``i`` is the
    smallest data value whose running row count reaches
    ``ceil(i·N/num_buckets)``. Every threshold is integer arithmetic
    and every cut is an actual data value — no interpolation — so any
    engine recomputing them from the same rows gets bit-identical
    doubles. Interpolated percentiles do NOT have this property:
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` agree
    analytically but associate the ``lo + frac·(hi-lo)`` arithmetic
    differently, and on a duplicate-heavy corpus a 1-ULP cut
    difference moves every row sitting exactly on the cut into a
    different bucket (see tests/test_layout.py).

    Plan shape: each row explodes into k tagged ``(dim, v)`` axis
    entries (one scan carrying every dimension), the distinct-value
    counts aggregate per ``(dim, v)`` (map-side combinable), and BOTH
    the running rank and the participating-row total N come from
    windows over the same ``dim`` partitioning — one exchange, each
    dimension's distinct-value axis sorted in its own task, nulls
    never inflating N. Each distinct row emits the cut indexes it owns
    via pure integer division, and only ``k·(num_buckets-1)`` rows
    reach the driver.
    """
    from pyspark.sql.window import Window

    b = int(num_buckets)
    axes = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("dim"),
                            F.col(c).cast("double").alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("x")
        )
        .select("x.dim", "x.v")
        .filter(F.col("v").isNotNull())
    )
    dv = axes.groupBy("dim", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("dim")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # N per dimension = sum of the distinct-value counts in the same
    # window partition — no second scan of the input (the original
    # single-column form re-scanned for its count aggregate).
    w_all = Window.partitionBy("dim")
    cum = dv.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    prev = F.col("cum") - F.col("c")
    # this distinct value owns cut i  ⟺  prev < ceil(i·N/b) ≤ cum
    #   ⟺  floor(b·prev/N)+1 ≤ i ≤ floor(b·cum/N).
    # Integer division via double floor(x/y): exact while the
    # fractional part of the true quotient (≥ 1/N when nonzero)
    # exceeds the double ulp at magnitude b — safe for N ≪ 2^40;
    # a violation breaks the ranges-partition invariant and trips
    # the length assert below rather than silently misbinning.
    i_lo = F.greatest(
        F.floor(F.lit(b) * prev / F.col("n")).cast("long") + F.lit(1), F.lit(1)
    )
    i_hi = F.least(
        F.floor(F.lit(b) * F.col("cum") / F.col("n")).cast("long"),
        F.lit(b - 1),
    )
    owned = cum.filter(i_hi >= i_lo).select(
        "dim", F.explode(F.sequence(i_lo, i_hi)).alias("i"), "v"
    )
    rows = owned.collect()
    out: dict[str, list[float]] = {c: [] for c in cols}
    for r in sorted(rows, key=lambda r: (r["dim"], r["i"])):
        out[r["dim"]].append(float(r["v"]))
    for c in cols:
        if not out[c]:
            raise ValueError(
                f"rank_cuts_multi: column {c!r} has no non-null values — "
                "cannot derive range-partition boundaries from an empty "
                "ranking axis"
            )
        assert len(out[c]) == b - 1, (
            f"rank_cuts_multi: got {len(out[c])} cuts for {c!r}, want {b - 1}"
        )
    return out


def sql_rank_cuts(table: str, expr: str, num_buckets: int = 16) -> str:
    """DuckDB twin of :func:`rank_cuts_multi` for one column: a scalar
    subquery producing the ordered cut list for ``expr`` over
    ``table`` with the same integer thresholds, so the list is
    bit-identical to what the engine computed."""
    b = int(num_buckets)
    return f"""(
  WITH __n AS (
    SELECT CAST(COUNT(CAST({expr} AS DOUBLE)) AS BIGINT) AS n FROM {table}
  ),
  __dv AS (
    SELECT CAST({expr} AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM {table} WHERE {expr} IS NOT NULL GROUP BY 1
  ),
  __cm AS (
    SELECT v, SUM(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM __dv
  )
  SELECT list(cut ORDER BY i) FROM (
    SELECT i,
           (SELECT MIN(v) FROM __cm
            WHERE cum >= (i * n + {b - 1}) // {b}) AS cut
    FROM range(1, {b}) t(i), __n
  )
)"""


def bucket_from_cuts(c: Column, cuts: list[float]) -> Column:
    """Bucket index of ``c`` against explicit, already-computed cut
    boundaries (= count of cuts ≤ c), via the balanced IF-tree."""
    # NULL → bucket 0, matching the SQL twin (len(list_filter(cuts,
    # x <= NULL)) is 0 there); without the guard every comparison in
    # the IF-tree is NULL and the cascade of otherwise() branches
    # lands NULLs in the HIGHEST bucket — an engine divergence on
    # every NULL row.
    cd = c.cast("double")
    return F.when(cd.isNull(), F.lit(0).cast("long")).otherwise(
        _bucket_tree(cd, [float(x) for x in cuts], 0, len(cuts))
    )


def sql_bucket_from_cuts(expr: str, cuts_list_expr: str) -> str:
    """DuckDB twin of :func:`bucket_from_cuts`: count of cuts ≤ value
    (the IF-tree converges to the rightmost boundary on ties, which is
    exactly this count)."""
    return (
        f"len(list_filter({cuts_list_expr}, x -> x <= CAST({expr} AS DOUBLE)))"
    )


def _bucket_tree(c: Column, cuts: list[float], lo: int, hi: int) -> Column:
    """Balanced IF-tree assigning ``c`` its bucket in ``cuts``
    (boundaries between buckets ``lo..hi``): evaluation cost is
    O(log n_buckets) comparisons per row inside codegen, vs O(n) for
    a flat CASE ladder."""
    if lo == hi:
        return F.lit(lo).cast("long")
    mid = (lo + hi + 1) // 2  # c < cuts-boundary before bucket `mid`
    return F.when(
        c < F.lit(cuts[mid - 1]), _bucket_tree(c, cuts, lo, mid - 1)
    ).otherwise(_bucket_tree(c, cuts, mid, hi))
