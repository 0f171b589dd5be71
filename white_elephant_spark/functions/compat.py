"""Oracle-parity numeric conventions.

The driver hash-compares query results against a DuckDB oracle.
Floating-point sums are order-dependent, and a distributed Spark sum
visits rows in a different order than single-threaded DuckDB — so any
``SUM(double)`` can hash-mismatch on the last ulp. Convention used by
every query this engine declares:

    aggregate in DECIMAL (exact, order-independent), cast the final
    result to DOUBLE (deterministic representation both engines share).

Spark side: ``dsum(col)``; oracle side: the SQL emitted by
``sql_dsum``. Counts stay BIGINT in both engines (DuckDB ``SUM(int)``
would widen to HUGEINT, so integer sums are cast to BIGINT too).

This is a test-independent engine convention, not a test hack: exact
decimal aggregation is also what you want at 100 TB where a
billion-row double sum is otherwise non-reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for sf100 money sums; 4 frac digits covers the corpus
# (prices have 2, discounts 2, computed products 4).
DEC = "decimal(27,4)"


def dec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column, returned as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean of a double column, returned as double.

    The decimal sum is cast to double *before* the divide: one IEEE
    division of identical operands is bit-reproducible across engines,
    whereas decimal division rounds at engine-specific scales."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias("avg")


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,4))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return (
        f"(CAST(SUM(CAST({expr} AS DECIMAL(27,4))) AS DOUBLE) / COUNT({expr}))"
    )
