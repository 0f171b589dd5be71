"""Z-order layout keys (sources/layout.py): the Morton interleave is
the correct z-code (checked against a pure-Python bit-interleave on
every row), and the exact rank cuts and bucketing match their pure
Python and DuckDB references.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.sources.layout import rank_cuts_multi, zvalue


def _py_morton(vals: list[int], bits: int) -> int:
    out = 0
    for b in range(bits):
        for i, v in enumerate(vals):
            out |= ((v >> b) & 1) << (b * len(vals) + i)
    return out


def test_zvalue_matches_python_morton(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 61).alias("a"),
        (F.col("id") * 7 % 53).alias("b"),
        ((F.col("id") * 13) % 47).alias("c"),
    )
    got = df.withColumn("z", zvalue(["a", "b", "c"], bits=6)).collect()
    for r in got:
        assert r["z"] == _py_morton([r["a"], r["b"], r["c"]], 6), r


def test_zvalue_rejects_long_overflow():
    with pytest.raises(ValueError):
        zvalue(["a", "b"], bits=32)  # 64 bits > signed long


def test_rank_cuts_match_pure_python_reference(spark):
    """rank_cuts_multi == percentile_disc semantics (cut i = smallest value
    whose running count reaches ceil(i*N/B)), including on
    duplicate-heavy data where interpolated percentiles tie-break
    differently across engines (the sf1 regression)."""
    import math
    import random

    rng = random.Random(7)
    for b, vals in (
        (16, [round(rng.uniform(0, 50), 2) for _ in range(997)] * 3),  # heavy dupes
        (8, [float(i) for i in range(100)]),
        (4, [1.0] * 50 + [2.0] * 50 + [3.0]),  # ties ON the cuts
    ):
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = rank_cuts_multi(df, ["v"], b)["v"]
        s = sorted(vals)
        n = len(s)
        exp = []
        for i in range(1, b):
            t = math.ceil(i * n / b)
            exp.append(s[t - 1])  # smallest value with running count >= t
        assert got == exp, (b, got[:4], exp[:4])
        assert len(got) == b - 1


def test_rank_cuts_null_heavy_column(spark):
    """Nulls never join the ranking axis: N must count non-null rows
    only, or trailing thresholds overshoot max(cum) and the last cuts
    vanish (ADVICE r6)."""
    rows = [(float(i),) for i in range(40)] + [(None,)] * 160
    df = spark.createDataFrame(rows, "v double")
    cuts = rank_cuts_multi(df, ["v"], num_buckets=8)["v"]
    assert len(cuts) == 7
    assert cuts == sorted(cuts) and all(0.0 <= c <= 39.0 for c in cuts)


def test_rank_cuts_empty_and_all_null_raise(spark):
    empty = spark.createDataFrame([], "v double")
    with pytest.raises(ValueError, match="no non-null"):
        rank_cuts_multi(empty, ["v"], num_buckets=4)
    allnull = spark.createDataFrame([(None,)] * 10, "v double")
    with pytest.raises(ValueError, match="no non-null"):
        rank_cuts_multi(allnull, ["v"], num_buckets=4)


def test_bucket_from_cuts_null_matches_sql_twin(spark):
    # NULL values must land in bucket 0 on BOTH engines — Spark's
    # IF-tree used to cascade NULL comparisons to the HIGHEST bucket
    # while the DuckDB twin counts zero cuts <= NULL.
    import duckdb

    from white_elephant_spark.sources.layout import bucket_from_cuts, sql_bucket_from_cuts

    cuts = [10.0, 20.0, 30.0]
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 25.0), (4, 99.0)], "id long, v double"
    )
    got = {
        r.id: r.b
        for r in df.select("id", bucket_from_cuts(F.col("v"), cuts).alias("b")).collect()
    }
    con = duckdb.connect()
    sql = sql_bucket_from_cuts("v", "[10.0, 20.0, 30.0]")
    want = {
        i: con.execute(f"SELECT {sql} AS b FROM (SELECT CAST({repr(v) if v is not None else 'NULL'} AS DOUBLE) AS v)").fetchone()[0]
        for i, v in [(1, 5.0), (2, None), (3, 25.0), (4, 99.0)]
    }
    assert got == want and got[2] == 0 and got[4] == 3


def test_rank_cuts_multi_matches_per_column_reference(spark):
    """rank_cuts_multi == the pure-python percentile_disc reference,
    independently per column, from ONE scan — mixed distributions,
    dupes on the cuts, and a null-bearing column sharing the pass."""
    import math
    import random

    rng = random.Random(11)
    a = [round(rng.uniform(0, 50), 2) for _ in range(500)] * 2  # dupes
    c = [float(i % 7) for i in range(1000)]  # few distincts, cut ties
    d = [float(i) if i % 5 else None for i in range(1000)]  # nulls
    rows = list(zip(a, c, d))
    df = spark.createDataFrame(rows, "a double, c double, d double")

    b = 16
    got = rank_cuts_multi(df, ["a", "c", "d"], b)
    for col, vals in (("a", a), ("c", c), ("d", d)):
        s = sorted(v for v in vals if v is not None)
        n = len(s)
        exp = [s[math.ceil(i * n / b) - 1] for i in range(1, b)]
        assert got[col] == exp, (col, got[col][:4], exp[:4])

    allnull = spark.createDataFrame(
        [(1.0, None)] * 10, "ok double, bad double"
    )
    with pytest.raises(ValueError, match="'bad' has no non-null"):
        rank_cuts_multi(allnull, ["ok", "bad"], num_buckets=4)
