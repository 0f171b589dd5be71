"""Property tests for the deterministic sketches: HLL error bound,
count-min never-underestimates, Bloom never-false-negative."""

from __future__ import annotations

from pyspark.sql import functions as F

from white_elephant_spark.operators import sketches


def _hll(vals, p: int = 8):
    """(global row, {group: row}) the way sketch_estimates builds them:
    one per-group register state, estimated per group and, rolled up
    by register, globally."""
    regs_by = sketches.hll_registers_by(vals, "g", "v", p)
    regs = regs_by.groupBy("register").agg(F.max("max_rank").alias("max_rank"))
    by = {r.grp: r for r in sketches.hll_estimate_by_from(regs_by, p).collect()}
    return sketches.hll_estimate_from(regs, p).collect()[0], by


def test_hll_error_within_bound(spark):
    # p=8 -> typical relative error ~1.04/sqrt(256) = 6.5%; assert a
    # loose 3x bound on this fixed corpus (deterministic, not flaky).
    vals = spark.range(0, 5000).select(F.col("id").alias("v"), (F.col("id") % 2).alias("g"))
    row, by = _hll(vals)
    assert abs(row.hll_estimate - 5000) / 5000 < 0.20
    assert row.n_registers <= 256
    assert sorted(by) == [0, 1]
    assert all(abs(r.hll_estimate - 2500) / 2500 < 0.20 and r.n_registers <= 256 for r in by.values())


def test_hll_partitioning_invariant(spark):
    def est(parts):
        vals = spark.range(0, 3000).repartition(parts)
        return _hll(vals.select(F.col("id").alias("v"), (F.col("id") % 3).alias("g")))

    (a, a_by), (b, b_by) = est(1), est(32)
    assert a.hll_estimate == b.hll_estimate  # bit-identical, not approx
    assert {g: r.hll_estimate for g, r in a_by.items()} == {g: r.hll_estimate for g, r in b_by.items()}


def test_cms_never_underestimates(spark):
    vals = spark.createDataFrame(
        [(f"k{i % 10}",) for i in range(1000)], "v string"
    )
    sketch = sketches.cms_table(vals, "v", d=4, w=64)
    keys = vals.distinct()
    est = {r.key: r.est for r in sketches.cms_estimate(sketch, keys, "v").collect()}
    true = {r.v: r["count"] for r in vals.groupBy("v").count().collect()}
    assert set(est) == set(true)
    for k in true:
        assert est[k] >= true[k]  # CMS property: overestimate only


def test_bloom_no_false_negatives(spark):
    members = spark.range(0, 200).select(F.col("id").alias("v"))
    bits = sketches.bloom_bits(members, "v", m=2048, k=3)
    probe = spark.range(0, 1000).select(F.col("id").alias("v"))
    out = sketches.bloom_probe(probe, bits, "v", m=2048, k=3).collect()
    maybe = {r.v for r in out if r.might_contain}
    assert set(range(200)) <= maybe          # every member flagged
    assert len(maybe - set(range(200))) < 200  # FP rate sane
