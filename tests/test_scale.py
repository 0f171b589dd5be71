"""Scale-path physical properties: bucketed joins plan without a
shuffle; salted rollups are exact and don't leak the salt column."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.operators.skew import salted_rollup
from white_elephant_spark.sources.bucketing import bucketed_pair


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture()
def bucketed(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    right = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("k2"), F.lit(1.5).alias("v")
    )
    return bucketed_pair(
        spark, left, right, "k", "k2", num_buckets=4,
        tag="test", base_dir=str(tmp_path),
    )


def test_bucketed_join_has_no_exchange(spark, bucketed):
    l, r = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = l.join(r, l["k"] == r["k2"])
        plan = _formatted_plan(joined)
        # the join reads co-located buckets: no Exchange anywhere
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        agg = joined.groupBy("grp").agg(F.sum("v").alias("s"))
        rows = {r2["grp"]: r2["s"] for r2 in agg.collect()}
        assert rows[0] == pytest.approx(5 * 200 * 1.5)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_tables_report_bucket_spec(spark, bucketed):
    desc = spark.sql("DESCRIBE EXTENDED we_bkt_test_l").collect()
    kv = {r["col_name"]: r["data_type"] for r in desc}
    assert kv.get("Num Buckets") == "4"
    assert "k" in kv.get("Bucket Columns", "")


def test_salted_rollup_matches_plain_groupby(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).cast("string").alias("key"),
        (F.col("id") * 0.25).alias("value"),
        F.col("id").alias("cnt_src"),
    )
    salted = salted_rollup(
        df, ["key"], dsum_cols=["value"], isum_cols=["cnt_src"], n_salt=16
    )
    assert set(salted.columns) == {"key", "sum_value", "cnt_src", "n"}
    plain = df.groupBy("key").agg(
        F.sum("value").alias("sum_value"),
        F.sum("cnt_src").alias("cnt_src"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {r["key"]: (r["sum_value"], r["cnt_src"], r["n"]) for r in salted.collect()}
    want = {r["key"]: (r["sum_value"], r["cnt_src"], r["n"]) for r in plain.collect()}
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0])
        assert got[k][1:] == want[k][1:]


def test_salted_rollup_spreads_hot_key(spark):
    # one key owns 99% of rows; the partial phase must see >1 shard
    df = spark.range(0, 5_000).select(
        F.when(F.col("id") < 4_950, "hot").otherwise("cold").alias("key"),
        F.lit(1.0).alias("value"),
    )
    from white_elephant_spark.operators.skew import _SALT, with_salt

    shards = (
        with_salt(df, 16).filter(F.col("key") == "hot").select(_SALT).distinct().count()
    )
    assert shards > 8


def test_asof_join_single_shuffle(spark):
    # union+window as-of: both inputs shuffle ONCE together on the key
    # — no per-key loop, no range join, no broadcast requirement.
    from white_elephant_spark.operators.temporal import asof_join

    left = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("t"), F.col("id").alias("payload")
    )
    right = spark.range(0, 200).select(
        (F.col("id") % 50).alias("k"), (F.col("id") * 7).alias("rt"), F.lit(1.0).alias("state")
    )
    out = asof_join(left, right, key="k", left_time="t", right_time="rt")
    plan = _formatted_plan(out)
    # count Exchange *nodes* (detail headers), not string occurrences
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert out.count() == 1000  # every left row survives


def test_bloom_probe_is_map_side(spark):
    # probe side must not shuffle: one broadcast row + filter.
    from white_elephant_spark.operators.sketches import bloom_bits, bloom_probe

    members = spark.range(0, 100).select(F.col("id").alias("v"))
    bits = bloom_bits(members, "v").localCheckpoint(eager=True)  # freeze build side
    probe = spark.range(0, 10_000).select(F.col("id").alias("v"))
    out = bloom_probe(probe, bits, "v")
    plan = _formatted_plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hash-partition exchange of the probe side
    assert "Exchange hashpartitioning" not in plan


def test_scd2_single_shuffle(spark):
    # change-lag, running segment counter, groupBy(key, seg) and the
    # validity lead must ALL reuse one hash partitioning on the key.
    import re

    from white_elephant_spark.operators.temporal import scd2_segments

    rows = spark.range(0, 2000).select(
        (F.col("id") % 20).alias("user_id"),
        F.timestamp_millis(F.col("id") * 60000).cast("timestamp_ntz").alias("ts"),
        ((F.col("id") / 100).cast("long") % 3).cast("string").alias("event_type"),
    )
    out = scd2_segments(rows)
    plan = _formatted_plan(out)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert out.count() > 0


def test_sq8_prefilter_plan_is_collect_free_and_broadcast(spark):
    """sq8 ANN's scale contract: the quantization scale is an in-plan
    broadcast aggregate (never a driver collect), and the prefilter
    joins are broadcast — the corpus side streams."""
    from white_elephant_spark.operators.similarity import sq8_cosine_topk

    vecs = [(i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") % 50 == 0)
    plan = _formatted_plan(sq8_cosine_topk(df, q, dim=2, k=3))
    # scale + query side arrive by broadcast; corpus is never collected
    assert "BroadcastExchange" in plan
    # integer prefilter feeds a windowed top-m, then exact re-rank:
    # exactly two Window operators (prerank + rank; the formatted tree
    # names each node once as "Window (<id>)")
    assert plan.count("Window (") == 2


def test_contamination_eval_side_is_broadcast(spark):
    """Decontamination's scale contract: the corpus side is never on
    the build side — the (bounded) eval gram set broadcasts."""
    from white_elephant_spark.operators.contamination import ngram_contamination

    docs = spark.createDataFrame(
        [(i, "w" + " w".join(str(j) for j in range(i % 7 + 6))) for i in range(100)],
        "doc_id long, text string",
    )
    ev = docs.filter(F.col("doc_id") % 11 == 0)
    plan = _formatted_plan(ngram_contamination(docs, ev, n=5))
    assert "BroadcastHashJoin" in plan


def test_dedup_edge_growth_is_subquadratic(spark):
    """Round-2 regression guard: the simhash pair set grew ×98 for a
    ×10 corpus (superlinear — quadratic in duplicate mass). With the
    fingerprint collapse, edges must grow at most ~linearly with the
    corpus."""
    from white_elephant_spark.operators import dedup
    from white_elephant_spark.sources.catalog import load_table

    def edge_count(sf_dir: str) -> tuple[int, int]:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        copies = docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        docs = docs.unionAll(copies)
        fps = dedup.simhash64(docs)
        groups = (
            fps.groupBy("simhash").agg(F.min("id").alias("fid"))
            .select(F.col("fid").alias("id"), "simhash")
        )
        pairs = dedup.simhash_neardup_pairs(groups, max_hamming=3, bands=8)
        return docs.count(), pairs.count()

    n_small, e_small = edge_count("/root/testdata/sf0.001")
    n_big, e_big = edge_count("/root/testdata/sf0.01")
    doc_growth = n_big / n_small
    edge_growth = (e_big + 1) / (e_small + 1)
    # quadratic would be ~doc_growth²; allow generous linear headroom
    assert edge_growth <= 3 * doc_growth, (n_small, e_small, n_big, e_big)


def test_neardup_lsh_candidates_subquadratic(spark):
    """Sign-sketch-blocked near-dup candidate volume grows ~with the
    corpus, not quadratically (the label-blocked form was Σ|label|²:
    100× pairs on 10× data). Also: the plan is equi-join only."""
    from white_elephant_spark.operators import similarity
    from white_elephant_spark.sources.catalog import load_table

    def cand_count(sf_dir: str) -> tuple[int, int]:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        enc = similarity.encoded_buckets_arrow(64, 16, 4)
        keyed = emb.select(
            F.col("vec_id").alias("id"), F.explode(enc(F.col("embedding"))).alias("bk")
        )
        cand = (
            keyed.alias("a")
            .join(
                keyed.alias("b"),
                (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
            )
            .select("a.id", "b.id")
            .distinct()
        )
        return emb.count(), cand.count()

    n_small, c_small = cand_count("/root/testdata/sf0.001")
    n_big, c_big = cand_count("/root/testdata/sf0.01")
    growth = (c_big + 1) / (c_small + 1)
    assert growth <= 3 * (n_big / n_small), (n_small, c_small, n_big, c_big)

    from white_elephant_spark.operators.similarity import neardup_pairs_lsh

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    plan = neardup_pairs_lsh(emb, 0.999, dim=64)._jdf.queryExecution().explainString(
        emb._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_pair_reuse_validates_spec(spark, tmp_path):
    # Same tag, different key or bucket count: reuse must NOT hand
    # back the old tables (they'd be co-located on the wrong key and
    # the join would silently full-shuffle). Spec comes from the
    # catalog, so a spec change forces the rebuild.
    from white_elephant_spark.sources.bucketing import _bucket_spec

    left = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp")
    )
    right = spark.range(0, 100).select(F.col("id").alias("k2"), F.lit(1.0).alias("v"))
    bucketed_pair(
        spark, left, right, "k", "k2", num_buckets=4,
        tag="spec", base_dir=str(tmp_path / "a"),
    )
    assert _bucket_spec(spark, "we_bkt_spec_l") == (("k",), 4)
    # same columns, different spec: must rebuild, not reuse
    bucketed_pair(
        spark, left, right, "grp", "k2", num_buckets=8,
        tag="spec", base_dir=str(tmp_path / "b"),
    )
    assert _bucket_spec(spark, "we_bkt_spec_l") == (("grp",), 8)
    assert _bucket_spec(spark, "we_bkt_spec_r") == (("k2",), 8)
    # identical spec: reuse returns the catalog tables untouched
    l2, _r2 = bucketed_pair(
        spark, left, right, "grp", "k2", num_buckets=8,
        tag="spec", base_dir=str(tmp_path / "c"),
    )
    assert _bucket_spec(spark, "we_bkt_spec_l") == (("grp",), 8)
