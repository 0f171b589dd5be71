"""General k-means wrapper (operators/clustering_kmeans.py)."""

from __future__ import annotations

import numpy as np

from white_elephant_spark.operators.clustering_kmeans import kmeans_fit, kmeans_predict
from white_elephant_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"
K = 8


def test_fit_predict_partition_and_cluster_properties(spark):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    model = kmeans_fit(emb, K, iters=2)
    assert 1 <= len(model) <= K
    out = kmeans_predict(emb, model)
    rows = out.collect()
    assert len(rows) == n  # total partition: every vector assigned once
    cids = {cid for cid, _, _ in model}
    assert {r["cluster_id"] for r in rows} <= cids
    assert all(-1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9 for r in rows)


def test_deterministic_across_runs_and_partitioning(spark):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    a, b = (
        sorted(map(tuple, kmeans_predict(e, kmeans_fit(e, K)).collect()))
        for e in (emb.repartition(1), emb.repartition(7))
    )
    assert a == b  # exact integer means -> bit-identical model + assignment


def test_assignment_is_nearest_by_cosine(spark):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").limit(50)
    model = kmeans_fit(emb, 4, iters=1)
    got = {r["vec_id"]: (r["cluster_id"], r["cos_sim"]) for r in kmeans_predict(emb, model).collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for vid, v in vecs.items():
        best = max(
            ((cid, float(v @ np.array(c) / (np.linalg.norm(v) * np.linalg.norm(c)))) for cid, c, _ in model),
            key=lambda t: (t[1], -t[0]),
        )
        assert got[vid][0] == best[0], vid
        assert abs(got[vid][1] - best[1]) < 1e-6


def test_kmeans_on_pca_reduced_vectors(spark):
    """The literal pipeline composition: PCA-project the corpus to a
    reduced space, then k-means the reduced vectors — the registered
    embedding_cluster_map keeps k-means on raw vectors only because a
    reduced-space Lloyd isn't oracle-expressible (the eigenbasis isn't
    SQL-derivable); the composition itself must still work end to end
    and produce a non-degenerate segmentation."""
    from white_elephant_spark.operators.decomposition import fit_pca, project_pca

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    model = fit_pca(emb, k=16)
    red = project_pca(emb, model).withColumnRenamed("reduced", "embedding")
    out = kmeans_predict(red, kmeans_fit(red, k=4, iters=1, dim=16), dim=16)
    rows = out.collect()
    assert len(rows) == emb.count()  # every vector assigned
    clusters = {r["cluster_id"] for r in rows}
    assert 2 <= len(clusters) <= 4  # non-degenerate segmentation
    assert all(-1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9 for r in rows)


def test_fused_map_matches_separate_legs(spark):
    """kmeans_pca_map's one-pass output is bit-identical to the
    two-stage form it replaced: classify_by_centroid cos_sim/
    assignment and project_pca -> strict-fold squared norm."""
    from pyspark.sql import functions as F

    from white_elephant_spark.operators import decomposition as dc
    from white_elephant_spark.operators.clustering_kmeans import kmeans_pca_map

    emb = load_table(spark, SF, "embeddings").select("vec_id", "label", "embedding")
    model = kmeans_fit(emb, K, iters=1)
    pca = dc.fit_pca(emb, k=64)

    fused = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"], r["red_norm_q"])
        for r in kmeans_pca_map(emb, model, pca, dim=64).collect()
    }
    assigned = {
        r["vec_id"]: (r["cluster_id"], r["cos_sim"])
        for r in kmeans_predict(emb, model, dim=64).collect()
    }
    red = dc.project_pca(emb.select("vec_id", "embedding"), pca)
    norms = {
        r["vec_id"]: r["q"]
        for r in red.select(
            "vec_id",
            F.floor(
                F.aggregate(F.col("reduced"), F.lit(0.0), lambda a, x: a + x * x)
                * F.lit(10000.0)
            )
            .cast("long")
            .alias("q"),
        ).collect()
    }
    assert set(fused) == set(assigned)
    for vid, (cid, cos, q) in fused.items():
        assert assigned[vid] == (cid, cos)  # bit-identical, no tolerance
        assert norms[vid] == q


def test_fused_map_partitioning_invariant(spark):
    from white_elephant_spark.operators import decomposition as dc
    from white_elephant_spark.operators.clustering_kmeans import kmeans_pca_map

    emb = load_table(spark, SF, "embeddings").select("vec_id", "label", "embedding")
    model = kmeans_fit(emb, K, iters=1)
    pca = dc.fit_pca(emb, k=64)
    a = sorted(map(tuple, kmeans_pca_map(emb.repartition(1), model, pca).collect()))
    b = sorted(map(tuple, kmeans_pca_map(emb.repartition(9), model, pca).collect()))
    assert a == b
