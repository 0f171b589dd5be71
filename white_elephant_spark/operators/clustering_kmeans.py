"""General k-means over an embedding column — the user-facing wrapper
around the IVF quantizer's exact distributed Lloyd machinery.

``operators/similarity.py`` already contains everything hard:
deterministic hash-sampled seeding (bounded driver collect),
Arrow-batched assignment against broadcast centroids, and exact
integer-micro-unit cell means (summation-order-independent, so a
cluster re-run reproduces the model bit-for-bit). This module exposes
it as a plain fit/predict pair for corpus segmentation use —
clustering docs by embedding before stratified sampling, building
coarse shards for ANN, topic-bucketing a corpus.

Scale contract: per iteration, one distributed assignment pass plus
one aggregation; only k centroid rows ever reach the driver. Nothing
depends on corpus size except the two linear passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.operators import similarity

__all__ = ["kmeans_fit", "kmeans_predict", "kmeans_pca_map"]


def kmeans_fit(
    df: DataFrame,
    k: int,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Fit k centroids: deterministic seeds + ``iters`` exact Lloyd
    steps. Returns [(centroid_id, vector, norm)] — centroid ids are
    the seed vectors' source ids (stable across runs)."""
    return similarity.ivf_refined_centroids(
        df, ncentroids=k, dim=dim, iters=iters, id_col=id_col, vec_col=vec_col
    )


def kmeans_predict(
    df: DataFrame,
    model: list[tuple[int, list[float], float]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine.
    Returns (id, cluster_id, cos_sim) — one Arrow-batched map over a
    broadcast model, no shuffle."""
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(cid, vec) for cid, vec, _ in model],
        "label bigint, centroid array<double>",
    )
    out = similarity.classify_by_centroid(
        df.withColumn("__lbl", F.lit(None).cast("string")),
        cents,
        id_col=id_col,
        label_col="__lbl",
        vec_col=vec_col,
        dim=dim,
    )
    return out.select(
        F.col("vec_id").alias(id_col),
        F.col("pred_label").alias("cluster_id"),
        "cos_sim",
    )


def kmeans_pca_map(
    df: DataFrame,
    model: list[tuple[int, list[float], float]],
    pca_model,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = ("label",),
    norm_scale: int = 10_000,
) -> DataFrame:
    """Fused corpus-segmentation kernel: k-means assignment AND the
    PCA projection norm in ONE Arrow-batched pass over one embeddings
    scan — (id, *passthrough, cluster_id, cos_sim, red_norm_q).

    Both legs are map-side computations against broadcast models (k
    centroids + a (k, d) eigenbasis), so running them as separate
    stages rejoined on the id (the round-4 plan) buys nothing but a
    full-width shuffle and a second corpus scan. The fused kernel
    reproduces each leg's values bit-for-bit:

    - assignment: the strict left-fold cosine of
      :func:`~white_elephant_spark.operators.similarity.centroid_ranking_arrow`
      (element-order accumulation, ``dot / (‖v‖·‖c‖)``, ties to the
      lowest centroid id) — identical to the expression-form
      :func:`~white_elephant_spark.operators.similarity.classify_by_centroid`
      that :func:`kmeans_predict` wraps;
    - norm: numpy ``(x-μ)@Cᵀ`` exactly as
      :func:`~white_elephant_spark.operators.decomposition.project_pca`,
      then an element-order left fold of squares — the op sequence of
      the ``F.aggregate(reduced, 0.0, acc + x*x)`` column it replaces
      — quantized ``floor(‖·‖²·norm_scale)``.
    """
    import numpy as np

    from pyspark.sql import types as T

    cids = np.array([c[0] for c in model], dtype=np.int64)
    cmat = np.array([c[1] for c in model], dtype=np.float64).T  # (dim, k)
    cnorms = np.array([c[2] for c in model], dtype=np.float64)
    mean = pca_model.mean.copy()
    comps = pca_model.components.copy()

    src = df.select(id_col, *passthrough, vec_col)
    by_name = {f.name: f for f in src.schema.fields}
    schema = T.StructType(
        [by_name[id_col]]
        + [by_name[c] for c in passthrough]
        + [
            T.StructField("cluster_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("red_norm_q", T.LongType()),
        ]
    )
    names = [id_col, *passthrough]

    def kern(batches):
        for pdf in batches:
            # NULL vectors degrade the Arrow batch to dtype object and
            # kill the kernel in numpy: drop, don't error (same rule
            # as the PCA boundary in decomposition.py).
            pdf = pdf.dropna(subset=[vec_col])
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = x.shape[0]
            dots = np.zeros((n, cids.shape[0]), dtype=np.float64)
            vv = np.zeros(n, dtype=np.float64)
            for i in range(dim):  # strict left fold, element order
                col = x[:, i]
                dots += col[:, None] * cmat[i]
                vv += col * col
            cos = dots / (np.sqrt(vv)[:, None] * cnorms)
            order = np.lexsort((np.broadcast_to(cids, cos.shape), -cos))
            top = order[:, 0]
            red = (x - mean) @ comps.T
            acc = np.zeros(n, dtype=np.float64)
            for j in range(red.shape[1]):  # strict left fold again
                c = red[:, j]
                acc = acc + c * c
            out = pdf[names].copy()
            out["cluster_id"] = cids[top]
            out["cos_sim"] = cos[np.arange(n), top]
            out["red_norm_q"] = np.floor(acc * float(norm_scale)).astype(np.int64)
            yield out

    return src.mapInPandas(kern, schema)
