"""Distributed PCA over an embedding column.

Dimensionality reduction is the standard step between embedding
generation and clustering/ANN at corpus scale (smaller vectors =
cheaper LSH/IVF, less shuffle). The decomposition itself is tiny —
d x d for d=64 — so the distributed work is exactly one pass:

1. per-partition Arrow batches accumulate ``(n, sum_x, X^T X)``
   partials (``mapInPandas`` + numpy — d*d floats per partition, the
   canonical tree-aggregation shape);
2. partials reduce through one distributed level of ``REDUCE_WIDTH``
   groups, then sum on the driver (bounded by the constant reduce
   width, not partition count) into the covariance matrix;
3. ``numpy.linalg.eigh`` on the d x d matrix gives the components —
   the same "collect a bounded model, broadcast it back" contract as
   the IVF quantizer (similarity.py);
4. projection is a broadcast matrix multiply back through
   ``mapInPandas``.

No step touches O(rows) driver memory and nothing shuffles the
vectors; the only full-data passes are the two Arrow-batched maps.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["fit_pca", "project_pca", "PCAModel"]


class PCAModel:
    """Mean vector + top-k components (rows of ``components``)."""

    def __init__(self, mean: np.ndarray, components: np.ndarray, explained: np.ndarray):
        self.mean = mean
        self.components = components  # (k, d)
        self.explained = explained  # (k,) fraction of total variance

    def transform_np(self, x: np.ndarray) -> np.ndarray:
        return (x - self.mean) @ self.components.T


#: Width of the distributed reduce level between the per-partition
#: partials and the driver combine: the driver reads at most this many
#: (n, s, xtx) rows no matter how many input partitions exist.
REDUCE_WIDTH = 16

#: Partition count up to which the driver collects per-partition
#: partials directly, skipping the distributed reduce level. Each
#: partial is ~(d² + d) doubles ≈ 33 KB at d=64, so 256 partials is
#: ~8.5 MB — comfortably model-sized — while the extra level costs a
#: shuffle plus a second Python stage (~0.5 s of fixed latency that
#: dominates small-corpus fits). The level still engages for genuinely
#: wide scans (a 100k-partition corpus would otherwise collect GBs).
DIRECT_COLLECT_MAX = 256


def fit_pca(df: DataFrame, k: int, vec_col: str = "embedding") -> PCAModel:
    """One-pass covariance accumulation + driver-side eigh."""
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("xtx", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches: Iterator) -> Iterator:
        import pandas as pd

        n, s, xtx = 0, None, None
        for pdf in batches:
            # NULL vectors can't contribute to the covariance and
            # np.array over a None-bearing column degrades to dtype
            # object (killing the whole fit): drop, don't error.
            pdf = pdf.dropna(subset=[vec_col])
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            xtx = g if xtx is None else xtx + g
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "xtx": [xtx.ravel().tolist()]})

    def combine(batches: Iterator) -> Iterator:
        import pandas as pd

        n, s, xtx = 0, None, None
        for pdf in batches:
            for _, row in pdf.iterrows():
                n += int(row["n"])
                sv = np.asarray(row["s"], dtype=np.float64)
                xv = np.asarray(row["xtx"], dtype=np.float64)
                s = sv if s is None else s + sv
                xtx = xv if xtx is None else xtx + xv
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "xtx": [xtx.tolist()]})

    # Tree aggregation, realized: per-partition partials reduce through
    # one distributed level of REDUCE_WIDTH groups before the driver
    # combine, so driver input is O(REDUCE_WIDTH · d²) regardless of
    # partition count (a 100k-partition scan would otherwise collect
    # GBs of 32 KB partial rows). The level is skipped up to
    # DIRECT_COLLECT_MAX partitions — those direct collects are still
    # model-sized and the skipped level saves a shuffle + a second
    # Python stage. Round-robin repartition sorts for determinism
    # under retries; residual float nondeterminism from in-group
    # summation order is ~1e-15 relative — callers needing
    # bit-identical reruns quantize downstream.
    partials_df = df.select(vec_col).mapInPandas(partials, schema)
    if partials_df.rdd.getNumPartitions() > DIRECT_COLLECT_MAX:
        partials_df = partials_df.repartition(REDUCE_WIDTH).mapInPandas(combine, schema)
    parts = partials_df.collect()
    if not parts:
        raise ValueError("empty input")
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    xtx = np.zeros((d, d))
    # Deterministic driver combine: sort partials before summing.
    for p in sorted(parts, key=lambda r: (r["n"], r["s"])):
        s += np.array(p["s"])
        xtx += np.array(p["xtx"]).reshape(d, d)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    # Sign convention: largest-|.| coordinate positive — makes the
    # components reproducible across eigh implementations.
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(vals.sum()) or 1.0
    return PCAModel(mean, comps, np.array([float(vals[o]) / total for o in order]))


def project_pca(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """Broadcast the (k, d) model and project every vector —
    Arrow-batched matrix multiply, schema-stable output."""
    mean = model.mean.copy()
    comps = model.components.copy()
    out_fields = [f for f in df.schema.fields if f.name != vec_col]
    schema = T.StructType(out_fields + [T.StructField(out_col, T.ArrayType(T.DoubleType()))])
    names = [f.name for f in out_fields]

    def proj(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])  # same drop rule as fit
            if len(pdf) == 0:
                # An emptied batch must be skipped, not yielded: an
                # empty list assignment creates a float64 column that
                # Arrow cannot convert to list<double>.
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            red = (x - mean) @ comps.T
            out = pdf[names].copy()
            out[out_col] = [row.tolist() for row in red]
            yield out

    return df.mapInPandas(proj, schema)
