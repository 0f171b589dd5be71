"""SemDeDup-style semantic dedup (similarity.semantic_dedup):
cluster-blocked sign-sketch candidates -> exact cosine verify ->
connected components -> one representative per semantic group."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.operators.similarity import neardup_pairs_lsh, semantic_dedup

DIM = 16


def _unit(seed: int) -> list[float]:
    import hashlib

    vals = [
        (int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16) / 0x7FFFFFFF) - 1.0
        for i in range(DIM)
    ]
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def _mix(a, b, t):
    return [x * (1 - t) + y * t for x, y in zip(a, b)]


@pytest.fixture()
def corpus(spark):
    """3 semantic groups (tight cones around distinct directions) +
    isolated singles."""
    rows = []
    base = [_unit(s) for s in (1, 2, 3)]
    vid = 0
    for g, b in enumerate(base):
        probe = _unit(100 + g)
        for j in range(4):  # cosine to b stays > 0.99
            rows.append((vid, [float(x) for x in _mix(b, probe, 0.02 * j)]))
            vid += 1
    for s in (50, 60, 70):  # singletons, far from everything
        rows.append((vid, [float(x) for x in _unit(s)]))
        vid += 1
    return spark.createDataFrame(rows, f"vec_id long, embedding array<float>")


def test_semantic_groups_get_one_representative(spark, corpus):
    out = {r["id"]: (r["component"], r["keep"]) for r in
           semantic_dedup(corpus, threshold=0.97, k_clusters=4, dim=DIM).collect()}
    assert len(out) == corpus.count()  # total function: every id labeled
    # each planted group collapses to component = its min id, one keeper
    for lo in (0, 4, 8):
        comps = {out[i][0] for i in range(lo, lo + 4)}
        assert comps == {lo}
        keeps = [i for i in range(lo, lo + 4) if out[i][1]]
        assert keeps == [lo]
    # singletons keep themselves
    for i in (12, 13, 14):
        assert out[i] == (i, True)


def test_block_col_prunes_cross_block_pairs(spark):
    # identical vectors in DIFFERENT blocks must not pair when blocked
    v = [float(x) for x in _unit(9)]
    df = spark.createDataFrame(
        [(1, v, 0), (2, v, 1), (3, v, 0)],
        "vec_id long, embedding array<float>, blk int",
    )
    blocked = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_lsh(
            df, threshold=0.999, dim=DIM, planes=4, tables=2, block_col="blk"
        ).collect()
    }
    assert blocked == {(1, 3)}
    unblocked = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_lsh(
            df, threshold=0.999, dim=DIM, planes=4, tables=2
        ).collect()
    }
    assert unblocked == {(1, 2), (1, 3), (2, 3)}
