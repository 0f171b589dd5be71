"""The multimodal codec boundary: the decode stub refuses codecs it
cannot decode, and the fused feature/frame pass equals the composed
operators."""

from __future__ import annotations

import pytest

from white_elephant_spark.operators import multimodal as mm


def test_stub_still_guards_unavailable_codecs():
    with pytest.raises(NotImplementedError):
        mm.decode_stub(b"x", codec="jpeg")


def test_feature_frames_fusion_equivalence(spark):
    """extract_feature_frames == extract_features ⋈ resize-digest ⋈
    sample_frames, row for row — the one-pass fusion the registered
    multimodal_pipeline runs must be bit-identical to the composed
    operators it replaced. Payload sizes straddle every frame-count
    edge: shorter than one window (still 1 frame), exact multiples,
    one-past, and past the max_frames cap."""
    import hashlib

    from pyspark.sql import functions as F

    sizes = [0, 1, 255, 256, 257, 512, 2048, 2049, 4096]
    rows = [
        (i, bytes((i + j) % 251 for j in range(n)))
        for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    composed = (
        mm.extract_features(df)
        .join(
            mm.resize_images(df, width=16, height=12).select(
                "doc_id", F.md5(F.col("payload")).alias("resized_digest")
            ),
            "doc_id",
        )
        .join(mm.sample_frames(df), "doc_id")
        .select(
            "doc_id", "byte_len", "digest", "fake_width", "fake_height",
            "resized_digest", "frame_idx", "frame",
        )
    )
    fused = mm.extract_feature_frames(df, width=16, height=12)
    key = lambda r: (r["doc_id"], r["frame_idx"])  # noqa: E731
    got = sorted(map(tuple, fused.collect()), key=lambda t: (t[0], t[6]))
    want = sorted(map(tuple, composed.collect()), key=lambda t: (t[0], t[6]))
    assert got == want
    # spot-check the kernels feeding both paths agree with hashlib
    r0 = got[0]
    assert r0[2] == hashlib.md5(rows[0][1]).hexdigest()
    # zero joins / zero exchanges in the fused plan
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
