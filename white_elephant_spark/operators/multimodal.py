"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns processed by
Arrow-batched ``mapInPandas`` stages — the pattern a 100 TB multimodal
corpus needs (decode/resize/frame-sample near the data, schema-stable
outputs, no row-at-a-time Python).

Compressed-codec libraries (PIL/ffmpeg/librosa) are NOT available in
this environment, so the default decode kernel is stubbed:
``decode_stub`` produces deterministic pseudo-metadata from the bytes
and raises ``NotImplementedError`` when an unavailable codec is
requested. A real codec would replace ``decode_stub`` alone: the
Spark-side plumbing (schema, batch iteration, partitioning) stays.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
    ]
)


def decode_stub(payload: bytes, codec: str = "fake") -> dict[str, Any]:
    """Deterministic stand-in for an image decode.

    A real deployment swaps this for PIL/torchvision; everything else
    in the operator (batching, schema, partitioning) stays identical.
    """
    if codec != "fake":
        raise NotImplementedError(
            f"codec {codec!r} needs an image library not present in this environment"
        )
    n = len(payload)
    return {
        "byte_len": n,
        "digest": hashlib.md5(payload).hexdigest(),
        "fake_width": 1 + n % 64,
        "fake_height": 1 + n % 48,
    }


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", codec: str = "fake"
) -> DataFrame:
    """Arrow-batched feature extraction over a binary column.

    ``mapInPandas`` keeps the Python boundary at batch granularity
    (one Arrow record batch per call), the only viable shape for
    binary decode at scale — never a row-at-a-time UDF.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_stub(b, codec) for b in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Adapter for the test corpus: UTF-8 bytes of ``text`` stand in
    for an image payload column."""
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: truncates/pads the
    payload to width*height bytes. A real deployment decodes, resizes
    (PIL/torchvision), re-encodes — same signature, same schema."""
    want = width * height
    return payload[:want].ljust(want, b"\0")


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Batch resize over a binary column. The output keeps the binary
    payload (the transformed artifact) plus its typed metadata, so
    downstream stages can chain without re-decoding."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "payload": [resize_stub(b, width, height) for b in pdf[payload_col]],
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, RESIZE_SCHEMA)


FEATURE_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
        T.StructField("resized_digest", T.StringType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def extract_feature_frames(
    df: DataFrame,
    width: int,
    height: int,
    every_n_bytes: int = 256,
    max_frames: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    codec: str = "fake",
) -> DataFrame:
    """One-pass fusion of :func:`extract_features`, the resize digest
    (md5 of :func:`resize_stub`'s output) and :func:`sample_frames`.

    Composing the three operators as separate ``mapInPandas`` stages
    joined back on ``id_col`` ships the binary payload across the
    Python boundary three times and then shuffles the derived columns
    through two joins — at corpus scale that is two exchanges carrying
    frame/digest payloads purely to reunite rows that were never apart
    (the guide §8 anti-pattern: heavy opaque bytes moved more than
    once to attach decisions computable in one place). Here every
    per-document feature is computed next to the payload in a single
    batch pass and emitted on each sampled frame row, so the plan is
    scan → one MapInPandas → project: zero joins, zero exchanges.

    The kernels are the SAME functions the standalone operators use
    (:func:`decode_stub`, :func:`resize_stub`, the frame-window
    slice), so outputs are bit-identical to the composed form — pinned
    by ``tests/test_multimodal_codecs.py``'s fusion-equivalence test.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[Any] = []
            cols: dict[str, list[Any]] = {
                "byte_len": [], "digest": [], "fake_width": [],
                "fake_height": [], "resized_digest": [], "frame_idx": [],
                "frame": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                feats = decode_stub(payload, codec)
                resized_digest = hashlib.md5(
                    resize_stub(payload, width, height)
                ).hexdigest()
                n = min(max_frames, max(1, len(payload) // every_n_bytes))
                for i in range(n):
                    ids.append(doc_id)
                    cols["byte_len"].append(feats["byte_len"])
                    cols["digest"].append(feats["digest"])
                    cols["fake_width"].append(feats["fake_width"])
                    cols["fake_height"].append(feats["fake_height"])
                    cols["resized_digest"].append(resized_digest)
                    cols["frame_idx"].append(i)
                    cols["frame"].append(
                        payload[i * every_n_bytes : (i + 1) * every_n_bytes]
                    )
            yield pd.DataFrame({"doc_id": ids, **cols})

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_FRAME_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 256,
    max_frames: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling for video-shaped payloads: one output row per
    sampled frame (a 1→N mapInPandas explode — the UDTF shape). The
    stub slices fixed-stride byte windows; a real deployment seeks
    keyframes with ffmpeg at the same batch boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                n = min(max_frames, max(1, len(payload) // every_n_bytes))
                for i in range(n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(payload[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, payload_col).mapInPandas(run, FRAME_SCHEMA)
