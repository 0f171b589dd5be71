"""Seeded text and embedding corpus for the registered-query workload.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the
schemas the engine's query registry reads (``sources.catalog``):

- documents: ``doc_id`` (int64), ``text``, ``lang``, ``source``,
  ``n_chars`` (int64). Texts are 10-99 words drawn from a small
  vocabulary; about 5% of the documents are an earlier document with a
  ``dup`` token appended, so the near-duplicate operators find pairs.
- embeddings: ``vec_id`` (int64), ``embedding`` (64 float32, unit
  norm) and ``label`` (int32, 10 classes); each vector leans towards
  its class centroid (mean cosine to it about 0.14).

The same seed gives the same files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
SOURCES = 20
DIM = 64
LABELS = 10
NEAR_DUP_SHARE = 0.05
CENTROID_PULL = 0.14


def documents(seed: int, n: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n),
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    gen = np.random.default_rng(seed)
    centroids = gen.normal(size=(LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = gen.integers(0, LABELS, size=n)
    vecs = CENTROID_PULL * centroids[labels] + gen.normal(size=(n, DIM)) / np.sqrt(DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
