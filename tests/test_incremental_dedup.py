"""Incremental (batch-vs-corpus) dedup: a MinHash probe of the corpus
signature state. Plan guards assert only equi-joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.operators import dedup

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "completely different corpus text about spark shuffles and joins"),
    (3, "a third document that talks about parquet row groups at length"),
]
BATCH = [
    (101, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (102, "the quick brown fox jumps over the lazy dog again and AGAIN"),  # near-dup of 1
    (103, "entirely novel content never seen in the corpus before now"),   # fresh
]


@pytest.fixture()
def frames(spark):
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(CORPUS, schema),
        spark.createDataFrame(BATCH, schema),
    )


def test_incremental_minhash_probes_corpus_state(frames):
    corpus, batch = frames
    sigs = dedup.minhash_signatures(corpus)  # the maintained state table
    matches = dedup.incremental_minhash(batch, sigs, threshold=0.5)
    got = {(r["id_new"], r["id_corpus"]) for r in matches.collect()}
    assert (101, 1) in got          # exact dup matches at est_sim 1.0
    assert (102, 1) in got          # near-dup caught
    assert all(idn != 103 for idn, _ in got)  # fresh doc matches nothing
    full = {r["id_new"]: r["est_sim"] for r in matches.collect()}
    assert full[101] == pytest.approx(1.0)


def test_incremental_joins_are_equi_only(frames):
    corpus, batch = frames
    sigs = dedup.minhash_signatures(corpus)
    plan = (
        dedup.incremental_minhash(batch, sigs, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
