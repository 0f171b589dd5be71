"""Benchmark-contamination detection: n-gram overlap between a corpus
and a held-out evaluation set.

The decontamination step every large-scale training pipeline runs
before training (the GPT-3/PaLM papers describe the same shape):
documents that share a high fraction of their n-grams with any
benchmark/eval document must be dropped, or downstream eval numbers
are meaningless. This is *not* dedup — the eval set is a fixed,
externally-given corpus, usually tiny next to the training corpus.

100 TB shape: the eval n-gram set is bounded (benchmarks are small —
millions of grams at most), so it ships to every executor as a
broadcast hash side; the training corpus streams through in ONE scan
(explode n-grams → broadcast left join → per-doc fraction). No
shuffle of the corpus side except the per-doc aggregation, which is
combiner-friendly. For eval sets too big to broadcast, the same plan
degrades gracefully to a shuffle hash join on the gram key — the code
path is identical, Catalyst picks the join strategy.

Everything is a JVM codegen expression with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident
from white_elephant_spark.functions.text import tokens
from white_elephant_spark.operators.dedup import sql_word_ngrams, word_ngrams


def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document contamination fraction against ``eval_docs``.

    Returns (doc_id, contam_frac): the fraction of the document's
    distinct word ``n``-grams that appear in ANY eval document.
    Documents with fewer than ``n`` tokens have no grams and are
    absent — callers left-join and coalesce to 0.0 (nothing to
    overlap means not contaminated).
    """
    # Gram identity travels as two xxhash64 lanes (16 bytes of longs),
    # not the gram string: the broadcast hash side shrinks ~3× (the
    # eval set ships to every executor) and the probe compares two
    # longs instead of a ~40-char string per gram. Lane 2 salts FIRST
    # (xxhash64(lit(1), g)) so the pair behaves as two different-seed
    # 64-bit hashes — ~G²/2¹²⁹ expected colliding pairs, zero at any
    # plausible corpus (same identity scheme, and the same collision
    # adjudication, as the interdoc/span gram digests in dedup.py /
    # spans.py). The membership fraction is a pure function of the
    # gram identity, so the oracle twin (string grams) hashes
    # identically.
    def _lanes(df_):
        return df_.select(
            "*",
            F.xxhash64(F.col("g")).alias("g1"),
            F.xxhash64(F.lit(1), F.col("g")).alias("g2"),
        ).drop("g")

    explode = f"explode({word_ngrams(tokens(ident(text_col)), n)}) AS g"
    grams = _lanes(docs.selectExpr(f"{ident(id_col)} AS id", explode))
    eval_grams = (
        _lanes(eval_docs.selectExpr(explode))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.join(F.broadcast(eval_grams), ["g1", "g2"], "left")
        .groupBy("id")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("contam_frac")
        )
        .select(F.col("id").alias(id_col), "contam_frac")
    )


def sql_ngram_contamination(
    docs_cte: str, eval_pred: str, n: int = 5, text_expr: str = "text"
) -> str:
    """DuckDB twin: CTE chain ending in ``contam`` (doc_id,
    contam_frac). ``eval_pred`` is the SQL predicate selecting eval
    rows within ``docs_cte`` (the eval set of the registered query is
    a deterministic slice of the same table)."""
    grams = sql_word_ngrams(text_expr, n)
    return f"""
cgrams AS (
  SELECT doc_id AS id, unnest({grams}) AS g FROM {docs_cte}
),
eval_grams AS (
  SELECT DISTINCT g
  FROM (SELECT unnest({grams}) AS g FROM {docs_cte} WHERE {eval_pred})
),
contam AS (
  SELECT id AS doc_id,
         CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS contam_frac
  FROM cgrams LEFT JOIN eval_grams e USING (g)
  GROUP BY id
)
"""
