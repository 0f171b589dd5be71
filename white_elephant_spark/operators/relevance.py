"""Term relevance: TF-IDF and BM25 over the document corpus.

Spark-first shapes for corpus scale:

- The term index (explode → groupBy) shuffles narrow (doc_id, term)
  rows once; document frequency aggregates from the term index, not
  a second scan.
- Corpus-level scalars (N, average doc length) are 1-row aggregates
  attached by ``crossJoin(broadcast(...))`` — fully declarative, no
  driver round-trip, so the whole query stays one Catalyst plan.
- Scores avoid transcendental functions: the classic ``log`` idf is
  replaced by the monotone rational form ``(N+1)/(df+1)`` (TF-IDF)
  and the BM25 idf numerator/denominator ratio without the log.
  Rankings are identical (the transform is order-preserving in df)
  and every arithmetic step is a rational function evaluated in a
  fixed order, so Spark and DuckDB produce bit-identical doubles —
  log/ln would differ in the last ulp between libm implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from white_elephant_spark.functions import text as tx
from white_elephant_spark.functions.compat import dsum, sql_dsum
from white_elephant_spark.functions.sqltext import ident


def term_index(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — term frequency per document."""
    return (
        docs.selectExpr(
            f"{ident(id_col)} AS doc_id", f"explode({tx.tokens(ident(text_col))}) AS term"
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    idx: DataFrame | None = None,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by rational-idf TF-IDF
    score ``tf · (N+1)/(df+1)``; ties break lexicographically.

    ``idx`` optionally supplies a prebuilt :func:`term_index` so
    several relevance measures share ONE (doc, term) shuffle — the
    dominant cost of any scoring pass at corpus scale. ``dfreq``
    optionally supplies a prebuilt (term, df) table (a composed
    caller computes df and the corpus term count in one term-keyed
    aggregation instead of one per measure)."""
    if idx is None:
        idx = term_index(docs, id_col, text_col)
    if dfreq is None:
        dfreq = idx.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    scored = (
        idx.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * ((F.col("n_docs") + F.lit(1)).cast("double") / (F.col("df") + F.lit(1)))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.col("rank").cast("long").alias("rank"), "score")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    idx: DataFrame | None = None,
    lens: DataFrame | None = None,
) -> DataFrame:
    """BM25 relevance of every matching document to a bag-of-terms
    query, log-free idf ``(N - df + 0.5)/(df + 0.5)`` (rank-equivalent
    to the standard form). Returns (doc_id, bm25) for docs containing
    at least one query term.

    With a prebuilt ``idx`` (see :func:`term_index`), document length
    is recovered as ``SUM(tf)`` — ``tokens`` is a plain split that
    keeps empty strings, so the identity ``dl = Σ tf`` is exact and
    the text is never re-tokenized."""
    if idx is None:
        base = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.expr(tx.token_count(tx.tokens(ident(text_col)))).alias("dl"),
        )
        full_idx = term_index(base, "doc_id", "text")
        lens = base.select("doc_id", "dl")
        scal = base.agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
    else:
        full_idx = idx
        if lens is None:
            lens = idx.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
        scal = lens.agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
    fidx = full_idx.filter(F.col("term").isin(query_terms))
    dfreq = fidx.groupBy("term").agg(F.count("*").alias("df"))
    return (
        fidx.join(dfreq, "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            (
                (
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    (F.col("tf") * F.lit(k1 + 1.0))
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0)
                            - F.lit(b)
                            + F.lit(b) * (F.col("dl") / F.col("avgdl"))
                        )
                    )
                )
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        # DECIMAL-routed sum: per-term double scores are exact in both
        # engines, but their summation order is not — see compat.py.
        .agg(dsum("term_score").alias("bm25"))
    )


def unigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    idx: DataFrame | None = None,
    tfreq: DataFrame | None = None,
    lens: DataFrame | None = None,
    tot: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, surprisal) — per-document mean inverse unigram
    probability: ``(1/dl) · Σ_terms tf(w) · N/c(w)`` with N the corpus
    token count and c(w) the term's corpus count.

    The log-free twin of unigram-LM perplexity filtering (the KenLM
    gate every large-scale curation pipeline runs): a doc of
    corpus-typical words scores near the vocabulary-weighted mean,
    rare-token-heavy docs (OCR noise, codes, mojibake) score high,
    boilerplate scores low. Rational arithmetic instead of log-probs
    so the score is bit-reproducible in any engine (ln() last-ulp
    behavior is libm-specific); rank order equals that of perplexity
    under a unigram model. Per-doc sums are DECIMAL-routed
    (functions/compat.py) — order-independent, cluster-reproducible.

    Shares the one (doc, term) shuffle with TF-IDF/BM25 via ``idx``;
    ``tfreq``/``lens``/``tot`` let a composed caller hand in the
    term-keyed and doc-keyed aggregates it already computed for the
    other measures (pure reassociations — Σtf over terms == Σtf over
    the index — so the scores are bit-identical).
    """
    if idx is None:
        idx = term_index(docs, id_col, text_col)
    if tfreq is None:
        tfreq = idx.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))
    if lens is None:
        lens = idx.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    if tot is None:
        tot = idx.agg(F.sum("tf").cast("long").alias("n_tok"))
    per_term = (
        idx.join(tfreq, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                F.col("tf").cast("double")
                * (F.col("n_tok").cast("double") / F.col("ctf"))
            ).alias("inv_p"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(dsum("inv_p").alias("s"))
        .join(lens, "doc_id")
        .select("doc_id", (F.col("s") / F.col("dl")).alias("surprisal"))
    )


def sql_unigram_surprisal(idx_cte: str = "idx") -> str:
    """DuckDB twin over a term-index CTE (doc_id, term, tf): CTE chain
    ending in ``sup`` (doc_id, surprisal)."""
    return f"""
u_tfreq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM {idx_cte} GROUP BY 1),
u_ntok AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_tok FROM {idx_cte}),
u_sdoc AS (
  SELECT doc_id,
         {sql_dsum('CAST(tf AS DOUBLE) * (CAST(n_tok AS DOUBLE) / ctf)')} AS s
  FROM {idx_cte} JOIN u_tfreq USING (term) CROSS JOIN u_ntok
  GROUP BY doc_id
),
u_dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM {idx_cte} GROUP BY 1),
sup AS (SELECT doc_id, s / dl AS surprisal FROM u_sdoc JOIN u_dl USING (doc_id))
"""
