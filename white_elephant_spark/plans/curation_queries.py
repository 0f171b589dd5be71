"""Corpus-curation queries: deterministic sampling, leakage-safe
splitting, PII scrubbing, term relevance, sequence packing, and the
composed keep/drop curation pass — the decision layer of a
training-data pipeline, downstream of the dedup/quality operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions import text as tx
from white_elephant_spark.operators import (
    clustering,
    contamination,
    dedup,
    packing,
    relevance,
    sampling,
    spans,
)
from white_elephant_spark.plans.registry import register
from white_elephant_spark.plans.text_queries import _DOCS_COPIES_SQL, _docs_with_copies
from white_elephant_spark.sources.catalog import load_table
from white_elephant_spark.session import persist_reuse

_SAMPLE_RATES = {"en": 60, "zh": 20}


@register(
    "leakage_safe_split",
    oracle=f"""
WITH RECURSIVE {_DOCS_COPIES_SQL.strip()},
{clustering.sql_fingerprint_clusters(
    'docs',
    dedup.sql_simhash64('text', 'doc_id').replace('FROM documents', 'FROM docs'),
).strip()}
SELECT doc_id, cluster_id,
       {sampling.sql_split_expr('cluster_id', 90)} AS split
FROM clusters
""",
    tags=("sampling", "dedup", "clustering"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split hashed on the duplicate-cluster id, not the
    document id: near-duplicates (64-bit SimHash → fingerprint-level
    connected components, see ``dedup_clusters``) land in the same
    split by construction, closing the train→test contamination
    path."""
    docs = _docs_with_copies(spark, sf_dir)
    fps = dedup.simhash64(docs)
    labeled = clustering.fingerprint_clusters(docs, fps).select("doc_id", "cluster_id")
    return sampling.split_by_cluster(labeled, train_pct=90)


_PII_AUG = (
    "CASE WHEN doc_id % 5 = 0 THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com via http://ex.com/' || CAST(doc_id AS VARCHAR) ELSE text END"
)


@register(
    "pii_scrub",
    oracle=f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS text FROM documents)
SELECT doc_id,
       {tx.sql_pii_counts('text')[0]} AS n_emails,
       {tx.sql_pii_counts('text')[1]} AS n_urls,
       {tx.sql_normalize_text(tx.sql_scrub_pii('text'))} AS clean
FROM aug
""",
    tags=("text", "scrub"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pass: count and redact emails/URLs (typed placeholders),
    then normalize whitespace/case. Fixture PII is injected
    deterministically into every 5th document (the corpus itself is
    synthetic-clean). Pure codegen expressions — no Python in the
    row path."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' contact: user', CAST(doc_id AS STRING),"
        " '@example.com via http://ex.com/', CAST(doc_id AS STRING)) ELSE text END AS text",
    )
    n_emails, n_urls = tx.pii_counts("text")
    return aug.selectExpr(
        "doc_id",
        f"{n_emails} AS n_emails",
        f"{n_urls} AS n_urls",
        f"{tx.normalize_text(tx.scrub_pii('text'))} AS clean",
    )


_BM25_TERMS = ["join", "vector", "data"]


@register(
    "relevance_scores",
    oracle=f"""
WITH base AS (SELECT doc_id, text FROM documents),
idx AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM base)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM idx GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM base),
scored AS (
  SELECT doc_id, idx.term,
         CAST(tf AS DOUBLE)
           * (CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS score
  FROM idx JOIN dfreq ON idx.term = dfreq.term CROSS JOIN nd
),
tf3 AS (
  SELECT doc_id, term, rank, score FROM (
    SELECT doc_id, term, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term ASC) AS BIGINT) AS rank, score
    FROM scored
  ) WHERE rank <= 3
),
b_base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM base
),
b_idx AS (
  SELECT * FROM idx WHERE term IN ({', '.join(repr(t) for t in _BM25_TERMS)})
),
b_dfreq AS (SELECT term, COUNT(*) AS df FROM b_idx GROUP BY 1),
b_scal AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM b_base
),
bm AS (
  SELECT doc_id,
         CAST(SUM(CAST(((n_docs - df + 0.5) / (df + 0.5))
           * ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))
           AS DECIMAL(27,4))) AS DOUBLE) AS bm25
  FROM b_idx JOIN b_dfreq ON b_idx.term = b_dfreq.term
             JOIN b_base USING (doc_id)
             CROSS JOIN b_scal
  GROUP BY doc_id
),
{relevance.sql_unigram_surprisal('idx').strip()}
SELECT t.doc_id, t.term, t.rank, t.score, bm.bm25, sup.surprisal
FROM tf3 t LEFT JOIN bm USING (doc_id) JOIN sup USING (doc_id)
""",
    tags=("text", "relevance", "topk", "lm"),
)
def relevance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The term-relevance surface in one verified result: top-3
    characteristic terms per document by rational-idf TF-IDF
    (one narrow (doc, term) shuffle builds the term index; corpus
    scalars attach by broadcast cross join), left-joined with each
    document's BM25 score (k1=1.2, b=0.75, log-free rank-equivalent
    idf) against a fixed bag-of-terms query — NULL where no query
    term occurs, plus each document's unigram-surprisal score (mean
    inverse unigram probability — the log-free, rank-preserving twin
    of unigram-LM perplexity filtering). Log-free rational scoring
    keeps both engines bit-identical; per-doc sums go through DECIMAL
    so summation order can't drift the hash. All three measures share
    ONE (doc, term) shuffle via the cached term index."""
    docs = load_table(spark, sf_dir, "documents")
    # One (doc, term) shuffle feeds ALL THREE measures via the cached
    # term index; on top of it, ONE term-keyed aggregation carries
    # both the document frequency (TF-IDF) and the corpus term count
    # (surprisal) — previously one term-wide shuffle per measure —
    # ONE doc-keyed aggregation carries the document length for BM25
    # and surprisal, and the corpus token total rolls up from the
    # vocab-sized term stats instead of a third pass over the index
    # (integer-sum reassociation: bit-identical).
    idx = persist_reuse(relevance.term_index(docs))
    tstats = idx.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").cast("long").alias("ctf")
    ).persist()
    lens = persist_reuse(idx.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl")))
    tot = tstats.agg(F.sum("ctf").cast("long").alias("n_tok"))
    tf3 = relevance.tfidf_top_terms(
        docs, k=3, idx=idx, dfreq=tstats.select("term", "df")
    )
    bm = relevance.bm25_scores(docs, _BM25_TERMS, idx=idx, lens=lens)
    sup = relevance.unigram_surprisal(
        docs, idx=idx, tfreq=tstats.select("term", "ctf"), lens=lens, tot=tot
    )
    return (
        tf3.join(bm, "doc_id", "left")
        .join(sup, "doc_id")
        .select("doc_id", "term", "rank", "score", "bm25", "surprisal")
    )


@register(
    "pack_sequences",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {tx.sql_token_count('text')} AS ntok FROM documents
)
{packing.sql_pack_linear('base', 'ntok', budget=512, shards=8).strip()}
""",
    tags=("packing", "window"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded linear sequence packing: 8 hash shards pack
    independently (the parallel unit at corpus scale — defaults to
    the session's parallelism when unspecified), documents fill
    512-token training bins in deterministic id order via one
    cumulative-sum window. Integer math end-to-end."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{tx.token_count(tx.tokens('text'))} AS ntok"
    )
    return packing.pack_linear(docs, token_col="ntok", budget=512, shards=8)


# Chunking constants: docs in this corpus are <= ~100 tokens, so a
# 32-token window with 8-token overlap (step 24) yields 1-4 chunks per
# doc; chunks then pack into 128-token bins. cid = doc_id*1000 +
# chunk_idx is collision-free (chunk_idx < 1000 at any plausible doc
# length here).
_CK_SIZE, _CK_OVERLAP, _CK_BUDGET = 32, 8, 128
_CK_STEP = _CK_SIZE - _CK_OVERLAP


@register(
    "corpus_chunk_pack",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS n
  FROM documents
),
starts AS (
  SELECT doc_id, tk, n, i AS chunk_idx,
         least(i * {_CK_STEP} + 1, greatest(1, n - {_CK_SIZE} + 1)) AS s
  FROM toks,
       unnest(generate_series(0,
         (greatest(1, n - {_CK_SIZE} + 1) - 1 + {_CK_STEP - 1}) // {_CK_STEP})) AS t(i)
),
chunks AS (
  SELECT doc_id * 1000 + chunk_idx AS cid,
         md5(array_to_string(list_slice(tk, s, s + {_CK_SIZE - 1}), ' ')) AS chunk_digest,
         CAST(least(n - s + 1, {_CK_SIZE}) AS BIGINT) AS ntok
  FROM starts
),
packed AS (
  {packing.sql_pack_linear('chunks', 'ntok', budget=_CK_BUDGET, shards=8, id_expr='cid').strip()}
)
SELECT p.cid, p.shard, p.n_tokens, p.bin, p.bin_offset, c.chunk_digest
FROM packed p JOIN chunks c USING (cid)
""",
    tags=("chunking", "packing", "window"),
)
def corpus_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunking → packing tail of the training-data pipeline in
    one verified result: every document explodes into fixed-token
    windows with overlap (:mod:`white_elephant_spark.operators.
    chunking` — end-aligned final window, pure ``sequence`` +
    ``explode`` + ``slice``, zero shuffle), then the chunks pack into
    fixed token-budget training bins via sharded linear packing
    (:mod:`~white_elephant_spark.operators.packing`). ``chunk_digest``
    hash-verifies the exact chunk text; (shard, bin, bin_offset)
    verify the packing assignment. Composition tested in
    tests/test_chunk_pack_compose.py; this is its driver-checked
    form."""
    from white_elephant_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, size=_CK_SIZE, overlap=_CK_OVERLAP).select(
        (F.col("id") * 1000 + F.col("chunk_idx")).alias("cid"),
        F.md5(F.col("chunk_text")).alias("chunk_digest"),
        "n_tokens",
    )
    packed = packing.pack_linear(
        chunks, token_col="n_tokens", budget=_CK_BUDGET, shards=8, id_col="cid"
    )
    return packed.join(chunks.select("cid", "chunk_digest"), "cid")


@register(
    "corpus_curation",
    oracle=f"""
WITH {_DOCS_COPIES_SQL.lstrip()},
{contamination.sql_ngram_contamination('docs', 'doc_id % 101 = 0', n=5).strip()},
{dedup.sql_interdoc_repeated_ngrams('docs', n=8).strip()},
{spans.sql_span_rewrite('docs', n=8).strip()},
scored AS (
  SELECT d.doc_id,
         {tx.sql_predict_lang('d.text')} AS lang_pred,
         {tx.sql_quality_score('d.text')} AS quality,
         MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) = d.doc_id AS is_canonical,
         {sampling.sql_stratified_sample_pred(tx.sql_predict_lang('d.text'), _SAMPLE_RATES, 10, 'd.doc_id')} AS sampled,
         d.doc_id % 101 = 0 AS is_eval,
         COALESCE(c.contam_frac, 0.0) AS contam_frac,
         i.repeated_frac AS interdoc_repeated_frac,
         s.span_removed, s.rewrite_digest
  FROM docs d LEFT JOIN contam c ON d.doc_id = c.doc_id
              JOIN interdoc i ON d.doc_id = i.doc_id
              JOIN spanrw s ON d.doc_id = s.doc_id
)
SELECT doc_id, lang_pred, quality, is_canonical, sampled, is_eval, contam_frac,
       interdoc_repeated_frac, span_removed, rewrite_digest,
       NOT is_eval AND contam_frac >= 0.5 AS is_contaminated,
       is_canonical AND lang_pred = 'en' AND quality >= 0.5 AS keep,
       is_canonical AND lang_pred = 'en' AND quality >= 0.5 AND sampled
         AND NOT (NOT is_eval AND contam_frac >= 0.5) AS keep_sampled
FROM scored
""",
    tags=("text", "curation", "dedup", "sampling", "contamination"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation decision: exact-dup canonical flag
    (min-id per content digest), language-ID, quality score, the
    hash-bucket stratified sample verdict (60% of English, 20% of
    Chinese, 10% default — reproducible on any partitioning: content
    hash, not RNG, applied as a map-side predicate), benchmark
    decontamination (5-gram overlap against the held-out eval slice
    ``doc_id % 101 = 0`` — a doc sharing ≥ half its distinct 5-grams
    with any eval doc is dropped, the GPT-3/PaLM-style gate), the
    cross-document repeated-8-gram fraction (the measured form of
    exact-substring dedup à la Lee et al. — boilerplate spans shared
    across docs), the full span **rewrite**
    (:mod:`white_elephant_spark.operators.spans` — cross-doc repeated
    spans stripped from every doc but the owner; ``span_removed`` is
    the token count stripped and ``rewrite_digest`` hash-verifies the
    reassembled text itself), and the final keep verdicts. One corpus
    pass plus one broadcast-side eval gram set plus one digest-keyed
    gram-df aggregation; all codegen expressions."""
    docs = _docs_with_copies(spark, sf_dir)
    eval_docs = docs.filter(F.col("doc_id") % 101 == 0)
    contam = contamination.ngram_contamination(docs, eval_docs, n=5)
    # The span rewrite and the interdoc-repeated measure both consume
    # 8-gram identities over the same corpus; build the token arrays,
    # the positional-gram table and the gram aggregate ONCE and hand
    # them to both operators — one corpus tokenize+hash scan and one
    # gram-wide shuffle instead of two of each (the gram scan is this
    # query's dominant cost at scale: SCALING.md r12 measured the
    # interdoc + span stages at 889 s + DNF of the sf100 run before
    # the hash-lane fix; they now share one pass). Output identical:
    # interdoc recovers its per-doc DISTINCT grams from the positional
    # rows (hash-equal identity), and gram_stats carries both the
    # owner (spans) and the document frequency (interdoc).
    base = persist_reuse(spans.token_base(docs))
    pos_grams = persist_reuse(spans.positional_grams(base, n=8))
    gstats = persist_reuse(spans.gram_stats(pos_grams))
    interdoc = dedup.interdoc_repeated_ngrams(
        docs, n=8, pos_grams=pos_grams, gstats=gstats
    ).select("doc_id", F.col("repeated_frac").alias("interdoc_repeated_frac"))
    spanrw = spans.remove_repeated_spans(
        docs, n=8, base=base, pos_grams=pos_grams, gstats=gstats
    ).select(
        F.col("id").alias("doc_id"),
        F.col("n_removed").alias("span_removed"),
        F.md5(F.col("text")).alias("rewrite_digest"),
    )
    sampled = sampling.stratified_sample_pred("lang_pred", _SAMPLE_RATES, 10, "doc_id")
    scored = (
        docs.selectExpr("doc_id", "text", f"{tx.tokens('text')} AS _t")
        .selectExpr(
            "doc_id",
            "text",
            f"{tx.predict_lang('_t')} AS lang_pred",
            f"{tx.quality_score('text', '_t')} AS quality",
        )
        .selectExpr(
            "doc_id",
            "lang_pred",
            "quality",
            "min(doc_id) OVER (PARTITION BY md5(text)) = doc_id AS is_canonical",
            f"{sampled} AS sampled",
            "doc_id % 101 = 0 AS is_eval",
        )
        .join(contam, "doc_id", "left")
        .withColumn("contam_frac", F.coalesce(F.col("contam_frac"), F.lit(0.0)))
        .join(interdoc, "doc_id")
        .join(spanrw, "doc_id")
    )
    contaminated = "NOT is_eval AND contam_frac >= 0.5D"
    keep = "is_canonical AND lang_pred = 'en' AND quality >= 0.5D"
    return scored.selectExpr(
        "doc_id",
        "lang_pred",
        "quality",
        "is_canonical",
        "sampled",
        "is_eval",
        "contam_frac",
        "interdoc_repeated_frac",
        "span_removed",
        "rewrite_digest",
        f"{contaminated} AS is_contaminated",
        f"{keep} AS keep",
        f"{keep} AND sampled AND NOT ({contaminated}) AS keep_sampled",
    )
