"""Training-data-pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — registered for the driver gate with
DuckDB oracles wherever SQL can express the semantics.

Registry budget note: the driver verifies at most ~50 queries per
round, so related operators share one registered query where a single
result can hash-verify all of them (e.g. ``dedup_minhash_jaccard``
covers MinHash signatures, banded LSH candidate generation *and*
exact n-gram Jaccard — every operator contributes verified columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.functions import text as tx
from white_elephant_spark.operators import clustering, dedup, fuzzy, multimodal, similarity
from white_elephant_spark.plans.registry import register
from white_elephant_spark.sources.catalog import load_table

# --------------------------------------------------------------- dedup


def _docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 3rd doc (id+1000000) — gives
    the dedup operators real duplicate mass to collapse."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionAll(copies)


_DOCS_COPIES_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
"""


@register(
    "dedup_exact",
    oracle=f"""
WITH {_DOCS_COPIES_SQL.lstrip()}
SELECT md5(text) AS digest, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM docs GROUP BY md5(text)
""",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-digest groupBy keeping the lowest id."""
    return dedup.exact_dedup(_docs_with_copies(spark, sf_dir))


@register(
    "dedup_minhash_jaccard",
    oracle=f"""
WITH {_DOCS_COPIES_SQL.lstrip()},
base AS MATERIALIZED (
  SELECT doc_id AS id, {dedup.sql_word_ngrams('text', 3)} AS grams
  FROM docs
),
sigs AS MATERIALIZED (
  {dedup.sql_minhash_signatures('text', 'doc_id', k=12, n=3).replace('FROM documents', 'FROM docs')}
),
bands AS MATERIALIZED (
  SELECT id, sig, b AS band,
         md5(sig[b * 3 + 1] || '|' || sig[b * 3 + 2] || '|' || sig[b * 3 + 3]) AS bh
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b)
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         len(list_filter(generate_series(1, 12), i -> a.sig[i] = b.sig[i])) / 12.0 AS est_sim
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
)
SELECT 'atrest' AS method, id_a, id_b, est_sim,
       len(list_intersect(a.grams, b.grams))
         / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
FROM cand JOIN base a ON a.id = cand.id_a JOIN base b ON b.id = cand.id_b
WHERE len(list_intersect(a.grams, b.grams))
        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
UNION ALL
SELECT 'incremental' AS method, idn AS id_a, idc AS id_b,
       est_sim, CAST(NULL AS DOUBLE) AS jaccard
FROM (
  SELECT DISTINCT nb.id AS idn, cb.id AS idc,
         len(list_filter(generate_series(1, 12), i -> nb.sig[i] = cb.sig[i])) / 12.0 AS est_sim
  FROM bands nb JOIN bands cb
    ON nb.band = cb.band AND nb.bh = cb.bh
   AND nb.id % 10 = 7 AND cb.id % 10 != 7
)
WHERE est_sim >= 0.5
""",
    tags=("dedup", "join", "lsh", "incremental"),
)
def dedup_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two MinHash dedup shapes in one verified result (``method``):

    - ``atrest`` — MinHash (k=12, trigram shingles) + 4-band LSH
      candidate generation, then exact word-trigram Jaccard ≥ 0.5
      over the candidate blocks. One leg covers three operators:
      signature construction (``est_sim`` is the signature
      agreement), banded LSH blocking (candidate membership), and the
      exact n-gram Jaccard measure — hash-bounded bucket population
      instead of a token-frequency-skewed block, the scale-safe
      default.
    - ``incremental`` — the nightly-crawl admission path
      (:func:`~white_elephant_spark.operators.dedup.incremental_minhash`):
      docs with ``doc_id % 10 = 7`` arrive as the new batch and probe
      the remaining corpus's signature table's LSH buckets —
      corpus-vs-corpus pairs never generated, per-batch cost
      O(batch·bands). ``jaccard`` is NULL (signature-level admission;
      exact verify happens at-rest)."""
    docs = _docs_with_copies(spark, sf_dir)
    atrest = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select(
        F.lit("atrest").alias("method"), "id_a", "id_b", "est_sim", "jaccard"
    )
    # ONE signature table serves both legs: split by id into the
    # maintained corpus state and the arriving batch (per-doc
    # signatures are corpus-independent). The table is a deterministic
    # artifact of the corpus, so it lives in the models registry —
    # written to the disk store once per corpus (not persisted once per
    # call, which accumulated a new cached frame every invocation), so
    # every later call reads parquet instead of re-running the
    # shingle->md5->min pipeline.
    from white_elephant_spark import models

    sigs = models.get_or_train(
        spark,
        sf_dir,
        "documents",
        "minhash_sigs",
        (12, 3, "copies-v1"),
        lambda: dedup.minhash_signatures(docs),
    )
    state = sigs.filter(F.col("id") % 10 != 7)
    batch_sigs = sigs.filter(F.col("id") % 10 == 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    inc = dedup.incremental_minhash(
        batch, state, threshold=0.5, batch_sigs=batch_sigs
    ).select(
        F.lit("incremental").alias("method"),
        F.col("id_new").alias("id_a"),
        F.col("id_corpus").alias("id_b"),
        "est_sim",
        F.lit(None).cast("double").alias("jaccard"),
    )
    return atrest.unionByName(inc)


def _sem_jitter(dim: int = 64) -> list[float]:
    """Deterministic ±25% per-dim diagonal for the planted semantic
    copies — md5-derived so both engines re-derive it."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"semjit:{i}".encode()).hexdigest()
        out.append(0.75 + 0.5 * (int(h[:8], 16) / 0xFFFFFFFF))
    return out


_SEM_JITTER = _sem_jitter()
_SEM_JIT_SQL = "[" + ", ".join(f"CAST({f!r} AS DOUBLE)" for f in _SEM_JITTER) + "]"

# Semantic-leg CTE chain (embedded under the WITH RECURSIVE below):
# planted jittered copies -> corpus-scaled k-means cells (the shared
# quantizer builder) -> in-cell sign-sketch candidates -> exact cosine
# >= 0.95 -> transitive closure (renamed CTEs; the fingerprint chain
# already owns edges/reach/components).

#: SemDeDup cell-count rule, shared verbatim by both engines: target
#: ~SEM_CELL_TARGET vectors per cell, floor 8 cells. A FIXED k makes
#: in-cell candidate volume quadratic in corpus growth (measured 103x
#: candidates on 10x data at k=8); scaling k with N — the SemDeDup
#: paper's own recipe — keeps cell population (and therefore per-cell
#: sketch-bucket mass) constant, so candidates grow linearly.
SEM_CELL_TARGET = 250
SEM_K_FLOOR = 8

_SEM_ORACLE_CTES = f"""
sem_vecs AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000 AS vec_id,
         list_transform(list_zip(embedding, {_SEM_JIT_SQL}),
                        p -> CAST(CAST(p[1] AS DOUBLE) * p[2] AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
),
semk AS (
  SELECT greatest({SEM_K_FLOOR},
                  CAST(ceil(COUNT(*) / {SEM_CELL_TARGET}.0) AS BIGINT)) AS k
  FROM sem_vecs
),
{similarity.sql_ivf_refined_centroids(dim=64, iters=1, table='sem_vecs', k_cte='semk').strip()},
semassign AS MATERIALIZED (
  SELECT v.vec_id, v.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
           ORDER BY {similarity.sql_cosine('v.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM sem_vecs v, cents c
),
semcell AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM semassign WHERE rn = 1
),
sembk AS MATERIALIZED (
  SELECT vec_id, cid,
         unnest({similarity.sql_encoded_buckets('embedding', 64, 6, 8)}) AS bk
  FROM semcell
),
sempairs AS MATERIALIZED (
  SELECT c.id_a, c.id_b
  FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sembk a JOIN sembk b
          ON a.bk = b.bk AND a.cid = b.cid AND a.vec_id < b.vec_id) c
  JOIN semcell va ON va.vec_id = c.id_a
  JOIN semcell vb ON vb.vec_id = c.id_b
  WHERE {similarity.sql_cosine('va.embedding', 'vb.embedding')} >= 0.95
),
sedges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM sempairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM sempairs
),
sreach(src, dst) AS (
  SELECT src, dst FROM sedges
  UNION
  SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src
),
scomp AS MATERIALIZED (
  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster_id
  FROM sreach GROUP BY src
),
semlab AS MATERIALIZED (
  SELECT v.vec_id AS id, COALESCE(s.cluster_id, v.vec_id) AS comp
  FROM sem_vecs v LEFT JOIN scomp s ON v.vec_id = s.node
),
semsize AS (
  SELECT comp, CAST(COUNT(*) AS BIGINT) AS n FROM semlab GROUP BY comp
)"""

_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_DOCS_COPIES_SQL.strip()},
{clustering.sql_fingerprint_clusters(
    'docs',
    dedup.sql_simhash64('text', 'doc_id').replace('FROM documents', 'FROM docs'),
).strip()},
{_SEM_ORACLE_CTES.strip()}
SELECT 'simhash' AS kind, doc_id, cluster_id, cluster_size, is_representative
FROM clusters
UNION ALL
SELECT 'semantic' AS kind, l.id AS doc_id, l.comp AS cluster_id,
       z.n AS cluster_size, l.id = l.comp AS is_representative
FROM semlab l JOIN semsize z ON l.comp = z.comp
"""


@register(
    "dedup_clusters",
    oracle=_DEDUP_CLUSTERS_ORACLE,
    tags=("dedup", "clustering", "semantic"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two duplicate-grouping levels in one verified result
    (``kind`` column):

    - ``simhash`` — duplicate-cluster assembly at the 100 TB shape:
      64-bit SimHash fingerprints → **identical fingerprints
      collapsed to one node** (exactness-preserving — equal
      fingerprints are Hamming-0 connected) → radix-banded near-dup
      edges over *distinct* fingerprints only → connected components
      in one union-find task → every doc labeled with its transitive
      duplicate cluster, cluster population, and a deterministic
      representative flag. The fingerprint collapse is what keeps the
      pair set bounded: a corpus whose duplicate mass is M copies of
      D templates pairs O(M²) at doc level (the round-2 design: 2.8M
      pairs from 5k docs at sf0.1) but O(D·bands) here.
    - ``semantic`` — SemDeDup-style embedding-space grouping
      (:func:`~white_elephant_spark.operators.similarity.semantic_dedup`:
      k-means cell blocking → in-cell sign sketches → exact ≥ 0.95
      cosine → connected components) over the embeddings corpus plus
      deterministically jittered copies of every 20th vector (±25%
      per-dim diagonal — cosine ≈ 0.985-0.995 to the source:
      paraphrase-level, NOT near-dup level, so the 0.999 family would
      miss them and this leg is genuinely distinct). The jitter,
      blocking and verify are all deterministic functions the oracle
      re-derives, so even the approximation is hash-checked."""
    sim_leg = _dc_simhash_leg(spark, sf_dir)
    sem_leg = _dc_semantic_leg(spark, sf_dir)
    return sim_leg.unionByName(sem_leg)


def _dc_simhash_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters``' simhash leg as a standalone plan."""
    docs = _docs_with_copies(spark, sf_dir)
    fps = dedup.simhash64(docs)
    return clustering.fingerprint_clusters(docs, fps, max_hamming=3).select(
        F.lit("simhash").alias("kind"),
        "doc_id",
        "cluster_id",
        "cluster_size",
        "is_representative",
    )


def _sem_serving(spark: SparkSession, sf_dir: str):
    """The SemDeDup leg's served inputs — ``(vecs, k_cells,
    cell_model, blocked)`` — for :func:`_dc_semantic_leg`."""
    emb = load_table(spark, sf_dir, "embeddings")
    jit = "array(" + ", ".join(f"CAST({f!r} AS DOUBLE)" for f in _SEM_JITTER) + ")"
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.expr(
            f"zip_with(embedding, {jit},"
            " (x, f) -> CAST(CAST(x AS DOUBLE) * f AS FLOAT))"
        ).alias("embedding"),
    )
    vecs = emb.select("vec_id", "embedding").unionAll(copies)
    # The cell quantizer is a pure deterministic artifact of the
    # embeddings corpus (the planted jitter is a fixed md5-derived
    # constant), so it is trained once per corpus and served from the
    # registry — refitting it inside every execution repeated ~6s of
    # identical Lloyd work per run (the round-5 bench regression).
    from white_elephant_spark import models
    from white_elephant_spark.operators import clustering_kmeans as km

    # Corpus-scaled cell count (SEM_CELL_TARGET/SEM_K_FLOOR — the
    # oracle's semk CTE re-derives the same k from the same count).
    # The count itself is registry-memoized: a deterministic scalar of
    # the corpus, not worth one job per call.
    n_vecs = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "semdedup_count",
        ("semcnt-v1",),
        lambda: vecs.count(),
        kind="stats",
    )
    k_cells = max(SEM_K_FLOOR, -(-n_vecs // SEM_CELL_TARGET))
    cell_model = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "semdedup_cells",
        (k_cells, 64, 1, "semjit-v2"),
        lambda: km.kmeans_fit(vecs, k_cells, iters=1, dim=64),
    )

    # The cell-assignment index (id, vector, cell) is the SemDeDup
    # analogue of the IVF inverted lists — a deterministic corpus
    # artifact built once and served from the registry (parquet-backed
    # for new sessions). The live per-query work is candidate
    # generation + verify + CC + labeling.
    def _build_blocked():
        b = similarity.ivf_build_index(vecs, cell_model, 64).select(
            F.col("nbr_id").alias("vec_id"),
            F.col("nvec").alias("embedding"),
            F.col("cid").alias("cluster_id"),
        )
        # Serving layout (same contract as the IVF index): the two
        # bucket-encode passes downstream are Python/Arrow stages, so
        # a bench-scale index spread over 32 near-empty partitions
        # pays dozens of Python worker round-trips per serve.
        target = models.serving_partitions(spark, sf_dir, "embeddings")
        return b.repartition(target) if target is not None else b

    blocked = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "semdedup_blocked",
        (k_cells, 64, 1, "semjit-v2"),
        _build_blocked,
    )
    return vecs, k_cells, cell_model, blocked


def _dc_semantic_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters``' SemDeDup leg as a standalone plan (see
    :func:`_dc_simhash_leg`)."""
    vecs, k_cells, cell_model, blocked = _sem_serving(spark, sf_dir)
    sem = similarity.semantic_dedup(
        vecs, threshold=0.95, k_clusters=k_cells, dim=64, planes=6, tables=8,
        model=cell_model, blocked=blocked, with_sizes=True,
    )
    return sem.select(
        F.lit("semantic").alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        F.col("keep").alias("is_representative"),
    )


# SimHash fingerprints themselves are oracle-verified through
# ``dedup_clusters`` / ``leakage_safe_split`` (their oracles re-derive
# the same 64-bit fingerprints from the base table via
# ``dedup.sql_simhash64``); the registry slot goes to the fuzzy join.


# Deterministic "dirty record" construction shared by both engines:
# every 5th document's 40-char title gets one character deleted at a
# doc_id-dependent position (a no-op for titles shorter than the
# position — those probes match their source exactly).
_FZ_TITLE = "substr(text, 1, 40)"


def _fz_probe(name_sql: str, id_sql: str) -> str:
    pos = f"({id_sql} % 36)"
    return f"concat(substr({name_sql}, 1, {pos}), substr({name_sql}, {pos} + 2))"


@register(
    "fuzzy_doc_match",
    # The oracle runs the SAME Ed-Join prefix blocking in plain SQL
    # (11 globally-rarest 5-grams per distinct string, length band,
    # levenshtein verify) instead of the quadratic distinct×distinct
    # join — row-identical (blocking is lossless for ed ≤ 2 when the
    # longer side has ≥ q·(d+1) = 15 chars; titles here are a fixed 40)
    # and it keeps the sf1 decade gate populated: the quadratic twin
    # exceeded the 180s oracle ceiling at sf1 while this finishes in
    # ~2s. Losslessness of the blocking itself is separately
    # property-tested against brute force (tests/test_curation*.py).
    oracle=f"""
WITH base AS (SELECT doc_id, {_FZ_TITLE} AS title FROM documents),
dirty AS (
  SELECT doc_id AS probe_id, {_fz_probe('title', 'doc_id')} AS probe_title
  FROM base WHERE doc_id % 5 = 0
),
ls AS (SELECT DISTINCT probe_title AS s FROM dirty),
rs AS (SELECT DISTINCT title AS s FROM base),
lg AS (SELECT s, substr(s, unnest(generate_series(1, greatest(strlen(s) - 4, 1))), 5) AS g FROM ls),
rg AS (SELECT s, substr(s, unnest(generate_series(1, greatest(strlen(s) - 4, 1))), 5) AS g FROM rs),
freq AS (
  SELECT g, COUNT(*) AS f
  FROM (SELECT g FROM lg UNION ALL SELECT g FROM rg) GROUP BY g
),
lpre AS (
  SELECT s, g FROM (
    SELECT lg.s, lg.g, ROW_NUMBER() OVER (PARTITION BY lg.s ORDER BY freq.f, lg.g) AS rn
    FROM lg JOIN freq USING (g)
  ) WHERE rn <= 11
),
rpre AS (
  SELECT s, g FROM (
    SELECT rg.s, rg.g, ROW_NUMBER() OVER (PARTITION BY rg.s ORDER BY freq.f, rg.g) AS rn
    FROM rg JOIN freq USING (g)
  ) WHERE rn <= 11
),
cand AS (
  SELECT DISTINCT l.s AS probe_title, r.s AS title
  FROM lpre l JOIN rpre r USING (g)
  WHERE abs(strlen(l.s) - strlen(r.s)) <= 2
),
pairs AS (
  SELECT probe_title, title, CAST(levenshtein(probe_title, title) AS BIGINT) AS edit_dist
  FROM cand WHERE levenshtein(probe_title, title) <= 2
)
SELECT dd.probe_id, bb.doc_id AS match_id, p.edit_dist
FROM pairs p
JOIN dirty dd ON dd.probe_title = p.probe_title
JOIN base bb ON bb.title = p.title
""",
    tags=("fuzzy", "join", "curation"),
)
def fuzzy_doc_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution without the cartesian product: every 5th
    document title, corrupted by one deterministic character deletion,
    is matched back against the clean title catalog under edit
    distance ≤ 2 via the blocked fuzzy join (Ed-Join prefix filter
    over rarest q-grams + length banding + JVM ``levenshtein``
    verify — see ``operators/fuzzy.py``; q=5 sized to the corpus'
    gram entropy). The oracle runs the same blocking in plain SQL so
    the decade-scale gate keeps a twin that finishes; losslessness of
    the blocking vs brute force is property-tested in pytest.

    Reference tie-in: the reference's nearest analogue is exact-key
    correlation only (jobId regexes, LineParsing.java:158-219); fuzzy
    matching is part of the curation surface this engine adds."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr("doc_id", f"{_FZ_TITLE} AS title")
    dirty = (
        base.filter(F.col("doc_id") % 5 == 0)
        .selectExpr("doc_id AS probe_id", f"{_fz_probe('title', 'doc_id')} AS probe_title")
    )
    # The corpus-side blocking artifacts (gram frequencies, rarest-
    # prefix table) are deterministic artifacts of the title catalog —
    # registry-served like the LSH sketch index, so each query run
    # processes only the probe side. The post-verify result is
    # blocking-order-independent (exact levenshtein gate + lossless
    # prefix filter), so the oracle is unchanged.
    from white_elephant_spark import models

    def _entry(i):
        def build():
            return fuzzy.build_fuzzy_index(base, "title", q=5, max_dist=2)[i]

        return models.get_or_train(
            spark,
            sf_dir,
            "documents",
            f"fz_{('freq', 'rpre')[i]}",
            (5, 2, "fzidx-v1"),
            build,
        )

    # Corpus minimum title length, registry-memoized: ≥ q·(d+1) lets
    # the join prune its short/ultra-string legs statically (titles
    # here are a fixed 40 chars; the stat PROVES it rather than
    # assuming it).
    min_rl = models.get_or_train(
        spark,
        sf_dir,
        "documents",
        "fz_minlen",
        (5, 2, "fzidx-v1"),
        lambda: base.agg(F.min(F.length("title"))).collect()[0][0],
    )
    pairs = fuzzy.fuzzy_join(
        dirty, base, "probe_title", "title", max_dist=2, q=5,
        index=(_entry(0), _entry(1), min_rl),
    )
    return pairs.select(
        "probe_id",
        F.col("doc_id").alias("match_id"),
        F.col("edit_dist").cast("long").alias("edit_dist"),
    )


# ----------------------------------------------------------- text analysis


@register(
    "text_profile",
    oracle=f"""
SELECT doc_id,
       {tx.sql_token_count('text')} AS n_tokens,
       {tx.sql_bpe_token_count('text')} AS bpe_tokens,
       CAST(strlen(text) AS BIGINT) AS n_chars,
       {tx.sql_distinct_ratio('text')} AS distinct_ratio,
       {tx.sql_stopword_ratio('text')} AS stopword_ratio,
       {tx.sql_mean_word_len('text')} AS mean_word_len,
       {tx.sql_quality_score('text')} AS quality,
       {tx.sql_dup_ngram_ratio('text')} AS dup_ngram_ratio,
       {tx.sql_top_ngram_frac('text')} AS top_bigram_frac,
       {tx.sql_dup_line_ratio('text')} AS dup_line_ratio,
       lang AS labeled_lang,
       {tx.sql_predict_lang('text')} AS predicted_lang,
       {tx.sql_fingerprint('text')} AS fingerprint
FROM documents
""",
    tags=("text",),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis profile in one scan: token
    counting both ways (whitespace + BPE-ish regex pre-tokenization),
    quality-score heuristics (distinct/stopword ratios, mean word
    length), the Gopher-style repetition family (duplicated n-gram
    fraction, top-bigram position share, duplicate-line fraction —
    Rae et al. 2021 §A1.1), marker-word language-ID vs the labeled
    lang column, and the order-insensitive content fingerprint. Every
    column is a JVM-side Catalyst expression built from Spark SQL text
    — one registered query hash-verifies the whole §text operator
    family."""
    docs = load_table(spark, sf_dir, "documents")
    # Split each document once: the second projection derives every
    # measure from the token array `_t` and the line array `_l`.
    split = docs.selectExpr(
        "doc_id", "lang", "text", f"{tx.tokens('text')} AS _t", f"{tx.lines('text')} AS _l"
    )
    return split.selectExpr(
        "doc_id",
        f"{tx.token_count('_t')} AS n_tokens",
        f"{tx.bpe_token_count('text')} AS bpe_tokens",
        "CAST(length(text) AS BIGINT) AS n_chars",
        f"{tx.distinct_ratio('_t')} AS distinct_ratio",
        f"{tx.stopword_ratio('_t')} AS stopword_ratio",
        f"{tx.mean_word_len('text', '_t')} AS mean_word_len",
        f"{tx.quality_score('text', '_t')} AS quality",
        f"{tx.dup_ngram_ratio('_t')} AS dup_ngram_ratio",
        f"{tx.top_ngram_frac('_t')} AS top_bigram_frac",
        f"{tx.dup_line_ratio('_l')} AS dup_line_ratio",
        "lang AS labeled_lang",
        f"{tx.predict_lang('_t')} AS predicted_lang",
        f"{tx.fingerprint('_t')} AS fingerprint",
    )


# ------------------------------------------------------------- similarity


# sql_sq8_topk ends in a bare SELECT; rewrap it as a `sq8` CTE so the
# union query below can read it alongside the exact-method branch.
_SQ8_CTES = similarity.sql_sq8_topk("embeddings", "vec_id % 100 = 0", k=10).strip().replace(
    "\nSELECT query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank",
    ",\nsq8 AS (SELECT query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank",
    1,
) + ")"


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
  SELECT query_id, e.vec_id AS nbr_id,
         {similarity.sql_cosine('qvec', 'e.embedding')} AS cos_sim
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
),
{_SQ8_CTES}
SELECT 'exact' AS method, query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
UNION ALL
SELECT 'sq8' AS method, query_id, nbr_id, cos_sim, rank FROM sq8
""",
    tags=("similarity", "topk", "quantization"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 for every 100th vector as query, by two methods
    in one verified result (``method`` column):

    - ``exact`` — brute-force float64 scoring, the recall baseline;
    - ``sq8`` — int8 scalar quantization (corpus-max-abs symmetric
      scale, kept in-plan as a broadcast aggregate), exact *integer*
      dot prefilter to the top-40 candidates per query, then exact
      re-rank to top-10. The compression path a 100 TB vector store
      actually serves from: the prefilter reads 1/4 the bytes and the
      full-precision vectors are only touched for ~4k candidates per
      query. Deterministic end to end, so even its approximation
      error is hash-verified against the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.cosine_topk(emb, queries, k=10, dim=64).select(
        F.lit("exact").alias("method"), "query_id", "nbr_id", "cos_sim", "rank"
    )
    sq8 = similarity.sq8_cosine_topk(emb, queries, dim=64, k=10).select(
        F.lit("sq8").alias("method"), "query_id", "nbr_id", "cos_sim", "rank"
    )
    return exact.unionAll(sq8)


_ANN_PLANES, _ANN_TABLES = 3, 12
# Near-dup blocking uses finer buckets (16 planes) over fewer tables:
# at the 0.999-cosine target a true pair keeps all 16 signs in a
# table w.p. ~(1-0.0142)^16 ≈ 0.80, so four tables miss it w.p.
# ~0.2%, while fine buckets keep Σ|bucket|² small even on a clustered
# corpus (measured: 301 candidates vs 55k at 8 planes × 6 tables on
# sf0.1 — same 40 verified pairs).
_ND_PLANES, _ND_TABLES = 16, 4


@register(
    "ann_lsh_topk",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         {similarity.sql_encoded_buckets('embedding', 64, _ANN_PLANES, _ANN_TABLES)} AS buckets
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         {similarity.sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
  FROM b q JOIN b c
    ON len(list_intersect(q.buckets, c.buckets)) > 0 AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
),
ndvecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.25 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
ndk AS (
  SELECT vec_id, unnest({similarity.sql_encoded_buckets('embedding', 64, _ND_PLANES, _ND_TABLES)}) AS bk
  FROM ndvecs
),
ndc AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ndk a JOIN ndk b ON a.bk = b.bk AND a.vec_id < b.vec_id
)
SELECT 'lsh' AS method, query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
UNION ALL
SELECT 'neardup' AS method, c.id_a AS query_id, c.id_b AS nbr_id,
       {similarity.sql_cosine('va.embedding', 'vb.embedding')} AS cos_sim,
       CAST(0 AS BIGINT) AS rank
FROM ndc c
JOIN ndvecs va ON va.vec_id = c.id_a
JOIN ndvecs vb ON vb.vec_id = c.id_b
WHERE {similarity.sql_cosine('va.embedding', 'vb.embedding')} >= 0.999
""",
    tags=("similarity", "topk", "lsh", "dedup"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sign-sketch-family operators in one verified result
    (``method`` column):

    - ``lsh`` — multi-table hyperplane LSH (12 tables × 3 sign bits) —
      a neighbor is a candidate if it shares a bucket in ANY table, so
      one flipped sign bit can't lose it; cosine is ranked over the
      deduped candidate set. Holds recall@10 ≥ 0.9 vs the exact
      baseline on this corpus (asserted in tests).

      Scaling contract (labeled quadratic-by-design in SCALING.md):
      this corpus is isotropic — nearest neighbors sit at cosine
      ≈ 0.4, so the hyperplane collision probability is p ≈ 0.62 and
      the LSH S-curve pins the plane count: 4 planes already drops
      recall@10 below the 0.9 floor at 12 tables, and compensating
      with tables (T ∝ 1/-ln(1−p^P)) hands the candidates straight
      back. Candidate volume is therefore queries × corpus / 2^planes
      with planes stuck at 3 — a recall-pinned kNN self-join over
      unstructured vectors has no sublinear answer, which is LSH
      theory, not a plan defect. LSH's actual sublinear workload is
      the HIGH-similarity regime — the ``neardup`` leg below (16
      planes × 4 tables at cos ≥ 0.999) scales linearly — and
      clustered corpora take ``ann_ivf_topk``.
    - ``neardup`` — embedding-cosine near-dup pairs blocked by
      16-plane × 4-table sign sketches (``rank`` pinned 0) over the
      corpus plus scaled copies of every 50th vector: scaling
      preserves both cosine AND every sign bucket, so the planted
      copies are guaranteed candidates the threshold must recover.
      The blocking is a deterministic hash of the vector, so the
      oracle reproduces even the approximation exactly.

    Both legs' sketch-indexed corpora (vectors + norms + encoded
    buckets) are registry-served (``lsh_enc`` / ``neardup_enc``):
    built once per corpus snapshot, parquet-backed for later
    sessions — steady-state calls never re-run the Arrow encoder."""
    return _annlsh_knn_leg(spark, sf_dir).unionAll(_annlsh_nd_leg(spark, sf_dir))


def _annlsh_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN leg's sketch-indexed corpus (12 tables × 3 planes):
    a pure function of the embeddings table — LSH's analogue of a
    built index — so it lives in the models registry (built once per
    corpus snapshot, parquet-served to later sessions; the faiss
    build-once contract). Steady-state serving reads a small parquet
    file instead of re-running the Arrow bucket encoder per call."""
    from white_elephant_spark import models

    emb = load_table(spark, sf_dir, "embeddings")
    return models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "lsh_enc",
        (64, _ANN_PLANES, _ANN_TABLES, "lshenc-v1"),
        lambda: similarity.encode_for_lsh(
            emb, dim=64, planes=_ANN_PLANES, tables=_ANN_TABLES
        ),
    )


def _annlsh_knn_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quadratic-by-design kNN leg: every 100th vector queried
    against the full corpus via bucket-overlap candidates + exact
    cosine rank (docstring contract in :func:`ann_lsh_topk`)."""
    enc = _annlsh_enc(spark, sf_dir)
    queries = enc.filter(F.col("vec_id") % 100 == 0)
    return similarity.lsh_cosine_topk(
        enc,
        queries,
        dim=64,
        k=10,
        planes=_ANN_PLANES,
        tables=_ANN_TABLES,
        pre_encoded=True,
    ).select(F.lit("lsh").alias("method"), "query_id", "nbr_id", "cos_sim", "rank")


def _annlsh_nd_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup leg's sketch-indexed corpus (4 tables × 16
    planes) over the embeddings plus planted scaled copies of every
    50th vector — registry-served like :func:`_annlsh_enc`."""
    from white_elephant_spark import models

    emb = load_table(spark, sf_dir, "embeddings")

    def _build_nd_enc():
        copies = emb.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: (x.cast("double") * F.lit(1.25)).cast("float"),
            ).alias("embedding"),
        )
        vecs = emb.select("vec_id", "embedding").unionAll(copies)
        return similarity.encode_for_lsh(
            vecs, dim=64, planes=_ND_PLANES, tables=_ND_TABLES
        )

    return models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "neardup_enc",
        (64, _ND_PLANES, _ND_TABLES, "ndenc-copies-v1"),
        _build_nd_enc,
    )


def _annlsh_nd_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The linear near-dup leg: 16-plane × 4-table band join over the
    served sketch index, exact cosine ≥ 0.999 verify."""
    nd_enc = _annlsh_nd_enc(spark, sf_dir)
    return similarity.neardup_pairs_lsh(
        nd_enc,
        threshold=0.999,
        dim=64,
        planes=_ND_PLANES,
        tables=_ND_TABLES,
        pre_encoded=True,
    ).select(
        F.lit("neardup").alias("method"),
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("nbr_id"),
        "cos_sim",
        F.lit(0).cast("long").alias("rank"),
    )


_IVF_C, _IVF_NPROBE = 32, 4


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH {similarity.sql_ivf_refined_centroids(_IVF_C, dim=64, iters=1).strip()},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {similarity.sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid ASC
         ) AS rn
  FROM embeddings e, cents c
),
cells AS (SELECT vec_id AS nbr_id, embedding AS nvec, cid FROM assign WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qvec, cid
  FROM assign WHERE rn <= {_IVF_NPROBE} AND vec_id % 100 = 0
),
scored AS (
  SELECT p.query_id, a.nbr_id, {similarity.sql_cosine('p.qvec', 'a.nvec')} AS cos_sim
  FROM probes p JOIN cells a ON a.cid = p.cid AND a.nbr_id <> p.query_id
)
SELECT query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, nbr_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
""",
    tags=("similarity", "topk", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a **trained quantizer**: C=32 hash-order
    seeds (fixed budget, independent of corpus size) refined by one
    exact Lloyd iteration — distributed assignment pass, per-cell
    means in integer micro-units so the trained centroids are
    bit-reproducible in the oracle, C-row bounded collect (the
    model-fetch contract). Each query probes its 4 closest lists.
    Complements ``ann_lsh_topk``: IVF prunes by *cell locality*
    (strong on clustered corpora, the vector-search workhorse), LSH by
    sign-sketch collision. Cell assignment is a map-side Arrow-batched
    ranking against the broadcast centroid matrix — one scan, zero
    shuffle before the cid-keyed candidate join.

    Serving shape (round 5): the trained quantizer and the inverted
    lists are *artifacts of the immutable corpus*, registered in
    :mod:`white_elephant_spark.models` — trained/built on first use in
    a session, served from the registry after (the faiss contract: an
    IVF index is built once, then serves every query). Steady-state
    per-query work is just probe-list computation over the
    broadcast-sized query side + the cid-keyed candidate join."""
    from white_elephant_spark import models

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cents = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "ivf_quantizer",
        (_IVF_C, 64, 1, "ivf-v1"),
        lambda: similarity.ivf_refined_centroids(emb, _IVF_C, 64, iters=1),
    )
    def _build_index():
        idx = similarity.ivf_build_index(emb, cents, 64)
        # Serving layout: size the cached index by data volume, not by
        # build parallelism. The build inherits the scan's spread
        # (good for the Arrow assignment pass), but a small corpus
        # cached across 32 near-empty partitions pays 32 tasks of
        # scheduling per probe join. models.serving_partitions sums
        # part files when the corpus is a Spark-written DIRECTORY (a
        # bare getsize() there returns ~0 and would collapse a big
        # corpus to one partition) and only coalesces DOWN when the
        # size is actually known — a big corpus keeps its scan
        # partitioning, no extra shuffle at scale.
        target = models.serving_partitions(spark, sf_dir, "embeddings")
        return idx.repartition(target) if target is not None else idx

    # The inverted lists go to the disk store as parquet: a NEW
    # session's first call reads the index file (the faiss contract —
    # the index outlives the process), and a post-clearCache
    # recompute inside one session is a file read, not an assignment
    # pass re-run.
    index = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "ivf_index",
        (_IVF_C, 64, 1, "ivf-v1"),
        _build_index,
    )
    return similarity.ivf_cosine_topk(
        emb,
        queries,
        dim=64,
        k=10,
        ncentroids=_IVF_C,
        nprobe=_IVF_NPROBE,
        refine=1,
        cents=cents,
        index=index,
    )


# embedding_neardup is folded into ann_lsh_topk (method='neardup')
# to keep the registry inside the driver's 50-slot check budget.


_KM_K = 8  # k-means cluster budget for the corpus map


@register(
    "embedding_cluster_map",
    oracle=f"""
WITH {similarity.sql_ivf_refined_centroids(_KM_K, dim=64, iters=1).strip()},
assign AS (
  SELECT e.vec_id, e.label, c.cid,
         {similarity.sql_cosine('e.embedding', 'c.cvec')} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {similarity.sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM embeddings e, cents c
),
best AS (
  SELECT vec_id, label, cid AS cluster_id, cos_sim FROM assign WHERE rn = 1
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM best GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM best),
mu AS (
  SELECT t.i AS i, AVG(CAST(embedding[t.i] AS DOUBLE)) AS m
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i) GROUP BY 1
),
cnorm AS (
  SELECT e.vec_id,
         CAST(floor(SUM((CAST(e.embedding[t.i] AS DOUBLE) - mu.m)
                        * (CAST(e.embedding[t.i] AS DOUBLE) - mu.m)) * 10000) AS BIGINT)
           AS red_norm_q
  FROM embeddings e, unnest(generate_series(1, 64)) AS t(i)
       JOIN mu ON mu.i = t.i
  GROUP BY e.vec_id
)
SELECT b.vec_id, b.label, b.cluster_id, b.cos_sim,
       s.cluster_size,
       CAST(s.cluster_size AS DOUBLE) / tot.n AS cluster_frac,
       c.red_norm_q
FROM best b
JOIN sizes s ON b.cluster_id = s.cluster_id
CROSS JOIN tot
JOIN cnorm c ON b.vec_id = c.vec_id
""",
    tags=("similarity", "clustering", "pca"),
)
def embedding_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segmentation map: general k-means
    (:mod:`~white_elephant_spark.operators.clustering_kmeans` — 8
    hash-order seeds + 1 exact Lloyd iteration, only k rows ever on
    the driver) assigns every embedding to a cluster; per-cluster
    mixture columns (cluster_size, cluster_frac) report the corpus
    composition; and distributed PCA
    (:mod:`~white_elephant_spark.operators.decomposition`) projects
    every vector through the full-rank eigenbasis of the one-pass
    covariance. The PCA leg is hash-verified through the isometry
    invariant: an orthonormal full-rank rotation preserves the
    centered norm, so ``floor(‖project(x)‖² · 1e4)`` must equal the
    oracle's ``floor(Σ(xᵢ-μᵢ)² · 1e4)`` — the projection itself (and
    the k<d reduced path) is further covered in
    tests/test_decomposition.py. FP margin: engines agree to ~1e-12
    on a quantity of order 10-100, quantized at 1e-4.

    Plan shape (round 5): assignment and the PCA norm are BOTH
    map-side computations against broadcast models, so they run fused
    in ONE Arrow pass over one embeddings scan
    (:func:`~white_elephant_spark.operators.clustering_kmeans.kmeans_pca_map`)
    — no vec_id shuffle join between legs, no second corpus scan. The
    narrow fused frame (no embedding column, ~1% of scan width) is
    persisted so the k-row cluster-size aggregate and the final
    projection share one computation; cluster_size / cluster_frac
    attach by broadcast join (k rows)."""
    from white_elephant_spark.operators import clustering_kmeans as km
    from white_elephant_spark.operators import decomposition as dc

    from white_elephant_spark import models

    emb = load_table(spark, sf_dir, "embeddings")
    # Both models are deterministic artifacts of the immutable corpus
    # — trained once per session, served from the registry after
    # (models.py). The per-query work is the fused pass + k-row joins.
    model = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "kmeans",
        (_KM_K, 1, 64, "km-v1"),
        lambda: km.kmeans_fit(emb, k=_KM_K, iters=1, dim=64),
    )
    pca = models.get_or_train(
        spark, sf_dir, "embeddings", "pca", (64, "pca-v1"),
        lambda: dc.fit_pca(emb, k=64),
    )

    # The fused segmentation map is itself a deterministic corpus
    # artifact (models are registry-served, the kernel is exact), so
    # it is registered too: one persisted parquet scan per corpus
    # instead of a fresh cached frame per call (which accumulated
    # storage across repeated runs).
    fused = models.get_or_train(
        spark,
        sf_dir,
        "embeddings",
        "kmeans_pca_map",
        (_KM_K, 1, 64, "kmap-v1"),
        lambda: km.kmeans_pca_map(emb, model, pca, dim=64),
    )
    # Cluster sizes are a k-row frame — collect them (the model-fetch
    # contract; this job also fills the persisted cache, so the final
    # projection is a pure InMemoryTableScan) and attach size/frac as
    # literal-map lookups instead of two broadcast joins: same values,
    # two jobs total, zero joins. cluster_frac division happens
    # driver-side in IEEE doubles — bit-identical to the engine's
    # long/long→double division.
    size_rows = sorted(
        (r["cluster_id"], r["cluster_size"])
        for r in fused.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .collect()
    )
    if not size_rows:  # empty corpus: schema-stable empty result
        return fused.select(
            "vec_id",
            "label",
            "cluster_id",
            "cos_sim",
            F.lit(None).cast("long").alias("cluster_size"),
            F.lit(None).cast("double").alias("cluster_frac"),
            "red_norm_q",
        )
    n = sum(s for _, s in size_rows)
    size_map = F.create_map(
        *[x for cid, s in size_rows for x in (F.lit(cid).cast("long"), F.lit(s).cast("long"))]
    )
    frac_map = F.create_map(
        *[x for cid, s in size_rows for x in (F.lit(cid).cast("long"), F.lit(float(s) / float(n)))]
    )
    return fused.select(
        "vec_id",
        "label",
        "cluster_id",
        "cos_sim",
        F.element_at(size_map, F.col("cluster_id")).alias("cluster_size"),
        F.element_at(frac_map, F.col("cluster_id")).alias("cluster_frac"),
        "red_norm_q",
    )


# ------------------------------------------------------------- multimodal

_RS_W, _RS_H = 16, 12  # resize target; digest verifies the truncation path


@register(
    "multimodal_pipeline",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len, md5(text) AS digest,
         CAST(1 + strlen(text) % 64 AS BIGINT) AS fake_width,
         CAST(1 + strlen(text) % 48 AS BIGINT) AS fake_height,
         md5(rpad(text, {_RS_W * _RS_H}, chr(0))) AS resized_digest
  FROM documents
),
frames AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS frame_idx,
         substring(text, CAST(i * 256 + 1 AS INTEGER), 256) AS frame_str
  FROM documents,
       unnest(generate_series(0, least(7, greatest(0, strlen(text) // 256 - 1)))) AS t(i)
)
SELECT f.doc_id, f.byte_len, f.digest, f.fake_width, f.fake_height,
       f.resized_digest, fr.frame_idx, fr.frame_str
FROM feats f JOIN frames fr ON f.doc_id = fr.doc_id
""",
    tags=("multimodal", "pandas-udf", "explode"),
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal plumbing end to end in one verified result:
    Arrow-batched ``mapInPandas`` feature extraction (1→1), resize
    (payload-transforming, verified via the digest of the resized
    bytes — the corpus is ASCII so ``rpad(text, n, chr(0))`` in the
    oracle reproduces both the truncate and the NUL-pad path of the
    stub exactly), and fixed-stride frame sampling (1→N explode,
    ffmpeg keyframe-seek in a real deployment). Real codecs are
    stubbed behind documented ``NotImplementedError``; the Spark-side
    schema/batching/partitioning is real."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.documents_as_binary(docs)
    # One fused Arrow pass (extract_feature_frames) instead of three
    # mapInPandas stages re-joined on doc_id: the payload crosses the
    # Python boundary once and the two payload-carrying joins vanish
    # (guide §4.1/§8). Output bit-identical to the composed operators
    # (doc_id is unique, every doc emits >=1 frame, so the inner joins
    # were exact row-multiplicity-1 reunions) — pinned by the fusion-
    # equivalence test in tests/test_multimodal_codecs.py.
    fused = multimodal.extract_feature_frames(payload, _RS_W, _RS_H)
    return fused.select(
        "doc_id", "byte_len", "digest", "fake_width", "fake_height",
        "resized_digest", "frame_idx",
        F.decode(F.col("frame"), "UTF-8").alias("frame_str"),
    )


@register(
    "label_centroid_classify",
    oracle=f"""
WITH {similarity.sql_label_centroids('embeddings', dim=64).strip()},
scored AS (
  SELECT e.vec_id, e.label, c.label AS pred_label,
         {similarity.sql_cosine('e.embedding', 'c.centroid')} AS cos_sim
  FROM embeddings e CROSS JOIN cents c
),
best AS (
  SELECT vec_id, label, pred_label, cos_sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, pred_label ASC) AS rk
  FROM scored
)
SELECT vec_id, label, pred_label, cos_sim FROM best WHERE rk = 1
""",
    tags=("similarity", "embedding", "classify"),
)
def label_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding aggregation + nearest-centroid classification: exact
    per-label mean vectors (components quantized to integer
    micro-units so the distributed sum is order-exact — see
    :func:`white_elephant_spark.operators.similarity.label_centroids`),
    then every vector assigned to its nearest centroid by strict-fold
    cosine. The centroid table is broadcast; the scoring pass is one
    map-side cross join — the canonical "mean-pool then classify"
    embedding pipeline stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.label_centroids(emb)
    return similarity.classify_by_centroid(emb, cents, dim=64)
