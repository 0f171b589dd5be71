"""Deduplication operators for training-data pipelines.

Four families, each designed for the 100 TB regime:

- **exact**: hash-groupBy on content digest. One shuffle on a 32-byte
  key, combiner-friendly, no skew beyond true duplicate mass.
- **n-gram Jaccard**: shingle sets, candidates from MinHash LSH
  buckets, then the exact Jaccard verified per candidate pair — never
  all-pairs.
- **MinHash + LSH**: k-permutation signatures → banded bucket join.
  Candidate generation is |bands|·|docs| rows shuffled by (band,
  hash) — linear, with per-bucket skew bounded by banding width.
- **SimHash**: per-token hashed bit votes → 64-bit integer
  fingerprint; near-dup = small Hamming distance, found by radix
  blocking (band-exact match by pigeonhole), never all-pairs.
- **cross-document repeated n-grams**: gram-digest document
  frequency — the measured form of exact-substring dedup.

Everything is md5-based (deterministic, available in both Spark and
DuckDB) so each operator has an exact SQL oracle. All expressions are
JVM-side Catalyst; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident
from white_elephant_spark.functions.text import ngrams, sql_ngrams, tokens
from white_elephant_spark.session import persist_reuse

HEX = "0123456789abcdef"


# ------------------------------------------------------------------ exact


def content_digest(text: Column) -> Column:
    return F.md5(F.encode(text, "UTF-8"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.
    groupBy on the digest (not the text) keeps shuffle rows narrow."""
    return (
        df.select(F.col(id_col), content_digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


# ----------------------------------------------------------- shingling


def word_ngrams(w: str, n: int = 3) -> str:
    """Distinct word n-gram shingles of the token array ``w``, as
    Spark SQL text. Documents with fewer than n tokens yield an empty
    set — matching the SQL oracle twin, where DuckDB's
    generate_series over an inverted range is empty (Spark's
    ``slice`` would instead raise on the negative length). A NULL
    document yields NULL, as in the twin and for ``n == 1``."""
    if n == 1:
        return f"array_distinct({w})"
    return (
        f"CASE WHEN {w} IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
        f" WHEN size({w}) >= {n} THEN array_distinct({ngrams(w, n)})"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def sql_word_ngrams(expr: str, n: int = 3) -> str:
    if n == 1:
        return f"list_distinct(string_split({expr}, ' '))"
    return f"list_distinct({sql_ngrams(expr, n)})"


# ------------------------------------------------------- n-gram Jaccard


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
) -> DataFrame:
    """Jaccard-similar pairs over word n-gram sets. Output:
    (id_a, id_b, est_sim, jaccard) with id_a < id_b.

    Candidates come from MinHash LSH bands (:func:`minhash_signatures`
    → :func:`lsh_candidate_pairs`): a pair must share one of ``bands``
    signature-band buckets, then the *exact* Jaccard is computed and
    thresholded. Bucket population is governed by the hash, not by
    token frequency, so a common first token never builds one quadratic
    block; recall at similarity s is 1-(1-s^rows)^bands (≥ 0.93 at
    s = 0.5 with the 4×3 default, → 1 for exact dups). A document with
    fewer than ``n`` tokens has no shingles, hence no signature, and is
    never paired."""
    base = df.selectExpr(
        f"{ident(id_col)} AS id", f"{word_ngrams(tokens(ident(text_col)), n)} AS grams"
    )
    # base feeds both verify-side re-attach joins below; cache it so
    # the shingle construction runs once, not once per join side.
    base = persist_reuse(base)
    sigs = minhash_signatures(df, text_col, id_col, k=k, n=n)
    cand = lsh_candidate_pairs(sigs, bands=bands, rows=rows, k=k)
    return (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("grams").alias("gb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_sim",
            _jaccard(F.col("ga"), F.col("gb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------- MinHash/LSH


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 12, n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature per document: permutation i is
    the lexicographic min of md5(i:shingle) hex digests — a uniform
    hash family available identically in every engine."""
    # Explode shingles once, hash each k ways, take per-position mins
    # in one map-side-combinable aggregation. (The tempting
    # array-expression form — k × array_min(transform(grams, md5)) —
    # builds the shingle array k times per row, once per interpreted
    # transform; its 30× slowdown was measured on quadratic shingling.)
    grams = df.selectExpr(
        f"{ident(id_col)} AS id", f"explode({word_ngrams(tokens(ident(text_col)), n)}) AS g"
    )
    hashed = grams.select(
        "id",
        *[
            F.md5(F.encode(F.concat(F.lit(f"{i}:"), F.col("g")), "UTF-8")).alias(f"h{i}")
            for i in range(k)
        ],
    )
    agg = hashed.groupBy("id").agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(k)])
    return agg.select("id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig"))


def sql_minhash_signatures(expr: str, id_expr: str, k: int = 12, n: int = 3) -> str:
    grams = sql_word_ngrams(expr, n)
    sigs = ", ".join(
        f"list_min(list_transform({grams}, s -> md5('{i}:' || s)))" for i in range(k)
    )
    return f"SELECT {id_expr} AS id, [{sigs}] AS sig FROM documents"


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows: int = 3, k: int = 12
) -> DataFrame:
    """Banded LSH: hash each band of the signature; any shared
    (band, hash) bucket yields a candidate pair. Returns distinct
    (id_a, id_b, est_sim) where est_sim is the fraction of matching
    signature components."""
    assert bands * rows == k
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[F.element_at(F.col("sig"), b * rows + r + 1) for r in range(rows)])
            )
            for b in range(bands)
        ]
    )
    exploded = sigs.select(
        "id", "sig", F.posexplode(band_hashes).alias("band", "bh")
    )
    # Materialize before the self-join: otherwise both join sides
    # recompute the full shingle→md5→min pipeline (the expensive
    # part). At warehouse scale this is a signatures *table*; here the
    # block cache plays that role.
    exploded = persist_reuse(exploded)
    a, b = exploded.alias("a"), exploded.alias("b")
    eq = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.element_at(F.col("a.sig"), i) == F.element_at(F.col("b.sig"), i),
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (eq / F.lit(float(k))).alias("est_sim"),
        )
        .distinct()
    )


# --------------------------------------------------------------- SimHash

_LONG_MIN = -(1 << 63)


def _bitval(bit: int) -> int:
    """Value of bit ``bit`` in a signed 64-bit fingerprint (bit 63 is
    the sign bit — the long MIN_VALUE, not 1<<63 which overflows)."""
    return _LONG_MIN if bit == 63 else 1 << bit


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash fingerprint: each distinct token votes ±1 on 64
    bit positions taken from the nibbles of md5(token); the sign of
    each bit's tally forms the fingerprint. Near-duplicates have small
    Hamming distance.

    64 bits (not 32): at corpus scale the Hamming≤3 ball of a 32-bit
    fingerprint is dense enough that *random* collisions dominate the
    pair set (measured ×98 superlinear growth sf0.01→sf0.1); doubling
    the fingerprint width collapses the spurious mass while keeping
    genuinely similar documents within the threshold.

    Distributed shape: explode (token × bit) → two-level aggregate.
    Integer tallies make the result engine-exact.

    Implementation note: the ~260 column expressions are built as SQL
    strings (one ``selectExpr``/``F.expr`` py4j call per stage), not as
    per-Column Python objects — building this plan Column-by-Column
    costs ~1.3s of py4j round trips on the driver per invocation
    (measured), 3× the plan's entire executor time at sf0.1."""
    toks = df.selectExpr(
        f"`{id_col}` AS id",
        f"explode(array_distinct(split(`{text_col}`, ' '))) AS w",
    ).selectExpr("id", "md5(encode(w, 'UTF-8')) AS h")
    # Decode each hex nibble ONCE (16 string ops/row), then derive the
    # 64 bit votes with pure integer arithmetic — versus extracting
    # the nibble again for every bit (64 substring+instr per row, the
    # dominant map-stage cost at corpus scale). Values are identical,
    # so the DuckDB oracle twin is unaffected.
    nibbled = toks.selectExpr(
        "id",
        *[f"(instr('{HEX}', substring(h, {i + 1}, 1)) - 1) AS n{i}" for i in range(16)],
    )
    # 64 vote columns per (id, token) — wide-not-tall keeps the row
    # count at |tokens| (not 64×|tokens|) and needs a single shuffle.
    votes = nibbled.selectExpr(
        "id",
        *[f"(shiftright(n{bit // 4}, {bit % 4}) % 2 * 2 - 1) AS v{bit}" for bit in range(64)],
    )
    tally = votes.groupBy("id").agg(
        *[F.expr(f"sum(v{bit}) AS t{bit}") for bit in range(64)]
    )
    fp = " + ".join(
        f"(CASE WHEN t{bit} > 0 THEN {_bitval(bit)}L ELSE 0L END)" for bit in range(64)
    )
    return tally.selectExpr("id", f"CAST({fp} AS LONG) AS simhash")


def simhash_neardup_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via radix blocking +
    exact Hamming post-filter: split each fingerprint into ``bands``
    contiguous bit-slices, join on (band, slice value), keep pairs with
    ``bit_count(a XOR b) <= max_hamming``. Complete for ``max_hamming
    <= bands - 1`` by pigeonhole (a closer pair differs in at most
    ``bands - 1`` slices, so one slice matches exactly); a wider radius
    raises ``ValueError``. Same scheme as the DuckDB twin
    :func:`~white_elephant_spark.operators.clustering.
    sql_fingerprint_clusters`.

    Candidate volume grows as N²·bands/2^(64/bands): 4 bands of 16 bits
    stay linear until the keyspace saturates near ~10⁶ distinct
    fingerprints (sf10 holds 380,948; see SCALING.md).

    Output: (id_a, id_b, hamming), id_a < id_b. NOTE: over a corpus
    with heavy duplicate mass this materializes O(dup-mass²) rows —
    for cluster assembly use :func:`white_elephant_spark.operators.
    clustering.fingerprint_clusters`, which collapses identical
    fingerprints to one node *before* pairing (exactness-preserving,
    since equal fingerprints are Hamming-0 connected)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"radix blocking with {bands} bands is only complete up to "
            f"Hamming distance {bands - 1} (got max_hamming={max_hamming})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftright(F.col(fp_col), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    e = fps.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.posexplode(slices).alias("band", "bv"),
    )
    a, b = e.alias("a"), e.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# Bit 63 of a signed BIGINT can't be built with 1<<63 (overflow in
# DuckDB's checked shift) — emit the sign-bit constant directly.
_SQL_BITVAL = (
    "CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
    "ELSE (CAST(1 AS BIGINT) << bit) END"
)


def sql_simhash64(expr: str, id_expr: str) -> str:
    return f"""
SELECT id, CAST(SUM(CASE WHEN t > 0 THEN {_SQL_BITVAL} ELSE 0 END) AS BIGINT) AS simhash
FROM (
  SELECT id, bit, SUM(((strpos('{HEX}', substr(h, CAST(bit // 4 AS INTEGER) + 1, 1)) - 1 >> CAST(bit % 4 AS INTEGER)) % 2) * 2 - 1) AS t
  FROM (
    SELECT {id_expr} AS id, md5(w) AS h, bit
    FROM (SELECT {id_expr}, unnest(list_distinct(string_split({expr}, ' '))) AS w FROM documents),
         (SELECT unnest(generate_series(0, 63)) AS bit)
  )
  GROUP BY id, bit
)
GROUP BY id
"""


# ------------------------------------- cross-document repeated n-grams


def interdoc_repeated_ngrams(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    pos_grams: DataFrame | None = None,
    gstats: DataFrame | None = None,
) -> DataFrame:
    """Per-document fraction of distinct word ``n``-grams that also
    appear in at least ``min_docs - 1`` OTHER documents — the
    cross-document twin of the within-document ``dup_ngram_ratio``
    and the aggregate-level cousin of exact-substring dedup (Lee et
    al.'s "Deduplicating Training Data Makes Language Models Better"
    removes exactly these shared spans; here they are *measured* so a
    curation pass can gate on the fraction).

    Output: (doc_id, n_grams, repeated_frac) — docs with fewer than
    ``n`` tokens have no grams and report 0 over 0 grams as 0.0.

    100 TB shape: one corpus scan explodes grams per doc as two
    xxhash64 lanes (16 bytes of longs shuffled per gram, never the
    text — and no md5 hex-string materialization: the digest never
    leaves the aggregation, so two *different-seed* 64-bit lanes —
    lane 2 salts FIRST so the fold changes the effective seed before
    the gram is hashed — give ~G²/2¹²⁹ expected colliding pairs under
    the usual independence model, zero to ~10¹⁸ grams, at a third of
    the md5-hex bytes; the r12 probe measured the md5-string form's
    shuffle spilling tens of GB at sf100); gram
    document-frequency is one combiner-friendly aggregation; the
    flag joins back on the digest. Gram-frequency skew ("the quick
    brown…" boilerplate in millions of docs) concentrates a key, but
    the payload per row is just the count — no pair materialization,
    so the hot key costs one reducer's worth of adds, not O(docs²)
    rows.

    ``pos_grams``/``gstats``: optional pre-built (persisted) frames
    from :func:`white_elephant_spark.operators.spans.positional_grams`
    / ``gram_stats`` at the same ``n``. Composed queries
    (corpus_curation) pass them so this measure rides the span
    rewrite's single corpus gram scan and single gram-wide aggregation
    instead of re-tokenizing and re-aggregating the whole corpus. The
    gram identity is hash-EQUAL between the builders (the same
    xxhash64 lanes over the same concatenated token window), and the
    per-doc DISTINCT this measure needs is recovered with one
    (id, g1, g2) dedup over the positional rows, so the output is
    identical either way.
    """
    if pos_grams is not None:
        grams = pos_grams.dropDuplicates(["id", "g1", "g2"]).select("id", "g1", "g2")
    else:
        grams = df.selectExpr(
            f"{ident(id_col)} AS id", f"explode({word_ngrams(tokens(ident(text_col)), n)}) AS g"
        ).select(
            "id",
            F.xxhash64(F.col("g")).alias("g1"),
            # Salt FIRST: multi-column xxhash64 folds sequentially with
            # the running hash as the next column's seed, so
            # xxhash64(g, lit(1)) would be a deterministic function of
            # xxhash64(g) — any g1 collision implies a g2 collision and
            # the pair is worth only one 64-bit lane. xxhash64(lit(1),
            # g) changes the *effective seed* before g is hashed,
            # making the lanes behave as two different-seed 64-bit
            # hashes.
            F.xxhash64(F.lit(1), F.col("g")).alias("g2"),
        )
        # grams feeds BOTH the document-frequency aggregate and the
        # flag-join back; without the cache the tokenize→shingle→hash
        # corpus scan — the dominant cost at scale — runs twice.
        grams = persist_reuse(grams)
    gdf = (
        gstats.select("g1", "g2", "gdf")
        if gstats is not None
        else grams.groupBy("g1", "g2").agg(F.count_distinct("id").alias("gdf"))
    )
    flagged = grams.join(gdf, ["g1", "g2"]).select(
        "id", (F.col("gdf") >= min_docs).cast("int").alias("rep")
    )
    per_doc = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        (F.sum("rep").cast("double") / F.count(F.lit(1))).alias("repeated_frac"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("repeated_frac"), F.lit(0.0)).alias("repeated_frac"),
        )
    )


def sql_interdoc_repeated_ngrams(docs_cte: str, n: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin: CTE chain ending in ``interdoc`` (doc_id, n_grams,
    repeated_frac) over a CTE with (doc_id, text)."""
    grams = sql_word_ngrams("text", n)
    return f"""
ig AS (
  SELECT doc_id AS id, md5(g) AS g
  FROM (SELECT doc_id, unnest({grams}) AS g FROM {docs_cte})
),
igdf AS (SELECT g, COUNT(DISTINCT id) AS gdf FROM ig GROUP BY g),
iflag AS (
  SELECT id, CASE WHEN gdf >= {min_docs} THEN 1 ELSE 0 END AS rep
  FROM ig JOIN igdf USING (g)
),
iper AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(rep) AS DOUBLE) / COUNT(*) AS repeated_frac
  FROM iflag GROUP BY id
),
interdoc AS (
  SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
         COALESCE(p.repeated_frac, 0.0) AS repeated_frac
  FROM {docs_cte} d LEFT JOIN iper p ON d.doc_id = p.id
)
"""


# ------------------------------------------------------- incremental


def incremental_minhash(
    batch: DataFrame,
    corpus_sigs: DataFrame,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 3,
    k: int = 12,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate matches of a NEW batch against an EXISTING
    corpus signature table: (id_new, id_corpus, est_sim) for every
    batch document whose MinHash similarity estimate reaches
    ``threshold`` against some corpus document. Pass ``batch_sigs``
    (id, sig) when the batch's signatures already exist — e.g. one
    signature table computed for the whole corpus and split by id —
    to skip recomputing the shingle→md5→min pipeline.

    The scale contract differs from :func:`lsh_candidate_pairs` (the
    at-rest self-join): the corpus side is a *precomputed state
    table* (``minhash_signatures`` output, maintained like the digest
    table), so per-batch cost is O(|batch|·bands) bucket probes
    against it — corpus-vs-corpus pairs are never generated, and the
    join is a plain (band, hash) equi-join that broadcasts whenever
    the batch's exploded band table is small."""
    assert bands * rows == k

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        bh = F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.element_at(F.col("sig"), b * rows + r + 1) for r in range(rows)],
                    )
                )
                for b in range(bands)
            ]
        )
        return sigs.select(
            F.col("id").alias(f"id_{side}"),
            F.col("sig").alias(f"sig_{side}"),
            F.posexplode(bh).alias("band", "bh"),
        )

    new_sigs = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(batch, text_col=text_col, id_col=id_col, k=k, n=n)
    )
    a = banded(new_sigs, "new")
    b = banded(corpus_sigs, "corpus")
    eq = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.element_at(F.col("sig_new"), i)
            == F.element_at(F.col("sig_corpus"), i),
        )
    )
    return (
        a.join(b, ["band", "bh"])
        .select("id_new", "id_corpus", (eq / F.lit(float(k))).alias("est_sim"))
        .distinct()
        .filter(F.col("est_sim") >= threshold)
    )
