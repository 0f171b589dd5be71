"""Exact-substring dedup, the rewriting form: remove cross-document
repeated n-gram spans from every document except the span's owner.

``dedup.interdoc_repeated_ngrams`` *measures* shared spans (a gate for
curation); this module *removes* them — the operation Lee et al.'s
"Deduplicating Training Data Makes Language Models Better" performs
with a suffix array on a single machine. The distributed reformulation
works at token granularity:

1. one pass explodes positional n-gram digests (two xxhash64 long
   lanes per gram — 16 bytes, never the text);
2. gram document-frequency + owner (= min doc id containing the gram)
   is one combiner-friendly aggregation — the suffix array's "find
   repeated substrings" step becomes a groupBy;
3. a doc's token is covered iff some repeated gram owned by ANOTHER
   doc starts within the previous n-1 positions — an explode of each
   bad start into its n covered positions, deduped;
4. the rewrite is a left-anti join of tokens against covered
   positions and an in-order reassembly.

Everything is linear in corpus tokens with constant factor n; the one
skewed key (a boilerplate gram in millions of docs) carries only
counts and the owner id through the aggregation — no pair
materialization anywhere (the same argument as
``interdoc_repeated_ngrams``, dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident
from white_elephant_spark.functions.text import tokens
from white_elephant_spark.session import persist_reuse

__all__ = [
    "gram_stats",
    "positional_grams",
    "remove_repeated_spans",
    "sql_span_removed_counts",
    "sql_span_rewrite",
    "token_base",
]


def token_base(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, toks) token-array projection shared by the span operators
    (and, through ``corpus_curation``, the interdoc-repeated measure):
    tokenizing is one of the two map-side costs of the gram pipeline,
    so composed queries build this ONCE, persist it, and hand it to
    every consumer."""
    return df.selectExpr(f"{ident(id_col)} AS id", f"{tokens(ident(text_col))} AS toks")


def positional_grams(base: DataFrame, n: int) -> DataFrame:
    """(id, s, g1, g2): one row per n-gram start position over ``base``
    (id, toks).

    Gram identity travels as TWO xxhash64 lanes (16 bytes of longs),
    not an md5 hex string: the digest never leaves the aggregation —
    only counts and the owner id do — so it only needs to be
    collision-free within the corpus, and two *different-seed* 64-bit
    lanes (lane 2 salts first — see the g2 comment below) give
    ~G²/2¹²⁹ expected colliding pairs under the independence model
    (zero to ~10¹⁸ grams), same guarantee as md5 at a third of the
    shuffled bytes and no hex-string materialization. The r12
    fifth-decade probe measured this stage's md5-string shuffle
    exhausting ~60 GB of spill at sf100 (620M gram rows × two
    shuffles); long keys cut the gram-side shuffle ~3×."""
    gram = "concat_ws(' ', " + ", ".join(f"element_at(toks, s + {j})" for j in range(n)) + ")"
    return (
        base.filter(f"size(toks) >= {n}")
        .selectExpr("id", "toks", f"explode(sequence(1, greatest(size(toks) - {n - 1}, 0))) AS s")
        .selectExpr(
            "id",
            "s",
            f"xxhash64({gram}) AS g1",
            # Salt FIRST (see dedup.interdoc_repeated_ngrams): the fold
            # order makes xxhash64(1, g) a different-seed hash of g,
            # whereas xxhash64(g, 1) is a deterministic function of
            # lane 1 and adds no collision resistance.
            f"xxhash64(1, {gram}) AS g2",
        )
    )


def gram_stats(grams: DataFrame) -> DataFrame:
    """(g1, g2, gdf, owner) per distinct gram: document frequency and
    owner (min containing doc id) in ONE combiner-friendly aggregation.
    The single gram-wide shuffle that both the span rewrite (owner ≠
    me ⇒ covered) and the interdoc-repeated measure (gdf ≥ min_docs ⇒
    repeated) read — composed queries compute it once instead of one
    aggregation per operator."""
    return grams.groupBy("g1", "g2").agg(
        F.count_distinct("id").alias("gdf"), F.min("id").alias("owner")
    )


def _covered_positions(
    base: DataFrame,
    n: int,
    grams: DataFrame | None = None,
    gstats: DataFrame | None = None,
) -> DataFrame:
    """(id, pos) pairs covered by a cross-doc repeated n-gram owned by
    another doc. ``base`` carries (id, toks). ``grams``/``gstats`` let
    a composed caller (corpus_curation) supply the persisted
    positional-gram table and the shared gram aggregate so the
    tokenize→window→hash scan and the gram-wide shuffle run once per
    query, not once per operator."""
    if grams is None:
        # grams feeds both the owner aggregate and the join back; cache
        # so the tokenize->window->hash scan (the dominant cost) runs
        # once.
        grams = persist_reuse(positional_grams(base, n))
    owners = (gram_stats(grams) if gstats is None else gstats).filter(
        F.col("gdf") >= 2
    ).select("g1", "g2", "owner")
    bad_starts = (
        grams.join(owners, ["g1", "g2"])
        .filter(F.col("owner") != F.col("id"))
        .select("id", "s")
    )
    return bad_starts.select(
        "id", F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(n - 1))).alias("pos")
    ).distinct()


def remove_repeated_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: DataFrame | None = None,
    pos_grams: DataFrame | None = None,
    gstats: DataFrame | None = None,
) -> DataFrame:
    """Rewrite ``text_col`` with cross-document repeated ``n``-gram
    spans removed from every doc but the owner (min id keeps its
    copy, so exactly one copy of each shared span survives the
    corpus).

    Returns (id, text, n_tokens, n_removed) — ``text`` is the
    reassembled document, whitespace-normalized.

    ``base``/``pos_grams``/``gstats``: optional pre-built (persisted)
    shared frames from :func:`token_base` / :func:`positional_grams` /
    :func:`gram_stats` — composed queries (corpus_curation) pass them
    so the tokenize scan and the gram aggregation run once per query
    instead of once per operator. Output is identical.
    """
    if base is None:
        base = token_base(df, text_col, id_col)
        base = base.persist()  # consumed twice: span scan + rewrite join
    covered = _covered_positions(base, n, grams=pos_grams, gstats=gstats)
    # Reassembly as a MAP-SIDE array filter, not posexplode + anti-join
    # + collect_list: the exploded form shuffles every corpus token
    # twice ((id, pos, tok) through the anti-join, then the structs
    # through the reassembly groupBy) — at sf100 that is ~620M
    # string-bearing rows of spill the array form never materializes.
    # Covered positions are the SPARSE side (only tokens under a
    # cross-doc repeated gram), grouped per doc into an int array;
    # the kept text falls out of one filter over the original token
    # array, order preserved by construction instead of re-sorted.
    cov_arr = covered.groupBy("id").agg(F.collect_set("pos").alias("cov"))
    # Kept positions via the hash-based set-difference builtin, NOT a
    # per-token array_contains scan: array_contains is O(n_covered)
    # per token, so a boilerplate-heavy doc where most positions are
    # covered — exactly the doc this operator targets — went
    # O(n_tokens × n_covered) quadratic inside one task row (10k
    # mostly-covered tokens ≈ 10⁸ comparisons in a single straggler).
    # array_except builds a hash set of `cov` once and streams the
    # position sequence through it — O(n + m) — and preserves the
    # first array's order, so the reassembly stays in-order by
    # construction. sequence(1, 0) would yield a DESCENDING [1, 0]
    # for an empty token array, hence the size guard.
    all_pos = F.when(
        F.size("toks") > 0, F.sequence(F.lit(1), F.size("toks"))
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.array_except(all_pos, F.col("cov"))
    return (
        base.join(cov_arr, "id", "left")
        .withColumn("cov", F.coalesce(F.col("cov"), F.array().cast("array<int>")))
        .withColumn("kept_pos", kept_pos)
        .select(
            "id",
            F.concat_ws(
                " ", F.transform("kept_pos", lambda p: F.element_at("toks", p))
            ).alias("text"),
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size("kept_pos")).cast("long").alias("n_removed"),
        )
    )


def sql_span_removed_counts(
    docs_cte: str, n: int = 8, id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`remove_repeated_spans`'s (id, n_removed)
    accounting: CTE chain ending in ``spanrm`` (doc_id, span_removed).
    Embed under WITH; ``docs_cte`` must expose ``{id_expr},
    {text_expr}``."""
    return f"""
sp_tk AS (
  SELECT {id_expr} AS doc_id, string_split({text_expr}, ' ') AS w FROM {docs_cte}
),
sp_gr AS (
  SELECT doc_id, i, md5(array_to_string(w[i:i+{n - 1}], ' ')) AS g
  FROM sp_tk, unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS t(i)
),
sp_own AS (
  SELECT g, MIN(doc_id) AS owner
  FROM (SELECT DISTINCT doc_id, g FROM sp_gr)
  GROUP BY g HAVING COUNT(*) >= 2
),
sp_cov AS (
  SELECT DISTINCT sp_gr.doc_id, sp_gr.i + u.j AS pos
  FROM sp_gr JOIN sp_own USING (g), unnest(generate_series(0, {n - 1})) AS u(j)
  WHERE sp_own.owner <> sp_gr.doc_id
),
spanrm AS (
  SELECT tk.doc_id,
         CAST(COALESCE(cv.n, 0) AS BIGINT) AS span_removed
  FROM sp_tk tk LEFT JOIN (
    SELECT doc_id, COUNT(*) AS n FROM sp_cov GROUP BY 1
  ) cv USING (doc_id)
)
"""


def sql_span_rewrite(
    docs_cte: str, n: int = 8, id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin of the full :func:`remove_repeated_spans` rewrite:
    extends :func:`sql_span_removed_counts` with the in-order token
    reassembly, ending in ``spanrw`` (doc_id, span_removed,
    rewrite_digest) — the md5 of the rewritten, whitespace-normalized
    document ('' when every token is covered)."""
    return sql_span_removed_counts(docs_cte, n, id_expr, text_expr) + f""",
sp_pos AS (
  SELECT doc_id, i AS pos, w[i] AS tok
  FROM sp_tk, unnest(generate_series(1, len(w))) AS t(i)
),
sp_new AS (
  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.pos) AS txt
  FROM sp_pos p ANTI JOIN sp_cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
  GROUP BY p.doc_id
),
spanrw AS (
  SELECT s.doc_id, s.span_removed, md5(COALESCE(nw.txt, '')) AS rewrite_digest
  FROM spanrm s LEFT JOIN sp_new nw USING (doc_id)
)
"""
