"""Duplicate-cluster assembly: connected components over near-dup
pairs.

The dedup operators (``operators/dedup.py``) emit *pairs* — MinHash
band collisions, SimHash Hamming neighbors, embedding near-dups. A
training-data pipeline then needs *clusters*: every transitively
connected group collapsed to one representative so "A≈B, B≈C" drops
both B and C, not just one of them.

Spark has no built-in DataFrame connected components. Here the edges
go through one single-partition exchange into one Arrow-batched
``mapInPandas`` task that runs a min-union find (:func:`union_find`).
The plan is lazy: building it starts no Spark job, and it runs once
per execution of the query that consumes it. The dedup pipeline feeds
it *fingerprint-collapsed* edges (one node per distinct fingerprint),
so the one task holds a pair set bounded by duplicate mass, not by
corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.session import persist_reuse


def union_find(batches):
    """``mapInPandas`` body of :func:`connected_components`: a
    min-union find with path compression over every ``(src, dst)``
    batch of the one input partition, then one ``(node, cluster_id)``
    frame. Union by min makes the representative the component
    minimum in the ids' own order (numeric, code point for strings,
    byte-wise for binary) — what ``F.min`` and the DuckDB twin pick.
    Module
    level, so the pickled plan is the same on every build and a
    rebuilt query finds the cached label table."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    if parent:
        nodes = list(parent)
        yield pd.DataFrame({"node": nodes, "cluster_id": [find(n) for n in nodes]})


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``;
    cluster_id = the minimum node id reachable through the undirected
    pair graph (a deterministic canonical representative).

    One lazy plan: the ``(src, dst)`` edges go through a
    single-partition exchange and :func:`union_find` labels them in
    one task. An exchange, not ``coalesce(1)``: a coalesce would also
    pull the pair plan above it, up to its last shuffle, into that one
    task (the SemDeDup leg's candidate dedup, vector re-attach and
    cosine verify).

    The result is persisted lazily (:func:`~white_elephant_spark.
    session.persist_reuse`): callers read the label table more than
    once, and without the cache each read re-runs the union find and
    the whole pair pipeline above it. It carries no broadcast hint;
    join sites add their own.

    Ids may be of any type pandas can hash and order: integral,
    string, binary, decimal. No caller passes struct or array ids, and
    pandas cannot hash them. A pair with a NULL id joins nothing and
    is dropped. Nodes not present in any pair are absent — union
    singletons in at the call site (see :func:`attach_clusters`)."""
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).dropna()
    t = edges.schema["src"].dataType.simpleString()
    labels = edges.repartition(1).mapInPandas(union_find, f"node {t}, cluster_id {t}")
    return persist_reuse(labels)


def attach_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every document with its duplicate-cluster id and the cluster
    population: (doc_id, cluster_id, cluster_size, is_representative).
    Singletons (no near-dup pair) form their own cluster of size 1.

    The component join is on the document id. The label table is
    |nodes-in-pairs| rows (duplicate mass only, far smaller than the
    corpus) and comes out of one task, so it is broadcast."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(F.broadcast(comp), F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    # Representative = the minimum member PRESENT IN DOCS, computed in
    # the same aggregate as the size (no extra exchange). Comparing
    # doc_id == cluster_id instead would leave a cluster with NO
    # representative when the component min is an id absent from docs
    # (incremental dedup: pairs reference corpus ids, docs is the new
    # batch only) — and a keep-representatives filter would then drop
    # every copy instead of keeping one.
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("_rep"),
    )
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("_rep")).alias("is_representative"),
        )
    )


def fingerprint_clusters(
    docs: DataFrame,
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Duplicate clusters from SimHash fingerprints, **collapsed to
    distinct fingerprints before pairing** — the 100 TB shape.

    ``fps`` is (id, simhash) from :func:`white_elephant_spark.
    operators.dedup.simhash64`. Stages:

    1. group identical fingerprints: one node per distinct ``simhash``
       labeled by its min doc id (``fid``). Equal fingerprints are
       Hamming-0 connected, so this collapse is *exactness-preserving*
       — the doc-level pair graph and the fingerprint-level graph have
       identical transitive components. It is also the scale fix: a
       corpus whose duplicate mass is M exact-ish copies of D
       templates pairs O(M²) at doc level but O(D·bands) here.
    2. :func:`~white_elephant_spark.operators.dedup.
       simhash_neardup_pairs` over *distinct* fingerprints only: 4
       radix bands of 16 bits (complete by pigeonhole for
       ``max_hamming <= 3``; a wider radius raises ``ValueError``),
       exact ``bit_count(XOR)`` filter — the same scheme as
       :func:`sql_fingerprint_clusters`.
    3. :func:`connected_components` over the fingerprint graph in one
       union-find task — node count = distinct fingerprints, not
       corpus rows.
    4. map every document through its fingerprint to the component
       label; singleton fingerprints keep their own min-doc-id label.

    Output: (doc_id, cluster_id, cluster_size, is_representative) —
    same contract as :func:`attach_clusters`; cluster_id is the min
    doc id of the transitive cluster. Building the plan starts no
    Spark job."""
    from white_elephant_spark.operators.dedup import simhash_neardup_pairs

    # fps is consumed twice (fingerprint collapse + the doc→label map
    # in step 4); persist (lazy) so the md5-per-word simhash scan —
    # the dominant cost — runs a single time per execution: whichever
    # consumer runs first fills the cache and the other reads it. An
    # eager localCheckpoint would pay one extra dedicated job at build
    # time for the same reuse. (id, simhash) is 16 bytes/row — tiny vs
    # the corpus.
    fps = persist_reuse(fps)
    # groups feeds the pair explode AND the fid→label map in step 4 —
    # persist so the fingerprint-collapse shuffle over fps runs once
    # per execution, not once per consumer (at probe scale that
    # second aggregation is a full pass over millions of cached fps
    # rows). (fid, simhash) is 16 bytes/row.
    groups = persist_reuse(
        fps.groupBy("simhash")
        .agg(F.min("id").alias("fid"))
        .select(F.col("fid").alias("id"), "simhash")
    )
    fpairs = simhash_neardup_pairs(groups, max_hamming=max_hamming)
    comp = F.broadcast(connected_components(fpairs))
    fid_label = groups.join(comp, groups.id == comp.node, "left").select(
        F.col("simhash"),
        F.coalesce(F.col("cluster_id"), F.col("id")).alias("label"),
    )
    # LEFT joins keep fingerprint-less docs (NULL text emits no
    # simhash row): they fall back to their own singleton cluster —
    # the attach_clusters contract this function promises. An inner
    # join here silently dropped them from the output entirely.
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(fps, F.col("doc_id") == fps.id, "left")
        .join(fid_label, "simhash", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    # min-present-member representative, same rationale (and same
    # zero-extra-exchange shape) as attach_clusters above.
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("_rep"),
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("_rep")).alias("is_representative"),
    )


def sql_connected_components(pairs_cte: str) -> str:
    """DuckDB oracle twin: transitive closure by recursive CTE over a
    pairs CTE with columns (id_a, id_b); returns (node, cluster_id).
    O(V·E) in the closure — only tractable over a *bounded* pair set,
    which is why every registered oracle feeds it fingerprint-level
    edges (see :func:`sql_fingerprint_clusters`), never raw doc
    pairs."""
    return f"""
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM {pairs_cte}
  UNION
  SELECT id_b AS src, id_a AS dst FROM {pairs_cte}
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
components AS (
  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
)
"""


def sql_fingerprint_clusters(
    docs_cte: str, fp_sql: str, max_hamming: int = 3, bands: int = 4
) -> str:
    """DuckDB twin of :func:`fingerprint_clusters`: CTE chain from a
    docs CTE (doc_id, text) and a fingerprint SELECT ``fp_sql``
    (id, simhash) to a ``clusters`` CTE with columns
    (doc_id, cluster_id, cluster_size, is_representative). Must be
    embedded under ``WITH RECURSIVE``.

    Every CTE the recursion (or a later CTE) re-reads is marked
    ``MATERIALIZED``: DuckDB otherwise *inlines* them, so each
    recursive-closure step would recompute the whole simhash+band
    pipeline from scratch (31s → 5.6s at sf0.1, and the round-2 bench
    timeout, came from exactly that)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return f"""
fp AS MATERIALIZED (
  {fp_sql.strip()}
),
fpg AS MATERIALIZED (
  SELECT simhash, MIN(id) AS fid FROM fp GROUP BY simhash
),
slices AS MATERIALIZED (
  SELECT fid, simhash, b AS band, (simhash >> (b * {width})) & {mask} AS bv
  FROM fpg, (SELECT unnest(generate_series(0, {bands - 1})) AS b)
),
fpairs AS MATERIALIZED (
  SELECT DISTINCT a.fid AS id_a, b.fid AS id_b
  FROM slices a JOIN slices b ON a.band = b.band AND a.bv = b.bv AND a.fid < b.fid
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
),
{sql_connected_components('fpairs').strip()},
fid_label AS (
  SELECT g.simhash, COALESCE(c.cluster_id, g.fid) AS label
  FROM fpg g LEFT JOIN components c ON g.fid = c.node
),
doc_label AS (
  SELECT d.doc_id, l.label AS cluster_id
  FROM {docs_cte} d JOIN fp ON d.doc_id = fp.id JOIN fid_label l ON fp.simhash = l.simhash
),
csize AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM doc_label GROUP BY cluster_id
),
clusters AS (
  SELECT dl.doc_id, dl.cluster_id, s.cluster_size,
         dl.doc_id = dl.cluster_id AS is_representative
  FROM doc_label dl JOIN csize s USING (cluster_id)
)
"""
