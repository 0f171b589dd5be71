"""Duplicate-cluster assembly: connected components over near-dup
pairs.

The dedup operators (``operators/dedup.py``) emit *pairs* — MinHash
band collisions, SimHash Hamming neighbors, embedding near-dups. A
training-data pipeline then needs *clusters*: every transitively
connected group collapsed to one representative so "A≈B, B≈C" drops
both B and C, not just one of them.

Spark-first shape: iterative **min-label propagation** over
DataFrames (the Pregel/GraphX pattern without the RDD API — Spark has
no built-in DataFrame connected-components). Each round joins the
cached edge set against the broadcast-hinted label table (so the edges
are NEVER re-shuffled; the only per-round shuffle is the node-sized
groupBy-min). Labels are ``localCheckpoint``-ed per round so the
lineage stays flat. Convergence is O(log diameter) rounds with the
pointer-jumping step — near-dup clusters are dense and shallow
(duplicates of one document all link to each other within 1-2 hops),
so 3-5 rounds is typical; ``max_iter`` bounds the pathological chain
case.

This is a driver-side *loop*, not driver-side *data*: per round the
driver runs one count() action for the convergence test; all row data
stays distributed. That is the standard shape for iterative graph
algorithms on Spark (GraphX Pregel does exactly this under the hood).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from white_elephant_spark.session import persist_reuse


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``;
    cluster_id = the minimum node id reachable through the undirected
    pair graph (a deterministic canonical representative).

    Size-adaptive, the same way Catalyst picks broadcast-hash over
    sort-merge: the edge set is materialized first (every strategy
    needs that), and when it is *broadcast-sized* (≤
    ``local_threshold`` edges — a fixed constant, NOT a function of
    corpus size) the components are solved with a driver union-find
    in milliseconds instead of paying distributed rounds of
    scheduling latency. Above the threshold, **star contraction**
    (:func:`_cc_contract`): geometric passes that merge every node
    into its min closed-neighborhood label and recurse on the
    shrinking quotient graph until the residual fits the driver
    union-find. The r12 fifth-decade probe measured why this beats
    min-label propagation here: the corpus's near-dup graph is
    chain-like, so propagation + pointer jumping needed ~log2(
    diameter) = 23 full-edge-set rounds at 13.6M edges (~315 s, the
    leg's superlinear carrier) while contraction pays ~4 passes of
    geometrically-shrinking cost. The dedup pipeline feeds this
    *fingerprint-collapsed* edges (one node per distinct
    fingerprint), so the local path is the common case even for a
    corpus with heavy duplicate mass.

    Nodes not present in any pair are absent — union singletons in at
    the call site (see :func:`attach_clusters`)."""
    spark = pairs.sparkSession
    # Spark 4.1 Catalyst bug: Union.rewriteConstraints throws
    # NoSuchElementException when the propagate-union is joined back
    # against the same label table the union was built from (the
    # pointer-jump below). Constraint propagation buys nothing inside
    # this loop (every join key is already non-null by construction),
    # so disable it for the loop's plans and restore after.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # The local path is type-gated: the union-find itself is
    # type-agnostic, but the result frame needs a concrete id type
    # (integral → inline VALUES; string → createDataFrame). Anything
    # else (binary, decimal, struct ids) takes the distributed loop,
    # which is type-agnostic end to end — behavior must not depend on
    # whether the data happened to fit under the threshold.
    id_type = pairs.schema[id_a].dataType.simpleString()
    local_ok = id_type in ("tinyint", "smallint", "int", "bigint", "string") and (
        id_type == pairs.schema[id_b].dataType.simpleString()
    )
    if local_ok:
        # Strategy probe and local-path collection in ONE job: pull at
        # most threshold+1 edges; an under-threshold graph is thereby
        # already collected (≤ 16 MB at the 1M default —
        # broadcast-sized), and an over-threshold graph cost one
        # truncated scan before taking the distributed loop. Separate
        # count()-then-collect would pay two full jobs over the plan.
        # The coalesce(1) is load-bearing at scale: a bare
        # limit().toPandas() plans CollectLimitExec, whose incremental
        # partition scan ships up to threshold rows PER SCANNED
        # PARTITION as driver task results — on a wide plan (the
        # width-scaled band join at the sixth decade: ~83M directed
        # edges over ~90 partitions of ~1M rows each) that crossed
        # spark.driver.maxResultSize (measured: 52 tasks × ~20 MB at
        # sf300). Forcing the global limit through a single-partition
        # exchange bounds the driver transfer by the threshold itself
        # (one task, ≤ threshold+1 rows); the per-partition shuffle
        # write stays LocalLimit-truncated, executor-side.
        sample = edges.limit(local_threshold + 1).coalesce(1).toPandas()
        if len(sample) <= local_threshold:
            return _cc_local(spark, sample, id_type)
    edges = persist_reuse(edges)
    _CONSTRAINTS = "spark.sql.constraintPropagation.enabled"
    prev_constraints = spark.conf.get(_CONSTRAINTS, "true")
    spark.conf.set(_CONSTRAINTS, "false")
    try:
        return _cc_contract(
            edges, local_ok, id_type, local_threshold, max_iter
        )
    finally:
        spark.conf.set(_CONSTRAINTS, prev_constraints)
        edges.unpersist()


#: Contraction-pass ceiling: passes shrink the directed edge set
#: geometrically (min-closed-neighborhood hooking removes every
#: non-local-min node, ≥2-3x per pass on real graphs), so 20 levels
#: covers ~3^20 ≈ 10^9x shrinkage — any graph that still has edges
#: after that is adversarial and takes the propagation fallback.
_CC_MAX_CONTRACT = 20

#: A pass must shrink the directed edge set to ≤ this fraction or
#: contraction bails to the propagation fallback — guards the
#: pathological structure where hooking stops making progress.
_CC_SHRINK_FACTOR = 0.8


def _cc_contract(
    edges: DataFrame,
    local_ok: bool,
    id_type: str,
    local_threshold: int,
    max_iter: int,
) -> DataFrame:
    """Distributed connected components by **star contraction** — the
    100 TB shape for graphs whose diameter is unknown and possibly
    huge (this corpus's near-dup graph is chain-like: min-label
    propagation needed 23 O(E) rounds at sf100 and its cost per
    round doubled late in the loop; see SCALING.md round 13).

    Per pass: (1) every node hooks to ``min(itself, min neighbor)``
    — one combiner-friendly groupBy over the edge set; (2) edges are
    mapped through the hook labels (two broadcast-hinted equi-joins),
    self-edges dropped, duplicates collapsed by ``distinct``. Every component with ≥2 nodes loses
    every non-local-min node (adjacent nodes cannot both be local
    minima), so the quotient shrinks geometrically and total work
    across all passes is O(E · pass-1-fraction) — a few times E, not
    diameter times E. The residual graph (≤ ``local_threshold``
    directed edges) is solved by the driver union-find; the per-level
    hook maps then compose back node → component-min in |levels|
    node-sized joins. The global minimum of every component is its
    own closed-neighborhood min at every level, so it survives as a
    quotient node to the end and the composed representative is the
    component min — bit-identical output to the propagation loop and
    the recursive-CTE oracle twin.

    Falls back to :func:`_cc_loop` (min-label propagation + pointer
    jumping) only if a pass fails to shrink the edge set to
    ``_CC_SHRINK_FACTOR`` or the non-local id-type gate blocks the
    driver finish."""
    spark = edges.sparkSession
    maps: list[DataFrame] = []  # per-pass hook labels
    cur = edges
    n_cur = cur.count()
    base = None
    for _ in range(_CC_MAX_CONTRACT):
        if n_cur == 0:
            break
        if local_ok and n_cur <= local_threshold:
            base = _cc_local(spark, cur.toPandas(), id_type)
            break
        hooks = (
            cur.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select(
                F.col("src").alias("node"),
                F.least("src", "m").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        la = F.broadcast(hooks.select(F.col("node").alias("sn"), F.col("label").alias("sl")))
        lb = F.broadcast(hooks.select(F.col("node").alias("dn"), F.col("label").alias("dl")))
        nxt = (
            cur.join(la, cur.src == F.col("sn"))
            .join(lb, F.col("dst") == F.col("dn"))
            .select(F.col("sl").alias("src"), F.col("dl").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        maps.append(hooks)
        n_nxt = nxt.count()
        shrunk = n_nxt <= n_cur * _CC_SHRINK_FACTOR
        cur, n_cur = nxt, n_nxt
        if not shrunk:
            break
    if base is None and n_cur > 0:
        # residual too big for the driver (non-local id types) or a
        # non-shrinking pass: finish with the propagation loop on the
        # (much smaller) quotient graph.
        base = _cc_loop(persist_reuse(cur), max_iter)
    if not maps:
        if base is not None:
            return base
        # empty pair set with a non-driver-collectable id type
        return edges.select(
            F.col("src").alias("node"), F.col("dst").alias("cluster_id")
        ).limit(0)
    total = maps[0]
    for hooks in maps[1:]:
        r = F.broadcast(hooks.select(F.col("node").alias("jn"), F.col("label").alias("jl")))
        total = total.join(r, total.label == F.col("jn"), "left").select(
            "node", F.coalesce("jl", "label").alias("label")
        )
    if base is not None:
        r = base.select(
            F.col("node").alias("bn"), F.col("cluster_id").alias("bc")
        )
        total = total.join(r, total.label == F.col("bn"), "left").select(
            "node", F.coalesce("bc", "label").alias("cluster_id")
        )
    else:
        total = total.select("node", F.col("label").alias("cluster_id"))
    return total


#: Node-count ceiling for inlining the local-path result as a VALUES
#: LocalRelation (see _cc_local); bigger results fall back to an RDD.
_LOCAL_RELATION_MAX = 10_000


def _cc_local(spark, edges_pdf, id_type: str = "bigint") -> DataFrame:
    """Driver union-find over a broadcast-sized edge list (a pandas
    frame, already collected by the strategy probe). Bounded by
    ``local_threshold`` edges by construction — never linear in the
    corpus. ``id_type`` is the node ids' Spark type (integral or
    string — enforced by the caller's type gate): the union-find is
    type-agnostic; only the result frame's schema and the VALUES
    inlining depend on it. Min-union on strings is lexicographic —
    the same representative :func:`_cc_loop`'s ``F.min`` picks."""
    integral = id_type != "string"
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edges_pdf.itertuples(index=False):
        if integral:
            src, dst = int(src), int(dst)  # numpy scalars -> plain int
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by min so the representative is the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = parent.keys() | set(parent.values())
    if integral:
        rows = sorted((int(n), int(find(n))) for n in nodes)
    else:
        rows = sorted((str(n), str(find(n))) for n in nodes)
    if integral and rows and len(rows) <= _LOCAL_RELATION_MAX:
        # Inline as a JVM LocalRelation (VALUES): unlike
        # createDataFrame's ExistingRDD — which re-pays a Python
        # pickle round-trip on EVERY downstream action and reports
        # unknown size stats (so joins against it won't broadcast) —
        # a LocalRelation is free to rescan and carries exact row
        # stats, so Catalyst broadcast-joins the label table against
        # the corpus instead of shuffling the corpus. Bounded: the
        # literal text for 10k (long, long) rows is ~200 KB, ~0.1s
        # parse, paid once per query build. (String ids skip the
        # inline — quoting arbitrary text into SQL literals is not
        # worth the escape-correctness risk — and pay the
        # ExistingRDD; integral ids, the dedup pipeline's case, keep
        # the fast path.)
        vals = ",".join(f"({n}L,{c}L)" for n, c in rows)
        return spark.sql(
            f"SELECT col1 AS node, col2 AS cluster_id FROM VALUES {vals}"
        )
    schema = f"node {id_type}, cluster_id {id_type}"
    return spark.createDataFrame(rows or [], schema)


def _cc_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("label"))
        .select("node", F.least("node", "label").alias("label"))
        .localCheckpoint(eager=True)
    )
    # The label table is broadcast-hinted into every round's joins, so
    # each round touches the caller's edge cache in place with ZERO
    # edge shuffles and no sorts (checkpointed labels carry no stats,
    # so without the hint Catalyst plans a sort-merge join that
    # re-exchanges all E rows per round).
    for _ in range(max_iter):
        # Propagate: each node offers its label to every neighbor;
        # a node keeps the min of its own label and all offers.
        lab = F.broadcast(labels)
        offers = edges.join(lab, edges.src == lab.node).select(
            F.col("dst").alias("node"), "label"
        )
        prop = (
            labels.unionAll(offers)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jumping (path halving): follow one's label to *its*
        # label, so the distance to the component minimum roughly
        # halves every round and convergence is O(log diameter)
        # rounds instead of O(diameter) — a long near-dup chain
        # (measured: 8 rounds at sf0.1) collapses in ~3. Labels are
        # min-monotone (label(x) ≤ x), so the jump can only lower,
        # never break, the invariant. The lookup side is the
        # *previous* round's checkpointed table rather than ``prop``
        # itself: self-joining the freshly-unioned plan trips a
        # Catalyst constraint-rewrite bug (NoSuchElementException in
        # UnionBase.rewriteConstraints), and the stale-by-one-round
        # pointer still halves path length.
        jump = (
            prop.alias("x")
            .join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("jnode"), F.col("label").alias("jlabel")
                    )
                ),
                F.col("x.label") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("x.label"), F.coalesce(F.col("jlabel"), F.col("x.label"))
                ).alias("label"),
            )
        )
        # Lazy checkpoint: the convergence probe below is the action
        # that materializes (and lineage-truncates) new_labels, so
        # each round costs ONE Spark job, not two.
        new_labels = jump.localCheckpoint(eager=False)
        changed = (
            new_labels.alias("n")
            .join(F.broadcast(labels.alias("o")), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def attach_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Every document with its duplicate-cluster id and the cluster
    population: (doc_id, cluster_id, cluster_size, is_representative).
    Singletons (no near-dup pair) form their own cluster of size 1.

    The component join is on the document id — at corpus scale the
    label table is |nodes-in-pairs| rows (duplicate mass only, far
    smaller than the corpus), so Catalyst broadcasts it when small and
    hash-joins on the id otherwise."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
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
    bands: int = 4,
    max_iter: int = 50,
    scheme: str = "auto",
    count_memo=None,
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
    2. exact-key candidate join over *distinct* fingerprints only
       (complete by pigeonhole for ``max_hamming``), exact
       ``bit_count(XOR)`` filter. The blocking scheme is
       :func:`~white_elephant_spark.operators.dedup.
       simhash_neardup_pairs`'s ``auto``: Manku block combinations
       (20 tables × ~32-bit keys at h=3) — 16-bit radix bands (the
       r9 third-decade fix) saturate their keyspace near ~10⁶
       distinct fingerprints and went quadratic again at the r11
       fifth-decade probe; ~32-bit keys defer that to ~10¹⁰. Both
       schemes yield the identical verified pair set.
    3. iterative min-label :func:`connected_components` over the
       fingerprint graph — node count = distinct fingerprints, not
       corpus rows.
    4. map every document through its fingerprint to the component
       label; singleton fingerprints keep their own min-doc-id label.

    Output: (doc_id, cluster_id, cluster_size, is_representative) —
    same contract as :func:`attach_clusters`; cluster_id is the min
    doc id of the transitive cluster.

    ``count_memo``: optional ``memo(thunk) -> int`` wrapper around the
    distinct-fingerprint count job (callers with a corpus identity
    pass ``models.get_or_train`` here). The count only feeds the
    blocking-scheme pick and the shuffle-width floor — both
    performance decisions with identical output either way — so a
    memoized value from a prior run of the same corpus is always
    safe, and it removes one full fps-materializing job per call
    (~1.0 s of the gate-scale query, the whole simhash scan at
    probe scale)."""
    from white_elephant_spark.operators.dedup import simhash_neardup_pairs

    # fps is consumed twice (fingerprint collapse + the doc→label map
    # in step 4); persist (lazy) so the md5-per-word simhash scan —
    # the dominant cost — runs a single time: the edge-collection job
    # inside connected_components materializes the cache as a side
    # effect, and the final labeling plan reuses it. An eager
    # localCheckpoint would pay one extra dedicated job for the same
    # reuse. (id, simhash) is 16 bytes/row — tiny vs the corpus.
    fps = persist_reuse(fps)
    # groups feeds the pair explode AND the fid→label map in step 4 —
    # persist so the fingerprint-collapse shuffle over fps runs once
    # per execution, not once per consumer (at probe scale that
    # second aggregation is a full pass over millions of cached fps
    # rows). (fid, simhash) is 16 bytes/row.
    groups = (
        fps.groupBy("simhash")
        .agg(F.min("id").alias("fid"))
        .select(F.col("fid").alias("id"), "simhash")
    ).persist()
    # The collapsed-node count feeds the pair join's blocking-scheme
    # pick (radix-4 below RADIX_AUTO_MAX distinct fingerprints — 5×
    # fewer exploded rows, keyspace nowhere near its ~10⁶ cliff —
    # Manku blocks above, linear to ~10¹⁰) and the shuffle-width
    # floor. Identical output either way, so the oracle twin and
    # every committed hash stay put. count_memo lets the caller
    # serve the count from the model registry instead of paying a
    # dedicated fps-materializing job every execution.
    n_fps = count_memo(groups.count) if count_memo is not None else groups.count()
    fpairs = simhash_neardup_pairs(
        groups, max_hamming=max_hamming, bands=bands, scheme=scheme,
        distinct_fps=n_fps,
    )
    comp = connected_components(fpairs, max_iter=max_iter)
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
