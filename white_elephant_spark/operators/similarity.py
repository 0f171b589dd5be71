"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring what a 100 TB vector corpus needs:

- **brute-force cosine top-k** — the exactness baseline. Query set is
  broadcast; the corpus side streams, so the cost is one scan ×
  |queries| dot products, no shuffle until the per-query top-k
  aggregation.
- **LSH (random-hyperplane) bucketing** — the scale path: sign-bit
  sketches from deterministic md5-derived hyperplanes put similar
  vectors in the same bucket; search only touches matching buckets.

Numeric convention: dot products and norms are strict left folds in
double over element index order (explicit codegen sums when the dim
is known, `_dsum_products` folds otherwise, Arrow loops in the same
order) — per-row arithmetic with a fixed operation order is
bit-reproducible across engines and partitionings without decimal
routing. The float→double widen is exact; one final double division
chain produces the cosine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

def _dsum_products(a: Column, b: Column) -> Column:
    """Elementwise-product sum as a strict left fold, in double.

    Array folds are *sequential in element order* in both Spark
    (``aggregate``) and DuckDB (``list_reduce`` -- verified to be a
    strict left fold, not pairwise/SIMD), so unlike a row-order
    ``SUM(double)`` this is bit-reproducible across engines and
    cluster layouts without decimal-arithmetic overhead."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _dot_expr(a: str, b: str, dim: int) -> Column:
    """Explicit ``a[0]*b[0] + a[1]*b[1] + …`` sum for a known ``dim``.

    Value-identical to :func:`_dsum_products` (left-associative double
    adds in element order; the fold's 0.0 seed is additive identity),
    but whole-stage-codegen-compiled instead of an interpreted
    higher-order lambda — measured ~4× faster on the post-pruning
    scoring joins, and with no Arrow transfer of the vectors to a
    Python worker (the round-2 scoring path shipped both 64-float
    arrays per candidate pair)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(f"({terms})")


def _norm_expr(v: str, dim: int) -> Column:
    return F.sqrt(_dot_expr(v, v, dim))


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"{sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)}))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self).
    ``queries`` is expected to be small → broadcast; ranking ties
    break on corpus id for determinism. Pass ``dim`` when known so the
    dot products compile as explicit codegen sums (:func:`_dot_expr`)
    instead of interpreted folds."""
    # NULL vectors can't rank and would kill the pair-cosine Arrow
    # kernel in numpy: drop, don't error.
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    # Norms are computed once per row, not once per pair — at
    # |Q|×|corpus| pair counts that's the dominant saving.
    norm = (
        _norm_expr(vec_col, dim)
        if dim is not None
        else F.sqrt(_dsum_products(F.col(vec_col), F.col(vec_col)))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm.alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nvec"),
        norm.alias("nnorm"),
    )
    dot = (
        _dot_expr("qvec", "nvec", dim)
        if dim is not None
        else _dsum_products(F.col("qvec"), F.col("nvec"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select(
            "query_id",
            "nbr_id",
            (dot / (F.col("qnorm") * F.col("nnorm"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# ------------------------------------------------- LSH hyperplane buckets


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 —
    reproducible everywhere without RNG state."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return vals


def sql_hyperplane_bucket(expr: str, dim: int, planes: int = 6, offset: int = 0) -> str:
    """Sign-bit sketch as DuckDB SQL: bit j = (vec ·
    hyperplane_{offset+j}) >= 0, with the md5-derived hyperplane
    constants inlined as double literals (repr round-trips exactly)
    and the strict-fold dot product. ``offset`` selects a disjoint
    plane family, giving independent sketch tables from the one
    deterministic hyperplane stream."""
    terms = []
    for j in range(planes):
        lit = "[" + ", ".join(repr(v) for v in _hyperplane(dim, offset + j)) + "]"
        terms.append(
            f"CASE WHEN {sql_dot(expr, lit)} >= 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def sql_encoded_buckets(expr: str, dim: int, planes: int, tables: int) -> str:
    """DuckDB twin of :func:`encoded_buckets_arrow`."""
    return (
        "["
        + ", ".join(
            f"({sql_hyperplane_bucket(expr, dim, planes, offset=t * planes)})"
            f" + {t * (1 << planes)}"
            for t in range(tables)
        )
        + "]"
    )


def encoded_buckets_arrow(dim: int, planes: int, tables: int):
    """Per-table bucket ids packed into one flat value space,
    ``table·2^planes + bucket``: two vectors are LSH candidates iff
    their encoded arrays overlap.

    A Pandas UDF over Arrow batches, ~20× faster than the Spark
    expression form it replaced: that form built planes×tables
    higher-order ``aggregate`` lambdas (interpreted per element, the
    one corner of Spark SQL outside whole-stage codegen), which at
    (3, 12) × dim 64 is ~4.6k lambda evaluations *per row* and
    dominated the entire ANN query.

    Parity is exact, not approximate: the accumulation loops over
    elements in index order (``acc += V[:, i] * P[i]``), reproducing
    the strict left fold of :func:`_dsum_products` and DuckDB's
    ``list_reduce`` operation-for-operation in IEEE double, so every
    sign bit — even for dot products within one ulp of zero — matches
    the SQL oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    nplanes = planes * tables
    P = np.array(
        [_hyperplane(dim, j) for j in range(nplanes)], dtype=np.float64
    ).T  # (dim, nplanes)
    bitw = np.array([1 << j for j in range(planes)], dtype=np.int64)
    offsets = np.array([t * (1 << planes) for t in range(tables)], dtype=np.int64)

    @pandas_udf("array<int>")
    def _buckets(v):  # v: pd.Series of array<float> (hints omitted:
        # PEP 563 stringizes them and pandas_udf can't resolve "pd")
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray(v.tolist(), dtype=np.float64)  # float ⊂ double: exact
        acc = np.zeros((V.shape[0], nplanes), dtype=np.float64)
        for i in range(dim):  # strict left fold, element order
            acc += V[:, i : i + 1] * P[i]
        bits = (acc >= 0.0).reshape(V.shape[0], tables, planes)
        buckets = (bits * bitw).sum(axis=2) + offsets
        return pd.Series(list(buckets.astype(np.int32)))

    return _buckets


def encode_for_lsh(
    df: DataFrame,
    dim: int,
    planes: int,
    tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, ``norm``, ``buckets``) — the sketch-indexed form of a
    vector corpus. This is the LSH analogue of a built index: a pure
    function of the corpus and (planes, tables), so it belongs in the
    models registry (train-once/serve-many; parquet round-trips norm
    doubles and bucket ints exactly). Pass the result to
    :func:`lsh_cosine_topk` / :func:`neardup_pairs_lsh` with
    ``pre_encoded=True`` to skip re-encoding on every call."""
    # NULL vectors carry no buckets and would kill the Arrow encoder
    # in numpy (dtype-object batch): drop, don't error.
    df = df.filter(F.col(vec_col).isNotNull())
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm_expr(vec_col, dim).alias("norm"),
        encoded_buckets_arrow(dim, planes, tables)(F.col(vec_col)).alias("buckets"),
    )


def _encoded_guard(col_name: str, planes: int, tables: int):
    """Validate a ``pre_encoded`` buckets column against the call's
    (planes, tables) spec, per row, in codegen. An encoded input built
    at a different spec would silently degrade recall (wrong table
    count / bucket widths); instead the scan fails loudly. Three cheap
    checks on the offset-encoded values (table t's buckets live in
    [t·2^planes, (t+1)·2^planes), and the array is table-ordered):
    the array length must equal ``tables``; the max value must stay
    below ``tables · 2^planes`` (catches a WIDER actual spec); and the
    LAST entry — table ``tables-1``'s bucket — must reach its offset
    ``(tables-1) · 2^planes`` (catches a NARROWER actual ``planes``,
    whose last offset sits lower). With tables == 1 the offsets
    degenerate and a planes mismatch is undetectable from ranges —
    single-table callers pass dim/planes explicitly anyway."""
    col = F.col(col_name)
    ok = (
        (F.size(col) == F.lit(tables))
        & (F.array_max(col) < F.lit(tables * (1 << planes)))
        & (F.element_at(col, tables) >= F.lit((tables - 1) * (1 << planes)))
    )
    return F.when(ok, col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"pre_encoded '{col_name}' does not match planes={planes},"
                    f" tables={tables}: size="
                ),
                F.size(col).cast("string"),
                F.lit(", max bucket="),
                F.array_max(col).cast("string"),
            )
        )
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 3,
    tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_encoded: bool = False,
) -> DataFrame:
    """Approximate top-k via **multi-table** hyperplane LSH: a
    candidate only needs to share a bucket in *any one* of ``tables``
    independent sign-bit sketches — one flipped sign bit no longer
    loses a neighbor (the round-1 single-table recall cliff). Same
    output shape as :func:`cosine_topk`.

    Tuning: recall = 1-(1-p^planes)^tables with p = 1-θ/π. The
    (3, 12) default holds recall@10 ≥ 0.9 on the driver's *diffuse*
    corpus (top-10 neighbors at cos ≈ 0.27, near the sign-LSH
    information floor, so candidate pruning is necessarily weak
    there); on a clustered corpus — the actual near-dup use case,
    neighbors at cos ≥ 0.8 — the same recall allows wider bands
    (planes 8-12) and 10-100× candidate shrink. ``planes``/``tables``
    are the per-corpus knobs; tests/test_dedup_similarity.py asserts
    the recall floor against the exact baseline.

    Plan (the :func:`cosine_topk` contract: the query set fits in a
    broadcast): one corpus scan, candidate test = ``arrays_overlap`` on
    the encoded bucket arrays — no explode, no distinct, no vector
    re-attach joins.

    ``pre_encoded=True``: both inputs already carry ``norm`` /
    ``buckets`` columns (from :func:`encode_for_lsh`, typically
    registry-served) — no per-call Arrow encoding pass."""
    if pre_encoded:
        guard = _encoded_guard("buckets", planes, tables)
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col("norm").alias("qnorm"),
            guard.alias("qb"),
        )
        cv = corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).alias("nvec"),
            F.col("norm").alias("nnorm"),
            guard.alias("cb"),
        )
    else:
        bkts = encoded_buckets_arrow(dim, planes, tables)(F.col(vec_col))
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            _norm_expr(vec_col, dim).alias("qnorm"),
            bkts.alias("qb"),
        )
        cv = corpus.select(
            F.col(id_col).alias("nbr_id"),
            F.col(vec_col).alias("nvec"),
            _norm_expr(vec_col, dim).alias("nnorm"),
            bkts.alias("cb"),
        )
    # Candidate scoring: explicit codegen dot (no Arrow round trip of
    # the candidate pairs' vectors — on the diffuse bench corpus the
    # weakly-pruned candidate set shipped ~100 MB/run to Python).
    cos = (_dot_expr("qvec", "nvec", dim) / (F.col("qnorm") * F.col("nnorm"))).alias(
        "cos_sim"
    )
    scored = (
        F.broadcast(qv)
        .join(
            cv,
            F.arrays_overlap(F.col("qb"), F.col("cb"))
            & (F.col("query_id") != F.col("nbr_id")),
        )
        .select("query_id", "nbr_id", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


# ----------------------------------------------------------- IVF-flat ANN


def _py_norm(vec: list[float]) -> float:
    """Euclidean norm as a strict left fold in double — bit-identical
    to ``sqrt(_dsum_products(v, v))`` in Spark and ``sqrt(list_reduce
    (...))`` in DuckDB (same op sequence, same IEEE rounding)."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def ivf_centroids(
    corpus: DataFrame,
    ncentroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Deterministic sampled coarse quantizer with a **fixed centroid
    budget**: the ``ncentroids`` corpus vectors whose
    ``md5('ivf:' || id)`` sorts lowest — a uniform hash-order sample,
    collected to the driver as ``(cid, vector, norm)``.

    The budget is independent of corpus size (the round-2
    ``id % stride`` rule collected N/stride vectors — linear in N, a
    driver-memory and per-row-ranking blow-up at 100 TB). The top-C
    hash-order selection runs as a distributed TakeOrdered — only C
    rows ever reach the driver, the same bounded model-fetch as
    ``KMeansModel.clusterCenters()`` before broadcasting a trained
    quantizer. Hash-order sampling instead of k-means keeps the
    quantizer a pure function of the corpus, so the DuckDB oracle
    re-derives it exactly (``ORDER BY md5(...) LIMIT C``)."""
    key = F.md5(F.concat(F.lit("ivf:"), F.col(id_col).cast("string")))
    # coalesce(1) bounds the driver transfer to ncentroids rows from
    # ONE task (see ivf_refined_centroids: the terminal TakeOrdered
    # collect returns each partition's local top-C separately, which
    # breaks the "only C rows ever reach the driver" contract for
    # corpus-scaled C on many-partition scans).
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), key.alias("hk"))
        .orderBy("hk", "cid")
        .limit(ncentroids)
        .coalesce(1)
        .collect()
    )
    cents = sorted((r.cid, [float(x) for x in r.cvec]) for r in rows)
    if not cents:
        raise ValueError(f"no centroids: empty corpus ({id_col})")
    return [(cid, vec, _py_norm(vec)) for cid, vec in cents]


#: row-chunk size for centroid-assignment kernels: bounds the
#: transient (chunk × C) cosine matrix — at the corpus-scaled cell
#: counts SemDeDup reaches past sf1 (k ≈ N/250), an unchunked
#: (arrow-batch × k) matrix is hundreds of MB per Python worker and
#: grows linearly with the corpus.
_ASSIGN_CHUNK = 2048

#: cache-blocking of the assignment fold (r13): the (rows × C) dot
#: accumulator at SemDeDup's corpus-scaled C (k ≈ N/250: ~25k cells at
#: the sixth decade) is ~400 MB per chunk, and the strict left fold
#: re-streams it from DRAM — plus a same-size fresh temporary — on
#: every one of the 64 element steps (~50 GB of memory traffic per
#: chunk; the sf300 probe measured the driver pinned at 100% for tens
#: of minutes in exactly this loop). Tiling rows × centroids keeps the
#: accumulator L2-resident; each dots[r,c] is STILL the same strict
#: left fold over the element index, so cosines, tie-breaks and NaN
#: ranking are bit-identical (pinned by
#: tests/test_dedup_similarity.py::test_top1_cells_blocked_equivalence).
_ASSIGN_ROW_BLOCK = 256
_ASSIGN_CENT_TILE = 256


def _top1_cells(V, cids, C, cnorms, dim: int):
    """Nearest-centroid assignment for a row block: (cos DESC, cid
    ASC), exactly the lexsort/ROW_NUMBER rule — NaN cosines rank last,
    ties break to the lowest cid (``cids`` is ascending, argmax takes
    the first maximum). Strict left fold over element index keeps the
    IEEE op sequence of the expression/oracle form; the row×centroid
    blocking (see :data:`_ASSIGN_ROW_BLOCK`) changes only the memory
    access pattern, never any element's op sequence."""
    import numpy as np

    n = V.shape[0]
    ncents = cids.shape[0]
    # (dim, n) contiguous transpose: the fold reads one ELEMENT of
    # every row per step — on row-major V that is a cache line per
    # row; on VT it is a contiguous vector. Pure layout, same values.
    VT = np.ascontiguousarray(V.T)
    vv = np.zeros(n, dtype=np.float64)
    for i in range(dim):  # strict left fold, element order
        col = VT[i]
        vv += col * col
    vnorm = np.sqrt(vv)
    best_cos = np.full(n, -np.inf, dtype=np.float64)
    # All-NaN rows (zero-norm) never win an update and keep cids[0] —
    # identical to the unblocked argmax-over--inf row, which returned
    # index 0.
    best_cid = np.full(n, cids[0], dtype=np.int64)
    buf = np.empty((_ASSIGN_ROW_BLOCK, _ASSIGN_CENT_TILE), dtype=np.float64)
    tmp = np.empty((_ASSIGN_ROW_BLOCK, _ASSIGN_CENT_TILE), dtype=np.float64)
    for r0 in range(0, n, _ASSIGN_ROW_BLOCK):
        r1 = min(r0 + _ASSIGN_ROW_BLOCK, n)
        vn = vnorm[r0:r1]
        for c0 in range(0, ncents, _ASSIGN_CENT_TILE):
            c1 = min(c0 + _ASSIGN_CENT_TILE, ncents)
            dots = buf[: r1 - r0, : c1 - c0]
            t = tmp[: r1 - r0, : c1 - c0]
            dots[:] = 0.0
            for i in range(dim):  # strict left fold, element order
                np.multiply(VT[i, r0:r1, None], C[i, c0:c1], out=t)
                dots += t
            # A zero-norm row divides 0/0 — deliberately NaN, then
            # ranked last (NaN-last lexsort contract). errstate keeps
            # the EXPECTED invalid-divide warning out of the suite so
            # an unexpected one can't hide behind it;
            # tests/test_dedup_similarity.py (zero-norm NaN-last
            # warnings-as-errors test) asserts the behavior explicitly.
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dots / (vn[:, None] * cnorms[c0:c1])
            cos = np.where(np.isnan(cos), -np.inf, cos)
            # within a tile argmax takes the FIRST max (lowest cid —
            # cids ascending); across tiles the strict > keeps the
            # earlier (lower-cid) tile on ties: global first-max.
            loc = np.argmax(cos, axis=1)
            locv = cos[np.arange(r1 - r0), loc]
            upd = locv > best_cos[r0:r1]
            best_cos[r0:r1][upd] = locv[upd]
            best_cid[r0:r1][upd] = cids[c0 + loc[upd]]
    return best_cid


def centroid_ranking_arrow(cents: list[tuple[int, list[float], float]], dim: int):
    """Arrow-batched nearest-centroid assignment: the centroid id
    ranked first by (cosine to the row's vector DESC, cid ASC) — the
    row's IVF cell.

    Replaces a C-wide array of interpreted ``aggregate``-lambda
    cosine structs (C=N/stride expressions × dim elements per row —
    the same non-codegen hot spot as the LSH sketches; see
    :func:`encoded_buckets_arrow`). Accumulation is in element index
    order and the cosine is ``dot / (norm·cnorm)`` with the exact
    operation sequence of the expression form, so cell assignment
    matches the DuckDB oracle's
    ``ROW_NUMBER ... ORDER BY ccos DESC, cid ASC`` bit-for-bit.

    Scale notes (the r9 third-decade fix): the kernel returns ONLY the
    top-1 cell id — the old form materialized the full C-length
    ranking per row and serialized it back through Arrow so the caller
    could take element 1, which at SemDeDup's corpus-scaled C
    (≈N/250) made the UDF output itself O(N·C); and rows are processed
    in :data:`_ASSIGN_CHUNK` blocks so the transient (rows × C) cosine
    matrix stays bounded regardless of Arrow batch size. Query-side
    probe lists (top-nprobe) are computed driver-side over the bounded
    query collect in :func:`ivf_cosine_topk`, not here."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64).T  # (dim, ncents)
    cnorms = np.array([c[2] for c in cents], dtype=np.float64)

    @pandas_udf("bigint")
    def _rank(v):  # v: pd.Series of array<float> (hints omitted, see
        # encoded_buckets_arrow)
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.asarray(v.tolist(), dtype=np.float64)
        out = np.empty(V.shape[0], dtype=np.int64)
        for s in range(0, V.shape[0], _ASSIGN_CHUNK):
            out[s : s + _ASSIGN_CHUNK] = _top1_cells(
                V[s : s + _ASSIGN_CHUNK], cids, C, cnorms, dim
            )
        return pd.Series(out)

    return _rank


def ivf_build_index(
    corpus: DataFrame,
    cents: list[tuple[int, list[float], float]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF inverted lists: every corpus vector tagged with its
    cell id (nbr_id, nvec, nnorm, cid) — one Arrow-batched assignment
    pass against the broadcast quantizer, zero shuffle. This IS the
    index a vector store builds once and serves from; callers that
    serve repeatedly should persist the result and reuse it
    (:mod:`white_elephant_spark.models`)."""
    # NULL vectors can't be assigned a cell and would kill the Arrow
    # ranking kernel in numpy: drop, don't error.
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    norm = _norm_expr(vec_col, dim)
    ranked = centroid_ranking_arrow(cents, dim)
    return corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nvec"),
        norm.alias("nnorm"),
        ranked(F.col(vec_col)).alias("cid"),
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    ncentroids: int = 32,
    nprobe: int = 4,
    refine: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[tuple[int, list[float], float]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into inverted
    lists by nearest sampled centroid, search only each query's
    ``nprobe`` closest lists. Same output shape as :func:`cosine_topk`.

    The 100 TB shape, stage by stage:

    - **quantizer**: C = ``ncentroids`` centroids (fixed budget,
      independent of corpus size), trained on a bounded hash sample
      via one distributed TakeOrdered (``refine>0`` adds driver-local
      exact Lloyd steps over the sample — see
      :func:`ivf_refined_centroids`) and inlined as plan literals —
      executors assign cells in a *map-side projection*, zero
      shuffle, one corpus scan.
    - **cell assignment**: Arrow-batched centroid ranking
      (:func:`centroid_ranking_arrow`) against the broadcast centroid
      matrix — ties break to the lowest cid, so assignment is
      deterministic and the DuckDB oracle's
      ``ROW_NUMBER ... ORDER BY ccos DESC, cid ASC`` reproduces it
      exactly.
    - **probe + join**: queries explode to (query, cid) rows and
      broadcast-hash-join the assigned corpus on ``cid`` — cid is the
      IVF list id and the natural partition key; a corpus vector is in
      exactly one cell and probe cids are distinct, so no dedup step
      is needed (unlike multi-table LSH).
    - scanned fraction ≈ nprobe/C with recall set by how clustered
      the corpus is: on a clustered corpus (IVF's contract — asserted
      ≥ 0.9 recall@10 in tests while scanning ≤ nprobe/C of it) cell
      locality finds neighbors; on a *diffuse* random corpus recall
      degrades toward the scanned fraction — there, exact/sq8 or LSH
      is the right tool. ``refine`` adds exact Lloyd iterations to
      the quantizer (see :func:`ivf_refined_centroids`)."""
    if cents is None:
        if refine > 0:
            cents = ivf_refined_centroids(
                corpus, ncentroids, dim, iters=refine, id_col=id_col, vec_col=vec_col
            )
        else:
            cents = ivf_centroids(corpus, ncentroids, id_col, vec_col)
    cv = (
        index
        if index is not None
        else ivf_build_index(corpus, cents, dim, id_col=id_col, vec_col=vec_col)
    )
    # The query side is broadcast-sized by contract (the round-4 plan
    # DID broadcast it into the candidate join, which collects those
    # rows to the driver anyway), so its probe lists are computed
    # driver-side over the bounded collect — the same strict-fold
    # cosine / (cos DESC, cid ASC) ranking as the Arrow corpus path,
    # in numpy. The candidate scoring then runs as ONE Arrow kernel
    # over the inverted lists with the probe table as a task-closure
    # constant (identical bytes to what a broadcast would ship): each
    # index row in a probed cell is scored against that cell's probing
    # queries with the exact `_dot_expr` op sequence (element-order
    # left fold, ``dot / (qnorm·nnorm)``), so values match the DuckDB
    # oracle bit-for-bit. This replaced two slower query-side forms —
    # the interpreted C·dim-literal centroid expression (~0.7 s
    # parse+codegen at C=32) and a driver-local-relation broadcast
    # join (a `Scan ExistingRDD` whose Python re-serialization cost
    # ~0.4 s on EVERY action).
    import numpy as np
    import pandas as pd

    # NULL query vectors can't rank (same drop rule as cosine_topk).
    qrows = queries.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect()
    cid_arr = np.array([c[0] for c in cents], dtype=np.int64)
    cmat = np.array([c[1] for c in cents], dtype=np.float64).T  # (dim, C)
    cnorm_arr = np.array([c[2] for c in cents], dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], "query_id bigint, nbr_id bigint, cos_sim double, rank bigint"
        )
    qmat = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    nq = qmat.shape[0]
    qdots = np.zeros((nq, cid_arr.shape[0]), dtype=np.float64)
    qvv = np.zeros(nq, dtype=np.float64)
    for i in range(dim):  # strict left fold, element order
        col = qmat[:, i]
        qdots += col[:, None] * cmat[i]
        qvv += col * col
    qcos = qdots / (np.sqrt(qvv)[:, None] * cnorm_arr)
    qorder = np.lexsort((np.broadcast_to(cid_arr, qcos.shape), -qcos))
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    qnorms = np.sqrt(qvv)
    probemap: dict[int, list[int]] = {}
    for j in range(nq):
        for cid in cid_arr[qorder[j, :nprobe]]:
            probemap.setdefault(int(cid), []).append(j)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray(pdf["nvec"].tolist(), dtype=np.float64)
            n = v.shape[0]
            d = np.zeros((n, nq), dtype=np.float64)
            for i in range(dim):  # strict left fold, element order
                col = v[:, i]
                d += col[:, None] * qmat[:, i]
            nn = pdf["nnorm"].to_numpy(dtype=np.float64)
            nid = pdf["nbr_id"].to_numpy(dtype=np.int64)
            cell = pdf["cid"].to_numpy(dtype=np.int64)
            oq, onb, oc = [], [], []
            for cid_val, js in probemap.items():
                rows = np.nonzero(cell == cid_val)[0]
                if rows.size == 0:
                    continue
                for j in js:
                    keep = rows[nid[rows] != qids[j]]
                    if keep.size == 0:
                        continue
                    oq.append(np.full(keep.size, qids[j], dtype=np.int64))
                    onb.append(nid[keep])
                    oc.append(d[keep, j] / (qnorms[j] * nn[keep]))
            if not oq:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(oq),
                    "nbr_id": np.concatenate(onb),
                    "cos_sim": np.concatenate(oc),
                }
            )

    scored = cv.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.999,
    dim: int | None = None,
    planes: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    pre_encoded: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs blocked by multi-table
    hyperplane sign sketches.

    A pair is a candidate iff its encoded bucket arrays overlap in ANY
    table; exact strict-fold cosine ≥ ``threshold`` verifies. With 8
    planes × 6 tables, a true pair at cosine 0.999 flips some sign in
    all six tables with probability ~1e-6 (per-plane flip ≈
    acos(0.999)/π ≈ 1.4%), and exact duplicates/scaled copies share
    every bucket by construction. Blocking is a deterministic function
    of the vector, so an oracle using the same hash family reproduces
    the result exactly — the approximation itself is hash-checkable.
    Candidate volume is Σ_buckets |bucket|², controlled by
    ``planes``; ids-only until the final re-attach. ``block_col``
    (optional) joins the bucket key — candidates must also share the
    block (e.g. a k-means cell for SemDeDup-style semantic dedup),
    which both prunes spurious sketch collisions and caps per-bucket
    mass on heavily clustered corpora.

    Verify layout: ids-only candidates → ``distinct`` → re-attach
    both vectors by join. Minimum shuffle *volume* — the corpus
    vectors move once per side. (A carry-the-vectors variant that
    verifies directly on the bucket join's output was measured
    SLOWER at serving layouts — the wide self-join build side costs
    more than the two narrow re-attach joins save.)

    ``pre_encoded=True``: ``vectors`` already carries ``norm`` /
    ``buckets`` (from :func:`encode_for_lsh` at the same planes ×
    tables, typically registry-served) — no per-call Arrow pass."""
    if pre_encoded:
        bucket_arr = _encoded_guard("buckets", planes, tables)
    else:
        bucket_arr = encoded_buckets_arrow(dim, planes, tables)(F.col(vec_col))
    key_cols = [F.col(id_col).alias("id"), F.explode(bucket_arr).alias("bk")]
    if block_col is not None:
        key_cols.insert(1, F.col(block_col).alias("blk"))
    cond = (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id"))
    if block_col is not None:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    keyed = vectors.select(*key_cols)
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if pre_encoded:
        norm = F.col("norm")
    elif dim is not None:
        norm = _norm_expr(vec_col, dim)
    else:
        norm = F.sqrt(_dsum_products(F.col(vec_col), F.col(vec_col)))
    base = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), norm.alias("norm")
    )
    dot = (
        _dot_expr("va", "vb", dim)
        if dim is not None
        else _dsum_products(F.col("va"), F.col("vb"))
    )
    j1 = cand.join(
        base.select(
            F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("norm").alias("na")
        ),
        "id_a",
    )
    return (
        j1.join(base.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ------------------------------------------------- centroid classification


def label_centroids(
    vecs: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label mean vector (centroid) as (label, centroid) with the
    centroid an ``array<double>`` in dimension order.

    Cross-engine exactness: a distributed SUM(double) over rows is
    summation-order-dependent, so each component is quantized to
    integer micro-units first — ``floor(v · scale)`` is one IEEE
    multiply + floor (bit-identical everywhere), the BIGINT row sum is
    exact in any order, and the final ``sum/scale/n`` is a single
    double division. The quantization error (≤1e-6 per component) is
    a *defined* part of the operator, not drift.

    Shape: one narrow (label, dim) shuffle of integer cells —
    mergeable across partitions/days like every sketch in
    ``operators/sketches.py``."""
    q = F.floor(F.col("v").cast("double") * F.lit(float(scale))).cast("long")
    expl = vecs.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    cells = expl.select("label", "dim", q.alias("q"))
    cent = cells.groupBy("label", "dim").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    comp = cent.select(
        "label",
        "dim",
        (F.col("s").cast("double") / F.lit(float(scale)) / F.col("n")).alias("c"),
    )
    return comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda x: x["c"]
        ).alias("centroid")
    )


def classify_by_centroid(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment by cosine: every vector scored
    against every (broadcast) centroid, top-1 kept with deterministic
    tie-break on the centroid label. Output: (vec_id, label,
    pred_label, cos_sim)."""
    cnorm = (
        _norm_expr("centroid", dim)
        if dim is not None
        else F.sqrt(_dsum_products(F.col("centroid"), F.col("centroid")))
    )
    vnorm = (
        _norm_expr(vec_col, dim)
        if dim is not None
        else F.sqrt(_dsum_products(F.col(vec_col), F.col(vec_col)))
    )
    c = centroids.select(
        F.col("label").alias("pred_label"),
        F.col("centroid").alias("cvec"),
        cnorm.alias("cnorm"),
    )
    v = vecs.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("vvec"),
        vnorm.alias("vnorm"),
    )
    dot = (
        _dot_expr("vvec", "cvec", dim)
        if dim is not None
        else _dsum_products(F.col("vvec"), F.col("cvec"))
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "label",
        "pred_label",
        (dot / (F.col("vnorm") * F.col("cnorm"))).alias("cos_sim"),
    )
    # Per-vector argmax as ONE aggregation, not a window: after the
    # broadcast cross join, every vector's L scored rows sit in the
    # same input partition, so min_by collapses them MAP-SIDE and the
    # exchange carries |vecs| rows — the window form shuffled AND
    # sorted all |vecs|·L rows just to keep rank 1. Ordering key
    # (-cos_sim, pred_label) ascending == (cos_sim desc, pred_label
    # asc): identical pick, including ties (equal key ⇒ equal picked
    # struct). Negation is exact for doubles; cos_sim is non-null/
    # non-NaN here by construction (fixed-dim non-null embeddings,
    # positive norms).
    best = scored.groupBy("vec_id", "label").agg(
        F.min_by(
            F.struct("pred_label", "cos_sim"),
            F.struct((-F.col("cos_sim")).alias("o1"), F.col("pred_label").alias("o2")),
        ).alias("b")
    )
    return best.select("vec_id", "label", "b.pred_label", "b.cos_sim")


def sql_label_centroids(table: str = "embeddings", dim: int = 64, scale: int = 1_000_000) -> str:
    """DuckDB twin of :func:`label_centroids` (+ classify scaffolding):
    yields ``cents`` (label, centroid). 1-indexed dims — only the
    order matters."""
    return f"""
cells AS (
  SELECT label, i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT) AS q
  FROM {table}, unnest(generate_series(1, {dim})) AS t(i)
),
comp AS (
  SELECT label, dim,
         CAST(SUM(q) AS DOUBLE) / {scale} / COUNT(*) AS c
  FROM cells GROUP BY label, dim
),
cents AS (
  SELECT label, list(c ORDER BY dim) AS centroid FROM comp GROUP BY label
)
"""


# ------------------------------------------- int8 scalar quantization ANN


def _qdot_expr(a: str, b: str, dim: int) -> Column:
    """Explicit integer dot product of two quantized array<int>
    columns — exact 64-bit integer arithmetic, order-independent."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS BIGINT) * CAST({b}[{i}] AS BIGINT)" for i in range(dim)
    )
    return F.expr(f"({terms})")


def sq8_scale(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row (s) frame: the corpus-wide max |component| — the symmetric
    scalar-quantization scale. Stays in-plan (broadcast cross join),
    never collected; the DuckDB twin re-derives it identically."""
    # Floored at 1e-30 so a degenerate all-zero corpus quantizes to
    # zeros instead of 0/0 (whose NULL/NaN handling differs between
    # engines).
    return vectors.agg(
        F.greatest(
            F.max(
                F.aggregate(
                    F.col(vec_col),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
                )
            ),
            F.lit(1e-30),
        ).alias("s")
    )


def sq8_quantize(vec_col: str, dim: int, scale_col: str = "s") -> Column:
    """array<int> of ``floor(v * 127 / s + 0.5)`` per component —
    symmetric int8 scalar quantization (4× smaller than float32, 8×
    smaller than the float64 scoring width). ``floor(x + 0.5)``
    half-up rounding is written out explicitly because Spark's
    ``round`` (HALF_UP) and DuckDB's (half-away-from-zero) differ on
    negative halves."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / {scale_col}"
        f" + 0.5) AS INT))"
    )


def sq8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized ANN: int8 scalar quantization → exact *integer* dot
    prefilter to the top ``m`` candidates per query → exact float
    re-rank of those to the final top ``k``. Same output shape as
    :func:`cosine_topk`.

    The 100 TB rationale: the prefilter pass touches 1/4 the bytes of
    a float32 scan (int8 components) and does integer multiply-adds;
    only ``m`` full-precision vectors per query are ever re-read for
    the re-rank. Quantization error shifts the *candidate ranking*
    only — the reported cosine comes from the exact re-rank, and with
    m ≥ 4k recall loss is negligible on real corpora. Everything is
    deterministic: the scale is a corpus aggregate (broadcast, not
    collected), integer dots are exact, and ties break on id — so the
    DuckDB oracle reproduces the sketch *and* its error exactly."""
    m = m or 4 * k
    s = sq8_scale(corpus, vec_col)
    q = queries.crossJoin(F.broadcast(s)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm_expr(vec_col, dim).alias("qnorm"),
        sq8_quantize(vec_col, dim).alias("qq"),
    )
    c = corpus.crossJoin(F.broadcast(s)).select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nvec"),
        _norm_expr(vec_col, dim).alias("nnorm"),
        sq8_quantize(vec_col, dim).alias("nq"),
    )
    # Prefilter ranks NARROW rows — (query_id, nbr_id, qdot), ~24
    # bytes — through the per-query window; the full-precision vectors
    # are re-attached only for the |Q|·m surviving candidates. At
    # corpus scale the alternative (carrying both 64-float arrays
    # through the top-m shuffle) ships the whole candidate set's
    # vectors twice for nothing.
    pre = (
        F.broadcast(q.drop("qvec", "qnorm"))
        .crossJoin(c.drop("nvec", "nnorm"))
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", _qdot_expr("qq", "nq", dim).alias("qdot"))
    )
    wpre = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )
    cand = (
        pre.withColumn("prerank", F.row_number().over(wpre))
        .filter(F.col("prerank") <= m)
        .select("query_id", "nbr_id")
    )
    # |Q|·m candidate ids — broadcast side of the vector re-attach.
    # Vectors/norms come straight from the inputs, NOT from q/c: those
    # embed the scale cross join, and reusing them would recompute the
    # corpus-wide scale aggregate two more times.
    cv = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nvec"),
        _norm_expr(vec_col, dim).alias("nnorm"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm_expr(vec_col, dim).alias("qnorm"),
    )
    rerank = (
        F.broadcast(cand)
        .join(cv, "nbr_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "nbr_id",
            (_dot_expr("qvec", "nvec", dim) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def sql_sq8_quantize(expr: str, scale_expr: str) -> str:
    return (
        f"list_transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0"
        f" / {scale_expr} + 0.5) AS INTEGER))"
    )


def sql_sq8_topk(
    table: str, query_pred: str, k: int = 10, m: int | None = None
) -> str:
    """DuckDB twin of :func:`sq8_cosine_topk` over ``table``
    (vec_id, embedding): SELECT ending CTE chain — embed under WITH."""
    m = m or 4 * k
    qd = (
        "list_reduce(list_transform(list_zip(q.qq, c.nq),"
        " p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)), (a, x) -> a + x)"
    )
    return f"""
sc AS (
  SELECT greatest(MAX(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (a, x) -> greatest(a, x))), 1e-30) AS s
  FROM {table}
),
qz AS (
  SELECT vec_id, embedding,
         {sql_sq8_quantize('embedding', 's')} AS qq
  FROM {table}, sc
),
pre AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
         q.embedding AS qvec, c.embedding AS nvec,
         {qd} AS qdot
  FROM (SELECT vec_id, embedding, qq FROM qz WHERE {query_pred}) q
  JOIN (SELECT vec_id, embedding, qq AS nq FROM qz) c
    ON c.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, nbr_id, qvec, nvec
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qdot DESC, nbr_id ASC) AS prerank
        FROM pre)
  WHERE prerank <= {m}
)
SELECT query_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT query_id, nbr_id,
             {sql_cosine('qvec', 'nvec')} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY {sql_cosine('qvec', 'nvec')} DESC, nbr_id ASC) AS rank
      FROM cand)
WHERE rank <= {k}
"""


#: Default training-sample size per centroid for the refined
#: quantizer — the faiss convention (tens-to-hundreds of vectors per
#: centroid suffice to place cell means; more adds cost, not recall).
TRAIN_PER_CENTROID = 64

#: Hard cap on the total Lloyd training sample. With a corpus-scaled
#: centroid count (SemDeDup) the per-centroid rule alone makes the
#: sample — and the driver's S×C assignment work — grow quadratically
#: with the corpus; the cap keeps training O(cap·C·d) (linear in N
#: through C). 131072 = 2048 centroids at the full 64/centroid; past
#: that, vectors-per-centroid thins gracefully (faiss behaves the
#: same way when its max training points bound binds).
TRAIN_SAMPLE_CAP = 131072


def ivf_refined_centroids(
    corpus: DataFrame,
    ncentroids: int = 32,
    dim: int = 64,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    train_per_centroid: int = TRAIN_PER_CENTROID,
) -> list[tuple[int, list[float], float]]:
    """Lloyd-refined IVF quantizer, trained on a **bounded hash
    sample**: the ``S = ncentroids · train_per_centroid`` corpus
    vectors whose ``md5('ivf:' || id)`` sorts lowest (one distributed
    TakeOrdered — the only cluster job in training; S is a constant,
    independent of corpus size). Seeds are the first ``ncentroids`` of
    the sample in the same hash order — identical to
    :func:`ivf_centroids` since the top-C prefix of the top-S set IS
    the global top-C. The Lloyd iterations then run **driver-local**
    over the S×dim sample matrix with the exact op sequence of the
    distributed/oracle form: assignment by (strict-fold cosine DESC,
    cid ASC), per-cell means in integer micro-units (the
    :func:`label_centroids` convention — summation-order-independent,
    so the DuckDB oracle reproduces the trained centroids
    bit-for-bit).

    Sample training is the standard quantizer contract (faiss trains
    IVF coarse quantizers on ~64-256 vectors per centroid): at 100 TB
    a full-corpus Lloyd pass per iteration would be the dominant cost
    of the whole query, while the sample pass is O(S·C·d) driver
    arithmetic on a ~1 MB matrix. Corpora smaller than S train on
    everything — identical to the full-corpus form. Cells that lose
    every member drop out (their seed attracted nothing — standard
    k-means behavior, deterministic here).

    Scale bound (the r9 third-decade fix): callers with a
    CORPUS-SCALED centroid count (SemDeDup: k ≈ N/250) make
    ``S = k·64`` itself linear in N, so the driver Lloyd's S×k work
    grew QUADRATICALLY — 36 GB of cosine matrix at a 2.1M-vector
    corpus, measured dead one decade past sf1. ``S`` is therefore
    capped at :data:`TRAIN_SAMPLE_CAP` (the DuckDB twin mirrors the
    cap with ``least()``), and the assignment runs in
    :data:`_ASSIGN_CHUNK` row blocks, bounding driver work at
    O(cap·k·d) compute / O(chunk·k) memory — linear in N through k,
    never quadratic. The cap only binds once k·64 > 131072 (k > 2048:
    corpora past ~512k vectors at the SemDeDup cell target), far above
    every correctness/bench SF, so trained centroids are unchanged
    everywhere the oracle runs."""
    import numpy as np

    n_sample = min(ncentroids * train_per_centroid, TRAIN_SAMPLE_CAP)
    key = F.md5(F.concat(F.lit("ivf:"), F.col(id_col).cast("string")))
    # coalesce(1) is load-bearing at scale: a terminal
    # orderBy().limit(n).collect() executes TakeOrdered's collect path,
    # which returns each partition's LOCAL top-n as a separate driver
    # task result — at the sixth decade (sf300, ~30M vectors over ~68
    # scan partitions, corpus-scaled k so n_sample sits at the 131072
    # cap) that crossed spark.driver.maxResultSize (measured: 52 tasks
    # x ~20 MB). Forcing the global top-n through TakeOrdered's
    # distributed form + a single-partition exchange bounds the driver
    # transfer to n_sample rows from ONE task; the per-partition top-n
    # truncation stays executor-side. Same rows, same (hk, tid) order.
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("tid"), F.col(vec_col).alias("tvec"), key.alias("hk"))
        .orderBy("hk", "tid")
        .limit(n_sample)
        .coalesce(1)
        .collect()
    )
    if not rows:
        raise ValueError(f"no centroids: empty corpus ({id_col})")
    seeds = sorted((r.tid, [float(x) for x in r.tvec]) for r in rows[:ncentroids])
    cents = [(cid, vec, _py_norm(vec)) for cid, vec in seeds]
    # dtype=float64 performs the same float(x) widening elementwise in C
    sample = np.array([r.tvec for r in rows], dtype=np.float64)
    for _ in range(iters):
        cids = np.array([c[0] for c in cents], dtype=np.int64)
        cmat = np.array([c[1] for c in cents], dtype=np.float64).T  # (dim, C)
        cnorms = np.array([c[2] for c in cents], dtype=np.float64)
        n = sample.shape[0]
        # chunked assignment: the transient (rows × C) cosine matrix is
        # the quadratic-memory term the r9 cap/chunk fix removes; the
        # per-row arithmetic (_top1_cells) keeps the exact op sequence
        # of centroid_ranking_arrow / sql_cosine.
        top1 = np.empty(n, dtype=np.int64)
        for s0 in range(0, n, _ASSIGN_CHUNK):
            top1[s0 : s0 + _ASSIGN_CHUNK] = _top1_cells(
                sample[s0 : s0 + _ASSIGN_CHUNK], cids, cmat, cnorms, dim
            )
        cents = _lloyd_cell_means(sample, top1, scale, dim)
    return cents


def _lloyd_cell_means(sample, top1, scale: int, dim: int):
    """One exact Lloyd update: per-cell integer-micro-unit means of
    ``sample`` grouped by ``top1`` — [(cid, vec, norm)], cids
    ascending, empty cells dropped.

    Grouped via stable sort + ``reduceat`` (r13): the per-cid
    boolean-mask loop was O(S·C) — ~3.3e9 comparisons per iteration at
    the sixth decade's corpus-scaled C, tens of seconds of driver time
    per Lloyd step. int64 micro-unit sums are
    summation-order-independent, so ANY exact grouping gives the
    identical sums; the mean/norm tail keeps the exact op sequence
    ((s/scale)/count elementwise, then the strict left-fold sum of
    squares and python ``** 0.5`` — NOT np.sqrt, which can differ from
    pow(x, .5) by 1 ulp). Equivalence with the mask-loop form pinned by
    tests/test_dedup_similarity.py::test_lloyd_cell_means_grouped_equivalence."""
    import numpy as np

    q = np.floor(sample * scale).astype(np.int64)  # micro-units
    order = np.argsort(top1, kind="stable")
    st = top1[order]
    qs = q[order]
    starts = np.flatnonzero(np.r_[True, st[1:] != st[:-1]])
    sums = np.add.reduceat(qs, starts, axis=0)
    counts = np.diff(np.r_[starts, len(st)])
    means = sums.astype(np.float64) / scale / counts[:, None]
    nacc = np.zeros(len(starts), dtype=np.float64)
    for i in range(dim):  # strict left fold, element order (_py_norm)
        col = means[:, i]
        nacc += col * col
    mlist = means.tolist()
    nlist = nacc.tolist()
    return [
        (int(st[s]), mlist[j], nlist[j] ** 0.5)
        for j, s in enumerate(starts)
    ]


def sql_ivf_refined_centroids(
    ncentroids: int = 32,
    dim: int = 64,
    iters: int = 1,
    table: str = "embeddings",
    scale: int = 1_000_000,
    train_per_centroid: int = TRAIN_PER_CENTROID,
    k_cte: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivf_refined_centroids`: CTE chain ending
    in ``cents`` (cid, cvec). Embed under WITH. The ``ivftrain`` CTE
    is the bounded hash sample the Lloyd steps run over.

    ``k_cte`` names a one-row CTE with a ``k`` column to make the
    centroid count DATA-DEPENDENT (DuckDB accepts scalar-subquery
    LIMITs): the corpus-scaled-k callers (semantic dedup) must derive
    k from the data on both engines or the blocking wouldn't match.
    The Lloyd-step CTEs are k-independent either way."""
    if k_cte:
        # least() mirrors TRAIN_SAMPLE_CAP for corpus-scaled k — the
        # cap never binds at oracle scales but the twin must state the
        # same sampling rule the engine runs.
        lim_sample = (
            f"(SELECT least(k * {train_per_centroid}, {TRAIN_SAMPLE_CAP})"
            f" FROM {k_cte})"
        )
        lim_k = f"(SELECT k FROM {k_cte})"
    else:
        lim_sample = str(min(ncentroids * train_per_centroid, TRAIN_SAMPLE_CAP))
        lim_k = str(ncentroids)
    chain = [
        f"""ivftrain AS (
  SELECT vec_id, embedding FROM {table}
  WHERE embedding IS NOT NULL
  ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {lim_sample}
)""",
        "c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM ivftrain "
        f"ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {lim_k})",
    ]
    name = "c0"
    for i in range(1, iters + 1):
        chain.append(f"""a{i} AS (
  SELECT e.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid ASC) AS rn
  FROM ivftrain e, {name} c
),
q{i} AS (
  SELECT cid, i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT) AS q
  FROM (SELECT embedding, cid FROM a{i} WHERE rn = 1),
       unnest(generate_series(1, {dim})) AS t(i)
),
m{i} AS (
  SELECT cid, dim, CAST(SUM(q) AS DOUBLE) / {scale} / COUNT(*) AS c
  FROM q{i} GROUP BY cid, dim
),
c{i} AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM m{i} GROUP BY cid)""")
        name = f"c{i}"
    chain.append(f"cents AS (SELECT cid, cvec FROM {name})")
    return ",\n".join(chain)


# ------------------------------------------------------ semantic dedup


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    k_clusters: int = 32,
    dim: int = 64,
    planes: int = 6,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: list[tuple[int, list[float], float]] | None = None,
    blocked: DataFrame | None = None,
    with_sizes: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): documents whose *embeddings* are near-cosine
    duplicates are grouped and one representative kept — the level
    below exact/MinHash dedup, catching paraphrases and templated
    rewrites that share meaning but few shingles.

    Returns (id, component, keep): ``component`` is the minimum id
    reachable through the ≥ threshold pair graph, ``keep`` marks the
    representative (lowest id, deterministic).

    Composition, each stage scale-bounded elsewhere in this module:

    1. k-means cell assignment (bounded-sample quantizer,
       :func:`ivf_refined_centroids` via the k-means wrapper) — the
       SemDeDup blocking step: pairs are only considered within a
       cell, like the paper's within-cluster search;
    2. sign-sketch candidate generation INSIDE the cell
       (:func:`neardup_pairs_lsh` with ``block_col`` — at 0.95 the
       per-plane flip probability is acos(.95)/π ≈ 0.101, so 6
       planes × 8 tables keep a true pair with p ≈ 1-(1-0.899⁶)⁸ ≈
       0.997 while the cell cap keeps buckets small);
    3. exact strict-fold cosine verification (inside step 2);
    4. connected components over the verified pairs
       (:func:`~white_elephant_spark.operators.clustering.connected_components`
       — one lazy union-find task).

    ``model`` / ``blocked`` let a serving layer pass the pre-trained
    cell quantizer and/or the pre-built cell-assignment index (the
    :mod:`white_elephant_spark.models` registry pattern — both are
    pure deterministic artifacts of the corpus, so rebuilding them
    per call repeats identical work); when omitted they are built
    here. ``with_sizes=True`` appends a ``cluster_size`` column
    computed from the component table alone (absent nodes are
    singletons) — bounded by duplicate pairs, never a corpus-wide
    aggregate, and broadcast-attached.
    """
    from white_elephant_spark.operators import clustering
    from white_elephant_spark.operators import clustering_kmeans as km

    if blocked is None:
        if model is None:
            model = km.kmeans_fit(
                vectors, k_clusters, iters=1, dim=dim, id_col=id_col, vec_col=vec_col
            )
        # Cell assignment rides the same one-pass Arrow kernel as the
        # IVF index build — id and vector stay in the row, so no
        # shuffle join back onto the corpus (the model IS the
        # quantizer: same strict-fold ranking, ties to lowest cid).
        blocked = ivf_build_index(
            vectors, model, dim, id_col=id_col, vec_col=vec_col
        ).select(
            F.col("nbr_id").alias(id_col),
            F.col("nvec").alias(vec_col),
            F.col("cid").alias("cluster_id"),
        )
    pairs = neardup_pairs_lsh(
        blocked,
        threshold=threshold,
        dim=dim,
        planes=planes,
        tables=tables,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cluster_id",
    )
    comps = clustering.connected_components(pairs)  # (node, cluster_id)
    all_ids = vectors.select(F.col(id_col).alias("node"))
    labeled = all_ids.join(F.broadcast(comps), "node", "left").select(
        F.col("node").alias("id"),
        F.coalesce(F.col("cluster_id"), F.col("node")).alias("component"),
    )
    out = labeled.withColumn("keep", F.col("id") == F.col("component"))
    if with_sizes:
        # Every member of a non-trivial component appears in comps,
        # so per-component counts over comps ARE the cluster sizes;
        # nodes absent from comps are singletons (size 1). The corpus
        # is never re-aggregated for sizes: only comps is, and its
        # per-component counts are as small as comps itself.
        csize = comps.groupBy(F.col("cluster_id").alias("component")).agg(
            F.count(F.lit(1)).alias("__csz")
        )
        out = (
            out.join(F.broadcast(csize), "component", "left")
            .withColumn("cluster_size", F.coalesce(F.col("__csz"), F.lit(1).cast("long")))
            .drop("__csz")
        )
    return out
