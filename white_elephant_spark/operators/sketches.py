"""Probabilistic sketches with deterministic cross-engine semantics:
HyperLogLog distinct-count, count-min frequency, Bloom membership.

Spark ships sketch aggregates (``approx_count_distinct``,
``approx_percentile``, Bloom join hints), but their binary sketch
formats are engine-private — no external oracle can check them. These
implementations fix the hash family (md5) and keep every arithmetic
step either integer or an exact power of two, so the *same* sketch —
including its approximation error — is reproducible bit-for-bit in
any engine that can md5. That turns "approximate" into "deterministic
approximation": the estimate is checkable, diffable across runs, and
stable under repartitioning.

Scale shapes:
- HLL: one narrow shuffle of (register, rank) pairs, 2^p-row state;
  registers merge with MAX, so partial aggregation is map-side and
  the sketch unions across datasets for free.
- Count-min: d×w integer cells via groupBy — mergeable by cell sum.
- Bloom: the bit set aggregates to one array row and broadcasts to
  the probe side — the classic semi-join prefilter that saves a
  shuffle of the big side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


_HASH_BITS = 60  # 15 hex nibbles — always fits a signed 64-bit lane


def _hash64(col: Column, salt: str = "") -> Column:
    """60-bit nonnegative int from md5 (first 15 hex chars) — fits a
    BIGINT exactly in every engine (no overflow, no ANSI-cast traps);
    portable to any md5-capable engine."""
    h = F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15)
    return F.conv(h, 16, 10).cast("long")


def sql_hash64(expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`_hash64` — nibble-wise hex parse (DuckDB
    has no base-16 conv)."""
    h = f"md5('{salt}' || CAST({expr} AS VARCHAR))"
    nibbles = " + ".join(
        f"(strpos('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"(CAST(({nibbles}) AS BIGINT))"


# ------------------------------------------------------------------ HLL


def sql_hll_estimate(from_cte: str, value_expr: str, p: int = 8) -> str:
    """DuckDB twin of the global estimate: :func:`hll_registers_by`
    regrouped by register, then :func:`hll_estimate_from`."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = sql_hash64(value_expr)
    return f"""
hashed AS (
  SELECT CAST(({h}) % {m} AS INTEGER) AS register,
         ({h}) // {m} AS w
  FROM {from_cte}
),
regs AS (
  SELECT register,
         MAX(CASE WHEN w = 0 THEN {_HASH_BITS - p + 1}
                  ELSE CAST(bit_count((w & -w) - 1) AS INTEGER) + 1 END) AS max_rank
  FROM hashed GROUP BY register
)
SELECT {alpha * m * m!r} / SUM(power(2.0, -max_rank)) AS hll_estimate,
       CAST(COUNT(*) AS BIGINT) AS n_registers
FROM regs
"""


# ------------------------------------------------------------ count-min


def cms_table(
    values: DataFrame, value_col: str, weight: Column | None = None, d: int = 4, w: int = 64
) -> DataFrame:
    """The d×w count-min sketch as (row, bucket, cnt) cells —
    mergeable by cell sum; one narrow shuffle.

    The d rows per value come from ONE scan (posexplode of the d
    bucket hashes), not a d-way union of scans — at 100 TB the input
    pass is the dominant cost and must not multiply with d."""
    buckets = F.array(
        *[(_hash64(F.col(value_col), salt=f"cms{j}") % w).cast("int") for j in range(d)]
    )
    cells = values.select(
        F.posexplode(buckets).alias("r", "bucket"),
        (weight if weight is not None else F.lit(1)).cast("long").alias("n"),
    )
    return cells.groupBy("r", "bucket").agg(F.sum("n").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, d: int = 4, w: int = 64
) -> DataFrame:
    """(key, est) — min over the d cells each key hashes to. The
    sketch is tiny (d×w rows): broadcast to the keys. One scan of the
    key set (posexplode), matching :func:`cms_table`."""
    buckets = F.array(
        *[(_hash64(F.col(key_col), salt=f"cms{j}") % w).cast("int") for j in range(d)]
    )
    probes = keys.select(
        F.col(key_col).alias("key"), F.posexplode(buckets).alias("r", "bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def sql_cms_estimate(
    from_cte: str, value_expr: str, keys_cte: str, key_expr: str, d: int = 4, w: int = 64
) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {j} AS r, CAST(({sql_hash64(value_expr, f'cms{j}')}) % {w} AS INTEGER)"
        f" AS bucket, 1 AS n FROM {from_cte}"
        for j in range(d)
    )
    probes = " UNION ALL ".join(
        f"SELECT {key_expr} AS key, {j} AS r,"
        f" CAST(({sql_hash64(key_expr, f'cms{j}')}) % {w} AS INTEGER) AS bucket"
        f" FROM {keys_cte}"
        for j in range(d)
    )
    return f"""
cells AS ({cells}),
sketch AS (SELECT r, bucket, CAST(SUM(n) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
probes AS ({probes})
SELECT key, MIN(COALESCE(cnt, 0)) AS est
FROM probes LEFT JOIN sketch USING (r, bucket)
GROUP BY key
"""


# --------------------------------------------------------------- bloom


def bloom_bits(values: DataFrame, value_col: str, m: int = 1024, k: int = 3) -> DataFrame:
    """One row holding the sorted distinct bit positions the value set
    lights up — the Bloom filter as a broadcastable array. One scan of
    the build side (explode of the k positions), not k scans."""
    positions = F.array(
        *[(_hash64(F.col(value_col), salt=f"bloom{j}") % m).cast("int") for j in range(k)]
    )
    return (
        values.select(F.explode(positions).alias("pos"))
        .distinct()
        .agg(F.array_sort(F.collect_list("pos")).alias("bits"))
    )


def bloom_probe(
    probe: DataFrame, bits: DataFrame, value_col: str, m: int = 1024, k: int = 3
) -> Column | DataFrame:
    """``might_contain`` column attached to ``probe`` via a broadcast
    cross join of the single-row bit set — the map-side prefilter
    shape (no shuffle of the probe side)."""
    out = probe.crossJoin(F.broadcast(bits))
    cond = F.lit(True)
    for j in range(k):
        p = (_hash64(F.col(value_col), salt=f"bloom{j}") % m).cast("int")
        cond = cond & F.array_contains(F.col("bits"), p)
    return out.withColumn("might_contain", cond).drop("bits")


def hll_registers_by(
    values: DataFrame, group_col: str, value_col: str, p: int = 8
) -> DataFrame:
    """(grp, register, max_rank) — the per-group 2^p-register
    HyperLogLog state.

    register = low ``p`` hash bits; rank = 1 + trailing-zero count of
    the remaining bits (geometric under a uniform hash, like the
    classic leading-zero rank, but computable with pure bit math:
    ``bit_count((w & -w) - 1)``). MAX-mergeable along BOTH axes:
    re-grouping by register alone (max over groups) yields exactly the
    global register state, because max is associative over the same
    row set. Composed queries exploit that to serve the global and
    the per-group estimate from ONE corpus scan."""
    h = _hash64(F.col(value_col))
    reg = (h % (1 << p)).cast("int")
    w = F.shiftright(h, p)
    rank = F.when(w == 0, F.lit(_HASH_BITS - p + 1)).otherwise(
        F.bit_count((w.bitwiseAND(-w)) - 1) + 1
    )
    return (
        values.select(
            F.col(group_col).alias("grp"),
            reg.alias("register"),
            rank.cast("int").alias("rank"),
        )
        .groupBy("grp", "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def _hll_harmonic(p: int) -> Column:
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return (F.lit(alpha * m * m) / F.sum(F.pow(F.lit(2.0), -F.col("max_rank")))).alias(
        "hll_estimate"
    )


def hll_estimate_from(regs: DataFrame, p: int = 8) -> DataFrame:
    """One-row (hll_estimate, n_registers) from a (register, max_rank)
    state, e.g. rolled up from :func:`hll_registers_by`.

    Raw HLL harmonic estimate ``alpha_m * m^2 / sum(2^-M_j)``: every
    2^-M term is an exact power of two and the register count bounds
    the sum well inside double precision, so the harmonic sum is exact
    in any summation order (no DECIMAL routing needed). Bias
    correction branches (linear counting) use ln() and are
    deliberately omitted: raw estimate only, engine-portable."""
    return regs.agg(_hll_harmonic(p), F.count("*").cast("long").alias("n_registers"))


def hll_estimate_by_from(regs_by: DataFrame, p: int = 8) -> DataFrame:
    """(grp, hll_estimate, n_registers) from a (grp, register,
    max_rank) state: :func:`hll_estimate_from` per group."""
    return regs_by.groupBy("grp").agg(
        _hll_harmonic(p), F.count("*").cast("long").alias("n_registers")
    )


def sql_hll_estimate_by(
    from_cte: str, group_expr: str, value_expr: str, p: int = 8
) -> str:
    """DuckDB twin of :func:`hll_registers_by` followed by
    :func:`hll_estimate_by_from`: CTE chain ending in ``hll_by`` (grp,
    hll_estimate, n_registers)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = sql_hash64(value_expr)
    return f"""
bh AS (
  SELECT {group_expr} AS grp,
         CAST(({h}) % {m} AS INTEGER) AS register,
         ({h}) // {m} AS w
  FROM {from_cte}
),
bregs AS (
  SELECT grp, register,
         MAX(CASE WHEN w = 0 THEN {_HASH_BITS - p + 1}
                  ELSE CAST(bit_count((w & -w) - 1) AS INTEGER) + 1 END) AS max_rank
  FROM bh GROUP BY grp, register
),
hll_by AS (
  SELECT grp, {alpha * m * m!r} / SUM(power(2.0, -max_rank)) AS hll_estimate,
         CAST(COUNT(*) AS BIGINT) AS n_registers
  FROM bregs GROUP BY grp
)
"""
