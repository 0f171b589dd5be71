"""Deterministic sampling and dataset splitting.

A 100 TB corpus pipeline needs *reproducible* sampling — re-running
the job, on any cluster layout, must select the same rows, or every
downstream artifact (eval sets, ablations, dedup audits) drifts.
Spark's ``df.sample``/``sampleBy`` draw from per-partition RNG
streams, so their output depends on partitioning; these operators
sample by **content hash** instead: a row is kept iff
``md5(salt || id) mod buckets < rate``. That is partitioning-proof,
engine-portable (md5 is identical everywhere), map-side (no shuffle,
pushes through scans), and trivially consistent across tables — any
engine that can md5 reproduces the exact sample.

The same hash-bucket primitive gives leakage-safe train/test
splitting: hash the *duplicate-cluster id* (see
``operators/clustering``), not the document id, so near-duplicates
can never straddle the split — the standard guard against
train→test contamination in LLM corpus prep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from white_elephant_spark.functions.sqltext import ident, literal

_HEX = "0123456789abcdef"


def hash_bucket(expr: str, buckets: int = 100, salt: str = "") -> str:
    """Uniform bucket in [0, buckets) from md5 of the stringified
    expression (salted), as Spark SQL text. First 8 hex chars → int
    → mod; identical in any engine with md5."""
    h = f"md5(concat({literal(salt)}, CAST({expr} AS STRING)))"
    return f"CAST(CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT) % {buckets} AS INT)"


def sql_hash_bucket(expr: str, buckets: int = 100, salt: str = "") -> str:
    """DuckDB twin of :func:`hash_bucket` — nibble-wise hex parse
    (DuckDB has no base-16 conv)."""
    h = f"md5('{salt}' || CAST({expr} AS VARCHAR))"
    nibbles = " + ".join(
        f"(strpos('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"CAST(({nibbles}) % {buckets} AS INTEGER)"


def stratified_sample_pred(
    strata_expr: str,
    rates: dict[str, int],
    default_rate: int,
    id_expr: str,
    salt: str = "s1",
) -> str:
    """Stratified-sample predicate as Spark SQL text: keep
    ``rates[stratum]`` percent of each stratum (``default_rate`` for
    unlisted strata) as a percent of ``id_expr`` hash buckets, exactly
    reproducible, not a probabilistic draw. A map-side filter: no
    shuffle, and it survives any repartitioning."""
    cases = " ".join(
        f"WHEN {strata_expr} = {literal(v)} THEN {pct}" for v, pct in sorted(rates.items())
    )
    return f"{hash_bucket(id_expr, 100, salt)} < (CASE {cases} ELSE {default_rate} END)"


def sql_stratified_sample_pred(
    strata_expr: str,
    rates: dict[str, int],
    default_rate: int,
    id_expr: str,
    salt: str = "s1",
) -> str:
    """DuckDB WHERE-clause twin of :func:`stratified_sample_pred`."""
    cases = " ".join(
        f"WHEN {strata_expr} = '{v}' THEN {pct}" for v, pct in sorted(rates.items())
    )
    return (
        f"{sql_hash_bucket(id_expr, 100, salt)}"
        f" < (CASE {cases} ELSE {default_rate} END)"
    )


def split_by_cluster(
    docs_clustered: DataFrame,
    train_pct: int = 90,
    cluster_col: str = "cluster_id",
    salt: str = "split1",
) -> DataFrame:
    """'train'/'test' split assigned from the hash of the duplicate
    cluster id — every member of a near-dup cluster lands in the same
    split by construction. Adds ``split``; map-side."""
    bucket = hash_bucket(ident(cluster_col), 100, salt)
    return docs_clustered.withColumn(
        "split", F.expr(f"CASE WHEN {bucket} < {train_pct} THEN 'train' ELSE 'test' END")
    )


def sql_split_expr(cluster_expr: str, train_pct: int = 90, salt: str = "split1") -> str:
    return (
        f"CASE WHEN {sql_hash_bucket(cluster_expr, 100, salt)} < {train_pct}"
        f" THEN 'train' ELSE 'test' END"
    )
