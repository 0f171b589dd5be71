"""Table catalog over the parquet test corpus.

Spark-first replacement for the reference's file-listing/scan layer
(S1-S5 in SURVEY.md §2.1): ``spark.read.parquet`` already provides
small-file combining, hidden-file filtering (``_*``/``.*``), partition
pruning, predicate pushdown and column pruning, so the catalog is just
path resolution + a cache of DataFrames.

At 100 TB these tables would be directory-partitioned (e.g.
``cluster/year/day`` like the reference layout
hadoop/src/java/com/linkedin/whiteelephant/util/JobStatsProcessing.java:62-67);
``load_table`` works unchanged on a partitioned root because Catalyst
resolves partition columns from the directory structure.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS). Spark reads them as
# epoch-nanos longs (spark.sql.legacy.parquet.nanosAsLong, session.py);
# we truncate to microseconds exactly like DuckDB's parquet reader does,
# so engine and oracle see identical instants.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Session confs the engine's semantics depend on, applied even
    when the caller built its own SparkSession (e.g. the verify
    driver): nanos-parquet readability and UTC wall-clock math. Both
    are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Param maps keep the last duplicate key, like the reference's
    # put-in-loop extraction (LineParsing.java:88-92).
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # AQE (adaptive.enabled / coalescePartitions) is deliberately NOT
    # forced here: it already defaults to ON in Spark 3.2+, and
    # forcing it would override a caller that sized it off on purpose
    # (bench.py does, for sub-second local stages).


# Scan-parallelism floor. A parquet file is only splittable at
# row-group boundaries; the test corpus writes ONE row group per
# table, so every scan plans a single task and each CPU-dense map
# stage (simhash votes, shingle hashing, per-token explodes) runs on
# one core of 32. A 100 TB deployment never hits this — its scans
# carry millions of row groups — so the floor is conditional: only
# when the planned scan has fewer partitions than the cluster has
# cores AND the input is big enough for the round-robin shuffle to
# pay for itself does it re-spread. At scale both guards fail and the
# plan is untouched (no extra Exchange).
#
# Only the tables whose consumers do per-row-EXPENSIVE work (token
# explodes, per-word hashing, vector math, hour explodes) are
# spread: for a scan→join→agg relational query the round-robin
# shuffle costs more than the single-core scan it parallelizes.
_SPREAD_TABLES = frozenset({"documents", "embeddings", "events"})
_SPREAD_MIN_BYTES = 256 * 1024


def _input_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _spread_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    cores = spark.sparkContext.defaultParallelism
    try:
        if _input_bytes(path) < _SPREAD_MIN_BYTES:
            return df
    except OSError:
        return df
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)


# DataFrame memo per (session, dir, table). A DataFrame is a logical
# plan — immutable and reusable across queries — but building one costs
# ~0.15s of driver work (parquet footer read for the schema + the
# spread decision), paid by every query × every table it touches. The
# memo makes that a once-per-session cost, exactly like a warehouse
# catalog resolving a table name to a cached plan fragment. Weakly
# keyed on the SparkSession object itself: an ``id()`` key could be
# REUSED by CPython after the old session is garbage-collected,
# serving a plan bound to a stopped session — and dead sessions'
# entries would accumulate forever. Weak keys give stale-proof
# identity and automatic eviction in one move.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Read one catalog table. Accepts a ``<name>.parquet`` file or a
    partitioned directory of the same name. Memoized per session —
    callers get the same immutable plan fragment back.

    ``spread``: override the small-scan round-robin re-spread
    (default: table policy, see ``_SPREAD_TABLES``). Pass ``False``
    from query paths whose FIRST operation is itself an Exchange
    (window/join/non-combinable shuffle): there the spread
    parallelizes only a trivial projection and its shuffle is pure
    overhead — the downstream exchange redistributes anyway. Paths
    with CPU-dense map work before the first exchange (per-token
    hashing, vector math, map-side partial aggregation) keep the
    default. At cluster scale both forms are identical (the spread
    only ever fires when the scan plans fewer partitions than the
    machine has cores)."""
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name, spread)
    hit = per_session.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, sf_dir, name, spread)
    per_session[key] = df
    return df


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    ensure_engine_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(sf_dir, name)
    df = spark.read.parquet(path)
    for c in _NANOS_TS_COLS.get(name, ()):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            # Integer `div`, never `/`: epoch-nanos (~1.7e18) overflow
            # a double's 53-bit mantissa, so float division would be
            # off by hundreds of ns around ms boundaries.
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    if (name in _SPREAD_TABLES) if spread is None else spread:
        df = _spread_small_scan(spark, df, path)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
