"""Bucketed (pre-shuffled) table layout for co-located joins.

The reference never joins two big datasets — its only latent big-big
join is parsed_jobs ⋈ parsed_confs on jobId (README.md:96-98 in
/root/reference, schemas JobConf.avsc:30 / LogData.avsc:108). At
100 TB that join is the classic shuffle bottleneck: both sides
repartition over the network every time the join runs.

Bucketing is Spark's standing answer: write both tables hash-bucketed
on the join key (``DataFrameWriter.bucketBy``), and every subsequent
equi-join or aggregation on that key reads co-located buckets with
**no Exchange in the plan** — the shuffle is paid once at write time,
then amortized across every downstream query. This is the same trade
the reference makes with its materialized hourly cube (pay at build,
query cheap), applied to join layout.

Sizing note for the 100 TB target: pick ``num_buckets`` so one bucket
of the *larger* table is a few hundred MB (e.g. 30 TB side → 65536
buckets ≈ 460 MB/bucket); both sides must use the same count for
bucket-wise joins. Local tests use small powers of two.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from white_elephant_spark.sources.catalog import ensure_engine_confs


def _safe_name(raw: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", raw)


def _bucket_spec(spark: SparkSession, table: str) -> tuple[tuple[str, ...], int] | None:
    """(bucket columns, bucket count) of a catalog table, from
    ``DESCRIBE EXTENDED`` (the catalog records the physical layout).
    None when the table is not bucketed."""
    cols: tuple[str, ...] | None = None
    n: int | None = None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Num Buckets":
            n = int(r["data_type"])
        elif r["col_name"] == "Bucket Columns":
            cols = tuple(
                c.strip(" `") for c in r["data_type"].strip("[]").split(",") if c.strip()
            )
    if cols is None or n is None:
        return None
    return cols, n


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Materialize ``df`` as a bucketed parquet table and return a
    DataFrame reading it.

    ``sort_cols`` additionally sorts within buckets
    (``DataFrameWriter.sortBy``) so merge-joins skip their sort.
    ``path`` makes the table external (default: session warehouse).
    """
    ensure_engine_confs(spark)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
    return spark.table(table)


def bucketed_pair(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    num_buckets: int = 8,
    tag: str = "we",
    base_dir: str = "/tmp/we_bucketed",
    reuse: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Bucket two join sides on their keys with one shared bucket
    count, so ``left.join(right, left[k]==right[k])`` is co-located.

    ``reuse=True`` returns the existing bucketed tables when they are
    already in the catalog with the expected columns — the entire
    point of the layout is that the bucketing shuffle is paid *once*
    and amortized across every later join, so a repeat call must not
    rewrite. Pass ``reuse=False`` (or a fresh ``tag``/``base_dir``)
    when the source data changed."""
    tag = _safe_name(tag)
    lt, rt = f"we_bkt_{tag}_l", f"we_bkt_{tag}_r"
    if reuse and spark.catalog.tableExists(lt) and spark.catalog.tableExists(rt):
        ldf, rdf = spark.table(lt), spark.table(rt)
        # Columns alone are not identity: the SAME tag re-called
        # with a different key or bucket count would silently get
        # tables co-located on the WRONG key — the join then runs
        # a full shuffle while the caller believes it's co-located.
        # The catalog stores the bucket spec; check it.
        if (
            set(ldf.columns) == set(left.columns)
            and set(rdf.columns) == set(right.columns)
            and _bucket_spec(spark, lt) == ((left_key,), num_buckets)
            and _bucket_spec(spark, rt) == ((right_key,), num_buckets)
        ):
            return ldf, rdf
    ldf = write_bucketed(
        spark, left, lt, [left_key], num_buckets,
        sort_cols=[left_key], path=os.path.join(base_dir, tag, "l"),
    )
    rdf = write_bucketed(
        spark, right, rt, [right_key], num_buckets,
        sort_cols=[right_key], path=os.path.join(base_dir, tag, "r"),
    )
    return ldf, rdf
