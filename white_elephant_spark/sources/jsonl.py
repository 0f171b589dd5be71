"""Schema-stable JSONL ingest with corrupt-record quarantine.

The reference ingests fixed-schema Avro and silently drops anything
it can't parse (LineParsing.java:256-259 in /root/reference drops
unknown params; truncated lines vanish in ParseJobsFromLogs.java:205-262).
A corpus pipeline wants the stricter contract: every input line either
becomes a typed row or lands in a quarantine with the raw bytes and
the reason — nothing silently disappears, and re-ingesting the
quarantine after a parser fix is a normal batch run.

Implementation note: this reads the file as *text* and applies
``from_json`` per line, rather than ``spark.read.json`` with a
``_corrupt_record`` column — the corrupt-column route requires
caching the parsed plan to reference the corrupt rows (a documented
Spark limitation) and re-infers types per file. Text + ``from_json``
is one scan, schema-fixed (never inferred — the reference's external
fixed-schema property, SURVEY §1.3), and splits good/bad rows with
plain filters inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["read_jsonl"]


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Parse JSONL at ``path`` against a fixed schema.

    Returns ``(good, quarantine)``:

    - ``good`` — typed rows for every line that parses;
    - ``quarantine`` — (file, line, reason) for every line that does
      not: malformed JSON, or JSON whose every projected field is
      null/missing (the "wrong shape" case a permissive parser lets
      through silently).

    Both derive from ONE text scan; blank lines are ignored.
    """
    raw = (
        spark.read.text(path)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col("value").alias("line"),
        )
        .filter(F.length(F.trim(F.col("line"))) > 0)
    )
    # A PERMISSIVE struct parse yields an all-null row for malformed
    # JSON (never a null struct), so shape is probed separately:
    # ``try_parse_json`` (variant) is NULL exactly when the bytes are
    # not valid JSON at all, while the map-typed parse is NULL for
    # anything that is not a JSON *object* (arrays/scalars included) —
    # the two together split "malformed bytes" from "well-formed JSON
    # of the wrong shape" in the quarantine reason.
    parsed = (
        raw.withColumn("rec", F.from_json(F.col("line"), schema, {"mode": "PERMISSIVE"}))
        .withColumn("valid_json", F.expr("try_parse_json(line)").isNotNull())
        .withColumn(
            "is_object", F.from_json(F.col("line"), "map<string,string>").isNotNull()
        )
    )
    all_null = None
    for f in schema.fields:
        c = F.col("rec").getField(f.name).isNull()
        all_null = c if all_null is None else (all_null & c)
    bad_shape = ~F.col("is_object") | F.col("rec").isNull() | all_null
    good = parsed.filter(~bad_shape).select("file", "rec.*")
    quarantine = parsed.filter(bad_shape).select(
        "file",
        "line",
        F.when(~F.col("valid_json"), F.lit("malformed_json"))
        .when(~F.col("is_object"), F.lit("not_an_object"))
        .otherwise(F.lit("no_projected_fields"))
        .alias("reason"),
    )
    return good, quarantine
