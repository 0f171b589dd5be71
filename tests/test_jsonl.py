"""JSONL ingest + quarantine (sources/jsonl.py)."""

from __future__ import annotations

from pyspark.sql import types as T

from white_elephant_spark.sources.jsonl import read_jsonl

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

LINES = [
    '{"id": 1, "text": "hello", "score": 0.5}',
    '{"id": 2, "text": "partial fields ok"}',
    "{broken json",
    '{"unrelated": "shape"}',
    "",
    '{"id": 3, "text": "works", "score": 1.25}',
    "[1, 2, 3]",  # well-formed JSON, wrong shape (array, not object)
    '"just a string"',  # well-formed JSON scalar
]


def _write(tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.jsonl").write_text("\n".join(LINES))
    return str(p)


def test_good_and_quarantine_split(spark, tmp_path):
    good, bad = read_jsonl(spark, _write(tmp_path), SCHEMA)
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {1, 2, 3}
    assert g[1]["score"] == 0.5 and g[2]["score"] is None
    assert g[3]["text"] == "works"
    assert all(r["file"].endswith("a.jsonl") for r in g.values())

    q = sorted((r["reason"], r["line"]) for r in bad.collect())
    assert q == [
        ("malformed_json", "{broken json"),
        ("no_projected_fields", '{"unrelated": "shape"}'),
        ("not_an_object", '"just a string"'),
        ("not_an_object", "[1, 2, 3]"),
    ]
