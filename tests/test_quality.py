"""Expectation checks (operators/quality.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from white_elephant_spark.operators import quality as Q

SF = "/root/testdata/sf0.001"


def _events(spark):
    from white_elephant_spark.sources.catalog import load_table

    return load_table(spark, SF, "events")


def test_row_rules_single_pass(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "a@b.com"), (2, None, "nope"), (3, 120.0, None)],
        "id long, score double, email string",
    )
    rep = {
        r["rule"]: r
        for r in Q.check_rows(
            df,
            [
                Q.not_null("score"),
                Q.in_range("score", 0, 100),
                Q.matches("email", r"^[^@]+@[^@]+$"),
            ],
        ).collect()
    }
    assert rep["not_null(score)"]["violations"] == 1
    assert rep["in_range(score,0,100)"]["violations"] == 2  # null + 120
    assert rep["matches(email)"]["violations"] == 2  # bad + null
    assert all(r["total"] == 3 for r in rep.values())


def test_unique_and_fk(spark):
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99), (4, None)], "id int, ref int")
    parent = spark.createDataFrame([(10,), (20,)], "key int")
    rep = Q.check(
        child,
        rules=[Q.not_null("ref")],
        unique=[["ref"]],
        foreign_keys=[("ref", parent, "key")],
    ).collect()
    by = {r["rule"]: r for r in rep}
    assert by["unique(ref)"]["violations"] == 1  # ref=10 twice -> 1 extra
    assert by["fk(ref->key)"]["violations"] == 1  # 99 orphaned; null skipped
    assert by["not_null(ref)"]["violations"] == 1


def test_events_corpus_expectations(spark):
    ev = _events(spark)
    rep = Q.check(
        ev,
        rules=[Q.not_null("event_id"), Q.not_null("user_id"), Q.not_null("event_type")],
        unique=[["event_id"]],
    )
    assert all(r["pass"] for r in rep.collect())


def test_profile_one_pass(spark):
    ev = _events(spark)
    prof = {r["column"]: r for r in Q.profile(ev, ["event_id", "user_id", "event_type"]).collect()}
    n = ev.count()
    assert prof["event_id"]["total"] == n and prof["event_id"]["nulls"] == 0
    # event_id is unique: approx distinct within HLL++ tolerance
    assert abs(prof["event_id"]["approx_distinct"] - n) / n < 0.05
    assert prof["user_id"]["min"] == 0.0 and prof["user_id"]["max"] == 14.0
    # string column: numeric stats absent, distinct present
    assert prof["event_type"]["mean"] is None
    assert prof["event_type"]["approx_distinct"] >= 4


def test_histogram_covers_domain(spark):
    ev = _events(spark)
    h = Q.histogram(ev, "value", nbins=8).collect()
    assert len(h) == 8
    assert [r["bucket"] for r in h] == list(range(8))
    assert sum(r["cnt"] for r in h) == ev.filter(F.col("value").isNotNull()).count()
    # bins tile [min, max] without gaps
    for a, b in zip(h, h[1:]):
        assert abs(a["hi"] - b["lo"]) < 1e-9
