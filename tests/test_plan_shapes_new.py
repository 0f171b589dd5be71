"""Plan-shape guards for the round-3 operators: the properties that
matter at 100 TB, asserted on the physical plan."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from white_elephant_spark.operators.funnel import cohort_retention, funnel_times
from white_elephant_spark.operators.spans import remove_repeated_spans
from white_elephant_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_span_removal_never_cartesian(spark):
    plan = _plan(remove_repeated_spans(_docs(spark), n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # gram-frequency join is an equi-join on the digest
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_rollup_single_fact_shuffle_fused_units(spark):
    """rollup_time_units_tz shuffles the fact table ONCE into the
    30-minute partial and derives ALL five (unit, zone) rollups from
    one explode + one final aggregation (round-13 fusion). The
    round-3 plan did five full-fact shuffles; the round-12 plan five
    partial re-aggregations + union (7 Exchanges). Now: no Union, one
    Generate (the unit-tag explode), and at most 3 Exchanges (scan
    spread + partial agg + final agg)."""
    from white_elephant_spark.plans.registry import all_queries

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_queries()["rollup_time_units_tz"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "Union" not in plan
    assert plan.count("Generate") == 1
    assert plan.count("Exchange") <= 3


def test_fuzzy_join_has_no_nested_loop(spark):
    """Every fuzzy-join stage — main Ed-Join pass, q=1 short-string
    pass, exploded-length ultra-short pass — is an equi-join; no
    length-band nested loop survives at any string length."""
    from white_elephant_spark.operators.fuzzy import fuzzy_join

    docs = _docs(spark)
    left = docs.selectExpr("doc_id AS lid", "substr(text, 1, 12) AS lname")
    right = docs.selectExpr("doc_id AS rid", "substr(text, 1, 12) AS rname")
    plan = _plan(fuzzy_join(left, right, "lname", "rname", max_dist=2, q=5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_joins_are_equi_joins(spark):
    ev = load_table(spark, SF, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts")
    )
    df = funnel_times(ev, [F.col("event_type") == s for s in ("view", "click", "purchase")])
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the event-type filters reach the scan
    assert "PushedFilters" in plan


def test_cohort_retention_two_aggregations_one_join(spark):
    ev = load_table(spark, SF, "events").select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    plan = _plan(cohort_retention(ev, unit="week"))
    assert "CartesianProduct" not in plan
    # first-seen agg + distinct + final agg: partial aggregation
    # (map-side combine) must appear before every exchange
    assert len(re.findall(r"HashAggregate", plan)) >= 4


def _resplitting_lambdas(plan: str) -> list[str]:
    """The ``lambdafunction(...)`` calls in ``plan`` whose body splits
    or regex-tokenizes a string. Lambdas run interpreted and share no
    work with their row, so such a body recomputes the document once
    per array element: quadratic in the document's tokens."""
    found = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        body = plan[m.start():i]
        if "split(" in body or "regexp_extract_all(" in body:
            found.append(body)
    return found


def test_no_lambda_recomputes_its_document(spark):
    """The n-gram builders and text_profile build each element from
    the lambda's own argument, never by indexing back into
    ``split(text)``."""
    from white_elephant_spark.functions import text as tx
    from white_elephant_spark.operators import dedup
    from white_elephant_spark.plans.registry import all_queries

    one = spark.range(1).selectExpr("CAST(id AS STRING) AS text")
    w = tx.tokens("text")
    for expr in (
        dedup.word_ngrams(w, 3),
        dedup.word_ngrams(w, 5),
        tx.dup_ngram_ratio(w),
        tx.top_ngram_frac(w),
    ):
        plan = one.selectExpr(expr)._jdf.queryExecution().analyzed().toString()
        assert "lambdafunction(" in plan
        assert _resplitting_lambdas(plan) == [], plan
    df = all_queries()["text_profile"].fn(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction(" in plan
    assert _resplitting_lambdas(plan) == [], plan
    # the detector itself: the quadratic form it exists to catch
    quad = f"transform(sequence(1, size({w})), i -> element_at({w}, i))"
    assert _resplitting_lambdas(one.selectExpr(quad)._jdf.queryExecution().analyzed().toString())


# py4j commands one warm text_profile build made when the text
# measures were Column-API builders; the SQL-text build must need at
# most a tenth.
COLUMN_API_TEXT_PROFILE_COMMANDS = 1738


def test_text_profile_driver_build_is_bounded(spark, py4j_commands):
    from white_elephant_spark.plans.registry import all_queries

    build = all_queries()["text_profile"].fn
    build(spark, SF)  # warm: table load, first-use class lookups
    sent = py4j_commands(lambda: build(spark, SF))
    assert 0 < sent <= COLUMN_API_TEXT_PROFILE_COMMANDS // 10, sent


def test_funnel_query_is_one_fused_pipeline(spark):
    """event_funnel_cohorts: the two funnel row-kinds come from ONE
    fused pipeline (funnel_first_and_any + explode of structs) — one
    hash(user) Exchange for the funnel half, no cartesian, and the
    fact table is scanned at most 3x total (tagged once + the cohort
    leg's own two scans). The round-4 shape was 18 exchanges and ~8
    scans across three separately-planned legs."""
    from white_elephant_spark.plans.registry import all_queries

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_queries()["event_funnel_cohorts"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one hash(user) exchange feeds the stacked funnel window chains;
    # the second is the cohort leg's own first-seen aggregation
    assert len(re.findall(r"Exchange hashpartitioning\(user#", plan)) == 2
    # tagged (funnel half, once) + the cohort leg's first-seen (used
    # by both the join and the sizes branch) and active scans
    assert len(re.findall(r"Scan parquet", plan)) <= 4


# ------------------------------------------- EXPLAIN.md drift tripwire
# (round-9 VERDICT #4: a silent broadcast→SMJ fallback or an exchange
# regression must fail CI instead of hiding inside bench noise)

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from explain_audit import (  # noqa: E402
    audit,
    drift_violations,
    formatted_plan,
    parse_explain_md,
)

_EXPLAIN_MD = os.path.join(_REPO, "EXPLAIN.md")


def _static_audit(spark, df) -> dict:
    """Audit the statically-planned shape, AQE off — the same
    conditions tools/explain_audit.py recorded EXPLAIN.md under."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return audit(formatted_plan(df))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_no_plan_shape_drift_vs_explain_md(spark):
    """Every bench headline query's plan must stay within the
    committed EXPLAIN.md ceilings: total Exchange count, and per
    hazard join strategy (SMJ/SHJ/BNLJ/Cartesian) count. EXPLAIN.md
    is recorded at sf0.1; this runs at sf0.001, where size-estimate
    driven decisions can only move TOWARD broadcast (smaller sides),
    so the ceilings hold and a structural regression — a plan change
    adding a shuffle, an explicit broadcast lost to a threshold
    change — still trips. Regenerate EXPLAIN.md (tools/
    explain_audit.py) when a plan legitimately changes."""
    from bench import HEADLINE
    from white_elephant_spark.plans.registry import all_queries

    expected = parse_explain_md(_EXPLAIN_MD)
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs and n in expected]
    assert len(names) >= 30, f"EXPLAIN.md lost headline coverage: {len(names)}"
    violations: list[str] = []
    for name in names:
        actual = _static_audit(spark, qs[name].fn(spark, SF))
        violations += drift_violations(name, expected[name], actual)
    assert violations == []


def test_drift_tripwire_is_red_on_broadcast_fallback(spark):
    """Self-check of the tripwire's teeth: replanning q5 with
    autoBroadcastJoinThreshold=-1 (the silent-fallback failure mode —
    non-hinted joins degrade to SortMergeJoin and grow exchanges) must
    produce violations against the committed artifact."""
    from white_elephant_spark.plans.registry import all_queries

    expected = parse_explain_md(_EXPLAIN_MD)["q5_nation_revenue"]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["q5_nation_revenue"].fn(spark, SF)
        actual = _static_audit(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    v = drift_violations("q5_nation_revenue", expected, actual)
    assert any("SortMergeJoin" in x for x in v)
    assert any("exchanges" in x for x in v)


def test_parse_explain_md_roundtrip():
    got = parse_explain_md(_EXPLAIN_MD)
    assert len(got) >= 45
    q5 = got["q5_nation_revenue"]
    assert q5["joins"].get("BroadcastHashJoin", 0) > 0
    assert q5["exchanges"] >= 1
    # 'none' joins parse to an empty dict
    assert got["q1_pricing_summary"]["joins"] == {}
