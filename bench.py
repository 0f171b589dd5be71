"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly one JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via the ``noop`` sink (JVM-side, no
driver collect) so the measured time is the distributed plan, not
row-shipping to Python.

BASELINE.md documents that the reference publishes no benchmark
numbers, so the comparator with teeth is the DuckDB oracle twin of
every headline query: single-node, vectorized, same parquet inputs,
materialized to a temp table (DuckDB's analogue of the noop sink).
``duckdb_queries``/``duckdb_total``/``spark_over_duckdb`` in the
output give the per-round ratio the 2x gate can bite on.

Measurement policy — STEADY-STATE SERVING: registry-backed queries
(IVF index, MinHash signatures, SemDeDup cells, k-means/PCA maps)
serve trained artifacts from ``.scratch/models/`` when present, the
train-once/serve-many contract the engine is designed around (faiss
builds an index once; every query after reads it). Best-of-N already
reports steady-state for codegen; the disk store extends that to
model builds. For a measured COLD run set ``SPARK_GRAFT_BENCH_COLD=1``:
the model store is redirected to a throwaway temp dir (nothing
pre-built served, nothing trained polluting the real store), each
query runs ONCE (best-of-N would serve the first run's artifacts
from the session memo and throw the cold number away), and the
regression tripwire is skipped (cold-vs-steady flags every served
query by construction). Cold means "no pre-built store" — artifacts
shared across queries still memo-serve within the run.

Regression tripwire, two rules against the most recent committed
``BENCH_r*.json`` at the same SF (``regressions_vs`` names it):

- ``regressions``: absolute — any query slower than 2x its prior
  Spark time. Blind to machine-load drift in both directions (r7
  drifted +13-31% uniformly with DuckDB drifting +8% in the same
  run: noise, correctly unflagged — but a real 1.5x plan regression
  under quiet-machine variance would also pass).
- ``ratio_regressions``: twin-normalized — any query whose
  spark/duckdb ratio grew >1.5x vs the prior artifact's ratio.
  Uniform drift moves both engines and cancels; a Spark-only plan
  regression does not. A ratio comparison is only valid when the
  TWIN is the same query on both sides — a deliberately rewritten
  oracle (r8 gave fuzzy_doc_match a 13x-faster blocked twin with
  Spark's time unchanged) shifts the ratio without any Spark
  regression — so every artifact records per-query oracle hashes
  (``oracle_sha``) and the rule compares only hash-matched queries;
  ``ratio_rule_coverage`` reports how many it actually evaluated
  (0 against pre-hash artifacts, the full headline set after).

Empty lists are the expected state; a populated one is the first
thing to investigate next round.

Flag confirmation: before a flag is recorded, the flagged query gets
up to two additional measured runs and the rules re-evaluate on the
best of all runs (``confirm_flags``; rerun names land in
``confirm_reruns``). Best-of-3 sub-second measurements still swing
~2x under background machine load — back-to-back r8 runs each
flapped one spurious absolute flag on a different query — and a
genuine plan regression is exactly the case that survives extra
runs, so confirmation converts flag noise into at most two extra
query executions per suspect.

Full-artifact sidecar: the driver caps the recorded BENCH_r{N}.json
(r7's tail lost the head of the queries dict entirely), so every run
also writes the complete result object to
``BENCH_full_r{N}_sf{SF}.json`` (N inferred as max committed round +
1; SF in the name so the sf1 gate run can't clobber the sf0.1
artifact); ``prior_bench`` falls back to it when the driver artifact
is unrecoverable.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "rollup_time_units_tz",
    "topk_users_other",
    "usage_cube_hourly",
    "usage_json_api",
    "q10_returned_revenue_topk",
    "semi_anti_customer_join",
    "priority_conditional_agg",
    "bucketed_colocated_join",
    "skew_salted_event_rollup",
    "pivot_event_values",
    "event_types_time_range",
    "dedup_exact",
    "dedup_minhash_jaccard",
    "fuzzy_doc_match",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_profile",
    "asof_latest_order_per_event",
    "event_sessions_batch",
    "dedup_clusters",
    "relevance_scores",
    "pack_sequences",
    "sketch_estimates",
    "scd2_user_segments",
    "label_centroid_classify",
    "leakage_safe_split",
    "corpus_curation",
    "corpus_chunk_pack",
    "embedding_cluster_map",
    "event_funnel_cohorts",
    "excess_attempt_labeling",
]

# A first run up to this cap always gets one confirmation rerun (best
# is reported): when the driver regenerates the corpus, the first
# query to touch each registry artifact pays a one-time retrain —
# recording that as the query's time misstated ann_lsh_topk by 40x in
# round 9 (76s cold-train-first-run vs 1.9s steady, under the old
# rule that single-ran anything over 20s). The confirmation rerun is
# warm and cheap precisely when the first run was cold; when the
# first run was a genuine regression, one duplicate run is the price
# of confirming it. Above the cap nothing reruns — a wall-clock
# guard, not a measurement policy.
SLOW_RERUN_CAP = 120.0
# Hard per-oracle DuckDB ceiling: one intractable oracle must degrade
# to a flagged -1.0, never hang the whole artifact (the round-2 bench
# died rc=124 inside an unbounded recursive-CTE oracle). Overridable
# for above-default-SF runs where honest twins legitimately run long.
ORACLE_TIMEOUT = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "60"))
# Third steady-state run for cheap-to-midrange queries, applied to
# BOTH engines: run-to-run variance at small scale (JIT state,
# codegen warm-up of wide literal expressions, GC timing) is a large
# fraction of the measurement; a third run costs little wall and
# tightens the recorded best. Expensive queries stay at 1-2 runs.
THIRD_RUN_BELOW = 8.0

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def best_time(run_once, cold: bool = False, between=None) -> float:
    """Best-of-N measurement policy, shared in spirit by both engines
    (the DuckDB loop re-implements it around its timeout plumbing):
    every first run up to SLOW_RERUN_CAP gets a confirmation rerun
    (sheds one-time codegen compile AND one-time registry retrains —
    round 9's ann_lsh_topk recorded 76s cold-train vs 1.9s steady
    under the old 20s no-rerun rule), and a best so far under
    THIRD_RUN_BELOW gets a third (run-to-run variance at small scale
    is a large fraction of the measurement). Beyond the cap: one run,
    as a wall-clock guard.

    ``between`` runs before every RERUN (never before the first run):
    at SF>=1 main passes clearCache+gc so reps are measured in cold
    cache mode — without it, queries that persist() shared subplans
    record a cache-ASSISTED best (CacheManager substitutes the first
    rep's fragments into identical later plans), and at sf10 eviction
    makes which mode gets recorded session-state-dependent
    (corpus_curation: cold ~150s vs assisted ~85s — the SCALING.md
    bimodality note). Sub-1 SFs keep the assisted steady state: the
    fragments always fit, the mode is deterministic, and prior
    artifacts are comparable as-is.

    Cold mode records the FIRST run only: a repeat would serve the
    just-trained artifacts from the session memo and min() would
    throw the cold number away. (Artifacts shared across queries
    still memo-serve within the run — cold means "no pre-built
    store", not "amnesia between queries".)"""
    best = run_once()
    if not cold:
        if best <= SLOW_RERUN_CAP:
            if between is not None:
                between()
            best = min(best, run_once())
        if best <= THIRD_RUN_BELOW:
            if between is not None:
                between()
            best = min(best, run_once())
    return best


def duckdb_times(sf_dir: str, names: list[str], qs) -> dict[str, float]:
    """Wall time per headline oracle on DuckDB (all cores, same
    parquet). CREATE TEMP TABLE AS forces full materialization without
    paying Python row conversion — comparable to the noop sink. Each
    oracle runs under a hard timeout enforced by ``con.interrupt()``
    from a timer thread; a timed-out or failing oracle records -1.0
    (flagged, not hidden) and the run continues."""
    import threading

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table: a directory of part files (the
            # synthesized sf1 corpus) — glob it for DuckDB.
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out: dict[str, float] = {}
    for name in names:
        sql = qs[name].oracle
        if not sql:
            continue
        best = None
        # Symmetric with the Spark side's run policy: best-of-2, plus
        # a third run for oracles under THIRD_RUN_BELOW — both engines
        # report steady-state, neither pays one-time compile/IO warmup
        # in its recorded number, and neither gets an extra shot the
        # other doesn't.
        for attempt in range(3):
            timer = threading.Timer(ORACLE_TIMEOUT, con.interrupt)
            timer.start()
            t0 = time.time()
            try:
                con.execute(f"CREATE OR REPLACE TEMP TABLE _bench AS {sql}")
                t = time.time() - t0
                best = t if best is None else min(best, t)
            except Exception:
                best = -1.0 if best is None else best
                break  # timed out or not runnable standalone
            finally:
                timer.cancel()
            if best > SLOW_RERUN_CAP:
                break
            if attempt >= 1 and best > THIRD_RUN_BELOW:
                break
        out[name] = round(best, 3)
    return out


def prior_bench(
    repo: str, sf: float
) -> tuple[str | None, dict[str, float], dict[str, float], dict[str, str]]:
    """(filename, per-query Spark times, per-query DuckDB times,
    per-query oracle hashes) of the most recent committed
    BENCH_r*.json at the same SF — the comparison base for the
    regression tripwires. When the driver artifact can't serve —
    unrecoverable (its capped tail can truncate anywhere — r7's lost
    the whole queries dict), sf-less, or PROVABLY recorded at a
    different SF (the driver's gate runs sf0.1; the sf1 leg only ever
    exists as a sidecar, which is why r9's sf1 run had no prior and
    ``ratio_rule_coverage: 0``) — the committed full sidecar
    ``BENCH_full_r{N}_sf{SF}.json`` for the same round stands in: it
    is the complete record of a real same-SF run in that round, and it
    validates its own sf field. Within a round, a same-SF sidecar that
    carries oracle hashes is preferred even over a usable driver
    artifact: the driver's artifact records none, and the ratio rule
    only compares queries whose hash matches (r14's driver artifact
    gave ``ratio_rule_coverage: 0`` beside a sidecar with 34 hashes).
    (None, {}, {}, {}) when no comparable prior exists."""
    cands = []
    for f in os.listdir(repo):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            cands.append((int(m.group(1)), f))
    for n, f in sorted(cands, reverse=True):
        side = _same_sf_sidecar(repo, n, sf)
        if side is not None and side[3]:
            return side
        # Strict SF match on the driver artifact: a wrapper that lost
        # its top-level "sf" key must not match any SF — a cross-SF
        # comparison flags everything.
        try:
            with open(os.path.join(repo, f)) as fh:
                d = json.load(fh)
            if d.get("sf") == sf:
                times = _bench_times(d)
                if times:
                    return f, times, _duck_times(d), _oracle_shas(d)
        except (OSError, ValueError):
            pass  # unreadable wrapper: sidecar may still stand in
        # Driver artifact unusable FOR THIS SF: the committed full
        # sidecar for the same round (named with the requested SF)
        # stands in.
        if side is not None:
            return side
    return None, {}, {}, {}


def _same_sf_sidecar(
    repo: str, n: int, sf: float
) -> tuple[str, dict[str, float], dict[str, float], dict[str, str]] | None:
    """Round ``n``'s committed ``BENCH_full_r{N}_sf{SF}.json`` as a
    :func:`prior_bench` tuple, or None when it is missing, unreadable
    or recorded at another SF."""
    side = os.path.join(repo, f"BENCH_full_r{n:02d}_sf{sf}.json")
    try:
        with open(side) as fh:
            sd = json.load(fh)
        if sd.get("sf") == sf and isinstance(sd.get("queries"), dict):
            return (
                os.path.basename(side),
                {k: float(v) for k, v in sd["queries"].items()},
                _duck_times(sd),
                _oracle_shas(sd),
            )
    except (OSError, ValueError):
        pass
    return None


def _oracle_shas(d: dict) -> dict[str, str]:
    """Per-query oracle hashes out of a recorded artifact ({} for
    pre-r8 artifacts that never recorded them)."""
    for inner in (d.get("parsed"), d):
        if isinstance(inner, dict) and isinstance(inner.get("oracle_sha"), dict):
            return {k: str(v) for k, v in inner["oracle_sha"].items()}
    return {}


def _duck_times(d: dict) -> dict[str, float]:
    """Per-query DuckDB times out of a recorded bench artifact —
    plain/wrapped shapes, plus the truncated-tail recovery: the
    duckdb_queries dict is decodable from its marker key even when
    the head of the line is gone."""
    for inner in (d.get("parsed"), d):
        if isinstance(inner, dict) and isinstance(inner.get("duckdb_queries"), dict):
            return {k: float(v) for k, v in inner["duckdb_queries"].items()}
    t = d.get("tail")
    if isinstance(t, str):
        marker = '"duckdb_queries":'
        i = t.find(marker)
        if i >= 0:
            try:
                obj, _ = json.JSONDecoder().raw_decode(t[i + len(marker):].lstrip())
            except ValueError:
                return {}
            if isinstance(obj, dict):
                return {k: float(v) for k, v in obj.items()}
    return {}


# Tripwire thresholds — single source for compute_regressions AND
# confirm_flags' early-stop check (they drifted apart once; the
# early-stop also omitted the sha-match condition, wasting confirmation
# reruns on a ratio rule that could never fire for sha-reset queries).
ABS_FACTOR = 2.0  # absolute rule: slower than 2x prior Spark time
RATIO_FACTOR = 1.5  # ratio rule: spark/duckdb ratio grew >1.5x
TIME_FLOOR = 0.05  # below this, measurements are timer jitter


def _abs_flagged(t: float, prior_t: float) -> bool:
    """Absolute tripwire for one query."""
    return prior_t > 0 and t > ABS_FACTOR * prior_t


def _ratio_eligible(
    t: float, d: float, prior_t: float, prior_d: float, sha_match: bool
) -> bool:
    """Whether the twin-normalized rule can evaluate this query: the
    oracle hash must match the prior artifact's (a rewritten twin
    shifts the ratio with zero Spark change — not a regression), and
    all four measurements must exceed the floor (an oracle timeout
    records -1.0 and must not fabricate a ratio; millisecond-scale
    denominators are pure timer jitter)."""
    return sha_match and min(t, d, prior_t, prior_d) >= TIME_FLOOR


def _ratio_flagged(
    t: float, d: float, prior_t: float, prior_d: float, sha_match: bool
) -> bool:
    """Twin-normalized tripwire for one query (False when ineligible)."""
    return _ratio_eligible(t, d, prior_t, prior_d, sha_match) and (t / d) > (
        RATIO_FACTOR * (prior_t / prior_d)
    )


def compute_regressions(
    times: dict[str, float],
    duck: dict[str, float],
    prior_times: dict[str, float],
    prior_duck: dict[str, float],
    oracle_sha: dict[str, str] | None = None,
    prior_sha: dict[str, str] | None = None,
) -> tuple[list[str], list[str], int]:
    """The two tripwires (module docstring): absolute >2x Spark time,
    and twin-normalized >1.5x growth of the spark/duckdb ratio;
    returns (absolute, ratio, ratio_rule_coverage). Per-query
    predicates live in _abs_flagged/_ratio_flagged — shared with the
    confirmation loop's early-stop check so the thresholds can't
    drift. Ratio-skipped queries keep the absolute rule's 2x margin."""
    absolute = sorted(
        n
        for n, t in times.items()
        if n in prior_times and _abs_flagged(t, prior_times[n])
    )
    shas, prior_shas = oracle_sha or {}, prior_sha or {}

    def _sha_match(n: str) -> bool:
        return n in shas and shas[n] == prior_shas.get(n)

    covered = {
        n
        for n, t in times.items()
        if _ratio_eligible(
            t,
            duck.get(n, -1.0),
            prior_times.get(n, 0.0),
            prior_duck.get(n, -1.0),
            _sha_match(n),
        )
    }
    ratio = sorted(
        n
        for n in covered
        if _ratio_flagged(times[n], duck[n], prior_times[n], prior_duck[n], True)
    )
    return absolute, ratio, len(covered)


def confirm_flags(
    times: dict[str, float],
    duck: dict[str, float],
    prior_times: dict[str, float],
    prior_duck: dict[str, float],
    oracle_sha: dict[str, str] | None,
    prior_sha: dict[str, str] | None,
    rerun,
    max_extra: int = 2,
) -> tuple[dict[str, float], list[str], list[str], int, list[str]]:
    """Adaptive confirmation for tripwire flags: a query flagged by
    either rule gets up to ``max_extra`` additional measured runs
    (``rerun(name) -> seconds``), its recorded time becomes the best
    of all runs, and the rules re-evaluate on the updated times. A
    genuine plan regression survives the reruns; single-run machine
    noise does not (observed here: best-of-3 sub-second queries still
    swing ~2x run-to-run under background load, so back-to-back
    artifacts flapped one spurious absolute flag each in opposite
    directions). Queries over SLOW_RERUN_CAP are never rerun — same
    wall-clock guard as best_time. Returns the updated times, the two
    confirmed flag lists, the ratio-rule coverage, and the list of
    queries that were rerun (recorded in the artifact so an audit can
    see which numbers got extra shots and why)."""
    absolute, ratio, cov = compute_regressions(
        times, duck, prior_times, prior_duck, oracle_sha, prior_sha
    )
    reran: list[str] = []
    for name in sorted(set(absolute) | set(ratio)):
        if times[name] > SLOW_RERUN_CAP:
            continue
        reran.append(name)
        best = times[name]
        shas, prior_shas = oracle_sha or {}, prior_sha or {}
        sha_match = name in shas and shas[name] == prior_shas.get(name)
        for _ in range(max_extra):
            best = min(best, rerun(name))
            # Already below both thresholds: stop early. Same
            # per-query predicates as compute_regressions — including
            # the sha-match gate, so a sha-reset absolute-only flag
            # stops as soon as the absolute rule clears instead of
            # rerunning for a ratio rule that can never fire for it.
            p = prior_times.get(name, 0.0)
            pd = prior_duck.get(name, -1.0)
            d = duck.get(name, -1.0)
            if not _abs_flagged(best, p) and not _ratio_flagged(
                best, d, p, pd, sha_match
            ):
                break
        times[name] = round(best, 3)
    if reran:
        absolute, ratio, cov = compute_regressions(
            times, duck, prior_times, prior_duck, oracle_sha, prior_sha
        )
    return times, absolute, ratio, cov, reran


def next_round(repo: str) -> int:
    """Round number this run will be recorded as: one past the highest
    committed BENCH_r{N}.json (the driver writes that file AFTER
    running this script) or BENCH_full_r{N}_*.json sidecar. Counting
    the sidecars too keeps a run from naming its sidecar after a
    committed one and overwriting it (a full run can be committed
    without a BENCH_r file of its round)."""
    highest = 0
    for f in os.listdir(repo):
        m = re.fullmatch(r"BENCH_r(\d+)\.json|BENCH_full_r(\d+)_.*\.json", f)
        if m:
            highest = max(highest, int(m.group(1) or m.group(2)))
    return highest + 1


def _bench_times(d: dict) -> dict[str, float]:
    """Per-query Spark times out of a recorded bench artifact. The
    driver wraps this script's JSON line and may keep only its TAIL
    (head truncated mid-object), so besides the obvious shapes this
    also raw-decodes the first object in the tail — which, for the
    known truncation, is the queries dict itself."""
    for inner in (d.get("parsed"), d):
        if isinstance(inner, dict) and isinstance(inner.get("queries"), dict):
            return {k: float(v) for k, v in inner["queries"].items()}
    t = d.get("tail")
    if isinstance(t, str) and t.lstrip().startswith("{"):
        try:
            obj, end = json.JSONDecoder().raw_decode(t.lstrip())
        except ValueError:
            return {}
        if isinstance(obj.get("queries"), dict):
            return {k: float(v) for k, v in obj["queries"].items()}
        # Bare numeric dict = the known head-truncation landing inside
        # the Spark queries dict. Guard against the OTHER truncation
        # point — inside duckdb_queries, which has the same shape: the
        # Spark dict is printed first, so the marker key must appear
        # AFTER the decoded object; a tail starting inside
        # duckdb_queries has no later marker. Negative values (oracle
        # timeouts, -1.0) only ever occur in the DuckDB dict.
        if (
            obj
            and '"duckdb_queries"' in t.lstrip()[end:]
            and all(
                isinstance(v, (int, float)) and not isinstance(v, bool) and v >= 0
                for v in obj.values()
            )
        ):
            return {k: float(v) for k, v in obj.items()}
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    cold = bool(os.environ.get("SPARK_GRAFT_BENCH_COLD"))
    cold_dir = None
    if cold:
        # Measured cold run: no pre-built model artifacts served, none
        # written where a later steady-state run would find them. The
        # throwaway store is removed on exit (trained parquet indexes
        # are large; repeated cold runs must not accumulate them).
        import atexit
        import shutil
        import tempfile

        cold_dir = tempfile.mkdtemp(prefix="bench-cold-models-")
        os.environ["SPARK_GRAFT_MODEL_DIR"] = cold_dir
        atexit.register(shutil.rmtree, cold_dir, ignore_errors=True)

    from white_elephant_spark.plans.registry import all_queries
    from white_elephant_spark.session import get_spark

    # Fresh served-stats audit log for THIS run (in-process reruns,
    # e.g. tests driving main() twice, must not inherit the last
    # run's serves).
    from white_elephant_spark import models as _models_reset

    _models_reset.reset_stats_served()

    # Shuffle-partition count sized to the bench SF, not the CPU count:
    # at sf<=1 a 32-way shuffle is pure task-scheduling overhead (the
    # whole input fits in a handful of partitions). On a cluster this
    # knob stays high and AQE coalesces instead — see session.py.
    parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "8"))
    # AQE stays ON in the engine's production defaults (session.py) —
    # at the 100 TB target its runtime coalescing/skew handling is a
    # clear win. At bench scale (sub-second stages over a few MB) its
    # per-stage re-planning barrier costs ~15% wall with nothing to
    # re-plan, so the bench sizes it off, the same way it sizes
    # shuffle partitions down from the cluster default.
    spark = get_spark(
        "bench",
        shuffle_partitions=parts,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            # Bounded status stores keep the session lean across ~30
            # sequential queries. Periodic forced GC
            # (spark.cleaner.periodicGC.interval) was measured a net
            # LOSS here: each System.gc() is a stop-the-world full
            # collection that lands inside measured runs (+4s total at
            # sf0.1); the normal G1 cycle on an 8g driver heap reclaims
            # plenty on its own at this run length.
            "spark.sql.ui.retainedExecutions": "2",
            "spark.ui.retainedJobs": "20",
            "spark.ui.retainedStages": "50",
        },
    )
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]
    # JVM/codegen warmup, untimed: the smallest table plus one real
    # shuffle+window+noop-sink plan — the first measured query
    # otherwise pays phase-change costs (executor thread spin-up,
    # first shuffle manager init) that best-of-N can't shed because
    # both runs land in the cold phase (r3: topk_users_other 1.83s
    # recorded vs 0.30s steady-state). Deliberately NOT a headline
    # plan: warming up with the first measured query's exact plan
    # would hand it a hidden extra run the others (and DuckDB) don't
    # get.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    warm = (
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        .groupBy("n_regionkey")
        .agg(_F.count(_F.lit(1)).alias("c"))
        .withColumn(
            "rn", _F.row_number().over(_W.partitionBy("n_regionkey").orderBy("c"))
        )
    )
    warm.write.format("noop").mode("overwrite").save()

    # Run policy: best_time (steady-state reporting; one-time compile
    # and registry-retrain costs shed by the confirmation rerun).
    times: dict[str, float] = {}
    import gc
    import warnings

    from py4j.protocol import Py4JError

    def _measure(name):
        t0 = time.time()
        qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Cache mode between best-of-N reps (see best_time's docstring):
    # SF>=1 clears the block cache between reps so every rep — and the
    # recorded best — is cache-COLD; sub-1 SFs keep the deterministic
    # assisted steady state. The mode follows the SF, and the
    # tripwires compare same-SF artifacts only, so a prior artifact
    # always shares it; it is stamped into the artifact for audits.
    reps_cache_mode = "cold" if sf >= 1.0 else "assisted"

    def _release_persists() -> None:
        # catalog.clearCache() drops Dataset-level persists but NOT
        # RDD-level ones (the localCheckpoint of each
        # streaming/cube_stream micro-batch) — only the async
        # ContextCleaner reaps those. Left in place they keep paying
        # storage/GC pressure into later measurements. Evict them
        # explicitly (blocking) here. Safe: the model registry memoizes
        # Dataset-level persists only (recomputable via lineage);
        # localCheckpoints are per-query transients nothing
        # re-executes after the noop write.
        spark.catalog.clearCache()
        try:
            # py4j JavaMap -> dict view
            jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
        except Py4JError as e:
            warnings.warn(f"persistent RDD listing failed: {e!r}", RuntimeWarning)
            jrdds = []
        for jrdd in jrdds:
            try:
                jrdd.unpersist(True)
            except Py4JError as e:
                warnings.warn(f"RDD unpersist failed: {e!r}", RuntimeWarning)
        gc.collect()

    between = _release_persists if reps_cache_mode == "cold" else None

    for name in names:
        times[name] = round(
            best_time(lambda name=name: _measure(name), cold=cold, between=between), 3
        )
        _release_persists()

    duck = duckdb_times(sf_dir, names, qs)
    duck_total = round(sum(v for v in duck.values() if v >= 0), 3)
    total = round(sum(times.values()), 3)
    repo = os.path.dirname(os.path.abspath(__file__))
    import hashlib

    oracle_sha = {
        n: hashlib.sha256((qs[n].oracle or "").encode()).hexdigest()[:12]
        for n in names
    }
    if cold:
        # Cold first-run times vs a steady-state artifact would flag
        # every served-model query; the tripwires are steady-vs-steady.
        prior_file, prior, prior_duck, prior_sha = None, {}, {}, {}
    else:
        prior_file, prior, prior_duck, prior_sha = prior_bench(repo, sf)
    def _rerun(name):
        # Same measurement conditions as the primary loop, which
        # releases all persists between queries: without this a
        # later query's confirmation rerun inherits an earlier rerun's
        # cached lookup sides/localCheckpoints.
        _release_persists()
        return _measure(name)

    times, regressions, ratio_regressions, ratio_cov, confirm_reruns = confirm_flags(
        times, duck, prior, prior_duck, oracle_sha, prior_sha, _rerun
    )
    total = round(sum(times.values()), 3)
    result = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "duckdb_queries": duck,
        "duckdb_total": duck_total,
        "spark_over_duckdb": round(total / duck_total, 3) if duck_total > 0 else None,
        "regressions": regressions,
        "ratio_regressions": ratio_regressions,
        "ratio_rule_coverage": ratio_cov,
        "regressions_vs": prior_file,
        "confirm_reruns": confirm_reruns,
        "cold": cold,
        "parts": parts,
        "reps_cache_mode": reps_cache_mode,
        "oracle_sha": oracle_sha,
    }
    # Served-statistics stamp (r13 verdict what's-wrong #3): which
    # cached plan-shape scalars (kind="stats" registry entries, e.g.
    # semdedup_count) this run was served, and from
    # which tier. "trained" means the run paid the job itself; "disk"/
    # "memo" means ANALYZE-style metadata was served. Results never
    # depend on these; cold mode (SPARK_GRAFT_BENCH_COLD) redirects the
    # store so every stat is trained. Aggregated (name, corpus, source)
    # → count, sidecar-only to keep the stdout line under the cap.
    try:
        from white_elephant_spark import models as _models

        agg: dict[tuple, int] = {}
        for e in _models.stats_served():
            k = (e["name"], e["corpus"], e["source"])
            agg[k] = agg.get(k, 0) + 1
        result["stats_served"] = [
            {"name": n, "corpus": c, "source": s, "serves": v}
            for (n, c, s), v in sorted(agg.items())
        ]
    except Exception as e:
        result["stats_served_error"] = repr(e)
    # Synthesized-corpus stamp (tools/make_scale_corpus.py writes it):
    # lets the next round prove its regenerated sf1/sf10 corpus is the
    # same content before trusting a cross-round time comparison.
    try:
        with open(os.path.join(sf_dir, "_CORPUS_MANIFEST.json")) as fh:
            result["corpus_manifest"] = json.load(fh)
    except (OSError, ValueError):
        pass
    # Complete sidecar artifact: the driver caps what it records of
    # stdout, so audits (and the next round's tripwire fallback) read
    # this whole object instead of reconstructing it from a tail.
    side = "BENCH_full_r{:02d}_sf{}{}.json".format(
        next_round(repo), sf, "_cold" if cold else ""
    )
    try:
        with open(os.path.join(repo, side), "w") as f:
            json.dump(result, f, indent=1)
        result["full_artifact"] = side
    except OSError:
        pass  # read-only checkout: the stdout line is still complete
    # The driver records only the last ~2000 chars of stdout; r12's
    # full line (3.9 KB: duckdb per-query map + 34 oracle shas) lost
    # its front brace to that cap and parsed as null despite rc=0.
    # stdout carries the slim contract line (~1.4 KB, fits the cap
    # with margin); the bulky audit fields live in the sidecar only.
    slim_keys = (
        "metric", "value", "unit", "queries", "sf", "duckdb_total",
        "spark_over_duckdb", "regressions", "ratio_regressions",
        "ratio_rule_coverage", "regressions_vs", "confirm_reruns",
        "cold", "parts", "reps_cache_mode",
        "full_artifact",
    )
    print(json.dumps({k: result[k] for k in slim_keys if k in result}))


if __name__ == "__main__":
    main()
