"""Measurement tooling: bench artifact parsing, the regression
tripwire and its comparison base, the query cache under threads, the
HTTP bench helpers and the scale-corpus predicate. None of them
starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench import (  # noqa: E402
    _bench_times,
    _duck_times,
    compute_regressions,
    next_round,
    prior_bench,
)


# ------------------------------------------------- artifact parsing


def test_bench_times_plain_and_wrapped():
    assert _bench_times({"queries": {"a": 1.0}}) == {"a": 1.0}
    assert _bench_times({"parsed": {"queries": {"b": 2}}}) == {"b": 2.0}


def test_bench_times_truncated_tail():
    # The driver may keep only the TAIL of the JSON line, cut
    # mid-object so the first decodable object is the queries dict —
    # proven by the duckdb_queries marker appearing AFTER it.
    tail = '{"q1": 0.5, "q2": 1.5}, "sf": 0.1, "duckdb_queries": {"q1": 0.1}}'
    assert _bench_times({"tail": tail}) == {"q1": 0.5, "q2": 1.5}
    assert _bench_times({"tail": "not json"}) == {}
    assert _bench_times({}) == {}


def test_bench_times_rejects_duckdb_tail():
    # Truncation landing inside duckdb_queries itself: same all-float
    # shape, but no later marker — must NOT be mistaken for Spark
    # times (it would flag every query where Spark > 2x DuckDB).
    tail = '{"q1": 0.1, "q2": 0.2}, "duckdb_total": 0.3, "spark_over_duckdb": 1.0}'
    assert _bench_times({"tail": tail}) == {}
    # and a dict containing an oracle-timeout -1.0 is DuckDB's even
    # with a stray later marker
    tail2 = '{"q1": -1.0, "q2": 0.2}, "x": "\\"duckdb_queries\\""}'
    assert _bench_times({"tail": tail2}) == {}


def test_prior_bench_same_sf_only(tmp_path):
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 1.0}})
    )
    (tmp_path / "BENCH_r04.json").write_text(
        json.dumps({"sf": 1.0, "queries": {"a": 9.0}})
    )
    # newest artifact is sf1 — an sf0.1 run must skip it and use r03
    fname, times, _duck, _sha = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_r03.json" and times == {"a": 1.0}
    # and no comparable prior at an unseen SF
    assert prior_bench(str(tmp_path), 0.01) == (None, {}, {}, {})


def test_prior_bench_prefers_most_recent_round(tmp_path):
    for r, t in [(2, 5.0), (10, 7.0)]:
        (tmp_path / f"BENCH_r{r:02d}.json").write_text(
            json.dumps({"sf": 0.1, "queries": {"a": t}})
        )
    fname, times, _duck, _sha = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_r10.json" and times == {"a": 7.0}


def test_prior_bench_requires_explicit_sf(tmp_path):
    # an artifact whose wrapper lost the "sf" key matches NOTHING —
    # treating it as wildcard would enable cross-SF comparisons that
    # flag every query
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"queries": {"a": 1.0}}))
    assert prior_bench(str(tmp_path), 0.1) == (None, {}, {}, {})


def test_prior_bench_falls_back_to_full_sidecar(tmp_path):
    # r7's driver artifact truncated the tail MID-VALUE — nothing
    # recoverable. The committed full sidecar for the same round (and
    # same SF) stands in.
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"sf": 0.1, "tail": '.934, "topk": 0.409, "usage', "parsed": None})
    )
    (tmp_path / "BENCH_full_r07_sf0.1.json").write_text(
        json.dumps(
            {"sf": 0.1, "queries": {"a": 1.0}, "duckdb_queries": {"a": 0.5}}
        )
    )
    fname, times, duck, _sha = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_full_r07_sf0.1.json"
    assert times == {"a": 1.0} and duck == {"a": 0.5}
    # a sidecar at the WRONG SF must not stand in
    (tmp_path / "BENCH_full_r07_sf0.1.json").write_text(
        json.dumps({"sf": 1.0, "queries": {"a": 9.0}})
    )
    assert prior_bench(str(tmp_path), 0.1) == (None, {}, {}, {})


def test_prior_bench_sidecar_covers_unparseable_and_sfless_wrappers(tmp_path):
    # a driver artifact that is NOT valid JSON at all (capped raw
    # text) must still fall back to its same-round sidecar
    (tmp_path / "BENCH_r09.json").write_text('{"n": 1, "rc": 0, "tail": "que')
    (tmp_path / "BENCH_full_r09_sf0.1.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 2.0}, "duckdb_queries": {"a": 1.0}})
    )
    fname, times, duck, _sha = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_full_r09_sf0.1.json" and times == {"a": 2.0}
    # an sf-less wrapper likewise
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({"queries": {"a": 9.9}}))
    fname, times, _, _ = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_full_r09_sf0.1.json" and times == {"a": 2.0}
    # a round recorded at a DIFFERENT SF never serves its own numbers,
    # but its same-round sidecar AT THE REQUESTED SF does stand in —
    # that sidecar is the complete record of a real same-SF run
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"sf": 1.0, "queries": {"a": 5.0}})
    )
    fname, times, _, _ = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_full_r09_sf0.1.json" and times == {"a": 2.0}
    # and with no same-SF sidecar either, the round contributes nothing
    (tmp_path / "BENCH_full_r09_sf0.1.json").unlink()
    assert prior_bench(str(tmp_path), 0.1) == (None, {}, {}, {})


def test_prior_bench_sf1_leg_uses_prior_round_sidecar(tmp_path):
    # The exact r9->r10 sf1 scenario: every driver artifact is the
    # sf0.1 gate run; the sf1 leg exists only as committed sidecars.
    # An sf=1.0 run must find the newest round's sf1.0 sidecar so the
    # ratio tripwire covers the sf1 leg (r9 ran with regressions_vs
    # null / coverage 0 because this fallback didn't exist).
    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 1.0}})
    )
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 1.0}})
    )
    (tmp_path / "BENCH_full_r08_sf1.0.json").write_text(
        json.dumps(
            {
                "sf": 1.0,
                "queries": {"a": 8.0},
                "duckdb_queries": {"a": 4.0},
                "oracle_sha": {"a": "s8"},
            }
        )
    )
    (tmp_path / "BENCH_full_r09_sf1.0.json").write_text(
        json.dumps(
            {
                "sf": 1.0,
                "queries": {"a": 9.0},
                "duckdb_queries": {"a": 4.5},
                "oracle_sha": {"a": "s9"},
            }
        )
    )
    fname, times, duck, sha = prior_bench(str(tmp_path), 1.0)
    assert fname == "BENCH_full_r09_sf1.0.json"
    assert times == {"a": 9.0} and duck == {"a": 4.5} and sha == {"a": "s9"}
    # the sf0.1 gate still prefers the driver artifact, untouched
    fname, times, _, _ = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_r09.json" and times == {"a": 1.0}


def test_prior_bench_prefers_hashed_same_round_sidecar(tmp_path):
    # The driver artifact records times but no oracle hashes, so the
    # hash-gated ratio rule would cover zero queries; the same round's
    # same-SF sidecar carries the hashes and must be the prior.
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 1.0}})
    )
    (tmp_path / "BENCH_full_r02_sf0.1.json").write_text(
        json.dumps(
            {
                "sf": 0.1,
                "queries": {"a": 1.1},
                "duckdb_queries": {"a": 0.5},
                "oracle_sha": {"a": "s2"},
            }
        )
    )
    fname, times, duck, sha = prior_bench(str(tmp_path), 0.1)
    assert fname == "BENCH_full_r02_sf0.1.json"
    assert sha == {"a": "s2"} and times == {"a": 1.1} and duck == {"a": 0.5}


def test_ratio_tripwire_has_noise_floor():
    # millisecond-scale twins: dividing timer jitter must not flag
    # (DuckDB finishes several real twins in ~0.01s)
    assert compute_regressions(
        {"a": 0.4}, {"a": 0.002}, {"a": 0.4}, {"a": 0.004}, SHA, SHA
    ) == ([], [], 0)
    # at honest magnitudes the same 2x ratio growth still flags
    assert compute_regressions(
        {"a": 4.0}, {"a": 2.0}, {"a": 4.0}, {"a": 4.0}, SHA, SHA
    ) == ([], ["a"], 1)


def test_duck_times_shapes():
    assert _duck_times({"duckdb_queries": {"a": 0.5}}) == {"a": 0.5}
    assert _duck_times({"parsed": {"duckdb_queries": {"a": -1.0}}}) == {"a": -1.0}
    # truncated tail: the duckdb dict is recoverable from its marker
    tail = '0.4}, "sf": 0.1, "duckdb_queries": {"a": 0.1, "b": -1.0}, "x": 1}'
    assert _duck_times({"tail": tail}) == {"a": 0.1, "b": -1.0}
    assert _duck_times({"tail": "no marker"}) == {}
    assert _duck_times({}) == {}


def test_next_round(tmp_path):
    assert next_round(str(tmp_path)) == 1
    (tmp_path / "BENCH_r07.json").write_text("{}")
    (tmp_path / "BENCH_r03.json").write_text("{}")
    assert next_round(str(tmp_path)) == 8
    # A committed sidecar past the highest driver artifact: this run's
    # sidecar would be named after it and overwrite it.
    (tmp_path / "BENCH_full_r08_sf0.1.json").write_text("{}")
    assert next_round(str(tmp_path)) == 9
    (tmp_path / "BENCH_r13_c8.json").write_text("{}")  # not a round artifact
    assert next_round(str(tmp_path)) == 9


# ------------------------------------------------ regression tripwires


SHA = {"a": "h1", "b": "h2"}


def test_absolute_tripwire_flags_2x():
    regress, _, _ = compute_regressions(
        {"a": 2.1, "b": 1.9}, {}, {"a": 1.0, "b": 1.0}, {}
    )
    assert regress == ["a"]


def test_ratio_tripwire_is_noise_immune():
    # Uniform 1.3x machine drift hits BOTH engines: absolute rule
    # stays quiet (below 2x), ratio rule stays quiet (ratio unchanged).
    prior_t = {"a": 1.0, "b": 2.0}
    prior_d = {"a": 0.5, "b": 1.0}
    now_t = {k: v * 1.3 for k, v in prior_t.items()}
    now_d = {k: v * 1.3 for k, v in prior_d.items()}
    assert compute_regressions(now_t, now_d, prior_t, prior_d, SHA, SHA) == ([], [], 2)


def test_ratio_tripwire_catches_spark_only_regression():
    # A Spark-only 1.6x slowdown on one query hides under the 2x
    # absolute rule but moves the spark/duckdb ratio 1.6x: flagged.
    prior_t = {"a": 1.0, "b": 2.0}
    prior_d = {"a": 0.5, "b": 1.0}
    now_t = {"a": 1.6, "b": 2.0}
    absolute, ratio, cov = compute_regressions(
        prior_t | now_t, prior_d, prior_t, prior_d, SHA, SHA
    )
    assert absolute == [] and ratio == ["a"] and cov == 2


def test_ratio_tripwire_skips_oracle_timeouts():
    # a -1.0 (timed-out oracle) on either side must not fabricate a
    # ratio — the query is simply not ratio-comparable
    assert compute_regressions(
        {"a": 9.0}, {"a": -1.0}, {"a": 1.0}, {"a": 0.5}, SHA, SHA
    ) == (["a"], [], 0)
    assert compute_regressions(
        {"a": 1.0}, {"a": 0.5}, {"a": 1.0}, {"a": -1.0}, SHA, SHA
    ) == ([], [], 0)


def test_confirm_flags_clears_noise_spike():
    # A single-run noise spike (2.5x prior) whose reruns land back at
    # the prior level: the flag clears, the recorded time is the best
    # of all runs, and the rerun is recorded for the audit trail.
    from bench import confirm_flags

    times = {"a": 2.5, "b": 1.0}
    prior = {"a": 1.0, "b": 1.0}
    t, absolute, ratio, _, reran = confirm_flags(
        times, {}, prior, {}, None, None, lambda n: 1.05
    )
    assert absolute == [] and ratio == []
    assert t["a"] == 1.05 and reran == ["a"]


def test_confirm_flags_keeps_genuine_regression():
    # Reruns that stay 2.5x prior: the flag survives confirmation.
    from bench import confirm_flags

    t, absolute, _, _, reran = confirm_flags(
        {"a": 2.5}, {}, {"a": 1.0}, {}, None, None, lambda n: 2.6
    )
    assert absolute == ["a"] and t["a"] == 2.5 and reran == ["a"]


def test_confirm_flags_reruns_ratio_flagged_query():
    # Spark-only ratio spike from noise: confirmation reruns pull the
    # time back under the 1.5x ratio growth and the flag clears.
    from bench import confirm_flags

    prior_t, prior_d = {"a": 1.0, "b": 2.0}, {"a": 0.5, "b": 1.0}
    times, duck = {"a": 1.7, "b": 2.0}, dict(prior_d)
    t, absolute, ratio, cov, reran = confirm_flags(
        times, duck, prior_t, prior_d, SHA, SHA, lambda n: 1.0
    )
    assert absolute == [] and ratio == [] and cov == 2 and reran == ["a"]
    assert t["a"] == 1.0


def test_confirm_flags_early_stop_is_sha_gated():
    # A sha-RESET query (oracle rewritten) flagged only by the
    # absolute rule: the early-stop must consult the same sha-gated
    # ratio predicate as compute_regressions — once the absolute rule
    # clears, no second rerun should be spent on a ratio rule that can
    # never fire for a sha-mismatched query. (The old inline check
    # omitted the sha condition and kept rerunning.)
    from bench import confirm_flags

    calls = []

    def rerun(n):
        calls.append(n)
        return 1.8  # clears the absolute rule (2x=2.0) on rerun 1

    prior_t, prior_d = {"a": 1.0}, {"a": 0.1}
    times, duck = {"a": 2.5}, {"a": 0.1}
    # At best=1.8 the raw ratio (18 vs prior 10) would still exceed
    # 1.5x — the ungated check kept rerunning here; the sha gate makes
    # one rerun suffice because the ratio rule can't apply.
    t, absolute, ratio, cov, reran = confirm_flags(
        times, duck, prior_t, prior_d, {"a": "new"}, {"a": "old"}, rerun
    )
    assert absolute == [] and ratio == [] and cov == 0
    assert reran == ["a"] and len(calls) == 1 and t["a"] == 1.8


def test_confirm_flags_never_reruns_above_cap():
    # Wall-clock guard: a flagged query over SLOW_RERUN_CAP keeps its
    # single measurement and its flag — no confirmation runs.
    from bench import SLOW_RERUN_CAP, confirm_flags

    calls = []

    def rerun(n):
        calls.append(n)
        return 1.0

    big = SLOW_RERUN_CAP + 10.0
    t, absolute, _, _, reran = confirm_flags(
        {"a": big}, {}, {"a": 1.0}, {}, None, None, rerun
    )
    assert absolute == ["a"] and calls == [] and reran == []
    assert t["a"] == big


# ----------------------------------------------- cache concurrency


def test_query_cache_thread_safety():
    # The HTTP daemon hits one QueryCache from concurrent handler
    # threads; interleaved get/invalidate must never raise (the
    # pre-lock code could KeyError on a double-delete of a stale
    # entry), must count every call once, must stay within its bound
    # and must never build one (key, generation) twice: a build while
    # the key is cached or already being built (two same-key misses
    # racing each other). Rebuilding an LRU-evicted key is fine.
    import threading

    from white_elephant_spark.plans.cache import QueryCache

    class FakeDF:
        def collect(self):
            return []

    cache = QueryCache(max_entries=4)
    errors: list = []
    twice: list = []
    sizes: list = []
    calls = 8 * 200

    def build(key):
        # build() runs under the cache lock, so this view is consistent
        if key in cache._entries or key in cache._building:
            twice.append((key, cache.generation))
        return FakeDF()

    def worker(seed: int) -> None:
        try:
            for i in range(200):
                k = ("k", (seed + i) % 6)
                cache.get_or_build(k, lambda k=k: build(k))
                sizes.append(len(cache._entries))
                if i % 17 == 0:
                    cache.invalidate()
        except Exception as e:  # pragma: no cover - the failure mode
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert cache.hits + cache.misses == calls
    assert max(sizes) <= cache.max_entries
    assert twice == []


def test_ratio_tripwire_requires_matching_oracle_hash():
    # A deliberately rewritten TWIN (r8: fuzzy_doc_match's blocked
    # oracle, 13x faster with Spark unchanged) shifts the ratio with
    # zero Spark regression — the rule must abstain on hash mismatch
    # and on pre-hash priors, and report its actual coverage.
    t, d = {"a": 2.3}, {"a": 0.33}
    pt, pd_ = {"a": 2.2}, {"a": 4.3}
    # same hash -> evaluated (and would flag a genuine ratio jump)
    assert compute_regressions(t, d, pt, pd_, {"a": "h"}, {"a": "h"}) == ([], ["a"], 1)
    # rewritten oracle -> abstain
    assert compute_regressions(t, d, pt, pd_, {"a": "new"}, {"a": "old"}) == ([], [], 0)
    # pre-hash prior artifact -> abstain
    assert compute_regressions(t, d, pt, pd_, {"a": "new"}, {}) == ([], [], 0)
    assert compute_regressions(t, d, pt, pd_, None, None) == ([], [], 0)


def test_best_time_reruns_cold_train_first_runs():
    # Round-9 regression: a one-time registry retrain inflated
    # ann_lsh_topk's recorded time 40x (76s cold first run vs 1.9s
    # steady) because the old rule single-ran anything over 20s. The
    # policy now confirms every first run up to SLOW_RERUN_CAP.
    import bench

    calls = []

    def runner(seq):
        it = iter(seq)

        def run_once():
            v = next(it)
            calls.append(v)
            return v

        return run_once

    # cold-train first run, warm confirmation, warm third (<= 8s)
    calls.clear()
    assert bench.best_time(runner([76.0, 1.9, 1.8])) == 1.8
    assert len(calls) == 3
    # mid-range steady query: two runs, no third above THIRD_RUN_BELOW
    calls.clear()
    assert bench.best_time(runner([10.0, 9.0])) == 9.0
    assert len(calls) == 2
    # beyond the wall-clock cap: single run, unconfirmed
    calls.clear()
    assert bench.best_time(runner([150.0])) == 150.0
    assert len(calls) == 1
    # cold mode records the first run only
    calls.clear()
    assert bench.best_time(runner([76.0]), cold=True) == 76.0
    assert len(calls) == 1


def test_http_tripwire_floor_and_factor():
    from tools.bench_http import compute_regressions as http_regr

    cur = {"miss": {"p95": 0.9}, "hit": {"p95": 0.01}, "post_refresh_miss": {"p95": 0.5}}
    prior = {"miss": {"p95": 0.2}, "hit": {"p95": 0.002}, "post_refresh_miss": {"p95": 0.4}}
    # miss grew 4.5x above the floor -> flagged; hit grew 5x but both
    # sides are under the 20ms floor -> jitter, unflagged; post grew
    # 1.25x -> unflagged
    assert http_regr(cur, prior) == ["miss.p95"]
    # no prior artifact: nothing to compare
    assert http_regr(cur, {}) == []


def test_http_tripwire_boundary_and_fifo_phase():
    from tools.bench_http import compute_regressions as http_regr

    # exactly 3.0x is NOT a regression (strict >); 3.1x flags
    assert http_regr({"hit": {"p95": 0.30}}, {"hit": {"p95": 0.10}}) == []
    assert http_regr({"hit": {"p95": 0.31}}, {"hit": {"p95": 0.10}}) == ["hit.p95"]
    # the FIFO baseline phase joins the tripwire once both sides
    # carry it; a prior predating the phase (r10) is skipped silently
    assert http_regr(
        {"hit_fifo_baseline": {"p95": 1.0}}, {"hit_fifo_baseline": {"p95": 0.1}}
    ) == ["hit_fifo_baseline.p95"]
    assert http_regr({"hit_fifo_baseline": {"p95": 1.0}}, {}) == []


def test_http_prior_requires_same_sf_and_threads(tmp_path):
    # p95 at a different SF or thread count is a different workload —
    # comparing against it would false-flag or silently mask.
    from tools.bench_http import prior_http

    (tmp_path / "BENCH_http_r09.json").write_text(
        json.dumps({"sf": 0.1, "threads": 8, "hit": {"p95": 1.0}})
    )
    (tmp_path / "BENCH_http_r10.json").write_text(
        json.dumps({"sf": 1.0, "threads": 8, "hit": {"p95": 9.0}})
    )
    # newest artifact is sf1 — an sf0.1 run must skip back to r09
    fname, doc = prior_http(str(tmp_path), 0.1, 8)
    assert fname == "BENCH_http_r09.json" and doc["hit"]["p95"] == 1.0
    # thread-count or sf mismatch everywhere: treated as no prior
    assert prior_http(str(tmp_path), 0.1, 2) == (None, {})
    assert prior_http(str(tmp_path), 0.01, 8) == (None, {})


def test_http_run_phase_survives_and_counts_failures():
    # A dead endpoint: every request fails fast (ECONNREFUSED); the
    # workers must survive, drain the queue, and report the failures
    # instead of silently summarizing a shrunken sample.
    from tools.bench_http import run_phase

    lats, fails = run_phase(["http://127.0.0.1:9/x"] * 5, 2)
    assert lats == [] and len(fails) == 5


def test_http_pctl_and_summary():
    from tools.bench_http import pctl, summarize

    xs = [float(i) for i in range(1, 101)]
    assert pctl(xs, 0.50) == 50.0 and pctl(xs, 0.95) == 95.0
    s = summarize([0.5])
    assert s == {"n": 1, "p50": 0.5, "p95": 0.5}
    assert pctl([], 0.5) == -1.0


# ------------------------------------------------- reps cache mode


def test_best_time_between_hook_runs_between_reps_only():
    import bench

    calls = []

    def runner(seq):
        it = iter(seq)
        return lambda: next(it)

    # 3 reps (cheap query): between runs before rerun 2 and 3, never
    # before the first (the first run must include any cold cost the
    # reruns are meant to shed, and clearing before it would be a no-op
    # anyway on a fresh session)
    assert (
        bench.best_time(runner([1.0, 1.0, 0.9]), between=lambda: calls.append(1)) == 0.9
    )
    assert len(calls) == 2
    # cold mode: single run, hook never fires
    calls.clear()
    assert bench.best_time(runner([5.0]), cold=True, between=lambda: calls.append(1)) == 5.0
    assert calls == []


def test_scale_corpus_band_safety_predicate():
    from make_scale_corpus import _band_safe

    # committed sf1 regime: 10 copies x unit 1e4, max id ~9999 —
    # everything-above (all planted ids > all real ids): safe
    assert _band_safe(9_999, 10_000, 10)
    # committed sf10 regime: 100 copies, still everything-above
    assert _band_safe(9_999, 10_000, 100)
    # 300 copies at the AUTO unit (the measured r9 artifact: real ids
    # crossed +1e6 and corpus_curation's rows doubled): unsafe
    assert not _band_safe(9_999, 10_000, 300)
    # ...and the 1e7 bump makes it safe (stride clears the span)
    assert _band_safe(9_999, 10_000_000, 300)
    # re-amplifying an amplified corpus: max id already past 1e6 — no
    # unit can save it (planted aliases real within the copy)
    assert not _band_safe(9_990_000, 100_000_000, 10)
    # boundary: k*unit landing exactly at 1e6-mx collides
    assert not _band_safe(0, 1_000_000, 2)
    assert _band_safe(0, 2_000_001, 2)
