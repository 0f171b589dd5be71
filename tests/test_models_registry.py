"""Train-once/serve-many model registry (white_elephant_spark/models.py)."""

from __future__ import annotations

import json
import os
import pickle
import tempfile
import time
import warnings

import pytest

from white_elephant_spark import models

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def disk_store(tmp_path, monkeypatch):
    """Isolated on-disk store (the env override models.disk_root honors)."""
    d = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(d))
    return d


def test_memo_hits_and_key_separation(spark, disk_store):
    calls = []

    def trainer(tag):
        def t():
            calls.append(tag)
            return {"model": tag}

        return t

    a = models.get_or_train(spark, SF, "embeddings", "m", ("x-v1",), trainer("a"))
    b = models.get_or_train(spark, SF, "embeddings", "m", ("x-v1",), trainer("a2"))
    assert a is b and calls == ["a"]  # hit serves the SAME artifact
    models.get_or_train(spark, SF, "embeddings", "m", ("x-v2",), trainer("p"))
    models.get_or_train(spark, SF, "embeddings", "other", ("x-v1",), trainer("n"))
    models.get_or_train(spark, SF, "documents", "m", ("x-v1",), trainer("t"))
    assert calls == ["a", "p", "n", "t"]  # params/name/table all key


def test_mtime_invalidation(spark, tmp_path, disk_store):
    corpus = tmp_path / "tbl.parquet"
    corpus.write_text("v1")
    calls = []

    def trainer():
        calls.append(1)
        return object()

    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    assert len(calls) == 1
    # a rewritten corpus (new mtime) must retrain, not serve stale
    later = time.time() + 5
    os.utime(corpus, (later, later))
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    assert len(calls) == 2


# ---------------------------------------------------------- disk tier
#
# The disk store (.scratch/models/) outlives the process — these tests
# pin its contract: cross-"session" warm loads skip the trainer,
# corrupt artifacts retrain silently, version/freshness changes
# invalidate, and every entry must carry a code-version token.


def _wipe_memo():
    """Simulate a brand-new session: the memo dies with the process,
    the disk store does not."""
    models._MEMO.clear()


def test_cross_session_warm_load(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    calls = []

    def trainer():
        calls.append(1)
        return {"centroids": [1.5, 2.5], "k": 2}

    a1 = models.get_or_train(
        spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer
    )
    _wipe_memo()  # "new session": memo gone, disk remains
    a2 = models.get_or_train(
        spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer
    )
    assert len(calls) == 1  # warm load — trainer NOT called again
    assert a2 == a1 and a2 is not a1  # pickle round-trip, equal value


def test_dataframe_artifact_stored_as_parquet_and_served_persisted(
    spark, tmp_path, disk_store
):
    """A DataFrame trainer needs no serializer arguments: the registry
    writes the lazy plan once as parquet under ``data/`` and serves a
    persisted scan of that file, in the training session and in a new
    one."""
    (tmp_path / "tbl.parquet").write_text("corpus")
    calls = []

    def trainer():
        calls.append(1)
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "id int, s string"
        )

    def run():
        return models.get_or_train(
            spark, str(tmp_path), "tbl", "frame", ("f-v1",), trainer
        )

    def served_from_store(df):
        scan = spark.read.parquet(str(d / "data"))
        level = df.storageLevel
        return df.sameSemantics(scan) and level.useMemory and level.useDisk

    first = run()
    [d] = [p for p in disk_store.iterdir() if p.name.startswith("frame-")]
    assert (d / "data").is_dir() and not (d / "artifact.pkl").exists()
    assert served_from_store(first)
    rows1 = sorted(map(tuple, first.collect()))
    _wipe_memo()
    second = run()
    assert served_from_store(second)
    rows2 = sorted(map(tuple, second.collect()))
    assert len(calls) == 1 and rows1 == rows2 == [(1, "a"), (2, "b"), (3, None)]
    first.unpersist()
    second.unpersist()


def test_corrupt_artifact_retrains(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    calls = []

    def trainer():
        calls.append(1)
        return [1, 2, 3]

    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    [d] = [p for p in disk_store.iterdir() if p.name.startswith("m-")]
    (d / "artifact.pkl").write_bytes(b"\x80garbage")  # half-written pickle
    _wipe_memo()
    a = models.get_or_train(
        spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer
    )
    assert a == [1, 2, 3] and len(calls) == 2  # silent retrain, no crash

    # truncated meta.json → treated as absent → retrain
    (d / "meta.json").write_text('{"version":')
    _wipe_memo()
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    assert len(calls) == 3


def test_disk_version_and_freshness_invalidate(spark, tmp_path, disk_store, monkeypatch):
    corpus = tmp_path / "tbl.parquet"
    corpus.write_text("corpus")
    calls = []

    def trainer():
        calls.append(1)
        return "art"

    def run():
        return models.get_or_train(
            spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer
        )

    run()
    # format bump invalidates every stored artifact
    _wipe_memo()
    monkeypatch.setattr(models, "_DISK_VERSION", models._DISK_VERSION + 1)
    run()
    assert len(calls) == 2
    # corpus rewrite (new freshness token) invalidates too
    _wipe_memo()
    corpus.write_text("corpus-v2!")
    run()
    assert len(calls) == 3
    # param-token bump at the call site invalidates
    _wipe_memo()
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v2",), trainer)
    assert len(calls) == 4


def test_directory_corpus_infile_rewrite_invalidates(spark, tmp_path, disk_store):
    # A Spark-written corpus is a DIRECTORY; rewriting a part file in
    # place does not touch the directory's own mtime, so the key must
    # come from the contained files (ADVICE r6).
    corpus = tmp_path / "tbl"
    corpus.mkdir()
    part = corpus / "part-00000.parquet"
    part.write_text("v1")
    calls = []

    def trainer():
        calls.append(1)
        return "art"

    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    _wipe_memo()
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    assert len(calls) == 1  # unchanged dir: warm
    part.write_text("v2")  # same filename, same byte count...
    later = os.path.getmtime(part) + 7
    os.utime(part, (later, later))  # ...newer content
    _wipe_memo()
    models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer)
    assert len(calls) == 2  # must retrain, not serve stale


def test_version_token_required_for_disk_entries(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    with pytest.raises(ValueError, match="code-version"):
        models.get_or_train(
            spark, str(tmp_path), "tbl", "m", (1, 2), lambda: 1
        )
    assert models.get_or_train(
        spark, str(tmp_path), "tbl", "m", (1, 2, "x-v1"), lambda: 1
    ) == 1


def test_failed_save_leaves_no_orphans(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    unpicklable = lambda: None  # noqa: E731 - pickle refuses lambdas

    with pytest.warns(RuntimeWarning, match="not saved"):
        a = models.get_or_train(
            spark, str(tmp_path), "tbl", "m", ("x-v1",), lambda: unpicklable
        )
    assert a is unpicklable  # disk store is an optimization, never a failure
    assert not [e for e in models.disk_entries() if e["servable"]]
    leftovers = [p.name for p in disk_store.iterdir()] if disk_store.exists() else []
    assert not [n for n in leftovers if n.startswith(".tmp-")]


def test_concurrent_same_key_save_keeps_landed_entry(spark, tmp_path, disk_store, monkeypatch):
    """Two cold trains of one key: the other save can land its entry
    between this save's rmtree and os.replace, which then fails with
    ENOTEMPTY. The landed entry is kept: stored, no warning, no
    orphaned temp dir."""
    (tmp_path / "tbl.parquet").write_text("corpus")
    ck = models.corpus_key(str(tmp_path), "tbl")
    real_replace = os.replace
    raced = []

    def racing_replace(src, dst):
        if not raced:  # the concurrent save lands first
            raced.append(dst)
            other = tempfile.mkdtemp(prefix=".tmp-", dir=disk_store)
            with open(os.path.join(other, "artifact.pkl"), "wb") as f:
                pickle.dump({"m": "other"}, f)
            models._write_meta(other, ck, "m", ("x-v1",))
            real_replace(other, dst)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", racing_replace)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        a = models.get_or_train(spark, str(tmp_path), "tbl", "m", ("x-v1",), lambda: {"m": "mine"})
    assert raced and a == {"m": "mine"}
    assert [e["servable"] for e in models.disk_entries()] == [True]
    assert not [p.name for p in disk_store.iterdir() if p.name.startswith(".tmp-")]
    with open(os.path.join(raced[0], "artifact.pkl"), "rb") as f:
        assert pickle.load(f) == {"m": "other"}


def test_all_disk_backed_call_sites_carry_version_tokens():
    """Registry discipline: every disk-backed get_or_train call in the
    engine carries a '<tag>-vN' token in params (runtime-enforced by
    models.get_or_train; this pins the call-site inventory so a new
    site can't dodge review)."""
    import re

    root = os.path.join(os.path.dirname(models.__file__))
    tokens = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                src = open(os.path.join(dirpath, f)).read()
                tokens.update(re.findall(r'"([a-z]+-v\d+)"', src))
    assert tokens >= {
        "copies-v1", "semjit-v2", "semcnt-v1", "ivf-v1", "km-v1", "pca-v1", "kmap-v1"
    }


# ------------------------------------------------------------ disk GC


def _train_disk(spark, tmp_path, name, params):
    return models.get_or_train(
        spark, str(tmp_path), "tbl", name, params, lambda: {"m": name}
    )


def test_stats_kind_segregated_logged_and_cold_pays(spark, tmp_path, disk_store):
    """r13 verdict what's-wrong #3 / next-round #6: kind="stats"
    entries are segregated in the store (stats- dir prefix + kind meta
    tag), every serve lands in the audit log the bench stamps, and a
    redirected (cold) store pays the computation again."""
    (tmp_path / "tbl.parquet").write_text("corpus")
    calls = []

    def trainer():
        calls.append(1)
        return 42

    models.reset_stats_served()
    v = models.get_or_train(
        spark, str(tmp_path), "tbl", "nstat", ("cnt-v1",), trainer,
        kind="stats",
    )
    assert v == 42 and calls == [1]
    dirs = os.listdir(disk_store)
    assert any(d.startswith("stats-nstat-") for d in dirs)
    (d,) = [d for d in dirs if d.startswith("stats-nstat-")]
    with open(disk_store / d / "meta.json") as f:
        assert json.load(f)["kind"] == "stats"
    # memo serve logged
    models.get_or_train(
        spark, str(tmp_path), "tbl", "nstat", ("cnt-v1",), trainer,
        kind="stats",
    )
    log = models.stats_served()
    assert [e["source"] for e in log] == ["trained", "memo"]
    # disk serve in a "new session"
    _wipe_memo()
    models.get_or_train(
        spark, str(tmp_path), "tbl", "nstat", ("cnt-v1",), trainer,
        kind="stats",
    )
    assert models.stats_served()[-1]["source"] == "disk" and calls == [1]
    # cold mode: a redirected store has no artifact - the stat is PAID
    _wipe_memo()
    os.environ["SPARK_GRAFT_MODEL_DIR"] = str(tmp_path / "cold-store")
    try:
        models.get_or_train(
            spark, str(tmp_path), "tbl", "nstat", ("cnt-v1",), trainer,
            kind="stats",
        )
    finally:
        os.environ["SPARK_GRAFT_MODEL_DIR"] = str(disk_store)
    assert calls == [1, 1]
    assert models.stats_served()[-1]["source"] == "trained"


def test_gc_reclaims_only_unservable(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    _train_disk(spark, tmp_path, "m", ("x-v1",))
    # a version-token bump strands the old dir under a different hash
    _train_disk(spark, tmp_path, "m", ("x-v2",))
    entries = models.disk_entries()
    assert len(entries) == 2
    assert sum(e["servable"] for e in entries) == 2  # both still fresh

    # delete the corpus: neither can ever validate again
    (tmp_path / "tbl.parquet").unlink()
    assert all(not e["servable"] for e in models.disk_entries())

    res = models.gc_disk(grace_s=3600)
    assert res["removed"] == [] and res["kept"] == 2  # inside grace
    res = models.gc_disk(grace_s=0)
    assert len(res["removed"]) == 2 and res["reclaimed_bytes"] > 0
    assert models.disk_entries() == []


def test_gc_keeps_fresh_reclaims_stale_token(spark, tmp_path, disk_store):
    corpus = tmp_path / "tbl.parquet"
    corpus.write_text("v1")
    _train_disk(spark, tmp_path, "m", ("x-v1",))
    # rewrite the corpus: same dir would be overwritten on retrain,
    # but simulate the stranded case by also bumping the code token
    later = time.time() + 5
    os.utime(corpus, (later, later))
    _wipe_memo()
    _train_disk(spark, tmp_path, "m", ("x-v2",))
    stale = [e for e in models.disk_entries() if not e["servable"]]
    fresh = [e for e in models.disk_entries() if e["servable"]]
    assert len(stale) == 1 and len(fresh) == 1
    res = models.gc_disk(grace_s=0)
    assert res["removed"] == [stale[0]["dir"]] and res["kept"] == 1
    # the surviving artifact still serves without retraining
    calls = []
    _wipe_memo()
    got = models.get_or_train(
        spark, str(tmp_path), "tbl", "m", ("x-v2",),
        lambda: calls.append(1) or {"m": "retrained"},
    )
    assert calls == [] and got == {"m": "m"}


def test_gc_reclaims_orphan_tmp_and_corrupt_meta(spark, tmp_path, disk_store):
    (tmp_path / "tbl.parquet").write_text("corpus")
    _train_disk(spark, tmp_path, "m", ("x-v1",))
    root = models.disk_root()
    os.makedirs(os.path.join(root, ".tmp-killed"))
    with open(os.path.join(root, ".tmp-killed", "blob"), "w") as f:
        f.write("half-written")
    os.makedirs(os.path.join(root, "corrupt-deadbeef"))
    with open(os.path.join(root, "corrupt-deadbeef", "meta.json"), "w") as f:
        f.write("{not json")
    res = models.gc_disk(grace_s=0)
    assert sorted(os.path.basename(d) for d in res["removed"]) == [
        ".tmp-killed",
        "corrupt-deadbeef",
    ]
    assert [e["servable"] for e in models.disk_entries()] == [True]


def test_save_path_gc_is_opportunistic(spark, tmp_path, disk_store):
    # a save triggers gc_disk() — with the default grace nothing
    # fresh is touched, and the just-saved artifact survives
    (tmp_path / "tbl.parquet").write_text("corpus")
    _train_disk(spark, tmp_path, "m", ("x-v1",))
    assert [e["servable"] for e in models.disk_entries()] == [True]


def test_unprefixed_v2_stats_dir_is_reclaimed(tmp_path, disk_store):
    """Stats entries stored before the ``stats-`` dir prefix are never
    looked up again; format version 3 retires them, so a format-2 dir
    with a still-fresh corpus token stops validating and gc_disk
    reclaims it."""
    (tmp_path / "documents.parquet").write_text("corpus")
    ck = models.corpus_key(str(tmp_path), "documents")
    d = disk_store / "simhash_fp_count-0123456789abcdef0123"
    d.mkdir(parents=True)
    (d / "artifact.pkl").write_bytes(b"")
    meta = {"version": 2, "path": ck[0], "token": ck[1], "name": "simhash_fp_count"}
    (d / "meta.json").write_text(json.dumps(meta))
    assert [e["servable"] for e in models.disk_entries()] == [False]
    assert models.gc_disk(grace_s=0)["removed"] == [str(d)]


# ------------------------------------------------- concurrency races
#
# The HTTP daemon makes multi-session access to one disk store the
# NORMAL operating mode (r7 verdict): two sessions get_or_train the
# same cold key concurrently, and gc_disk can fire while another
# process is mid-save. Neither may corrupt the store.


def test_concurrent_cold_train_same_key(spark, tmp_path, disk_store):
    """Two callers racing the same cold key: both miss the memo, both
    train, both save (tmp → rename). Whatever the interleaving, both
    get a working artifact, the store ends with exactly ONE valid
    artifact dir, and the next cold session warm-loads it."""
    import threading

    (tmp_path / "tbl.parquet").write_text("corpus")
    barrier = threading.Barrier(2, timeout=30)
    trained = []

    def trainer():
        barrier.wait()  # deterministically overlap both cold trains
        trained.append(1)
        return {"k": 2}

    results, errors = [], []

    def run():
        try:
            results.append(
                models.get_or_train(
                    spark, str(tmp_path), "tbl", "m", ("x-v1",), trainer
                )
            )
        except Exception as e:  # pragma: no cover - the failure mode
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [] and len(trained) == 2  # both raced past the memo
    assert results == [{"k": 2}, {"k": 2}]
    entries = models.disk_entries()
    assert [e["servable"] for e in entries] == [True]  # one dir, valid
    assert not [e for e in entries if e["tmp"]]
    # a later cold session serves the survivor without retraining
    _wipe_memo()
    calls = []
    got = models.get_or_train(
        spark, str(tmp_path), "tbl", "m", ("x-v1",),
        lambda: calls.append(1) or {"k": -1},
    )
    assert calls == [] and got == {"k": 2}


def test_gc_spares_inflight_save(spark, tmp_path, disk_store):
    """gc_disk invoked while another process is mid-save must not
    reclaim its .tmp-* dir — even when the SAVE DIR'S inode mtime is
    older than the grace period (a long save writes files, which does
    not touch the dir inode once the first entry exists): grace is
    keyed on the newest write inside the dir."""
    (tmp_path / "tbl.parquet").write_text("corpus")
    _train_disk(spark, tmp_path, "m", ("x-v1",))
    root = models.disk_root()
    tmp = os.path.join(root, ".tmp-inflight")
    os.makedirs(tmp)
    old = time.time() - 7200  # dir created 2h ago (grace is 1h)...
    with open(os.path.join(tmp, "part-0"), "w") as f:
        f.write("bytes still arriving")  # ...but a file written just now
    os.utime(tmp, (old, old))
    res = models.gc_disk()  # default grace
    assert res["removed"] == []  # in-flight save untouched
    # once the save is truly dead (newest file older than grace), reclaim
    os.utime(os.path.join(tmp, "part-0"), (old, old))
    res = models.gc_disk()
    assert res["removed"] == [tmp]


def test_missing_corpus_never_servable(spark, tmp_path, disk_store):
    """An artifact trained while its corpus was ABSENT must never be
    stored or served across sessions (the old '-1.0' sentinel matched
    itself forever — ADVICE r7) — while the within-process memo still
    hits (a per-call-unique token would leak a fresh memo entry per
    call)."""
    calls = []

    def trainer():
        calls.append(1)
        return "trained-blind"

    models.get_or_train(spark, str(tmp_path), "ghost", "m", ("x-v1",), trainer)
    assert calls == [1]
    assert models.disk_entries() == []  # nothing blind ever hits disk
    # same-process repeat: memo hit, no retrain, no memo-key churn
    before = len(models._MEMO)
    models.get_or_train(spark, str(tmp_path), "ghost", "m", ("x-v1",), trainer)
    assert calls == [1] and len(models._MEMO) == before
    # "new session": nothing on disk to serve -> retrain
    _wipe_memo()
    models.get_or_train(spark, str(tmp_path), "ghost", "m", ("x-v1",), trainer)
    assert calls == [1, 1]
    # and a cross-process meta can never validate: simulate another
    # process's blind save by writing a meta with ITS missing token
    d = os.path.join(models.disk_root(), "m-fake")
    os.makedirs(d)
    ck = models.corpus_key(str(tmp_path), "ghost")
    models._write_meta(d, (ck[0], "missing:otherprocess"), "m", ("x-v1",))
    assert all(not e["servable"] for e in models.disk_entries())


# ------------------------------------------- multi-PROCESS store soak
#
# The r8 race tests pin two callers in ONE process; the serving daemon
# makes two PROCESSES sharing one disk store the real deployment shape
# (r8 verdict #5). Two true daemon processes soak the store —
# concurrent cold-train, concurrent gc_disk walks, and a corpus
# refresh landing mid-soak — and must end with exactly one servable
# artifact, zero worker errors, and no retrain storm (each process
# trains at most once per corpus version; everything else memo- or
# disk-serves).

_SOAK_WORKER_SRC = '''
import os, sys, time

repo, store, corpus_dir, log_path, start_marker, run_s = (
    sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5],
    float(sys.argv[6]),
)
os.environ["SPARK_GRAFT_MODEL_DIR"] = store
sys.path.insert(0, repo)
from white_elephant_spark import models


class _Ctx:
    applicationId = "soak-app"


class _FakeSpark:  # disk-tier soak needs no JVM: only _session_key touches it
    sparkContext = _Ctx()


spark = _FakeSpark()


def trainer():
    with open(log_path, "a") as f:
        f.write("T %d\\n" % os.getpid())
    time.sleep(0.05)  # widen the cold-train race window
    return {"k": 42}


with open(start_marker, "w") as f:
    f.write("up")
end = time.time() + run_s
i = 0
while time.time() < end:
    got = models.get_or_train(
        spark, corpus_dir, "tbl", "m", ("soak-v1",), trainer
    )
    assert got == {"k": 42}, got
    if i % 5 == 2:
        models.gc_disk()  # concurrent store walk (default grace)
    i += 1
    time.sleep(0.01)
print("WORKER-DONE iters=%d" % i)
'''


def test_multi_process_store_soak(tmp_path, disk_store):
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "tbl.parquet").write_text("v1")
    log = tmp_path / "trains.log"
    log.write_text("")
    script = tmp_path / "soak_worker.py"
    script.write_text(_SOAK_WORKER_SRC)

    procs, markers = [], []
    for w in range(2):
        marker = tmp_path / f"up-{w}"
        markers.append(marker)
        procs.append(
            subprocess.Popen(
                [
                    _sys.executable, str(script), repo, str(disk_store),
                    str(corpus), str(log), str(marker), "5",
                ],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            )
        )
    # wait until BOTH daemons are inside their soak loops, then land a
    # corpus refresh mid-query: the freshness token changes, the old
    # artifact stops validating, and each process must retrain (or
    # disk-load the other's retrain) exactly once.
    deadline = time.time() + 60
    while not all(m.exists() for m in markers):
        assert time.time() < deadline, "workers failed to start"
        time.sleep(0.05)
    time.sleep(1.5)
    later = time.time() + 5
    os.utime(corpus / "tbl.parquet", (later, later))

    outs = [p.communicate(timeout=120)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("WORKER-DONE" in o for o in outs), outs

    # exactly one servable artifact dir, no .tmp-* orphans — and it
    # carries the POST-refresh freshness token (proof the mid-soak
    # corpus rewrite was observed and retrained, not served stale)
    entries = models.disk_entries()
    assert [e["servable"] for e in entries] == [True], entries
    assert not [e for e in entries if e["tmp"]]
    ck = models.corpus_key(str(corpus), "tbl")
    assert entries[0]["meta"]["token"] == ck[1]

    # no retrain storm: at most (2 processes) x (2 corpus versions)
    trains = [ln for ln in log.read_text().splitlines() if ln.startswith("T ")]
    assert 1 <= len(trains) <= 4, trains

    # a fresh cold "session" (this process) warm-loads, zero retrains
    _wipe_memo()

    class _Ctx:
        applicationId = "soak-main"

    class _FakeSpark:
        sparkContext = _Ctx()

    calls = []
    got = models.get_or_train(
        _FakeSpark(), str(corpus), "tbl", "m", ("soak-v1",),
        lambda: calls.append(1) or {"k": -1},
    )
    assert calls == [] and got == {"k": 42}
