"""Behavioral tests for dedup/similarity/text/multimodal operators on
constructed corpora (golden semantics, not just oracle parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.functions import text as tx
from white_elephant_spark.operators import dedup, multimodal, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different content about spark distributed query engines and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1}  # doc 2 collapsed into 1


def test_ngram_jaccard_finds_near_dups(docs):
    # pins the exact-Jaccard math over every pair of shingle sets
    grams = docs.selectExpr("doc_id", f"{dedup.word_ngrams(tx.tokens('text'), 3)} AS g")
    a, b = grams.alias("a"), grams.alias("b")
    rows = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup._jaccard(F.col("a.g"), F.col("b.g")).alias("jaccard"),
        )
        .collect()
    )
    found = {(r.id_a, r.id_b): r.jaccard for r in rows if r.jaccard >= 0.5}
    sets = {
        i: {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
        for i, ws in ((i, t.split(" ")) for i, t in DOCS)
    }
    assert found[(1, 2)] == 1.0
    assert found[(1, 3)] == len(sets[1] & sets[3]) / len(sets[1] | sets[3])
    assert not any(4 in p for p in found)


def test_minhash_lsh_candidates(docs):
    sigs = dedup.minhash_signatures(docs, k=12, n=3)
    pairs = {(r.id_a, r.id_b): r.est_sim for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs always collide
    for (a, b), s in pairs.items():
        assert 0 <= s <= 1


def test_simhash_identity_and_locality(docs):
    fp = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert fp[1] == fp[2]  # identical text → identical fingerprint
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])  # near dup closer than unrelated


def test_cosine_topk_exact(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 1), k=2).collect()
    assert [r.nbr_id for r in sorted(out, key=lambda r: r.rank)] == [2, 3]
    assert out[0].cos_sim == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, rel=1e-6)


def test_lsh_topk_recalls_bucketmates(spark):
    # identical vectors always share a bucket → LSH returns them first
    vecs = [(i, [float(i % 7 + 1), float((i * 3) % 5), 1.0]) for i in range(30)]
    vecs.append((100, vecs[0][1]))  # exact copy of vec 0
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.lsh_cosine_topk(df, df.filter(F.col("vec_id") == 100), dim=3, k=1)
    top = out.collect()[0]
    assert top.nbr_id == 0 and top.cos_sim == pytest.approx(1.0)


def test_neardup_pairs_blocked(spark):
    vecs = [
        (1, [1.0, 2.0, 3.0], 0),
        (2, [2.0, 4.0, 6.0], 0),   # same direction, same label → hit
        (3, [1.0, 2.0, 3.0], 1),   # same direction, other label → blocked out
        (4, [3.0, -1.0, 0.5], 0),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    pairs = similarity.neardup_pairs_lsh(df, threshold=0.999, dim=3, block_col="label").collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_text_functions(spark):
    df = spark.createDataFrame([("the cat sat on the mat",)], "text string")
    w = tx.tokens("text")
    row = df.selectExpr(
        f"{tx.token_count(w)} AS n",
        f"{tx.distinct_ratio(w)} AS dr",
        f"{tx.stopword_ratio(w)} AS sr",
        f"{tx.mean_word_len('text', w)} AS ml",
        f"{tx.fingerprint(w)} AS fp",
    ).collect()[0]
    assert row.n == 6
    assert row.dr == pytest.approx(5 / 6)
    assert row.sr == pytest.approx(2 / 6)  # 'the' twice
    assert row.ml == pytest.approx(17 / 6)
    # fingerprint is order-insensitive
    df2 = spark.createDataFrame([("mat the on sat cat the",)], "text string")
    fp2 = df2.selectExpr(tx.fingerprint(w)).collect()[0][0]
    assert row.fp == fp2


def test_multimodal_stub_plumbing(spark):
    docs = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
    out = multimodal.extract_features(multimodal.documents_as_binary(docs)).collect()[0]
    assert out.byte_len == 11
    assert out.fake_width == 1 + 11 % 64
    import hashlib

    assert out.digest == hashlib.md5(b"hello world").hexdigest()
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"x", codec="jpeg")


def test_resize_stub_truncates_and_pads(spark):
    from white_elephant_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"abcdefghij"), (2, b"xy")], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r for r in mm.resize_images(df, width=2, height=3).collect()}
    assert bytes(out[1]["payload"]) == b"abcdef"          # truncated to 6
    assert bytes(out[2]["payload"]) == b"xy" + b"\0" * 4  # padded to 6
    assert out[1]["width"] == 2 and out[1]["height"] == 3


def test_sample_frames_counts(spark):
    from white_elephant_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"a" * 600), (2, b"b" * 10), (3, b"c" * 10000)],
        "doc_id long, payload binary",
    )
    rows = mm.sample_frames(df, every_n_bytes=256, max_frames=8).collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r)
    assert len(per[1]) == 2          # 600 // 256 = 2 frames
    assert len(per[2]) == 1          # short payload → 1 partial frame
    assert len(per[3]) == 8          # capped at max_frames
    assert bytes(per[2][0]["frame"]) == b"b" * 10
    assert all(len(bytes(r["frame"])) == 256 for r in per[3])


def test_ngram_jaccard_banded_default_finds_exact_dups(docs):
    # default block = MinHash bands: exact dups always collide
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert not any(4 in p for p in pairs)


def test_banded_blocking_bounds_hot_token_skew(spark):
    """200 docs all starting with 'the' — first-token blocking would
    put them in ONE quadratic block; MinHash band buckets must stay
    hash-bounded (only true near-dups cluster)."""
    docs = [(i, "the " + " ".join(f"w{i}x{j}" for j in range(12))) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, k=12, n=3)
    from pyspark.sql import functions as SF

    bands = SF.array(
        *[
            SF.md5(SF.concat_ws("|", *[SF.element_at(SF.col("sig"), b * 3 + r + 1) for r in range(3)]))
            for b in range(4)
        ]
    )
    buckets = (
        sigs.select(SF.posexplode(bands).alias("band", "bh"))
        .groupBy("band", "bh")
        .count()
    )
    assert buckets.agg(SF.max("count")).first()[0] <= 4  # no hot bucket


def test_short_docs_yield_empty_shingles(spark):
    # docs 5 and 6 are identical one-word documents: both shingle sets
    # are empty, so no LSH bucket pairs them and no 0/0 Jaccard runs
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"), (5, "one"), (6, "one")],
        "doc_id long, text string",
    )
    sizes = {
        r.doc_id: r.n
        for r in df.selectExpr(
            "doc_id", f"size({dedup.word_ngrams(tx.tokens('text'), 3)}) AS n"
        ).collect()
    }
    assert sizes == {1: 0, 2: 0, 3: 0, 4: 1, 5: 0, 6: 0}
    # and the full pipelines survive short docs
    assert dedup.ngram_jaccard_pairs(df).count() == 0


def test_simhash_neardup_pairs_radix_blocking(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # dup of 1
        (3, "totally different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.simhash64(df)
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_neardup_pairs(fps).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs
    with pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(fps, max_hamming=5, bands=4)


def test_simhash_radix_blocking_is_complete(spark):
    """Pigeonhole completeness: every pair within Hamming 3 must be
    found by the banded join — construct fingerprints directly."""
    fps = [(1, 0), (2, 0b111), (3, 0b10101), (4, 1 << 31 | 1 << 15 | 1 << 7)]
    df = spark.createDataFrame(fps, "id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_neardup_pairs(df).collect()}
    assert got == {(1, 2): 3, (1, 3): 3, (1, 4): 3, (2, 3): 2}  # every pair within distance 3


def test_simhash_blocking_schemes_identical_output(spark):
    """Radix blocking at 4 bands and at 8 bands must both return
    EXACTLY the all-pairs Hamming <= 3 set: each is complete by
    pigeonhole and applies the exact bit_count post-filter, so the
    band count is a pure candidate-generation choice."""
    import itertools
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.getrandbits(64) - (1 << 63)) for i in range(500)]

    def flip(v, bits):
        for b in bits:
            v ^= 1 << b
        return ((v + (1 << 63)) % (1 << 64)) - (1 << 63)

    base = rnd.getrandbits(64) - (1 << 63)
    rows += [
        (1000, base),
        (1001, flip(base, [5])),            # hamming 1 — must pair
        (1002, flip(base, [1, 17, 63])),    # hamming 3 — must pair
        (1003, flip(base, [2, 20, 40, 60])),  # hamming 4 — must NOT
    ]
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # rows are in ascending id order, so each combination has i < j
    brute = sorted(
        (i, j, ham(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if ham(a, b) <= 3
    )
    fps = spark.createDataFrame(rows, "id long, simhash long")
    for bands in (4, 8):
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_neardup_pairs(fps, bands=bands).collect()
        )
        assert got == brute, bands
    planted = {(a, b): h for a, b, h in brute if a >= 1000}
    assert planted.get((1000, 1001)) == 1 and planted.get((1000, 1002)) == 3
    assert (1000, 1003) not in planted


def test_ann_lsh_recall_floor(spark):
    """Multi-table LSH must keep recall@10 >= 0.9 vs the exact
    baseline on the driver corpus (the round-1 single-table design
    lost neighbors to one flipped sign bit)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
    if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        pytest.skip("driver corpus not available")
    from white_elephant_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.cosine_topk(emb, queries, k=10)
    approx = similarity.lsh_cosine_topk(emb, queries, dim=64, k=10, planes=3, tables=12)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    a = {(r.query_id, r.nbr_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_ivf_recall_floor_clustered(spark):
    """IVF's contract is recall on *clustered* corpora (cell locality
    is the pruning premise — on isotropic random vectors no cell
    partition can beat the scan fraction, which is why the driver
    corpus, mean pairwise cosine ≈ 0, is only used for determinism
    checks). 20 tight clusters, fixed 16-centroid budget, nprobe 4:
    recall@10 must hold ≥ 0.9 vs the exact baseline while scanning
    ~nprobe/C of the corpus."""
    import math

    dim = 16
    vecs = []
    for c in range(20):
        # deterministic cluster center on the unit sphere
        center = [math.sin(0.7 * c * (i + 1)) for i in range(dim)]
        for j in range(25):
            # tight jitter around the center
            vecs.append(
                (
                    c * 100 + j,
                    [x + 0.02 * math.sin(1.3 * (c + 1) * (j + 1) * (i + 1)) for i, x in enumerate(center)],
                )
            )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs], "vec_id long, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id") % 100 == 3)  # one query per cluster
    exact = similarity.cosine_topk(df, queries, k=10)
    approx = similarity.ivf_cosine_topk(df, queries, dim=dim, k=10, ncentroids=16, nprobe=4)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    a = {(r.query_id, r.nbr_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_ivf_finds_cellmates(spark):
    """Two tight clusters: with enough probes to cover a cluster's
    cells, IVF returns the same neighbors as the exact baseline."""
    vecs = []
    for i in range(20):
        vecs.append((i, [10.0 + i * 0.01, 1.0, 0.0]))        # cluster A
        vecs.append((100 + i, [0.0, 1.0, 10.0 + i * 0.01]))  # cluster B
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id").isin(0, 100))
    exact = similarity.cosine_topk(df, q, k=5)
    approx = similarity.ivf_cosine_topk(df, q, dim=3, k=5, ncentroids=4, nprobe=2)
    e = sorted((r.query_id, r.nbr_id, r.rank) for r in exact.collect())
    a = sorted((r.query_id, r.nbr_id, r.rank) for r in approx.collect())
    assert e == a


def test_ivf_each_vector_in_one_cell(spark):
    vecs = [(i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6), float(i % 5 + 1)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(df, ncentroids=5)
    assert len(cents) == 5  # fixed budget, not linear in corpus size
    # nprobe > ncentroids degrades to exact search, not an error
    q = df.filter(F.col("vec_id") == 0)
    exact = similarity.cosine_topk(df, q, k=3)
    full = similarity.ivf_cosine_topk(df, q, dim=3, k=3, ncentroids=5, nprobe=99)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full.collect()))


def test_lsh_pre_encoded_parity(spark):
    # The registry-served path (encode once, pass pre_encoded=True)
    # must be value-identical to inline encoding — for both the top-k
    # and near-dup operators, including the cosine doubles.
    vecs = [
        (i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6), float(i % 5 + 1), float((i * 5) % 9 - 4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") % 10 == 0)
    enc = similarity.encode_for_lsh(df, dim=4, planes=2, tables=4)
    qenc = enc.filter(F.col("vec_id") % 10 == 0)
    plain = similarity.lsh_cosine_topk(df, q, dim=4, k=5, planes=2, tables=4)
    served = similarity.lsh_cosine_topk(
        enc, qenc, dim=4, k=5, planes=2, tables=4, pre_encoded=True
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, served.collect()))

    nd_enc = similarity.encode_for_lsh(df, dim=4, planes=3, tables=2)
    nd_plain = similarity.neardup_pairs_lsh(df, threshold=0.5, dim=4, planes=3, tables=2)
    nd_served = similarity.neardup_pairs_lsh(
        nd_enc, threshold=0.5, dim=4, planes=3, tables=2, pre_encoded=True
    )
    got = sorted(map(tuple, nd_served.collect()))
    assert sorted(map(tuple, nd_plain.collect())) == got and len(got) > 0


def test_lsh_pre_encoded_spec_mismatch_fails_loudly(spark):
    # An encoded input built at a DIFFERENT (planes, tables) spec must
    # raise at execution, not silently degrade recall (ADVICE r7).
    import pytest
    from pyspark.errors import PySparkRuntimeError

    vecs = [
        (i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6), float(i % 5 + 1), float((i * 5) % 9 - 4)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    enc = similarity.encode_for_lsh(df, dim=4, planes=2, tables=4)
    qenc = enc.filter(F.col("vec_id") % 10 == 0)
    # wrong table count: buckets array has 4 entries, call says 2
    with pytest.raises((PySparkRuntimeError, Exception), match="pre_encoded"):
        similarity.lsh_cosine_topk(
            enc, qenc, dim=4, k=5, planes=2, tables=2, pre_encoded=True
        ).collect()
    # same table count but WIDER actual planes: offset-encoded bucket
    # values exceed tables * 2^planes for the claimed spec
    wide = similarity.encode_for_lsh(df, dim=4, planes=6, tables=4)
    with pytest.raises((PySparkRuntimeError, Exception), match="pre_encoded"):
        similarity.neardup_pairs_lsh(
            wide, threshold=0.5, dim=4, planes=2, tables=4, pre_encoded=True
        ).collect()
    # NARROWER actual planes: every value fits under the claimed
    # ceiling, but the last table's offset sits below the claimed
    # (tables-1)*2^planes floor — must also fail loudly
    narrow = similarity.encode_for_lsh(df, dim=4, planes=2, tables=4)
    with pytest.raises((PySparkRuntimeError, Exception), match="pre_encoded"):
        similarity.lsh_cosine_topk(
            narrow, narrow.filter(F.col("vec_id") % 10 == 0),
            dim=4, k=5, planes=3, tables=4, pre_encoded=True,
        ).collect()


# ------------------------------------------------- cluster assembly


def test_connected_components_chain(spark):
    # A-B, B-C, plus an isolated pair D-E: transitivity must pull C
    # into A's cluster even though (A, C) is not a pair.
    from white_elephant_spark.operators import clustering

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.cluster_id
        for r in clustering.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _cc_cases():
    """name -> (Spark id type, DuckDB id type, edge list, input
    partitions). No DuckDB type for binary ids: the twin's ``least``
    has no BLOB overload."""
    import decimal
    import random

    rnd = random.Random(5)
    blob = [(i, i + 1) for i in range(0, 60)]  # one 61-node chain
    blob += [(100 + rnd.randrange(20), 100 + rnd.randrange(20)) for _ in range(40)]
    blob += [(200, 201), (300, 301)]
    dec = decimal.Decimal
    return {
        "chain_blob_singletons": ("bigint", "BIGINT", [e for e in blob if e[0] != e[1]], 4),
        "chain_2001_over_64_partitions": ("bigint", "BIGINT", [(i, i + 1) for i in range(2000)], 64),
        "string_ids": ("string", "VARCHAR", [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("zz-2", "zz-9")], 2),
        "binary_ids": ("binary", None, [(b"b", b"a"), (b"b", b"\xff"), (b"\x02", b"\x01")], 2),
        "decimal_ids": (
            "decimal(10,2)", "DECIMAL(10,2)",
            [(dec("1.50"), dec("0.25")), (dec("9.00"), dec("1.50")), (dec("7.10"), dec("7.05"))], 2,
        ),
        "empty_bigint": ("bigint", "BIGINT", [], 1),
        "empty_string": ("string", "VARCHAR", [], 1),
    }


def _closure(edges):
    """Plain-Python reference: node -> minimum node of its component."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()] - comp:
                comp.add(nb)
                todo.append(nb)
        out.update(dict.fromkeys(comp, min(comp)))
    return out


@pytest.mark.parametrize("case", sorted(_cc_cases()))
def test_connected_components_match_reference(spark, case):
    """connected_components against a plain-Python closure and, where
    the recursive CTE stays small and DuckDB can order the ids, its
    twin ``sql_connected_components``: chains, a random blob, singleton
    pairs, a long chain spread over many input partitions, string,
    binary and decimal ids, and empty pair sets."""
    import duckdb

    from white_elephant_spark.operators import clustering

    spark_type, duck_type, edges, parts = _cc_cases()[case]
    pairs = spark.createDataFrame(
        edges, f"id_a {spark_type}, id_b {spark_type}"
    ).repartition(parts)

    def norm(v):  # Spark returns binary as bytearray, DuckDB as bytes
        return bytes(v) if isinstance(v, bytearray) else v

    got = {
        norm(r.node): norm(r.cluster_id)
        for r in clustering.connected_components(pairs).collect()
    }
    assert got == _closure(edges)
    if duck_type and len(edges) <= 200:
        con = duckdb.connect()
        con.execute(f"CREATE TABLE p(id_a {duck_type}, id_b {duck_type})")
        if edges:
            con.executemany("INSERT INTO p VALUES (?, ?)", edges)
        twin = clustering.sql_connected_components("p").strip()
        # the twin can return decimal cluster ids as DOUBLE: cast back
        assert got == dict(
            con.sql(
                f"WITH RECURSIVE {twin} SELECT node,"
                f" CAST(cluster_id AS {duck_type}) FROM components"
            ).fetchall()
        )


def test_connected_components_drop_null_ids(spark):
    # NULL ids reach pandas as NaN (numeric) or None (string): NaN
    # never equals itself and None does not order, so the union find
    # never sees them.
    from white_elephant_spark.operators import clustering

    for t, pairs in (
        ("long", [(1, 2), (None, 3), (4, None)]),
        ("string", [("a", "b"), (None, "c"), ("d", None)]),
    ):
        df = spark.createDataFrame(pairs, f"id_a {t}, id_b {t}")
        got = dict(map(tuple, clustering.connected_components(df).collect()))
        assert got == {pairs[0][0]: pairs[0][0], pairs[0][1]: pairs[0][0]}


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_union_find_runs_once_per_call_per_execution(spark, monkeypatch, aqe):
    """The label table is read by more than one consumer — here the
    node labels and the per-cluster sizes, the shape of
    ``semantic_dedup(with_sizes=True)``. connected_components persists
    it lazily, so each call runs its union find once per execution;
    uncached, every consumer re-runs it and the pair plan above it."""
    from white_elephant_spark.operators import clustering

    runs = spark.sparkContext.accumulator(0)
    real = clustering.union_find

    def counted(batches):
        runs.add(1)
        yield from real(batches)

    monkeypatch.setattr(clustering, "union_find", counted)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comps = [
        clustering.connected_components(pairs),
        clustering.connected_components(pairs.filter(F.col("id_a") > 1)),
    ]
    try:
        sized = [
            c.join(F.broadcast(c.groupBy("cluster_id").count()), "cluster_id")
            for c in comps
        ]
        rows = sized[0].unionByName(sized[1]).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        for c in comps:
            c.unpersist()
    assert runs.value == 2
    assert sorted((r.node, r.cluster_id, r["count"]) for r in rows) == [
        (1, 1, 3), (2, 1, 3), (2, 2, 2), (3, 1, 3), (3, 2, 2),
        (10, 10, 2), (10, 10, 2), (11, 10, 2), (11, 10, 2),
    ]


def test_connected_components_rebuild_reuses_cache_entry(spark):
    """Building the same components twice adds one cache entry, not
    two: ``union_find`` is a module-level function, so both builds
    pickle to the same plan and the second finds the first's cache."""
    from white_elephant_spark.operators import clustering

    cm = spark._jsparkSession.sharedState().cacheManager()
    pairs = spark.range(0, 50, 1, 4).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    before = cm.cachedData().size()
    first = clustering.connected_components(pairs)
    second = clustering.connected_components(pairs)
    try:
        assert cm.cachedData().size() == before + 1
        assert second.count() == 51
    finally:
        first.unpersist()


def test_attach_clusters_singletons_and_representatives(spark):
    from white_elephant_spark.operators import clustering

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = {
        r.doc_id: r for r in clustering.attach_clusters(docs, pairs).collect()
    }
    assert rows[99].cluster_id == 99 and rows[99].cluster_size == 1
    assert rows[99].is_representative
    assert [rows[i].cluster_id for i in (1, 2, 3)] == [1, 1, 1]
    assert rows[1].is_representative and not rows[2].is_representative
    assert rows[2].cluster_size == 3 and rows[10].cluster_size == 2


def test_fingerprint_clusters_match_doc_level_closure(spark):
    """The fingerprint collapse must be exactness-preserving: clusters
    from the fp-level graph equal clusters from the full doc-level
    pair closure (equal fingerprints are Hamming-0 connected, so the
    two graphs have identical transitive components)."""
    from white_elephant_spark.operators import clustering

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # near 1
        (4, "totally different words entirely unrelated content here now"),
        (5, "totally different words entirely unrelated content here now"),  # dup of 4
        (6, "lone document with its very own singular vocabulary footprint"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.simhash64(docs)
    via_fp = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_representative)
        for r in clustering.fingerprint_clusters(docs, fps).collect()
    }
    pairs = dedup.simhash_neardup_pairs(fps, max_hamming=3, bands=8)
    via_docs = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_representative)
        for r in clustering.attach_clusters(docs, pairs).collect()
    }
    assert via_fp == via_docs
    assert via_fp[1][0] == via_fp[2][0]  # exact dups share a cluster
    assert via_fp[6][1] == 1 and via_fp[6][2]  # singleton is its own rep


def test_connected_components_string_ids(spark):
    # The local union-find path must handle non-numeric ids (UUIDs,
    # content digests) — it used to int()-crash on them while the
    # distributed loop handled them fine, making behavior depend on
    # data volume. Representative = lexicographic min, matching F.min.
    from white_elephant_spark.operators import clustering

    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("zz-2", "zz-9")],
        "id_a string, id_b string",
    )
    got = {
        r.node: r.cluster_id
        for r in clustering.connected_components(pairs).collect()
    }
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "zz-2": "zz-2", "zz-9": "zz-2",
    }


def test_attach_clusters_absent_min_still_has_representative(spark):
    # Incremental dedup: pairs reference corpus ids absent from the
    # batch docs. The cluster keeps exactly ONE representative — the
    # min PRESENT member — instead of zero (a keep-representatives
    # filter used to drop every batch copy).
    from white_elephant_spark.operators import clustering

    docs = spark.createDataFrame([(10,), (11,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(3, 10), (10, 11)], "id_a long, id_b long"  # 3 = corpus-only id
    )
    rows = {r.doc_id: r for r in clustering.attach_clusters(docs, pairs).collect()}
    assert rows[10].cluster_id == 3 and rows[11].cluster_id == 3
    assert rows[10].is_representative and not rows[11].is_representative
    assert rows[10].cluster_size == 2  # members present in docs


def test_fingerprint_clusters_keep_null_text_docs(spark):
    # A NULL-text doc emits no simhash row; it must still appear in
    # the output as its own singleton (the attach_clusters contract),
    # not silently vanish from the curation pipeline.
    from white_elephant_spark.operators import clustering

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.simhash64(docs)
    got = {
        r.doc_id: r for r in clustering.fingerprint_clusters(docs, fps).collect()
    }
    assert sorted(got) == [1, 2, 3]
    assert got[3].cluster_id == 3 and got[3].cluster_size == 1
    assert got[3].is_representative
    assert got[1].cluster_id == got[2].cluster_id == 1


# ------------------------------------------------- centroid classification


def test_label_centroids_exact_mean_and_order(spark):
    from white_elephant_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 3.0], "a"),
            (2, [3.0, 2.0, 5.0], "a"),
            (3, [0.0, 1.0, 0.0], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    cents = {r.label: r.centroid for r in similarity.label_centroids(vecs).collect()}
    assert cents["a"] == [2.0, 1.0, 4.0]          # exact means
    assert cents["b"] == [0.0, 1.0, 0.0]


def test_classify_by_centroid_picks_nearest(spark):
    from white_elephant_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [0.9, 0.1], "a"),
            (3, [0.0, 1.0], "b"),
            (4, [0.1, 0.9], "b"),
            (5, [0.8, 0.2], "b"),   # mislabeled: nearest centroid is a's
        ],
        "vec_id long, embedding array<float>, label string",
    )
    cents = similarity.label_centroids(vecs)
    out = {r.vec_id: r for r in similarity.classify_by_centroid(vecs, cents).collect()}
    assert len(out) == 5                      # one prediction per vector
    assert out[1].pred_label == "a" and out[3].pred_label == "b"
    assert out[5].pred_label == "a" and out[5].label == "b"


def test_dup_ngram_ratio(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # trigrams: aba bab aba bab -> 2 distinct / 4
            (2, "w x y z"),          # all distinct -> 0.0
            (3, "one two"),          # shorter than n -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.r
        for r in df.selectExpr("doc_id", f"{tx.dup_ngram_ratio(tx.tokens('text'))} AS r").collect()
    }
    assert out[1] == pytest.approx(0.5)
    assert out[2] == 0.0 and out[3] == 0.0


NGRAM_EDGE_DOCS = [
    (1, ""),
    (2, None),
    (3, "solo"),
    (4, "a b"),            # n-1 tokens at n=3, exactly n at n=2
    (5, "a b c"),          # exactly n at n=3
    (6, "a b c d"),        # n-1 tokens at n=5
    (7, "a b c d e"),      # exactly n at n=5
    (8, "spam ham spam ham spam ham"),  # repeated grams
    (9, "a  b  a  b"),     # double spaces: empty tokens
    (10, "x\ny z\nx y z"),  # newlines stay inside tokens
]


# The rest of the text family adds an empty and a newline-only
# document, the non-ASCII zh markers and a NULL text.
TEXT_EDGE_DOCS = NGRAM_EDGE_DOCS + [
    (11, ""),
    (12, "\n\n"),
    (13, "的 了 是 的"),
    (14, None),
]


def _text_measures() -> dict[str, tuple[str, str]]:
    """Measure name → (Spark SQL text, DuckDB twin), both over `text`."""
    w = tx.tokens("text")
    n_emails, n_urls = tx.pii_counts("text")
    sql_emails, sql_urls = tx.sql_pii_counts("text")
    return {
        "token_count": (tx.token_count(w), tx.sql_token_count("text")),
        "bpe_token_count": (tx.bpe_token_count("text"), tx.sql_bpe_token_count("text")),
        "distinct_ratio": (tx.distinct_ratio(w), tx.sql_distinct_ratio("text")),
        "stopword_ratio": (tx.stopword_ratio(w), tx.sql_stopword_ratio("text")),
        "mean_word_len": (tx.mean_word_len("text", w), tx.sql_mean_word_len("text")),
        "quality_score": (tx.quality_score("text", w), tx.sql_quality_score("text")),
        "predict_lang": (tx.predict_lang(w), tx.sql_predict_lang("text")),
        "fingerprint": (tx.fingerprint(w), tx.sql_fingerprint("text")),
        "dup_line_ratio": (tx.dup_line_ratio(tx.lines("text")), tx.sql_dup_line_ratio("text")),
        "scrub_pii": (tx.scrub_pii("text"), tx.sql_scrub_pii("text")),
        "n_emails": (n_emails, sql_emails),
        "n_urls": (n_urls, sql_urls),
        "normalize_text": (tx.normalize_text("text"), tx.sql_normalize_text("text")),
    }


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngram_builders_match_duckdb_twins(spark, n):
    """tx.ngrams and the three builders on it (word_ngrams,
    dup_ngram_ratio, top_ngram_frac), then every other text measure,
    against their DuckDB twins. The rows below n tokens prove every
    ``slice`` stays inside its ``size >= n`` guard (an unguarded one
    raises on them)."""
    import duckdb

    df = spark.createDataFrame(TEXT_EDGE_DOCS, "doc_id long, text string")
    w = tx.tokens("text")
    measures = _text_measures()
    got = {
        r.doc_id: tuple(r)[1:]
        for r in df.selectExpr(
            "doc_id",
            f"CASE WHEN size({w}) >= {n} THEN {tx.ngrams(w, n)} END AS grams",
            f"{dedup.word_ngrams(w, n)} AS wn",
            f"{tx.dup_ngram_ratio(w, n)} AS dr",
            f"{tx.top_ngram_frac(w, n)} AS tf",
            *(f"{spark_sql} AS {name}" for name, (spark_sql, _) in measures.items()),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", TEXT_EDGE_DOCS)
    twins = ", ".join(twin for _, twin in measures.values())
    exp = {
        r[0]: r[1:]
        for r in con.sql(
            f"SELECT doc_id,"
            f" CASE WHEN len(string_split(text, ' ')) >= {n} THEN {tx.sql_ngrams('text', n)} END,"
            f" {dedup.sql_word_ngrams('text', n)}, {tx.sql_dup_ngram_ratio('text', n)},"
            f" {tx.sql_top_ngram_frac('text', n)}, {twins} FROM t"
        ).fetchall()
    }
    assert got.keys() == exp.keys()
    for k, (grams, wn, dr, tf, *rest) in got.items():
        e_grams, e_wn, e_dr, e_tf, *e_rest = exp[k]
        assert grams == e_grams, k  # position order, repeats kept
        assert (wn if wn is None else sorted(wn)) == (
            e_wn if e_wn is None else sorted(e_wn)
        ), k  # NULL document: NULL on both
        assert dr == pytest.approx(e_dr, abs=1e-12), k
        assert tf == pytest.approx(e_tf, abs=1e-12), k
        for name, value, e_value in zip(measures, rest, e_rest):
            assert value == e_value, (k, name)  # doubles bit for bit
    if n == 2:
        assert got[8][0] == ["spam ham", "ham spam"] * 2 + ["spam ham"]
        assert got[9][0] == ["a ", " b", "b ", " a", "a ", " b"]


def test_top_ngram_frac_and_dup_lines(spark):
    """Gopher repetition family: mode-bigram position share and
    duplicate-line fraction, cross-checked against the DuckDB twins
    on the same rows."""
    import duckdb

    rows = [
        (1, "spam ham spam ham spam ham"),   # 'spam ham' at 3 of 5 positions
        (2, "a b c d e"),                    # all bigrams distinct -> 1/4
        (3, "solo"),                         # < n tokens -> 0.0
        (4, "x\ny\nx\n\nz"),             # 4 non-empty lines, 'x' twice
        (5, "one line only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.tf, r.dl)
        for r in df.selectExpr(
            "doc_id",
            f"{tx.top_ngram_frac(tx.tokens('text'))} AS tf",
            f"{tx.dup_line_ratio(tx.lines('text'))} AS dl",
        ).collect()
    }
    assert got[1][0] == pytest.approx(3 / 5)
    assert got[2][0] == pytest.approx(1 / 4)
    assert got[3] == (0.0, 0.0)
    assert got[4][1] == pytest.approx(1 - 3 / 4)
    assert got[5][1] == 0.0
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    exp = dict(
        con.sql(
            f"SELECT doc_id, [{tx.sql_top_ngram_frac('text')},"
            f" {tx.sql_dup_line_ratio('text')}] FROM t"
        ).fetchall()
    )
    for k, (tf, dl) in got.items():
        assert exp[k][0] == pytest.approx(tf, abs=1e-12)
        assert exp[k][1] == pytest.approx(dl, abs=1e-12)


# ------------------------------------------------- sq8 quantized ANN


def test_sq8_quantize_values(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.5, 0.25, 0.0])], "vec_id long, embedding array<float>"
    )
    out = (
        df.crossJoin(F.broadcast(similarity.sq8_scale(df)))
        .select(similarity.sq8_quantize("embedding", 4).alias("q"))
        .collect()[0]
        .q
    )
    # scale = 0.5 → components quantize to 127, -126 (floor(-127+0.5)
    # = -127? no: floor(-0.5*254/1 ... explicit: floor(-127 + 0.5) =
    # floor(-126.5) = -127), 64 (floor(63.5+0.5)), 0
    assert out == [127, -127, 64, 0]


def test_sq8_topk_matches_exact_on_separated_corpus(spark):
    # well-separated synthetic corpus: quantized prefilter with m=4k
    # must recover the exact top-k
    vecs = [
        (i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6), float(i % 5 + 1)])
        for i in range(60)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id").isin(0, 30))
    exact = similarity.cosine_topk(df, q, k=5, dim=3)
    sq8 = similarity.sq8_cosine_topk(df, q, dim=3, k=5)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    s = {(r.query_id, r.nbr_id) for r in sq8.collect()}
    assert len(e & s) / len(e) >= 0.9
    # reported cosine on the sq8 path is the EXACT re-ranked value
    ec = {(r.query_id, r.nbr_id): r.cos_sim for r in exact.collect()}
    for r in sq8.collect():
        if (r.query_id, r.nbr_id) in ec:
            assert r.cos_sim == ec[(r.query_id, r.nbr_id)]


def test_ivf_refined_centroids_are_cell_means(spark):
    # two tight 2-D clusters; one Lloyd step must land each centroid
    # on (a micro-unit-quantized) cluster mean, partitioning-invariant
    vecs = [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(12)] + [
        (100 + i, [0.0, 5.0 + (i % 3) * 0.1]) for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    c1 = similarity.ivf_refined_centroids(df, ncentroids=2, dim=2, iters=1)
    c2 = similarity.ivf_refined_centroids(
        df.repartition(7), ncentroids=2, dim=2, iters=1
    )
    assert c1 == c2  # deterministic under any physical layout
    assert len(c1) <= 2

    # replicate the Lloyd step in Python: assign by (cosine DESC,
    # cid ASC), then micro-unit-quantized cell means — must match
    import math

    import numpy as np

    seeds = similarity.ivf_centroids(df, ncentroids=2)
    # the column is array<float>: round-trip through float32 like the
    # engine does before the double widening
    data = {vid: [float(np.float32(x)) for x in vec] for vid, vec in vecs}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    cells: dict[int, list[list[float]]] = {}
    for vid, v in data.items():
        best = min(seeds, key=lambda c: (-cos(v, c[1]), c[0]))
        cells.setdefault(best[0], []).append(v)
    expected = {}
    for cid, vs in cells.items():
        expected[cid] = [
            sum(math.floor(v[d] * 1_000_000) for v in vs) / 1_000_000 / len(vs)
            for d in range(2)
        ]
    got = {cid: vec for cid, vec, _norm in c1}
    assert got == expected


def test_interdoc_repeated_ngrams(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),            # trigrams: abc bcd cde — all shared with doc 2
            (2, "a b c d e f"),          # abc bcd cde def — 3 of 4 shared
            (3, "x y z w v"),            # unique trigrams
            (4, "q r"),                  # too short: 0 grams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.repeated_frac)
        for r in dedup.interdoc_repeated_ngrams(docs, n=3).collect()
    }
    assert out[1] == (3, 1.0)
    assert out[2][0] == 4 and abs(out[2][1] - 0.75) < 1e-12
    assert out[3] == (3, 0.0)
    assert out[4] == (0, 0.0)


def test_null_vectors_dropped_at_numpy_boundaries(spark):
    # One NULL embedding must not kill the Arrow/numpy kernels:
    # encode_for_lsh and cosine_topk drop it (same rule as the PCA
    # boundary), and results equal the pre-filtered corpus's.
    rows = [(1, [1.0, 0.0, 0.0]), (2, None), (3, [0.9, 0.1, 0.0]), (4, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = df.filter(F.col("embedding").isNotNull())

    enc = similarity.encode_for_lsh(df, dim=3, planes=2, tables=2)
    assert sorted(r["vec_id"] for r in enc.collect()) == [1, 3, 4]

    got = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 1), k=1, dim=3)
    want = similarity.cosine_topk(clean, clean.filter(F.col("vec_id") == 1), k=1, dim=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_null_vectors_dropped(spark):
    # vec_id 101's md5('ivf:101') sorts BELOW every hash of ids 0..39,
    # so the null lands inside the top-4 centroid hash sample — the
    # drop rule must hold structurally, not by hash luck (the old
    # vec_id-99 null happened to miss the sample).
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(40)]
    rows.append((99, None))
    rows.append((101, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = df.filter(F.col("embedding").isNotNull())
    got = similarity.ivf_cosine_topk(df, df.filter(F.col("vec_id") % 10 == 0), dim=3, k=2, ncentroids=4, nprobe=2)
    want = similarity.ivf_cosine_topk(clean, clean.filter(F.col("vec_id") % 10 == 0), dim=3, k=2, ncentroids=4, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_refined_null_vectors_dropped(spark):
    # refine>0 trains on ncentroids*TRAIN_PER_CENTROID rows — with a
    # 41-row corpus the whole corpus IS the sample, so ANY null would
    # have crashed the driver-local Lloyd step before the r9 fix.
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = df.filter(F.col("embedding").isNotNull())
    got = similarity.ivf_refined_centroids(df, ncentroids=4, dim=3, iters=1)
    want = similarity.ivf_refined_centroids(clean, ncentroids=4, dim=3, iters=1)
    assert got == want


# ----------------------------- r9 third-decade cliff fixes (IVF/SemDeDup)


def test_top1_cells_tie_and_nan_semantics():
    # (cos DESC, cid ASC) with NaN-ranked-last — the lexsort/ROW_NUMBER
    # rule the chunked argmax kernel must reproduce exactly.
    import numpy as np

    cids = np.array([3, 7, 9], dtype=np.int64)
    C = np.array([[1.0, 0.0], [0.0, 1.0], [0.0, 1.0]], dtype=np.float64).T
    cnorms = np.array([1.0, 1.0, 1.0])
    V = np.array(
        [
            [0.0, 2.0],   # ties between cid 7 and 9 -> lowest cid wins
            [2.0, 0.0],   # plain nearest -> cid 3
            [0.0, 0.0],   # zero vector: all-NaN cosines -> first cid
        ]
    )
    import warnings

    with warnings.catch_warnings():
        # The zero-vector row's 0/0 is the DELIBERATE NaN path; the
        # kernel must produce it silently (np.errstate) so an expected
        # RuntimeWarning can't mask an unexpected one in the suite.
        warnings.simplefilter("error", RuntimeWarning)
        got = similarity._top1_cells(V, cids, C, cnorms, 2)
    assert got.tolist() == [7, 3, 3]


def test_top1_cells_blocked_equivalence(monkeypatch):
    # The r13 cache-blocked fold must be BIT-identical to the
    # unblocked reference (same strict left fold per element; blocking
    # changes only the memory access pattern). Covers tile-boundary
    # sizes, duplicate-centroid ties and zero-norm rows, and odd
    # block/tile settings.
    import numpy as np

    def reference(V, cids, C, cnorms, dim):
        dots = np.zeros((V.shape[0], cids.shape[0]), dtype=np.float64)
        vv = np.zeros(V.shape[0], dtype=np.float64)
        for i in range(dim):  # strict left fold, element order
            col = V[:, i]
            dots += col[:, None] * C[i]
            vv += col * col
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = dots / (np.sqrt(vv)[:, None] * cnorms)
        cos = np.where(np.isnan(cos), -np.inf, cos)
        return cids[np.argmax(cos, axis=1)]

    rng = np.random.default_rng(7)
    cases = [
        (257, 300, 8, {}),                # past one row block
        (512, 256, 8, {}),                # exact block/tile boundary
        (513, 257, 8, {}),                # boundary + 1
        (100, 600, 4, {"ties": True}),    # dup centroids across tiles
        (300, 77, 8, {"zeros": 5}),       # zero-norm rows keep cids[0]
        (1, 1, 4, {}),
    ]
    for n, k, dim, kw in cases:
        V = rng.normal(size=(n, dim))
        if kw.get("ties"):
            base = rng.normal(size=(k // 2 + 1, dim))
            Cm = np.vstack([base, base])[:k]
        else:
            Cm = rng.normal(size=(k, dim))
        if kw.get("zeros"):
            V[: kw["zeros"]] = 0.0
        cids = np.sort(rng.choice(10**6, size=k, replace=False)).astype(np.int64)
        cnorms = np.sqrt((Cm * Cm).sum(axis=1))
        C = np.ascontiguousarray(Cm.T)
        want = reference(V, cids, C, cnorms, dim)
        got = similarity._top1_cells(V, cids, C, cnorms, dim)
        assert np.array_equal(got, want), (n, k, dim, kw)
        # odd blocking must not change anything either
        monkeypatch.setattr(similarity, "_ASSIGN_ROW_BLOCK", 3)
        monkeypatch.setattr(similarity, "_ASSIGN_CENT_TILE", 2)
        got_odd = similarity._top1_cells(V, cids, C, cnorms, dim)
        monkeypatch.undo()
        assert np.array_equal(got_odd, want), (n, k, dim, kw)


def test_lloyd_cell_means_grouped_equivalence():
    # The r13 sort+reduceat grouping must reproduce the per-cid
    # mask-loop EXACTLY: int64 micro-unit sums are order-independent,
    # the mean keeps the (s/scale)/count op sequence, and the norm is
    # the strict left fold + python ** 0.5 (np.sqrt can differ from
    # pow(x, .5) by 1 ulp — caught by this test when tried).
    import numpy as np

    def reference(sample, top1, scale, dim):
        def pynorm(vec):
            s = 0.0
            for x in vec:
                s += x * x
            return s**0.5

        q = np.floor(sample * scale).astype(np.int64)
        out = []
        for cid in sorted(set(top1.tolist())):
            mask = top1 == cid
            s = q[mask].sum(axis=0)
            mean = (s.astype(np.float64) / scale) / int(mask.sum())
            vec = [float(x) for x in mean]
            out.append((int(cid), vec, pynorm(vec)))
        return out

    rng = np.random.default_rng(11)
    for S, C in [(2000, 37), (64, 64), (500, 1), (1000, 999)]:
        sample = rng.normal(size=(S, 8))
        cids = np.sort(rng.choice(10**6, size=C, replace=False)).astype(np.int64)
        top1 = cids[rng.integers(0, C, size=S)]
        got = similarity._lloyd_cell_means(sample, top1, 1_000_000, 8)
        assert got == reference(sample, top1, 1_000_000, 8), (S, C)


def test_lloyd_chunking_invariant(spark, monkeypatch):
    # Row-chunked assignment must not change trained centroids (each
    # row's arithmetic is independent).
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = similarity.ivf_refined_centroids(df, ncentroids=4, dim=3, iters=2)
    monkeypatch.setattr(similarity, "_ASSIGN_CHUNK", 3)
    assert similarity.ivf_refined_centroids(df, ncentroids=4, dim=3, iters=2) == base


def test_train_sample_cap_binds(spark, monkeypatch):
    # With a corpus-scaled centroid count the per-centroid sample rule
    # alone grows the driver Lloyd quadratically; the cap must bound
    # the sample to the top-CAP hash prefix — identical to training on
    # the pre-filtered top-CAP corpus.
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(similarity, "TRAIN_SAMPLE_CAP", 8)
    capped = similarity.ivf_refined_centroids(df, ncentroids=2, dim=3, iters=1)
    # hash-top-8 subset as its own corpus trains identically
    import hashlib as _h

    def hk(i):
        return _h.md5(f"ivf:{i}".encode()).hexdigest()

    top8 = sorted(range(40), key=lambda i: (hk(i), i))[:8]
    sub = df.filter(F.col("vec_id").isin(top8))
    monkeypatch.setattr(similarity, "TRAIN_SAMPLE_CAP", 131072)
    want = similarity.ivf_refined_centroids(sub, ncentroids=2, dim=3, iters=1)
    assert capped == want


def test_sql_twin_mirrors_sample_cap():
    sql = similarity.sql_ivf_refined_centroids(dim=4, iters=1, k_cte="kk")
    assert f"least(k * {similarity.TRAIN_PER_CENTROID}, {similarity.TRAIN_SAMPLE_CAP})" in sql


def test_ivf_build_index_emits_scalar_cell(spark):
    # The assignment kernel returns ONE cell id per row (bigint), not
    # the full C-length ranking — the O(N*C) UDF output was the r9
    # third-decade memory cliff.
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(df, 4, "vec_id", "embedding")
    idx = similarity.ivf_build_index(df, cents, 3)
    assert dict(idx.dtypes)["cid"] == "bigint"
    valid = {c[0] for c in cents}
    assert all(r.cid in valid for r in idx.select("cid").collect())


def test_ivf_train_sample_driver_transfer_bounded(spark):
    """Sixth-decade regression (r13): the IVF trainers' hash-sample
    collect must bound its DRIVER transfer by the sample size. A
    terminal orderBy().limit(n).collect() executes TakeOrdered's
    collect path, which returns each partition's LOCAL top-n as a
    separate driver task result — at sf300 (~30M vectors over ~68 scan
    partitions, n_sample at the 131072 cap in the SemDeDup kmeans
    trainer) that crossed spark.driver.maxResultSize. The trainers
    therefore force the global top-n through a single-partition
    exchange (one task, <= n rows to the driver). Pin the plan layout
    and that trained centroids are invariant to input partitioning."""
    import pyspark.sql.functions as F

    from white_elephant_spark.operators import similarity

    # the trainers' exact expression shape over a many-partition input
    df = spark.range(0, 4096, 1, 64).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    key = F.md5(F.concat(F.lit("ivf:"), F.col("vec_id").cast("string")))
    sampled = (
        df.select("vec_id", "embedding", key.alias("hk"))
        .orderBy("hk", "vec_id")
        .limit(256)
        .coalesce(1)
    )
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    # the Coalesce parent is what forces TakeOrderedAndProject through
    # its DISTRIBUTED doExecute (local top-n per partition -> internal
    # single-partition exchange -> global top-n) instead of the
    # terminal executeCollect path that ships every partition's local
    # top-n to the driver as separate task results
    assert plan.startswith("Coalesce 1")
    assert "TakeOrderedAndProject" in plan
    assert "CollectLimit" not in plan
    # trained model identical whether the corpus arrives in 1 or 64
    # partitions (the global top-n must not depend on scan layout)
    wide = similarity.ivf_refined_centroids(df, ncentroids=4, dim=4, iters=1)
    narrow = similarity.ivf_refined_centroids(
        df.coalesce(1), ncentroids=4, dim=4, iters=1
    )
    assert wide == narrow
    assert similarity.ivf_centroids(df, 4) == similarity.ivf_centroids(
        df.coalesce(1), 4
    )
