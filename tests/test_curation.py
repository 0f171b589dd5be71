"""Behavioral tests for sampling, splitting, scrubbing, relevance,
and packing operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from white_elephant_spark.functions import text as tx
from white_elephant_spark.operators import packing, relevance, sampling


def test_hash_sample_partitioning_invariant(spark):
    # Identical selection regardless of physical layout — the property
    # df.sample() lacks.
    df1 = spark.range(0, 2000).repartition(1)
    df32 = spark.range(0, 2000).repartition(32)
    kept = lambda df: sorted(
        r.id for r in df.filter(f"{sampling.hash_bucket('id', 100, 's1')} < 25").collect()
    )
    k1, k32 = kept(df1), kept(df32)
    assert k1 == k32
    assert 0.18 < len(k1) / 2000 < 0.32  # ~25%


def test_stratified_rates(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)], "id long, s string"
    )
    out = df.filter(
        sampling.stratified_sample_pred("s", {"a": 50}, default_rate=5, id_expr="id")
    ).groupBy("s").count().collect()
    n = {r.s: r["count"] for r in out}
    assert 400 < n["a"] < 600      # ~50% of 1000
    assert 20 < n.get("b", 0) < 90  # ~5% of 1000


def test_split_by_cluster_never_straddles(spark):
    docs = spark.createDataFrame(
        [(i, i % 50) for i in range(500)], "doc_id long, cluster_id long"
    )
    out = sampling.split_by_cluster(docs, train_pct=80)
    per_cluster = (
        out.groupBy("cluster_id").agg(F.count_distinct("split").alias("k")).collect()
    )
    assert all(r.k == 1 for r in per_cluster)
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "test"}


def test_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail Bob.Smith+x@corp.example.org and https://a.b/c?d=1 now"),
         (2, "no pii   here\tat all")],
        "id long, text string",
    )
    n_emails, n_urls = tx.pii_counts("text")
    out = {
        r.id: r
        for r in df.selectExpr(
            "id",
            f"{n_emails} AS ne",
            f"{n_urls} AS nu",
            f"{tx.normalize_text(tx.scrub_pii('text'))} AS clean",
        ).collect()
    }
    assert (out[1].ne, out[1].nu) == (1, 1)
    assert out[1].clean == "mail <email> and <url> now"
    assert (out[2].ne, out[2].nu) == (0, 0)
    assert out[2].clean == "no pii here at all"


def test_tfidf_prefers_rare_terms(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare1"),
            (2, "common rare2 rare2"),
            (3, "common common common"),
        ],
        "doc_id long, text string",
    )
    top = relevance.tfidf_top_terms(docs, k=1).collect()
    best = {r.doc_id: r.term for r in top}
    assert best[1] == "rare1" and best[2] == "rare2"
    assert best[3] == "common"  # only term present


def test_bm25_rewards_tf_and_brevity(spark):
    docs = spark.createDataFrame(
        [
            (1, "q q q pad"),
            (2, "q pad pad pad pad pad pad pad"),
            (3, "pad pad"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in relevance.bm25_scores(docs, ["q"]).collect()}
    assert set(out) == {1, 2}           # doc 3 has no query term
    assert out[1] > out[2] > 0


def test_pack_linear_boundaries(spark):
    # One shard; tokens 300+300 cross the 512 boundary: the second doc
    # starts at offset 300 and still belongs to bin 0; the third doc
    # starts at 600 -> bin 1, offset 88.
    docs = spark.createDataFrame(
        [(0, 300), (8, 300), (16, 100)], "doc_id long, ntok long"
    )
    out = {
        r.doc_id: (r.bin, r.bin_offset)
        for r in packing.pack_linear(docs, "ntok", budget=512, shards=8).collect()
    }
    assert out[0] == (0, 0)
    assert out[8] == (0, 300)
    assert out[16] == (1, 600 - 512)


# ------------------------------------------------- contamination


def test_ngram_contamination_fractions(spark):
    from white_elephant_spark.operators import contamination

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # eval doc
            (2, "a b c d e f g h"),          # full copy → frac 1.0
            (3, "a b c d e z z z z z z z"),  # shares 1 of its 5-grams? none except a b c d e
            (4, "q r s t u v w x"),          # disjoint → 0.0
        ],
        "doc_id long, text string",
    )
    ev = docs.filter(F.col("doc_id") == 1)
    out = {
        r.doc_id: r.contam_frac
        for r in contamination.ngram_contamination(docs, ev, n=5).collect()
    }
    assert out[1] == 1.0 and out[2] == 1.0
    # doc 3: 12 tokens → 8 5-grams but only 6 DISTINCT (the z-runs
    # collapse); only "a b c d e" hits the eval set → 1/6
    assert abs(out[3] - 1.0 / 6.0) < 1e-12
    assert out[4] == 0.0


def test_unigram_surprisal_ranks_rare_heavy_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common common rareword"),
            (3, "rareword otherrare thirdrare common"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.surprisal for r in relevance.unigram_surprisal(docs).collect()}
    # corpus: common ×8, rareword ×2, otherrare ×1, thirdrare ×1 (N=12)
    # doc1 = mean(12/8 ×4)            = 1.5
    # doc3 = (12/2 + 12/1 + 12/1 + 12/8)/4 = 7.875
    assert out[1] == 1.5
    assert out[1] < out[2] < out[3]
    assert abs(out[3] - 7.875) < 1e-9


def test_fuzzy_join_blocked_matches_brute_force(spark):
    from white_elephant_spark.operators.fuzzy import fuzzy_join

    names = [
        (1, "jonathan smith"),
        (2, "jonathon smith"),      # ed 1 from 1
        (3, "j smith"),
        (4, "totally different"),
        (5, "abc"),                 # short-string path
        (6, "abd"),                 # ed 1 from 5
        (7, "abcdef"),              # boundary-length vs short
        (8, "abcde"),               # ed 1 from 7
        (9, "xbc"),                 # ed 1 from 5, FIRST char differs —
                                    # breaks naive first-char blocking
        (10, "ab"),                 # ultra-short (len <= d)
        (11, "b"),                  # ultra-short, ed 1 from 10
        (12, "zq"),                 # ultra-short, ed 2 from 10
    ]
    left = spark.createDataFrame(names, "lid long, lname string")
    right = spark.createDataFrame(
        [(i + 100, n) for i, n in names], "rid long, rname string"
    )
    got = {
        (r.lid, r.rid)
        for r in fuzzy_join(left, right, "lname", "rname", max_dist=2, q=2).collect()
    }
    # brute-force truth
    import itertools

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (lid, rid)
        for (lid, ln), (ri, rn) in itertools.product(names, names)
        for rid in [ri + 100]
        if ed(ln, rn) <= 2
    }
    assert got == want


def test_fuzzy_join_indexed_matches_plain(spark):
    # The registry-served corpus-side index (corpus-only gram order,
    # probe grams defaulting to frequency 0) must reproduce the plain
    # union-frequency join exactly — the post-verify result is
    # blocking-order-independent.
    from white_elephant_spark.operators.fuzzy import build_fuzzy_index, fuzzy_join

    names = [
        (1, "jonathan smith"),
        (2, "jonathon smith"),
        (3, "j smith"),
        (4, "totally different"),
        (5, "abc"),
        (6, "abd"),
        (7, "abcdef"),
        (8, "abcde"),
        (9, "xbc"),
        (10, "ab"),
        (11, "b"),
        (12, "zq"),
        (13, "qqqqq"),  # probe-only grams on the left side below
    ]
    left = spark.createDataFrame(names, "lid long, lname string")
    right = spark.createDataFrame(
        [(i + 100, n) for i, n in names if i != 13], "rid long, rname string"
    )
    plain = {
        (r.lid, r.rid, r.edit_dist)
        for r in fuzzy_join(left, right, "lname", "rname", max_dist=2, q=2).collect()
    }
    idx = build_fuzzy_index(right, "rname", q=2, max_dist=2)
    indexed = {
        (r.lid, r.rid, r.edit_dist)
        for r in fuzzy_join(
            left, right, "lname", "rname", max_dist=2, q=2, index=idx
        ).collect()
    }
    assert indexed == plain


def test_fuzzy_join_min_rl_stat_prunes_without_loss(spark):
    # With every corpus string at or above q*(d+1) chars, passing the
    # corpus min-length stat prunes the short/ultra legs statically —
    # and still matches the un-pruned indexed join, including probes
    # BELOW the bound (covered by the main leg's completeness, which
    # needs only the longer side at the bound).
    from white_elephant_spark.operators.fuzzy import build_fuzzy_index, fuzzy_join

    right = spark.createDataFrame(
        [(100, "jonathan smith"), (101, "jonathon smith"), (102, "abcdefgh")],
        "rid long, rname string",
    )
    left = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "abcdefg"), (3, "abcdef"), (4, "zz")],
        "lid long, lname string",
    )
    q, d = 2, 2
    idx = build_fuzzy_index(right, "rname", q=q, max_dist=d)
    min_rl = min(len(n) for _, n in right.collect())
    assert min_rl >= q * (d + 1)
    unpruned = {
        (r.lid, r.rid, r.edit_dist)
        for r in fuzzy_join(
            left, right, "lname", "rname", max_dist=d, q=q, index=idx
        ).collect()
    }
    pruned = {
        (r.lid, r.rid, r.edit_dist)
        for r in fuzzy_join(
            left, right, "lname", "rname", max_dist=d, q=q, index=(*idx, min_rl)
        ).collect()
    }
    assert pruned == unpruned
    # sanity: the at-bound matches exist (abcdefg ~ abcdefgh, ed 1)
    assert (2, 102, 1) in pruned
