"""Deterministic corpus amplification for scale measurements.

The shipped parquet corpora go up to sf0.1. This tool synthesizes an
sf1-equivalent corpus (or sf10, the largest this box holds) by
replicating sf0.1 ``copies`` times with coordinated key offsets — NOT
as query input for correctness (the oracles always run on the shipped
testdata), purely as the input of ``bench.py`` and
``tools/profile_query.py`` runs at a larger scale.

Replication rules (what makes the amplified corpus behave like
genuinely bigger data rather than a degenerate pile of duplicates):

- **Coordinated key shifts.** Every copy shifts each key family by
  ``copy_idx * unit`` where ``unit`` is the smallest power of 10
  above the key's max — foreign keys stay consistent (orders still
  join their customers, lineitems their orders), and power-of-10
  offsets preserve the ``key % 100`` query-selection patterns, so
  query-side row counts scale exactly linearly.
- **Dimension tables stay fixed.** region/nation are genuinely
  dimension-sized at every sf; nationkey references are untouched.
- **Copies are content-disjoint.** Texts go through a copy-specific
  alphanumeric substitution cipher (``translate`` with a rotated or
  md5-permuted alphabet) and embeddings a deterministic per-copy
  ORTHOGONAL ROTATION. A per-character bijection preserves EVERY
  intra-copy text relationship exactly — lengths, token boundaries,
  edit distances, shingle equalities — and an orthogonal transform
  preserves every intra-copy cosine/norm exactly, so each copy
  carries the same planted duplicate/near-duplicate/fuzzy-typo
  structure as the original, while cross-copy q-grams and shingles
  are disjoint and same-origin cosines drop to ~N(0, 1/dim) ≈ 0.
  Without this, every dedup/ANN/fuzzy candidate set would grow
  quadratically in ``copies`` — a data artifact real corpus growth
  does not have, which would flag honest plans as superlinear. Two
  measured instances of that artifact class drove the current rules:
  the first cut used per-token text suffixes (cross-copy grams
  stayed ~shared; Ed-Join candidates grew 45x instead of 10x), and
  the second used a per-(copy, dim) diagonal scale in [0.8, 1.2] for
  embeddings (same-origin cross-copy cosines stayed ~0.993 — below
  the 0.999 near-dup threshold but ABOVE SemDeDup's 0.95, planting
  origins x C(copies, 2) semantic pairs: 9.9M of the 11.2M pairs at
  100 copies, found by the r9 third-decade probe).

Usage: python tools/make_scale_corpus.py [src_dir out_dir copies]
       (defaults: /root/testdata/sf0.1 <repo>/.scratch/sf1 10)
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _unit(df, col: str) -> int:
    mx = df.agg(F.max(col)).collect()[0][0] or 0
    u = 100  # floor keeps `% 100` selection patterns intact
    while u <= mx:
        u *= 10
    return u


#: Query-side planted-id offsets (plans/text_queries.py): documents
#: plant copies at doc_id + 1e6, embeddings at vec_id + 1e6 and + 2e6.
PLANTED_MIN = 1_000_000
PLANTED_SPAN = 2_000_000


def _band_safe(mx: int, unit: int, copies: int, span: int = PLANTED_SPAN) -> bool:
    """True iff no copy's planted ids can land inside any copy's REAL
    id band. Real ids live in ⋃_c [c·unit, c·unit+mx]; planted ids in
    ⋃_c [c·unit+1e6, c·unit+span+mx]. Two safe regimes exist:

    - *everything-above*: (copies-1)·unit + mx < 1e6 — every planted
      id exceeds every real id (the committed sf1/sf10 corpora);
    - *stride-clears-span*: unit > span + mx — each copy's planted
      band fits strictly inside its own stride (the 1e7 bump).

    The general predicate: a collision needs some inter-copy distance
    k·unit to fall inside [1e6 − mx, span + mx] (k = 0 covers the
    within-copy case, safe iff mx < 1e6). Re-amplifying an amplified
    corpus fails here loudly — its max id already exceeds 1e6, so
    copy c's planted ids would alias copy c's (or a later copy's)
    real ids and silently re-plant the id-band artifact that doubled
    corpus_curation's output at 300 copies."""
    if mx >= PLANTED_MIN:
        return False
    k = 1
    while k < copies and k * unit <= span + mx:
        if k * unit >= PLANTED_MIN - mx:
            return False
        k += 1
    return True


def _shift(df, cols: dict[str, int], c: int):
    out = df
    for col, unit in cols.items():
        out = out.withColumn(col, (F.col(col) + F.lit(c * unit)).cast("long"))
    return out


_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"
# Punctuation is ALSO ciphered (r11). The r11 diagnosis that an
# alnum-only cipher had planted the fifth-decade mega-cluster was
# REFUTED by round-12 measurement (SCALING.md retraction: the
# corpus contains zero punctuation characters, so this change was
# a byte-level no-op on the committed corpora and the regenerated
# sf10 reproduces the r11 numbers exactly; corpus_check measures
# cross_copy_edges: 0). The cipher coverage REMAINS because it is
# the correct general behavior: any un-ciphered character class
# WOULD plant cross-copy near-dup mass in docs dominated by it,
# and a per-copy bijection per class preserves every intra-copy
# length/edit-distance/shingle relationship exactly like the alnum
# classes. NOTE: punct mapping changes synthesized bytes for
# copies >= 1 only for corpora whose source contains punctuation —
# the bench comparability stamp refuses cross-tool_sha comparison
# by design.
_PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def _perm(chars: str, seed: str) -> str:
    """Deterministic md5-seeded permutation of a character class —
    the general form of the rotation cipher for copy counts past
    26: rotations repeat mod 26/10, so copies 0 and 26 would share
    letter content and plant cross-copy duplicates that real
    corpus growth does not have (the same artifact class the
    per-token-suffix first cut had)."""
    out = list(chars)
    for i in range(len(out) - 1, 0, -1):
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
        j = h % (i + 1)
        out[i], out[j] = out[j], out[i]
    return "".join(out)


def cipher_maps(c: int) -> tuple[str, str]:
    """(src, dst) ``translate`` alphabets for copy ``c`` — a bijection
    within each character class, so lengths, edit distances and
    within-copy shingle equalities are preserved bit-for-bit;
    n_chars stays valid. Copies 1..25 rotate (byte compatible with
    the committed sf1 corpus); copies >=26 use seeded permutations so
    every copy pair stays content-disjoint. Module-level (not nested
    in main) so tests can build green corpora and corpus_check's red
    test can plant the alnum-only artifact against the same source."""
    src = _ALPHA + _ALPHA.upper() + _DIGIT + _PUNCT
    if c < 26:
        # Per CLASS, rotation is only artifact-free while c is below
        # the class length: at c >= len(class) the rotation wraps —
        # c=10 and c=20 rotated digits by ZERO (identity: an unciphered
        # class, the same artifact family as the alnum-only cipher),
        # and copies c and c+10 shared one digit mapping (planted
        # cross-copy content in digit-bearing docs). Classes whose
        # rotation would wrap fall back to the seeded permutation,
        # which is unique per copy. Byte-compatible with every
        # committed corpus: the letter class (len 26) never wraps for
        # c < 26, and the generation-validated sf1/sf10/sf100 corpora
        # contain zero digit/punct characters (measured r13), so the
        # digit-class change is a byte-level no-op there.
        rl = c % 26
        lo = _ALPHA[rl:] + _ALPHA[:rl]
        dig = (
            _DIGIT[c:] + _DIGIT[:c] if c < len(_DIGIT)
            else _perm(_DIGIT, f"digit:{c}")
        )
        pun = (
            _PUNCT[c:] + _PUNCT[:c] if c < len(_PUNCT)
            else _perm(_PUNCT, f"punct:{c}")
        )
        dst = lo + lo.upper() + dig + pun
    else:
        lo = _perm(_ALPHA, f"alpha:{c}")
        dst = (
            lo + lo.upper() + _perm(_DIGIT, f"digit:{c}")
            + _perm(_PUNCT, f"punct:{c}")
        )
    return src, dst


def doc_copy(d, c: int):
    if c == 0:
        return d
    src, dst = cipher_maps(c)
    return d.withColumn("text", F.translate(F.col("text"), src, dst))


def _emb_rotation(c: int, dim: int):
    """Deterministic per-copy orthogonal matrix: md5-seeded Gaussian →
    QR, columns sign-fixed on R's diagonal so the result is unique
    regardless of LAPACK's QR sign convention. Orthogonality preserves
    every intra-copy cosine and norm bit-for-float32, while a random
    rotation sends cross-copy same-origin cosines to ~N(0, 1/dim)."""
    import numpy as np

    seed = int(hashlib.md5(f"scale-rot:{c}".encode()).hexdigest()[:8], 16)
    g = np.random.RandomState(seed).standard_normal((dim, dim))
    q, r = np.linalg.qr(g)
    return q * np.sign(np.diag(r))


def main() -> None:
    args = sys.argv[1:]
    only: set[str] | None = None
    validate = True
    if "--skip-validate" in args:
        # escape hatch for partial regeneration experiments only — a
        # corpus written this way is stamped validated=false and any
        # scale probe against it must say so.
        validate = False
        args.remove("--skip-validate")
    if "--tables" in args:
        i = args.index("--tables")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    src = args[0] if args else "/root/testdata/sf0.1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_root = args[1] if len(args) > 1 else os.path.join(repo, ".scratch", "sf1")
    copies = int(args[2]) if len(args) > 2 else 10

    def wanted(t: str) -> bool:
        # --tables: generate only the named fact tables (dimension
        # tables always ship — they're tiny and every catalog load
        # may touch them). A partial corpus is for SINGLE-QUERY scale
        # probes whose queries read a known table subset; the manifest
        # records the subset so a bench run against it is refused a
        # comparability claim it can't make.
        return only is None or t in only or t in ("region", "nation")

    from white_elephant_spark.session import get_spark

    spark = get_spark("make-scale-corpus", shuffle_partitions=32)
    os.makedirs(out_root, exist_ok=True)

    def read(t):
        return spark.read.parquet(os.path.join(src, f"{t}.parquet"))

    def write(df, t):
        df.write.mode("overwrite").parquet(os.path.join(out_root, f"{t}.parquet"))
        print(f"{t}: wrote {df.count()} rows")

    # dimension tables: fixed
    for t in ("region", "nation"):
        write(read(t), t)

    cust, supp, part = read("customer"), read("supplier"), read("part")
    orders, lineitem = read("orders"), read("lineitem")
    events, docs, emb = read("events"), read("documents"), read("embeddings")

    u_c, u_s, u_p = _unit(cust, "c_custkey"), _unit(supp, "s_suppkey"), _unit(part, "p_partkey")
    u_o = _unit(orders, "o_orderkey")
    u_e, u_u = _unit(events, "event_id"), _unit(events, "user_id")
    u_d, u_v = _unit(docs, "doc_id"), _unit(emb, "vec_id")
    # Query-internal planted-copy bands: the text/embedding queries
    # plant deterministic copies at doc_id + 1e6 and vec_id + 1e6/2e6
    # (plans/text_queries.py — the duplicate mass the dedup operators
    # exist to collapse). Amplified REAL ids must never cross into a
    # planted band, or the queries' 1:1 id joins go 1:many — at 300
    # copies the auto unit (1e4) pushed real doc_ids over +1e6 and
    # corpus_curation's output DOUBLED (rows x6 on x3 data; the third
    # measured instance of this artifact class, after the per-token
    # suffix grams and the diagonal-jitter cosines). When the copy
    # range would reach the lowest band, bump the unit to 1e7: still a
    # power of 10 (the %100 selection patterns survive), and every
    # copy's (real, planted) band pair stays pairwise disjoint since
    # all band offsets are < 1e7. Copy counts <= 100 keep the auto
    # unit, byte-identical with the committed sf1/sf10 corpora.
    if copies * u_d > PLANTED_MIN:
        u_d = max(u_d, 10_000_000)
    if copies * u_v > PLANTED_MIN:
        u_v = max(u_v, 10_000_000)
    # Loud guard on the FINAL units (_band_safe): the bump above only
    # helps while source ids are small — amplifying a source whose max
    # doc_id/vec_id already nears 1e6 (e.g. re-amplifying an amplified
    # corpus, where the auto unit is >= 1e7 and the bump is a no-op)
    # re-plants the id-band collision no unit choice can avoid.
    max_d = int(docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    max_v = int(emb.agg(F.max("vec_id")).collect()[0][0] or 0)
    for label, mx, u in (("doc_id", max_d, u_d), ("vec_id", max_v, u_v)):
        if copies > 1 and not _band_safe(mx, u, copies):
            sys.exit(
                f"unsafe source: max {label}={mx} with unit {u} x"
                f" {copies} copies puts planted ids (+1e6/+2e6) inside"
                " a real id band — amplify from the ORIGINAL corpus,"
                " never from an amplified one."
            )
    dim = len(emb.select("embedding").first()[0])

    # Copies per plan: a single N-way unionAll is fine to ~300 but
    # Catalyst analysis cost grows superlinearly in plan width (a
    # 1000-way union with per-copy mapInPandas stages stalls the
    # driver), so large copy counts are written in append chunks —
    # identical bytes per copy, bounded plan width.
    CHUNK = 100

    def amplified(df, keyshift: dict[str, int], rng, per_copy=None):
        parts = []
        for c in rng:
            d = _shift(df, keyshift, c)
            if per_copy is not None:
                d = per_copy(d, c)
            parts.append(d)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionAll(d)
        return out

    def write_amplified(df, t, keyshift: dict[str, int], per_copy=None):
        if not wanted(t):
            return
        path = os.path.join(out_root, f"{t}.parquet")
        for start in range(0, copies, CHUNK):
            rng = range(start, min(start + CHUNK, copies))
            chunk = amplified(df, keyshift, rng, per_copy)
            chunk.write.mode("overwrite" if start == 0 else "append").parquet(path)
        n = spark.read.parquet(path).count()
        print(f"{t}: wrote {n} rows")

    write_amplified(cust, "customer", {"c_custkey": u_c})
    write_amplified(supp, "supplier", {"s_suppkey": u_s})
    write_amplified(part, "part", {"p_partkey": u_p})
    write_amplified(orders, "orders", {"o_orderkey": u_o, "o_custkey": u_c})
    write_amplified(
        lineitem, "lineitem", {"l_orderkey": u_o, "l_partkey": u_p, "l_suppkey": u_s}
    )
    write_amplified(events, "events", {"event_id": u_e, "user_id": u_u})

    write_amplified(docs, "documents", {"doc_id": u_d}, doc_copy)

    def emb_copy(d, c: int):
        if c == 0:
            return d
        rot = _emb_rotation(c, dim)

        def _apply(batches, _rot=rot):
            import numpy as np

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
                pdf = pdf.copy()
                pdf["embedding"] = list((x @ _rot.T).astype(np.float32))
                yield pdf

        return d.mapInPandas(_apply, schema=d.schema)

    write_amplified(emb, "embeddings", {"vec_id": u_v}, emb_copy)

    # Corpus manifest: stamps WHAT this synthesized corpus is (source,
    # copy count, generator content hash) so a bench sidecar recorded
    # against it is provably comparable to a later round's regenerated
    # twin — the r9 sf1 tripwire gap was justified by exactly this
    # ambiguity ("was the corpus the same?"). bench.py copies the
    # stamp into its artifact when present.
    import json

    with open(__file__, "rb") as fh:
        tool_sha = hashlib.sha256(fh.read()).hexdigest()[:12]
    manifest = {
        "src": src,
        "copies": copies,
        "tool_sha": tool_sha,
        # id strides, so corpus_check can split copy/origin without
        # re-deriving the unit (whose bump rule may change over time)
        "doc_unit": u_d,
        "vec_unit": u_v,
    }
    if only is not None:
        manifest["tables"] = sorted(only)

    # Post-generation realism validation (tools/corpus_check.py): four
    # of four probe cliffs beyond the real keyspace saturation were
    # amplifier synthesis artifacts, each costing a diagnosis round —
    # fail generation loudly on the artifact signatures instead.
    manifest["validated"] = False
    with open(os.path.join(out_root, "_CORPUS_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh)
    if validate:
        from tools.corpus_check import CorpusArtifactError, validate_amplified

        try:
            reports = validate_amplified(
                spark, out_root, src, copies, u_d, u_v, tables=only
            )
        except CorpusArtifactError as e:
            sys.exit(f"GENERATION FAILED corpus validation: {e}")
        for r in reports:
            print(json.dumps(r), flush=True)
        manifest["validated"] = True
        with open(os.path.join(out_root, "_CORPUS_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)
    print(f"amplified {src} x{copies} -> {out_root} (manifest {manifest})")


if __name__ == "__main__":
    main()
