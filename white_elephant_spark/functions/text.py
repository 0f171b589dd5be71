"""Text-analysis column builders for training-data pipelines.

These are the operations a 100 TB document-prep pipeline runs per
document: tokenization, quality scoring, language-ID heuristics,
fingerprinting. All pure Catalyst expressions (JVM-side; lambdas run
interpreted, see :func:`ngrams`) — no Python in the hot path. Each
builder has a DuckDB-SQL twin (``sql_*``) with bit-identical semantics
for the oracle gate.

Cross-engine determinism rules: ratios are single divisions of
identical integers; weighted scores apply literals in a fixed
operation order; hashes are md5 hex (identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Simple language marker sets for the n-gram/stopword language-ID
# heuristic. Deterministic tie-break: first language in LANGS order.
LANGS = ("en", "es", "fr", "de", "zh")
MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "zh": ("的", "了", "是"),
}
STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space corpus convention)."""
    return F.split(text, " ")


def ngrams(text: Column, n: int) -> Column:
    """Word n-grams in position order, repeats kept. Zipping n shifted
    token slices keeps the lambda on its own element: one indexing
    back into ``split(text)`` re-splits the document per gram (lambdas
    are interpreted and share no work with their row), O(tokens²).
    ``slice`` raises on a negative length: use under ``size >= n``."""
    w = tokens(text)
    m = F.size(w) - F.lit(n - 1)
    zipped = F.arrays_zip(*[F.slice(w, j + 1, m) for j in range(n)])
    return F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))


def sql_ngrams(expr: str, n: int) -> str:
    w = f"string_split({expr}, ' ')"
    parts = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    return f"list_transform(generate_series(1, len({w}) - {n - 1}), i -> {parts})"


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def sql_token_count(expr: str) -> str:
    return f"CAST(len(string_split({expr}, ' ')) AS BIGINT)"


#: BPE-ish pre-tokenizer classes: letter runs, digit runs, single
#: punctuation marks (the shape GPT-style BPE splits on, sans merges).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Token count under a BPE-ish regex pre-tokenization — a cheap,
    JVM-side proxy for LLM token budgeting at corpus scale."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_RE), F.lit(0))).cast("long")


def sql_bpe_token_count(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
    )


def distinct_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (one division)."""
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.size(t)


def sql_distinct_ratio(expr: str) -> str:
    return (
        f"len(list_distinct(string_split({expr}, ' '))) / len(string_split({expr}, ' '))"
    )


def stopword_ratio(text: Column) -> Column:
    t = tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(t, lambda w: F.array_contains(sw, w))) / F.size(t)


def sql_stopword_ratio(expr: str) -> str:
    swlist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"len(list_filter(string_split({expr}, ' '), w -> w IN ({swlist})))"
        f" / len(string_split({expr}, ' '))"
    )


def mean_word_len(text: Column) -> Column:
    """(total chars − separators) / tokens — one division."""
    t = tokens(text)
    return (F.length(text) - (F.size(t) - F.lit(1))) / F.size(t)


def sql_mean_word_len(expr: str) -> str:
    n = f"len(string_split({expr}, ' '))"
    return f"(length({expr}) - ({n} - 1)) / {n}"


def quality_score(text: Column) -> Column:
    """Weighted quality heuristic (fixed literal-order arithmetic):
    0.5·distinct_ratio + 0.3·min(stopword_ratio·5, 1) +
    0.2·min(mean_word_len/8, 1)."""
    return (
        F.lit(0.5) * distinct_ratio(text)
        + F.lit(0.3) * F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
        + F.lit(0.2) * F.least(mean_word_len(text) / F.lit(8.0), F.lit(1.0))
    )


def sql_quality_score(expr: str) -> str:
    return (
        f"0.5 * ({sql_distinct_ratio(expr)})"
        f" + 0.3 * least(({sql_stopword_ratio(expr)}) * 5.0, 1.0)"
        f" + 0.2 * least(({sql_mean_word_len(expr)}) / 8.0, 1.0)"
    )


def lang_scores(text: Column) -> Column:
    """Marker-hit count per language, as an array aligned to LANGS."""
    t = tokens(text)
    cols = []
    for lang in LANGS:
        markers = F.array(*[F.lit(w) for w in MARKERS[lang]])
        # single-arg lambda builder: a two-arg lambda would be treated
        # as Spark's (element, index) form
        pred = (lambda m: lambda w: F.array_contains(m, w))(markers)
        cols.append(F.size(F.filter(t, pred)))
    return F.array(*cols)


def predict_lang(text: Column) -> Column:
    """argmax over lang_scores with first-in-LANGS tie-break."""
    scores = lang_scores(text)
    # array_position of the max score = first index achieving the max
    best = F.array_max(scores)
    idx = F.array_position(scores, best)  # 1-based, first occurrence
    langs = F.array(*[F.lit(lang) for lang in LANGS])
    return F.element_at(langs, idx.cast("int"))


def sql_predict_lang(expr: str) -> str:
    toks = f"string_split({expr}, ' ')"
    score_exprs = []
    for lang in LANGS:
        mk = ", ".join(f"'{w}'" for w in MARKERS[lang])
        score_exprs.append(f"len(list_filter({toks}, w -> w IN ({mk})))")
    arr = "[" + ", ".join(score_exprs) + "]"
    return (
        f"(['" + "', '".join(LANGS) + "'])"
        f"[CAST(list_position({arr}, list_max({arr})) AS INTEGER)]"
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the sorted distinct token set —
    order-insensitive content identity (the bag-of-words analogue of
    a rolling-hash fingerprint; robust to token reordering)."""
    t = F.array_sort(F.array_distinct(tokens(text)))
    return F.md5(F.encode(F.concat_ws(" ", t), "UTF-8"))


def sql_fingerprint(expr: str) -> str:
    return (
        f"md5(array_to_string(list_sort(list_distinct(string_split({expr}, ' '))), ' '))"
    )


# ------------------------------------------------------ scrubbing
# Patterns kept to the Java-regex ∩ RE2 common subset so Spark and
# DuckDB match the exact same spans.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
# \s, not a bare space: [^ ]+ would consume newlines/tabs, redacting
# past the URL into the next line (destroying non-PII text and
# collapsing the line structure dup_line_ratio depends on). \s is in
# the Java/RE2/DuckDB common subset, so the SQL twin stays identical.
URL_RE = r"https?://[^\s]+"


def scrub_pii(text: Column) -> Column:
    """Redact emails then URLs to typed placeholder tokens — the
    corpus-prep PII pass. Order is fixed (emails first) so both
    engines rewrite identical spans."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, URL_RE, "<URL>")


def sql_scrub_pii(expr: str) -> str:
    # DuckDB replaces only the first match without the 'g' flag.
    return (
        f"regexp_replace(regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{URL_RE}', '<URL>', 'g')"
    )


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_urls) found in the raw text."""
    return (
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long"),
        F.regexp_count(text, F.lit(URL_RE)).cast("long"),
    )


def sql_pii_counts(expr: str) -> tuple[str, str]:
    return (
        f"CAST(len(regexp_extract_all({expr}, '{EMAIL_RE}')) AS BIGINT)",
        f"CAST(len(regexp_extract_all({expr}, '{URL_RE}')) AS BIGINT)",
    )


def normalize_text(text: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace runs to a
    single space, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"[ \t\r\n]+", " "))


def sql_normalize_text(expr: str) -> str:
    return (
        f"trim(regexp_replace(lower({expr}), '[ \\t\\r\\n]+', ' ', 'g'))"
    )


def dup_ngram_ratio(text: Column, n: int = 3) -> Column:
    """Within-document repetition: fraction of word n-gram positions
    whose n-gram also occurs elsewhere in the document
    (``1 - distinct/total``), 0 for docs shorter than n tokens — the
    Gopher-style repetition quality signal."""
    t = tokens(text)
    total = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
    distinct = F.size(F.array_distinct(ngrams(text, n)))
    return F.when(total > 0, F.lit(1.0) - distinct / total).otherwise(F.lit(0.0))


def sql_dup_ngram_ratio(expr: str, n: int = 3) -> str:
    w = f"string_split({expr}, ' ')"
    total = f"greatest(len({w}) - {n - 1}, 0)"
    return (
        f"CASE WHEN {total} > 0 THEN 1.0 - len(list_distinct({sql_ngrams(expr, n)})) / {total} "
        f"ELSE 0.0 END"
    )


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of word n-gram positions occupied by the single most
    frequent n-gram — the token-position form of the Gopher
    top-n-gram repetition filter (Rae et al. 2021 quality heuristics:
    boilerplate-heavy pages put a large share of their mass in one
    phrase). 0 for docs with fewer than n tokens.

    Mode count without a group-by: sort the grams of :func:`ngrams`,
    then one fold tracking (prev, current run, best run) in a struct
    accumulator, whose input array is evaluated once per row: the
    row is linear in its tokens. Parity is order-independent: any
    total order groups equal grams identically, and the DuckDB twin
    counts the mode via a correlated GROUP BY, which must agree
    exactly on integer counts."""
    m = F.size(tokens(text)) - F.lit(n - 1)
    grams = F.array_sort(ngrams(text, n))

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    mode = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        step,
        lambda acc: acc["best"],
    )
    return F.when(m > 0, mode.cast("double") / m).otherwise(F.lit(0.0))


def sql_top_ngram_frac(expr: str, n: int = 2) -> str:
    w = f"string_split({expr}, ' ')"
    m = f"(len({w}) - {n - 1})"
    grams = sql_ngrams(expr, n)
    mode = (
        f"(SELECT max(c) FROM (SELECT COUNT(*) AS c"
        f" FROM unnest({grams}) AS _png(g) GROUP BY g))"
    )
    return f"CASE WHEN {m} > 0 THEN CAST({mode} AS DOUBLE) / {m} ELSE 0.0 END"


def dup_line_ratio(text: Column) -> Column:
    """Fraction of non-empty lines that are duplicates of another
    line (``1 - distinct/total``) — the Gopher duplicate-line
    repetition signal (navigation bars, repeated boilerplate). 0 for
    single-line or empty documents."""
    lines = F.filter(F.split(text, "\n"), lambda x: x != F.lit(""))
    total = F.size(lines)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / total,
    ).otherwise(F.lit(0.0))


def sql_dup_line_ratio(expr: str) -> str:
    lines = f"list_filter(string_split({expr}, chr(10)), x -> x != '')"
    return (
        f"CASE WHEN len({lines}) > 0 THEN"
        f" 1.0 - CAST(len(list_distinct({lines})) AS DOUBLE) / len({lines})"
        f" ELSE 0.0 END"
    )
