"""Text-analysis expression builders for training-data pipelines.

These are the operations a 100 TB document-prep pipeline runs per
document: tokenization, quality scoring, language-ID heuristics,
fingerprinting. Every measure has exactly two forms:

- the bare name (``token_count``, ``quality_score``, …) returns
  **Spark SQL text** for ``selectExpr`` / ``F.expr``. The JVM parses
  one string into the Catalyst tree the Column API would assemble one
  py4j round trip at a time (``functions/sqltext.py``); the rows run
  JVM-side, lambdas interpreted (see :func:`ngrams`), no Python;
- ``sql_*`` is its **DuckDB twin** for the oracle gate, over the raw
  text, with bit-identical semantics.

Token measures take the token array (:func:`tokens`, or a column
holding it) rather than the text, so a caller splits each document
once and derives every measure from the array (``text_profile``);
:func:`dup_line_ratio` likewise takes the :func:`lines` array.
Double literals carry a ``D`` suffix: Spark SQL reads ``0.5`` as a
DECIMAL.

Cross-engine determinism rules: ratios are single divisions of
identical integers; weighted scores apply literals in a fixed
operation order; hashes are md5 hex (identical in both engines).
"""

from __future__ import annotations

from white_elephant_spark.functions.sqltext import literal

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


def _str_array(words: tuple[str, ...]) -> str:
    return "array(" + ", ".join(literal(w) for w in words) + ")"


def tokens(text: str) -> str:
    """Whitespace tokens (single-space corpus convention)."""
    return f"split({text}, ' ')"


def lines(text: str) -> str:
    """Non-empty lines, in order."""
    return f"filter(split({text}, '\\n'), _x -> _x != '')"


def ngrams(w: str, n: int) -> str:
    """Word n-grams of the token array ``w`` in position order,
    repeats kept. Zipping n shifted token slices keeps the lambda on
    its own element: one indexing back into ``split(text)`` re-splits
    the document per gram (lambdas are interpreted and share no work
    with their row), O(tokens²). ``slice`` raises on a negative
    length: use under ``size >= n``."""
    m = f"size({w}) - {n - 1}"
    slices = ", ".join(f"slice({w}, {j + 1}, {m})" for j in range(n))
    parts = ", ".join(f"_s['{j}']" for j in range(n))
    return f"transform(arrays_zip({slices}), _s -> concat_ws(' ', {parts}))"


def sql_ngrams(expr: str, n: int) -> str:
    w = f"string_split({expr}, ' ')"
    parts = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    return f"list_transform(generate_series(1, len({w}) - {n - 1}), i -> {parts})"


def token_count(w: str) -> str:
    return f"CAST(size({w}) AS BIGINT)"


def sql_token_count(expr: str) -> str:
    return f"CAST(len(string_split({expr}, ' ')) AS BIGINT)"


#: BPE-ish pre-tokenizer classes: letter runs, digit runs, single
#: punctuation marks (the shape GPT-style BPE splits on, sans merges).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: str) -> str:
    """Token count under a BPE-ish regex pre-tokenization — a cheap,
    JVM-side proxy for LLM token budgeting at corpus scale."""
    return f"CAST(size(regexp_extract_all({text}, {literal(_BPE_RE)}, 0)) AS BIGINT)"


def sql_bpe_token_count(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
    )


def distinct_ratio(w: str) -> str:
    """Lexical diversity: distinct tokens / tokens (one division)."""
    return f"size(array_distinct({w})) / size({w})"


def sql_distinct_ratio(expr: str) -> str:
    return (
        f"len(list_distinct(string_split({expr}, ' '))) / len(string_split({expr}, ' '))"
    )


def _marker_hits(w: str, words: tuple[str, ...]) -> str:
    return f"size(filter({w}, _w -> array_contains({_str_array(words)}, _w)))"


def stopword_ratio(w: str) -> str:
    return f"{_marker_hits(w, STOPWORDS)} / size({w})"


def sql_stopword_ratio(expr: str) -> str:
    swlist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"len(list_filter(string_split({expr}, ' '), w -> w IN ({swlist})))"
        f" / len(string_split({expr}, ' '))"
    )


def mean_word_len(text: str, w: str) -> str:
    """(total chars − separators) / tokens — one division."""
    return f"(length({text}) - (size({w}) - 1)) / size({w})"


def sql_mean_word_len(expr: str) -> str:
    n = f"len(string_split({expr}, ' '))"
    return f"(length({expr}) - ({n} - 1)) / {n}"


def quality_score(text: str, w: str) -> str:
    """Weighted quality heuristic (fixed literal-order arithmetic):
    0.5·distinct_ratio + 0.3·min(stopword_ratio·5, 1) +
    0.2·min(mean_word_len/8, 1)."""
    return (
        f"0.5D * ({distinct_ratio(w)})"
        f" + 0.3D * least(({stopword_ratio(w)}) * 5.0D, 1.0D)"
        f" + 0.2D * least(({mean_word_len(text, w)}) / 8.0D, 1.0D)"
    )


def sql_quality_score(expr: str) -> str:
    return (
        f"0.5 * ({sql_distinct_ratio(expr)})"
        f" + 0.3 * least(({sql_stopword_ratio(expr)}) * 5.0, 1.0)"
        f" + 0.2 * least(({sql_mean_word_len(expr)}) / 8.0, 1.0)"
    )


def predict_lang(w: str) -> str:
    """argmax over the per-language marker-hit counts, first in LANGS
    on ties: ``array_position`` of the max score is the first index
    achieving it (1-based). NULL on a NULL token array, as the twin.
    The guard nulls the language array, not the index: the index is
    already NULL there, but ``element_at`` of a non-NULL array at a
    NULL index computed per row returns the array's LAST element
    (pyspark 4.1), and a guard around the whole result would put the
    score arrays in a conditional branch and double their cost."""
    scores = "array(" + ", ".join(_marker_hits(w, MARKERS[lang]) for lang in LANGS) + ")"
    return (
        f"element_at(CASE WHEN {w} IS NOT NULL THEN {_str_array(LANGS)} END,"
        f" CAST(array_position({scores}, array_max({scores})) AS INT))"
    )


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


def fingerprint(w: str) -> str:
    """Document fingerprint: md5 of the sorted distinct token set —
    order-insensitive content identity (the bag-of-words analogue of
    a rolling-hash fingerprint; robust to token reordering). NULL on
    a NULL token array, as the twin: ``array_join`` of a NULL array is
    NULL, where ``concat_ws`` would skip it and hash the empty
    string."""
    return f"md5(encode(array_join(array_sort(array_distinct({w})), ' '), 'UTF-8'))"


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


def scrub_pii(text: str) -> str:
    """Redact emails then URLs to typed placeholder tokens — the
    corpus-prep PII pass. Order is fixed (emails first) so both
    engines rewrite identical spans."""
    out = f"regexp_replace({text}, {literal(EMAIL_RE)}, '<EMAIL>')"
    return f"regexp_replace({out}, {literal(URL_RE)}, '<URL>')"


def sql_scrub_pii(expr: str) -> str:
    # DuckDB replaces only the first match without the 'g' flag.
    return (
        f"regexp_replace(regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{URL_RE}', '<URL>', 'g')"
    )


def pii_counts(text: str) -> tuple[str, str]:
    """(n_emails, n_urls) found in the raw text."""
    return (
        f"CAST(regexp_count({text}, {literal(EMAIL_RE)}) AS BIGINT)",
        f"CAST(regexp_count({text}, {literal(URL_RE)}) AS BIGINT)",
    )


def sql_pii_counts(expr: str) -> tuple[str, str]:
    return (
        f"CAST(len(regexp_extract_all({expr}, '{EMAIL_RE}')) AS BIGINT)",
        f"CAST(len(regexp_extract_all({expr}, '{URL_RE}')) AS BIGINT)",
    )


_WS_RE = r"[ \t\r\n]+"


def normalize_text(text: str) -> str:
    """Canonical text form: lowercase, collapse whitespace runs to a
    single space, trim."""
    return f"trim(regexp_replace(lower({text}), {literal(_WS_RE)}, ' '))"


def sql_normalize_text(expr: str) -> str:
    return (
        f"trim(regexp_replace(lower({expr}), '[ \\t\\r\\n]+', ' ', 'g'))"
    )


def dup_ngram_ratio(w: str, n: int = 3) -> str:
    """Within-document repetition: fraction of word n-gram positions
    whose n-gram also occurs elsewhere in the document
    (``1 - distinct/total``), 0 for docs shorter than n tokens — the
    Gopher-style repetition quality signal."""
    total = f"greatest(size({w}) - {n - 1}, 0)"
    return (
        f"CASE WHEN {total} > 0"
        f" THEN 1.0D - size(array_distinct({ngrams(w, n)})) / {total} ELSE 0.0D END"
    )


def sql_dup_ngram_ratio(expr: str, n: int = 3) -> str:
    w = f"string_split({expr}, ' ')"
    total = f"greatest(len({w}) - {n - 1}, 0)"
    return (
        f"CASE WHEN {total} > 0 THEN 1.0 - len(list_distinct({sql_ngrams(expr, n)})) / {total} "
        f"ELSE 0.0 END"
    )


def top_ngram_frac(w: str, n: int = 2) -> str:
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
    m = f"size({w}) - {n - 1}"
    run = "CASE WHEN _g = _a.prev THEN _a.run + 1 ELSE 1 END"
    mode = (
        f"aggregate(array_sort({ngrams(w, n)}),"
        f" named_struct('prev', '', 'run', 0, 'best', 0),"
        f" (_a, _g) -> named_struct('prev', _g, 'run', {run},"
        f" 'best', greatest(_a.best, {run})),"
        f" _a -> _a.best)"
    )
    return f"CASE WHEN {m} > 0 THEN CAST({mode} AS DOUBLE) / ({m}) ELSE 0.0D END"


def sql_top_ngram_frac(expr: str, n: int = 2) -> str:
    w = f"string_split({expr}, ' ')"
    m = f"(len({w}) - {n - 1})"
    grams = sql_ngrams(expr, n)
    mode = (
        f"(SELECT max(c) FROM (SELECT COUNT(*) AS c"
        f" FROM unnest({grams}) AS _png(g) GROUP BY g))"
    )
    return f"CASE WHEN {m} > 0 THEN CAST({mode} AS DOUBLE) / {m} ELSE 0.0 END"


def dup_line_ratio(lines_: str) -> str:
    """Fraction of non-empty lines (the :func:`lines` array
    ``lines_``) that are duplicates of another line
    (``1 - distinct/total``) — the Gopher duplicate-line repetition
    signal (navigation bars, repeated boilerplate). 0 for
    single-line or empty documents."""
    total = f"size({lines_})"
    return (
        f"CASE WHEN {total} > 0"
        f" THEN 1.0D - CAST(size(array_distinct({lines_})) AS DOUBLE) / {total}"
        f" ELSE 0.0D END"
    )


def sql_dup_line_ratio(expr: str) -> str:
    lines = f"list_filter(string_split({expr}, chr(10)), x -> x != '')"
    return (
        f"CASE WHEN len({lines}) > 0 THEN"
        f" 1.0 - CAST(len(list_distinct({lines})) AS DOUBLE) / len({lines})"
        f" ELSE 0.0 END"
    )
