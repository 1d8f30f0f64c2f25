"""Text-analysis functions for large-scale training-data pipelines.

Every function here is a **pure Column expression** built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, zero
Python in the hot path. That is the property that makes these usable
over 100 TB of documents; a row-at-a-time Python UDF would be
10-100x slower (SURVEY §7 Phase E / pyspark guide "UDFs").

Each has an exact ANSI-SQL twin (see ``__spark_entry__.oracle_sql``)
so the DuckDB gate checks them bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic marker vocabularies for the lang-id heuristic
# (tiny on purpose: they broadcast as literals inside the expression)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "de", "y", "que", "los", "un"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "is", "in", "it", "on", "for")

FINGERPRINT_MOD = 2_147_483_647  # 2^31 - 1; keeps acc*31+cp < 2^63 (ANSI-safe)


def tokenize(col: str | Column) -> Column:
    """Whitespace tokens, empties dropped (leading/trailing-space safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def token_count(col: str | Column) -> Column:
    return F.size(tokenize(col))


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.

    Spark inlines a Column wherever it is used, and a higher-order
    function re-evaluates everything its lambda references for EVERY
    element — so ``transform(seq, i -> slice(tokenize(text), i, n))``
    re-splits the document once per gram, O(words^2) per row. Passing
    the value through a one-element ``transform`` makes it a lambda
    variable: computed once, then read by reference.

    ``body`` must not read ``v`` inside a lambda of its own: Spark then
    leaves a Python UDF that consumes the result unextracted and fails
    with "Cannot evaluate expression". Hand ``v`` to inner lambdas as
    their argument instead (``array_repeat``, see :func:`token_ngrams`)."""
    return F.transform(F.array(value), body)[0]


def token_ngrams(toks: Column, n: int) -> Column:
    """ALL space-joined n-grams of a token ARRAY, in order (duplicates
    kept); NULL and arrays shorter than n yield an empty array. Gram i
    slices the i-th entry of ``array_repeat(toks, cnt)`` — cnt
    references to one array, no token copies — so the lambda gets the
    tokens as its argument (see :func:`let`)."""
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.array_repeat(toks, cnt), lambda w, i: F.concat_ws(" ", F.slice(w, i + 1, n))
    )
    return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: str | Column, n: int) -> Column:
    """ALL word n-grams in order (duplicates kept) — the frequency
    unit for repetition statistics, unlike ``word_shingles`` whose
    distinct sets feed Jaccard. Docs shorter than n yield an empty
    array; the text is tokenized once, not once per gram."""
    return let(tokenize(col), lambda toks: token_ngrams(toks, n))


def word_shingles(col: str | Column, n: int) -> Column:
    """Distinct word n-grams (space-joined), the shingle unit for
    Jaccard / MinHash dedup. Docs shorter than n yield an empty array."""
    return F.array_distinct(word_ngrams(col, n))


def char_ngrams(col: str | Column, n: int) -> Column:
    """ALL character n-grams in order (duplicates kept) — the
    frequency unit for character-level models (the trained language-ID
    route), unlike :func:`char_shingles` whose distinct sets feed
    Jaccard. Same short-input empty-array guard."""
    c = F.col(col) if isinstance(col, str) else col
    cnt = F.length(c) - F.lit(n - 1)
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: F.substring(c, i, F.lit(n)))
    return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))


def char_shingles(col: str | Column, n: int) -> Column:
    """Distinct character n-grams (same short-input guard)."""
    c = F.col(col) if isinstance(col, str) else col
    cnt = F.length(c) - F.lit(n - 1)
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: F.substring(c, i, F.lit(n)))
    return F.when(cnt >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def lang_scores(col: str | Column) -> dict[str, Column]:
    """Marker-token overlap count per language (n-gram-profile
    heuristic, distinct-token granularity)."""
    toks = F.array_distinct(tokenize(col))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in sorted(LANG_MARKERS.items())
    }


def lang_id(col: str | Column) -> Column:
    """argmax of marker overlap; ties break to the alphabetically
    first language (deterministic). Documents with zero overlap
    everywhere classify as 'und'."""
    scores = lang_scores(col)
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def quality_score(col: str | Column) -> Column:
    """Deterministic document quality in [0, 1]:
    0.25*min(n_tokens/50, 1) + 0.25*stopword_ratio +
    0.25*alpha_ratio + 0.25*min(avg_token_len/8, 1).
    A rule-based filter in the spirit of C4/Gopher heuristics."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(col)
    n = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    stop_ratio = F.when(
        n > 0, F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double") / n
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        F.length(c) > 0,
        F.length(F.regexp_replace(c, "[^a-zA-Z]", "")).cast("double") / F.length(c).cast("double"),
    ).otherwise(F.lit(0.0))
    avg_len = F.when(n > 0, F.length(F.concat_ws("", toks)).cast("double") / n).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * F.least(n / F.lit(50.0), F.lit(1.0))
        + F.lit(0.25) * stop_ratio
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * F.least(avg_len / F.lit(8.0), F.lit(1.0))
    )
    # NULL text scores 0.0 explicitly: without the guard the length
    # term becomes least(NULL, 1.0) = 1.0 (least IGNORES nulls), so a
    # missing document would outscore a short real one
    return F.when(c.isNull(), F.lit(0.0)).otherwise(F.round(score, 6))


# GPT-2-flavored pretokenizer regex, restricted to the syntax subset
# Java regex and RE2 (DuckDB) share — no lookahead, so " word" keeps
# its leading space via the ` ?` prefix alternations.
SUBWORD_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def subword_tokens(col: str | Column) -> Column:
    """BPE-ish pretokens (the unit a byte-pair tokenizer would merge
    within) — the standard "how many tokens is this document"
    estimator when no real tokenizer model ships with the engine."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(SUBWORD_RE), F.lit(0))


def subword_count(col: str | Column) -> Column:
    return F.size(subword_tokens(col))


# PII patterns restricted to the Java-regex ∩ RE2 syntax subset (no
# lookaround), applied longest-structure-first so an email's host part
# isn't half-eaten by the URL rule. Public C4-style scrubbing.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: str | Column) -> Column:
    """Replace emails, URLs, phone numbers, and IPv4 addresses with
    typed placeholder tokens — the standard pre-training scrub pass.
    Pure chained ``regexp_replace`` (JVM-side, codegen'd); patterns
    live in the regex subset DuckDB's RE2 also accepts, so the op has
    an exact SQL twin."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def fingerprint(col: str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over characters, ``acc*31 + codepoint (mod 2^31-1)`` — the
    content-defined-chunking primitive, cross-engine reproducible
    (DuckDB twin uses list_reduce with the same recurrence)."""
    return F.expr(
        f"aggregate(sequence(1, length({col})), 0L, "
        f"(acc, i) -> (acc * 31 + ascii(substring({col}, i, 1))) % {FINGERPRINT_MOD})"
    )


#: (pattern, replacement) chain applied by :func:`clean_text` — each
#: pattern lives in the Java-regex ∩ RE2 subset (no lookarounds) so
#: the function has an exact DuckDB twin. Tags/URLs become a space,
#: not "", so `foo<br>bar` / `see http://x now` keep a word boundary.
CLEAN_HTML_PATTERN = (r"<[^>]*>", " ")
CLEAN_URL_PATTERNS = (
    (r"https?://[^\s]+", " "),
    (r"\bwww\.[^\s]+", " "),
)


def clean_text(
    col: str | Column,
    strip_html: bool = True,
    strip_urls: bool = True,
    collapse_ws: bool = True,
    lowercase: bool = False,
) -> Column:
    """C4-style text normalization: drop HTML tags and URLs, collapse
    whitespace runs to single spaces, trim, optionally lowercase —
    the standard cleanup pass that runs BEFORE tokenize/dedup/quality
    so markup noise doesn't pollute shingles or counts.

    Pure chained ``regexp_replace`` / ``lower`` / ``trim`` — JVM-side
    whole-stage codegen, zero Python, composes into the scan stage at
    any scale (same design as :func:`redact_pii`, and the same
    Java∩RE2 pattern subset so DuckDB replays it exactly).
    """
    c = F.col(col) if isinstance(col, str) else col
    if strip_html:
        c = F.regexp_replace(c, *CLEAN_HTML_PATTERN)
    if strip_urls:
        for pat, repl in CLEAN_URL_PATTERNS:
            c = F.regexp_replace(c, pat, repl)
    if lowercase:
        c = F.lower(c)
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c
