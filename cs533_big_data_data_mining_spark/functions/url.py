"""URL functions for crawl-curation pipelines.

URL-level exact dedup is the FIRST stage of the public RefinedWeb /
CommonCrawl recipes (Penedo et al. 2023 §3.1 run URL dedup before any
content-based stage, because it removes re-crawls of the same page at
the cost of one string groupBy — orders of magnitude cheaper than
MinHash over the same rows). The normalizer canonicalizes the
variants crawlers actually see (scheme/host case, ``www.`` prefix,
tracking query params, fragments, trailing slash) so the groupBy key
collapses them.

Everything here is a **pure Column expression** (chained regex in the
Java-regex ∩ RE2 subset plus an array filter over the split query
string) — JVM-side, zero Python, with an exact DuckDB twin for the
oracle gate (same design as
:mod:`cs533_big_data_data_mining_spark.functions.text`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.text import let

#: query parameters that never change page content — dropped by the
#: normalizer. Deliberately NOT including bare ``ref``: real sites use
#: it content-bearingly (e.g. a VCS web UI's ``?ref=<branch>`` selects
#: a different page), and wrongly merging two real pages deletes a
#: document, which is worse than keeping one re-crawl.
TRACKING_PARAM_RE = r"(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)"

#: ``scheme://host[:port]`` prefix (the case-insensitive part of a URL
#: per RFC 3986; path/query stay case-sensitive).
_PREFIX_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"


def normalize_url(col: str | Column) -> Column:
    """Canonical form of a URL for exact URL-level dedup:

    1. drop the ``#fragment`` (never sent to the server);
    2. lowercase the ``scheme://host`` prefix (case-insensitive per
       RFC 3986) and drop a ``www.`` host prefix;
    3. split at the FIRST ``?``, drop tracking params
       (:data:`TRACKING_PARAM_RE`) from the split query — an array
       filter, so a literal ``&`` or ``/`` in the PATH or inside a
       surviving param VALUE is never touched;
    4. drop a trailing ``/`` from the pre-query part, then re-attach
       ``?query`` iff any params survived.

    Non-URL strings pass through mostly untouched (no scheme prefix →
    step 2 is a no-op; no ``?`` → steps 3–4 only strip a trailing
    slash); null stays null. Pure Column — composes into the scan
    stage at any scale.
    """
    c = F.col(col) if isinstance(col, str) else col
    # 1. fragment
    c = F.regexp_replace(c, r"#.*$", "")
    # 2. lowercase scheme://host, strip www. — rebuild as
    #    lower(prefix) + remainder (substring is 1-based; prefix match
    #    at position 1 by construction)
    prefix = F.regexp_extract(c, _PREFIX_RE, 1)
    rest = F.substring(c, F.length(prefix) + F.lit(1), F.length(c))
    c = F.concat(F.regexp_replace(F.lower(prefix), r"://www\.", "://"), rest)
    # 3. split pre/query at the FIRST '?'; filter tracking params out
    #    of the query ARRAY (param boundaries are exactly the '&'
    #    splits, so values containing '/' or '=' are never mangled)
    pre = F.regexp_replace(c, r"\?.*$", "")
    q = F.regexp_extract(c, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(q, r"&"),
        lambda p: ~p.rlike(r"^" + TRACKING_PARAM_RE + r"="),
    )
    # 4. trailing slash on the PATH only, then re-attach the query
    pre = F.regexp_replace(pre, r"/$", "")
    newq = F.concat_ws("&", kept)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(newq == "", pre).otherwise(F.concat(pre, F.lit("?"), newq))
    )


#: ``host`` capture out of ``scheme://[user@]host[:port]/...`` —
#: userinfo and port excluded, lowercased by the caller.
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(col: str | Column) -> Column:
    """Lowercased host of a URL (no scheme/userinfo/port/path); empty
    string for non-URLs, null for null input. A single trailing ``.``
    (the fully-qualified root-label form — ``bad.example.`` — which
    browsers/DNS resolve to the same host) is stripped, so blocklist
    suffix matching can't be bypassed by the FQDN spelling. Pure
    Column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.lower(F.regexp_replace(F.regexp_extract(c, _HOST_RE, 1), r"\.$", ""))
    )


def url_keyword_score(col: str | Column, keyword_weights: dict[str, float] | None) -> Column:
    """Weighted URL-keyword score, rounded to 6 dp: the sum of the
    weights of every keyword contained (case-insensitively) in the
    URL. ONE flat ``zip_with``/``aggregate`` fold over literal
    keyword/weight arrays in sorted-key order — the IEEE sum order is
    fixed, so the value is bit-identical across plans/engines, and
    the expression stays a single shallow node at hundreds of
    keywords (a when-chain would blow codegen's per-method budget).
    Pure Column — streams with zero state."""
    c = F.col(col) if isinstance(col, str) else col
    kw = {str(k).lower(): float(v) for k, v in (keyword_weights or {}).items()}
    if not kw:
        return F.round(F.lit(0.0), 6)
    lowered = F.lower(c)
    items = sorted(kw.items())
    kws = F.array(*[F.lit(k) for k, _ in items])
    wts = F.array(*[F.lit(w) for _, w in items])
    hits = F.zip_with(
        kws, wts, lambda k, w: F.when(lowered.contains(k), w).otherwise(F.lit(0.0))
    )
    return F.round(F.aggregate(hits, F.lit(0.0), lambda acc, x: acc + x), 6)


def host_blocked(col: str | Column, blocked_domains) -> Column:
    """TRUE iff the HOST (from :func:`url_host`) equals or
    dot-suffixes any listed domain — the pure-Column suffix-set
    intersection (list route: zero joins, streams with zero state).
    For blocklists big enough to live as a DataFrame (10^5+ rows) use
    the broadcast semi-join route in ``operators.quality.url_filter``.
    Null/empty hosts are simply not blocked (the caller decides what
    hostless means — ``url_filter`` exempts them from both gates)."""
    h = F.col(col) if isinstance(col, str) else col
    doms = sorted({str(d).lower() for d in (blocked_domains or [])})
    if not doms:
        return F.lit(False)
    return (
        F.size(F.array_intersect(host_suffixes(h), F.array(*[F.lit(d) for d in doms]))) > 0
    )


def host_suffixes(col: str | Column) -> Column:
    """``array<string>`` of a host's dot-suffixes —
    ``a.b.example.com -> [a.b.example.com, b.example.com, example.com,
    com]`` — so a domain blocklist becomes one EQUI semi-join on the
    exploded suffixes instead of a non-equi ``LIKE '%.d'`` join (the
    blocklist side broadcasts; the suffix fan-out is the host's label
    count, <= ~5 in practice). Empty array for empty/null hosts."""
    h = F.col(col) if isinstance(col, str) else col

    def suffixes(parts):
        # the lambda reads the labels through its argument (see let)
        return F.transform(
            F.array_repeat(parts, F.size(parts)),
            lambda p, i: F.array_join(F.slice(p, i + 1, F.size(p)), "."),
        )

    return F.when(h.isNull() | (h == ""), F.array().cast("array<string>")).otherwise(
        let(F.split(h, r"\."), suffixes)
    )
