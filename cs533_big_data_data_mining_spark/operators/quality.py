"""Repetition-based quality filters and corpus balancing.

Gopher-style (Rae et al. 2021, public) repetition statistics: highly
repetitive documents (boilerplate, keyword stuffing, generation loops)
are low-quality training data even when their token-level stats look
fine. ``repetition_stats`` computes the standard signals; callers
filter on thresholds.

``balance_sources`` caps documents per source/domain — the classic
"don't let one crawl domain dominate the corpus" rebalancing — with a
deterministic fingerprint-based priority so results are reproducible
across runs and engines (no RNG).

Scale shape: repetition stats are explode -> map-side-combinable
groupBys keyed by (doc, gram) — no joins between large sides, fully
distributed, no per-doc quadratic array work. Balancing is one
window per source group (each group streams through a single task;
source cardinality is ~domains, far below executor count pressure).

No counterpart in the reference (no text surface, SURVEY.md §2);
Phase-E extension operators.
"""

from __future__ import annotations

import math

from pyspark import SparkContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.text import token_ngrams, tokenize, word_ngrams


def _expr_memo(key: tuple, builder):
    """Memoize a pure Column-expression construction per live
    SparkContext (guide §1/§7.3: a planning-bound composite spends
    seconds of driver wall in py4j round trips re-BUILDING the same
    big HOF trees every call — ~1.6 s per ``gopher_repetition``).
    Column objects are immutable, name-based and reusable across
    DataFrames, so handing back the same tree is semantically
    identical to rebuilding it. The cache dict lives ON the
    SparkContext object: a stopped/restarted context is a new object,
    so stale JVM references can never leak across sessions. This
    caches unresolved EXPRESSIONS only — never data or results."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return builder()
    cache = sc.__dict__.setdefault("_cs533_expr_memo", {})
    if key not in cache:
        cache[key] = builder()
    return cache[key]


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition signals:

    * ``n_tokens``     — whitespace token count (null text -> null,
      matching ``len(NULL)`` in the SQL twin);
    * ``distinct_ratio`` — distinct tokens / tokens (type-token ratio;
      ~1 = varied, -> 0 = repetitive);
    * ``top_token_frac`` — most frequent token's share of all tokens
      (Gopher's "fraction of most common word");
    * ``top_2gram_frac`` — most frequent word 2-gram's share of all
      2-grams.

    Fractions are null for docs where the denominator is empty
    (null text, or < 2 tokens for the 2-gram stat) — left-join
    semantics mirrored exactly by the oracle.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))

    tok = base.select("id", F.explode(tokenize("__text")).alias("tok"))
    tok_stats = (
        tok.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("max_tok"),
        )
    )

    g2 = base.select("id", F.explode(word_ngrams("__text", 2)).alias("g"))
    g2_stats = (
        g2.groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("n_g2"), F.max("c").alias("max_g2"))
    )

    return (
        base.join(tok_stats, "id", "left")
        .join(g2_stats, "id", "left")
        .select(
            "id",
            F.size(tokenize("__text")).cast("long").alias("n_tokens"),
            F.round(F.col("n_distinct").cast("double") / F.col("n_tok").cast("double"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("max_tok").cast("double") / F.col("n_tok").cast("double"), 6).alias(
                "top_token_frac"
            ),
            F.round(F.col("max_g2").cast("double") / F.col("n_g2").cast("double"), 6).alias(
                "top_2gram_frac"
            ),
        )
    )


def quantile_filter(
    df: DataFrame,
    score_col: str | F.Column,
    keep_frac: float,
    exact: bool = True,
    approx_error: float = 0.001,
) -> DataFrame:
    """Keep the top ``keep_frac`` of rows by ``score_col``: rows with
    score >= the (1 - keep_frac) quantile (ties at the threshold all
    survive, so the kept fraction can exceed ``keep_frac``).

    ``exact=True`` computes the true percentile (one full-sort
    aggregate — fine up to ~billions of rows); ``exact=False`` uses
    ``percentile_approx`` (Greenwald-Khanna sketch, one map-side-
    combinable pass — the 100 TB path, threshold within
    ``approx_error`` rank error). The scalar threshold is broadcast
    into the filter via a crossJoin of a 1-row frame — no driver
    round-trip, whole plan stays lazy.
    """
    c = F.col(score_col) if isinstance(score_col, str) else score_col
    p = 1.0 - float(keep_frac)
    if exact and not isinstance(score_col, str):
        raise ValueError(
            "exact=True needs a column NAME (percentile is spelled via expr); "
            "pass exact=False for Column expressions"
        )
    thr = (
        F.expr(f"percentile({score_col}, {p})")
        if exact
        else F.percentile_approx(c, F.lit(p), F.lit(int(1.0 / approx_error)))
    )
    t = df.agg(thr.alias("__thr"))
    return df.crossJoin(F.broadcast(t)).filter(c >= F.col("__thr")).drop("__thr")


def _uniform_unit(id_col: str) -> F.Column:
    """Deterministic, cross-engine-reproducible pseudo-uniform value
    in [0, 1) from the id: poly31 fingerprint of the id string +
    Knuth multiplicative scatter. The raw polynomial hash of a SHORT
    id string is numerically small (not uniform); one integer
    multiply + mod spreads it over the full range while staying
    exactly reproducible in ANSI SQL (fp < 2^31, so the product fits
    BIGINT on every engine). Shared by ``assign_split`` and
    ``sample_sources`` — keep it the single definition so their
    DuckDB oracle spellings can't de-sync."""
    return _uniform_unit_of(f"CAST({id_col} AS STRING)")


def _uniform_unit_of(sql_expr: str) -> F.Column:
    """The scatter itself, over any SQL string expression — the ONE
    spelling of the constants (a second copy would eventually de-sync
    a DuckDB oracle)."""
    from cs533_big_data_data_mining_spark.functions.text import (
        FINGERPRINT_MOD,
        fingerprint,
    )

    pri = fingerprint(sql_expr)
    scattered = F.pmod(pri.cast("long") * F.lit(2654435761) + F.lit(12345), F.lit(FINGERPRINT_MOD))
    return scattered.cast("double") / F.lit(float(FINGERPRINT_MOD))


def _uniform_unit_seeded(id_col: str, seed: int) -> F.Column:
    """Seeded variant — the ONE definition shared by
    ``packing.shard_rows`` and :func:`dsir_resample`.

    The seed enters as a per-seed MULTIPLIER in the scatter, never as
    a string folded into the fingerprint: poly31 is affine in its
    suffix/prefix, so ``fp(f"{s2}_{id}") - fp(f"{s1}_{id}")`` is a
    CONSTANT for fixed-length ids and two "independent" seeded
    streams are in fact a constant rotation of each other (observed:
    Gumbel top-k on seed 8 then sharding on seed 9 put 2974 of 50k
    docs in one of 64 shards and left 27 empty). Distinct multipliers
    decorrelate the streams (same construction: 718..830 per shard).
    The product stays ANSI-safe: fp < 2^31 and the reduced multiplier
    < 2^31, so fp * m + 12345 < 2^63 on every engine."""
    from cs533_big_data_data_mining_spark.functions.text import (
        FINGERPRINT_MOD,
        fingerprint,
    )

    m = (2654435761 + (int(seed) + 1) * 1013904223) % FINGERPRINT_MOD
    # degenerate-multiplier guard: m == 0 (seed ≡ 1407624823 mod 2^31-1)
    # would collapse the whole stream to the constant 12345/M — every
    # row in shard 0, Gumbel noise constant. One deterministic branch,
    # mirrored in the SQL twin and the test twin.
    if m == 0:
        m = 1
    pri = fingerprint(f"CAST({id_col} AS STRING)")
    scattered = F.pmod(pri.cast("long") * F.lit(m) + F.lit(12345), F.lit(FINGERPRINT_MOD))
    return scattered.cast("double") / F.lit(float(FINGERPRINT_MOD))


def sample_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic per-source downsampling — the "source mixing"
    step that rebalances a corpus toward target proportions (e.g.
    down-weight a dominant crawl before training). Each row keeps iff
    its id's cross-engine uniform hash falls below its source's
    fraction, so the SAME rows survive across runs, engines, and
    partitionings, and adding a new source never reshuffles which
    rows of the old sources are kept (per-row decisions are
    independent — unlike a global sort-based cap). Returns
    ``(id, source)`` for survivors.

    Pure Column expression: zero shuffle, composes into any scan —
    the 100 TB shape (contrast ``balance_sources``, which gives an
    exact per-source COUNT at the cost of a windowed pass; sampling
    gives an expected fraction for free).
    """
    u = _uniform_unit(id_col)
    frac = None
    for name, f in fractions.items():
        cond = F.col(source_col) == F.lit(name)
        frac = F.when(cond, F.lit(float(f))) if frac is None else frac.when(cond, F.lit(float(f)))
    frac = F.lit(float(default_fraction)) if frac is None else frac.otherwise(F.lit(float(default_fraction)))
    return (
        df.filter(u < frac)
        .select(F.col(id_col).alias("id"), F.col(source_col).alias("source"))
    )


def quantile_filter_by(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    group_cols: list[str] | str,
    exact: bool = True,
    approx_error: float = 0.001,
) -> DataFrame:
    """Per-group ``quantile_filter``: keep the top ``keep_frac`` of
    rows by ``score_col`` WITHIN each group (per-language/per-source
    quality gates — a global threshold would silently gut
    low-scoring languages). Ties at a group's threshold all survive.

    ``exact=True`` uses the interpolated percentile (buffers each
    group's values — fine to ~10^8 rows per group); ``exact=False``
    uses Greenwald-Khanna (map-side combinable, the 100 TB path).
    Either way the thresholds frame is #groups rows, joined back
    broadcast-style; the data shuffles ZERO times (the groupBy
    aggregates map-side into #groups rows; the filter runs in the
    scan stage after the join).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    p = 1.0 - float(keep_frac)
    thr = (
        F.expr(f"percentile({score_col}, {p})")
        if exact
        else F.percentile_approx(F.col(score_col), F.lit(p), F.lit(int(1.0 / approx_error)))
    )
    thresholds = df.groupBy(*groups).agg(thr.alias("__thr"))
    # null-safe join keys: a NULL group is a group too (groupBy
    # produced its threshold row) — a plain equi-join would silently
    # drop the whole null-group slice
    t = F.broadcast(
        thresholds.select(
            *[F.col(g).alias(f"__g_{g}") for g in groups], "__thr"
        )
    )
    cond = None
    for g in groups:
        eq = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = eq if cond is None else cond & eq
    return (
        df.join(t, cond)
        .filter(F.col(score_col) >= F.col("__thr"))
        .drop("__thr", *[f"__g_{g}" for g in groups])
    )


def assign_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    priority: F.Column | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: ``(id, split)``.

    Each row hashes to a point in [0, 1) and falls into the split
    whose cumulative weight range contains it — no RNG, so the split
    is reproducible across runs, engines, and partitionings, and a
    document keeps its split when the corpus is re-processed (the
    property that prevents silent train/test contamination between
    dataset versions). ``priority`` defaults to the cross-engine
    poly31 fingerprint of the id string (ANSI-reproducible); pass
    ``F.xxhash64(id)``-style expressions when oracle parity is not
    needed. Weights are normalized; iteration order is insertion
    order of ``weights``.

    Pure Column expression — zero shuffle, composes into any scan.
    """
    from cs533_big_data_data_mining_spark.functions.text import FINGERPRINT_MOD

    w = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(w.values()))
    if priority is None:
        # ONE definition of the cross-engine scatter (shared with
        # sample_sources) — two copies would eventually de-sync the
        # oracle spelling
        u = _uniform_unit(id_col)
    else:
        scattered = F.pmod(
            priority.cast("long") * F.lit(2654435761) + F.lit(12345), F.lit(FINGERPRINT_MOD)
        )
        u = scattered.cast("double") / F.lit(float(FINGERPRINT_MOD))
    expr = None
    acc = 0.0
    names = list(w)
    for name in names[:-1]:
        acc += w[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return df.select(F.col(id_col).alias("id"), split.alias("split"))


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_df: int,
    out_col: str = "clean",
) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb
    pre-dedup step): drop every line that occurs in more than
    ``max_doc_df`` distinct documents — nav menus, cookie banners,
    footers — and reassemble each document's remaining lines in
    order. Returns ``(id, clean)``; null text stays null, a document
    whose every line is boilerplate becomes the empty string.

    Scale shape: one map-side-deduplicable ``(line, doc)`` distinct +
    one combinable groupBy give per-line document frequency; only the
    OVER-threshold lines survive the filter (bounded by
    total_lines / max_doc_df — the hot boilerplate set is small by
    definition), so the removal join is a left-anti against a frame
    AQE can broadcast. Reassembly is one groupBy with an
    ``array_sort`` on (pos, line) structs — order restored without a
    window.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    lines = base.filter(F.col("__text").isNotNull()).select(
        "id", F.posexplode(F.split("__text", "\n")).alias("pos", "line")
    )
    boiler = (
        lines.select("line", "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > F.lit(int(max_doc_df)))
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            "\n",
        ).alias(out_col)
    )
    return base.join(rebuilt, "id", "left").select(
        "id",
        F.when(F.col("__text").isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col(out_col), F.lit("")))
        .alias(out_col),
    )


def _admission_prefilter(base: DataFrame, cap: int, hist_buckets: int) -> DataFrame:
    """Shrink ``(id, source, _pri)`` to a prefix-closed superset of
    each source's ``cap`` lowest-priority rows: equi-width histogram
    of ``_pri`` per over-cap source, cutoff = first bucket whose
    running count reaches ``cap``, admit rows at-or-below it. Exact
    by construction (see ``balance_sources``); degrades to the
    identity — never to a wrong answer — when priorities don't
    spread (single value, all null, empty input)."""
    rng = base.agg(
        F.min(F.col("_pri").cast("double")).alias("lo"),
        F.max(F.col("_pri").cast("double")).alias("hi"),
    ).head()
    lo, hi = rng["lo"], rng["hi"]
    if lo is None or hi is None or not hi > lo:
        return base
    width = (hi - lo) / hist_buckets
    # monotone non-decreasing value->bucket map (double cast of an
    # integral priority is monotone; ties share a bucket and the
    # cutoff admits the whole tie bucket)
    bk = F.least(
        F.lit(hist_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("_pri").cast("double") - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    b = base.withColumn("_bk", bk)
    big = (
        b.groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > F.lit(cap))
        .select("source")
    )
    hist = (
        b.join(big, "source", "left_semi")
        .groupBy("source", "_bk")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy(F.col("_bk").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cut = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        .filter(F.col("_cum") >= F.lit(cap))
        .groupBy("source")
        .agg(F.min("_bk").alias("_cut"))
    )
    # sources absent from `cut` are either under cap or never reach it
    # (all their rows admitted via the null `_cut` branch); null
    # priorities sort first in the final window, so always admitted
    return (
        b.join(cut, "source", "left")
        .filter(
            F.col("_cut").isNull() | F.col("_pri").isNull() | (F.col("_bk") <= F.col("_cut"))
        )
        .select("id", "source", "_pri")
    )


def balance_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    cap: int,
    priority: F.Column | None = None,
    prefilter: bool = True,
    hist_buckets: int = 1024,
) -> DataFrame:
    """Keep at most ``cap`` documents per source, deterministically.

    Priority within a source defaults to ``(xxhash64(id), id)`` — a
    stable pseudo-random order, so the survivors are an unbiased
    sample yet identical across runs/engines (callers needing a
    SQL-reproducible order pass ``priority``, e.g. a poly31
    fingerprint). Returns ``(id, source, rk)`` for survivors.

    Scale shape (round-5 verdict #3): a bare
    ``row_number() OVER (PARTITION BY source)`` puts EVERY row of a
    source into one task's sort — at 100 TB where one crawl domain is
    80 % of the corpus, that task sorts tens of billions of rows.
    With ``prefilter=True`` (default) an equi-width histogram of the
    priority is built per over-cap source (one combinable groupBy to
    at most ``#big_sources * hist_buckets`` rows), the first bucket
    whose running count reaches ``cap`` becomes that source's
    admission cutoff, and only rows at-or-below it (a prefix-closed
    superset of the top-``cap``, every bucket tie included) enter the
    exact window — ~``cap + n_s/hist_buckets`` rows per source
    instead of ``n_s``. The result is IDENTICAL to the plain window
    by construction (no distribution assumption on ``priority``; the
    worst case — all priorities equal — degrades to admitting
    everything, never to a wrong answer). Null priorities sort first
    and are always admitted.
    """
    pri = priority if priority is not None else F.xxhash64(F.col(id_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        pri.alias("_pri"),
    )
    if prefilter:
        base = _admission_prefilter(base, int(cap), int(hist_buckets))
    w = Window.partitionBy("source").orderBy(F.col("_pri").asc_nulls_first(), F.col("id").asc())
    return (
        base.select("id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= F.lit(int(cap)))
        .withColumn("rk", F.col("rk").cast("long"))
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame | None = None,
    ref_text_col: str | None = None,
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram-LM perplexity per document — the CCNet/RefinedWeb-style
    statistical quality filter (Wenzek et al. 2020 score documents
    with a reference-corpus LM and filter/bucket on perplexity; here
    the LM is an add-alpha-smoothed bigram model fit with plain
    DataFrame aggregations instead of an external toolkit).

    Returns ``(id, n_tokens, avg_logp, ppl)``:
    ``avg_logp`` = mean log-probability per token,
    ``ppl = exp(-avg_logp)`` (lower = more reference-like); empty
    documents get NULL for both. ``ref`` is the corpus the model is
    fit on (defaults to ``df`` itself — self-perplexity, which flags
    outlier documents); ``ref_text_col`` defaults to ``text_col``.

    Model: first token scores the smoothed unigram
    ``(U(w)+a) / (N+a*V)``; later tokens the smoothed bigram
    ``(B(prev,w)+a) / (U(prev)+a*V)`` with V = reference vocabulary
    + 1 (one shared UNK slot), so unseen words/bigrams degrade
    smoothly rather than zeroing the product.

    Determinism: each token's log term is rounded to 9 dp and summed
    as DECIMAL — the per-doc sum is exact and order-independent, so
    the result does not depend on partitioning (float sums are not
    associative; this is the same discipline as ``label_centroids``).

    Scale shape: two combinable count groupBys over the reference
    (unigrams, bigrams). Scoring pairs each token with its
    predecessor INSIDE the token array (zip against its own tail —
    the same spelling the fit uses), so there is no posexplode + lag
    window: the corpus-wide sort exchange that window required is
    gone (guide §2.4), the bigram terms take two equi-joins against
    the count tables (shuffle on token keys — hot words are exactly
    what AQE skew splitting handles), the first-token unigram term
    rides a one-row-per-doc frame, and a per-doc NULL anchor row
    keeps empty documents in the final aggregate without a join back
    to the input. The per-token log terms are rounded then summed as
    DECIMAL, so the regrouped sum is bit-identical to the windowed
    spelling. N and V are two scalars collected once and embedded as
    literals.
    """
    a = float(alpha)
    if a <= 0:
        raise ValueError("alpha must be > 0")
    r = ref if ref is not None else df
    rcol = ref_text_col if ref_text_col is not None else text_col

    rtoks = r.select(F.explode(tokenize(rcol)).alias("w"))
    uni = rtoks.groupBy("w").agg(F.count(F.lit(1)).alias("cu")).cache()
    row = uni.agg(
        F.coalesce(F.sum("cu"), F.lit(0)).alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_total, vocab = int(row["n"]), int(row["v"]) + 1

    # (w1, w2) bigram counts with NO window over the reference: pair
    # each token with its successor inside the array (zip against its
    # own tail), then explode — stays in the scan stage
    toks_arr = tokenize(rcol)
    pairs = F.when(
        F.size(toks_arr) >= 2,
        F.zip_with(
            F.slice(toks_arr, 1, F.size(toks_arr) - 1),
            F.slice(toks_arr, 2, F.size(toks_arr) - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        r.select(F.explode(pairs).alias("pr"))
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )

    # scoring WITHOUT the window: the (prev, w) pairs come from the
    # same zip-against-own-tail used for the fit, so no posexplode +
    # lag (the per-doc sort exchange is gone); the first token's
    # unigram term needs only one row per document. A NULL-lp anchor
    # row per document keeps zero-token docs in the final groupBy so
    # the old join back to df is unnecessary. Term values and their
    # exact DECIMAL sum are unchanged (rounded per term to 9 dp, and
    # decimal addition is associative), so the output is
    # bit-identical to the windowed spelling.
    dt = tokenize(text_col)
    dpairs = F.when(
        F.size(dt) >= 2,
        F.zip_with(
            F.slice(dt, 1, F.size(dt) - 1),
            F.slice(dt, 2, F.size(dt) - 1),
            lambda x, y: F.struct(x.alias("prev"), y.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))
    docs = df.select(F.col(id_col).alias("id"), dt.alias("__tk"))

    av = F.lit(a * vocab)
    first = (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(a)) / F.lit(n_total + a * vocab)
    later = (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(a)) / (
        F.coalesce(F.col("cprev"), F.lit(0)) + av
    )
    lp_t = "decimal(24,9)"
    firsts = (
        docs.filter(F.size("__tk") >= 1)
        .select("id", F.element_at("__tk", 1).alias("w"))
        .join(uni, "w", "left")
        .select("id", F.round(F.log(first), 9).cast(lp_t).alias("lp"))
    )
    ctx = uni.select(F.col("w").alias("prev"), F.col("cu").alias("cprev"))
    laters = (
        df.select(F.col(id_col).alias("id"), F.explode(dpairs).alias("pr"))
        .select("id", F.col("pr.prev").alias("prev"), F.col("pr.w").alias("w"))
        .join(ctx, "prev", "left")
        .join(big, (F.col("prev") == F.col("w1")) & (F.col("w") == F.col("w2")), "left")
        .select("id", F.round(F.log(later), 9).cast(lp_t).alias("lp"))
    )
    anchors = docs.select("id", F.lit(None).cast(lp_t).alias("lp"))
    per_doc = (
        firsts.unionByName(laters)
        .unionByName(anchors)
        .groupBy("id")
        .agg(F.count("lp").alias("n_tokens"), F.sum("lp").alias("slp"))
    )
    # cast the exact DECIMAL sum to double BEFORE dividing — the
    # oracle does the same, so both engines round the same quotient
    avg = F.when(
        F.col("n_tokens") > 0,
        F.round(F.col("slp").cast("double") / F.col("n_tokens"), 6),
    )
    res = per_doc.select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        avg.alias("avg_logp"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )
    res = res.persist()
    res.count()
    uni.unpersist()
    return res


def temperature_fractions(
    df: DataFrame,
    source_col: str,
    temperature: float,
    target_rows: int | None = None,
) -> dict[str, float]:
    """Per-source keep fractions for temperature-based mixture
    rebalancing (the multilingual/source recipe from mC4 / XLM-R,
    public methodology): target share of source ``s`` is
    ``p_s^(1/T) / sum_r p_r^(1/T)`` where ``p_s`` is its corpus
    share. ``T > 1`` flattens the mixture toward uniform (upweights
    small sources), ``T = 1`` keeps it unchanged, ``T < 1``
    sharpens it.

    Since sampling can only REMOVE rows, the target mixture is
    realized downward: fractions scale so the most-upweighted source
    keeps 1.0 and every other source keeps proportionally less
    (``target_rows`` caps the total further). Feed the result to
    :func:`sample_sources` — one tiny count groupBy here, then the
    mixing itself stays a pure Column filter.
    """
    t = float(temperature)
    if t <= 0:
        raise ValueError("temperature must be > 0")
    counts = {
        r["s"]: int(r["n"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None
    }
    total = sum(counts.values())
    if not total:
        return {}
    shares = {s: n / total for s, n in counts.items()}
    raw = {s: p ** (1.0 / t) for s, p in shares.items()}
    z = sum(raw.values())
    target = {s: raw[s] / z for s in raw}
    # keep fraction needed so realized shares match target, scaled so
    # the binding source keeps 1.0: f_s ∝ target_s / share_s
    rel = {s: target[s] / shares[s] for s in shares}
    m = max(rel.values())
    fracs = {s: rel[s] / m for s in rel}
    if target_rows is not None and target_rows < total:
        expected = sum(fracs[s] * counts[s] for s in counts)
        if expected > 0:
            scale = min(1.0, float(target_rows) / expected)
            fracs = {s: f * scale for s, f in fracs.items()}
    return fracs


#: Gopher's rule-7 English stopword list (Rae et al. 2021 A1.1: "at
#: least two of the following") — a SMALL presence list, distinct from
#: the frequency list in functions.text.STOPWORDS_EN.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: packing base for the lexicographic (count, char_len) maximum used
#: by the top-n-gram stats: packed = count * BASE + char_len decodes
#: exactly in int64 for char_len < BASE and count <= ~9e9 — the SAME
#: spelling on both engines, so the tie-break is bit-identical.
_REP_PACK = 1_000_000_000


def c4_filters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    line_terminal_punct: bool = True,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2, public — the
    canonical heuristic set alongside Gopher's): line-level retention
    plus page-level rejection, in the paper's order.

    Line rules (a line survives iff ALL hold):

    * ends in a terminal punctuation mark (``.``, ``!``, ``?``, or a
      closing double quote after one) — SKIPPED when
      ``line_terminal_punct=False`` (FineWeb applies the C4 set
      "except terminal_punct", Penedo 2024 §3.4; the sentence floor
      still counts terminal marks in the kept lines);
    * contains at least ``min_words_per_line`` whitespace words;
    * does not contain the SUBSTRING ``javascript`` (case-insensitive
      — a deliberately blunt rendering of the paper's "any line with
      the word Javascript" cookie/JS-warning heuristic: substring
      matching also catches ``javascript:`` URLs and glued variants,
      at the cost of the rare prose mention).

    Page rules (the document is dropped iff ANY holds, evaluated on
    the ORIGINAL text per the paper's "removed any page that
    contained" wording):

    * fewer than ``min_sentences`` sentences AFTER line filtering
      (sentences approximated as terminal-punctuation occurrences in
      the kept lines — the paper does not pin a splitter);
    * contains ``lorem ipsum`` (case-insensitive);
    * contains a curly brace ``{`` (code heuristic).

    Returns ``(id, clean, n_lines_kept, n_sentences, keep)`` —
    ``clean`` is the kept lines re-joined with ``\\n`` (null text ->
    null clean, ``keep = FALSE``). Survivor texts for the pipeline
    are ``filter(keep).select(id, clean)``.

    Scale shape: pure Column end to end (line split + array filter +
    regexp counts fused into the scan) — zero shuffle, zero Python;
    the same class as :func:`gopher_rules`.
    """
    c = F.col(text_col)
    lines = F.split(c, r"\n")
    term = r'[.!?]["”]?\s*$'
    kept = F.filter(
        lines,
        lambda x: (x.rlike(term) if line_terminal_punct else F.lit(True))
        & (F.size(F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != "")) >= min_words_per_line)
        & ~F.lower(x).contains("javascript"),
    )
    clean = F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(kept, "\n")
    )
    joined = F.array_join(kept, "\n")
    n_sent = F.when(c.isNull(), F.lit(None)).otherwise(
        F.length(joined) - F.length(F.regexp_replace(joined, r"[.!?]", ""))
    )
    keep = (
        c.isNotNull()
        & (n_sent >= F.lit(int(min_sentences)))
        & ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
    )
    return df.select(
        F.col(id_col).alias("id"),
        clean.alias("clean"),
        F.when(c.isNull(), F.lit(None)).otherwise(F.size(kept)).cast("long").alias("n_lines_kept"),
        n_sent.cast("long").alias("n_sentences"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def fineweb_filters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_line_punct_frac: float = 0.12,
    max_dup_line_char_frac: float = 0.10,
    max_short_line_frac: float = 0.67,
    short_line_len: int = 30,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The FineWeb custom quality filters (Penedo et al. 2024 §3.6,
    public — the three C4-inspired gates FineWeb adds ON TOP of the
    C4/Gopher sets, tuned against the full pipeline): a document is
    removed when

    * the fraction of lines ending in punctuation is
      ``<= min_line_punct_frac`` (0.12 — punctuation is the published
      stop set ``. ' " ! ?``),
    * the fraction of characters in duplicated lines is
      ``>= max_dup_line_char_frac`` (0.10 — Gopher's
      ``dup_line_char_frac`` signal at FineWeb's stricter threshold),
    * the fraction of lines shorter than ``short_line_len`` (30)
      characters is ``>= max_short_line_frac`` (0.67).

    Lines are trimmed and empties dropped (the
    :func:`gopher_repetition` spelling; the paper does not pin
    whitespace handling). Duplicated-line characters count occurrences
    beyond each distinct value's first, over total line characters —
    identical to ``gopher_repetition.dup_line_char_frac`` up to the
    threshold. Note the boundary INCLUSIVITY mirrors the paper:
    punctuation removes at-or-below, the other two remove at-or-above.

    Returns ``(id, line_punct_frac, dup_line_char_frac,
    short_line_frac, keep)`` — signals rounded to 6 dp; null text ->
    null signals, ``keep = FALSE``; a doc with no non-empty lines has
    null signals and passes vacuously (rejection needs evidence, the
    Gopher-bundle contract).

    Scale shape: pure Column end to end and — unlike
    :func:`gopher_repetition`, which needs a unit explode for its
    n-gram streams — genuinely ZERO shuffle: the duplicated-line
    numerator is ``total_chars - chars(array_distinct(lines))``
    (``array_distinct`` keeps first occurrences), so everything fuses
    into the scan.
    """
    c = F.col(text_col)
    # layered projections (the gopher_rules / gopher_repetition
    # pattern): name the line array once so CollapseProject keeps the
    # multi-referenced non-cheap alias shared; values unchanged
    base = df.select(
        F.col(id_col).alias("id"),
        *carry,
        c.isNull().alias("__null"),
        F.filter(
            F.transform(F.split(c, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
        ).alias("__lines"),
    )
    lines = F.col("__lines")
    n = F.size(lines).cast("double")
    n_punct = F.size(F.filter(lines, lambda x: x.rlike("[.'\"!?]$"))).cast("double")
    n_short = F.size(
        F.filter(lines, lambda x: F.length(x) < F.lit(int(short_line_len)))
    ).cast("double")
    tot_chars = F.length(F.concat_ws("", lines)).cast("double")
    dup_chars = tot_chars - F.length(F.concat_ws("", F.array_distinct(lines))).cast("double")

    # no-lines docs (n = 0) keep null signals: 0/0 division yields
    # null under ANSI-off double semantics, but be explicit
    has = ~F.col("__null") & (n > 0)
    punct_frac = F.when(has, F.round(n_punct / n, 6))
    dup_frac = F.when(has & (tot_chars > 0), F.round(dup_chars / tot_chars, 6))
    short_frac = F.when(has, F.round(n_short / n, 6))

    sig = base.select(
        "id",
        *carry,
        "__null",
        punct_frac.alias("line_punct_frac"),
        dup_frac.alias("dup_line_char_frac"),
        short_frac.alias("short_line_frac"),
    )
    keep = (
        ~F.col("__null")
        & ~F.coalesce(
            F.col("line_punct_frac") <= F.lit(float(min_line_punct_frac)), F.lit(False)
        )
        & ~F.coalesce(
            F.col("dup_line_char_frac") >= F.lit(float(max_dup_line_char_frac)), F.lit(False)
        )
        & ~F.coalesce(
            F.col("short_line_frac") >= F.lit(float(max_short_line_frac)), F.lit(False)
        )
    )
    # optimizer fence (see gopher_rules): keep `.filter("keep")`
    # consumers gating on the computed boolean
    fence = F.element_at(F.shuffle(F.array(F.lit(False))), 1)
    return sig.select(
        "id",
        *carry,
        "line_punct_frac",
        "dup_line_char_frac",
        "short_line_frac",
        (keep | fence).alias("keep"),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    max_top_ngram_char_frac: tuple[float, float, float] = (0.20, 0.18, 0.16),
    max_dup_ngram_char_frac: tuple[float, ...] = (0.15, 0.14, 0.13, 0.12, 0.11, 0.10),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher REPETITION removal (Rae et al. 2021 A1.2 — the second
    half of the Gopher quality bundle, reused verbatim by RefinedWeb;
    :func:`gopher_rules` is the A1.1 half): per-document repetition
    signals with the paper's published thresholds.

    Signals (all rounded to 6 dp; ``keep`` = every rule passes):

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of line /
      paragraph OCCURRENCES beyond each value's first (lines split on
      ``\\n``, paragraphs on ``\\n{2,}``, trimmed, empties dropped);
      thresholds 0.30 / 0.30.
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — the same
      beyond-first occurrences weighted by character length, over the
      total line/paragraph characters; thresholds 0.20 / 0.20.
    * ``top_{2,3,4}gram_char_frac`` — characters of the most frequent
      word n-gram (count x its non-space char length) over the
      document's total token characters; thresholds 0.20/0.18/0.16.
      Count ties break to the LONGEST gram (lexicographic
      (count, char_len) max — packed into one int64 so both engines
      break ties identically).
    * ``dup_{5..10}gram_char_frac`` — characters in n-gram occurrences
      beyond each distinct gram's first, over total token characters,
      clamped to 1; thresholds 0.15/0.14/0.13/0.12/0.11/0.10.
      (Overlapping repeats can push the raw sum past 1 — the paper
      does not pin overlap handling and public reimplementations
      differ; this spelling is deterministic and clamp-documented.)

    Null text -> ``keep = FALSE`` (the :func:`gopher_rules`
    contract); a rule whose signal is null (no lines, < n tokens)
    passes vacuously.

    ``carry`` names extra input columns to pass through untouched —
    the verdict frame then needs no join back to the source, which is
    what lets the STREAMING ingest path apply this operator
    stateless (every signal is per-row; see ``streaming/curate.py``).

    Scale shape: ZERO shuffle — every signal aggregates strictly
    within one document, so the corpus is scanned once, tokenized
    once (the token array is a materialized column every gram stream
    slices), each of the eleven unit streams (lines + paragraphs +
    the nine n-gram sizes) is sorted INSIDE the row, and
    duplicate-beyond-first counts fall out of adjacent-equal
    positions while the top gram is a run-length fold. Per-row cost
    is O(units log units) with no distributed state; the earlier
    explode-into-two-global-groupBys spelling shipped the gram
    strings through a corpus-sized shuffle and measured ~4x slower
    at equal parallelism (identical signal values — pinned by the
    repetition_stats oracle row). One caveat zero-shuffle buys:
    the computation inherits the INPUT's partitioning — callers
    feeding an AQE-coalesced frame (a checkpointed join output can
    collapse to one ~64MB partition at local scales) should
    repartition first or the per-row work serializes onto one core.
    """
    from cs533_big_data_data_mining_spark.functions.text import tokenize

    top_ns, dup_ns = (2, 3, 4), tuple(range(5, 5 + len(max_dup_ngram_char_frac)))
    reserved = {"id", "keep", "tok_chars"} | {
        f"{k}_{s}"
        for k in ["line", "para"] + [f"g{n}" for n in range(2, 11)]
        for s in ("s", "n", "tc", "du", "dc", "tp")
    }
    reserved |= {
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
    } | {f"top_{n}gram_char_frac" for n in top_ns} | {
        f"dup_{n}gram_char_frac" for n in dup_ns
    }
    for c in carry:
        if c in reserved or c.startswith("__"):
            raise ValueError(f"carry column {c!r} collides with an internal name")
    carry = tuple(carry)
    # The five projection layers are pure name-based Column trees —
    # independent of df — and building them costs ~1.6 s of py4j
    # round trips (the single largest driver cost of a warm flagship
    # run). _expr_memo hands back the identical tree on repeat calls.
    layers = _expr_memo(
        (
            "gopher_repetition",
            id_col,
            text_col,
            carry,
            float(max_dup_line_frac),
            float(max_dup_para_frac),
            float(max_dup_line_char_frac),
            float(max_dup_para_char_frac),
            tuple(float(x) for x in max_top_ngram_char_frac),
            tuple(float(x) for x in max_dup_ngram_char_frac),
        ),
        lambda: _gopher_repetition_layers(
            id_col,
            text_col,
            carry,
            max_dup_line_frac,
            max_dup_para_frac,
            max_dup_line_char_frac,
            max_dup_para_char_frac,
            max_top_ngram_char_frac,
            max_dup_ngram_char_frac,
        ),
    )
    out = df
    for cols in layers:
        out = out.select(*cols)
    return out


def _gopher_repetition_layers(
    id_col: str,
    text_col: str,
    carry: tuple[str, ...],
    max_dup_line_frac: float,
    max_dup_para_frac: float,
    max_dup_line_char_frac: float,
    max_dup_para_char_frac: float,
    max_top_ngram_char_frac: tuple[float, float, float],
    max_dup_ngram_char_frac: tuple[float, ...],
) -> tuple[list, ...]:
    """The five projection layers of :func:`gopher_repetition` as
    Column lists (see its docstring for the signal definitions)."""
    top_ns, dup_ns = (2, 3, 4), tuple(range(5, 5 + len(max_dup_ngram_char_frac)))
    # tokenize ONCE: the nine gram streams below slice this column
    # instead of re-splitting the text per n
    base_cols = [
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__t"),
        tokenize(text_col).alias("__toks"),
        *[F.col(c) for c in carry],
    ]

    lines = F.filter(F.transform(F.split("__t", r"\n"), lambda x: F.trim(x)), lambda x: x != "")
    paras = F.filter(F.transform(F.split("__t", r"\n{2,}"), lambda x: F.trim(x)), lambda x: x != "")

    # Every signal is PER-DOCUMENT, so nothing here needs a shuffle:
    # sort each unit stream inside the row, then duplicate-beyond-
    # first counts are the adjacent-equal positions of the sorted
    # array and the top gram is a left fold over its runs. (The
    # previous spelling exploded ~9x-token-count (id, kind, unit)
    # rows into two global groupBys whose shuffle carried the gram
    # STRINGS — measured 9x slower at 200k docs, and pure shuffle
    # pressure at 100 TB for an operator whose aggregation never
    # crosses a document boundary.)
    kinds = {"line": (lines, 0), "para": (paras, 0)}
    # grams are space-joined: non-space char length = len - (n-1)
    kinds.update({f"g{n}": (token_ngrams(F.col("__toks"), n), n - 1) for n in top_ns + dup_ns})
    sorted_cols = [
        F.col("id"),
        *[F.col(c) for c in carry],
        F.col("__t").isNull().alias("__null"),
        F.length(F.concat_ws("", F.col("__toks"))).cast("long").alias("tok_chars"),
        *[F.array_sort(arr).alias(f"{kind}_s") for kind, (arr, _) in kinds.items()],
    ]

    def _stream_stats(kind: str, off: int, wants: str) -> list:
        # only the stats this kind's signals consume get computed —
        # line/para need occurrence+char dup fractions, g2-4 only the
        # top gram, g5-10 only the dup chars (interpreted HOF passes
        # are the per-row cost, so skipping unused folds is ~40%)
        s = F.col(f"{kind}_s")
        n = F.size(s)

        def cl(x):
            return (F.length(x) - F.lit(off)).cast("long")

        zero = F.lit(0).cast("long")
        present = n >= 1  # empty stream -> null signals (absent kind)
        guard2 = n >= 2  # slice(_, 2, n-1) needs two elements
        out = [F.when(present, n.cast("long")).alias(f"{kind}_n")]
        if "d" in wants:
            # adjacent-equal positions of the sorted array ==
            # occurrences beyond each distinct value's first (cl is a
            # function of the value, so char-weighting by the RIGHT
            # element is exact)
            adj = F.zip_with(
                F.slice(s, 1, n - 1),
                F.slice(s, 2, n - 1),
                lambda a, b: F.when(a == b, cl(b)).otherwise(F.lit(-1).cast("long")),
            )
            dup_chars = F.aggregate(adj, zero, lambda acc, x: acc + F.greatest(x, zero))
            out.append(
                F.when(present, F.when(guard2, dup_chars).otherwise(zero)).alias(f"{kind}_dc")
            )
            if "u" in wants:
                tot = F.aggregate(s, zero, lambda acc, x: acc + cl(x))
                dup_units = F.size(F.filter(adj, lambda x: x >= 0))
                out.append(F.when(present, tot).alias(f"{kind}_tc"))
                out.append(
                    F.when(present, F.when(guard2, dup_units.cast("long")).otherwise(zero)).alias(
                        f"{kind}_du"
                    )
                )
        if "t" in wants:
            # run-length fold for the most frequent gram: at the end
            # of a run of length c the packed value is c*PACK + cl,
            # and every prefix of the run packs smaller, so max over
            # positions == max over distinct units of count*PACK + cl
            # (ties to the LONGEST gram, the groupBy spelling's exact
            # tie-break)
            st0 = F.struct(
                F.lit("").alias("prev"),
                F.lit(False).alias("has"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            )

            def step(acc, x):
                run = F.when(acc["has"] & (x == acc["prev"]), acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                )
                return F.struct(
                    x.alias("prev"),
                    F.lit(True).alias("has"),
                    run.alias("run"),
                    F.greatest(acc["best"], run * F.lit(_REP_PACK) + cl(x)).alias("best"),
                )

            out.append(F.when(present, F.aggregate(s, st0, step)["best"]).alias(f"{kind}_tp"))
        return out

    wants = {"line": "du", "para": "du"}
    wants.update({f"g{n}": "t" for n in top_ns})
    wants.update({f"g{n}": "d" for n in dup_ns})
    stat_cols = [
        F.col("id"),
        *[F.col(c) for c in carry],
        F.col("__null"),
        F.col("tok_chars"),
        *[e for kind, (_, off) in kinds.items() for e in _stream_stats(kind, off, wants[kind])],
    ]

    def _ratio(num, den):
        return F.round(num.cast("double") / den.cast("double"), 6)

    cols = {
        "dup_line_frac": _ratio(F.col("line_du"), F.col("line_n")),
        "dup_line_char_frac": _ratio(F.col("line_dc"), F.col("line_tc")),
        "dup_para_frac": _ratio(F.col("para_du"), F.col("para_n")),
        "dup_para_char_frac": _ratio(F.col("para_dc"), F.col("para_tc")),
    }
    for n in top_ns:
        # integer `div` decode: double division would lose exactness
        # past 2^53 on pathological repeat counts
        mc = F.expr(f"g{n}_tp div {_REP_PACK}")
        ml = F.col(f"g{n}_tp") % F.lit(_REP_PACK)
        top_frac = (mc * ml).cast("double") / F.col("tok_chars").cast("double")
        # a gram occurring ONCE is not repetition — the published
        # implementations require count > 1 before the top-gram rule
        # can reject (otherwise every short doc's unique top 4-gram
        # trips the 0.16 bar). Absent stream (< n tokens) stays null.
        cols[f"top_{n}gram_char_frac"] = F.when(
            F.col(f"g{n}_tp").isNotNull(),
            F.when(mc > 1, F.round(top_frac, 6)).otherwise(F.lit(0.0)),
        )
    for n in dup_ns:
        # guard the absent-stream case explicitly: least(1.0, NULL)
        # returns 1.0 (least ignores nulls), which would fail docs
        # too short to even have an n-gram
        cols[f"dup_{n}gram_char_frac"] = F.when(
            F.col(f"g{n}_dc").isNotNull(),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col(f"g{n}_dc").cast("double") / F.col("tok_chars").cast("double"),
                ),
                6,
            ),
        )

    thr = dict(
        zip(
            ["dup_line_frac", "dup_para_frac", "dup_line_char_frac", "dup_para_char_frac"],
            [max_dup_line_frac, max_dup_para_frac, max_dup_line_char_frac, max_dup_para_char_frac],
        )
    )
    thr.update({f"top_{n}gram_char_frac": t for n, t in zip(top_ns, max_top_ngram_char_frac)})
    thr.update({f"dup_{n}gram_char_frac": t for n, t in zip(dup_ns, max_dup_ngram_char_frac)})
    out_cols = [
        F.col("id"),
        *[F.col(c) for c in carry],
        F.col("__null"),
        *[expr.alias(name) for name, expr in cols.items()],
    ]
    keep = F.lit(True)
    for name, t in thr.items():
        # a null signal (no lines / < n tokens / empty doc) passes
        # vacuously — rejecting needs evidence over the threshold
        keep = keep & ~F.coalesce(F.col(name) > F.lit(float(t)), F.lit(False))
    # Optimizer fence on `keep`: OR-ing an always-false
    # NON-DETERMINISTIC term (shuffle() of a single-element array is
    # flagged non-deterministic, but element 1 of [false] is always
    # false) leaves the value untouched but stops PushDownPredicates
    # from substituting the full signal expression into a consumer's
    # `.filter("keep")`. Without it the filter predicate re-derives
    # every sorted unit stream per rule reference in an interpreted
    # Predicate (no subexpression reuse, HOFs can't codegen) —
    # measured 17x slower than evaluating the projection once and
    # filtering the boolean (100 s -> 6 s at 20k docs). shuffle, not
    # monotonically_increasing_id: the latter is on Structured
    # Streaming's unsupported-expression list and would break the
    # ingest-time route (`streaming/curate.py`). Cost of the fence:
    # consumers' UNRELATED predicates also stop pushing through this
    # projection — irrelevant here, the verdict frame is terminal.
    fence = F.element_at(F.shuffle(F.array(F.lit(False))), 1)
    final_cols = [
        F.col("id"),
        *[F.col(c) for c in carry],
        *[F.col(name) for name in cols],
        (F.when(F.col("__null"), F.lit(False)).otherwise(keep) | fence).alias("keep"),
    ]
    return (base_cols, sorted_cols, stat_cols, out_cols, final_cols)


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021 Appendix A1.1,
    public) as one pass: per-document metrics plus the combined
    ``keep`` verdict. Defaults are the paper's thresholds; callers
    filter ``keep`` or re-gate on individual metrics.

    Rules: word count in [min, max]; mean word length in [min, max];
    ``#``-per-word AND ellipsis-per-word EACH <= max_symbol_ratio
    (the paper gates the two symbol types separately); fraction of
    non-empty lines starting with a bullet <= max_bullet_frac;
    fraction ending with an ellipsis <= max_ellipsis_frac; fraction
    of words containing an alphabetic character >= min_alpha_frac;
    at least ``min_stopword_hits`` distinct
    :data:`GOPHER_STOPWORDS` present.

    Empty/null documents fail (metrics null, ``keep`` false) — each
    rule is null-coalesced to false so a missing denominator can
    never smuggle a document past the gate. Ratios round to 6 dp
    (cross-engine hash discipline).

    ``carry`` names extra input columns to pass through untouched —
    the verdict frame then needs no join back to the source (the
    :func:`gopher_repetition` contract), which is what lets pipeline
    consumers gate with a plain ``filter("keep")`` instead of a
    survivor-id semi-join.

    Scale shape: pure Column expressions end to end — zero shuffle,
    zero Python, fuses into the scan stage; the one thing it is NOT
    is a Pandas UDF (same 100 TB argument as ``quality_score``).
    """
    carry = tuple(carry)
    layers = _expr_memo(
        (
            "gopher_rules",
            id_col,
            text_col,
            carry,
            int(min_words),
            int(max_words),
            float(min_mean_word_len),
            float(max_mean_word_len),
            float(max_symbol_ratio),
            float(max_bullet_frac),
            float(max_ellipsis_frac),
            float(min_alpha_frac),
            int(min_stopword_hits),
        ),
        lambda: _gopher_rules_layers(
            id_col,
            text_col,
            carry,
            min_words,
            max_words,
            min_mean_word_len,
            max_mean_word_len,
            max_symbol_ratio,
            max_bullet_frac,
            max_ellipsis_frac,
            min_alpha_frac,
            min_stopword_hits,
        ),
    )
    out = df
    for cols in layers:
        out = out.select(*cols)
    return out


def _gopher_rules_layers(
    id_col: str,
    text_col: str,
    carry: tuple[str, ...],
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    min_alpha_frac: float,
    min_stopword_hits: int,
) -> tuple[list, ...]:
    """The three projection layers of :func:`gopher_rules` as Column
    lists (memoized by the wrapper — see :func:`_expr_memo`)."""
    c = F.col(text_col)
    # Layered projections, not one flat select: the token and line
    # arrays are referenced by several signals, and NAMING them in a
    # lower project gives explicit subexpression sharing that
    # CollapseProject preserves (multi-referenced non-cheap aliases
    # are not re-inlined) — tokenize() was being re-derived per
    # signal in the old flat spelling. Values unchanged.
    base_cols = [
        F.col(id_col).alias("id"),
        *[F.col(cc) for cc in carry],
        c.isNull().alias("__null"),
        c.alias("__t"),
        tokenize(text_col).alias("__toks"),
        F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != "").alias("__lines"),
    ]
    toks = F.col("__toks")
    n = F.size(toks).cast("double")
    nz = F.when(n > 0, n)  # null denominator when empty

    mean_len = F.round(F.length(F.concat_ws("", toks)).cast("double") / nz, 6)
    hash_ratio = F.round(F.regexp_count(F.col("__t"), F.lit(r"#")).cast("double") / nz, 6)
    ell_ratio = F.round(
        F.regexp_count(F.col("__t"), F.lit(r"\.\.\.|…")).cast("double") / nz, 6
    )

    lines = F.col("__lines")
    n_lines = F.size(lines).cast("double")
    nzl = F.when(n_lines > 0, n_lines)
    bullet = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))).cast("double") / nzl, 6
    )
    ellipsis = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))).cast("double") / nzl, 6
    )

    alpha = F.round(
        F.size(F.filter(toks, lambda t: t.rlike(r"[A-Za-z]"))).cast("double") / nz, 6
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))

    sig_cols = [
        F.col("id"),
        *[F.col(cc) for cc in carry],
        F.col("__null"),
        F.size(toks).cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        hash_ratio.alias("hash_ratio"),
        ell_ratio.alias("ellipsis_ratio"),
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        alpha.alias("alpha_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
    ]

    def _ok(cond):
        return F.coalesce(cond, F.lit(False))

    keep = (
        _ok(F.col("n_words") >= min_words)
        & _ok(F.col("n_words") <= max_words)
        & _ok(F.col("mean_word_len") >= min_mean_word_len)
        & _ok(F.col("mean_word_len") <= max_mean_word_len)
        & _ok(F.col("hash_ratio") <= max_symbol_ratio)
        & _ok(F.col("ellipsis_ratio") <= max_symbol_ratio)
        # a doc with no non-empty lines has no bullet/ellipsis
        # problem — the line rules pass vacuously (nzl null => the
        # <= holds via coalesce on the NEGATED condition)
        & ~_ok(F.col("bullet_frac") > max_bullet_frac)
        & ~_ok(F.col("ellipsis_frac") > max_ellipsis_frac)
        & _ok(F.col("alpha_frac") >= min_alpha_frac)
        & _ok(F.col("stopword_hits") >= min_stopword_hits)
    )
    # same optimizer fence as gopher_repetition: a consumer's
    # `.filter("keep")` must gate on the computed boolean, not have
    # PushDownPredicates substitute the full HOF rule bundle into an
    # interpreted scan predicate (no subexpression reuse there)
    fence = F.element_at(F.shuffle(F.array(F.lit(False))), 1)
    final_cols = [
        F.col("id"),
        *[F.col(cc) for cc in carry],
        F.col("n_words"),
        F.col("mean_word_len"),
        F.col("hash_ratio"),
        F.col("ellipsis_ratio"),
        F.col("bullet_frac"),
        F.col("ellipsis_frac"),
        F.col("alpha_frac"),
        F.col("stopword_hits"),
        (F.when(F.col("__null"), F.lit(False)).otherwise(keep) | fence).alias("keep"),
    ]
    return (base_cols, sig_cols, final_cols)


def url_filter(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocked_domains: list[str] | DataFrame | None = None,
    keyword_weights: dict[str, float] | None = None,
    max_keyword_score: float = 1.0,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """RefinedWeb stage ZERO (Penedo 2023 §3.1 "URL filtering", before
    even URL dedup): drop documents by where they came from — (a) a
    domain blocklist (adult/fraud/malware lists; a host is blocked if
    it IS a listed domain or any dot-suffix of it matches, so
    ``bad.example`` blocks ``a.b.bad.example``), and (b) a weighted
    URL-keyword score (sum of weights of keywords contained in the
    lowercased URL; ``score >= max_keyword_score`` blocks — soft
    matching so ``casino`` alone can pass while ``casino``+``poker``
    trips). Returns ``(id, host, kw_score, keep)`` for EVERY row so
    audits can rank near-blocked URLs; survivors are
    ``filter(keep)``. Null/non-URL rows keep unconditionally — both
    gates are provenance gates, and a hostless value gives no
    provenance to judge (its ``kw_score`` is still reported for
    audits); filter such rows on content, not provenance.

    Scale shape: host + suffixes + keyword score are pure Column; the
    blocklist check is one semi-join of exploded host-suffixes
    against the (broadcastable: blocklists are ~10^5-10^6 rows) domain
    set — an EQUI join, never a ``LIKE`` scan. ``blocked_domains``
    accepts a Python list (tests, small lists) or a one-column
    DataFrame (read the list once at 100 TB, not per-driver-script).
    """
    from cs533_big_data_data_mining_spark.functions.url import (
        host_blocked,
        host_suffixes,
        url_host,
        url_keyword_score,
    )

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"),
        *carry,
        F.col(url_col).alias("__url"),
        url_host(url_col).alias("host"),
    )
    # one flat fold over literal keyword/weight arrays (see
    # functions.url.url_keyword_score): bit-identical sum, single
    # shallow expression node at hundreds of keywords
    scored = base.withColumn("kw_score", url_keyword_score(F.col("__url"), keyword_weights))

    # hostless rows (null / non-URL) are exempt from BOTH gates — the
    # documented contract: no provenance to judge, filter on content
    hostless = F.col("host").isNull() | (F.col("host") == "")
    kw_pass = F.col("kw_score") < F.lit(float(max_keyword_score))

    if blocked_domains is None:
        blocked = F.lit(False)
        joined = scored
    elif not isinstance(blocked_domains, DataFrame):
        # list blocklist: pure-Column suffix-set intersection — zero
        # joins, zero extra scans (the broadcast semi-join shape below
        # exists for blocklists big enough to arrive as a DataFrame)
        blocked = host_blocked("host", blocked_domains)
        joined = scored
    else:
        dom = blocked_domains.select(
            F.lower(F.col(blocked_domains.columns[0])).alias("__d")
        ).distinct()
        blocked_hit = (
            scored.select("id", F.explode(host_suffixes("host")).alias("__d"))
            .join(F.broadcast(dom), "__d", "left_semi")
            .select("id")
            .distinct()
            .withColumn("__blocked", F.lit(True))
        )
        joined = scored.join(blocked_hit, "id", "left")
        blocked = F.coalesce(F.col("__blocked"), F.lit(False))
    return joined.select(
        "id",
        *carry,
        "host",
        "kw_score",
        (hostless | (~blocked & kw_pass)).alias("keep"),
    )


def _ngrams_concat(col, max_n: int) -> F.Column:
    """ALL word {1..max_n}-gram occurrences of ``col`` as one array —
    the shared feature unit of :func:`dsir_logratio` and
    :func:`cs533_big_data_data_mining_spark.operators.classify.nb_train`
    (one definition so their oracles can't de-sync)."""
    gs = word_ngrams(col, 1)
    for k in range(2, int(max_n) + 1):
        gs = F.concat(gs, word_ngrams(col, k))
    return gs


def _word_bucket_rolling(col, max_n: int, n_buckets: int) -> F.Column:
    """poly31 feature BUCKETS of all word {1..max_n}-grams as ONE
    ``array<bigint>`` — bit-identical values to mapping
    :func:`_gram_bucket` over ``_ngrams_concat(col, max_n)`` (same
    per-char ``ascii`` codes, same Horner fold, same pmod), computed
    with ONE fold per TOKEN instead of one fold per GRAM OCCURRENCE.

    Derivation: each token folds once into ``(p, w)`` where ``p`` is
    its poly31 value and ``w = 31^len % MOD``; a gram extends its
    (n-1)-prefix hash ``h`` over ``" " + token`` as
    ``h_n = ((h*31 + 32) % MOD * w + p) % MOD`` (32 = ascii space;
    ``(h*31+32) % MOD < 2^31`` and ``w < 2^31`` keep every product
    under 2^62 — the same ANSI-overflow discipline as
    ``FINGERPRINT_MOD`` itself). A word 2-gram used to re-fold ~2x
    its characters plus build the gram string (``concat_ws`` per
    occurrence) just to hash it; at max_n=2 this cuts the interpreted
    fold work ~3x and materializes no gram strings at all (guide
    §4.1). Output order: all 1-gram buckets, then 2-grams, ... — the
    :func:`_ngrams_concat` order; every consumer is an
    order-independent count or DECIMAL sum."""
    from cs533_big_data_data_mining_spark.functions.text import (
        FINGERPRINT_MOD,
        tokenize,
    )

    mod = F.lit(FINGERPRINT_MOD)
    toks = tokenize(col)

    def _tok_fold(tok):
        return F.aggregate(
            F.sequence(F.lit(1), F.length(tok)),
            F.struct(F.lit(0).cast("long").alias("p"), F.lit(1).cast("long").alias("w")),
            lambda acc, i: F.struct(
                F.pmod(acc["p"] * F.lit(31) + F.ascii(F.substring(tok, i, F.lit(1))), mod).alias("p"),
                F.pmod(acc["w"] * F.lit(31), mod).alias("w"),
            ),
        )

    st = F.transform(toks, _tok_fold)
    ln = F.size(toks)
    hs = [F.transform(st, lambda s: s["p"])]
    for n in range(2, int(max_n) + 1):
        m = F.greatest(ln - F.lit(n - 1), F.lit(0))
        hs.append(
            F.zip_with(
                F.slice(hs[-1], 1, m),
                F.slice(st, n, m),
                lambda h, s: F.pmod(
                    F.pmod(h * F.lit(31) + F.lit(32), mod) * s["w"] + s["p"], mod
                ),
            )
        )
    out = None
    for h in hs:
        b = F.transform(h, lambda x: F.pmod(x, F.lit(int(n_buckets))))
        out = b if out is None else F.concat(out, b)
    return F.when(ln >= 1, out).otherwise(F.array().cast("array<bigint>"))


def _gram_bucket(gcol_name: str, hash_buckets: str, n_buckets: int) -> F.Column:
    """gram -> feature bucket, shared by DSIR and the NB classifier.

    ``"poly31"``: the cross-engine fingerprint a DuckDB oracle replays
    exactly (per-character SQL ``aggregate(sequence(...))``);
    ``"xxhash64"``: one JVM-native 64-bit hash per gram — the 100 TB
    route (the ``duplicated_spans(hash_grams=...)`` pattern)."""
    from cs533_big_data_data_mining_spark.functions.text import FINGERPRINT_MOD

    if hash_buckets == "xxhash64":
        return F.pmod(F.xxhash64(F.col(gcol_name)), F.lit(int(n_buckets)))
    if hash_buckets != "poly31":
        raise ValueError("hash_buckets must be 'poly31' or 'xxhash64'")
    fp = F.expr(
        f"aggregate(sequence(1, length({gcol_name})), 0L, "
        f"(acc, i) -> (acc * 31 + ascii(substring({gcol_name}, i, 1))) % {FINGERPRINT_MOD})"
    )
    return F.pmod(fp, F.lit(int(n_buckets)))


def dsir_logratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    target_text_col: str | None = None,
    raw: DataFrame | None = None,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    max_n: int = 2,
    hash_buckets: str = "poly31",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    raw document by how target-like its hashed n-gram profile is, so
    the corpus can be resampled toward a high-quality target domain.

    Features are word {1..max_n}-grams hashed into ``n_buckets`` via
    the cross-engine poly31 fingerprint (mod buckets). Two bucket
    distributions are fit with add-``alpha`` smoothing — ``p`` from
    ``target``, ``q`` from ``raw`` (defaults to ``df``) — and each
    document scores ``logratio = sum_g log(p[h(g)] / q[h(g)])`` over
    its gram OCCURRENCES. Higher = more target-like; feed the result
    to :func:`quantile_filter` / Gumbel top-k for the actual resample.
    Returns ``(id, n_grams, logratio)``; empty/null docs get
    ``n_grams = 0`` and null logratio.

    Determinism: each bucket's log-ratio rounds to 9 dp and per-doc
    sums run as DECIMAL (order-independent, partition-invariant —
    the ``lm_perplexity`` discipline); the final score rounds to 6 dp.
    The two distribution fits run eagerly (two tiny collects); the
    returned frame is fully lazy and owns no cached state.

    ``hash_buckets`` picks the gram->bucket hash: ``"poly31"``
    (default) is the cross-engine fingerprint a DuckDB oracle can
    replay exactly, but evaluates a per-CHARACTER SQL
    ``aggregate(sequence(...))`` over every gram occurrence;
    ``"xxhash64"`` is the 100 TB route — one JVM-native 64-bit hash
    per gram (the ``duplicated_spans(hash_grams=...)`` pattern),
    materially cheaper at scale. The two routes bucket grams
    differently, so individual logratios differ numerically; on any
    corpus whose target/raw separation is real (not a hash accident)
    the induced RANKING of clearly-target-like vs clearly-off-target
    docs agrees — pinned by the ``dsir_route_eq`` driver row and a
    property test.

    Scale shape: the two distribution fits are explode -> map-side-
    combinable groupBys that end at <= n_buckets rows each; their join
    is bucket-sized and the result BROADCASTS, so scoring the corpus
    is explode -> broadcast hash join -> one per-doc aggregate — a
    single shuffle on the doc id, no token-key skew joins at all
    (contrast ``lm_perplexity``); the hot-bucket problem DSIR's
    hashing creates for counts is absorbed by partial aggregation.
    """
    a = float(alpha)
    if a <= 0:
        raise ValueError("alpha must be > 0")
    if n_buckets <= 0:
        raise ValueError("n_buckets must be > 0")
    if hash_buckets not in ("poly31", "xxhash64"):
        raise ValueError("hash_buckets must be 'poly31' or 'xxhash64'")
    r = raw if raw is not None else df
    tcol = target_text_col if target_text_col is not None else text_col

    # CPU-bound per-row gram hashing must fan out on single-file
    # inputs — the shared dedup._spread (no-op at 100 TB)
    from cs533_big_data_data_mining_spark.operators.dedup import _spread

    # poly31 explodes ROLLING bucket ids directly
    # (:func:`_word_bucket_rolling` — bit-identical values, one fold
    # per token instead of per gram occurrence, and no gram strings
    # are ever materialized; guide §4.1); xxhash64 keeps the
    # gram-string route (its hash needs the actual gram bytes)
    def bucket_ids(frame, *keep):
        if hash_buckets == "poly31":
            return frame.select(
                *keep, F.explode(_word_bucket_rolling("__t", max_n, n_buckets)).alias("b")
            )
        return frame.select(
            *keep, F.explode(_ngrams_concat("__t", max_n)).alias("g")
        ).select(*keep, _gram_bucket("g", hash_buckets, n_buckets).alias("b"))

    def bucket_counts(frame, col):
        return (
            bucket_ids(_spread(frame.select(F.col(col).alias("__t"))))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # the two <= n_buckets-row aggregates come to the DRIVER once
    # (tiny by construction) and the merged counts go back out as one
    # Arrow-backed local_df — each corpus is gram-exploded exactly
    # once, the result frame stays fully LAZY (no cache/persist for
    # callers to release), and t_tot/r_tot fall out of the same rows
    from cs533_big_data_data_mining_spark.session import local_df

    tc = {int(row["b"]): int(row["c"]) for row in bucket_counts(target, tcol).collect()}
    rc = {int(row["b"]): int(row["c"]) for row in bucket_counts(r, text_col).collect()}
    t_tot = sum(tc.values())
    r_tot = sum(rc.values())
    B = int(n_buckets)
    merged = [(b, tc.get(b, 0), rc.get(b, 0)) for b in sorted(set(tc) | set(rc))]
    if not merged:
        merged = [(0, 0, 0)]  # degenerate empty corpora: smoothing-only table
    spark = df.sparkSession
    # log((ct + a) / (t_tot + aB)) - log((cr + a) / (r_tot + aB)),
    # computed as Spark expressions (NOT Python round: the 9-dp
    # rounding must be the same HALF_UP both engines apply)
    ratio = F.broadcast(
        local_df(spark, merged, "b long, ct long, cr long").select(
            "b",
            F.round(
                F.log((F.col("ct") + F.lit(a)) / F.lit(float(t_tot) + a * B))
                - F.log((F.col("cr") + F.lit(a)) / F.lit(float(r_tot) + a * B)),
                9,
            ).alias("lr"),
        )
    )

    ex = bucket_ids(
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))), "id"
    )
    scored = ex.join(ratio, "b", "left")
    # a doc bucket absent from BOTH fits never occurs (the doc's own
    # grams are in raw when raw=df); when raw != df it can — score it
    # as the all-smoothing ratio
    lr_missing = math.log((a / (float(t_tot) + a * B)) / (a / (float(r_tot) + a * B)))
    lr = F.coalesce(F.col("lr"), F.round(F.lit(lr_missing), 9))
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(lr.cast("decimal(24,9)")).alias("slr"),
    )
    out = per_doc.select(
        "id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round(F.col("slr").cast("double"), 6).alias("logratio"),
    )
    all_docs = df.select(F.col(id_col).alias("id"))
    return all_docs.join(out, "id", "left").select(
        "id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        "logratio",
    )


def dsir_resample(
    scores: DataFrame,
    k: int,
    id_col: str = "id",
    logratio_col: str = "logratio",
    seed: int = 0,
    driver_k_limit: int = 100_000,
) -> DataFrame:
    """DSIR importance RESAMPLING (Xie et al. 2023 §2) — the step
    that completes :func:`dsir_logratio`: select ``k`` documents
    without replacement with probability proportional to
    ``exp(logratio)`` via the Gumbel top-k trick,
    ``g_key_i = logratio_i + g_i`` with ``g_i`` standard Gumbel.

    RNG-free: ``g_i = -ln(-ln(u_i))`` where ``u_i`` is the
    cross-engine seeded uniform hash of the id (the
    ``shard_rows`` seed-multiplier spelling,
    :func:`_uniform_unit_seeded` — seeds decorrelate by construction,
    so Gumbel selection and downstream shard keys never align), so
    the selected set is
    reproducible across runs, engines, and partitionings — and a
    DuckDB oracle can replay it exactly. ``u`` is clamped to
    ``>= 1e-12`` (a zero hash would send the Gumbel to -inf on both
    engines, but comparisons against -inf are libm-shaped; the clamp
    is one deterministic branch). Docs with NULL ``logratio``
    (empty docs: no grams, hence no importance weight) are never
    selected. The key rounds to 6 dp and ties break by id —
    cross-libm ``ln`` can differ in the last ulp, so both engines
    must compare the same rounded value (the ``dsir_logratio``
    discipline). Returns ``(id, logratio, g_key)`` of the selected
    docs.

    Scale shape — two routes, selected automatically, SAME selected
    set either way (route equivalence pinned by pytest):

    * ``k <= driver_k_limit``: pure-Column key + global top-k — Spark
      plans ``orderBy(desc).limit(k)`` as TakeOrderedAndProject (per-
      partition heap top-k, driver merges #partitions k-row slices),
      NO global sort shuffle, one corpus scan. Right for training-
      subset-sized k.
    * ``k > driver_k_limit``: the #partitions-x-k driver merge is the
      bottleneck, so the cut moves to a THRESHOLD: one approxQuantile
      call returns a rank-guaranteed BRACKET ``[t_lo, t_hi]``
      enclosing the k-th largest ``g_key`` (keys round to 6 dp, so
      the k-th key value is an exact gate), one count fixes the exact
      rank of ``t_hi``, and one per-key histogram of the (err-bound-
      sized) bracket band is collected so the driver reads off the
      exact k-th key — the result is ``filter(g_key > t)`` — fully
      distributed, never driver-merged — plus the ``== t`` tie
      sliver topped up by smallest id (a heap of ``k - count(> t)``
      <= one key's tie count). Always exactly 4 passes over the
      cached keys (count, quantile, rank count, band histogram); if
      the band's distinct-key histogram would exceed the driver cap
      (adversarial key distributions), it falls back to top-k over
      the band and says so in a UserWarning.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    u = _uniform_unit_seeded(id_col, seed)
    gumbel = -F.log(-F.log(F.greatest(u, F.lit(1e-12))))
    key = F.round(F.col(logratio_col) + gumbel, 6)
    keyed = scores.filter(F.col(logratio_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(logratio_col).alias("logratio"),
        key.alias("g_key"),
    )
    if k <= int(driver_k_limit) or k == 0:
        return keyed.orderBy(F.desc("g_key"), F.asc("id")).limit(int(k))

    # big-k route: threshold gate. The search runs on a persisted copy
    # (one scan materialized, then quantile/count jobs read the
    # cache); the RETURNED frame is rebuilt lazily from `scores` with
    # the found literal threshold, so no cache ownership leaks.
    #
    # Round 12: ONE guaranteed round. The old loop re-drew
    # approxQuantile + a count until count(>t) < k <= count(>=t)
    # happened to land — but approxQuantile only bounds RANK error
    # (err*n), so hitting the exact k-th order statistic was a
    # per-round coin flip (measured: up to 8 quantile+count rounds =
    # ~25 driver-serialized jobs at sf0.1; at corpus scale every
    # extra round is a full scan of the keys). Now the quantile call
    # requests BOTH ends of a bracket whose rank guarantees enclose
    # the k-th key, and one exact per-key histogram of the band
    # (~2*err*n rows, 6-dp-rounded keys) hands the driver the exact
    # cut — same t, same result set, fixed pass count (guide §1.2:
    # fewer driver-serialized passes).
    keyed_c = keyed.persist()
    try:
        n = keyed_c.count()
        if k >= n:
            return keyed  # everything is selected — no cut to find
        err = max(1e-7, min(1e-3, k / (20.0 * n)))
        E = int(math.ceil(err * n)) + 1
        # bottom-rank of the k-th LARGEST key is n-k+1; request values
        # at bottom-ranks n-k+1±E so the GK rank guarantee (±err*n)
        # forces t_lo <= y_k <= t_hi
        q_hi = min(1.0, (n - k + 1.0 + E) / n)
        q_lo = max(0.0, (n - k + 1.0 - E) / n)
        t_lo, t_hi = keyed_c.approxQuantile("g_key", [q_lo, q_hi], err)
        if t_lo > t_hi:  # approx artifacts on tiny n — widen, stay correct
            t_lo, t_hi = t_hi, t_lo
        # exact rank of the bracket top: rows strictly above t_hi
        # (<= k-1 by the enclosure guarantee)
        c_gt_hi = int(keyed_c.filter(F.col("g_key") > F.lit(t_hi)).count())
        # exact per-key histogram of the band [t_lo, t_hi] — the k-th
        # key lives here; TakeOrdered caps the driver collect
        _BAND_CAP = 200_000
        hist = (
            keyed_c.filter(
                (F.col("g_key") >= F.lit(t_lo)) & (F.col("g_key") <= F.lit(t_hi))
            )
            .groupBy("g_key")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("g_key"))
            .limit(_BAND_CAP)
            .collect()
        )
        t = None
        c_gt = c_eq = 0
        acc = c_gt_hi
        for row in hist:  # descending g_key
            cnt = int(row["c"])
            if acc + cnt >= k:
                t, c_gt, c_eq = float(row["g_key"]), acc, cnt
                break
            acc += cnt
        if t is None:
            # only reachable when the band histogram was truncated at
            # _BAND_CAP distinct keys (adversarial distributions) —
            # exact top-k over the band, driver merge ~band-sized
            import warnings

            warnings.warn(
                f"dsir_resample big-k bracket band exceeded {_BAND_CAP} "
                f"distinct keys; falling back to top-{k} over the band "
                f"g_key >= {t_lo!r} (exact result, driver merge ~band-sized)",
                stacklevel=2,
            )
            return (
                keyed.filter(F.col("g_key") >= F.lit(t_lo))
                .orderBy(F.desc("g_key"), F.asc("id"))
                .limit(int(k))
            )
        if c_gt + c_eq == k:
            # the inclusive cut IS the top-k — no tie top-up needed
            return keyed.filter(F.col("g_key") >= F.lit(t))
        # exact cut: everything above t, plus the == t ties by
        # smallest id (the (g_key desc, id asc) global order) — the
        # only driver-merged piece is the tie sliver's heap
        above = keyed.filter(F.col("g_key") > F.lit(t))
        ties = (
            keyed.filter(F.col("g_key") == F.lit(t))
            .orderBy(F.asc("id"))
            .limit(int(k - c_gt))
        )
        return above.unionByName(ties)
    finally:
        keyed_c.unpersist()


def mix_to_budget(
    df: DataFrame,
    id_col: str,
    source_col: str,
    tokens_col: str,
    budget_tokens: int,
    weights: dict[str, float] | None = None,
    max_epochs: int = 100,
) -> DataFrame:
    """Epoch-repeat source mixing to a token budget — the public
    LLaMA/DoReMi-style recipe: given target mixture ``weights`` and a
    total training ``budget_tokens``, source ``s`` (holding ``T_s``
    tokens) must contribute ``budget * w_s`` tokens, i.e. be repeated
    ``r_s = budget * w_s / T_s`` times — more than one epoch for
    small upweighted sources, a fraction of one for big ones.

    Every document is emitted ``floor(r_s)`` times, plus one more iff
    its cross-engine uniform hash (:func:`_uniform_unit`, the
    ``sample_sources`` gate) falls below ``frac(r_s)`` — so the
    fractional epoch is a deterministic, reproducible subset, and
    re-running the mix never changes which copies exist. Returns
    ``(id, source, epoch)`` with ``epoch`` in ``[0, ceil(r_s))``;
    downstream shuffling/packing treats (id, epoch) as the row key.
    ``weights`` defaults to uniform over the sources present (NULL
    source rows are excluded); weights are normalized; ``r_s`` is
    capped at ``max_epochs`` (a runaway-repeat guard: a tiny source
    with a big weight cannot explode the output).

    Scale shape: ONE tiny per-source token-sum groupBy (map-side
    combinable, #sources rows to the driver — the
    ``temperature_fractions`` pattern), then a broadcast join of the
    #sources repeat table and a pure-Column ``explode(sequence())`` —
    no shuffle of the corpus itself, output partitioning inherits the
    scan.
    """
    from cs533_big_data_data_mining_spark.session import local_df

    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    # empty results carry the NON-empty path's schema (id/source types
    # come from the input, not a hardcoded long/string — a string-id
    # corpus must union/join cleanly with a prior mix output)
    empty = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.lit(0).cast("int").alias("epoch"),
    ).limit(0)
    totals = {
        r["s"]: int(r["t"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(F.col(tokens_col)).alias("t"))
        .collect()
        if r["s"] is not None and r["t"] is not None and int(r["t"]) > 0
    }
    if not totals:
        return empty
    if weights is None:
        w = {s: 1.0 for s in totals}
    else:
        w = {s: float(f) for s, f in weights.items() if s in totals and f > 0}
        if not w:
            return empty
    z = sum(w.values())
    rows = []
    for s, ws in sorted(w.items()):
        r_s = min(float(max_epochs), float(budget_tokens) * (ws / z) / totals[s])
        n_full = int(math.floor(r_s))
        rows.append((s, n_full, round(r_s - n_full, 12)))
    rep = F.broadcast(local_df(df.sparkSession, rows, "source string, n_full int, frac double"))

    # the uniform hash references id_col BY NAME — evaluate it before
    # the alias to "id" (it resolves against df's schema, not base's)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        _uniform_unit(id_col).alias("__u"),
    ).join(rep, "source")
    n_eps = F.col("n_full") + F.when(F.col("__u") < F.col("frac"), F.lit(1)).otherwise(F.lit(0))
    eps = F.when(n_eps >= 1, F.sequence(F.lit(0), n_eps - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return base.select("id", "source", F.explode(eps).alias("epoch"))


def temperature_weights(
    df: DataFrame,
    source_col: str,
    temperature: float,
) -> dict[str, float]:
    """Target mixture shares ``p_s^(1/T) / sum_r p_r^(1/T)`` (the
    mC4/XLM-R recipe) as a weights dict for :func:`mix_to_budget` —
    the UPSAMPLING route: epoch repeats can realize a temperature
    mixture exactly, where :func:`temperature_fractions` (the
    :func:`sample_sources` route) can only realize it downward by
    cutting the big sources. Same single #sources-row count groupBy.
    """
    t = float(temperature)
    if t <= 0:
        raise ValueError("temperature must be > 0")
    counts = {
        r["s"]: int(r["n"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None
    }
    total = sum(counts.values())
    if not total:
        return {}
    raw = {s: (n / total) ** (1.0 / t) for s, n in counts.items()}
    z = sum(raw.values())
    return {s: raw[s] / z for s in raw}


def compression_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    level: int = 6,
    batch_rows: int = 2048,
) -> DataFrame:
    """Per-document zlib compressibility — ``(id, n_bytes,
    n_compressed, ratio)`` with ``ratio = n_compressed / n_bytes``
    rounded to 6 dp.

    The cheap repetition/boilerplate signal several public pipelines
    gate on (templated or spammy pages compress far below natural
    prose, which lands ~0.3-0.7 at DEFLATE level 6; machine-generated
    keyword stuffing lands under ~0.2). Consumers typically gate with
    :func:`quantile_filter` or a fixed band rather than a hard
    universal threshold — absolute ratios drift with document length
    (DEFLATE's 32 KB window) and alphabet.

    Null text -> all three metrics null; empty text -> ``n_bytes`` 0
    with null ratio (no denominator). UTF-8 byte counts, not chars.

    Scale shape: Arrow-batched ``mapInPandas``, ZERO shuffle, no
    distributed state — text crosses JVM->Python once per batch and
    zlib runs at C speed (~100 MB/s/core); ``batch_rows`` bounds the
    per-worker slice. This is one of the few operators where Python
    is the right call: DEFLATE is not expressible as Column algebra,
    and the per-row work (compress + two lengths) amortizes the Arrow
    transfer. Determinism: zlib output LENGTH at a fixed level is
    stable for a given input on a given zlib build; oracle rows
    therefore check construction-derived CLASS flags with >3x margins
    (and exact n_bytes), never raw compressed sizes.
    """
    import zlib  # noqa: PLC0415 — stdlib, keep module import light
    from collections.abc import Iterator  # noqa: PLC0415

    if not 0 <= level <= 9:
        raise ValueError(f"zlib level must be in [0, 9] (got {level})")

    from pyspark.sql import types as T  # noqa: PLC0415

    # preserve the caller's id TYPE (every sibling verdict operator
    # does): a cast to long would silently null string/UUID ids and
    # the join back to the corpus would match nothing. mapInPandas
    # needs a declared schema, so it is built from the input field.
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
        ]
    )
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo : lo + batch_rows]
                nb, nc, ratio = [], [], []
                for t in chunk["__t"]:
                    if t is None:
                        nb.append(None), nc.append(None), ratio.append(None)
                        continue
                    raw = t.encode("utf-8")
                    comp = len(zlib.compress(raw, level))
                    nb.append(len(raw))
                    nc.append(comp)
                    ratio.append(round(comp / len(raw), 6) if raw else None)
                yield pd.DataFrame(
                    {
                        "id": chunk["id"].to_numpy(),
                        "n_bytes": pd.array(nb, dtype="Int64"),
                        "n_compressed": pd.array(nc, dtype="Int64"),
                        "ratio": pd.array(ratio, dtype="Float64"),
                    }
                )

    return src.mapInPandas(kernel, schema=out_schema)
