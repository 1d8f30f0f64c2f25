"""The production curation presets, each written once, and the one
runner that executes them.

A preset is an ordered list of :class:`Stage` s: a name, a
frame -> frame function, and a flag marking the stage's output as a
materialization point. :func:`refinedweb`, :func:`fineweb` and
:func:`dolma` build the three published stage orders from their
parameters; the ``refinedweb`` / ``fineweb`` / ``dolma`` CLI commands
and the ``*_pipeline`` driver rows run the same lists, so a stage
order or a stage spelling exists in exactly one place.

:class:`StageRunner` is a context manager and the only code here that
materializes: ``localCheckpoint()`` at every marked boundary, or a
reliable ``checkpoint()`` when a checkpoint directory is given. Each
stage's survivor count is an ``Observation`` placed below that
stage's materialization, so counting adds no Spark job. On exit —
normal or by exception — the runner releases every cache and
checkpoint block the run created (``session.SessionScope``): the
frames stage functions appended to the run's ``caches`` list (the
operators' ``caches=`` convention, e.g. ``lm_perplexity``'s
caller-owned result) and whatever else the run left in the session.

Gates use the ``carry=`` form wherever the operator has it: the
verdict frame passes the whole payload through, so survivors are a
plain ``filter("keep")`` instead of a survivor-id semi-join back to
the input (one evaluation of the upstream stage instead of two).
Stages that rewrite the text (C4 line filter, boilerplate and span
removal, paragraph dedup) join the new text back on the id.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.text import lang_id, redact_pii
from cs533_big_data_data_mining_spark.operators.classify import lang_id_nb, langid_train
from cs533_big_data_data_mining_spark.operators.connected_components import (
    connected_components,
)
from cs533_big_data_data_mining_spark.operators.decontaminate import (
    decontaminate,
    decontaminate_bloom,
)
from cs533_big_data_data_mining_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_bipartite_bloom,
    minhash_dedup_pairs,
    paragraph_dedup,
    paragraph_dedup_bipartite_bloom,
    remove_duplicated_spans,
    url_dedup,
    url_dedup_bipartite_bloom,
)
from cs533_big_data_data_mining_spark.operators.quality import (
    assign_split,
    c4_filters,
    dsir_logratio,
    dsir_resample,
    fineweb_filters,
    gopher_repetition,
    gopher_rules,
    lm_perplexity,
    quantile_filter,
    remove_boilerplate_lines,
    url_filter,
)
from cs533_big_data_data_mining_spark.session import SessionScope, observation_value

#: The CLI's default ``--splits`` weights.
SPLITS = {"train": 0.875, "val": 0.0625, "test": 0.0625}


@dataclass(frozen=True)
class Stage:
    """One pipeline step. ``fn(frame, caches)`` returns the survivors
    and appends every cached frame it owns to ``caches``;
    ``materialize`` checkpoints the output: set it where the next
    stage reads its input more than once, or where the fused plan
    would otherwise grow past the JVM's codegen string limit."""

    name: str
    fn: Callable[[DataFrame, list], DataFrame]
    materialize: bool = False


class StageRunner:
    """Run stage lists; release everything the run created on exit.

    ``log`` (e.g. ``print``) receives one progress line per stage:
    materialized stages log when their checkpoint lands, the rest on
    :meth:`log_counts` after the caller's terminal action."""

    def __init__(self, spark, checkpoint_dir: str | None = None, log=None):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.log = log
        self.caches: list[DataFrame] = []
        self._obs: dict[str, Observation] = {}
        self._logged: set[str] = set()

    def __enter__(self) -> StageRunner:
        if self.checkpoint_dir:
            self.spark.sparkContext.setCheckpointDir(self.checkpoint_dir)
        self._t0 = time.time()
        self._scope = SessionScope(self.spark)
        return self

    def __exit__(self, *exc) -> bool:
        # the frames in ``caches``, checkpoint blocks (the runner's and
        # operator-internal ones) and registrations an operator made
        # internally and never handed out
        self._scope.release()
        self.caches.clear()
        return False

    def run(self, frame: DataFrame, stages: list[Stage]) -> DataFrame:
        """The lazy survivors of ``stages`` applied to ``frame`` (its
        row count is observed as stage ``input``)."""
        cur = self._observe("input", frame)
        for st in stages:
            cur = self.step(cur, st)
        return cur

    def step(self, frame: DataFrame, stage: Stage) -> DataFrame:
        """The survivors of one stage, materialized if it is marked."""
        cur = self._observe(stage.name, stage.fn(frame, self.caches))
        if stage.materialize:
            cur = (
                cur.checkpoint(eager=True)
                if self.checkpoint_dir
                else cur.localCheckpoint(eager=True)
            )
            self._log(stage.name, f" ({time.time() - self._t0:.1f}s)")
        return cur

    def _observe(self, name: str, frame: DataFrame) -> DataFrame:
        obs = Observation(f"stage{len(self._obs)}_{name}")
        self._obs[name] = obs
        return frame.observe(obs, F.count(F.lit(1)).alias("n"))

    def count(self, name: str) -> int | None:
        """Survivors of stage ``name``; None when the stage has not run
        yet or AQE pruned its branch as empty at runtime."""
        n = observation_value(self._obs[name], "n")
        return None if n is None else int(n)

    def log_counts(self) -> None:
        """Log every stage count not logged yet (call after the
        terminal action, which fires the non-materialized ones)."""
        for name in self._obs:
            if name not in self._logged:
                self._log(name)

    def _log(self, name: str, suffix: str = "") -> None:
        if self.log is None:
            return
        n = self.count(name)
        label = f"{n} docs" if n is not None else "n/a (stage pruned at runtime)"
        self.log(f"{name}: {label}{suffix}")
        self._logged.add(name)


# --------------------------------------------------------- shared stages


def _like(out: DataFrame, frame: DataFrame, id_col: str) -> DataFrame:
    """A carry-form operator output in ``frame``'s columns and order."""
    return out.withColumnRenamed("id", id_col).select(*frame.columns)


def _kept(verdict: DataFrame, frame: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``frame`` a carry-form verdict keeps."""
    return _like(verdict.filter("keep"), frame, id_col)


def _payload(frame: DataFrame, id_col: str) -> tuple[str, ...]:
    return tuple(c for c in frame.columns if c != id_col)


def _with_text(frame: DataFrame, fixed: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``frame`` with its text replaced by ``fixed``'s ``(id, clean)``
    rows; ids missing from ``fixed`` drop."""
    new = fixed.select(F.col("id").alias(id_col), F.col("clean").alias(text_col))
    return frame.drop(text_col).join(new, id_col).select(*frame.columns)


def _gate(name, op, id_col, col, materialize=False, **params) -> Stage:
    """Stage keeping the rows a carry-form verdict operator
    ``op(frame, id_col, col, carry=..., **params)`` marks ``keep``."""

    def fn(df, caches):
        return _kept(op(df, id_col, col, carry=_payload(df, id_col), **params), df, id_col)

    return Stage(name, fn, materialize)


def _url_gate(id_col, url_col, blocked_domains, keyword_weights, max_keyword_score) -> Stage:
    return _gate(
        "url_filter", url_filter, id_col, url_col, blocked_domains=blocked_domains,
        keyword_weights=keyword_weights, max_keyword_score=max_keyword_score,
    )


def _lang_gate(text_col, lang, route="marker", seed_fraction=1.0) -> Stage:
    """The zero-shuffle marker heuristic, or (``route="nb"``) the
    self-labeled char-gram NB fit on a ``seed_fraction`` sample of the
    stage input. Both are pure per-row filters."""
    if route != "nb":
        return Stage("lang_id", lambda df, caches: df.filter(lang_id(text_col) == lang))

    def fn(df, caches):
        seed = df.sample(fraction=seed_fraction, seed=0) if seed_fraction < 1.0 else df
        return df.filter(lang_id_nb(langid_train(seed, text_col), text_col) == lang)

    return Stage("lang_id_nb", fn)


def _gopher(id_col, text_col, min_words, min_stopword_hits, materialize=False) -> Stage:
    return _gate(
        "gopher", gopher_rules, id_col, text_col, materialize,
        min_words=min_words, min_stopword_hits=min_stopword_hits,
    )


def _c4(id_col, text_col, name="c4", line_terminal_punct=True, materialize=False) -> Stage:
    """C4 rules; survivors continue with the line-filtered text."""

    def fn(df, caches):
        v = c4_filters(df, id_col, text_col, line_terminal_punct=line_terminal_punct)
        return _with_text(df, v.filter("keep"), id_col, text_col)

    return Stage(name, fn, materialize)


def boilerplate_stage(id_col, text_col, max_line_df) -> Stage:
    """Drop lines found in more than ``max_line_df`` documents."""

    def fn(df, caches):
        cleaned = remove_boilerplate_lines(df, id_col, text_col, max_line_df)
        return _with_text(df, cleaned, id_col, text_col)

    return Stage("boilerplate", fn, materialize=True)


def _exact(id_col, text_col) -> Stage:
    return Stage("exact_dedup", lambda df, caches: exact_dedup(df, id_col, text_col), True)


def _minhash(id_col, text_col, ngram, jaccard, max_bucket_size) -> Stage:
    """Verified MinHash pairs -> connected components -> keep the
    min id of every near-dup group."""

    def fn(df, caches):
        pairs = minhash_dedup_pairs(
            df, id_col, text_col, n=ngram, threshold=jaccard, max_bucket_size=max_bucket_size
        )
        caches.append(pairs)  # materialized and caller-owned (caches=None contract)
        comp = connected_components(pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        drop = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias(id_col))
        return df.join(drop, id_col, "left_anti")

    return Stage("minhash_dedup", fn, materialize=True)


def _redact(text_col) -> Stage:
    return Stage("redact_pii", lambda df, caches: df.withColumn(text_col, redact_pii(F.col(text_col))))


def _semi(frame: DataFrame, flags: DataFrame, id_col: str) -> DataFrame:
    return frame.join(flags.filter("keep").select(F.col("id").alias(id_col)), id_col, "left_semi")


# --------------------------------------------------------------- presets


def refinedweb(
    id_col="doc_id",
    text_col="text",
    *,
    url_col=None,
    blocked_domains=None,
    url_kw=None,
    url_kw_max=1.0,
    c4=False,
    skip_gopher=False,
    min_words=50,
    min_stopword_hits=2,
    repetition=False,
    fineweb=False,
    max_line_df=None,
    keep_ppl=1.0,
    ngram=3,
    jaccard=0.8,
    max_bucket_size=None,
    spans_k=0,
    min_span_tokens=None,
    bench=None,
    decontam_ngram=5,
    target=None,
    select_k=None,
    dsir_buckets=4096,
    dsir_alpha=1.0,
    dsir_hash="xxhash64",
    seed=0,
    splits=SPLITS,
) -> list[Stage]:
    """RefinedWeb stage order (Penedo 2023, with the Rae 2021 / Lee
    2022 / Xie 2023 stages at their published positions): URL filter
    -> URL dedup -> [C4] -> Gopher rules -> [repetition] -> [FineWeb
    filters] -> [boilerplate] -> perplexity quantile gate -> exact
    dedup -> MinHash dedup -> [span removal] -> [decontamination]
    -> [DSIR select] -> split. ``bench`` and ``target`` are frames.
    The DSIR stage adds ``logratio`` and ``g_key``; the split stage
    adds ``split``."""
    idc, txc = id_col, text_col
    stages = []
    if url_col and (blocked_domains or url_kw):
        stages.append(_url_gate(idc, url_col, blocked_domains, url_kw, url_kw_max))
    if url_col:
        stages.append(Stage(
            "url_dedup",
            lambda df, caches: _like(url_dedup(df, idc, url_col, carry=_payload(df, idc)), df, idc),
        ))
    if c4:
        stages.append(_c4(idc, txc, materialize=True))
    if not skip_gopher:
        stages.append(_gopher(idc, txc, min_words, min_stopword_hits))
    if repetition:
        stages.append(_gate("repetition", gopher_repetition, idc, txc))
    if fineweb:
        stages.append(_gate("fineweb", fineweb_filters, idc, txc))
    if max_line_df is not None:
        stages.append(boilerplate_stage(idc, txc, max_line_df))
    if keep_ppl < 1.0:
        def ppl_gate(df, caches):
            ppl = lm_perplexity(df, id_col=idc, text_col=txc)
            caches.append(ppl)  # persisted by the operator, caller-owned
            scored = df.join(ppl.select(F.col("id").alias(idc), "ppl"), idc)
            neg = scored.withColumn("__negppl", -F.col("ppl"))
            return quantile_filter(neg, "__negppl", keep_ppl).drop("__negppl", "ppl")

        # exact dedup reads the gate's output twice
        stages.append(Stage("ppl_gate", ppl_gate, materialize=True))
    stages.append(_exact(idc, txc))
    if jaccard > 0:
        stages.append(_minhash(idc, txc, ngram, jaccard, max_bucket_size))
    if spans_k > 0:
        stages.append(Stage(
            "span_removal",
            lambda df, caches: _with_text(df, remove_duplicated_spans(
                df, id_col=idc, text_col=txc, k=spans_k, min_span_tokens=min_span_tokens
            ), idc, txc),
            materialize=True,
        ))
    if bench is not None:
        stages.append(Stage(
            "decontaminate",
            lambda df, caches: _semi(df, decontaminate(df, bench, idc, txc, n=decontam_ngram), idc),
            materialize=True,
        ))
    if target is not None:
        def dsir_select(df, caches):
            scores = dsir_logratio(
                df, idc, txc, target, target_text_col=txc,
                n_buckets=dsir_buckets, alpha=dsir_alpha, hash_buckets=dsir_hash,
            )
            sel = dsir_resample(scores, select_k, seed=seed)
            return df.join(sel.select(F.col("id").alias(idc), "logratio", "g_key"), idc)

        stages.append(Stage("dsir_select", dsir_select))
    if splits:
        stages.append(Stage(
            "split",
            lambda df, caches: df.join(
                assign_split(df, idc, weights=splits).select(F.col("id").alias(idc), "split"), idc
            ),
        ))
    return stages


def fineweb(
    id_col="doc_id",
    text_col="text",
    *,
    url_col=None,
    blocked_domains=None,
    url_kw=None,
    url_kw_max=1.0,
    lang="en",
    langid_route="marker",
    langid_seed_fraction=1.0,
    min_words=50,
    min_stopword_hits=2,
    skip_repetition=False,
    skip_gopher=False,
    skip_c4=False,
    skip_custom=False,
    no_redact=False,
    ngram=3,
    jaccard=0.8,
    max_bucket_size=None,
) -> list[Stage]:
    """FineWeb stage order (Penedo 2024 §3): URL filter -> language ID
    -> Gopher repetition -> Gopher rules -> MinHash dedup -> C4 rules
    minus terminal_punct (§3.4) -> custom filters (§3.6) -> PII
    redaction."""
    idc, txc = id_col, text_col
    stages = []
    if url_col and (blocked_domains or url_kw):
        stages.append(_url_gate(idc, url_col, blocked_domains, url_kw, url_kw_max))
    if lang:
        stages.append(_lang_gate(txc, lang, langid_route, langid_seed_fraction))
    if not skip_repetition:
        stages.append(_gate("repetition", gopher_repetition, idc, txc, materialize=True))
    if not skip_gopher:
        # MinHash dedup reads its input twice
        stages.append(_gopher(idc, txc, min_words, min_stopword_hits, materialize=jaccard > 0))
    if jaccard > 0:
        stages.append(_minhash(idc, txc, ngram, jaccard, max_bucket_size))
    if not skip_c4:
        stages.append(_c4(idc, txc, name="c4_minus_terminal_punct", line_terminal_punct=False))
    if not skip_custom:
        stages.append(_gate("fineweb_custom", fineweb_filters, idc, txc))
    if not no_redact:
        stages.append(_redact(txc))
    return stages


def dolma(
    id_col="doc_id",
    text_col="text",
    *,
    history=None,
    history_text_col=None,
    url_col=None,
    blocked_domains=None,
    url_kw=None,
    url_kw_max=1.0,
    lang="en",
    langid_route="marker",
    langid_seed_fraction=1.0,
    min_words=50,
    min_stopword_hits=2,
    skip_gopher=False,
    skip_c4=False,
    no_redact=False,
    skip_url_dedup=False,
    skip_doc_dedup=False,
    skip_paragraph_dedup=False,
    normalize_urls=True,
    fpp=0.01,
    no_verify=False,
    keep_emptied=False,
    bench=None,
    decontam_ngram=5,
) -> list[Stage]:
    """Dolma stage order (Soldaini 2024 §2): URL filter -> language ID
    -> Gopher rules -> C4 rules minus terminal_punct -> PII masking
    (before dedup) -> URL dedup -> document dedup -> paragraph dedup
    -> [decontamination]. With a ``history`` frame the dedup ladder
    runs incrementally against it through the Bloom routes
    (``no_verify`` = Dolma's unverified trade); without it, within
    the pool. The paragraph stage adds ``n_paras`` / ``n_kept`` and
    drops documents left empty unless ``keep_emptied``."""
    idc, txc = id_col, text_col
    hist_txc = history_text_col or txc
    verify = not no_verify
    stages = []
    if url_col and (blocked_domains or url_kw):
        stages.append(_url_gate(idc, url_col, blocked_domains, url_kw, url_kw_max))
    if lang:
        stages.append(_lang_gate(txc, lang, langid_route, langid_seed_fraction))
    if not skip_gopher:
        # the C4 stage joins its clean text back onto this frame
        stages.append(_gopher(idc, txc, min_words, min_stopword_hits, materialize=True))
    if not skip_c4:
        stages.append(_c4(idc, txc, name="c4_minus_terminal_punct", line_terminal_punct=False))
    if not no_redact:
        stages.append(_redact(txc))
    if url_col and not skip_url_dedup:
        def url_stage(df, caches):
            if history is not None and url_col in history.columns:
                # URLs are deduped against the admitted corpus too
                ud = url_dedup_bipartite_bloom(df, history, idc, url_col, fpp=fpp, exact=verify)
                return df.join(ud.select(F.col("id").alias(idc)), idc, "left_semi")
            ud = url_dedup(df, idc, url_col, normalize=normalize_urls, carry=_payload(df, idc))
            return _like(ud, df, idc)

        stages.append(Stage("url_dedup", url_stage))
    if not skip_doc_dedup:
        def doc_stage(df, caches):
            if history is None:
                return exact_dedup(df, idc, txc)
            return exact_dedup_bipartite_bloom(
                df, history, idc, txc, history_content_col=hist_txc, fpp=fpp, exact=verify
            )

        # the paragraph stage reads its input twice
        stages.append(Stage("doc_dedup", doc_stage, materialize=True))
    if not skip_paragraph_dedup:
        def paragraph_stage(df, caches):
            if history is None:
                out = paragraph_dedup(df, idc, txc, mode="keep_first")
            else:
                hist = history.withColumnRenamed(hist_txc, txc) if hist_txc != txc else history
                out = paragraph_dedup_bipartite_bloom(hist, df, idc, txc, fpp=fpp, exact=verify)
            if not keep_emptied:
                out = out.filter(F.col("clean").isNotNull() & (F.col("clean") != ""))
            new = out.select(
                F.col("id").alias(idc), F.col("clean").alias(txc), "n_paras", "n_kept"
            )
            return df.drop(txc).join(new, idc)

        stages.append(Stage("paragraph_dedup", paragraph_stage, materialize=True))
    if bench is not None:
        stages.append(Stage(
            "decontaminate",
            lambda df, caches: _semi(
                df, decontaminate_bloom(df, bench, idc, txc, n=decontam_ngram), idc
            ),
            materialize=True,
        ))
    return stages
