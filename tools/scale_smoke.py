"""Scale smokes: the engine's operators and curation presets at 10^5 to
10^7 rows, each checked against construction facts of its planted input.

    python tools/scale_smoke.py

runs every smoke in :data:`SMOKES` once, in one session, and writes
``BENCH_local_smoke.json`` at the repo root (the bench record's shape:
per-key seconds in ``queries``, per-key errors in ``errors``). A smoke
is ``fn(spark) -> summary``; it raises on a failed assertion. The loop
(:func:`run`) owns the timing, the error capture and the release of
whatever a smoke left in the session, so one failing smoke neither
loses the others' readings nor leaks into them.

The three preset smokes run the stage lists of
``operators.pipelines.refinedweb`` / ``fineweb`` / ``dolma`` (the
lists the CLIs and the ``*_pipeline`` driver rows run) one stage at a
time through one ``StageRunner``, so each construction-fact check reads
the frame of the stage it checks.

``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_LOCAL_DIR`` size the
session as for the bench; the 3M-point DBSCAN and the 310k-doc
curation smokes want several GB of driver heap.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import Canary, _entry_module  # noqa: E402
from cs533_big_data_data_mining_spark.session import SessionScope, get_spark  # noqa: E402

OUT = os.path.join(REPO, "BENCH_local_smoke.json")
SMOKES: dict = {}


def smoke(fn):
    SMOKES[fn.__name__] = fn
    return fn


def _hash_words(first: int, last: int, key: str = "doc_id", vocab: int = 99991):
    """Words ``first..last`` of a row: base36 hashes of column ``key``."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(first), F.lit(last)),
            lambda j: F.conv(F.pmod(F.xxhash64(F.col(key), j), F.lit(vocab)).cast("string"), 10, 36),
        ),
    )


@smoke
def pack_scale3m(spark):
    # distributed prefix-sum at 3M docs: the range-partitioned packing
    # path (per-partition windows + driver offset sums) above any
    # single-partition-window temptation; invariants pin the exact
    # global cumsum
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences

    nd = 3_000_000
    docs3m = spark.range(nd).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(100)) + 1).alias("n"),
    )
    packed = pack_sequences(docs3m, "doc_id", 2048, count_expr=F.col("n"))
    agg = packed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("total"),
        F.max("bin_end").alias("last_bin"),
    ).head()
    expect_total = docs3m.agg(F.sum("n")).head()[0]
    assert agg["rows"] == nd and agg["total"] == expect_total, f"pack smoke wrong: {agg}"
    assert agg["last_bin"] == (expect_total - 1) // 2048
    return f"total {agg['total']}"


@smoke
def curate_scale310k(spark):
    # full curation pipeline at 310k docs: 300k unique + 10k planted
    # NEAR duplicates (one word mutated, J ~ 0.85 > 0.8). The PPJoin
    # prefix join + CC + min-id anti-join must remove EXACTLY the 10k
    # mutated docs — exercises the quadratic-risk near-dup stage at
    # volume, not just exact dedup.
    from cs533_big_data_data_mining_spark.operators.curate import curate_documents

    ncd, ncdup = 300_000, 10_000

    def _w(j):
        return F.conv(F.pmod(F.xxhash64(F.col("base_id"), j), F.lit(5000)).cast("string"), 10, 36)

    _text = F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(40)), _w))
    _text_mut = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda j: F.when(j == 20, F.lit("zzmutzz")).otherwise(_w(j)),
        ),
    )
    basec = spark.range(ncd).select("id", F.col("id").alias("base_id")).select(
        F.col("id").alias("doc_id"), _text.alias("text")
    )
    dupsc = spark.range(ncdup).select(
        (F.col("id") + ncd).alias("id"), F.col("id").alias("base_id")
    ).select(F.col("id").alias("doc_id"), _text_mut.alias("text"))
    n_surv = curate_documents(basec.unionByName(dupsc), jaccard_threshold=0.8).count()
    assert n_surv == ncd, f"curate smoke: survivors {n_surv} != {ncd}"
    return f"{ncdup} planted near-dups removed"


@smoke
def bloom_dedup_scale1m(spark):
    # Dolma Bloom dedup route at 1M new vs 1M history docs with 100k
    # planted exact history duplicates (id % 10 == 0 copies history doc
    # id/10). exact=True must keep EXACTLY the 900k non-duplicates
    # (false positives verified away); exact=False (the no-join Dolma
    # trade at fpp=0.01) must still drop every planted duplicate (no
    # false negatives) and lose at most a few fpp of the genuinely-new
    # docs.
    from cs533_big_data_data_mining_spark.operators.dedup import exact_dedup_bipartite_bloom

    nbl, dup_mod = 1_000_000, 10

    def _bloom_ht(c):
        return F.concat(
            F.lit("hist doc "), c.cast("string"), F.lit(" "),
            F.conv(F.pmod(F.xxhash64(c), F.lit(10**9)).cast("string"), 10, 36),
        )

    histb = spark.range(nbl).select(
        (F.col("id") + 10_000_000).alias("doc_id"), _bloom_ht(F.col("id")).alias("text")
    )
    newb = spark.range(nbl).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % dup_mod == 0, _bloom_ht((F.col("id") / dup_mod).cast("long")))
        .otherwise(
            F.concat(
                F.lit("new doc "), F.col("id").cast("string"), F.lit(" "),
                F.conv(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10**9)).cast("string"), 10, 36),
            )
        )
        .alias("text"),
    )
    expect_surv = nbl - nbl // dup_mod
    n_exact = exact_dedup_bipartite_bloom(newb, histb, "doc_id", "text").count()
    assert n_exact == expect_surv, f"bloom exact route: {n_exact} != {expect_surv}"
    loose = exact_dedup_bipartite_bloom(newb, histb, "doc_id", "text", fpp=0.01, exact=False)
    agg = loose.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("doc_id") % dup_mod == 0).cast("long")).alias("dup_survivors"),
    ).head()
    assert agg["dup_survivors"] == 0, f"bloom false negative?! {agg}"
    lost = expect_surv - agg["n"]
    assert 0 <= lost <= int(expect_surv * 0.05), f"bloom fp loss out of band: {lost}"
    return f"exact 900k kept; loose lost {lost} to fp"


# 600k random 16-dim vectors + 1000 planted exact duplicates of the
# first 1000 (ids ne..ne+999): the LSH and SemDeDup smokes' input
NE, DIMS = 600_000, 16


def _vec():
    return F.array(
        *[
            ((F.pmod(F.xxhash64(F.col("base_id"), F.lit(j)), F.lit(2001)) - 1000).cast("double") / 1000.0)
            for j in range(DIMS)
        ]
    )


def _vectors(spark, n, id_off, base_off):
    """``n`` rows ``(id, embedding)``: ids from ``id_off``, vectors of
    base ids from ``base_off``."""
    return spark.range(n).select(
        (F.col("id") + id_off).alias("id"), (F.col("id") + base_off).alias("base_id")
    ).select("id", _vec().alias("embedding"))


def _planted_vectors(spark):
    return _vectors(spark, NE, 0, 0), _vectors(spark, 1000, NE, 0)


@smoke
def lsh_scale600k(spark):
    # LSH auto-route above its documented ~0.58M-vector gate. Identical
    # vectors share every band key, so ALL planted pairs must surface
    # (candidates exact-verified => precision 1); occupancy-adaptive r
    # keeps candidate counts ~O(N*bands) where a fixed r=8 would mean
    # ~10^10 pairs per band.
    import warnings

    from cs533_big_data_data_mining_spark.operators.similarity import embedding_neardup_pairs

    base6, dups6 = _planted_vectors(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the expected auto-route warning
        pairs6 = embedding_neardup_pairs(
            base6.unionByName(dups6), 0.999, id_col="id", vec_col="embedding"
        )
        planted = pairs6.filter(F.col("b") - F.col("a") == NE).count()
    assert planted == 1000, f"lsh smoke: planted pairs found {planted} != 1000"
    return "all 1000 planted pairs found"


def _semdedup_probes(spark, probes):
    # SemDeDup at the 600k+1000 construction, C=64 clusters: identical
    # vectors co-cluster (same argmax), so exactly the 1000 planted
    # duplicates must disappear and every original survive. The
    # cluster partition replaces the global 147-block gram (~10.8k
    # block pairs) with ~64 cluster-local grams (cluster ~9.4k rows ->
    # ~3 blocks -> ~6 pairs each), the ~N^2/C work cut that makes the
    # method viable at corpus scale. probes in {2, 4} measure the
    # pair-generation fan-out (recall on the plants stays exact by
    # definition): SCALE.md's multi-probe cost table.
    from cs533_big_data_data_mining_spark.operators.similarity import semdedup

    base6, dups6 = _planted_vectors(spark)
    surv = semdedup(
        base6.unionByName(dups6), 0.9999, 64, id_col="id", vec_col="embedding", probes=probes
    )
    n_surv = surv.count()
    n_left = surv.filter(F.col("id") >= NE).count()
    assert n_surv == NE and n_left == 0, (probes, n_surv, n_left)
    return f"all 1000 planted dups removed, {NE} originals kept"


@smoke
def semdedup_scale600k(spark):
    return _semdedup_probes(spark, 1)


@smoke
def semdedup_scale600k_p2(spark):
    return _semdedup_probes(spark, 2)


@smoke
def semdedup_scale600k_p4(spark):
    return _semdedup_probes(spark, 4)


@smoke
def semdedup_bi_scale600k(spark):
    # incremental SemDeDup against the 600k history: a 2000-doc "daily
    # shard" with every outcome planted — 1000 exact copies of history
    # vectors (components touch history: dropped), 1000 fresh vectors
    # (survive), 500 twin pairs of non-history vectors (min id
    # survives). History is clustered once and NEVER re-paired —
    # per-shard gram work is new-blocks x history-blocks-in-cluster,
    # not history^2.
    from cs533_big_data_data_mining_spark.operators.similarity import (
        ivf_index,
        semdedup_bipartite,
    )

    base6, dup_bi = _planted_vectors(spark)
    new_bi = (
        dup_bi.unionByName(_vectors(spark, 1000, NE + 10_000, NE))
        .unionByName(_vectors(spark, 500, NE + 20_000, NE + 1000))
        .unionByName(_vectors(spark, 500, NE + 30_000, NE + 1000))
    )
    idx_bi = ivf_index(base6, 64, id_col="id", vec_col="embedding")
    surv_bi = semdedup_bipartite(
        base6, new_bi, 0.9999, 64, id_col="id", vec_col="embedding", index=idx_bi
    )
    n_bi = surv_bi.count()
    n_dup_left = surv_bi.filter((F.col("id") >= NE) & (F.col("id") < NE + 1000)).count()
    n_twin_b_left = surv_bi.filter(F.col("id") >= NE + 30_000).count()
    assert (n_bi, n_dup_left, n_twin_b_left) == (1500, 0, 0), (n_bi, n_dup_left, n_twin_b_left)
    return "1000 history-dups + 500 twin losers dropped, 1500 kept"


@smoke
def balance_scale1m(spark):
    # source balancing with one domain holding 90% of 1M rows — the
    # shape where the plain per-source window is a single-task
    # mega-sort. Asserted: (a) the histogram prefilter's survivor set is
    # IDENTICAL to the exact window's; (b) the rows actually entering
    # the window are <3% of the input (~cap + n/1024 per big source),
    # i.e. the 900k-row single-task sort is structurally gone. (Locally
    # the exact window is still fast — 1M rows fit one task's memory;
    # the prefilter's win is task-level parallelism and bounded task
    # memory at 100 TB, which the admitted-row count measures.)
    from cs533_big_data_data_mining_spark.operators.quality import (
        _admission_prefilter,
        balance_sources,
    )

    nbal, balcap = 1_000_000, 1000
    docs_bal = spark.range(nbal).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("megacrawl"))
        .otherwise(F.concat(F.lit("s"), (F.floor(F.col("id") / 10) % 5).cast("string")))
        .alias("source"),
    )
    t0 = time.time()
    fast = balance_sources(docs_bal, "doc_id", "source", balcap, prefilter=True)
    fast_rows = fast.count()
    t_fast = time.time() - t0
    admitted = _admission_prefilter(
        docs_bal.select(F.col("doc_id").alias("id"), "source", F.xxhash64("doc_id").alias("_pri")),
        balcap,
        1024,
    ).count()
    slow = balance_sources(docs_bal, "doc_id", "source", balcap, prefilter=False)
    diff = fast.exceptAll(slow).count() + slow.exceptAll(fast).count()
    assert fast_rows == balcap * 6 and diff == 0, (fast_rows, diff)
    assert admitted < 0.03 * nbal, f"prefilter admitted {admitted} rows"
    summary = (
        f"window input {admitted} rows ({100 * admitted / nbal:.2f}% of {nbal}), "
        "identical to exact window"
    )
    return summary, {"prefilter": t_fast}


@smoke
def decontam_bloom_500k(spark):
    # Bloom decontamination at 500k docs vs a 13.5k-doc benchmark:
    # every 37th doc IS the benchmark (planted contamination), so
    # exactly those docs must flag — the bloom prefilter plus exact
    # verify must lose nothing and add nothing.
    from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate_bloom

    docs_dc = spark.range(500_000).select(F.col("id").alias("doc_id"), _hash_words(1, 12).alias("text"))
    bench_dc = docs_dc.filter(F.col("doc_id") % 37 == 0)
    flags = decontaminate_bloom(docs_dc, bench_dc, "doc_id", "text", n=5)
    n_flagged = flags.filter("NOT keep").count()
    n_expected = docs_dc.filter(F.col("doc_id") % 37 == 0).count()
    assert n_flagged == n_expected, (n_flagged, n_expected)
    return f"{n_flagged} planted contaminations, all and only"


@smoke
def bloom_envelope_40m(spark):
    # Bloom ENVELOPE smoke: build a filter with m/64 >= 10^7 words
    # end-to-end through decontaminate_bloom — the driver must ingest
    # the word aggregate through Arrow, not as 10^7-10^8 py4j Row
    # objects. 40M distinct benchmark 5-grams at fpp=3e-4 sizes the
    # filter to ~1.06e7 words (driver-ingestion cost scales with m
    # alone, so the tighter fpp buys the >=10^7-word envelope at
    # smoke-friendly build cost; 10^8 items at 1% fpp is the same word
    # count +43%). 200k corpus docs, every 37th embedding the 5 words
    # of benchmark doc_id — exactly those must flag.
    from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate_bloom
    from cs533_big_data_data_mining_spark.operators.sketches import _bloom_params

    nbe, nce, fppe = 40_000_000, 200_000, 3e-4
    m_e, _k_e = _bloom_params(nbe, fppe)
    assert m_e // 64 >= 10_000_000, f"envelope mis-sized: {m_e // 64} words"
    planted = F.concat_ws(" ", *[F.concat(F.lit(f"g{j}x"), F.col("id").cast("string")) for j in range(5)])
    bench_env = spark.range(nbe).select(F.col("id").alias("doc_id"), planted.alias("text"))
    docs_env = spark.range(nce).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 37 == 0, F.concat_ws(" ", _hash_words(1, 12), planted))
        .otherwise(_hash_words(1, 12))
        .alias("text"),
    )
    flags_e = decontaminate_bloom(docs_env, bench_env, "doc_id", "text", n=5, fpp=fppe)
    bad_e = flags_e.filter(F.col("keep") == (F.col("id") % 37 == 0)).count()  # flagged iff planted
    n_flag_e = flags_e.filter("NOT keep").count()
    assert bad_e == 0 and n_flag_e == (nce + 36) // 37, (bad_e, n_flag_e)
    return (
        f"{m_e // 64} filter words >= 1e7, {n_flag_e} planted contaminations flagged, all and only"
    )


@smoke
def crawl_pipeline_210k(spark):
    # End-to-end crawl -> training-shards composition at 210k WET
    # records (the scale twin of the crawl_shards driver row): 200k
    # 12-word docs (vocab 99991) + a boilerplate line on EVERY record +
    # 10k planted exact duplicates (every 20th doc, distinct uri) + a
    # shared 10-word phrase in every 41st doc + benchmark = every 40th
    # doc's clean text. Each stage must recover exactly its planted
    # set: boiler line stripped (else the span stage would flag every
    # doc), dedup back to 200k, spans on exactly the 4879 phrase docs
    # ending at token 22, decontamination flagging the 9757-doc union
    # of bench members and phrase docs (phrase grams leak into the
    # bench via the 122 ids divisible by both 40 and 41), split sizes
    # summing to the survivor count, pack offsets validating.
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.functions.text import subword_count
    from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate_bloom
    from cs533_big_data_data_mining_spark.operators.dedup import duplicated_spans, exact_dedup
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences
    from cs533_big_data_data_mining_spark.operators.quality import (
        assign_split,
        remove_boilerplate_lines,
    )
    from cs533_big_data_data_mining_spark.sources.warc import warc_text

    mod = _entry_module()
    ncr, crdup_off = 200_000, 1_000_000_000
    cr_phrase = " ".join(f"crawlshared{j}" for j in range(10))
    cr_boiler = "zzcrawl zzboiler zzline zzplanted"
    _ctext = _hash_words(301, 312)
    docs_cr = spark.range(ncr).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 41 == 0, F.concat_ws(" ", _ctext, F.lit(cr_phrase)))
        .otherwise(_ctext)
        .alias("text"),
    )
    root_cr = tempfile.mkdtemp(prefix="crawl_smoke_")
    try:
        shards = [[] for _ in range(8)]
        for i, r in enumerate(docs_cr.collect()):
            payload = (r["text"] + "\n" + cr_boiler).encode()
            shards[i % 8].append(mod._wet_record(f"https://c.example/d/{r['doc_id']}", payload))
            if r["doc_id"] % 20 == 0:
                shards[(i + 3) % 8].append(
                    mod._wet_record(f"https://c.example/dup/{r['doc_id']}", payload)
                )
        mod._write_wet_shards(root_cr, shards)

        base_id = F.regexp_extract("target_uri", r"/(?:d|dup)/(\d+)$", 1).cast("long")
        corpus_cr = warc_text(spark, root_cr).select(
            F.when(F.col("target_uri").contains("/dup/"), base_id + F.lit(crdup_off))
            .otherwise(base_id)
            .alias("doc_id"),
            "text",
        )
        n_wet = corpus_cr.count()
        assert n_wet == ncr + ncr // 20, n_wet
        cleaned_cr = remove_boilerplate_lines(corpus_cr, "doc_id", "text", 1000).select(
            F.col("id").alias("doc_id"), F.col("clean").alias("text")
        )
        surv_cr = exact_dedup(cleaned_cr, "doc_id", "text").cache()
        n_dedup = surv_cr.count()
        assert n_dedup == ncr, n_dedup
        sp = duplicated_spans(surv_cr, k=5, hash_grams=True)
        spa = sp.agg(
            F.count_distinct("id").alias("docs"),
            F.min("span_end").alias("end_lo"),
            F.max("span_end").alias("end_hi"),
        ).head()
        n_phrase = (ncr - 1) // 41 + 1
        assert spa["docs"] == n_phrase and spa["end_lo"] == spa["end_hi"] == 22, dict(spa.asDict())
        bench_cr = docs_cr.filter(F.col("doc_id") % 40 == 0)
        flags_cr = decontaminate_bloom(surv_cr, bench_cr, "doc_id", "text", n=5)
        n_flag = flags_cr.filter("NOT keep").count()
        n_expect_flag = ncr // 40 + n_phrase - ((ncr - 1) // 1640 + 1)
        assert n_flag == n_expect_flag, (n_flag, n_expect_flag)
        final_cr = surv_cr.join(
            flags_cr.filter("keep").select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        ).cache()
        n_final = final_cr.count()
        assert n_final == ncr - n_expect_flag, n_final
        spl = assign_split(final_cr, "doc_id")
        spl_counts = {
            r["split"]: r["n"]
            for r in spl.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert sum(spl_counts.values()) == n_final, spl_counts
        assert 0.85 < spl_counts["train"] / n_final < 0.95, spl_counts
        plan_cr = pack_sequences(final_cr, "doc_id", 2048, validate=True)
        total_cr = plan_cr.agg(
            F.count(F.lit(1)).alias("rows"),
            F.max(F.col("start_offset") + F.col("n_tokens")).alias("total"),
        ).head()
        want_total = final_cr.agg(
            F.sum(F.coalesce(subword_count("text").cast("long"), F.lit(0)))
        ).head()[0]
        assert total_cr["rows"] == n_final and total_cr["total"] == want_total, dict(total_cr.asDict())
    finally:
        shutil.rmtree(root_cr, ignore_errors=True)
    return (
        f"WET {n_wet} -> dedup {n_dedup} -> decontam -{n_flag} -> {n_final} docs, "
        f"{total_cr['total']} tokens packed; spans/boiler exact"
    )


def _run_checked(spark, frame, stages, checks) -> dict:
    """Run ``stages`` one at a time through one ``StageRunner``; after
    each, ``checks[name](before, after, counts)`` asserts that stage's
    construction facts (``counts``: survivors per stage so far, the
    input first); every check must name a stage of the list. Returns
    the survivor counts."""
    from cs533_big_data_data_mining_spark.operators.pipelines import StageRunner

    missing = set(checks) - {st.name for st in stages}
    assert not missing, f"checks for stages the preset does not run: {missing}"
    counts = {"input": frame.count()}
    with StageRunner(spark) as run:
        cur = frame
        for st in stages:
            nxt = run.step(cur, st)
            counts[st.name] = nxt.count()
            if st.name in checks:
                checks[st.name](cur, nxt, counts)
            cur = nxt
    return counts


def _drops(pred):
    """Check: the stage drops exactly the ``pred`` rows of its input."""

    def check(before, after, n):
        n_before, n_after = list(n.values())[-2:]
        assert n_after == n_before - before.filter(pred).count(), n

    return check


def _semi_pairs(frame, pred):
    """Planted pairs (``doc_id`` matching ``pred``, its base ``doc_id - 1``)
    with both members in ``frame``."""
    ids = frame.select("doc_id")
    return ids.filter(pred).join(
        ids.select((F.col("doc_id") + 1).alias("doc_id")), "doc_id", "left_semi"
    ).count()


@smoke
def refinedweb_200k(spark):
    # The refinedweb preset at 200k docs — the scale twin of the
    # refinedweb_pipeline driver row. Every failure class is PLANTED on
    # a disjoint id residue, so each stage's removal count is an exact
    # construction fact (near-dup and dedup counts use the joint-
    # survivor predicate, since the quantile gate can drop either
    # member of a pair):
    #   %20==3  -> crawl VARIANT of doc (id-1)'s URL   (url dedup)
    #   %40==1  -> 10-word doc                         (Gopher)
    #   %20==5  -> exact text copy of doc (id-1)       (exact dedup)
    #   %20==7  -> one-word mutation of doc (id-1)     (MinHash, J~0.9)
    #   %41==0  -> shared 6-word phrase appended       (span removal)
    #   %53==0  -> benchmark membership                (decontamination)
    from cs533_big_data_data_mining_spark.operators import pipelines
    from cs533_big_data_data_mining_spark.operators.packing import shard_rows

    nrw, k_rw = 200_000, 50_000
    rw_phrase = "zp1 zp2 zp3 zp4 zp5 zp6"
    # the doc whose text a row carries: a %20 in {5, 7} copy is keyed
    # by its base, so phrase and benchmark identity follow it too
    tbase = F.col("doc_id") - F.when(F.pmod("doc_id", F.lit(20)).isin(5, 7), 1).otherwise(0)

    def _rw_word(j):
        # 3-char base36 word (values 1296..46655 are exactly the 3-char
        # range; ~98% contain a letter), 'the' every 7th position for
        # the stopword rule, mean word length 3.0
        return F.when(j % 7 == 0, F.lit("the")).otherwise(
            F.conv((F.pmod(F.xxhash64(tbase, j), F.lit(45360)) + 1296).cast("string"), 10, 36)
        )

    def _rw_text(n_words, mutate):
        w = F.transform(
            F.sequence(F.lit(1), F.lit(n_words)),
            (lambda j: F.when(j == n_words, F.lit("zzmutzz")).otherwise(_rw_word(j)))
            if mutate
            else _rw_word,
        )
        return F.concat_ws(" ", w)

    body = (
        F.when(F.pmod("doc_id", F.lit(40)) == 1, _rw_text(10, False))
        .when(F.pmod("doc_id", F.lit(20)) == 7, _rw_text(60, True))
        .otherwise(_rw_text(60, False))
    )
    url_key = (F.col("doc_id") - F.when(F.pmod("doc_id", F.lit(20)) == 3, 1).otherwise(0)).cast("string")
    docs_rw = spark.range(nrw).select(
        F.col("id").alias("doc_id"),
        F.when(F.pmod(tbase, F.lit(41)) == 0, F.concat_ws(" ", body, F.lit(rw_phrase)))
        .otherwise(body)
        .alias("text"),
        F.when(
            F.pmod("id", F.lit(20)) == 3,
            F.concat(F.lit("HTTPS://WWW.RW.example/p/"), url_key, F.lit("?utm_source=x")),
        ).otherwise(F.concat(F.lit("https://rw.example/p/"), url_key)).alias("url"),
    )
    facts: dict = {}

    def url(before, after, n):
        assert n["url_dedup"] == nrw - nrw // 20, n  # every %20==3 row lost to id-1

    def gopher(before, after, n):
        assert n["gopher"] == n["url_dedup"] - nrw // 40, n  # exactly the 10-word docs fail

    def ppl(before, after, n):
        assert 0.88 * n["gopher"] <= n["ppl_gate"] <= 0.93 * n["gopher"], n  # ties can exceed 0.9
        # joint-survivor predicates: a planted pair is removable only
        # when BOTH members passed the ppl gate (identical texts always
        # co-pass; mutated pairs can straddle)
        facts["pairs5"] = _semi_pairs(after, "doc_id % 20 = 5")

    def exact(before, after, n):
        assert n["exact_dedup"] == n["ppl_gate"] - facts["pairs5"], (n, facts)
        facts["pairs7"] = _semi_pairs(after, "doc_id % 20 = 7")

    def minhash(before, after, n):
        assert n["minhash_dedup"] == n["exact_dedup"] - facts["pairs7"], (n, facts)
        # a rare ppl-straddle leaves a mutated copy without its base
        # ("straggler"); its phrase identity follows tbase, not doc_id
        n_phrase = after.filter(F.pmod(tbase, F.lit(41)) == 0).count()
        assert after.filter(F.col("text").contains("zp1")).count() == n_phrase

    def spans(before, after, n):
        assert after.filter(F.col("text").contains("zp1")).count() == 0
        # three flagged classes: text-source id in bench (self-hits AND
        # stragglers whose base was bench), the doc's OWN id in bench (a
        # straggler is itself a bench row sharing its own body grams),
        # and bases whose removed twin was bench. Phrase grams can't
        # hit: span removal stripped them from every survivor BEFORE
        # decon — the Lee-2022 ordering this smoke exists to pin.
        facts["exp_flag"] = after.filter(
            (F.pmod(tbase, F.lit(53)) == 0)
            | (F.col("doc_id") % 53 == 0)
            | (((F.col("doc_id") + 1) % 53 == 0) & F.pmod(F.col("doc_id") + 1, F.lit(20)).isin(5, 7))
        ).count()

    def decon(before, after, n):
        assert n["span_removal"] - n["decontaminate"] == facts["exp_flag"], (n, facts)

    def dsir(before, after, n):
        picked = after.select("doc_id")
        assert n["dsir_select"] == k_rw and picked.distinct().count() == k_rw
        assert picked.join(before, "doc_id", "left_anti").count() == 0

    def split(before, after, n):
        sh_rw = shard_rows(after.select("doc_id"), "doc_id", 64, seed=9)
        bal = sh_rw.groupBy("shard").count().agg(
            F.min("count").alias("lo"), F.max("count").alias("hi"), F.count(F.lit(1)).alias("n")
        ).head()
        assert bal["n"] == 64 and bal["hi"] < 2.0 * k_rw / 64, dict(bal.asDict())

    stages = pipelines.refinedweb(
        url_col="url",
        min_stopword_hits=1,  # the generator plants ONE stopword; the default 2 fails all
        keep_ppl=0.9,
        jaccard=0.8,
        spans_k=5,
        bench=docs_rw.filter("doc_id % 53 = 0").select("doc_id", "text"),
        target=docs_rw.filter("doc_id % 31 = 0").select("doc_id", "text"),
        select_k=k_rw,
        seed=8,
    )
    n = _run_checked(spark, docs_rw, stages, {
        "url_dedup": url, "gopher": gopher, "ppl_gate": ppl, "exact_dedup": exact,
        "minhash_dedup": minhash, "span_removal": spans, "decontaminate": decon,
        "dsir_select": dsir, "split": split,
    })
    return (
        f"{nrw} -> url {n['url_dedup']} -> gopher {n['gopher']} -> ppl {n['ppl_gate']} "
        f"-> exact {n['exact_dedup']} -> minhash {n['minhash_dedup']} "
        f"-> decon -{facts['exp_flag']} -> select {n['dsir_select']}; spans/order exact"
    )


@smoke
def fineweb_200k(spark):
    # The fineweb preset at 200k docs — the scale twin of the
    # fineweb_pipeline driver row, over a synthetic base36 corpus keyed
    # by tbase (the dup plant copies doc id-1's page, so every
    # inner-class predicate is a pure function of tbase). Unlike the
    # sf0.01 driver row, the page template here is SALTED per doc
    # (every 3-token window of the normal page contains a tbase-keyed
    # word), so unrelated docs share ~5 shingles instead of ~30: with
    # the driver row's shared template, every doc's MinHash signature
    # hits the universal template minima with p~0.3 per hash, and the
    # 16 band buckets each collect N*p^4 ~ 1.6k docs -> tens of
    # millions of exact-Jaccard verifications (the published pipelines
    # dodge this by stripping boilerplate BEFORE dedup; a 200k-doc
    # corpus of template clones is the adversarial case). Salting keys
    # off tbase, so dup pairs stay byte-identical and the stage
    # expectations stay construction facts; the near-dup and
    # c4/fineweb drops use joint-/stage-survivor predicates.
    from cs533_big_data_data_mining_spark.operators import pipelines

    mod = _entry_module()
    nfw = 200_000
    fw_i = F.col("doc_id")
    fw_tb = fw_i - F.when((fw_i % mod.FWP_DUP_MOD == mod.FWP_DUP_RES) & (fw_i > 0), 1).otherwise(0)

    def _fw_word(j):
        return F.conv((F.pmod(F.xxhash64(fw_tb, j), F.lit(45360)) + 1296).cast("string"), 10, 36)

    fw_body = F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(60)), _fw_word))

    # salt words: same base36 generator, literal keys 1001+ (the body
    # lambda uses j in [1, 60] — disjoint key space)
    def _fw_salt(k):
        return F.conv(
            (F.pmod(F.xxhash64(fw_tb, F.lit(1001 + k)), F.lit(45360)) + 1296).cast("string"), 10, 36
        )

    fw_sid = fw_tb.cast("string")
    _w = [_fw_salt(k) for k in range(12)]
    # the normal page mirrors _fwp_inner's shape (3 punctuated lines,
    # en markers, a plantable email) but alternates salt words with
    # the fixed tokens; en markers the/a/of/and/is/in keep lang_id ==
    # 'en' and gopher stopword hits intact
    fw_l1 = F.concat_ws(
        " ",
        F.lit("Document"), fw_sid, F.lit("opens"), _w[0], F.lit("the"),
        _w[1], F.lit("a"), _w[2], F.lit("of"), _w[3], F.lit("and"),
        _w[4], F.lit("is"), _w[5], F.lit("in"), _w[6], F.lit("now. It"),
        _w[7], F.lit("ends here."),
    )
    fw_l2 = F.concat_ws(
        " ",
        F.lit("It is"), _w[8], F.lit("by the"), _w[9], F.lit("words"),
        F.substring(fw_body, 1, 120), F.lit("to a"), _w[10],
        F.lit("final stop."),
    )
    fw_l3 = F.concat_ws(
        " ",
        F.lit("The"), _w[11], F.lit("closing"), _w[0], F.lit("line"),
        _w[1], F.lit("mentions doc"), fw_sid, F.lit("again today. Contact"),
        F.concat(F.lit("user"), fw_sid, F.lit("@mail.example.com")),
        F.lit("now. All done."),
    )
    fw_normal = F.concat_ws("\n", fw_l1, fw_l2, fw_l3)
    # 9 short lines (NOT the driver row's FWP_SHORT_K=8): a dup whose
    # tbase is a shorts page gains one long trailing line, and if its
    # partner was URL-dropped (url plants key on doc id, not tbase) the
    # orphan reaches the fineweb stage — 8/12 short lines is 0.6667, a
    # hair UNDER the 0.67 gate, while 9/13 = 0.692 keeps every variant
    # on the drop side
    fw_shorts = F.concat_ws(
        "\n",
        *[F.concat(F.lit(f"Alpha{k} beta{k} d"), fw_sid, F.lit(f" go{k}.")) for k in range(9)],
    )
    fw_spam = F.concat_ws("\n", *[F.lit(mod.FWP_SPAM_LINE)] * 5)
    # same CASE precedence as _fwp_inner (mirrored by the p_*
    # predicates below); plant classes that reach the minhash stage
    # (lorem / short-lines) ride on the salted normal page
    fw_inner_t = (
        F.when(fw_tb % mod.FWP_LANG_MOD == mod.FWP_LANG_RES, F.lit(mod.FWP_FRENCH))
        .when(
            fw_tb % mod.FWP_GOPHER_MOD == mod.FWP_GOPHER_RES,
            F.concat(F.lit("The a of and to is in it for doc "), fw_sid, F.lit(".")),
        )
        .when(fw_tb % mod.FWP_REP_MOD == mod.FWP_REP_RES, F.concat(fw_normal, F.lit("\n"), fw_spam))
        .when(
            fw_tb % mod.FWP_C4_MOD == mod.FWP_C4_RES,
            F.concat(fw_normal, F.lit("\nSee also lorem ipsum text.")),
        )
        .when(fw_tb % mod.FWP_FW_MOD == mod.FWP_FW_RES, F.concat(fw_normal, F.lit("\n"), fw_shorts))
        .otherwise(fw_normal)
    )
    # two-step select: doc_id must be a REAL column before the
    # construction expressions reference it (a one-step select would
    # make every reference a lateral alias — unresolvable inside the
    # transform() lambdas)
    docs_fw = spark.range(nfw).select(F.col("id").alias("doc_id")).select(
        "doc_id",
        F.when(
            (fw_i % mod.FWP_DUP_MOD == mod.FWP_DUP_RES) & (fw_i > 0),
            F.concat(fw_inner_t, F.lit("\n" + mod.FWP_EXTRA_LINE)),
        ).otherwise(fw_inner_t).alias("text"),
        F.when(
            fw_i % mod.FWP_URL_MOD == mod.FWP_URL_RES,
            F.concat(F.lit("https://malware.bad.example/p/"), fw_i.cast("string")),
        ).otherwise(
            F.concat(F.lit("https://site"), fw_i.cast("string"), F.lit(".example.org/a"))
        ).alias("url"),
    )
    # effective inner-class predicates (CASE precedence order) as pure
    # tbase arithmetic — construction facts
    p_fr = F.pmod(fw_tb, F.lit(mod.FWP_LANG_MOD)) == mod.FWP_LANG_RES
    p_short = ~p_fr & (F.pmod(fw_tb, F.lit(mod.FWP_GOPHER_MOD)) == mod.FWP_GOPHER_RES)
    p_spam = ~p_fr & ~p_short & (F.pmod(fw_tb, F.lit(mod.FWP_REP_MOD)) == mod.FWP_REP_RES)
    p_lorem = ~p_fr & ~p_short & ~p_spam & (F.pmod(fw_tb, F.lit(mod.FWP_C4_MOD)) == mod.FWP_C4_RES)
    p_shorts = (
        ~p_fr & ~p_short & ~p_spam & ~p_lorem
        & (F.pmod(fw_tb, F.lit(mod.FWP_FW_MOD)) == mod.FWP_FW_RES)
    )
    facts: dict = {}

    def gopher(before, after, n):
        _drops(p_short)(before, after, n)
        # planted near-dup pairs removable iff BOTH members reached here
        facts["pairs"] = _semi_pairs(
            after, (F.col("doc_id") % mod.FWP_DUP_MOD == mod.FWP_DUP_RES) & (F.col("doc_id") > 0)
        )

    def minhash(before, after, n):
        assert n["minhash_dedup"] == n["gopher"] - facts["pairs"], (n, facts)

    def redact(before, after, n):
        n_bad = after.filter(
            F.col("text").contains("@mail.example.com") | ~F.col("text").contains("<EMAIL>")
        ).count()
        assert n_bad == 0, n_bad

    stages = pipelines.fineweb(
        url_col="url", blocked_domains=["bad.example"], min_stopword_hits=1, jaccard=0.8
    )
    n = _run_checked(spark, docs_fw, stages, {
        "url_filter": _drops(fw_i % mod.FWP_URL_MOD == mod.FWP_URL_RES),
        "lang_id": _drops(p_fr),
        "repetition": _drops(p_spam),
        "gopher": gopher,
        "minhash_dedup": minhash,
        "c4_minus_terminal_punct": _drops(p_lorem),
        "fineweb_custom": _drops(p_shorts),
        "redact_pii": redact,
    })
    return (
        f"{nfw} -> url {n['url_filter']} -> lang {n['lang_id']} -> rep {n['repetition']} "
        f"-> gopher {n['gopher']} -> minhash {n['minhash_dedup']} "
        f"-> c4 {n['c4_minus_terminal_punct']} -> custom {n['fineweb_custom']}; redaction exact"
    )


@smoke
def dolma_200k(spark):
    # The dolma preset at 200k ids (150k pool vs 50k immutable history):
    # every stage's survivor count asserted against construction facts,
    # the Bloom dedup ladder running EXACT at fpp=0.01, paragraph
    # excision + within-pool keep_first + redaction checked on the
    # final text.
    from cs533_big_data_data_mining_spark.operators import pipelines

    mod = _entry_module()
    dm_i = F.col("doc_id")
    p_fr = F.pmod(dm_i, F.lit(mod.DMP_LANG_MOD)) == mod.DMP_LANG_RES
    p_short = ~p_fr & (F.pmod(dm_i, F.lit(mod.DMP_GOPHER_MOD)) == mod.DMP_GOPHER_RES)
    p_copy = ~p_fr & ~p_short & (F.pmod(dm_i, F.lit(mod.DMP_DOC_MOD)) == mod.DMP_DOC_RES)
    p_lorem = ~p_fr & ~p_short & ~p_copy & (F.pmod(dm_i, F.lit(mod.DMP_C4P_MOD)) == mod.DMP_C4P_RES)
    p_url = F.pmod(dm_i, F.lit(mod.DMP_URL_MOD)) == mod.DMP_URL_RES
    ids = spark.range(200_000).select(F.col("id").alias("doc_id"))
    hist = ids.filter(dm_i % mod.DMP_HIST_MOD == 0).select("doc_id", mod._dmp_hist_text(dm_i).alias("text"))
    pool = ids.filter(dm_i % mod.DMP_HIST_MOD != 0).select(
        "doc_id",
        mod._dmp_inner(dm_i, _hash_words(1, 18)).alias("text"),
        mod._dmp_url(dm_i).alias("url"),
    )

    def url(before, after, n):
        shared = before.filter(p_url)
        groups = shared.select(F.pmod(dm_i, F.lit(mod.DMP_URL_GROUPS)).alias("g")).distinct().count()
        assert n["url_dedup"] == n["redact_pii"] - shared.count() + groups, n

    def paragraphs(before, after, n):
        bad = after.filter(
            F.col("text").contains(mod.DMP_HISTP_A)
            | F.col("text").contains("@mail.example.com")
            | ~F.col("text").contains("<EMAIL>")
        ).count()
        assert bad == 0, bad
        n_l4 = after.filter(F.col("text").contains(mod.DMP_L4A)).count()
        assert n_l4 == mod.DMP_NEWPARA_CLASSES, n_l4  # keep_first per class
        assert n["paragraph_dedup"] == n["doc_dedup"], n

    stages = pipelines.dolma(
        history=hist, url_col="url", min_stopword_hits=1, normalize_urls=False, fpp=0.01
    )
    n = _run_checked(spark, pool, stages, {
        "lang_id": _drops(p_fr),
        "gopher": _drops(p_short),
        "c4_minus_terminal_punct": _drops(p_lorem),
        "url_dedup": url,
        "doc_dedup": _drops(p_copy),
        "paragraph_dedup": paragraphs,
    })
    return (
        f"{n['input']} pool -> lang {n['lang_id']} -> gopher {n['gopher']} "
        f"-> c4 {n['c4_minus_terminal_punct']} -> url {n['url_dedup']} "
        f"-> doc {n['doc_dedup']}; paragraphs + redaction exact"
    )


@smoke
def spans_scale1m(spark):
    # Duplicated-span detection at 1M docs: per-doc hash words are
    # ~unique 5-grams (vocab 99991, 12 words), every 41st doc gets a
    # shared 10-word phrase appended — exactly those docs must report
    # exactly one span of exactly 10 tokens. Exercises the positional-
    # gram inverted index (~12M grams), the LeftSemi flag join and the
    # islands window at volume.
    from cs533_big_data_data_mining_spark.operators.dedup import duplicated_spans

    phrase = " ".join(f"sharedword{j}" for j in range(10))
    docs_sp = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 41 == 0, F.concat_ws(" ", _hash_words(1, 12), F.lit(phrase)))
        .otherwise(_hash_words(1, 12))
        .alias("text"),
    )
    agg = duplicated_spans(docs_sp, k=5, hash_grams=True).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("id").alias("docs"),
        F.min("span_end").alias("end_lo"),
        F.max("span_end").alias("end_hi"),
        F.min("span_start").alias("start_lo"),
        F.max("span_start").alias("start_hi"),
    ).head()
    expected_docs = docs_sp.filter(F.col("doc_id") % 41 == 0).count()
    # every planted span ends exactly at token 22 (phrase tail); the
    # start is 12, or 1-2 earlier for the ~12% of planted docs whose
    # last hash words collide mod 99991 with another planted doc's (the
    # boundary gram then duplicates too) — a real property of the data,
    # not detector slack
    assert (
        agg["n"] == agg["docs"] == expected_docs
        and agg["end_lo"] == agg["end_hi"] == 22
        and 10 <= agg["start_lo"] <= agg["start_hi"] == 12
    ), f"span smoke wrong: {dict(agg.asDict())} expected {expected_docs} docs"
    return f"{expected_docs} planted docs, one 10-token span each, nothing else"


@smoke
def url_dedup_1m(spark):
    # URL dedup over 1M URLs in 200k planted variant groups of 5
    # (www/case, trailing slash, utm, fragment, ref): exactly the 200k
    # variant-0 rows (the min ids) must survive, every canonical URL
    # distinct.
    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup

    nu, ngrp = 1_000_000, 200_000
    g_str = (F.col("id") % ngrp).cast("string")
    v_u = F.floor(F.col("id") / ngrp)
    urls_sm = spark.range(nu).select(
        F.col("id").alias("doc_id"),
        F.when(v_u == 1, F.concat(F.lit("https://www.Site.com/p/"), g_str, F.lit("?q=1")))
        .when(v_u == 2, F.concat(F.lit("https://site.com/p/"), g_str, F.lit("/?q=1")))
        .when(v_u == 3, F.concat(F.lit("https://site.com/p/"), g_str, F.lit("?utm_source=x&q=1")))
        .when(v_u == 4, F.concat(F.lit("https://site.com/p/"), g_str, F.lit("?q=1#frag")))
        .otherwise(F.concat(F.lit("https://site.com/p/"), g_str, F.lit("?q=1")))
        .alias("url"),
    )
    ua = url_dedup(urls_sm, "doc_id", "url").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("id").alias("max_id"),
        F.count_distinct("url_norm").alias("n_urls"),
    ).head()
    assert (ua["n"], ua["max_id"], ua["n_urls"]) == (ngrp, ngrp - 1, ngrp), dict(ua.asDict())
    return f"1M crawl variants -> {ngrp} canonical URLs, min-id survivors"


@smoke
def dsir_scale200k(spark):
    # DSIR at 200k docs with DISJOINT target/background vocabularies:
    # the 1000 planted target-vocab docs must separate from the rest
    # with zero overlap (min planted score > max background score).
    from cs533_big_data_data_mining_spark.operators.quality import dsir_logratio

    nds = 200_000

    def _wa(j):  # 97-word target vocabulary
        return F.concat(F.lit("aa"), F.pmod(F.xxhash64(F.col("doc_id"), j), F.lit(97)).cast("string"))

    def _wb(j):  # 5000-word background vocabulary, disjoint prefix
        return F.concat(F.lit("bb"), F.pmod(F.xxhash64(F.col("doc_id"), j), F.lit(5000)).cast("string"))

    def _words(w):
        return F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(12)), w))

    docs_ds = spark.range(nds).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 200 == 0, _words(_wa)).otherwise(_words(_wb)).alias("text"),
    )
    target_ds = spark.range(2000).select((F.col("id") + nds).alias("doc_id"), _words(_wa).alias("text"))
    sc_ds = dsir_logratio(docs_ds, "doc_id", "text", target_ds, n_buckets=4096)
    sep = sc_ds.agg(
        F.min(F.when(F.col("id") % 200 == 0, F.col("logratio"))).alias("lo_planted"),
        F.max(F.when(F.col("id") % 200 != 0, F.col("logratio"))).alias("hi_background"),
    ).head()
    assert sep["lo_planted"] > sep["hi_background"], dict(sep.asDict())
    return (
        f"planted target-vocab docs >= {sep['lo_planted']:.1f}, "
        f"background <= {sep['hi_background']:.1f} — zero overlap"
    )


@smoke
def nb_scale1m(spark):
    # NB model filter at 1M docs / 4 classes on the xxhash64 scale
    # route: each class writes from its own DISJOINT 500-word
    # vocabulary (w0..w499 / w500..w999 / ...), train on the 20%
    # id%5==0 slice (5 is COPRIME to the 4-class id%4 label, so every
    # class appears in training — id%10==0 would see only the even
    # classes), classify the held-out 80% — every prediction must
    # recover the planted class (bucket collisions between class vocabs
    # dilute margins, never flip a 30-word doc)
    from cs533_big_data_data_mining_spark.operators.classify import nb_classify, nb_train

    nnb = 1_000_000
    lab_nb = F.pmod(F.col("id"), F.lit(4))

    def _wc(j):  # word drawn from the row's class vocabulary
        return F.concat(
            F.lit("w"), (F.pmod(F.xxhash64(F.col("id"), j), F.lit(500)) + lab_nb * 500).cast("string")
        )

    # cache: the planted text (30 xxhash64 calls/row) would otherwise
    # regenerate through three lineage branches (train, classify, label
    # join-back)
    docs_nb = spark.range(nnb).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("c"), lab_nb.cast("string")).alias("label"),
        F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(30)), _wc)).alias("text"),
    ).cache()
    m_nb = nb_train(
        docs_nb.filter(F.col("doc_id") % 5 == 0), "text", "label", n_buckets=16384, hash_buckets="xxhash64"
    )
    held = docs_nb.filter(F.col("doc_id") % 5 != 0)
    out_nb = nb_classify(held, "doc_id", "text", m_nb, n_buckets=16384, hash_buckets="xxhash64")
    agg_nb = out_nb.join(held.select(F.col("doc_id").alias("id"), "label"), "id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pred") != F.col("label")).cast("long")).alias("wrong"),
        F.min("margin").alias("min_margin"),
    ).head()
    assert (agg_nb["n"], agg_nb["wrong"]) == (nnb * 4 // 5, 0), dict(agg_nb.asDict())
    assert agg_nb["min_margin"] > 0, dict(agg_nb.asDict())
    return f"800k held-out docs, 0 misclassified, min margin {agg_nb['min_margin']:.1f}"


@smoke
def langid_scale500k(spark):
    # trained langid at 500k docs: planted 5-language corpus from the
    # marker vocabularies (10 cyclic words + one fused pseudo-word per
    # doc), self-labeled seed = the ~2% slice (stride 53 — coprime with
    # the 5-class residue), char-3-gram NB fit, ALL docs scored through
    # the Arrow int64 fixed-point route — 0 misclassifications expected
    # (per-language char statistics are disjoint), and the no-marker
    # plants (id % 1009 == 0 -> 'qqq zzz xxx') must classify uniformly
    # (deterministically) rather than crash
    from cs533_big_data_data_mining_spark.functions.text import LANG_MARKERS
    from cs533_big_data_data_mining_spark.operators.classify import lang_id_nb, langid_train

    nlg = 500_000
    lg_names = sorted(LANG_MARKERS)
    i_col = F.col("id")

    def _lg_base(lg):
        arr = F.array(*[F.lit(w) for w in LANG_MARKERS[lg]])
        wj = lambda j: F.element_at(arr, ((i_col + F.lit(j)) % 7 + 1).cast("int"))  # noqa: E731
        return F.concat_ws(" ", *[wj(j) for j in range(10)], F.concat(wj(0), wj(3)))

    sel = F.lit(None).cast("string")
    for nsel, lg in reversed(list(enumerate(lg_names))):
        sel = F.when((i_col % 5) == nsel, _lg_base(lg)).otherwise(sel)
    docs_lg = spark.range(nlg).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (i_col % 5).cast("string")).alias("want"),
        F.when(i_col % 1009 == 0, F.lit("qqq zzz xxx")).otherwise(sel).alias("text"),
    ).cache()
    m_lg = langid_train(docs_lg.filter(F.col("doc_id") % 53 == 0), "text")
    pred = docs_lg.select("doc_id", "want", lang_id_nb(m_lg, "text").alias("lang"))
    want_lang = F.element_at(
        F.array(*[F.lit(x) for x in lg_names]), (F.substring("want", 2, 1).cast("int") + 1)
    )
    agg_lg = pred.filter(F.col("doc_id") % 1009 != 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") != want_lang).cast("long")).alias("wrong"),
    ).head()
    n_plant = docs_lg.filter(F.col("doc_id") % 1009 == 0).count()
    plant_langs = pred.filter(F.col("doc_id") % 1009 == 0).select("lang").distinct().count()
    assert agg_lg["wrong"] == 0, dict(agg_lg.asDict())
    assert agg_lg["n"] == nlg - n_plant
    assert plant_langs == 1  # deterministic answer on no-marker docs
    return f"{agg_lg['n']} docs, 0 misclassified, {n_plant} no-marker plants uniform"


@smoke
def bpe_scale500k(spark):
    # trained byte-BPE at 500k docs: the forced-merge construction
    # holds at volume (merge sequence pinned) and the Arrow encoder's
    # count total matches the closed form exactly — train = one
    # histogram groupBy + driver loop, encode = one stateless pandas-UDF
    # pass
    from cs533_big_data_data_mining_spark.operators.bpe import bpe_token_count, bpe_train

    nbp = 500_000
    docs_bp = spark.range(nbp).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.lit("ab"), (F.lit(1) + F.col("id") % 8).cast("int")).alias("text"),
    )
    merges_bp = bpe_train(docs_bp, "text", 3)
    assert merges_bp == [("a", "b"), ("ab", "ab"), ("abab", "abab")], merges_bp
    total_bp = docs_bp.agg(F.sum(bpe_token_count(merges_bp, "text")).alias("t")).head()["t"]
    # closed form: sum over m=1..8 of (m//2)//2 + (m//2)%2 + m%2
    per_cycle = sum((m // 2) // 2 + (m // 2) % 2 + m % 2 for m in range(1, 9))
    assert total_bp == (nbp // 8) * per_cycle, (total_bp, per_cycle)
    return f"forced merges held, {total_bp} tokens exact"


@smoke
def phash_scale100k(spark):
    # perceptual-hash dedup at 100k images: payloads GENERATED
    # distributively (mapInPandas over range — no driver-side image
    # loop), 95k unique ladder-grid patterns (dHash == the planted
    # splitmix64 bits by construction) as PPM + 5k re-encoded PNG
    # mutants of the first 5k bases with exactly 2 planted bit flips.
    # phash_neardup_pairs must find EXACTLY the 5000 cross-format pairs
    # at hamming 2 (random 64-bit patterns make a spurious <=3-distance
    # pair ~1e-5 likely across all 4.5e9 candidate pairs).
    import numpy as np
    import pandas as pd

    from cs533_big_data_data_mining_spark.operators.multimodal import (
        pack_png,
        pack_ppm,
        phash_neardup_pairs,
    )

    NP, ND = 95_000, 5_000
    M64 = (1 << 64) - 1

    def _mix(x):
        x = (x + 0x9E3779B97F4A7C15) & M64
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & M64
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & M64
        return x ^ (x >> 31)

    def _gen(batches):
        for pdf in batches:
            ids, pays = [], []
            for i in pdf["id"]:
                i = int(i)
                base = i if i < NP else i - NP
                bits = _mix(base)
                if i >= NP:
                    bits ^= (1 << (i % 64)) | (1 << ((i * 7 + 13) % 64))
                g = np.zeros((8, 9), dtype=np.uint8)
                for r in range(8):
                    v = 128
                    g[r, 0] = v
                    for c in range(8):
                        v = v - 15 if (bits >> (r * 8 + c)) & 1 else v + 15
                        g[r, c + 1] = v
                if i < NP:
                    rgb = np.repeat(g[..., None], 3, axis=2)
                    pays.append(pack_ppm(np.repeat(np.repeat(rgb, 2, 0), 2, 1)))
                else:
                    pays.append(pack_png(np.repeat(np.repeat(g[..., None], 2, 0), 2, 1)))
                ids.append(i)
            yield pd.DataFrame({"media_id": np.asarray(ids, dtype=np.int64), "payload": pays})

    media100k = spark.range(0, NP + ND, 1, 32).mapInPandas(_gen, schema="media_id long, payload binary")
    pairs = phash_neardup_pairs(media100k, max_hamming=3, caches=[])
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("hamming") == 2).cast("long")).alias("n_h2"),
        F.sum((F.col("b") - F.col("a") == F.lit(NP)).cast("long")).alias("n_planted"),
    ).head()
    assert agg["n"] == ND and agg["n_h2"] == ND and agg["n_planted"] == ND, f"phash smoke wrong: {agg}"
    return f"exactly {ND} cross-format pairs at hamming 2"


@smoke
def mix_scale1m(spark):
    # mix_to_budget at 1M rows / 4 sources: per-source realized repeats
    # within 1% of r_s, epochs dense in [0, ceil(r_s)), no duplicate
    # (id, epoch), and the whole output bit-identical across two runs.
    from cs533_big_data_data_mining_spark.operators.quality import mix_to_budget

    nmx = 1_000_000
    docs_mx = spark.range(nmx).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
        F.lit(100).alias("n_tok"),
    )
    mx_w = {"s0": 0.4, "s1": 0.3, "s2": 0.2, "s3": 0.1}
    mx_budget = 120_000_000  # per-source r_s = 1.92 / 1.44 / 0.96 / 0.48
    mix1 = mix_to_budget(docs_mx, "doc_id", "source", "n_tok", mx_budget, mx_w)
    stats_mx = {
        r["source"]: (r["n"], r["max_ep"], r["n_distinct"])
        for r in mix1.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("epoch").alias("max_ep"),
            F.count_distinct("id", "epoch").alias("n_distinct"),
        )
        .collect()
    }
    per_src = nmx // 4
    for s, r_s in [("s0", 1.92), ("s1", 1.44), ("s2", 0.96), ("s3", 0.48)]:
        n_s, max_ep, n_d = stats_mx[s]
        assert abs(n_s - per_src * r_s) < 0.01 * per_src * r_s, (s, n_s)
        assert max_ep == math.ceil(r_s) - 1 and n_d == n_s, (s, max_ep, n_d)
    # bit_xor, not sum: ANSI mode faults a BIGINT sum of 1.4M 64-bit hashes
    h1 = mix1.agg(F.bit_xor(F.xxhash64("id", "source", "epoch"))).head()[0]
    h2 = (
        mix_to_budget(docs_mx, "doc_id", "source", "n_tok", mx_budget, mx_w)
        .agg(F.bit_xor(F.xxhash64("id", "source", "epoch")))
        .head()[0]
    )
    assert h1 == h2, "mix not deterministic across runs"
    return "realized repeats within 1% of targets, bit-identical re-run"


@smoke
def dbscan_scale3m(spark):
    # 3M uniform 3-D points: above the 2M driver-label gate, so the
    # distributed label path and the 4M-edge CC fastpath run; the
    # expected stats pin determinism at scale (SCALE.md). Stage seconds
    # land in the record as dbscan_scale3m.<stage>.
    from cs533_big_data_data_mining_spark import dbscan, dbscan_stats

    pts = spark.range(3_000_000).select(
        F.col("id"),
        F.array(
            *[
                (F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(1_000_000)).cast("double") / 1e4)
                for j in range(3)
            ]
        ).alias("xs"),
    )
    stages: dict = {}
    stats = dbscan_stats(dbscan(pts, eps=1.0, min_pts=10, stage_times=stages)).head()
    assert (stats["n_clusters"], stats["noise_count"]) == (52, 6771), f"scale smoke wrong: {stats}"
    return "52 clusters, 6771 noise", stages


def run(spark, smokes: dict, path: str = OUT) -> dict:
    """Run each smoke once and write the record to ``path``.

    A smoke's reading is its wall seconds, bracketed by canary probes
    (the bench's noise instrument; the probe after one smoke is the
    probe before the next). A smoke may return ``(summary, stages)``;
    ``stages`` (name -> seconds) lands as ``<key>.<name>`` sub-keys,
    which the total excludes. Whatever a smoke caches or checkpoints
    is released when it ends, whether it passed or raised.
    """
    load_start = [round(x, 2) for x in os.getloadavg()]
    can = Canary(spark)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    canaries: dict[str, list] = {}
    for key, fn in smokes.items():
        before = can.last
        t0 = time.time()
        try:
            with SessionScope(spark):
                res = fn(spark)
            dt = round(time.time() - t0, 3)
            summary, stages = res if isinstance(res, tuple) else (res, {})
            timings[key] = dt
            timings.update({f"{key}.{name}": round(s, 3) for name, s in stages.items()})
            print(f"# {key}: {dt}s ({summary})", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — record and continue
            dt = round(time.time() - t0, 3)
            errors[key] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc()
            print(f"# {key}: ERROR {errors[key]}", file=sys.stderr)
        canaries[key] = [[dt, round(max(before, can.probe()) / can.min_, 2)]]
    out = {
        "metric": "total_runtime",
        "value": round(sum(v for k, v in timings.items() if "." not in k), 3),
        "unit": "sec",
        "queries": timings,
        "sf": None,
        "policy": (
            "scale smokes (tools/scale_smoke.py): each smoke runs once, cold, in one"
            " session, and is never retried; its reading is wall seconds from its"
            " first Spark call to its last assertion. Each is bracketed by the"
            " bench's ~0.3 s canary probes; 'canaries' maps each key to"
            " [[seconds, max-bracket-probe / session-min]] (~1 => quiet window)."
            " Synthetic inputs only: no scale factor applies."
        ),
        "canary_min": round(can.min_, 3),
        "canary_retries_left": 0,
        "canaries": canaries,
        "loadavg_start": load_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    if errors:
        out["errors"] = errors
    with open(path, "w") as fh:
        fh.write(json.dumps(out) + "\n")
    return out


def main() -> None:
    spark = get_spark(app_name="cs533_scale_smoke", extra_conf={"spark.ui.showConsoleProgress": "false"})
    out = run(spark, SMOKES)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
