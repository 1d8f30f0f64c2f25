"""Physical-plan shape regression tests.

The scale contract (SURVEY §4) is enforced on the plans themselves:
filters/projections must reach the parquet scan, small dimensions
must broadcast, aggregates must have a map-side partial phase, and
the eps-join path must never plan a cartesian product. These would
all still "pass" functionally if they regressed — only the 100 TB
run would notice — so the plan text is the test.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode="simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_linenumber", "l_quantity")
    p = _plan(df, "formatted")
    assert "LessThan(l_quantity,5.0)" in p, "filter not pushed to parquet scan"
    # column pruning: the scan must read exactly the 3 projected columns
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    # 4 = the "ReadSchema:" label + one per projected column
    assert read.count(":") == 4 and "l_orderkey" in read and "l_comment" not in read


def test_small_dims_broadcast(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    df = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    p = _plan(df)
    assert "BroadcastHashJoin" in p, "dim joins should broadcast, not shuffle"
    assert "SortMergeJoin" not in p


def test_agg_has_partial_phase(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    p = _plan(df)
    assert "partial_sum" in p, "aggregate lost its map-side combine"


def test_eps_join_is_never_cartesian(spark):
    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_self_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pts = emb.select(
        "vec_id",
        F.array(*[F.col("embedding")[j].cast("double") for j in range(3)]).alias("xs"),
    ).select(F.col("vec_id").alias("id"), "xs")
    spec = choose_grid(pts, 3, 0.06)
    pairs = epsilon_self_join(ghost_expand(pts, spec), 0.06)
    p = _plan(pairs)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "FlatMapGroupsInArrow" in p or "FlatMapGroupsInPandas" in p


def test_minhash_band_join_is_equi_join(spark):
    """The LSH candidate join must plan as a hash equi-join on
    (band, bhash) — the property that makes it the 100 TB path."""
    from cs533_big_data_data_mining_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cands = minhash_lsh_candidates(docs, "doc_id", "text")
    p = _plan(cands)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_curate_plan_has_no_cartesian(spark):
    """The curation composition must stay bucketed end to end: no
    cartesian/nested-loop join anywhere in the pipeline's plan.
    Audits the LAZY plan (curate_plan) — curate_documents itself
    materializes, so explaining its return would only show the
    in-memory scan."""
    from cs533_big_data_data_mining_spark.operators.curate import curate_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out, cached = curate_plan(docs, min_quality=0.5, jaccard_threshold=0.8)
    p = _plan(out)
    for frame in cached:
        frame.unpersist()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ngram_prefix_join_plan_shape(spark):
    """The prefix-filtered Jaccard join must plan as equi-joins on
    shingle keys — no cartesian/nested-loop anywhere."""
    from cs533_big_data_data_mining_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    caches: list = []
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8, caches=caches)
    p = _plan(pairs)
    for frame in caches:
        frame.unpersist()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_balance_sources_prefilter_plan_shape(spark):
    """The histogram admission prefilter must plan with broadcast
    joins for the tiny big/cut frames (never cartesian), and the
    parquet scans must stay column-pruned — the structure that keeps
    the dominant-source window input at ~cap + n/1024 rows."""
    from cs533_big_data_data_mining_spark.operators.quality import balance_sources

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = balance_sources(docs, "doc_id", "source", 50)
    p = _plan(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    # only (doc_id, source) may reach the scan — not the text column
    assert "text" not in p


def test_simhash_neardup_plan_shape(spark):
    """The fused band join + Hamming verify must stay an equi-join on
    (band, bkey) with the distance check as a join predicate."""
    from cs533_big_data_data_mining_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    caches: list = []
    pairs = simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=1, caches=caches)
    p = _plan(pairs)
    for frame in caches:
        frame.unpersist()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_duplicated_spans_plan_shape(spark):
    """The span detector must never self-join positions: duplicated
    grams only FLAG (LeftSemi), and the gram count keeps its map-side
    partial phase."""
    from cs533_big_data_data_mining_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(duplicated_spans(docs, k=5))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p, "duplicated grams should semi-join, not inner-join"
    assert "partial_count" in p, "gram count lost its map-side combine"


def test_lm_perplexity_plan_shape(spark):
    """LM scoring: no cartesian, count tables keep partial aggregation,
    joins are equi-joins (hash or sort-merge, never nested-loop)."""
    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = lm_perplexity(docs)
    p = _plan(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    out.unpersist()


def test_semdedup_pairs_plan_shape(spark):
    """Cluster-scoped pair generation joins packed blocks on the
    cluster id (equi-join) — never a cartesian across clusters."""
    from cs533_big_data_data_mining_spark.operators.similarity import (
        ivf_index,
        semdedup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, assignments = ivf_index(emb, 4, iters=1)
    p = _plan(semdedup_pairs(assignments, 0.9, block_rows=64))
    assert "CartesianProduct" not in p


def test_url_dedup_plan_shape(spark):
    """URL dedup (round-12 window form): ONE exchange on the
    normalized key, a window min picking the keeper — no join at all
    (the old groupBy + min-id semi-join spelled the normalizer twice
    and paid a second exchange) — and the text column must not reach
    the scan."""
    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.concat(F.lit("https://www.X.com/p/"), F.col("doc_id") % 10).alias("url")
    )
    p = _plan(url_dedup(docs, "doc_id", "url"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p, "window keeper must not re-join the input"
    assert p.count("Exchange hashpartitioning") == 1, (
        "url_dedup must shuffle exactly once (by the normalized key)"
    )
    assert "Window" in p
    assert "text" not in p


def test_url_dedup_window_null_salted(spark):
    """The keeper window must partition on (url_norm, NULL-salt), not
    url_norm alone (round 13): NULL-url rows are all kept, so hashing
    them into ONE window partition made a guaranteed straggler task on
    any corpus with a large no-provenance fraction (guide §2.5). The
    salt is ``id`` for NULL urls and a constant otherwise, so real
    URLs group exactly as before."""
    import re

    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit("https://x.com/"), "doc_id")).alias("url"),
    )
    p = _plan(url_dedup(docs, "doc_id", "url"))
    m = re.search(r"hashpartitioning\(([^)]*)\)", p)
    assert m, "window exchange missing"
    # two partition expressions + the partition count
    assert len(m.group(1).split(",")) == 3, (
        f"keeper window must hash on (url_norm, null-salt): {m.group(0)}"
    )
    assert p.count("Exchange hashpartitioning") == 1


def test_gopher_rules_plan_is_scan_fused(spark):
    """The whole rule bundle must be ONE scan-stage projection: no
    exchange, no join, no aggregate anywhere in the plan."""
    from cs533_big_data_data_mining_spark.operators.quality import gopher_rules

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(gopher_rules(docs, "doc_id", "text"))
    for op in ("Exchange", "Join", "Aggregate", "CartesianProduct"):
        assert op not in p, f"gopher_rules planned a {op}; it must stay pure-Column"


def test_dsir_plan_shape(spark):
    """DSIR scoring: the bucket-ratio table must BROADCAST into the
    corpus explode (never a shuffle join on the gram keys), and the
    per-doc aggregate keeps its partial phase."""
    from cs533_big_data_data_mining_spark.operators.quality import dsir_logratio

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dsir_logratio(
        docs, "doc_id", "text", docs.filter(F.col("source") == "src0"), n_buckets=64
    )
    p = _plan(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    out.unpersist()


def test_dsir_resample_plan_shape(spark):
    """Gumbel top-k must plan as TakeOrderedAndProject (per-partition
    heap top-k, driver merge of k-row slices) — a global Sort+Limit
    exchange would shuffle the whole scored corpus."""
    from cs533_big_data_data_mining_spark.operators.quality import dsir_resample

    df = spark.range(1000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS logratio")
    out = dsir_resample(df, 10, seed=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p[:800]


def test_mix_to_budget_plan_shape(spark):
    """Budget mixing: the #sources repeat table must broadcast and the
    corpus side must carry NO exchange (the explode composes into the
    scan stage)."""
    from cs533_big_data_data_mining_spark.operators.quality import mix_to_budget

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = mix_to_budget(docs, "doc_id", "source", "n_chars", 10_000, {"src0": 0.5, "src1": 0.5})
    p = _plan(out)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # the only Exchange allowed is the broadcast of the repeat table
    assert "Exchange hashpartitioning" not in p and "Exchange rangepartitioning" not in p


def test_dsir_resample_bigk_plan_shape(spark):
    """The big-k threshold route's returned frame must be a plain
    filtered scan union (plus the tie sliver's bounded TakeOrdered) —
    never a global Sort+Limit of the corpus, and no k-sized heap on
    the above-threshold branch."""
    from cs533_big_data_data_mining_spark.operators.quality import dsir_resample

    df = spark.range(4_000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS logratio")
    out = dsir_resample(df, 1_000, seed=2, driver_k_limit=10)
    p = out._jdf.queryExecution().executedPlan().toString()
    # a bare-Sort global ordering of the corpus would read "Sort ...
    # Exchange rangepartitioning"; the route must not contain one
    assert "Exchange rangepartitioning" not in p, p[:800]
    # the only TakeOrdered allowed is the == t tie sliver (limit is
    # k - count(>t), bounded by one key's tie count). If the strict
    # cut landed exactly, there is no TakeOrdered at all.
    assert p.count("TakeOrderedAndProject") <= 1, p[:800]


def test_semdedup_bipartite_assign_plan_shape(spark):
    """assign_to_centroids must be ONE mapInPandas pass over the new
    side — no join against a centroid table, no shuffle (the centroid
    matrix is driver-held and closure-shipped)."""
    from cs533_big_data_data_mining_spark.operators.similarity import (
        assign_to_centroids,
        ivf_index,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cent, _ = ivf_index(df, 2, iters=1, seed=3)
    out = assign_to_centroids(df, cent)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p, p[:500]
    assert "Exchange" not in p and "Join" not in p, p[:800]


def test_bloom_dedup_no_verify_plan_has_no_history_join(spark):
    """The Dolma exact=False route's whole point: once the Bloom is
    built, the shard never joins the history — the membership test is
    the map-side probe, so the plan has no semi/anti join (the one
    remaining join is the shard-internal LeftOuter reassembly of
    survivors against their own base rows). The exact=True twin DOES
    join (the verify anti-join) — pin both, and pin that exact adds
    exactly that one join."""
    from cs533_big_data_data_mining_spark.operators.dedup import (
        _para_key,
        _paras_arr,
        paragraph_dedup_bipartite_bloom,
    )
    from cs533_big_data_data_mining_spark.operators.sketches import bloom_build

    hist = spark.createDataFrame(
        [(100, "old news\nshared block")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "fresh one\nshared block")], "doc_id long, text string"
    )
    keys = (
        hist.select(F.explode(_paras_arr(F.col("text"))).alias("p"))
        .select(_para_key(F.col("p")).alias("__k"))
        .distinct()
    )
    bf = bloom_build(keys, "__k", fpp=0.01)
    loose = paragraph_dedup_bipartite_bloom(
        hist, new, "doc_id", "text",
        dedup_within_new=False, bloom=bf, exact=False,
    )
    p = _plan(loose)
    assert "LeftAnti" not in p and "LeftSemi" not in p, (
        "exact=False must never join the history"
    )
    joins_loose = p.count("Join [")
    strict = paragraph_dedup_bipartite_bloom(
        hist, new, "doc_id", "text",
        dedup_within_new=False, bloom=bf, exact=True,
    )
    p2 = _plan(strict)
    assert "LeftAnti" in p2, "exact=True lost its verify anti-join"
    assert p2.count("Join [") == joins_loose + 1, "exact should add ONE join"


def test_gopher_repetition_fence_keeps_filter_boolean(spark):
    """The optimizer fence in gopher_repetition (quality.py — the
    always-false `shuffle([false])` term OR-ed into `keep`) exists so
    a consumer's `.filter("keep")` reads the BOOLEAN column instead of
    having PushDownPredicates substitute the full signal expression
    (sorted-array HOFs) into the Filter condition — a measured 17x
    interpreted-predicate cliff. Pin the shape: the Filter node's
    condition must be exactly the null-guarded attribute read, with no
    HOF / array machinery in it. Fails if a Spark upgrade learns to
    constant-fold `shuffle()` or if someone deletes the fence."""
    import re

    from cs533_big_data_data_mining_spark.operators.quality import gopher_repetition

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "x x x x x x x x x x")],
        "id long, text string",
    )
    out = gopher_repetition(df, "id", "text").filter("keep")
    p = _plan(out, "formatted")
    conds = [l for l in p.splitlines() if l.strip().startswith("Condition :")]
    assert conds, "expected a Filter node in the plan"
    cond = conds[0]
    # the healthy shape: Condition : (isnotnull(keep#N) AND keep#N)
    assert re.search(r"isnotnull\(keep#\d+\) AND keep#\d+", cond), (
        f"filter no longer reads the boolean column: {cond!r}"
    )
    for hof in ("sort_array", "aggregate(", "transform(", "array_sort", "slice("):
        assert hof not in cond, (
            f"signal expression leaked into the Filter condition ({hof}): "
            "the optimizer fence is gone or Spark optimizes through it"
        )
    # and the filter must still be inside whole-stage codegen (the
    # 17x cliff manifests as an interpreted Predicate outside codegen)
    filt_headers = [l for l in p.splitlines() if re.search(r"\(\d+\) Filter", l)]
    assert any("codegen" in l for l in filt_headers), (
        f"Filter fell out of whole-stage codegen: {filt_headers}"
    )


def test_cached_shuffle_output_is_coalesced(spark):
    """A frame cached after a shuffle must let AQE coalesce its
    partitions: otherwise every later scan of the cache (the PPJoin
    ordered-docs cache, the connected-components edge cache) runs
    spark.sql.shuffle.partitions near-empty tasks. Spark keeps a cached
    plan's partitioning unless get_spark turns
    canChangeCachedPlanOutputPartitioning on."""
    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count().cache()
    try:
        assert df.count() == 5
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert n_shuffle > 1
        assert df.rdd.getNumPartitions() < n_shuffle
    finally:
        df.unpersist()


def test_dbscan_kernels_shuffle_once_on_cell(spark):
    """``neighbors._by_cell``'s ``repartition(par, "cell")`` satisfies
    the kernel's ``groupBy("cell")``: the executed plans of both local
    kernels hold exactly one Exchange, hash-partitioned on ``cell``."""
    import numpy as np

    from cs533_big_data_data_mining_spark.operators.cells import GridSpec, ghost_expand
    from cs533_big_data_data_mining_spark.operators.neighbors import (
        fused_local_phase,
        neighbor_counts,
    )

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(rng.uniform(0.0, 1.0, (400, 2)))],
        "id long, xs array<double>",
    )
    spec = GridSpec(eps=0.05, dims=(0, 1), origin=(0.0, 0.0), width=(0.25, 0.25), ncells=(4, 4))
    for df in (
        neighbor_counts(ghost_expand(pts, spec), 0.05),
        fused_local_phase(ghost_expand(pts, spec, reach=2), 0.05, 4),
    ):
        df.collect()
        final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
        exchanges = [l for l in final.splitlines() if "Exchange " in l]
        assert len(exchanges) == 1, final
        assert "hashpartitioning(cell#" in exchanges[0], final
