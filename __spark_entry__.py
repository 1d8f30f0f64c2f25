"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship DBSCAN query at sf0.001;
``queries()``/``oracle_sql()`` pair every SURVEY.md §2 operator with
a DuckDB-checkable ANSI SQL twin (including full DBSCAN labeling,
expressed as a recursive-CTE connected-components closure).

Float-determinism conventions used throughout so value-hashes match:
* distance predicates accumulate per-dim squared diffs left-to-right
  in float64 on both sides (bit-exact);
* monetary aggregates are summed as DECIMAL (exact) and cast to
  DOUBLE at the end on both sides;
* all computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_SHIPPED = False


def _spread(df):
    """Fan a small single-file scan out to defaultParallelism before
    CPU-bound per-row work (the ``operators.dedup._spread`` contract):
    sf0.1 documents.parquet arrives as ONE partition, and the
    zero-shuffle per-row operators (gopher_repetition, mapInPandas
    kernels, the pipeline flagships' Column-heavy stages) inherit it —
    measured 4-10x wall on the affected driver rows. No-op when the
    scan already has enough splits (the 100 TB case); a round-robin
    repartition never changes per-row results."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package zip to executors (the driver may have built
    its own session without our factory)."""
    global _SHIPPED
    if _SHIPPED:
        return
    try:
        from cs533_big_data_data_mining_spark.session import _package_zip

        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added or local import works
    _SHIPPED = True


def _one_row(spark: SparkSession, **cols) -> DataFrame:
    """Single-row frame of literal values via ``range(1)`` — a pure
    JVM LocalTableScan. ``createDataFrame([one_tuple])`` instead goes
    through the pickled-RDD path with ``defaultParallelism``
    partitions, each needing a Python worker round trip PER ACTION —
    measured 17 s (!) for a 4-way crossJoin of such frames on
    local[32] vs 0.2 s for this shape. Ints become long (the oracle
    compare is dtype-strict), bools stay boolean."""
    exprs = []
    for k, v in cols.items():
        c = F.lit(v)
        if not isinstance(v, bool) and isinstance(v, int):
            c = c.cast("long")
        exprs.append(c.alias(k))
    return spark.range(1).select(*exprs)


# ---------------------------------------------------------------- points

EPS3 = 0.06  # eps for the 3-D embedding projection: ~57% cores, real border/noise mix
MINPTS3 = 5
EPS3_SQL = "(0.06*0.06)"  # eps^2 spelled as the same product the engine computes

_D2_SQL = (
    "(a.x0-b.x0)*(a.x0-b.x0) + (a.x1-b.x1)*(a.x1-b.x1) + (a.x2-b.x2)*(a.x2-b.x2)"
)

_PTS_SQL = """
pts AS (
  SELECT vec_id AS id,
         CAST(embedding[1] AS DOUBLE) AS x0,
         CAST(embedding[2] AS DOUBLE) AS x1,
         CAST(embedding[3] AS DOUBLE) AS x2
  FROM embeddings
)"""

# full DBSCAN as SQL: neighbor counts -> cores -> transitive closure of
# core-core eps-edges -> min-root labels -> dense ids -> border attach
_LABELS_SQL = f"""
WITH RECURSIVE {_PTS_SQL},
nbr AS (
  SELECT a.id AS ia, b.id AS ib FROM pts a JOIN pts b ON {_D2_SQL} <= {EPS3_SQL}
),
cnt AS (SELECT ia AS id, count(*) AS n FROM nbr GROUP BY ia),
core AS (SELECT id FROM cnt WHERE n >= {MINPTS3}),
core_edges AS (
  SELECT n.ia AS u, n.ib AS v FROM nbr n
  JOIN core c1 ON n.ia = c1.id JOIN core c2 ON n.ib = c2.id
),
reach(u, v) AS (
  SELECT u, v FROM core_edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN core_edges e ON r.v = e.u
),
roots AS (SELECT u AS id, min(v) AS root FROM reach GROUP BY u),
dense AS (
  SELECT root, CAST(row_number() OVER (ORDER BY root) AS BIGINT) AS cluster_id
  FROM (SELECT DISTINCT root FROM roots)
),
core_labels AS (SELECT r.id, d.cluster_id FROM roots r JOIN dense d USING (root)),
border AS (
  SELECT n.ia AS id, min(r.root) AS broot
  FROM nbr n JOIN roots r ON n.ib = r.id
  WHERE n.ia NOT IN (SELECT id FROM core)
  GROUP BY n.ia
),
border_labels AS (SELECT b.id, d.cluster_id FROM border b JOIN dense d ON b.broot = d.root),
labels AS (
  SELECT p.id AS id, CAST(COALESCE(cl.cluster_id, bl.cluster_id, 0) AS BIGINT) AS cluster_id
  FROM pts p
  LEFT JOIN core_labels cl ON p.id = cl.id
  LEFT JOIN border_labels bl ON p.id = bl.id
)"""


def _points3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.array(*[F.col("embedding")[j].cast("double") for j in range(3)]).alias("xs"),
    )


def _dbscan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dbscan import dbscan

    labeled = dbscan(_points3(spark, sf_dir), EPS3, MINPTS3)
    return labeled.select("id", F.col("cluster_id").cast("long").alias("cluster_id"))


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full distributed DBSCAN over the sf0.001 embeddings
    (3-D projection), returning (id, cluster_id)."""
    return _dbscan_labels(spark, "/root/testdata/sf0.001")


def _q_scan_project_filter(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_linenumber", "l_quantity")


def _q_bbox(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.stats import bounding_box

    return bounding_box(_points3(spark, sf_dir), 3)


def _q_median_dim(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.stats import dim_quantiles

    return dim_quantiles(_points3(spark, sf_dir), 0, probs=(0.5,))


def _q_grid_cells(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.cells import GridSpec, assign_cells

    spec = GridSpec(eps=0.05, dims=(0, 1), origin=(-0.6, -0.6), width=(0.3, 0.3), ncells=(4, 4))
    return assign_cells(_points3(spark, sf_dir), spec).select("id", "cell")


def _q_ghost_rows(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.cells import GridSpec, ghost_expand

    spec = GridSpec(eps=0.05, dims=(0,), origin=(-0.6,), width=(0.3,), ncells=(4,))
    g = ghost_expand(_points3(spark, sf_dir), spec)
    return g.select("cell", "id", "is_home")


def _q_neighbor_count(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand
    from cs533_big_data_data_mining_spark.operators.neighbors import neighbor_counts

    pts = _points3(spark, sf_dir)
    spec = choose_grid(pts, 3, EPS3)
    return neighbor_counts(ghost_expand(pts, spec), EPS3)


def _q_eps_join(spark, sf_dir):
    """The reference's one non-trivial relational operator (SURVEY §2
    ops 6+8): all ordered pairs within eps, via the cell/ghost
    pattern — never a cross join."""
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_self_join

    pts = _points3(spark, sf_dir)
    spec = choose_grid(pts, 3, EPS3)
    pairs = epsilon_self_join(ghost_expand(pts, spec), EPS3)
    return pairs.filter(F.col("a") < F.col("b"))


def _q_eps_join_2t(spark, sf_dir):
    """Bipartite eps-join: probe points (id < 100) against the rest —
    the two-table generalization of the eps self-join, same cell/ghost
    machinery, never a cross join."""
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_join

    pts = _points3(spark, sf_dir)
    return epsilon_join(pts.filter("id < 100"), pts.filter("id >= 100"), EPS3)


def _q_core_points(spark, sf_dir):
    return (
        _q_neighbor_count(spark, sf_dir)
        .filter(F.col("n_neighbors") >= MINPTS3)
        .select("id")
    )


def _q_cluster_labels(spark, sf_dir):
    return _dbscan_labels(spark, sf_dir)


def _q_cluster_stats(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.stats import cluster_stats

    return cluster_stats(_dbscan_labels(spark, sf_dir))


def _q_dense_ids(spark, sf_dir):
    # range-partitioned zipWithIndex (operators/dbscan.dense_index):
    # the dense numbering never funnels through a one-partition window
    # (round-3 verdict finding #4)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dbscan import dense_index

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return dense_index(li.select("l_suppkey"), "l_suppkey", "dense_id")


SAMPLE_P = 0.25


def _q_sample_count(spark, sf_dir):
    # Bernoulli sampling has no deterministic SQL twin, but its COUNT
    # concentration does: (n_total, sample count within mean +- 6 sigma
    # of Binomial(n_total, p)). The oracle emits (count(*), TRUE), so a
    # sampler that drifts out of binomial bounds hash-mismatches.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.stats import sample_points

    pts = _points3(spark, sf_dir)
    samp = sample_points(pts, SAMPLE_P, seed=42)
    tot = pts.agg(F.count(F.lit(1)).alias("n_total"))
    ns = samp.agg(F.count(F.lit(1)).alias("n_sample"))
    mean = F.col("n_total") * F.lit(SAMPLE_P)
    sd = F.sqrt(F.col("n_total") * F.lit(SAMPLE_P * (1.0 - SAMPLE_P)))
    return tot.crossJoin(ns).select(
        "n_total",
        (
            (F.col("n_sample") >= mean - F.lit(6.0) * sd)
            & (F.col("n_sample") <= mean + F.lit(6.0) * sd)
        ).alias("within_6sigma"),
    )


def _q_agg_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_join_revenue_by_nation(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q_profile_lineitem(spark, sf_dir):
    # data-profiling pass: per-column n/null/distinct/min/max/mean in
    # ONE aggregate over the table (exact distinct for the oracle;
    # approx_distinct=True is the fully-combinable 100 TB mode)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.profile import profile_numeric

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return profile_numeric(li, PROFILE_COLS)


def _q_expectations(spark, sf_dir):
    # one-pass data-quality gate over lineitem: every rule a
    # conditional-count aggregate; null predicate results count as
    # violations
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.profile import check_expectations

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return check_expectations(
        li,
        {
            "quantity_positive": F.col("l_quantity") > 0,
            "discount_in_range": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.3),
            "price_not_null": F.col("l_extendedprice").isNotNull(),
            "returnflag_valid": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


def _q_rollup_revenue(spark, sf_dir):
    # grouping-sets coverage: revenue at (region, nation), per-region
    # subtotal, and grand total in ONE pass (Catalyst expands the
    # rollup into a single shuffle with grouping-id). DECIMAL sums.
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    j = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("r_name", "n_name", "revenue", "n_orders")
    )


def _q_window_topk(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.createOrReplaceTempView("_orders_w")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM _orders_w)
        WHERE rn <= 2
        """
    )


# ------------------------------------------------------- extensions
# (training-data pipeline ops: dedup / similarity / text / multimodal
#  / streaming — BASELINE north star, SURVEY §7 Phase E)

_TOKS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x != '')"

# functions/text.SUBWORD_RE with SQL-escaped quotes (RE2-safe subset)
_SUBWORD_RE_SQL = (
    "''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
)

_SHINGLES_SQL = f"""
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [] END)) AS shingle
  FROM toks
)"""


_JACCARD_PAIRS_SQL = f"""
WITH {_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT ia AS a, ib AS b,
       round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.ia = sa.doc_id
JOIN sizes sb ON inter.ib = sb.doc_id
WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= 0.8
"""


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of functions/vector.dot — same left-to-right fold."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )


# text_stats oracle: mirrors functions/text.py formulas term-for-term
_LANG_MARKERS_SQL = {
    "de": "['der','die','das','und','ist','nicht','ein']",
    "en": "['the','a','of','and','to','is','in']",
    "es": "['el','la','de','y','que','los','un']",
    "fr": "['le','la','et','les','des','une','est']",
    "zh": "['的','是','了','在','我','有','和']",
}
_STOPWORDS_SQL = "['the','a','of','and','to','is','in','it','on','for']"
_LANG_SCORE_COLS = ",\n  ".join(
    f"len(list_intersect(list_distinct(t), {arr})) AS s_{lang}"
    for lang, arr in sorted(_LANG_MARKERS_SQL.items())
)

# shared by text_stats and curate_docs oracles: referenced columns are
# t (token list), text, best / s_<lang> (marker scores)
_LANG_CASE_SQL = """CASE WHEN best = 0 THEN 'und'
       WHEN s_de = best THEN 'de'
       WHEN s_en = best THEN 'en'
       WHEN s_es = best THEN 'es'
       WHEN s_fr = best THEN 'fr'
       ELSE 'zh' END"""
_QUALITY_EXPR_SQL = f"""round(
    0.25 * least(CAST(len(t) AS DOUBLE) / 50.0, 1.0)
    + 0.25 * (CASE WHEN len(t) > 0
              THEN CAST(len(list_filter(t, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                   / CAST(len(t) AS DOUBLE) ELSE 0.0 END)
    + 0.25 * (CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
    + 0.25 * least((CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                   / CAST(len(t) AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0),
  6)"""
_GREATEST_LANGS_SQL = "greatest(" + ",\n           ".join(
    f"len(list_intersect(list_distinct(t), {_LANG_MARKERS_SQL[lang]}))"
    for lang in sorted(_LANG_MARKERS_SQL)
) + ")"
_TEXT_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents
),
scored AS (
  SELECT doc_id, text, t,
  {_LANG_SCORE_COLS},
  {_GREATEST_LANGS_SQL} AS best
  FROM toks
)
SELECT doc_id,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{_SUBWORD_RE_SQL}')) AS BIGINT) AS n_subwords,
  {_LANG_CASE_SQL} AS lang_guess,
  {_QUALITY_EXPR_SQL} AS quality,
  list_reduce(list_prepend(0, range(1, length(text) + 1)),
              (acc, i) -> (acc * 31 + ascii(substring(text, CAST(i AS INT), 1))) % 2147483647) AS fp
FROM scored
"""


# DuckDB twin of simhash_poly31: token hash = the fingerprint
# recurrence (same as text_stats' fp oracle), then 31 weighted bit
# votes and a sign pack — generated, not hand-written, so bit count
# and weights cannot drift from the Spark side.
_FP_TOK_SQL = (
    "list_reduce(list_prepend(0, range(1, length(tok) + 1)), "
    "(acc, i) -> (acc * 31 + ascii(substring(tok, CAST(i AS INT), 1))) % 2147483647)"
)
_SIMHASH_CTES = f"""
toks AS (SELECT doc_id AS id, unnest({_TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT id, tok, count(*) AS w FROM toks GROUP BY id, tok),
h AS (SELECT id, w, {_FP_TOK_SQL} AS th FROM tf),
v AS (SELECT id,
  {", ".join(f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN w ELSE -w END) AS v{b}" for b in range(31))}
  FROM h GROUP BY id),
sigs AS (SELECT id,
  CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(31))} AS BIGINT) AS simhash
  FROM v)"""

_SIMHASH_SQL = f"WITH {_SIMHASH_CTES.strip()}\nSELECT id, simhash FROM sigs"

# d=1 on the synthetic corpus: its docs are short, so 31-bit sigs
# concentrate at low distances (d<=4 already pairs 21% of sf0.01);
# the planted exact/near dups all land at d=0
SIMHASH_MAX_HAMMING = 1

# verified near-dup pairs: the band-candidate step has recall 1 at
# bands = d+1 (pigeonhole), so the oracle is the clean all-pairs
# Hamming predicate — band bucketing is a pure physical optimization
_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CTES.strip()}
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def _q_dedup_exact(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup_groups(docs, "doc_id", "text")


def _q_dedup_ngram_jaccard(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


def _q_dedup_minhash(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


def _q_dedup_minhash_2t(spark, sf_dir):
    # incremental dedup: the even-id half ("new shard") checked
    # against the odd-id half ("historical corpus") — band join only
    # ACROSS the two tables, verified with exact Jaccard
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import (
        minhash_dedup_pairs_bipartite,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs_bipartite(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"),
        "doc_id", "text", n=3, threshold=0.8,
    )


def _q_simhash(spark, sf_dir):
    # the poly31 variant: token hash = the fingerprint recurrence, so
    # the ENTIRE signature (hash -> weighted bit votes -> sign pack)
    # has an exact DuckDB twin. simhash64 (xxhash64 tokens) shares the
    # vote/pack machinery and stays covered by tests/test_dedup.py.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import simhash_poly31

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_poly31(docs, "doc_id", "text")


def _q_simhash_neardup(spark, sf_dir):
    # poly31 variant: signature AND the Hamming verify are both exact
    # in DuckDB, so candidates -> bit_count(xor) <= d is fully
    # oracle-checked (round-4 verdict "next round" #6)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=SIMHASH_MAX_HAMMING, token_hash="poly31"
    )


def _q_embed_neardup(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb, 0.35)


def _q_sim_topk(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk_bruteforce(emb, emb.filter("vec_id < 10"), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


IVF_RECALL_BOUND = 0.5  # measured 0.68 @ sf0.01 nprobe=3/8; bound leaves drift margin


def _q_sim_topk_ivf(spark, sf_dir):
    # Partial-probe IVF is approximate by design; its checkable
    # property is recall against the full-probe twin (which itself is
    # oracle-checked bit-exact vs brute force in sim_topk_ivf_full).
    # Returns (n_full, recall_ok); the oracle emits (50, TRUE).
    #
    # Computed eagerly with ONE cached assignment pass: the corpus
    # argmax runs once and both probes (and the recall join) read the
    # cache — round-4 ran the full assignment per probe per action
    # (verdict "what's wrong" #2). Caches are released before return.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import ivf_index, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    cent, assigned = ivf_index(emb, 8)  # ONE centroid fit shared by both probes
    assigned = assigned.cache()
    idx = (cent, assigned)
    part = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=3, index=idx).select(
        "query_id", "neighbor_id"
    ).cache()
    full = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8, index=idx).select(
        "query_id", "neighbor_id"
    ).cache()
    n_full = full.count()
    part.count()
    n_hits = part.join(full, ["query_id", "neighbor_id"]).count()
    for frame in (part, full, assigned):
        frame.unpersist()
    return _one_row(spark, n_full=n_full, recall_ok=bool(n_hits >= n_full * IVF_RECALL_BOUND))


def _q_sim_topk_ivf_full(spark, sf_dir):
    # full-probe IVF (nprobe = n_centroids) must equal brute force
    # bit-for-bit — scored by the same order-deterministic column
    # fold — so it shares sim_topk's SQL oracle (round-1 verdict #5)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, emb.filter("vec_id < 10"), k=5, n_centroids=8, nprobe=8)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _q_text_stats(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
        subword_count,
        token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        subword_count("text").cast("long").alias("n_subwords"),
        lang_id("text").alias("lang_guess"),
        quality_score("text").alias("quality"),
        fingerprint("text").alias("fp"),
    )


def _q_tfidf(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.tfidf import tf_idf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tf_idf(docs, "doc_id", "text")


def _q_multimodal_meta(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.multimodal import (
        decode_media,
        documents_as_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return decode_media(documents_as_media(docs)).select(
        "media_id", "modality", "n_bytes", "payload_ok"
    )


def _q_multimodal_features(spark, sf_dir):
    # byte_histogram_features is a REAL extractor (no codec needed):
    # L1-normalized byte-value histogram over the opaque payload.
    # Emitted as (media_id, bin, frac) scalar rows — same float64
    # count/size division on both engines, so values are bit-identical.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.multimodal import (
        byte_histogram_features,
        documents_as_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = byte_histogram_features(documents_as_media(docs), bins=64)
    return (
        feats.select("media_id", F.posexplode("features").alias("bin", "frac"))
        .filter(F.col("frac") > 0)
        .withColumn("bin", F.col("bin").cast("long"))
    )


def _q_multimodal_frames(spark, sf_dir):
    # frame-sample plumbing: deterministic stub frame count
    # (n_bytes // 1024 + 1), sampled every 2nd index — exactly
    # SQL-reproducible from octet lengths
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.multimodal import (
        documents_as_media,
        frame_sample_stub,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = frame_sample_stub(documents_as_media(docs), every_n=2)
    return out.withColumn("frame_index", F.col("frame_index").cast("long"))


def _q_multimodal_decode(spark, sf_dir):
    # REAL codec-free decoding (round 8; PNG added round 9): every doc
    # gets a planted payload — a solid-color binary PPM (dims and
    # channel colors are pure functions of doc_id), every 13th a BMP,
    # every 11th a PCM WAV, every 7th an RGB PNG (cycling row filters,
    # so all five unfilter paths run under the oracle), every 19th a
    # greyscale PNG, every 23rd a baseline JPEG, every 29th an
    # INDEXED-COLOR PNG (2-entry palette, one index-1 pixel, bit
    # depth cycling 1/2/4/8), every 31st a PROGRESSIVE JPEG (SOF2
    # multi-scan: spectral selection + successive approximation +
    # EOB runs + cycling restart intervals; round 10), every 17th
    # garbage — and the numpy
    # decode route +
    # pixel-level image_stats must recover dimensions, validity, and
    # the exact channel means the construction dictates (solid color
    # => mean == the color; PNG means only come out right if the
    # zlib-inflate + unfiltering reconstruction is exact).
    # The fixture is driver-built at oracle SFs (the byte payloads are
    # Python-constructed; the pipeline itself is distributed
    # mapInPandas either way).
    _ensure_shipped(spark)
    import numpy as np

    from cs533_big_data_data_mining_spark.operators.multimodal import (
        decode_media,
        image_stats,
        pack_bmp24,
        pack_jpeg,
        pack_jpeg_progressive,
        pack_png,
        pack_png_indexed,
        pack_ppm,
        pack_wav_pcm16,
    )
    from cs533_big_data_data_mining_spark.session import local_df

    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    ]
    rows = []
    for i in sorted(ids):
        if i % 17 == 0:
            payload = b"garbage"
        elif i % 13 == 0:
            w, h = 3 + i % 9, 2 + i % 5
            px = np.empty((h, w, 3), dtype=np.uint8)
            px[..., 0] = i % 256
            px[..., 1] = (i * 3) % 256
            px[..., 2] = (i * 5) % 256
            payload = pack_bmp24(px)
        elif i % 11 == 0:
            n = 10 + i % 23
            payload = pack_wav_pcm16(np.full((n, 1), 777, dtype=np.int16), 8000)
        elif i % 7 == 0:
            # interlace cycles by parity (round 10): Adam7 is
            # value-invisible to the oracle, so both source layouts
            # must reconstruct the same solid color
            w, h = 5 + i % 11, 2 + i % 6
            px = np.empty((h, w, 3), dtype=np.uint8)
            px[..., 0] = i % 256
            px[..., 1] = (i * 11) % 256
            px[..., 2] = (i * 17) % 256
            payload = pack_png(px, filters="cycle", interlace=bool(i % 2))
        elif i % 19 == 0:
            # greyscale bit depth cycles 16/8/4/2/1 (round 10), also
            # alternating interlace; the construction mean per depth:
            # 16-bit plants c*257 (high-byte strip returns c), sub-
            # byte plants LEVEL l = i %% 2^d (decodes l*(255/(2^d-1)))
            w, h = 3 + i % 8, 2 + i % 4
            d = (16, 8, 4, 2, 1)[i % 5]
            il = bool((i // 5) % 2)
            if d == 16:
                c = (i * 23) % 256
                payload = pack_png(
                    np.full((h, w, 1), c * 257, dtype=np.uint16),
                    filters="cycle", bit_depth=16, interlace=il,
                )
            elif d == 8:
                payload = pack_png(
                    np.full((h, w, 1), (i * 23) % 256, dtype=np.uint8),
                    filters="cycle", interlace=il,
                )
            else:
                payload = pack_png(
                    np.full((h, w, 1), i % (1 << d), dtype=np.uint8),
                    filters="cycle", bit_depth=d, interlace=il,
                )
        elif i % 23 == 0:
            # baseline JPEG (round 9): solid greyscale with the flat
            # quant=8 table is EXACT (DC-only blocks, integral
            # quantization) — the huffman/IDCT/crop chain must recover
            # the construction value to 6 dp for the mean to match
            w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
            payload = pack_jpeg(
                np.full((h, w), (i * 29) % 256, dtype=np.uint8),
                quant=8,
                restart_interval=2 if i % 2 == 0 else 0,
            )
        elif i % 29 == 0:
            # indexed-color PNG (round 9): a 2-entry palette, index 1
            # only at (0, 0) — the mean is (c*n + 1)/n per channel, so
            # bit unpacking + palette lookup must be exact; the bit
            # depth cycles 1/2/4/8 (value-invisible to the oracle)
            w, h = 3 + i % 9, 2 + i % 5
            c0 = (i % 199, (i * 3) % 199, (i * 5) % 199)
            c1 = tuple(v + 1 for v in c0)
            idx = np.zeros((h, w), dtype=np.uint8)
            idx[0, 0] = 1
            payload = pack_png_indexed(
                idx, [c0, c1], bit_depth=(1, 2, 4, 8)[i % 4], filters="cycle"
            )
        elif i % 31 == 0:
            # PROGRESSIVE JPEG (round 10): solid greyscale through the
            # full SOF2 multi-scan chain (point-transformed DC first,
            # split spectral-selection AC bands as pure EOB runs, DC +
            # AC refinement scans) — exact for the same flat-quant
            # reason as the baseline plant; restart intervals cycle
            w, h = 8 * (1 + i % 2), 8 * (1 + i % 3)
            payload = pack_jpeg_progressive(
                np.full((h, w), (i * 37) % 256, dtype=np.uint8),
                quant=8,
                restart_interval=(0, 2, 3)[i % 3],
            )
        else:
            w, h = 4 + i % 13, 3 + i % 7
            px = np.empty((h, w, 3), dtype=np.uint8)
            px[..., 0] = i % 256
            px[..., 1] = (i * 7) % 256
            px[..., 2] = (i * 13) % 256
            payload = pack_ppm(px)
        rows.append((i, "media", bytearray(payload), "syn"))
    media = local_df(
        spark, rows, "media_id long, modality string, payload binary, source string"
    )
    meta = decode_media(media, decode="numpy")
    st = image_stats(media)
    return meta.join(st.select("media_id", "channel_means"), "media_id").select(
        F.col("media_id").alias("id"),
        "width",
        "height",
        "channels",
        F.col("payload_ok").alias("ok"),
        # try_element_at: ANSI mode is ON, and non-image rows carry []
        F.try_element_at("channel_means", F.lit(1)).alias("mean_r"),
        F.try_element_at("channel_means", F.lit(2)).alias("mean_g"),
        F.try_element_at("channel_means", F.lit(3)).alias("mean_b"),
    )


def _q_multimodal_gif(spark, sf_dir):
    # REAL GIF decoding + video-style frame sampling (round 9): every
    # doc gets a planted payload whose frame structure and per-frame
    # means are pure functions of doc_id — every 17th garbage (no
    # rows), every 13th a 3-frame animation whose sampled frame 2 is a
    # sub-rectangle overlay (compositing must mix the two solid colors
    # in the exact pixel-count proportion), every 11th an INTERLACED
    # single-frame GIF with one +1 pixel (mean = (C*n+1)/n — the LZW +
    # deinterlace reconstruction must be exact), every 7th a still PPM
    # (stills are one-frame sequences under the uniform video
    # contract), rest full-canvas solid animations of 1..5 frames.
    # frame_sample_media(every_n=2) emits frames 0, 2, 4.
    _ensure_shipped(spark)
    import numpy as np

    from cs533_big_data_data_mining_spark.operators.multimodal import (
        frame_sample_media,
        pack_gif,
        pack_ppm,
    )
    from cs533_big_data_data_mining_spark.session import local_df

    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    ]
    rows = []
    for i in sorted(ids):
        if i % 17 == 0:
            payload = b"not a gif"
        elif i % 13 == 0:
            w, h = 6 + i % 7, 4 + i % 5
            w2, h2 = 2 + i % 3, 1 + i % 3
            f0 = np.empty((h, w, 3), dtype=np.uint8)
            f0[..., 0], f0[..., 1], f0[..., 2] = i % 199, (i * 3) % 199, (i * 5) % 199
            f1 = np.empty((h2, w2, 3), dtype=np.uint8)
            f1[..., 0], f1[..., 1], f1[..., 2] = (i * 7) % 199, (i * 9) % 199, (i * 19) % 199
            f2 = np.empty((h2, w2, 3), dtype=np.uint8)
            f2[..., 0], f2[..., 1], f2[..., 2] = (i * 11) % 199, (i * 13) % 199, (i * 17) % 199
            payload = pack_gif([f0, f1, f2], positions=[(0, 0), (1, 1), (1, 1)])
        elif i % 11 == 0:
            w, h = 4 + i % 9, 3 + i % 6
            px = np.empty((h, w, 3), dtype=np.uint8)
            px[..., 0], px[..., 1], px[..., 2] = (i * 3) % 199, (i * 5) % 199, (i * 7) % 199
            px[0, 0] += 1
            payload = pack_gif([px], interlace=True)
        elif i % 7 == 0:
            w, h = 3 + i % 5, 2 + i % 4
            px = np.empty((h, w, 3), dtype=np.uint8)
            px[..., 0], px[..., 1], px[..., 2] = (i * 19) % 256, (i * 23) % 256, (i * 29) % 256
            payload = pack_ppm(px)
        else:
            w, h = 4 + i % 9, 3 + i % 6
            frames = []
            for k in range(1 + i % 5):
                f = np.empty((h, w, 3), dtype=np.uint8)
                f[..., 0] = (i * 3 + k * 7) % 199
                f[..., 1] = (i * 5 + k * 11) % 199
                f[..., 2] = (i * 7 + k * 13) % 199
                frames.append(f)
            payload = pack_gif(frames)
        rows.append((i, "video", bytearray(payload), "syn"))
    media = local_df(
        spark, rows, "media_id long, modality string, payload binary, source string"
    )
    return frame_sample_media(media, every_n=2).select(
        F.col("media_id").alias("id"),
        "frame_index",
        "n_frames",
        "mean_r",
        "mean_g",
        "mean_b",
    )


# DuckDB twin of byte_histogram_features: bytes recovered from the
# hex encoding of the utf-8 payload, bucketed by value >> 2 (64 bins),
# counted per (doc, bin) and divided by the byte count — the same two
# integers in the same float64 division the kernel performs
_MM_FEATURES_SQL = """
WITH hexed AS (
  SELECT doc_id, upper(to_hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0
),
bytes AS (
  SELECT doc_id, n,
         unnest(list_transform(range(0, n), i ->
           (strpos('0123456789ABCDEF', substring(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i+2 AS INT), 1)) - 1))) AS v
  FROM hexed
)
SELECT doc_id AS media_id, CAST(v // 4 AS BIGINT) AS bin,
       CAST(count(*) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) AS frac
FROM bytes GROUP BY doc_id, v // 4
"""

_MM_FRAMES_SQL = """
SELECT doc_id AS media_id,
       CAST(unnest(range(0, octet_length(encode(text)) // 1024 + 1, 2)) AS BIGINT) AS frame_index
FROM documents
"""


CURATE_MINQ = 0.5  # keeps ~82% at sf0.01 — the filter does real work
CURATE_JACCARD = 0.8


def _q_curate_docs(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.curate import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_documents(
        docs, min_quality=CURATE_MINQ, jaccard_threshold=CURATE_JACCARD
    )


# full curation pipeline as one recursive-CTE oracle: score -> filter
# -> exact dedup (min-id keeper) -> near-dup CC closure -> survivors
_CURATE_SQL = f"""
WITH RECURSIVE
tt AS (SELECT doc_id AS id, text, {_TOKS_SQL} AS t FROM documents),
ls AS (SELECT id, text, t,
  {_LANG_SCORE_COLS},
  {_GREATEST_LANGS_SQL} AS best
  FROM tt),
scored AS (SELECT id, text, t, {_LANG_CASE_SQL} AS lang_guess, {_QUALITY_EXPR_SQL} AS quality FROM ls),
kept AS (SELECT * FROM scored WHERE quality >= {CURATE_MINQ}),
uniq AS (
  SELECT k.* FROM kept k
  JOIN (SELECT min(id) AS id FROM kept GROUP BY text) m ON k.id = m.id
),
sh AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [] END)) AS shingle
  FROM uniq
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
jp AS (
  SELECT ia AS a, ib AS b
  FROM inter JOIN sizes sa ON inter.ia = sa.id JOIN sizes sb ON inter.ib = sb.id
  WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= {CURATE_JACCARD}
),
e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
),
mins AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u)
SELECT u.id, u.lang_guess, u.quality
FROM uniq u LEFT JOIN mins m ON u.id = m.id
-- reach contains u itself (any edge closes a 2-cycle), so the
-- group survivor has mn == its own id: keep mn >= id, drop mn < id
WHERE m.id IS NULL OR m.mn >= u.id
"""


def _q_curate_corpus(spark, sf_dir):
    # cross-modal flagship: lexical (Jaccard) UNION semantic (cosine)
    # near-dup edges over quality-filtered, exactly-deduped docs, one
    # transitive closure, min-id survivors
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.curate import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return curate_corpus(
        docs,
        embs,
        min_quality=CURATE_MINQ,
        jaccard_threshold=CURATE_JACCARD,
        cosine_threshold=EMBED_CURATE_T,
    )


EMBED_CURATE_T = 0.35  # reuses embed_neardup's validated threshold


def _q_curate_embeds(spark, sf_dir):
    # semantic-dedup twin of curate_docs: cosine near-dup pairs ->
    # transitive closure -> min-id survivors, oracle = recursive CTE
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.curate import curate_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return curate_embeddings(emb, threshold=EMBED_CURATE_T)


_CURATE_EMBEDS_SQL = f"""
WITH RECURSIVE
emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
jp AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE round({_dot_sql('a.v', 'b.v')}
              / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6)
        >= {EMBED_CURATE_T}
),
e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
),
mins AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u)
SELECT emb.vec_id AS id
FROM emb LEFT JOIN mins m ON emb.vec_id = m.id
WHERE m.id IS NULL OR m.mn >= emb.vec_id
"""


# corpus oracle = the curate_docs recursive-CTE oracle with the edge
# set widened to the UNION of lexical and semantic pairs (cosine pairs
# computed over embeddings of exactly-deduped survivors only, same
# restriction the engine applies)
_CURATE_CORPUS_SQL = _CURATE_SQL.replace(
    "e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),",
    f"""embk AS (
  SELECT e.vec_id AS id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings e JOIN uniq u ON e.vec_id = u.id
),
jc AS (
  SELECT a.id AS a, b.id AS b
  FROM embk a JOIN embk b ON a.id < b.id
  WHERE round({_dot_sql('a.v', 'b.v')}
              / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6)
        >= {EMBED_CURATE_T}
),
alledges AS (SELECT a, b FROM jp UNION SELECT a, b FROM jc),
e AS (SELECT a AS u, b AS v FROM alledges UNION ALL SELECT b AS u, a AS v FROM alledges),""",
)


FUNNEL_STEPS = ["view", "click", "purchase"]


def _q_funnel(spark, sf_dir):
    # per-user ordered funnel progression (view -> click -> purchase):
    # one groupBy + a codegen'd sequential fold, no per-step self-joins
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.funnel import funnel_stages
    from cs533_big_data_data_mining_spark.streaming.events import load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    return funnel_stages(ev, FUNNEL_STEPS)


def _q_sessionize(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.streaming.events import load_events
    from cs533_big_data_data_mining_spark.streaming.sessions import sessionize

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
        "value_sum",
    )


SESS_EQ_COVERAGE = 0.5  # only watermark-open tail sessions may be unemitted


def _q_sessionize_stream_eq(spark, sf_dir):
    # Stream-vs-batch sessionize equivalence as an oracle-checkable
    # property (round-4 verdict "next round" #8): the stateful
    # streaming operator (applyInPandasWithState) emits only sessions
    # CLOSED by the advancing watermark, so the checkable property is
    # (1) every emitted session equals a batch session field-for-field
    # and (2) emitted count covers >= 50% of batch sessions (only the
    # watermark-open tail may be missing). The oracle emits the batch
    # session count (from the same recursive gaps-and-islands SQL the
    # sessionize oracle uses) + TRUE + TRUE.
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.streaming.events import (
        load_events,
        read_events_stream,
        run_stream_to_memory,
    )
    from cs533_big_data_data_mining_spark.streaming.sessions import (
        sessionize,
        sessionize_stream,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    src = tempfile.mkdtemp(prefix="sess_eq_")
    try:
        # DETERMINISTIC ascending time slices: repartitionByRange
        # re-samples its bounds per run, and an unlucky boundary can
        # split one user's burst so a fragment lands behind the
        # advancing watermark — closing a session early and breaking
        # the subset property flakily. Quantile cut points collected
        # ONCE become filter literals; each slice is written as its own
        # ordered file (zero-padded names = deterministic source order).
        import glob
        import shutil

        evm = ev.withColumn("_us", F.unix_micros("ts"))
        cuts = evm.stat.approxQuantile("_us", [i / 6 for i in range(1, 6)], 0.001)
        bounds = [float("-inf"), *sorted(set(cuts)), float("inf")]

        # ONE partitioned write replaces the six per-slice filter
        # jobs (round 13, guide §1.2 fewer passes): the slice id is
        # the same bucket the filters encoded (#cuts strictly below
        # _us), the shuffle keys each slice into one task, and the
        # in-partition sort keeps each slice file ordered by ts as
        # before — the source scans once instead of six times.
        # The COPIES then run SEQUENTIALLY in slice order with
        # explicit ascending mtimes: FileStreamSource orders files by
        # MODIFICATION TIME, not name — parallel copies finishing out
        # of slice order under CPU load made a later trigger deliver
        # OLDER events, which the advanced watermark dropped as late,
        # emitting partial sessions that are not batch subsets (the
        # round-9 "known sensitivity", now closed: source order is a
        # pure function of the slice index, load cannot reorder it)
        cuts_sorted = sorted(set(cuts))
        slice_id = F.lit(0)
        for c in cuts_sorted:
            slice_id = slice_id + (F.col("_us") > F.lit(float(c))).cast("int")
        stage = f"{src}_stage"
        (
            evm.withColumn("__slice", slice_id)
            .drop("_us")
            .repartition(len(bounds) - 1, "__slice")
            .sortWithinPartitions("__slice", "ts")
            .write.mode("overwrite")
            .partitionBy("__slice")
            .parquet(stage)
        )
        import os

        base_mt = int(os.path.getmtime(src))
        for i in range(len(bounds) - 1):
            pf = glob.glob(f"{stage}/__slice={i}/part-*.parquet")
            if pf:
                dst = f"{src}/{i:02d}.parquet"
                shutil.copy(pf[0], dst)
                os.utime(dst, (base_mt + i, base_mt + i))
        shutil.rmtree(stage, ignore_errors=True)
        stream = sessionize_stream(read_events_stream(spark, src, max_files_per_trigger=2))
        # scope the STATE partition count to the workload: 20k events
        # over 3 micro-batches doesn't need 32 state tasks per batch —
        # 4 cuts ~7/8 of the per-batch state-task scheduling (r12
        # interleaved A/B: p4 beat p8 on every iteration). The
        # conf is read at stream start; restored for later queries.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            run_stream_to_memory(stream, "sessions_eq", output_mode="append")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        got = spark.sql("SELECT * FROM sessions_eq")
        batch = sessionize(ev)
        n_batch = batch.count()
        n_got = got.count()
        # field-exact on keys/counts; value_sum within 1e-6 (stream
        # accumulates float64 in (ts, event_id) order, batch sums
        # DECIMAL — both exact to 6 dp on this data, joined with
        # tolerance so a last-bit difference can't flip the property)
        joined = got.alias("g").join(
            batch.alias("b"),
            ["user_id", "session_start", "session_end", "n_events"],
        )
        n_match = joined.filter(
            F.abs(F.col("g.value_sum") - F.col("b.value_sum")) <= F.lit(1e-6)
        ).count()
        subset_ok = bool(n_match == n_got)
        coverage_ok = bool(n_got >= SESS_EQ_COVERAGE * n_batch)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _one_row(
        spark, n_batch=n_batch, subset_ok=bool(subset_ok), coverage_ok=bool(coverage_ok)
    )


def _q_curate_stream_eq(spark, sf_dir):
    # Streaming ingest-time curation (score -> filter -> redact ->
    # watermarked exact dedup) checked against its own batch twin:
    # the unified function runs in both modes, and the invariant is
    # the surviving TEXT SET (batch keeps min-id, stream keeps
    # first-arrival — representatives may differ, texts may not).
    # Watermark is set above the synthetic ts span so no dedup state
    # evicts mid-stream; the oracle emits the batch survivor count.
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from cs533_big_data_data_mining_spark.streaming.curate import curate_ingest
    from cs533_big_data_data_mining_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )
    src = tempfile.mkdtemp(prefix="curate_eq_")
    try:
        docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(src)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        stream_docs = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            run_stream_to_memory(
                curate_ingest(stream_docs, watermark="365 days"),
                "curate_eq",
                output_mode="append",
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        got = spark.sql("SELECT * FROM curate_eq")
        batch = curate_ingest(docs)
        n_batch = batch.count()
        n_got = got.count()
        # null-safe set equality of surviving texts via exceptAll
        extra = got.select("clean").exceptAll(batch.select("clean")).count()
        missing = batch.select("clean").exceptAll(got.select("clean")).count()
        ok = bool(n_got == n_batch and extra == 0 and missing == 0)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _one_row(spark, n_batch=n_batch, stream_matches=bool(ok))


def _q_curate_nb_stream_eq(spark, sf_dir):
    # TRAINED langid at the stream edge (round-11, VERDICT r10 #5):
    # the same unified curate_ingest, now gating admission with the
    # NB classifier (lang_id_nb is stateless scoring — model collected
    # at plan-build, zero shuffle — so it streams with zero state).
    # Planted multi-language classes via the langid_route_eq
    # construction; the stream run and the batch twin use the SAME
    # model frame, and the invariant is the surviving text set. The
    # oracle replays the full NB chain in SQL (shared CTE body with
    # langid_route_eq) to recompute the admitted-count independently.
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from cs533_big_data_data_mining_spark.operators.classify import langid_train
    from cs533_big_data_data_mining_spark.session import local_df
    from cs533_big_data_data_mining_spark.streaming.curate import curate_ingest
    from cs533_big_data_data_mining_spark.streaming.events import run_stream_to_memory

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", _langid_eq_text().alias("text"))
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")))
    )
    fit = langid_train(
        docs.filter(F.col("doc_id") % 3 == 0),
        "text",
        n_buckets=LANGID_EQ_B,
        alpha=LANGID_EQ_ALPHA,
        max_n=LANGID_EQ_MAX_N,
    )
    model = local_df(
        spark,
        [(r["label"], r["b"], r["llh"]) for r in fit.collect()],
        "label string, b long, llh double",
    )
    kw = {"langs": ("en",), "langid_model": model, "langid_impl": "arrow"}
    src = tempfile.mkdtemp(prefix="curate_nb_eq_")
    try:
        docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(src)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        stream_docs = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            run_stream_to_memory(
                curate_ingest(stream_docs, watermark="365 days", **kw),
                "curate_nb_eq",
                output_mode="append",
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        got = spark.sql("SELECT * FROM curate_nb_eq")
        batch = curate_ingest(docs, **kw)
        n_batch = batch.count()
        n_got = got.count()
        extra = got.select("clean").exceptAll(batch.select("clean")).count()
        missing = batch.select("clean").exceptAll(got.select("clean")).count()
        ok = bool(n_got == n_batch and extra == 0 and missing == 0)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _one_row(spark, n_batch=n_batch, stream_matches=bool(ok))


SAMPLE_FRACS = {"src0": 0.25, "src1": 0.5, "src2": 0.0}  # others keep 100%

# --- round-7 curation operators -------------------------------------

URL_DEDUP_GROUPS = 49  # coprime to the 5-variant selector: every group
# mixes variant SHAPES, so the rows test cross-variant collapse

GOPHER_MIN_WORDS = 50  # the synthetic docs average ~54 words and ~0.8
GOPHER_MIN_STOP = 1  # stopword hits, so these two rules split the corpus

DSIR_BUCKETS = 512
DSIR_ALPHA = 0.5

# THE one copy of the DSIR oracle CTE chain (poly31 bucket recurrence,
# add-alpha smoothing, round-9dp-then-DECIMAL-sum) — shared by the
# dsir_weights and dsir_resample oracles so the two can't de-sync
_DSIR_GRAMS = "unnest(t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))"
# ONE poly31 gram-bucket template (parameterized on the bucket count)
# derives both the DSIR and the NB-classifier oracles — a recurrence
# fix in one place can't de-sync the other
_NB_BUCKET_SQL = (
    "list_reduce(list_prepend(0, range(1, length(g) + 1)), "
    "(acc, i) -> (acc * 31 + ascii(substring(g, CAST(i AS INT), 1))) "
    "% 2147483647) % {B}"
)
_DSIR_BUCKET = _NB_BUCKET_SQL.format(B=DSIR_BUCKETS)


def _dsir_chain_sql(target_toks: str, raw_toks: str) -> str:
    """THE one DuckDB spelling of the DSIR chain (poly31 gram buckets,
    add-alpha smoothing, round-9dp-then-DECIMAL-sum, 6-dp logratio) —
    shared by the ``dsir_weights``, ``dsir_resample``, and
    ``refinedweb_pipeline`` oracles so the three can never de-sync.
    Both arguments are CTE names exposing ``(doc_id, t)`` token-array
    rows; emits CTEs ``dtg drg dbt dbr dsir_tb dsir_rb dsir_tt
    dsir_rt dsir_lr per`` where ``per`` holds
    ``(doc_id, n_grams, logratio)`` over the raw relation. CTE names
    start in column 0 so the refinedweb MATERIALIZED rewrite sees
    them."""
    return f"""dtg AS (SELECT {_DSIR_GRAMS} AS g FROM {target_toks}),
drg AS (SELECT doc_id, {_DSIR_GRAMS} AS g FROM {raw_toks}),
dbt AS (SELECT {_DSIR_BUCKET} AS bk FROM dtg),
dbr AS (SELECT doc_id, {_DSIR_BUCKET} AS bk FROM drg),
dsir_tb AS (SELECT bk, count(*) AS ct FROM dbt GROUP BY bk),
dsir_rb AS (SELECT bk, count(*) AS cr FROM dbr GROUP BY bk),
dsir_tt AS (SELECT COALESCE(sum(ct), 0) AS t_tot FROM dsir_tb),
dsir_rt AS (SELECT COALESCE(sum(cr), 0) AS r_tot FROM dsir_rb),
dsir_lr AS (
  SELECT dsir_rb.bk,
         round(ln((COALESCE(dsir_tb.ct, 0) + {DSIR_ALPHA}) / (t_tot + {DSIR_ALPHA} * {DSIR_BUCKETS}))
             - ln((dsir_rb.cr + {DSIR_ALPHA}) / (r_tot + {DSIR_ALPHA} * {DSIR_BUCKETS})), 9) AS lr
  FROM dsir_rb LEFT JOIN dsir_tb USING (bk), dsir_tt, dsir_rt
),
per AS (
  SELECT doc_id, count(*) AS n_grams,
         round(CAST(sum(CAST(lr AS DECIMAL(24,9))) AS DOUBLE), 6) AS logratio
  FROM dbr JOIN dsir_lr USING (bk) GROUP BY doc_id
)"""


# dsir_weights / dsir_resample instantiation: target = the src0 slice,
# raw = the whole documents table
_DSIR_CTES = (
    f"toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),\n"
    f"ttoks AS (SELECT d.doc_id, {_TOKS_SQL} AS t FROM documents d WHERE source = 'src0'),\n"
    + _dsir_chain_sql("ttoks", "toks")
)

MIX_BUDGET = 50_000  # chars; src0 repeats ~2.5x, src3 ~0.65x
MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
# the EXACT per-source budget factors the operator computes (w / z in
# IEEE float order) — embedded into the oracle as repr literals so the
# two engines share every double bit
_MIX_Z = sum(MIX_WEIGHTS.values())
MIX_FACTORS = {s: w / _MIX_Z for s, w in MIX_WEIGHTS.items()}


def _url_variants(base):
    # five crawl variants of one canonical URL (host case + www,
    # trailing slash, utm param, fragment, ref param), keyed by doc_id
    v = F.col("doc_id") % 5
    return (
        F.when(v == 0, F.concat(F.lit("https://www.Site.com/page/"), base, F.lit("?q=1")))
        .when(v == 1, F.concat(F.lit("https://site.com/page/"), base, F.lit("/?q=1")))
        .when(v == 2, F.concat(F.lit("HTTPS://site.com/page/"), base, F.lit("?utm_source=x&q=1")))
        .when(v == 3, F.concat(F.lit("https://site.com/page/"), base, F.lit("?q=1#frag")))
        .otherwise(F.concat(F.lit("https://site.com/page/"), base, F.lit("?fbclid=xyz&q=1")))
    )


URLF_BLOCKED = ["bad.example"]
URLF_KW = {"casino": 0.6, "poker": 0.6}


def _q_url_filter(spark, sf_dir):
    # RefinedWeb stage ZERO — provenance filtering before URL dedup:
    # planted URLs per doc_id residue (exact-blocked domain, suffix-
    # blocked subdomain, keyword-blocked path, below-threshold
    # keyword, TRAILING-DOT FQDN spelling of the blocked domain,
    # clean), so host/kw_score/keep are all pure functions of doc_id
    # the oracle derives from the construction
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import url_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    url = (
        F.when(i % 10 == 0, F.concat(F.lit("https://bad.example/p/"), sid))
        .when(i % 10 == 1, F.concat(F.lit("https://sub.bad.example/p/"), sid))
        .when(i % 10 == 2, F.concat(F.lit("https://ok.example/casino/poker/"), sid))
        .when(i % 10 == 3, F.concat(F.lit("https://ok.example/casino/"), sid))
        # the FQDN bypass: 'bad.example.' resolves to the same host —
        # url_host strips the root-label dot, so this row must block
        .when(i % 10 == 4, F.concat(F.lit("https://bad.example./p/"), sid))
        .otherwise(
            F.concat(F.lit("https://h"), (i % 50).cast("string"), F.lit(".example/p/"), sid)
        )
    )
    return url_filter(
        docs.select("doc_id", url.alias("url")),
        "doc_id",
        "url",
        blocked_domains=URLF_BLOCKED,
        keyword_weights=URLF_KW,
        max_keyword_score=1.0,
    )


def _q_url_dedup(spark, sf_dir):
    # URL-level exact dedup (RefinedWeb stage one): the operator must
    # collapse all five planted variants and keep the min doc_id. The
    # oracle is an INDEPENDENT expectation (group by the planted
    # base), not a SQL re-spelling of the normalizer — stronger than
    # a twin.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (F.col("doc_id") % URL_DEDUP_GROUPS).cast("string")
    return url_dedup(docs.select("doc_id", _url_variants(base).alias("url")), "doc_id", "url")


URL_BI_NEW_MOD = 41  # new-shard base space 0..40, coprime to 5 and 2
URL_BI_HIST_MOD = 25  # history base space: 0..24 (all already admitted)


def _q_url_dedup_bi(spark, sf_dir):
    # incremental URL dedup: history = even doc_ids holding the
    # CANONICAL form of bases 0..24; new shard = odd doc_ids with
    # crawl VARIANTS over bases 0..39. Survivors must be exactly the
    # fresh bases 25..39, min odd id each — an independent
    # expectation the oracle derives from the construction
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup_bipartite

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.concat(
            F.lit("https://site.com/page/"),
            (F.col("doc_id") % URL_BI_HIST_MOD).cast("string"),
            F.lit("?q=1"),
        ).alias("url"),
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", _url_variants((F.col("doc_id") % URL_BI_NEW_MOD).cast("string")).alias("url")
    )
    return url_dedup_bipartite(new, hist, "doc_id", "url")


def _q_url_dedup_bloom(spark, sf_dir):
    # the Bloom route over the SAME planted construction as
    # url_dedup_bi, fpp=0.5 so real false positives flow through the
    # verify anti-join — shares the hash-join twin's oracle verbatim
    # (the exact spelling is DEFINED to equal it); completes driver
    # coverage of all three Dolma Bloom levels (url/doc/paragraph)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import url_dedup_bipartite_bloom

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.concat(
            F.lit("https://site.com/page/"),
            (F.col("doc_id") % URL_BI_HIST_MOD).cast("string"),
            F.lit("?q=1"),
        ).alias("url"),
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", _url_variants((F.col("doc_id") % URL_BI_NEW_MOD).cast("string")).alias("url")
    )
    return url_dedup_bipartite_bloom(new, hist, "doc_id", "url", fpp=0.5)


def _q_gopher_rules(spark, sf_dir):
    # Gopher rule bundle (Rae 2021 A1.1) with two thresholds moved to
    # where the synthetic corpus actually splits (see constants)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules(
        docs, "doc_id", "text", min_words=GOPHER_MIN_WORDS, min_stopword_hits=GOPHER_MIN_STOP
    )


def _q_c4_filters(spark, sf_dir):
    # C4 cleaning rules (Raffel 2020 §2.2): planted per doc_id residue
    # so every rule fires somewhere — clean pages keep; a
    # terminal-punctuated JavaScript line is dropped by the line rule
    # ALONE (page survives); 'lorem ipsum' and '{' drop the page; an
    # unpunctuated page dies on the sentence floor. The oracle is a
    # full SQL twin of the rules over the same planted text (the
    # clean string rides in the hash, so a wrong line verdict
    # anywhere flips it).
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import c4_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    base = F.concat(
        F.lit("A proper opening sentence stands here. It continues with words. doc "),
        sid,
        F.lit(" tail marker.\nSecond line has enough words to pass muster. Indeed it does. Final sentence here."),
    )
    text = (
        F.when(i % 5 == 0, base)
        .when(i % 5 == 1, F.concat(base, F.lit("\nPlease enable JavaScript to continue now.")))
        .when(i % 5 == 2, F.concat(base, F.lit(" lorem ipsum")))
        .when(i % 5 == 3, F.concat(base, F.lit(" { code")))
        .otherwise(F.lit("no terminal punctuation anywhere\nstill nothing here"))
    )
    return c4_filters(docs.select("doc_id", text.alias("text")), "doc_id", "text")


PD_SHARED_MOD = 7  # paragraph_dedup plant: one shared paragraph per residue class
PB_HIST_MOD = 3  # paragraph_dedup_bi: doc_id % 3 == 0 is the history corpus
PB_SHARED_MOD = 5  # shared-with-history paragraph classes
PB_NEW_MOD = 11  # shared-within-new-shard paragraph classes


def _q_paragraph_dedup_bi(spark, sf_dir):
    # incremental paragraph dedup vs an immutable history: the
    # history corpus (doc_id % 3 == 0) carries every PB_SHARED_MOD
    # paragraph class, so that class disappears from EVERY new doc
    # (history copies win); the 'new shard shared' class exists only
    # in the new shard, so its keep_first survivor is the minimal
    # (id, pos) NEW occurrence. The reassembled clean string rides
    # in the hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import paragraph_dedup_bipartite

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    sid = F.col("doc_id").cast("string")
    shared = F.concat(
        F.lit("Shared paragraph block number "),
        (F.col("doc_id") % PB_SHARED_MOD).cast("string"),
        F.lit(" appears in many documents."),
    )
    hist = docs.filter(F.col("doc_id") % PB_HIST_MOD == 0).select(
        "doc_id",
        F.concat(F.lit("History doc "), sid, F.lit(".\n"), shared).alias("text"),
    )
    new = docs.filter(F.col("doc_id") % PB_HIST_MOD != 0).select(
        "doc_id",
        F.concat(
            F.lit("Unique opening paragraph for document "), sid, F.lit(".\n"),
            shared, F.lit("\nNew shard shared paragraph "),
            (F.col("doc_id") % PB_NEW_MOD).cast("string"),
            F.lit(" for this cycle.\n"),
            F.substring(F.col("text"), 1, 60),
        ).alias("text"),
    )
    return paragraph_dedup_bipartite(hist, new, "doc_id", "text")


def _q_paragraph_dedup_bloom(spark, sf_dir):
    # Dolma's Bloom-filter dedup route (Soldaini 2024 §2.2) in its
    # exact spelling: same planted corpora as paragraph_dedup_bi, but
    # the history is probed as a broadcast Bloom and only the
    # positive sliver takes the verify anti-join. fpp=0.5 makes the
    # filter deliberately tiny so REAL false positives flow through
    # the verify path at oracle scale — the row hashes against the
    # hash-join twin's oracle verbatim, so an unverified FP (lost
    # paragraph) or a missed duplicate flips it.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import (
        paragraph_dedup_bipartite_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    sid = F.col("doc_id").cast("string")
    shared = F.concat(
        F.lit("Shared paragraph block number "),
        (F.col("doc_id") % PB_SHARED_MOD).cast("string"),
        F.lit(" appears in many documents."),
    )
    hist = docs.filter(F.col("doc_id") % PB_HIST_MOD == 0).select(
        "doc_id",
        F.concat(F.lit("History doc "), sid, F.lit(".\n"), shared).alias("text"),
    )
    new = docs.filter(F.col("doc_id") % PB_HIST_MOD != 0).select(
        "doc_id",
        F.concat(
            F.lit("Unique opening paragraph for document "), sid, F.lit(".\n"),
            shared, F.lit("\nNew shard shared paragraph "),
            (F.col("doc_id") % PB_NEW_MOD).cast("string"),
            F.lit(" for this cycle.\n"),
            F.substring(F.col("text"), 1, 60),
        ).alias("text"),
    )
    return paragraph_dedup_bipartite_bloom(hist, new, "doc_id", "text", fpp=0.5)


def _q_paragraph_dedup(spark, sf_dir):
    # CCNet-style paragraph-hash dedup as a transform (Wenzek 2020
    # §3): every doc carries a per-doc-unique opening paragraph, one
    # of PD_SHARED_MOD shared paragraph classes, and a corpus-derived
    # third paragraph (substr of the real text — dedup'd too when it
    # collides). keep_first retains each shared class only at its
    # minimal (id, pos) occurrence; the drop_repeated survivor count
    # rides along so ONE row pins both published policies. The
    # reassembled clean string is in the hash — a wrong survivor or
    # a wrong paragraph ORDER anywhere flips it.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text2 = F.concat(
        F.lit("Unique opening paragraph for document "),
        F.col("doc_id").cast("string"),
        F.lit(".\nShared paragraph block number "),
        (F.col("doc_id") % PD_SHARED_MOD).cast("string"),
        F.lit(" appears in many documents.\n"),
        F.substring(F.col("text"), 1, 60),
    )
    # null-text docs are excluded on BOTH engines (the null-flow
    # contract — null clean/counts — is pinned by pytest instead)
    planted = docs.filter(F.col("text").isNotNull()).select("doc_id", text2.alias("text"))
    first = paragraph_dedup(planted, "doc_id", "text", mode="keep_first")
    dropped = paragraph_dedup(planted, "doc_id", "text", mode="drop_repeated").select(
        "id", F.col("n_kept").alias("n_kept_drop")
    )
    return first.join(dropped, "id")


# SQL spellings of the fineweb_filters planted lines (residues 1-3)
_FW_SID = "CAST(doc_id AS VARCHAR)"
_FW_NOPUNCT_SQL = " || chr(10) || ".join(
    f"'this line number {k} for doc ' || {_FW_SID} || ' just trails off with no stop'"
    for k in range(9)
)
_FW_DUPLINE_SQL = (
    f"'this exact long line repeats itself verbatim inside doc ' || {_FW_SID} || '.'"
)
_FW_SHORTS_SQL = " || chr(10) || ".join(
    f"'T{k} d' || {_FW_SID} || ' x.'" for k in range(8)
)


def _q_fineweb_filters(spark, sf_dir):
    # FineWeb custom filters (Penedo 2024 §3.6): planted per doc_id
    # residue so each of the three gates fires somewhere — residue 0
    # keeps (punctuated, long, distinct lines); residue 1 dies on the
    # line-punctuation floor (1 punctuated line in 10 = 0.10 <= 0.12);
    # residue 2 dies on duplicated-line characters (one long line x5);
    # residue 3 dies on the short-line fraction (8 of 10 lines under
    # 30 chars). The oracle recomputes all three signals from the same
    # planted text, so every ratio and both boundary directions ride
    # in the hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import fineweb_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    good = F.concat(
        F.lit("This is a fine long opening sentence that ends properly for doc "),
        sid,
        F.lit(".\nAnother substantial line with plenty of characters to clear the bar.\n"
              "A third distinct line also ends with a period, keeping punctuation high."),
    )
    nopunct_line = F.concat(
        F.lit("this line number NN for doc "), sid, F.lit(" just trails off with no stop")
    )
    lowpunct = F.concat_ws(
        "\n",
        *[F.regexp_replace(nopunct_line, "NN", str(k)) for k in range(9)],
        F.concat(F.lit("only this final line of doc "), sid, F.lit(" ends with a period.")),
    )
    dup_line = F.concat(
        F.lit("this exact long line repeats itself verbatim inside doc "), sid, F.lit(".")
    )
    dupped = F.concat_ws(
        "\n",
        dup_line, dup_line, dup_line, dup_line, dup_line,
        F.lit("one distinct closing line with enough characters to stay long."),
    )
    shorts = F.concat_ws(
        "\n",
        *[F.concat(F.lit(f"T{k} d"), sid, F.lit(" x.")) for k in range(8)],
        F.lit("A long enough line to not count as short, ending with a stop."),
        F.lit("Another long line comfortably past thirty characters, also stopped."),
    )
    text = (
        F.when(i % 4 == 0, good)
        .when(i % 4 == 1, lowpunct)
        .when(i % 4 == 2, dupped)
        .otherwise(shorts)
    )
    return fineweb_filters(docs.select("doc_id", text.alias("text")), "doc_id", "text")


def _q_gopher_repetition(spark, sf_dir):
    # Gopher REPETITION bundle (Rae 2021 A1.2 — the half RefinedWeb's
    # "repetition removal" reuses; gopher_rules is A1.1): planted
    # repetition classes ride on the corpus text — every 7th doc gets
    # a duplicated line, every 11th a repeated phrase (dup n-grams),
    # every 13th a doubled paragraph — so all three rule families
    # actually fire; the oracle is a full construction-independent
    # SQL twin over the same modified text
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import gopher_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    planted = (
        F.when(i % 7 == 0, F.concat(t, F.lit("\nrepeat me line\nrepeat me line")))
        .when(i % 11 == 0, F.concat(t, F.lit(" "), F.concat_ws(" ", *[F.lit("spam phrase again")] * 4)))
        .when(i % 13 == 0, F.concat(t, F.lit("\n\ndup para block\n\ndup para block")))
        .otherwise(F.col("text"))
    )
    return gopher_repetition(
        _spread(docs.select("doc_id", planted.alias("text"))), "doc_id", "text"
    )


NB_BUCKETS = 256
NB_ALPHA = 0.5


def _q_nb_classify(spark, sf_dir):
    # supervised hashed-unigram Naive Bayes (the fastText-style
    # model filter of CCNet/GPT-3 — Joulin 2016, Wenzek 2020 §4.3):
    # train on every 3rd document with its source as the label, then
    # predict the source of the held-out rest. The oracle is a full
    # SQL twin of the count/smooth/argmax chain, so priors, per-bucket
    # likelihoods, tie-breaks, and margins all ride in the hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.classify import (
        nb_classify,
        nb_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = nb_train(
        docs.filter(F.col("doc_id") % 3 == 0),
        "text",
        "source",
        n_buckets=NB_BUCKETS,
        alpha=NB_ALPHA,
    )
    return nb_classify(
        docs.filter(F.col("doc_id") % 3 != 0),
        "doc_id",
        "text",
        model,
        n_buckets=NB_BUCKETS,
    )


LANGID_EQ_B = 256
LANGID_EQ_ALPHA = 0.5
LANGID_EQ_MAX_N = 3


def _langid_eq_text():
    """The planted-language construction (Spark side): doc_id % 5
    picks a language, the text is 10 cyclically-chosen marker words of
    that language plus one FUSED pseudo-word (unseen by the marker
    vocabulary — only character statistics identify it); every 97th
    doc is a no-marker plant where the two routes deterministically
    disagree (marker 'und', NB answers). The SQL twin is generated
    from the same LANG_MARKERS dict so the two can't de-sync."""
    from cs533_big_data_data_mining_spark.functions.text import LANG_MARKERS

    i = F.col("doc_id")
    langs = sorted(LANG_MARKERS)

    def base(lg):
        arr = F.array(*[F.lit(w) for w in LANG_MARKERS[lg]])
        w = lambda j: F.element_at(arr, ((i + F.lit(j)) % 7 + 1).cast("int"))  # noqa: E731
        return F.concat_ws(" ", *[w(j) for j in range(10)], F.concat(w(0), w(3)))

    sel = F.lit(None).cast("string")
    for n, lg in reversed(list(enumerate(langs))):
        sel = F.when((i % 5) == n, base(lg)).otherwise(sel)
    return F.when(i % 97 == 0, F.lit("qqq zzz xxx")).otherwise(sel)


def _q_langid_route_eq(spark, sf_dir):
    # trained-langid route equivalence (task: the fastText-style
    # trained langid of Dolma/FineWeb/CCNet as char-3-gram NB over the
    # engine's own nb_train): seed-label the %3 slice with the marker
    # heuristic (confidence-gated), train char-gram NB, classify ALL
    # docs through BOTH implementations (pure-Column oracle route and
    # the Arrow int64 fixed-point route) next to the marker argmax.
    # The oracle replays seeding, training, and scoring in SQL and
    # emits its NB prediction for BOTH nb columns — so the value hash
    # is simultaneously a correctness gate and a cross-implementation
    # equivalence gate. The %97 plants pin a deterministic
    # disagreement class (agree=false) so the row can't pass vacuously.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import lang_id
    from cs533_big_data_data_mining_spark.operators.classify import (
        lang_id_nb,
        langid_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", _langid_eq_text().alias("text")
    )
    fit_caches: list = []
    fit = langid_train(
        docs.filter(F.col("doc_id") % 3 == 0),
        "text",
        n_buckets=LANGID_EQ_B,
        alpha=LANGID_EQ_ALPHA,
        max_n=LANGID_EQ_MAX_N,
        caches=fit_caches,
    )
    # materialize the (bucket-bounded) model ONCE as a local frame:
    # both lang_id_nb calls collect the model at plan-build time, and
    # re-planning the full fit DAG per call costs ~3s each even cached
    from cs533_big_data_data_mining_spark.session import local_df

    model = local_df(
        spark,
        [(r["label"], r["b"], r["llh"]) for r in fit.collect()],
        "label string, b long, llh double",
    )
    # the fit's internal aggregates served their one consumer above
    for fr in fit_caches:
        fr.unpersist()
    # the pure-Column route is the exact oracle replay but runs on
    # interpreted HOFs (~100x the Arrow route); CaseWhen evaluates
    # per-row lazily, so pinning it on the deterministic 1-in-5 slice
    # bounds the row's cost while the hash still checks column-vs-
    # oracle on that slice and arrow-vs-oracle on EVERY row (both
    # directly via lang_nb_fast and through the slice complement)
    i = F.col("doc_id")
    scored = _spread(docs).select(
        i.alias("id"),
        lang_id("text").alias("lang_marker"),
        F.when(i % 5 == 0, lang_id_nb(model, "text", impl="column"))
        .otherwise(lang_id_nb(model, "text", impl="arrow"))
        .alias("lang_nb"),
        lang_id_nb(model, "text", impl="arrow").alias("lang_nb_fast"),
    )
    # the repartition is a collapse barrier: deriving `agree` in the
    # same Project would re-evaluate the whole interpreted-HOF scoring
    # expression (CollapseProject inlines, and HOFs get no codegen CSE)
    return scored.repartition(scored.sparkSession.sparkContext.defaultParallelism).select(
        "*", (F.col("lang_marker") == F.col("lang_nb")).alias("agree")
    )


SEMMP_T = 0.99999  # cos(0.2 deg)=0.9999939 is a dup; cos(0.4)=0.9999756 is not


def _q_semdedup_multiprobe_eq(spark, sf_dir):
    # multi-probe SemDeDup route equivalence: planted unit-circle
    # geometry against FIXED axis centroids c0=[1,0] / c1=[0,1] (no
    # k-means — the construction pins cluster membership exactly).
    # Base vectors ride at 0.5+i degrees (i < 89, >= 1-degree gaps:
    # never near-dups at T); every 10th base gets a same-side partner
    # 0.2 degrees away (p=1 finds these); ids 5000/5001 sit at
    # 44.9/45.1 degrees — a 0.2-degree near-dup pair STRADDLING the
    # 45-degree cluster boundary that p=1 provably never examines and
    # p=2 finds (each member's runner-up centroid is the other's
    # primary). Output pins both routes' survivor sets per id; the
    # oracle derives them from the plant arithmetic alone (no trig —
    # margins: nearest unintended cosine 0.9999756 vs T 0.99999 vs
    # planted 0.9999939).
    _ensure_shipped(spark)
    import math

    from cs533_big_data_data_mining_spark.operators.similarity import (
        assign_to_centroids,
        semdedup,
    )
    from cs533_big_data_data_mining_spark.session import local_df

    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("long").alias("vec_id"))
        .filter("vec_id < 89")
    )

    def mk(deg):
        return F.array(F.cos(F.radians(deg)), F.sin(F.radians(deg)))

    v_base = base.select("vec_id", mk(F.col("vec_id") + F.lit(0.5)).alias("embedding"))
    v_pair = base.filter("vec_id % 10 = 0").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        mk(F.col("vec_id") + F.lit(0.7)).alias("embedding"),
    )
    r1, r2 = math.radians(44.9), math.radians(45.1)
    v_bnd = local_df(
        spark,
        [(5000, [math.cos(r1), math.sin(r1)]), (5001, [math.cos(r2), math.sin(r2)])],
        "vec_id long, embedding array<double>",
    )
    vecs = v_base.unionByName(v_pair).unionByName(v_bnd)
    cent = local_df(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, cvec array<double>")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        idx = (cent, assign_to_centroids(vecs, cent))
        s1 = semdedup(vecs, SEMMP_T, 2, index=idx)
        s2 = semdedup(vecs, SEMMP_T, 2, index=idx, probes=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    ids = vecs.select(F.col("vec_id").alias("id"))
    return (
        ids.join(s1.withColumn("surv_p1", F.lit(True)), "id", "left")
        .join(s2.withColumnRenamed("id", "id2").withColumn("surv_p2", F.lit(True)),
              F.col("id") == F.col("id2"), "left")
        .select(
            "id",
            F.coalesce("surv_p1", F.lit(False)).alias("surv_p1"),
            F.coalesce("surv_p2", F.lit(False)).alias("surv_p2"),
        )
    )


def _q_dsir_weights(spark, sf_dir):
    # DSIR importance weights: target = the src0 slice, raw = the
    # whole corpus; scores say how src0-like every document's hashed
    # 1..2-gram profile is
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import dsir_logratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("source") == "src0")
    return dsir_logratio(
        docs, "doc_id", "text", target, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA
    )


DSIR_RESAMPLE_K = 150
DSIR_RESAMPLE_SEED = 5


def _q_dsir_resample(spark, sf_dir):
    # DSIR's actual selection step (Xie 2023 §2): Gumbel top-k over
    # the importance logratio — deterministic (Gumbel noise from the
    # seeded cross-engine uniform hash), so the oracle replays the
    # exact selected set, keys and all
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import (
        dsir_logratio,
        dsir_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("source") == "src0")
    scores = dsir_logratio(
        docs, "doc_id", "text", target, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA
    )
    return dsir_resample(scores, DSIR_RESAMPLE_K, seed=DSIR_RESAMPLE_SEED)


def _q_dsir_route_eq(spark, sf_dir):
    # poly31 (oracle route) vs xxhash64 (100 TB route) for DSIR's
    # gram->bucket hash: the two bucket the grams differently, so
    # values differ — but on a corpus with a REAL target/off-target
    # vocabulary split, both routes must rank every target-like doc
    # above every noise doc and hence select the same top half. The
    # planted two-vocabulary fixture makes that separation a
    # construction fact, not a hash accident.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import dsir_logratio
    from cs533_big_data_data_mining_spark.session import local_df

    tvoc = ["alpha", "beta", "gamma", "delta", "epsilon"]
    nvoc = ["zork", "quux", "blorp", "fnord", "grue"]
    n_half = 60
    docs = [
        (i, " ".join((tvoc if i < n_half else nvoc)[(i + j) % 5] for j in range(12)))
        for i in range(2 * n_half)
    ]
    target = [
        (1000 + i, " ".join(tvoc[(i + j) % 5] for j in range(10))) for i in range(8)
    ]
    ddf = local_df(spark, docs, "id long, text string")
    tdf = local_df(spark, target, "id long, text string")
    flags = {}
    tops = {}
    for route in ("poly31", "xxhash64"):
        out = dsir_logratio(
            ddf, "id", "text", tdf, n_buckets=DSIR_BUCKETS, hash_buckets=route
        )
        sc = {r["id"]: r["logratio"] for r in out.collect()}
        lo_t = min(sc[i] for i in range(n_half))
        hi_n = max(sc[i] for i in range(n_half, 2 * n_half))
        flags[route] = bool(lo_t > hi_n)
        tops[route] = frozenset(sorted(sc, key=lambda i: -sc[i])[:n_half])
    return _one_row(
        spark,
        poly31_separates=flags["poly31"],
        xxhash64_separates=flags["xxhash64"],
        topk_sets_equal=bool(tops["poly31"] == tops["xxhash64"]),
        n_docs=2 * n_half,
    )


def _q_dsir_bigk_eq(spark, sf_dir):
    # the automatic k > driver_k_limit THRESHOLD route (round 9):
    # same scores, same k/seed as dsir_resample, but driver_k_limit=10
    # forces the approxQuantile + conditional-count cut instead of
    # TakeOrderedAndProject. The routes are set-identical by contract,
    # so this row shares dsir_resample's exact replay oracle — a wrong
    # threshold, broken tie top-up, or dropped boundary row flips the
    # hash against the independently-computed SQL top-k.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import (
        dsir_logratio,
        dsir_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("source") == "src0")
    scores = dsir_logratio(
        docs, "doc_id", "text", target, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA
    )
    return dsir_resample(
        scores, DSIR_RESAMPLE_K, seed=DSIR_RESAMPLE_SEED, driver_k_limit=10
    )


SHARD_N = 16
SHARD_SEED = 1


def _q_shard_assign(spark, sf_dir):
    # deterministic training-shard assignment + within-shard shuffle
    # key: floor(u * n) over the cross-engine uniform hash of
    # (seed, id) — the write_training_shards layout, minus the file
    # sink the oracle can't see (pytest round-trips the writer)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.packing import shard_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return shard_rows(docs, "doc_id", SHARD_N, seed=SHARD_SEED).select(
        F.col("doc_id").alias("id"), "shard", F.round("sort_key", 6).alias("sort_key")
    )


def _q_remove_dup_spans(spark, sf_dir):
    # Lee et al. ExactSubstr as a TRANSFORM: the corpus's naturally
    # duplicated k-gram spans (small synthetic vocab => plenty) are
    # excised from every document; survivors whitespace-normalized
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import remove_duplicated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicated_spans(docs, k=SPAN_K)


def _q_mix_to_budget(spark, sf_dir):
    # epoch-repeat mixing to a char budget over four weighted sources:
    # upweighted-small sources repeat > 1 epoch, the fractional epoch
    # is the deterministic uniform-hash subset
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import mix_to_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mix_to_budget(docs, "doc_id", "source", "n_chars", MIX_BUDGET, MIX_WEIGHTS)


def _q_sample_sources(spark, sf_dir):
    # deterministic per-source downsampling (source mixing): keep iff
    # the id's cross-engine uniform hash < the source's fraction —
    # pure Column, zero shuffle, identical row set on both engines
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import sample_sources

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sample_sources(docs, "doc_id", "source", SAMPLE_FRACS)


QFB_KEEP = 0.25


def _q_quantile_filter_by(spark, sf_dir):
    # per-language quality gate: top 25% by n_chars WITHIN each lang
    # (a global threshold would gut low-scoring languages); ties at a
    # group's threshold all survive on both engines
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import quantile_filter_by

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantile_filter_by(docs, "n_chars", QFB_KEEP, "lang").select(
        "doc_id", "lang", "n_chars"
    )


CHUNK_TOKENS, CHUNK_STRIDE = 32, 24  # overlapping token windows


def _q_chunk_documents(spark, sf_dir):
    # embedding/RAG chunking: overlapping token windows as pure Column
    # expressions (tokenize -> slice -> posexplode), zero Python
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, "doc_id", "text", CHUNK_TOKENS, CHUNK_STRIDE)


BOILER_MAX_DF = 50  # a line in > 50 docs is boilerplate


def _q_boilerplate_lines(spark, sf_dir):
    # CCNet/RefinedWeb-style boilerplate line removal. The corpus has
    # no line structure, so (like the PII query) deterministic lines
    # are injected: a header shared by ALL docs (removed), a footer
    # shared by doc_id%5 (100 docs each at sf0.01 -> removed), and the
    # doc's own text line (df ~= its exact-dup group size -> kept).
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import (
        remove_boilerplate_lines,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit("NAV HOME ABOUT CONTACT\n"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\nFOOTER COPYRIGHT SECTION "),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(injected, "doc_id", "text", BOILER_MAX_DF).select(
        F.col("id").alias("doc_id"), "clean"
    )


def _q_dedup_stream_eq(spark, sf_dir):
    # Streaming exact dedup (dropDuplicatesWithinWatermark) checked
    # against its batch twin (round-5 verdict #7): every 7th event is
    # re-delivered (identical full row, the at-least-once shape), the
    # watermark horizon exceeds the data span so no state evicts, and
    # the invariant is full-row SET equality — duplicates are
    # identical rows, so first-arrival vs min-id keep the same set.
    # Oracle emits the distinct-event count + TRUE.
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.streaming.events import (
        dedup_events,
        load_events,
        read_events_stream,
        run_stream_to_memory,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    redelivered = ev.union(ev.filter(F.col("event_id") % 7 == 0))
    src = tempfile.mkdtemp(prefix="dedup_eq_")
    try:
        # file layout may vary run-to-run; the dedup RESULT cannot
        # (identical duplicate rows -> arrival order is irrelevant)
        redelivered.repartition(4, "event_id").write.mode("overwrite").parquet(src)
        stream = dedup_events(
            read_events_stream(spark, src, max_files_per_trigger=2), watermark="3650 days"
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            run_stream_to_memory(stream, "dedup_eq", output_mode="append")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        got = spark.sql("SELECT * FROM dedup_eq")
        batch = dedup_events(redelivered)
        n_batch = batch.count()
        n_got = got.count()
        # set equality via null-safe anti-joins (exceptAll over the
        # dedup plans trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in
        # Spark 4.1's rewrite; the join spelling is plan-shape-robust)
        cols = batch.columns
        g = got.select([F.col(c).alias(f"g_{c}") for c in cols])
        cond = None
        for c in cols:
            eq = F.col(c).eqNullSafe(F.col(f"g_{c}"))
            cond = eq if cond is None else cond & eq
        missing = batch.join(g, cond, "left_anti").count()
        extra = g.join(batch, cond, "left_anti").count()
        ok = bool(n_got == n_batch and extra == 0 and missing == 0)
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _one_row(spark, n_batch=n_batch, stream_matches=bool(ok))


SALT_N = 8


def _q_salted_join_eq(spark, sf_dir):
    # Skew-salted join promoted to a driver query (round-5 verdict
    # #6): output rows are DEFINED to equal the plain join, so the
    # oracle is the unsalted SQL join — a perfect row-level
    # hash-match check of the salting machinery.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.joins import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("l_suppkey").cast("long").alias("suppkey"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").cast("long").alias("suppkey"),
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
    )
    return salted_join(li, supp, "suppkey", salt=SALT_N).select(
        "l_orderkey", "l_linenumber", "suppkey", "l_quantity", "s_name", "s_nationkey"
    )


LSH_PLANT_N = 50  # planted exact duplicates (vec_id < 50 re-added as +10000)
LSH_EQ_T = 0.9999


def _q_lsh_route_eq(spark, sf_dir):
    # LSH near-dup route equivalence (round-5 verdict #6): plant
    # exact duplicate vectors (identical embeddings => identical sign
    # bits in EVERY band => collision probability exactly 1), then
    # run the banded-LSH path directly. At threshold ~1 the exact
    # pair set is precisely the planted pairs, LSH recall on them is
    # 1 by construction, and precision is 1 by the exact-cosine
    # verify — so the LSH output is deterministically equal to the
    # SQL brute-force twin, row for row.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import lsh_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    planted = emb.union(
        emb.filter(F.col("vec_id") < LSH_PLANT_N).select(
            (F.col("vec_id") + F.lit(10_000)).alias("vec_id"), "embedding"
        )
    )
    return lsh_neardup_pairs(planted, LSH_EQ_T)


CR_MOD = 3  # compression_ratio plant: 0 spam, 1 base36 prose, 2 null
CR_SPAM = "repeat this exact spam line again and again " * 40
CR_GATE = 0.25


def _q_compression_ratio(spark, sf_dir):
    # zlib compressibility scorer: the RATIO itself is a zlib-build
    # detail, so the oracle checks the construction-derived CLASS flag
    # (planted spam pages land ~0.04, 120-word base36 pages ~0.67 —
    # >6x margins around the 0.25 gate on either side) plus the exact
    # byte counts, which ARE pure functions of the construction
    # (ASCII: chars == bytes).
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import compression_ratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    i = F.col("doc_id")
    spam = F.concat(F.lit(CR_SPAM), F.lit("doc "), i.cast("string"))
    words = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(120)),
            lambda j: F.conv(
                (F.pmod(F.xxhash64(i, j), F.lit(45360)) + 1296).cast("string"), 10, 36
            ),
        ),
    )
    planted = docs.select(
        "doc_id",
        F.when(i % CR_MOD == 0, spam)
        .when(i % CR_MOD == 1, words)
        .otherwise(F.lit(None).cast("string"))
        .alias("text"),
    )
    cr = compression_ratio(_spread(planted), "doc_id", "text")
    return cr.select(
        "id",
        "n_bytes",
        # int 1/0/NULL, not boolean: a nullable bool crosses the
        # pandas bridge as object None on the Spark side but NaN from
        # DuckDB, and the comparator's string canon treats those as
        # different values; numeric nulls land as NaN on both sides
        F.when(F.col("ratio").isNotNull(), (F.col("ratio") < CR_GATE).cast("int")).alias(
            "compressible"
        ),
    )


BCAP_DUP_MOD = 10  # every 10th doc copies its predecessor's page
BCAP_TPL = " ".join(f"tplword{k} common{k}" for k in range(12))  # 24 words


def _q_lsh_bucket_cap_eq(spark, sf_dir):
    # max_bucket_size guard equivalence (round 9): every constructed
    # page shares a 24-word boilerplate template, so band minima are
    # frequently all-template and the (band, bhash) buckets
    # oversubscribe — the exact pathology the guard exists for. The
    # planted pairs are byte-identical copies (doc i copies i-1 when
    # i % 10 == 0), which also collide on bands whose minima include
    # their OWN unique words (bucket size 2, survives any cap), so
    # the capped verified pair set is EXACTLY the planted set with
    # jaccard 1.0: unrelated docs top out at J ~ 0.6 < 0.9 threshold,
    # and a planted pair is lost only if all 16 of its bands drew
    # all-template minima (p ~ 0.29^16). The oracle replays the
    # construction arithmetic.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    i = F.col("doc_id")
    tb = i - F.when((i % BCAP_DUP_MOD == 0) & (i > 0), 1).otherwise(0)
    uniq = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("u"), tb.cast("string"), F.lit(f"x{k}"))
            for k in range(8)
        ],
    )
    planted = docs.select(
        "doc_id", F.concat(F.lit(BCAP_TPL + " "), uniq).alias("text")
    )
    return minhash_dedup_pairs(
        planted, "doc_id", "text", threshold=0.9, max_bucket_size=32
    ).select("a", "b", "jaccard")


def _q_clean_text(spark, sf_dir):
    # C4-style normalization: HTML tags/URLs injected around every
    # document must vanish, whitespace runs collapse, text lowercases
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import clean_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = F.col("doc_id").cast("string")
    injected = F.concat(
        F.lit("<div class='hd'>Title</div>  "),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" see https://ex.example/page?id="), ids,
        F.lit("\n\nor  www.example.com/x <br/> END"),
    )
    return docs.select("doc_id", clean_text(injected, lowercase=True).alias("clean"))


def _q_lm_perplexity(spark, sf_dir):
    # Bigram-LM self-perplexity quality score (CCNet-style filter):
    # smoothed bigram model fit on the corpus itself, every document
    # scored; DECIMAL term sums make the result partition-invariant
    # so the SQL replay matches bit-for-bit.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_perplexity(docs)


SPAN_K = 5  # k-gram width for duplicated-span detection


def _q_span_dup_stats(spark, sf_dir):
    # Exact-substring duplication signal (Lee et al. 2022 shape):
    # positional k-gram inverted index -> duplicated-gram semi-join ->
    # gaps-and-islands span merge -> per-doc duplicated-token
    # fraction. One row per document; oracle replays the same
    # positional-gram + window logic in SQL.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import span_dup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_dup_stats(docs, k=SPAN_K)


def _q_spans_bipartite(spark, sf_dir):
    # incremental span dedup: maximal spans in the NEW shard (odd
    # doc_ids) whose k-grams exist in the HISTORY corpus (even
    # doc_ids) or repeat within the shard itself — the daily-ingest
    # twin of span_dup_stats (history contributes only its distinct
    # gram set, never re-tokenized pairwise)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.dedup import duplicated_spans_bipartite

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_spans_bipartite(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        k=SPAN_K,
    )


SEM_EQ_C = 8  # clusters for the semdedup route-equivalence query


def _q_semdedup_eq(spark, sf_dir):
    # SemDeDup (cluster-then-dedup-within) route equivalence, same
    # planted-duplicate construction as lsh_route_eq: identical
    # vectors always co-cluster (same argmax, deterministic ties), so
    # at threshold ~1 every true pair is intra-cluster, recall is 1
    # by construction, and the min-id survivor set equals the
    # brute-force transitive-closure SQL twin row for row.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    planted = emb.union(
        emb.filter(F.col("vec_id") < LSH_PLANT_N).select(
            (F.col("vec_id") + F.lit(10_000)).alias("vec_id"), "embedding"
        )
    )
    return semdedup(planted, LSH_EQ_T, SEM_EQ_C, iters=1).select(
        F.col("id").cast("long").alias("id")
    )


def _q_semdedup_bi(spark, sf_dir):
    # incremental SemDeDup (round 9): history = embeddings with
    # vec_id % 5 != 0; the new shard plants all three outcomes on
    # disjoint id ranges — +10000 fresh vectors (not in history:
    # survive), +20000 exact copies of history vectors (component
    # touches history: dropped), +30000/+40000 twin copies of
    # non-history vectors (history-free new-new component: min id
    # +30000 survives, +40000 dropped). History is clustered ONCE;
    # new vectors ride assign_to_centroids. The oracle replays the
    # full transitive closure by brute force (identical vectors
    # always co-cluster, so at threshold ~1 recall is 1 by
    # construction — the semdedup_eq argument).
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import (
        ivf_index,
        semdedup_bipartite,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    hist = emb.filter("vec_id % 5 != 0")
    new = (
        emb.filter("vec_id % 5 = 0 AND vec_id % 3 != 0")
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
        .union(
            emb.filter("vec_id % 5 != 0 AND vec_id % 7 = 0").select(
                (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
            )
        )
        .union(
            emb.filter("vec_id % 5 = 0 AND vec_id % 3 = 0").select(
                (F.col("vec_id") + 30000).alias("vec_id"), "embedding"
            )
        )
        .union(
            emb.filter("vec_id % 5 = 0 AND vec_id % 3 = 0").select(
                (F.col("vec_id") + 40000).alias("vec_id"), "embedding"
            )
        )
    )
    # ~2k vectors through ~15 tiny jobs (k-means fit, per-side
    # packing, grams, CC rounds): 32-way shuffles are pure scheduling
    # overhead — pin partitions low for the duration (set/restore is
    # a fixed point under re-entry; the semdedup_far pattern). The
    # returned frame arrives PERSISTED (materialized inside the pin),
    # so the driver's later collect reads cached blocks.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        idx = ivf_index(hist, SEM_EQ_C, iters=1)
        out = semdedup_bipartite(hist, new, LSH_EQ_T, SEM_EQ_C, index=idx)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.select(F.col("id").cast("long").alias("id"))


# planted geometry for the far-from-centroid survivor policy: two
# 2-degree-apart duplicate pairs + two singletons, ids arranged so the
# far survivor differs from the min-id survivor. cos(2°)=0.99939083,
# sin(2°)=0.03489950; within-group centroid-cosine gaps ~0.03 dwarf
# any engine float noise, so the argmin is stable across engines.
SEMFAR_VECS = [
    (1, [0.99939083, 0.03489950]),  # rotated toward the mean -> loser
    (2, [1.0, 0.0]),                # farther from centroid -> SURVIVOR
    (3, [0.03489950, 0.99939083]),  # rotated toward the mean -> loser
    (4, [0.0, 1.0]),                # farther from centroid -> SURVIVOR
    (5, [0.70710678, 0.70710678]),  # singleton
    (6, [-0.70710678, 0.70710678]),  # singleton
]


def _q_semdedup_far(spark, sf_dir):
    # SemDeDup with the paper's actual survivor policy (Abbas et al.
    # 2023 keep-farthest-from-centroid), pinned by planted geometry:
    # with n_centroids=1 the fitted centroid is the normalized-mean
    # direction — SQL-computable, no k-means in the oracle — and each
    # duplicate pair has one member rotated 2 degrees TOWARD that
    # mean, so the far survivor is known a priori ({2, 4} + the
    # singletons) and differs from min_id's ({1, 3}), making the row
    # distinguish the two policies.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import semdedup

    # SQL VALUES -> JVM LocalRelation: this tiny frame is re-read by
    # every job in the k-means/pairs/CC pipeline, and the pickled-RDD
    # createDataFrame path would pay 32 Python partition evaluations
    # per job (see _one_row)
    values = ", ".join(
        f"(CAST({i} AS BIGINT), array({vec[0]!r}D, {vec[1]!r}D))" for i, vec in SEMFAR_VECS
    )
    corpus = spark.sql(f"SELECT * FROM VALUES {values} AS t(vec_id, embedding)")
    # 6 literal vectors through ~8 tiny jobs: 32-way shuffles are pure
    # scheduling overhead here — pin partitions low around the call
    # (safe under the driver's serial query gate; set/restore is a
    # fixed point if re-entered, same pattern as _q_stream_eq_all)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = semdedup(corpus, 0.999, 1, iters=1, keep="far_from_centroid").select(
            F.col("id").cast("long").alias("id")
        )
        # materialize INSIDE the pin: shuffle.partitions is read at
        # execution time, so returning the lazy frame would hand the
        # driver a query that executes at the restored 32 after all —
        # the 3-row result re-emits as a JVM LocalRelation
        rows = [(int(r["id"]),) for r in out.collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    from cs533_big_data_data_mining_spark.session import local_df

    return local_df(spark, rows, "id long")


CMS_FRAC = 0.02


def _q_sketch_heavy_hitters(spark, sf_dir):
    # Count-min heavy hitters over the token stream, checked by the
    # CMS guarantees: (1) estimates never undercount — est >= exact
    # for every reported item; (2) every exact heavy hitter is
    # reported (superset). Oracle emits (n_exact, TRUE, TRUE).
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import tokenize
    from cs533_big_data_data_mining_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(tokenize("text")).alias("tok")).cache()
    hh = heavy_hitters(toks, "tok", CMS_FRAC).cache()
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    total = toks.count()
    thr = int(total * CMS_FRAC)
    exact_hh = exact.filter(F.col("n") >= F.lit(thr))
    n_exact = exact_hh.count()
    missed = exact_hh.join(hh, exact_hh["tok"] == hh["item"], "left_anti").count()
    undercounts = (
        hh.join(exact, hh["item"] == exact["tok"]).filter(F.col("est") < F.col("n")).count()
    )
    out = _one_row(
        spark,
        n_exact=n_exact,
        superset_ok=bool(missed == 0),
        no_undercount=bool(undercounts == 0),
    )
    for frame in (toks, hh, exact):
        frame.unpersist()
    return out


CMS_STREAM_FRAC = 0.05
CMS_STREAM_DEPTH, CMS_STREAM_WIDTH = 4, 1024


def _q_sketch_stream_merge(spark, sf_dir):
    # The CMS property that justifies carrying a sketch at 100 TB:
    # per-micro-batch sketches ADD. Build one sketch per streaming
    # micro-batch via foreachBatch, sum them driver-side (each is
    # depth x width rows, KBs), and check (1) the merged sketch
    # equals the one-shot batch sketch CELL FOR CELL and (2) heavy-
    # hitter estimates from the merged sketch never undercount and
    # cover every exact hitter. Oracle emits (n_exact, TRUE, TRUE).
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.operators.sketches import cms_build
    from cs533_big_data_data_mining_spark.streaming.events import (
        load_events,
        read_events_stream,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    src = tempfile.mkdtemp(prefix="cms_stream_")
    acc: dict[tuple[int, int], int] = {}
    try:
        ev.repartition(4, "event_id").write.mode("overwrite").parquet(src)

        def _merge_batch(batch_df, _bid):
            rows = cms_build(
                batch_df, "event_type", CMS_STREAM_DEPTH, CMS_STREAM_WIDTH
            ).collect()
            for r in rows:
                k = (int(r["d"]), int(r["bucket"]))
                acc[k] = acc.get(k, 0) + int(r["c"])

        q = (
            read_events_stream(spark, src, max_files_per_trigger=2)
            .writeStream.foreachBatch(_merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "sketch_stream_merge: stream did not drain in 120s — "
                "acc holds a PARTIAL merge; failing loudly instead of "
                "reporting a fake merged_equals_full=false"
            )
        full = {
            (int(r["d"]), int(r["bucket"])): int(r["c"])
            for r in cms_build(ev, "event_type", CMS_STREAM_DEPTH, CMS_STREAM_WIDTH).collect()
        }
        merged_equals_full = acc == full
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total = sum(exact.values())
        thr = total * CMS_STREAM_FRAC
        hitters = {k: n for k, n in exact.items() if n >= thr}
        # estimate from the MERGED sketch via the same broadcast-join
        # estimator batch mode uses
        from cs533_big_data_data_mining_spark.operators.sketches import cms_estimates

        merged_df = spark.createDataFrame(
            [(d, b, c) for (d, b), c in acc.items()], "d int, bucket long, c long"
        )
        items = spark.createDataFrame([(k,) for k in hitters], "item string")
        ests = {
            r["item"]: int(r["est"])
            for r in cms_estimates(
                items, "item", merged_df, CMS_STREAM_DEPTH, CMS_STREAM_WIDTH
            ).collect()
        }
        no_undercount = all(ests.get(k, 0) >= n for k, n in hitters.items())
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return _one_row(
        spark,
        n_exact=len(hitters),
        merged_equals_full=bool(merged_equals_full),
        no_undercount=bool(no_undercount),
    )


HLL_RSD = 0.05


def _q_sketch_distinct(spark, sf_dir):
    # Sketch coverage: HyperLogLog++ distinct counting — at 100 TB the
    # map-side-mergeable sketch replaces the full distinct shuffle.
    # Checkable property: |approx - exact| within 5x the configured
    # relative standard deviation. Oracle emits (n_exact, TRUE).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = ev.agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("n_approx"),
    ).head()
    ok = abs(row["n_approx"] - row["n_exact"]) <= 5.0 * HLL_RSD * row["n_exact"]
    return _one_row(spark, n_exact=row["n_exact"], within_bounds=bool(ok))


def _q_sketch_persist(spark, sf_dir):
    # Sketch persistence round-trips (the cross-run artifacts): a CMS
    # saved + reloaded estimates cell-identically to the in-memory
    # build, and a Bloom filter saved + reloaded probes bit-
    # identically (and never false-negatives a member). Oracle emits
    # (n distinct users, TRUE, TRUE, TRUE).
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.operators.sketches import (
        BloomFilter,
        bloom_build,
        cms_build,
        cms_load,
        cms_save,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # isNotNull BEFORE distinct: the oracle's count(DISTINCT user_id)
    # excludes NULL, and a .distinct() row count would include it —
    # a latent off-by-one on any corpus with a null user
    users = (
        ev.select(F.col("user_id").cast("string").alias("u"))
        .filter(F.col("u").isNotNull())
        .distinct()
        .cache()
    )
    n_users = users.count()
    root = tempfile.mkdtemp(prefix="sketch_persist_")
    try:
        d, w = 4, 256
        # cached: both the save's write and the cell collect below
        # consume it — uncached, the groupBy would run twice
        cms = cms_build(ev, "event_type", d, w).cache()
        cms_save(spark, cms, f"{root}/cms", d, w)
        loaded, ld, lw = cms_load(spark, f"{root}/cms")
        mem_cells = {(r["d"], r["bucket"]): r["c"] for r in cms.collect()}
        got_cells = {(r["d"], r["bucket"]): r["c"] for r in loaded.collect()}
        cms_ok = (ld, lw) == (d, w) and mem_cells == got_cells

        bloom = bloom_build(users, "u", fpp=0.01)
        bloom.save(spark, f"{root}/bloom")
        bl = BloomFilter.load(spark, f"{root}/bloom")
        probe = users.unionByName(
            users.select(F.concat(F.lit("absent-"), F.col("u")).alias("u"))
        )
        cmp = probe.select(
            "u",
            bloom.might_contain("u").alias("a"),
            bl.might_contain("u").alias("b"),
            (~F.col("u").startswith("absent-")).alias("member"),
        ).cache()
        probe_eq = cmp.filter(F.col("a") != F.col("b")).count() == 0
        no_false_neg = cmp.filter(F.col("member") & ~F.col("b")).count() == 0
        cmp.unpersist()
    finally:
        users.unpersist()
        cms.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return _one_row(
        spark,
        n_users=n_users,
        cms_roundtrip=bool(cms_ok),
        bloom_mk_ok=bool((bl.m, bl.k) == (bloom.m, bloom.k)),
        bloom_probe_eq=bool(probe_eq),
        bloom_no_false_neg=bool(no_false_neg),
    )


def _q_stream_windowed_counts(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.streaming.events import (
        load_events,
        windowed_event_counts,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window="1 hour")
    # string timestamps: immune to ns-vs-us physical-type hash skew
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


DECON_N = 5  # 5-gram overlap: at the corpus vocab (~30 words) 3-grams
# collide by chance; 5-grams flag only genuine shared passages
DECON_BENCH_MOD = 37  # "benchmark" = every 37th doc (deterministic holdout)


def _q_decontaminate(spark, sf_dir):
    # benchmark decontamination: drop corpus docs sharing verbatim
    # word 5-grams with a held-out benchmark set (here: a deterministic
    # doc_id % 37 slice standing in for an eval suite). Runs the BLOOM
    # route (distributed bit_or build -> map-side prefilter -> exact
    # verify on the surviving sliver) — output is defined identical to
    # the plain broadcast path, so the same oracle checks both designs
    # (plain-vs-bloom equality is also pytest-pinned)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.decontaminate import (
        decontaminate_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return decontaminate_bloom(docs, bench, "doc_id", "text", n=DECON_N, min_overlap=1)


CRAWL_DUP_OFF = 1_000_000_000  # dup-record ids sit above every real doc_id
CRAWL_BOILER = "zzfollow zzus zzon zzsocial zzmedia"  # outside the corpus vocab
CRAWL_BENCH_MOD = 13
CRAWL_DUP_MOD = 10


def _q_crawl_shards(spark, sf_dir):
    # End-to-end crawl -> training-shards composition (what a user of
    # this engine actually runs): the documents table is written out
    # as WET crawl archives with planted boilerplate (appended to
    # every record) and planted exact duplicates (every 10th doc),
    # then warc_text -> boilerplate-line removal -> quality +
    # bigram-perplexity scoring -> exact dedup -> 5-gram benchmark
    # decontamination (bench = every 13th doc) -> deterministic split
    # assignment -> sequence packing (validate=True). Each stage's
    # observable is either SQL-derivable from `documents` (counts,
    # split sizes, token totals, bins) or asserted in-Spark and
    # emitted as a boolean the oracle pins TRUE (the boilerplate
    # strip must restore every source text byte-for-byte through the
    # WET round-trip; scores must exist and be finite). The scale
    # twin of this row is bench.py's env-gated crawl smoke.
    _ensure_shipped(spark)
    import shutil
    import tempfile

    from cs533_big_data_data_mining_spark.functions.text import quality_score
    from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate
    from cs533_big_data_data_mining_spark.operators.dedup import exact_dedup
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences
    from cs533_big_data_data_mining_spark.operators.quality import (
        assign_split,
        lm_perplexity,
        remove_boilerplate_lines,
    )
    from cs533_big_data_data_mining_spark.sources.warc import warc_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # driver-built archive: the table is small at oracle SFs; the
    # env-gated smoke builds its archives at volume
    rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    root = tempfile.mkdtemp(prefix="crawl_shards_")
    try:
        def rec(uri: str, payload: bytes) -> bytes:
            head = (
                b"WARC/1.0\r\nWARC-Type: conversion\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            )
            return head + payload + b"\r\n\r\n"

        shards: list[list[bytes]] = [[] for _ in range(4)]
        for i, r in enumerate(rows):
            # null-text docs flow as empty payloads (the corpus schema
            # allows them; a + would TypeError)
            payload = ((r["text"] or "") + "\n" + CRAWL_BOILER).encode()
            host = f"https://h{r['doc_id'] % 7}.example"
            shards[i % 4].append(rec(f"{host}/d/{r['doc_id']}", payload))
            if r["doc_id"] % CRAWL_DUP_MOD == 0:
                shards[(i + 1) % 4].append(rec(f"{host}/dup/{r['doc_id']}", payload))
        for j, blobs in enumerate(shards):
            with open(f"{root}/part{j}.wet", "wb") as fh:
                fh.write(b"".join(blobs))

        wt = warc_text(spark, root)
        base_id = F.regexp_extract("target_uri", r"/(?:d|dup)/(\d+)$", 1).cast("long")
        corpus = wt.select(
            F.when(F.col("target_uri").contains("/dup/"), base_id + F.lit(CRAWL_DUP_OFF))
            .otherwise(base_id)
            .alias("doc_id"),
            F.col("text"),
        ).cache()
        n_wet = corpus.count()

        cleaned = remove_boilerplate_lines(corpus, "doc_id", "text", n_wet - 1)
        corpus2 = cleaned.select(
            F.col("id").alias("doc_id"), F.col("clean").alias("text")
        ).cache()
        corpus2.count()  # fill the cache once before the parallel consumers

        # The byte-exactness audit and the scoring audit are
        # INDEPENDENT reads of corpus2 — overlap their jobs from a
        # small thread pool (guide §2.6: actions are only sequential
        # because the driver calls them sequentially). Each computes
        # exactly what it did serially; only the wall clock changes.
        def _boiler_bad() -> int:
            return (
                corpus2.withColumn("base", F.pmod("doc_id", F.lit(CRAWL_DUP_OFF)))
                .join(
                    docs.select(F.col("doc_id").alias("base"), F.col("text").alias("orig")),
                    "base",
                )
                .filter((F.col("text") != F.col("orig")) | F.col("text").isNull())
                .count()
            )

        def _score_bad() -> int:
            ppl = lm_perplexity(corpus2, id_col="doc_id", text_col="text")
            scored = corpus2.select("doc_id", quality_score("text").alias("q")).join(
                ppl.select(F.col("id").alias("doc_id"), "ppl"), "doc_id", "left"
            )
            bad = scored.filter(
                F.col("q").isNull() | F.col("ppl").isNull() | ~(F.col("ppl") > 0) | F.isnan("ppl")
            ).count()
            ppl.unpersist()
            return bad

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(2) as ex:
            f_boiler = ex.submit(_boiler_bad)
            f_score = ex.submit(_score_bad)
            boiler_bad, score_bad = f_boiler.result(), f_score.result()

        surv = exact_dedup(corpus2, "doc_id", "text").cache()
        n_dedup = surv.count()
        bench = docs.filter(F.col("doc_id") % CRAWL_BENCH_MOD == 0)
        flags = decontaminate(surv, bench, "doc_id", "text", n=DECON_N)
        final = surv.join(
            flags.filter("keep").select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        ).cache()
        n_final = final.count()

        # split counting and pack planning both read the cached
        # `final` and are independent — overlap them too (§2.6)
        def _split_counts() -> dict:
            splits = assign_split(
                final, "doc_id", weights={"train": 0.875, "val": 0.0625, "test": 0.0625}
            )
            return {
                r["split"]: r["n"]
                for r in splits.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
            }

        def _pack_agg():
            plan = pack_sequences(final, "doc_id", PACK_SEQ_LEN, validate=True)
            return plan.agg(
                F.coalesce(F.max(F.col("start_offset") + F.col("n_tokens")), F.lit(0)).alias(
                    "total"
                ),
                F.coalesce(F.max("bin_end") + 1, F.lit(0)).alias("bins"),
            ).head()

        with ThreadPoolExecutor(2) as ex:
            f_sc = ex.submit(_split_counts)
            f_agg = ex.submit(_pack_agg)
            sc, agg = f_sc.result(), f_agg.result()
        for fr in (corpus, corpus2, surv, final):
            fr.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return _one_row(
        spark,
        n_wet=n_wet,
        boiler_ok=bool(boiler_bad == 0),
        scores_ok=bool(score_bad == 0),
        n_dedup=n_dedup,
        n_contam=n_dedup - n_final,
        n_train=sc.get("train", 0),
        n_val=sc.get("val", 0),
        n_test=sc.get("test", 0),
        total_tokens=int(agg["total"]),
        n_bins=int(agg["bins"]),
    )


# --- RefinedWeb-ordered flagship composition ------------------------
RW_URL_DUP_MOD = 10  # doc_id % 10 == 7 rows carry a crawl VARIANT of doc (id-1)'s URL
RW_PPL_KEEP = 0.9  # keep the lowest-perplexity 90% (exact percentile gate)
RW_MH_T = 0.8  # MinHash-LSH dedup threshold (exact-Jaccard verified)
RW_BENCH_MOD = 13  # "benchmark" = every 13th ORIGINAL doc (decontamination)
RW_K = 120  # DSIR resample size (< survivors at every SF, so the top-k cuts)
RW_SEED_SEL = 8  # Gumbel seed; MUST differ from the shard seed — both hash
RW_SEED_SHARD = 9  # (seed, id), and the Gumbel key is monotone in u, so one
# shared seed would skew every selected doc toward the top shards
RW_SHARDS = 8
RW_BOILER = "rwnav rwcookie rwbanner"  # planted boilerplate line


def _q_refinedweb_pipeline(spark, sf_dir):
    # THE production-ordered curation pipeline (Penedo et al. 2023
    # "RefinedWeb" §3, with the Rae 2021 / Lee 2022 / Xie 2023 stages
    # in their published order), run through the same preset as the
    # `refinedweb` CLI (operators/pipelines.py): URL dedup -> Gopher
    # rules -> boilerplate removal -> perplexity quantile gate ->
    # exact dedup -> MinHash near-dup dedup -> duplicated-span
    # REMOVAL -> benchmark decontamination -> DSIR weights + Gumbel
    # top-k resample -> split assignment -> shard assignment. Each
    # stage is an individually-green operator; THIS row pins their
    # composition — ordering bugs (dedup before vs after mixing, decon
    # on pre- vs post-span text) are exactly what the unit rows can't
    # see.
    #
    # Output: one row PER SELECTED DOC — (id, logratio, g_key, split,
    # shard) — so a wrong survivor set at ANY stage flips the value
    # hash; the per-stage survivor counts (the runner's Observations)
    # and the in-Spark byte-exactness assertion of the boilerplate
    # round-trip ride along as constant columns the oracle
    # recomputes/pins.
    _ensure_shipped(spark)
    from dataclasses import replace

    from cs533_big_data_data_mining_spark.operators import pipelines
    from cs533_big_data_data_mining_spark.operators.packing import shard_rows
    from cs533_big_data_data_mining_spark.session import local_df

    # null-text docs flow as '' from the start (the WET lesson from
    # crawl_shards): gopher's min-word rule drops them first thing,
    # identically on both engines
    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"), "source"
    )
    # planted crawl variants — every doc gets a messy variant of its
    # base key; dup rows (id % 10 == 7) reuse the PREVIOUS doc's base,
    # so the real normalizer must collapse them at the URL stage
    is_dup = F.col("doc_id") % RW_URL_DUP_MOD == 7
    base_key = (F.col("doc_id") - F.when(is_dup, 1).otherwise(0)).cast("string")
    crawl = docs0.select("doc_id", "text", _url_variants(base_key).alias("url"))
    obs_boiler = Observation("rw_boiler")

    with pipelines.StageRunner(spark) as run:

        def boiler(df, caches):
            # row-only plant: one boiler line on every doc, removed at
            # threshold n_gopher - 1; the byte-exact restore rides the
            # stage's own checkpoint as an observed mismatch sum (the
            # oracle pins the boolean; downstream reads the original text)
            planted = df.withColumn("__orig", F.col("text")).withColumn(
                "text", F.concat(F.col("text"), F.lit("\n" + RW_BOILER))
            )
            strip = pipelines.boilerplate_stage("doc_id", "text", run.count("gopher") - 1)
            bad = (F.col("text") != F.col("__orig")) | F.col("text").isNull()
            return (
                strip.fn(planted, caches)
                .observe(obs_boiler, F.sum(bad.cast("long")).alias("bad"))
                .drop("__orig")
            )

        stages = pipelines.refinedweb(
            url_col="url",
            min_words=GOPHER_MIN_WORDS,
            min_stopword_hits=GOPHER_MIN_STOP,
            keep_ppl=RW_PPL_KEEP,
            jaccard=RW_MH_T,
            spans_k=SPAN_K,
            bench=docs0.filter(F.col("doc_id") % RW_BENCH_MOD == 0),
            decontam_ngram=DECON_N,
            target=docs0.filter(F.col("source") == "src0"),
            select_k=RW_K,
            dsir_buckets=DSIR_BUCKETS,
            dsir_alpha=DSIR_ALPHA,
            dsir_hash="poly31",
            seed=RW_SEED_SEL,
        )
        # the boilerplate plant reads the Gopher survivors twice (the
        # restore check) and needs their count first: materialize there
        g = [s.name for s in stages].index("gopher")
        stages[g] = replace(stages[g], materialize=True)
        stages.insert(g + 1, pipelines.Stage("boilerplate", boiler, materialize=True))
        picked = run.run(crawl, stages).select("doc_id", "logratio", "g_key", "split")
        sharded = shard_rows(picked, "doc_id", RW_SHARDS, seed=RW_SEED_SHARD)
        final = picked.join(sharded.select("doc_id", "shard"), "doc_id").collect()
        counts = [
            run.count(s)
            for s in ("url_dedup", "gopher", "ppl_gate", "exact_dedup", "minhash_dedup",
                      "decontaminate")
        ]
    boiler_ok = int(obs_boiler.get["bad"] or 0) == 0
    rows = [
        (r["doc_id"], r["logratio"], r["g_key"], r["split"], r["shard"], *counts, boiler_ok)
        for r in final
    ]
    return local_df(
        spark,
        rows,
        "id long, logratio double, g_key double, split string, shard int, "
        "n_url long, n_gopher long, n_ppl long, n_exact long, n_fuzzy long, "
        "n_decon long, boiler_ok boolean",
    )


# --- FineWeb-ordered flagship (Penedo et al. 2024 §3) -----------------
# plant residues: each stage has a disjoint failure class riding on it
FWP_URL_MOD, FWP_URL_RES = 23, 3        # blocked-domain URL -> stage 1
FWP_LANG_MOD, FWP_LANG_RES = 19, 5      # French markers     -> stage 2
FWP_REP_MOD, FWP_REP_RES = 17, 2        # dup-line spam      -> stage 3
FWP_GOPHER_MOD, FWP_GOPHER_RES = 29, 7  # under min-words    -> stage 4
FWP_DUP_MOD, FWP_DUP_RES = 37, 6        # near-dup of id-1   -> stage 5
FWP_C4_MOD, FWP_C4_RES = 31, 4          # 'lorem ipsum' page -> stage 6
FWP_FW_MOD, FWP_FW_RES = 41, 8          # short-lines page   -> stage 7
FWP_MH_T = 0.8
FWP_SHORT_K = 8
FWP_BLOCKED = ["bad.example"]
FWP_FRENCH = (
    "le chat est sur la table et les oiseaux chantent.\n"
    "une des raisons est que le temps est doux et calme.\n"
    "les amis et le soleil sont une belle chose ce matin."
)
FWP_SPAM_LINE = "Repeat this exact spam line verbatim now."
FWP_EXTRA_LINE = "Extra trailing words appended here now today."


def _fwp_inner(i, txt):
    """The per-doc constructed web page for the FineWeb flagship —
    three punctuated sentence-lines carrying the real corpus text
    (so dedup/ppl-class stages see per-doc variability) plus the
    residue-class failure plants. Mirrored verbatim by
    ``_fwp_inner_sql``; the near-dup plant wraps this at the caller
    (text of doc id-1 plus one extra line)."""
    sid = i.cast("string")
    l1 = F.concat(
        F.lit("Document "),
        sid,
        F.lit(
            " of the corpus opens with a clear and steady sentence"
            " that ends properly. It truly does so."
        ),
    )
    l2 = F.concat(
        F.lit("It is followed by the words "),
        F.substring(txt, 1, 120),
        F.lit(" and a final period."),
    )
    l3 = F.concat(
        F.lit("The closing line is in the same style and mentions doc "),
        sid,
        F.lit(" again today. Contact user"),
        sid,
        F.lit("@mail.example.com now. All done."),
    )
    normal = F.concat(l1, F.lit("\n"), l2, F.lit("\n"), l3)
    shorts = F.concat_ws(
        "\n",
        *[
            F.concat(F.lit(f"Alpha{k} beta{k} d"), sid, F.lit(f" go{k}."))
            for k in range(FWP_SHORT_K)
        ],
    )
    spam = F.concat_ws("\n", *[F.lit(FWP_SPAM_LINE)] * 5)
    return (
        F.when(i % FWP_LANG_MOD == FWP_LANG_RES, F.lit(FWP_FRENCH))
        .when(
            i % FWP_GOPHER_MOD == FWP_GOPHER_RES,
            F.concat(F.lit("The a of and to is in it for doc "), sid, F.lit(".")),
        )
        .when(i % FWP_REP_MOD == FWP_REP_RES, F.concat(normal, F.lit("\n"), spam))
        .when(
            i % FWP_C4_MOD == FWP_C4_RES,
            F.concat(normal, F.lit("\nSee also lorem ipsum text.")),
        )
        .when(i % FWP_FW_MOD == FWP_FW_RES, F.concat(normal, F.lit("\n"), shorts))
        .otherwise(normal)
    )


# ---- Dolma flagship planting constants (Soldaini et al. 2024 §2) ----
DMP_HIST_MOD = 4                      # doc_id % 4 == 0 -> immutable history
DMP_LANG_MOD, DMP_LANG_RES = 13, 3    # non-English page    -> stage 1
DMP_GOPHER_MOD, DMP_GOPHER_RES = 17, 5  # low-quality junk  -> stage 2
DMP_DOC_MOD, DMP_DOC_RES = 29, 13     # exact history copy  -> stage 6
DMP_C4P_MOD, DMP_C4P_RES = 19, 7      # lorem-ipsum page    -> stage 3 (page drop)
DMP_C4L_MOD, DMP_C4L_RES = 37, 9      # javascript line     -> stage 3 (line clean)
DMP_PARA_MOD, DMP_PARA_RES = 31, 17   # history paragraph   -> stage 7 (excised)
DMP_URL_MOD, DMP_URL_RES = 23, 11     # shared-URL re-crawl -> stage 5
DMP_URL_GROUPS = 7
DMP_NEWPARA_CLASSES = 6               # within-pool shared paragraph classes
DMP_HISTPARA_CLASSES = 5
DMP_L1A, DMP_L1B = "Document ", (
    " of the pool opens with a clear and steady sentence that ends properly."
    " It truly does so."
)
DMP_L2A, DMP_L2B = "It is followed by the words ", " and a final period."
DMP_L3A, DMP_L3B, DMP_L3C = "Contact user", "@mail.example.com for doc ", (
    " details today. All done."
)
DMP_L4A, DMP_L4B = "New pool shared paragraph ", " appears in many pool documents."
DMP_GOPHA, DMP_GOPHB = "The a of and to is in it for doc ", "."
DMP_C4P_LINE = "See also lorem ipsum text."
DMP_C4L_LINE = "Please enable JavaScript to continue now."
DMP_HISTP_A, DMP_HISTP_B = "Shared history paragraph block ", " appears in the archive."
DMP_H1A, DMP_H1B = "History document ", (
    " of the archive opens with a clear and steady sentence that ends properly."
    " It truly does so."
)
DMP_H2 = (
    "It continues with plenty of additional words to be sure that the fifty word"
    " minimum for the quality rules is comfortably cleared."
    " Indeed the margin is quite safe in every case today."
)


def _dmp_hist_text(hid):
    """Constructed history page for history doc ``hid`` (a Column):
    three paragraphs — two per-doc framing sentences with enough
    words/sentences to be stage-1..4 INVARIANT (the doc-dup plant
    copies this text verbatim and must reach the dedup stage
    unchanged: English markers, >= 50 words, exactly 5 terminal
    marks, every line >= 3 words, no C4 substrings, no PII) — plus
    the shared-class paragraph the stage-7 plants point at."""
    h = hid.cast("string")
    return F.concat(
        F.lit(DMP_H1A), h, F.lit(DMP_H1B), F.lit("\n"),
        F.lit(DMP_H2), F.lit("\n"),
        F.lit(DMP_HISTP_A), (hid % DMP_HISTPARA_CLASSES).cast("string"), F.lit(DMP_HISTP_B),
    )


def _dmp_inner(i, txt):
    """Per-doc constructed page for the Dolma flagship pool —
    mirrored verbatim by ``_dmp_inner_sql``. Class precedence (first
    match wins, same CASE order in SQL): French page, gopher junk,
    exact history copy (of history doc ``i - i % 4``), lorem-ipsum
    page, javascript line, history-shared paragraph; the normal page
    is four paragraphs (unique opener, corpus words, PII contact
    line, within-pool shared paragraph class i % 6)."""
    sid = i.cast("string")
    normal = F.concat(
        F.lit(DMP_L1A), sid, F.lit(DMP_L1B), F.lit("\n"),
        F.lit(DMP_L2A), F.substring(txt, 1, 120), F.lit(DMP_L2B), F.lit("\n"),
        F.lit(DMP_L3A), sid, F.lit(DMP_L3B), sid, F.lit(DMP_L3C), F.lit("\n"),
        F.lit(DMP_L4A), (i % DMP_NEWPARA_CLASSES).cast("string"), F.lit(DMP_L4B),
    )
    return (
        F.when(i % DMP_LANG_MOD == DMP_LANG_RES, F.lit(FWP_FRENCH))
        .when(
            i % DMP_GOPHER_MOD == DMP_GOPHER_RES,
            F.concat(F.lit(DMP_GOPHA), sid, F.lit(DMP_GOPHB)),
        )
        .when(i % DMP_DOC_MOD == DMP_DOC_RES, _dmp_hist_text(i - (i % DMP_HIST_MOD)))
        .when(i % DMP_C4P_MOD == DMP_C4P_RES, F.concat(normal, F.lit("\n" + DMP_C4P_LINE)))
        .when(i % DMP_C4L_MOD == DMP_C4L_RES, F.concat(normal, F.lit("\n" + DMP_C4L_LINE)))
        .when(
            i % DMP_PARA_MOD == DMP_PARA_RES,
            F.concat(
                normal, F.lit("\n" + DMP_HISTP_A),
                (i % DMP_HISTPARA_CLASSES).cast("string"), F.lit(DMP_HISTP_B),
            ),
        )
        .otherwise(normal)
    )


def _dmp_url(i):
    sid = i.cast("string")
    return F.when(
        i % DMP_URL_MOD == DMP_URL_RES,
        F.concat(F.lit("https://pool.example/shared/"), (i % DMP_URL_GROUPS).cast("string")),
    ).otherwise(F.concat(F.lit("https://site"), sid, F.lit(".example.org/p/"), sid))


def _q_dolma_pipeline(spark, sf_dir):
    # The Dolma-ordered curation pipeline (Soldaini et al. 2024 §2 —
    # the THIRD production preset next to refinedweb/fineweb, with
    # Dolma's distinguishing pieces: PII masking BEFORE dedup, and
    # the URL -> document -> paragraph dedup ladder where both
    # content levels run against an immutable history corpus through
    # the Bloom route), run through the same preset as the `dolma`
    # CLI: language ID (en) -> Gopher quality rules -> C4 rules minus
    # terminal_punct -> PII masking -> URL dedup (exact keys: the
    # construction is normalization-invariant, and Dolma dedups raw
    # URLs) -> exact doc dedup vs history (Bloom, exact spelling,
    # fpp=0.5 so REAL false positives exercise the verify join) ->
    # paragraph dedup vs history + within-pool keep_first (Bloom
    # again). Every stage has a planted failure class on its own id
    # residue; the per-row (clean, n_paras, n_kept) plus five survivor
    # counts ride in the hash, so a wrong verdict anywhere flips it.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators import pipelines
    from cs533_big_data_data_mining_spark.session import local_df

    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    i = F.col("doc_id")
    hist = docs0.filter(i % DMP_HIST_MOD == 0).select(
        "doc_id", _dmp_hist_text(i).alias("text")
    )
    crawl = docs0.filter(i % DMP_HIST_MOD != 0).select(
        "doc_id", _dmp_inner(i, F.col("text")).alias("text"), _dmp_url(i).alias("url")
    )
    with pipelines.StageRunner(spark) as run:
        stages = pipelines.dolma(
            history=hist,
            url_col="url",
            min_words=GOPHER_MIN_WORDS,
            min_stopword_hits=GOPHER_MIN_STOP,
            normalize_urls=False,
            fpp=0.5,
            keep_emptied=True,
        )
        final = run.run(crawl, stages).collect()
        counts = [
            run.count(s)
            for s in ("lang_id", "gopher", "c4_minus_terminal_punct", "url_dedup", "doc_dedup")
        ]
    rows = [(r["doc_id"], r["text"], r["n_paras"], r["n_kept"], *counts) for r in final]
    return local_df(
        spark,
        rows,
        "id long, clean string, n_paras long, n_kept long, n_lang long, "
        "n_gopher long, n_c4 long, n_urlded long, n_docded long",
    )


def _q_fineweb_pipeline(spark, sf_dir):
    # The FineWeb-ordered curation pipeline (Penedo et al. 2024 §3 —
    # the SECOND production preset next to refinedweb_pipeline, with
    # the stages FineWeb adds/moves), run through the same preset as
    # the `fineweb` CLI: URL filtering -> language ID (en) -> Gopher
    # repetition removal -> Gopher quality rules -> MinHash near-dup
    # dedup -> C4 rules MINUS terminal_punct (§3.4, clean text flows
    # forward) -> FineWeb custom filters (§3.6) -> PII redaction.
    # Every doc gets a constructed multi-line page (the corpus text is
    # single-line); each stage has a planted failure class on its own
    # id residue, so a wrong verdict at ANY stage flips both the
    # survivor set and the stage counts. Output: one row per surviving
    # doc with its REDACTED text (the planted email must read <EMAIL>)
    # + the six survivor counts as constant columns.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators import pipelines
    from cs533_big_data_data_mining_spark.session import local_df

    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    withprev = docs0.join(
        docs0.select((F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("__prev")),
        "doc_id",
        "left",
    )
    i = F.col("doc_id")
    sid = i.cast("string")
    isdup = (i % FWP_DUP_MOD == FWP_DUP_RES) & F.col("__prev").isNotNull()
    text2 = F.when(
        isdup,
        F.concat(_fwp_inner(i - 1, F.col("__prev")), F.lit("\n" + FWP_EXTRA_LINE)),
    ).otherwise(_fwp_inner(i, F.col("text")))
    url = F.when(
        i % FWP_URL_MOD == FWP_URL_RES,
        F.concat(F.lit("https://malware.bad.example/p/"), sid),
    ).otherwise(F.concat(F.lit("https://site"), sid, F.lit(".example.org/a/"), sid))
    crawl = _spread(withprev.select("doc_id", text2.alias("text"), url.alias("url")))
    with pipelines.StageRunner(spark) as run:
        stages = pipelines.fineweb(
            url_col="url",
            blocked_domains=FWP_BLOCKED,
            min_words=GOPHER_MIN_WORDS,
            min_stopword_hits=GOPHER_MIN_STOP,
            jaccard=FWP_MH_T,
        )
        final = run.run(crawl, stages).collect()
        counts = [
            run.count(s)
            for s in ("url_filter", "lang_id", "repetition", "gopher", "minhash_dedup",
                      "c4_minus_terminal_punct")
        ]
    rows = [(r["doc_id"], r["text"], *counts) for r in final]
    return local_df(
        spark,
        rows,
        "id long, clean string, n_url long, n_lang long, n_rep long, "
        "n_gopher long, n_dedup long, n_c4 long",
    )


RETENTION_PERIOD_DAYS = 7


def _q_retention(spark, sf_dir):
    # cohort retention matrix over events: users grouped by first-
    # event date, counted in each later 7-day period they stayed
    # active; cohort_start emitted as an ISO string (the driver's
    # value hash is dtype-strict and date columns round-trip
    # differently through Spark vs DuckDB pandas conversion)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.funnel import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = retention_cohorts(ev, period_days=RETENTION_PERIOD_DAYS)
    return out.select(
        F.date_format("cohort_start", "yyyy-MM-dd").alias("cohort_start"),
        "period_offset",
        "n_active",
        "cohort_size",
        "retention",
    )


def _q_contam_spans(spark, sf_dir):
    # span-level decontamination audit: WHERE each doc overlaps the
    # benchmark (same deterministic doc_id % 37 holdout as
    # `decontaminate`) — maximal merged runs of benchmark-shared
    # 5-grams with token bounds
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.decontaminate import (
        contamination_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return contamination_spans(docs, bench, "doc_id", "text", n=DECON_N)


def _q_repetition_stats(spark, sf_dir):
    # Gopher-style repetition signals (type-token ratio, top-token and
    # top-2-gram shares) — the quality dimension length/stopword stats
    # (text_stats) can't see
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs, "doc_id", "text")


BALANCE_CAP = 10  # sf0.01 has 25 docs/source, so the cap actually binds


def _q_balance_sources(spark, sf_dir):
    # per-source document cap with a cross-engine-deterministic
    # priority (poly31 fingerprint of the id string, same recurrence
    # as functions/text.fingerprint)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import fingerprint
    from cs533_big_data_data_mining_spark.operators.quality import balance_sources

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return balance_sources(
        docs, "doc_id", "source", BALANCE_CAP, priority=fingerprint("CAST(doc_id AS STRING)")
    )


KEEP_FRAC = 0.6


def _q_assign_split(spark, sf_dir):
    # deterministic train/val/test assignment from the poly31 id hash
    # — reproducible across engines/runs/partitionings (no RNG)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.quality import assign_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # binary-exact weights (0.875 + 0.0625 + 0.0625): the cumulative
    # thresholds have exact float representations on both engines, so
    # a boundary u can never fall between two engines' cutoffs
    return assign_split(docs, "doc_id", weights={"train": 0.875, "val": 0.0625, "test": 0.0625})


def _q_quantile_filter(spark, sf_dir):
    # keep the top 60% of documents by quality score (threshold = the
    # exact 0.4-quantile; ties at the threshold survive)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import quality_score
    from cs533_big_data_data_mining_spark.operators.quality import quantile_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select("doc_id", quality_score("text").alias("q"))
    return quantile_filter(scored, "q", keep_frac=KEEP_FRAC)


def _q_asof_purchase_click(spark, sf_dir):
    # as-of join: each purchase matched to the user's most recent
    # click at-or-before it (same-instant clicks visible; ties among
    # clicks resolve to the largest event_id)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.asof import asof_join
    from cs533_big_data_data_mining_spark.streaming.events import load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click")
    out = asof_join(
        purchases, clicks, "user_id", "ts", "event_id", ["event_id", "value"], prefix="click_"
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.col("click_event_id").cast("long").alias("click_event_id"),
        "click_value",
    )


PACK_SEQ_LEN = 2048


def _q_pack_sequences(spark, sf_dir):
    # sequence-packing shard planner: global token offsets + first/
    # last 2048-token bin per doc, via the range-partitioned
    # distributed prefix sum (no single-partition window)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # validate=True: eager assert-don't-trust re-derivation of the
    # offset invariants — a divergence raises here (with the sketch
    # bounds in the message) instead of shipping a silent hash
    # mismatch the driver record can't explain (round-5 verdict #1)
    return pack_sequences(docs, "doc_id", PACK_SEQ_LEN, validate=True)


BPE_SEQ_LEN = 16  # small bin so the planted corpus spans many bins


def _q_bpe_tokenize_eq(spark, sf_dir):
    # trained byte-BPE tokenizer (round-11): the FULL path — histogram
    # -> merge learning -> broadcast-merges Arrow encode -> token
    # counts wired into pack_sequences' prefix sum — against a
    # closed-form oracle. The planted corpus forces the merge sequence
    # [(a,b), (ab,ab), (abab,abab)] (pair frequencies separated by
    # construction), so the oracle can hard-code the expected merges
    # AND compute each doc's token count arithmetically: for
    # m = 1 + doc_id % 8 repetitions of "ab", greedy rank-order
    # merging leaves (m//2)//2 + (m//2)%2 + m%2 tokens; every 16th doc
    # appends a 2-byte UTF-8 char ("é" -> C3 A9) that must surface as
    # exactly 2 unmerged byte tokens (byte-level, full coverage).
    # A wrong merge table, a wrong tie-break, a char-level (not
    # byte-level) decomposition, or a broken prefix-sum wiring each
    # flips the value hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.bpe import bpe_token_count, bpe_train
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences
    from cs533_big_data_data_mining_spark.session import local_df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 400)
    text = F.concat(
        F.repeat(F.lit("ab"), (F.lit(1) + F.col("doc_id") % 8).cast("int")),
        F.when(F.col("doc_id") % 16 == 0, F.lit("é")).otherwise(F.lit("")),
    )
    corpus = docs.select("doc_id", text.alias("text"))
    merges = bpe_train(corpus, "text", n_merges=3)

    packed = pack_sequences(
        corpus, "doc_id", BPE_SEQ_LEN, count_expr=bpe_token_count(merges, "text"), validate=True
    )
    per_doc = packed.select(
        F.col("id"), F.lit("").alias("info"), F.col("n_tokens"), F.col("start_offset")
    )
    merge_rows = local_df(
        spark,
        [(-(i + 1), f"{a}>{b}", -1, -1) for i, (a, b) in enumerate(merges)],
        "id long, info string, n_tokens long, start_offset long",
    )
    return per_doc.unionByName(merge_rows)


def _q_bpe_roundtrip_eq(spark, sf_dir):
    # the tokenizer's LOSSLESS inverse (round 12): real corpus text
    # plus an injected suffix of exactly the characters the r11
    # pretokenizer dropped (whitespace runs, tabs, NBSP, emoji) ->
    # ids -> decode must reproduce the text bit-for-bit; a separator-
    # framed stream (ids + <|eos|> + <|doc|>) must decode to
    # text + the literal markers (special ids live past the merges);
    # and len(ids) must agree with the packing counter. Any lossy
    # pretokenizer branch, byte/char confusion, wrong special-id
    # layout, or ids/count drift flips a boolean and the value hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.bpe import (
        DEFAULT_SPECIALS,
        bpe_decode,
        bpe_ids,
        bpe_special_ids,
        bpe_token_count,
        bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 300)
    gnarly = "\n\n  mixed\tws  émoji🎉 end "
    txt = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(gnarly))
    corpus = docs.select("doc_id", txt.alias("text")).cache()
    merges = bpe_train(corpus, "text", 32, min_count=2)
    sp = bpe_special_ids(merges)
    ids = bpe_ids(merges, "text")
    framed_ids = F.concat(ids, F.array(F.lit(sp["<|eos|>"]), F.lit(sp["<|doc|>"])))
    out = corpus.select(
        "doc_id",
        (bpe_decode(merges, ids) == F.col("text")).alias("roundtrip_ok"),
        (
            bpe_decode(merges, framed_ids, DEFAULT_SPECIALS)
            == F.concat(F.col("text"), F.lit("<|eos|><|doc|>"))
        ).alias("sep_roundtrip_ok"),
        (F.size(ids) == bpe_token_count(merges, "text")).alias("count_consistent"),
    )
    return out


def _q_bpe_count_route_eq(spark, sf_dir):
    # distinct-word (join) vs per-row (Arrow UDF) token counting on a
    # forced-merge corpus with a closed-form oracle, PLUS the
    # separator-inclusive packing offsets. Corpus per doc:
    # "ab"*m + " " + "ab"*m2 (+ "é" every 16th; every 50th doc null).
    # n_merges=2 forces [(a,b),(ab,ab)] ((a,b) pair mass ~2900 and
    # (ab,ab) ~2150 dominate (space,ab) ~390 and (0xC3,0xA9) 25), so
    # n = g(m) + 1 + g(m2) + 2*[doc%16==0] with g(x)=x//2+x%2 — both
    # routes must hit it exactly, and pack_sequences(sep_tokens=1)
    # must prefix-sum n+1. A wrong explode/groupBy/join route, a
    # per-batch cache bug, a lost empty-doc row, or separator
    # accounting drift each flips the value hash.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.bpe import (
        bpe_doc_token_counts,
        bpe_token_count,
        bpe_train,
    )
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 400)
    m = (F.lit(1) + F.col("doc_id") % 8).cast("int")
    m2 = (F.lit(1) + F.col("doc_id") % 5).cast("int")
    text = F.when(F.col("doc_id") % 50 == 49, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.repeat(F.lit("ab"), m),
            F.lit(" "),
            F.repeat(F.lit("ab"), m2),
            F.when(F.col("doc_id") % 16 == 0, F.lit("é")).otherwise(F.lit("")),
        )
    )
    corpus = docs.select("doc_id", text.alias("text")).cache()
    merges = bpe_train(corpus, "text", 2)
    jn = bpe_doc_token_counts(corpus, merges, route="join").withColumnRenamed(
        "n_tokens", "n_tokens_join"
    )
    ud = bpe_doc_token_counts(corpus, merges, route="udf").withColumnRenamed(
        "n_tokens", "n_tokens_udf"
    )
    packed = pack_sequences(
        corpus, "doc_id", 128, count_expr=bpe_token_count(merges, "text"),
        validate=True, sep_tokens=1,
    ).select(
        F.col("id"), F.col("n_tokens").alias("n_tokens_packed"), "start_offset"
    )
    return (
        jn.join(ud, "id")
        .join(packed, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens_join",
            "n_tokens_udf",
            (F.col("n_tokens_join") == F.col("n_tokens_udf")).alias("routes_match"),
            "n_tokens_packed",
            "start_offset",
        )
    )


def _phash_group_payload(g: int, k: int):
    # member k of group g: a 9x8 +-15-ladder greyscale grid whose
    # dHash is EXACTLY the planted 64-bit pattern (4-bit group id
    # repeated 16x -> cross-group Hamming >= 16), integer-upscaled so
    # nearest-neighbor center-map recovery is exact. k=0: PPM x4
    # (history/base); k=1: greyscale PNG x3 (re-encode+resize, ham 0);
    # k=2: 2-bit mutation (ham 2); k=3: 8-bit mutation (ham 8 — must
    # be EXCLUDED at max_hamming=3; also caps cross-member distance
    # shifts at 8, keeping cross-group >= 8 > 3).
    import numpy as np

    from cs533_big_data_data_mining_spark.operators.multimodal import pack_png, pack_ppm

    bits = 0
    for j in range(64):
        bits |= ((g >> (j % 4)) & 1) << j
    for f in {2: (0, 1), 3: tuple(range(8))}.get(k, ()):
        bits ^= 1 << f
    grid = np.zeros((8, 9), dtype=np.uint8)
    for r in range(8):
        v = 128
        grid[r, 0] = v
        for c in range(8):
            v = v - 15 if (bits >> (r * 8 + c)) & 1 else v + 15
            grid[r, c + 1] = v
    if k % 2 == 0:
        rgb = np.repeat(grid[..., None], 3, axis=2)
        return bytearray(pack_ppm(np.repeat(np.repeat(rgb, 4, 0), 4, 1)))
    return bytearray(pack_png(np.repeat(np.repeat(grid[..., None], 3, 0), 3, 1)))


def _phash_media(spark):
    from cs533_big_data_data_mining_spark.session import local_df

    rows = [(g * 4 + k, _phash_group_payload(g, k)) for g in range(16) for k in range(4)]
    rows.append((900, bytearray(b"not an image")))
    return local_df(spark, rows, "media_id long, payload binary")


def _q_phash_neardup(spark, sf_dir):
    # perceptual-hash (dHash) image near-dup (round 12): REAL pixel
    # content through decode -> integer BT.601 luma -> 9x8 center-map
    # thumbnail -> gradient bits -> Hamming band join + exact verify.
    # The construction plants, per group: a re-encoded+resized twin
    # (PPM x4 vs greyscale PNG x3 — byte-level dedup CANNOT pair
    # these; hamming must be exactly 0), a 2-bit mutation (hamming
    # exactly 2), and an 8-bit mutation that must be excluded at
    # max_hamming=3; 16x-repetition group patterns keep every
    # cross-group distance >= 8, so the result is exactly 3 pairs per
    # group. Wrong luma weights, resize mapping, bit order, band
    # slicing, or Hamming verify each add/drop/renumber pairs.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.multimodal import phash_neardup_pairs

    caches: list = []
    out = phash_neardup_pairs(_phash_media(spark), max_hamming=3, caches=caches)
    return out


def _q_phash_neardup_bi(spark, sf_dir):
    # bipartite twin: history = the k=0 bases (immutable), new = the
    # k=1..3 variants. Only cross-corpus pairs may appear (the
    # within-new (k1,k2) hamming-2 pair must NOT), and the persisted-
    # signature route (history_sigs from dhash64 — history payloads
    # never decoded) must agree with the payload route pair-for-pair.
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.multimodal import (
        dhash64,
        phash_neardup_pairs_bipartite,
    )

    media = _phash_media(spark)
    hist = media.filter((F.col("media_id") % 4 == 0) & (F.col("media_id") < 900))
    new = media.filter(F.col("media_id") % 4 != 0)
    via_payload = phash_neardup_pairs_bipartite(new, hist, max_hamming=3)
    hs = dhash64(hist).filter(F.col("decode_ok"))
    via_sigs = phash_neardup_pairs_bipartite(new, hist, max_hamming=3, history_sigs=hs)
    return via_payload.withColumn("route", F.lit("payload")).unionByName(
        via_sigs.withColumn("route", F.lit("sigs"))
    )


# deterministic synthetic PII injected per doc (the corpus itself is
# clean word soup): exercises every pattern class on both engines
_PII_SUFFIX = (
    " contact user{id}@mail.example.com or https://ex.example/d/{id}"
    " tel 555-123-4567 host 10.0.0.1"
)


def _q_redact_pii(spark, sf_dir):
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.functions.text import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = F.col("doc_id").cast("string")
    injected = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), ids, F.lit("@mail.example.com or https://ex.example/d/"),
        ids, F.lit(" tel 555-123-4567 host 10.0.0.1"),
    )
    return docs.select("doc_id", redact_pii(injected).alias("clean"))


def _q_label_centroids(spark, sf_dir):
    # class centroids over the embedding column: DECIMAL-exact
    # component sums -> order-independent, ANSI-reproducible means
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import label_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_centroids(emb)


def _q_knn_classify(spark, sf_dir):
    # embedding-space k-NN majority-vote labeling (k=5, cosine,
    # ties to the smallest label)
    _ensure_shipped(spark)
    from cs533_big_data_data_mining_spark.operators.similarity import knn_classify

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn_classify(emb, emb.filter("vec_id < 20"), k=5)


def _q_sketches_all(spark, sf_dir):
    # composite of the three single-row sketch checks (HLL++ distinct,
    # CMS heavy hitters, streaming CMS merge) — the driver's
    # correctness record holds at most ~50 rows (r5 cut at exactly 50
    # of 54), so single-boolean checks share one row instead of
    # spending three
    # the four parts are independent (own temp dirs / sink names) —
    # run them concurrently; Spark's scheduler interleaves the jobs.
    # (What made this composite read 16 s in round 7's first bench was
    # not the concurrency but the final crossJoin of createDataFrame
    # one-row frames — see _one_row.)
    # 20k events through ~65 tiny jobs: 32-way shuffles are pure
    # scheduling overhead — pin partitions low around all four parts
    # (the stream_eq_all pattern; set/restore is a fixed point, and
    # every check is partition-invariant: counts, CMS cell sums, HLL
    # merges are associative-commutative).
    from concurrent.futures import ThreadPoolExecutor

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with ThreadPoolExecutor(4) as ex:
            fa = ex.submit(_q_sketch_distinct, spark, sf_dir)
            fb = ex.submit(_q_sketch_heavy_hitters, spark, sf_dir)
            fc = ex.submit(_q_sketch_stream_merge, spark, sf_dir)
            fd = ex.submit(_q_sketch_persist, spark, sf_dir)
            ra, rb, rc, rd = fa.result(), fb.result(), fc.result(), fd.result()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    a = ra.select(
        F.col("n_exact").alias("hll_n_exact"),
        F.col("within_bounds").alias("hll_within_bounds"),
    )
    b = rb.select(
        F.col("n_exact").alias("hh_n_exact"),
        F.col("superset_ok").alias("hh_superset_ok"),
        F.col("no_undercount").alias("hh_no_undercount"),
    )
    c = rc.select(
        F.col("n_exact").alias("sm_n_exact"),
        F.col("merged_equals_full").alias("sm_merged_equals_full"),
        F.col("no_undercount").alias("sm_no_undercount"),
    )
    d = rd.select(
        F.col("n_users").alias("pr_n_users"),
        F.col("cms_roundtrip").alias("pr_cms_roundtrip"),
        F.col("bloom_mk_ok").alias("pr_bloom_mk_ok"),
        F.col("bloom_probe_eq").alias("pr_bloom_probe_eq"),
        F.col("bloom_no_false_neg").alias("pr_bloom_no_false_neg"),
    )
    return (
        a.coalesce(1)
        .crossJoin(b.coalesce(1))
        .crossJoin(c.coalesce(1))
        .crossJoin(d.coalesce(1))
    )


def _q_stream_eq_all(spark, sf_dir):
    # composite of the three stream-vs-batch equivalence checks
    # (sessionize, ingest curation, exact dedup) — same row-budget
    # rationale as _q_sketches_all.
    # The round-9 "known sensitivity" (sessionize subset check flaking
    # under external CPU load) is CLOSED in round 10: the cause was
    # parallel slice COPIES racing FileStreamSource's
    # modification-time ordering (older events after the watermark ->
    # dropped as late -> partial non-subset sessions); copies are now
    # sequential with explicit ascending mtimes, and the drain raises
    # on overrun instead of reading a partial sink — the whole row is
    # event-time-deterministic under arbitrary contention.
    # independent harnesses (own temp dirs / sink names) run
    # concurrently. The parts' shuffle-partition set/restore is made
    # race-free by pinning the conf around all three: each part then
    # reads prev=4, sets 4, restores 4 — a fixed point.
    from concurrent.futures import ThreadPoolExecutor

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with ThreadPoolExecutor(4) as ex:
            fa = ex.submit(_q_sessionize_stream_eq, spark, sf_dir)
            fb = ex.submit(_q_curate_stream_eq, spark, sf_dir)
            fc = ex.submit(_q_dedup_stream_eq, spark, sf_dir)
            fd = ex.submit(_q_curate_nb_stream_eq, spark, sf_dir)
            ra, rb, rc, rd = fa.result(), fb.result(), fc.result(), fd.result()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    a = ra.select(
        F.col("n_batch").alias("sess_n_batch"),
        F.col("subset_ok").alias("sess_subset_ok"),
        F.col("coverage_ok").alias("sess_coverage_ok"),
    )
    b = rb.select(
        F.col("n_batch").alias("cur_n_batch"),
        F.col("stream_matches").alias("cur_stream_matches"),
    )
    c = rc.select(
        F.col("n_batch").alias("ded_n_batch"),
        F.col("stream_matches").alias("ded_stream_matches"),
    )
    d = rd.select(
        F.col("n_batch").alias("nb_n_batch"),
        F.col("stream_matches").alias("nb_stream_matches"),
    )
    return (
        a.coalesce(1)
        .crossJoin(b.coalesce(1))
        .crossJoin(c.coalesce(1))
        .crossJoin(d.coalesce(1))
    )


#: Must-record rotation: CORRECTNESS_r12 and r13 sampled the same 50
#: keys, so this list holds the other 51 registered queries — every one
#: neither record checked. The three curation presets come first: their
#: driver rows now run through ``operators/pipelines.py`` and none of
#: them is in r13. The rest follow in registry order; the ~50-row cap
#: parks the last one.
_RECORD_FRONT = [
    "refinedweb_pipeline",
    "fineweb_pipeline",
    "dolma_pipeline",
    "multimodal_meta",
    "quantile_filter",
    "bbox",
    "median_dim",
    "multimodal_gif",
    "url_dedup_bloom",
    "langid_route_eq",
    "nb_classify",
    "fineweb_filters",
    "c4_filters",
    "gopher_repetition",
    "paragraph_dedup",
    "paragraph_dedup_bi",
    "lsh_bucket_cap_eq",
    "compression_ratio",
    "semdedup_bi",
    "dsir_bigk_eq",
    "url_filter",
    "dsir_resample",
    "stream_eq_all",
    "grid_cells",
    "ghost_rows",
    "neighbor_count",
    "core_points",
    "eps_join_2t",
    "cluster_labels",
    "cluster_stats",
    "dense_ids",
    "sample_count",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "embed_neardup",
    "sim_topk",
    "curate_docs",
    "curate_corpus",
    "url_dedup",
    "url_dedup_bi",
    "gopher_rules",
    "dsir_weights",
    "mix_to_budget",
    "remove_dup_spans",
    "span_dup_stats",
    "contam_spans",
    "spans_bipartite",
    "semdedup_far",
    "semdedup_eq",
    "dsir_route_eq",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY ORDER IS DELIBERATE. The driver's correctness record
    # holds at most ~50 rows, so: (1) queries that are new — or whose
    # implementation changed this round — come FIRST; (2) the rotation
    # block below reorders so every registered query gets a driver row
    # at most two rounds old: the 44 queries whose latest row is
    # CORRECTNESS_r08 move to the front this round (round 10), and the
    # 50 freshly-recorded r9 rows park past the cut — a fixed-size cut
    # only drops rows the r9 record + pytest already pin, and they
    # rotate back in next round. _RECORD_FRONT holds this round's
    # must-record list; the dict literal keeps its stable grouping so
    # per-query comments stay put.
    reg = {
        # --- new / changed this round (must-record) ---
        # bpe_roundtrip_eq: NEW (round 12) — lossless detokenizer +
        # special tokens: decode(ids)==text on real corpus text with a
        # planted whitespace/NBSP/emoji suffix; separator-framed
        # streams decode with literal markers; len(ids) == pack count
        "bpe_roundtrip_eq": _q_bpe_roundtrip_eq,
        # bpe_count_route_eq: NEW — distinct-word join-route counter
        # vs the Arrow UDF route vs a closed-form forced-merge oracle,
        # plus sep_tokens-inclusive packing offsets
        "bpe_count_route_eq": _q_bpe_count_route_eq,
        # phash_neardup: NEW — perceptual-hash (dHash) image dedup:
        # re-encoded/resized pixel twins pair at hamming 0, planted
        # 2-bit mutants at 2, 8-bit mutants excluded
        "phash_neardup": _q_phash_neardup,
        # phash_neardup_bi: NEW — incremental twin (history immutable,
        # cross-corpus pairs only) with the persisted-signature route
        # pinned equal to the payload route
        "phash_neardup_bi": _q_phash_neardup_bi,
        # bpe_tokenize_eq: NEW (round 11) — trained byte-BPE tokenizer
        # (histogram -> merge learning -> Arrow encode) wired into
        # pack_sequences, vs a closed-form forced-merge oracle
        "bpe_tokenize_eq": _q_bpe_tokenize_eq,
        # multimodal_gif: NEW — REAL GIF decode (pure-stdlib LZW,
        # interlace, animation compositing) + video-style frame
        # sampling over planted construction-derived payloads
        "multimodal_gif": _q_multimodal_gif,
        # paragraph_dedup_bloom: NEW — Dolma's Bloom-filter dedup
        # route (exact spelling, deliberate-FP filter) hashed against
        # the hash-join twin's oracle
        "paragraph_dedup_bloom": _q_paragraph_dedup_bloom,
        # url_dedup_bloom: NEW — the URL-level Bloom route vs the
        # url_dedup_bi construction (deliberate-FP filter)
        "url_dedup_bloom": _q_url_dedup_bloom,
        # dolma_pipeline: NEW — the Dolma-ordered flagship (Soldaini
        # 2024 §2): langid -> Gopher -> C4-minus-punct -> PII BEFORE
        # dedup -> URL dedup -> Bloom doc dedup vs history -> Bloom
        # paragraph dedup vs history + within-pool keep_first
        "dolma_pipeline": _q_dolma_pipeline,
        # fineweb_pipeline: NEW — the FineWeb-ordered flagship
        # (Penedo 2024 §3): URL -> langid -> Gopher rep -> Gopher
        # rules -> MinHash -> C4-minus-terminal-punct -> custom
        # filters -> PII, planted failure class per stage
        "fineweb_pipeline": _q_fineweb_pipeline,
        # semdedup_multiprobe_eq: NEW (round 10) — multi-probe
        # SemDeDup pairing bounds the cross-cluster miss; planted
        # boundary pair that p=1 provably misses and p=2 finds
        "semdedup_multiprobe_eq": _q_semdedup_multiprobe_eq,
        # langid_route_eq: NEW (round 10) — trained fastText-style
        # langid (char-3-gram NB via nb_train grams='char') vs the
        # marker heuristic, both scoring implementations pinned
        "langid_route_eq": _q_langid_route_eq,
        # nb_classify: NEW — supervised hashed-n-gram Naive Bayes
        # (fastText-style model filter, Joulin 2016 / Wenzek 2020)
        "nb_classify": _q_nb_classify,
        # fineweb_filters: NEW — Penedo 2024 §3.6 custom quality gates
        "fineweb_filters": _q_fineweb_filters,
        # c4_filters: NEW — Raffel 2020 §2.2 line/page cleaning rules
        "c4_filters": _q_c4_filters,
        # gopher_repetition: NEW — Rae 2021 A1.2 repetition bundle
        "gopher_repetition": _q_gopher_repetition,
        # paragraph_dedup: NEW — CCNet paragraph-hash dedup transform
        # (both keep_first and drop_repeated policies in one row)
        "paragraph_dedup": _q_paragraph_dedup,
        # paragraph_dedup_bi: NEW — the incremental shard-vs-history
        # twin (history immutable, then keep_first within the shard)
        "paragraph_dedup_bi": _q_paragraph_dedup_bi,
        # lsh_bucket_cap_eq: NEW — max_bucket_size boilerplate guard
        # keeps exact recall on planted byte-identical pairs
        "lsh_bucket_cap_eq": _q_lsh_bucket_cap_eq,
        # compression_ratio: NEW — zlib compressibility scorer
        # (construction-derived class flags + exact byte counts)
        "compression_ratio": _q_compression_ratio,
        # semdedup_bi: NEW — incremental SemDeDup vs immutable history
        "semdedup_bi": _q_semdedup_bi,
        # dsir_bigk_eq: NEW — forces the k>driver_k_limit threshold
        # route against dsir_resample's exact replay oracle
        "dsir_bigk_eq": _q_dsir_bigk_eq,
        # multimodal_decode: PNG payloads (zlib inflate + NumPy
        # unfilter) planted this round
        "multimodal_decode": _q_multimodal_decode,
        # url_filter: url_host trailing-dot fix + flattened keyword
        # fold + new FQDN-bypass plant
        "url_filter": _q_url_filter,
        # dsir_resample: implementation gained the route dispatch (the
        # small-k plan is unchanged, but the code path moved)
        "dsir_resample": _q_dsir_resample,
        # stream_eq_all: curate_ingest grew the URL stage-zero gate
        # (off by default here, but the ingest code changed)
        "stream_eq_all": _q_stream_eq_all,
        # --- rotation: latest driver row is r7; re-record now ---
        "grid_cells": _q_grid_cells,
        "ghost_rows": _q_ghost_rows,
        "neighbor_count": _q_neighbor_count,
        "core_points": _q_core_points,
        "eps_join_2t": _q_eps_join_2t,
        "cluster_labels": _q_cluster_labels,
        "cluster_stats": _q_cluster_stats,
        "dense_ids": _q_dense_ids,
        "sample_count": _q_sample_count,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_minhash": _q_dedup_minhash,
        "simhash_neardup": _q_simhash_neardup,
        "embed_neardup": _q_embed_neardup,
        "sim_topk": _q_sim_topk,
        "curate_docs": _q_curate_docs,
        "curate_corpus": _q_curate_corpus,
        "url_dedup": _q_url_dedup,
        "url_dedup_bi": _q_url_dedup_bi,
        "gopher_rules": _q_gopher_rules,
        "dsir_weights": _q_dsir_weights,
        "mix_to_budget": _q_mix_to_budget,
        "remove_dup_spans": _q_remove_dup_spans,
        "span_dup_stats": _q_span_dup_stats,
        "contam_spans": _q_contam_spans,
        "spans_bipartite": _q_spans_bipartite,
        "semdedup_far": _q_semdedup_far,
        "pack_sequences": _q_pack_sequences,
        "semdedup_eq": _q_semdedup_eq,
        # --- r8-recorded stable queries filling to the cap (the
        # flagship stays inside it every round) ---
        "refinedweb_pipeline": _q_refinedweb_pipeline,
        "dsir_route_eq": _q_dsir_route_eq,
        "crawl_shards": _q_crawl_shards,
        "decontaminate": _q_decontaminate,
        "sketches_all": _q_sketches_all,
        "shard_assign": _q_shard_assign,
        "sim_topk_ivf": _q_sim_topk_ivf,
        "sim_topk_ivf_full": _q_sim_topk_ivf_full,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frames": _q_multimodal_frames,
        "curate_embeds": _q_curate_embeds,
        "redact_pii": _q_redact_pii,
        "knn_classify": _q_knn_classify,
        "scan_project_filter": _q_scan_project_filter,
        "retention": _q_retention,
        # --- past the ~50-row cap: fresh green CORRECTNESS_r08 rows,
        # code untouched this round; they rotate back in next round ---
        "profile_lineitem": _q_profile_lineitem,
        "expectations": _q_expectations,
        "clean_text": _q_clean_text,
        "lm_perplexity": _q_lm_perplexity,
        "text_stats": _q_text_stats,
        "tfidf": _q_tfidf,
        "balance_sources": _q_balance_sources,
        "salted_join_eq": _q_salted_join_eq,
        "sample_sources": _q_sample_sources,
        "quantile_filter_by": _q_quantile_filter_by,
        "lsh_route_eq": _q_lsh_route_eq,
        "boilerplate_lines": _q_boilerplate_lines,
        "stream_windowed_counts": _q_stream_windowed_counts,
        "chunk_documents": _q_chunk_documents,
        "dedup_minhash_2t": _q_dedup_minhash_2t,
        "label_centroids": _q_label_centroids,
        "repetition_stats": _q_repetition_stats,
        "assign_split": _q_assign_split,
        "asof_purchase_click": _q_asof_purchase_click,
        "funnel": _q_funnel,
        "sessionize": _q_sessionize,
        "agg_q1": _q_agg_q1,
        "eps_join": _q_eps_join,
        "join_revenue_by_nation": _q_join_revenue_by_nation,
        "window_topk": _q_window_topk,
        "rollup_revenue": _q_rollup_revenue,
        "simhash_sigs": _q_simhash,
        "multimodal_meta": _q_multimodal_meta,
        "quantile_filter": _q_quantile_filter,
        "bbox": _q_bbox,
        "median_dim": _q_median_dim,
    }
    front = [k for k in _RECORD_FRONT if k in reg]
    ordered = {k: reg[k] for k in front}
    ordered.update({k: v for k, v in reg.items() if k not in ordered})
    return {k: _leakproof(v) for k, v in ordered.items()}


def _leakproof(fn):
    """Make a declared query leave NO session-global state behind.

    Round 13: 19 of the 101 registered queries returned a frame whose
    plan (or a dependency) was still registered in the session
    CacheManager — by design inside one call (composite consumers
    reuse the cached pairs/labels), but a LEAK once the caller is
    done. Two measured costs: (a) every later query's physical
    planning pays a sameResult scan against each leaked entry, and
    (b) a leaked entry silently serves the SAME query's next run from
    cache — i.e. cross-run result caching, which the bench must never
    do (measured: dedup_ngram_jaccard warm re-run 0.98 s with the
    leak vs 2.96 s honest; dedup_minhash 2.35 vs 3.67 s).

    The wrapper snapshots the persisted-RDD set, runs the query, and
    if the call left new entries behind: collects the (small) result,
    unpersists every new entry, and returns the rows as a driver-local
    Arrow-backed frame with the ORIGINAL schema — values, columns and
    row multiset are identical (the driver sorts before hashing), and
    the leak-free warm number is the honest one. Queries that already
    clean up after themselves (the preset rows, through
    ``operators.pipelines.StageRunner``) short-circuit:
    no new entries, frame returned untouched. Object-dtype transit
    keeps NULLs as NULLs (a float64 pandas column would silently turn
    None into NaN)."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        try:
            before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
            cm = spark._jsparkSession.sharedState().cacheManager()
            cm_empty_before = bool(cm.isEmpty())
        except Exception:  # noqa: BLE001 — py4j surface; fall back to the raw frame
            return fn(spark, sf_dir)
        df = fn(spark, sf_dir)
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            fresh = set(jmap.keySet().toArray()) - before
            # the RDD map alone misses caches whose physical RDD has
            # not materialized yet (persist() registers in the
            # CacheManager immediately, the RDD object appears only at
            # first execution) — ask the CacheManager too
            cm_grew = cm_empty_before and not bool(cm.isEmpty())
        except Exception:  # noqa: BLE001
            return df
        if not fresh and not cm_grew:
            return df
        import pandas as pd

        schema = df.schema
        rows = df.collect()
        try:
            # re-snapshot: the collect itself can register entries
            # (lazy internal persists materializing late)
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in set(jmap.keySet().toArray()) - before:
                ref = jmap.get(rid)
                if ref is not None:
                    ref.unpersist()
            if cm_empty_before:
                # RDD-level unpersist drops the blocks but leaves the
                # CacheManager plan registration (a sameResult scan on
                # every later planning pass, and plan-tree memory).
                # With no pre-existing caches to protect, drop the
                # registrations too.
                spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cleanup is best-effort
            pass
        names = [f.name for f in schema.fields]
        pdf = pd.DataFrame(
            {n: pd.Series([r[i] for r in rows], dtype=object) for i, n in enumerate(names)}
        )
        return spark.createDataFrame(pdf, schema=schema)

    return wrapped


def _uniform_sql(expr: str) -> str:
    """DuckDB spelling of ``quality._uniform_unit_of(expr)`` — THE one
    copy of the poly31 + Knuth-scatter constants on the oracle side
    (the Spark side likewise has exactly one, in quality.py; a drift
    in either de-syncs every hash-gated oracle at once, visibly)."""
    return (
        f"CAST((list_reduce(list_prepend(0, range(1, length({expr}) + 1)),\n"
        f"  (acc, i) -> (acc * 31 + ascii(substring({expr}, CAST(i AS INT), 1)))\n"
        f"  % 2147483647) * 2654435761 + 12345) % 2147483647 AS DOUBLE) / 2147483647.0"
    )


def _uniform_sql_seeded(expr: str, seed: int) -> str:
    """DuckDB spelling of ``quality._uniform_unit_seeded`` — the seed
    enters as a per-seed scatter multiplier (poly31 is affine in any
    string-folded seed, so folded streams are constant rotations of
    each other; see the operator docstring)."""
    m = (2654435761 + (int(seed) + 1) * 1013904223) % 2147483647
    if m == 0:  # degenerate-multiplier guard — keep in sync with the operator
        m = 1
    return (
        f"CAST((list_reduce(list_prepend(0, range(1, length({expr}) + 1)),\n"
        f"  (acc, i) -> (acc * 31 + ascii(substring({expr}, CAST(i AS INT), 1)))\n"
        f"  % 2147483647) * {m} + 12345) % 2147483647 AS DOUBLE) / 2147483647.0"
    )


def _shingle5_sql(tok_expr: str = "t") -> str:
    """DuckDB distinct-DECON_N-gram list of a token array — the one
    spelling shared by the decon-family oracles in this block."""
    grams = ", ".join(f"{tok_expr}[i+{j}]" for j in range(DECON_N))
    return (
        f"list_distinct(CASE WHEN len({tok_expr}) >= {DECON_N} "
        f"THEN list_transform(range(1, len({tok_expr}) - {DECON_N - 2}), "
        f"i -> concat_ws(' ', {grams})) ELSE [] END)"
    )


# Full SQL twin of _q_refinedweb_pipeline (stage numbering matches the
# Spark side). Each stage reuses its unit oracle's spelling; stages 1
# and 3 are construction-derived (see the oracle_sql comment).
def _rep_gram_unit_sql(n: int) -> str:
    """One UNION ALL branch of the gopher_repetition unit stream: all
    word n-grams (duplicates kept), space-joined, with their non-space
    char length — the word_ngrams spelling."""
    return (
        f"SELECT doc_id, 'g{n}' AS kind, u, CAST(length(u) - {n - 1} AS BIGINT) AS cl\n"
        f"  FROM rp_t, LATERAL unnest(CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n - 2}), "
        f"i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')) "
        f"ELSE [] END) AS un(u)"
    )


def _gopher_rep_ctes(src: str) -> str:
    """THE gopher_repetition oracle chain (unit streams -> per-kind
    aggregates -> signals -> A1.2 keep verdict) as CTE text over a
    source CTE ``src(doc_id, text)`` — the ONE spelling shared by the
    gopher_repetition unit oracle and the fineweb_pipeline twin
    (the _dsir_chain_sql single-spelling rule). Ends with
    ``rp_verdict(id, <13 signals>, keep)``; rp_* names are fixed, so
    a query may include the block once."""
    return f"""rp_t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM {src}),
rp_b AS (SELECT doc_id, text IS NULL AS is_null,
                CAST(length(array_to_string(toks, '')) AS DOUBLE) AS tok_chars
         FROM rp_t),
rp_units AS (
  SELECT doc_id, 'line' AS kind, u, CAST(length(u) AS BIGINT) AS cl
  FROM rp_t, LATERAL unnest(list_filter(list_transform(
    string_split(text, chr(10)), x -> trim(x)), x -> x != '')) AS un(u)
  UNION ALL
  SELECT doc_id, 'para', u, CAST(length(u) AS BIGINT)
  FROM rp_t, LATERAL unnest(list_filter(list_transform(
    string_split_regex(text, '\\n{{2,}}'), x -> trim(x)), x -> x != '')) AS un(u)
  UNION ALL
{(chr(10) + "  UNION ALL" + chr(10)).join("  " + _rep_gram_unit_sql(n) for n in range(2, 11))}
),
rp_c AS (SELECT doc_id, kind, u, cl, count(*) AS c FROM rp_units GROUP BY doc_id, kind, u, cl),
rp_per AS (
  SELECT doc_id, kind, sum(c) AS n_units, sum(c * cl) AS tot_chars,
         sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS du,
         sum(CASE WHEN c > 1 THEN (c - 1) * cl ELSE 0 END) AS dc,
         max(c * 1000000000 + cl) AS tp
  FROM rp_c GROUP BY doc_id, kind),
rp_wide AS (
  SELECT doc_id,
{_REP_WIDE}
  FROM rp_per GROUP BY doc_id),
rp_sig AS (
  SELECT b.doc_id AS id, b.is_null,
  round(CAST(line_du AS DOUBLE) / line_n, 6) AS dup_line_frac,
  round(CAST(line_dc AS DOUBLE) / line_tc, 6) AS dup_line_char_frac,
  round(CAST(para_du AS DOUBLE) / para_n, 6) AS dup_para_frac,
  round(CAST(para_dc AS DOUBLE) / para_tc, 6) AS dup_para_char_frac,
{_REP_TOP_SQL}
{_REP_DUP_SQL}
  TRUE AS _pad
  FROM rp_b b LEFT JOIN rp_wide w ON b.doc_id = w.doc_id),
rp_verdict AS (
  SELECT id, dup_line_frac, dup_line_char_frac, dup_para_frac, dup_para_char_frac,
       top_2gram_char_frac, top_3gram_char_frac, top_4gram_char_frac,
       dup_5gram_char_frac, dup_6gram_char_frac, dup_7gram_char_frac,
       dup_8gram_char_frac, dup_9gram_char_frac, dup_10gram_char_frac,
       CASE WHEN is_null THEN FALSE ELSE (
         {_REP_KEEP_SQL}
       ) END AS keep
  FROM rp_sig)"""


_REP_KINDS = ["line", "para"] + [f"g{n}" for n in range(2, 11)]
_REP_THR = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18, "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15, "dup_6gram_char_frac": 0.14, "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12, "dup_9gram_char_frac": 0.11, "dup_10gram_char_frac": 0.10,
}
_REP_WIDE = ",\n".join(
    f"    max(CASE WHEN kind = '{k}' THEN {a} END) AS {k}_{al}"
    for k in _REP_KINDS
    for a, al in [
        ("n_units", "n"), ("tot_chars", "tc"), ("du", "du"), ("dc", "dc"), ("tp", "tp"),
    ]
)
_REP_TOP_SQL = "\n".join(
    f"  CASE WHEN g{n}_tp IS NOT NULL THEN CASE WHEN g{n}_tp // 1000000000 > 1 "
    f"THEN round(CAST((g{n}_tp // 1000000000) * (g{n}_tp % 1000000000) AS DOUBLE) "
    f"/ tok_chars, 6) ELSE CAST(0.0 AS DOUBLE) END END AS top_{n}gram_char_frac,"
    for n in (2, 3, 4)
)
_REP_DUP_SQL = "\n".join(
    f"  CASE WHEN g{n}_dc IS NOT NULL THEN round(least(CAST(1.0 AS DOUBLE), "
    f"CAST(g{n}_dc AS DOUBLE) / tok_chars), 6) END AS dup_{n}gram_char_frac,"
    for n in range(5, 11)
)
_REP_KEEP_SQL = "\n     AND ".join(
    f"NOT COALESCE({name} > {thr}, FALSE)" for name, thr in _REP_THR.items()
)

# full twin of _q_gopher_repetition: replant the repetition classes,
# rebuild the unit streams (lines / paragraphs / word 2..10-grams),
# aggregate the same (count, char-length) statistics — incl. the
# packed lexicographic (count, len) maximum for the top-gram rule —
# and apply the published Rae 2021 A1.2 thresholds
_GOPHER_REP_SQL = f"""
WITH rp_p AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN COALESCE(text, '')
           || chr(10) || 'repeat me line' || chr(10) || 'repeat me line'
         WHEN doc_id % 11 = 0 THEN COALESCE(text, '')
           || ' spam phrase again spam phrase again spam phrase again spam phrase again'
         WHEN doc_id % 13 = 0 THEN COALESCE(text, '')
           || chr(10) || chr(10) || 'dup para block' || chr(10) || chr(10) || 'dup para block'
         ELSE text END AS text
  FROM documents),
{_gopher_rep_ctes("rp_p")}
SELECT * FROM rp_verdict
"""

def _gopher_rules_ctes(src: str, min_words: int, min_stop: int) -> str:
    """THE gopher_rules (A1.1) oracle chain as CTE text over
    ``src(doc_id, text, ...)`` — the one spelling shared by the
    refinedweb and fineweb pipeline twins (the unit gopher_rules
    oracle spells signals it also RETURNS; the pipelines only need
    the verdict). Ends with ``gr_keep(doc_id)``."""
    return f"""gr_b AS (
  SELECT doc_id, text, {_TOKS_SQL} AS t,
         list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lns
  FROM {src}
),
gr_m AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_words,
    CASE WHEN len(t) > 0 THEN round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(t), 6) END AS mean_word_len,
    CASE WHEN len(t) > 0 THEN round(CAST(len(regexp_extract_all(text, '#')) AS DOUBLE) / len(t), 6) END AS hash_ratio,
    CASE WHEN len(t) > 0 THEN round(CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / len(t), 6) END AS ellipsis_ratio,
    CASE WHEN len(lns) > 0 THEN round(CAST(len(list_filter(lns, x -> regexp_matches(x, '^\\s*[-*•]'))) AS DOUBLE) / len(lns), 6) END AS bullet_frac,
    CASE WHEN len(lns) > 0 THEN round(CAST(len(list_filter(lns, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / len(lns), 6) END AS ellipsis_frac,
    CASE WHEN len(t) > 0 THEN round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) END AS alpha_frac,
    CAST(len(list_intersect(list_distinct(t), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
  FROM gr_b
),
gr_keep AS (
  SELECT doc_id
  FROM gr_m
  WHERE COALESCE(n_words >= {min_words}, FALSE)
    AND COALESCE(n_words <= 100000, FALSE)
    AND COALESCE(mean_word_len >= 3.0, FALSE)
    AND COALESCE(mean_word_len <= 10.0, FALSE)
    AND COALESCE(hash_ratio <= 0.1, FALSE)
    AND COALESCE(ellipsis_ratio <= 0.1, FALSE)
    AND NOT COALESCE(bullet_frac > 0.9, FALSE)
    AND NOT COALESCE(ellipsis_frac > 0.3, FALSE)
    AND COALESCE(alpha_frac >= 0.8, FALSE)
    AND COALESCE(stopword_hits >= {min_stop}, FALSE)
)"""


def _jaccard_cc_ctes(src: str, threshold: float) -> str:
    """THE near-dup dedup oracle chain (exact-Jaccard pairs over
    distinct word 3-shingles -> symmetric edges -> recursive
    reachability -> per-node min) shared by the refinedweb and
    fineweb pipeline twins. Ends with ``jd_mins(id, mn)``; survivors
    of ``{{src}}`` are ``LEFT JOIN jd_mins m ON doc_id = m.id WHERE
    m.id IS NULL OR m.mn >= doc_id``. Requires WITH RECURSIVE at the
    enclosing query (jd_reach declares a column list, which also
    exempts it from the MATERIALIZED rewrite)."""
    return f"""jd_t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM {src}),
jd_sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1),
                             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         ELSE [] END)) AS shingle
  FROM jd_t
),
jd_sz AS (SELECT doc_id, count(*) AS sz FROM jd_sh GROUP BY doc_id),
jd_in AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_inter
  FROM jd_sh a JOIN jd_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jd_jp AS (
  SELECT ia AS a, ib AS b
  FROM jd_in JOIN jd_sz sa ON jd_in.ia = sa.doc_id JOIN jd_sz sb ON jd_in.ib = sb.doc_id
  WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= {threshold}
),
jd_e AS (SELECT a AS u, b AS v FROM jd_jp UNION ALL SELECT b AS u, a AS v FROM jd_jp),
jd_reach(u, v) AS (
  SELECT u, v FROM jd_e
  UNION
  SELECT r.u, jd_e.v FROM jd_reach r JOIN jd_e ON r.v = jd_e.u
),
jd_mins AS (SELECT u AS id, min(v) AS mn FROM jd_reach GROUP BY u)"""


def _c4_ctes(src: str, line_terminal_punct: bool = True) -> str:
    """THE c4_filters oracle chain (line retention -> clean rejoin ->
    sentence floor + page rules) over ``src(doc_id, text)`` — shared
    by the c4_filters unit oracle (terminal punct ON) and the
    fineweb pipeline twin (OFF, Penedo 2024 §3.4). Ends with
    ``c4v(doc_id, clean, n_lines_kept, n_sentences, keep)``."""
    term = "regexp_matches(x, '[.!?][\"”]?\\s*$')\n                  AND " if line_terminal_punct else ""
    line_pred = (
        f"{term}len(list_filter(string_split_regex(trim(x), '\\s+'), w -> w != '')) >= 3\n"
        "                  AND NOT contains(lower(x), 'javascript')"
    )
    return f"""c4k AS (
  SELECT doc_id, text,
    COALESCE(array_to_string(list_filter(string_split(text, chr(10)), x ->
      {line_pred}), chr(10)), '') AS clean,
    len(list_filter(string_split(text, chr(10)), x ->
      {line_pred})) AS n_lines_kept
  FROM {src}),
c4s AS (
  SELECT doc_id, clean, n_lines_kept,
         length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) AS n_sentences,
         text
  FROM c4k),
c4v AS (
  SELECT doc_id, clean,
         CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
         CAST(n_sentences AS BIGINT) AS n_sentences,
         (text IS NOT NULL AND n_sentences >= 5
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')) AS keep
  FROM c4s)"""


def _fineweb_verdict_ctes(src: str) -> str:
    """THE fineweb_filters oracle chain (Penedo 2024 §3.6 signals +
    keep verdict) over ``src(doc_id, text)`` — shared by the unit
    oracle and the fineweb pipeline twin. Ends with ``fwv(doc_id,
    pf, dfr, sf, keep)``."""
    return f"""fwl AS (SELECT doc_id, text,
          list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                      x -> x <> '') AS ls
        FROM {src}),
fws AS (SELECT doc_id, text, len(ls) AS n,
          len(list_filter(ls, x -> regexp_matches(x, '[.''"!?]$'))) AS np,
          len(list_filter(ls, x -> length(x) < 30)) AS nshort,
          COALESCE(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0) AS tc,
          COALESCE(list_aggregate(list_transform(list_distinct(ls), x -> length(x)),
                                  'sum'), 0) AS dtc
        FROM fwl),
fwr AS (SELECT doc_id, text,
          CASE WHEN text IS NOT NULL AND n > 0
               THEN round(CAST(np AS DOUBLE) / n, 6) END AS pf,
          CASE WHEN text IS NOT NULL AND n > 0 AND tc > 0
               THEN round(CAST(tc - dtc AS DOUBLE) / tc, 6) END AS dfr,
          CASE WHEN text IS NOT NULL AND n > 0
               THEN round(CAST(nshort AS DOUBLE) / n, 6) END AS sf
        FROM fws),
fwv AS (SELECT doc_id, pf, dfr, sf,
          (text IS NOT NULL
           AND NOT COALESCE(pf <= 0.12, FALSE)
           AND NOT COALESCE(dfr >= 0.10, FALSE)
           AND NOT COALESCE(sf >= 0.67, FALSE)) AS keep
        FROM fwr)"""


def _redact_sql(expr: str) -> str:
    """THE redact_pii regex chain (email -> URL -> phone -> IPv4) as
    a SQL expression — the one spelling shared by the redact_pii
    unit oracle and the fineweb pipeline twin."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(\n"
        f"                     {expr},\n"
        "                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),\n"
        "                     'https?://[^\\s]+', '<URL>', 'g'),\n"
        "                     '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),\n"
        "                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')"
    )


_REFINEDWEB_SQL = f"""
WITH RECURSIVE
doc0 AS (SELECT doc_id, COALESCE(text, '') AS text, source FROM documents),
-- 1. URL dedup: planted variant rows (id % 10 == 7) lose to id - 1
s1 AS (SELECT * FROM doc0 WHERE doc_id % {RW_URL_DUP_MOD} <> 7),
-- 2. Gopher rules (the shared _gopher_rules_ctes chain)
{_gopher_rules_ctes("s1", GOPHER_MIN_WORDS, GOPHER_MIN_STOP)},
s2 AS (
  SELECT s1.doc_id, s1.text, s1.source
  FROM s1 SEMI JOIN gr_keep USING (doc_id)
),
-- 3. boilerplate plant+removal is byte-identity (pinned in-Spark)
-- 4. perplexity quantile gate (bigram ppl = the lm_perplexity oracle)
t2 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM s2),
pu AS (SELECT w, count(*) AS cu
       FROM (SELECT unnest(toks) AS w FROM t2) GROUP BY w),
pnv AS (SELECT CAST(COALESCE(sum(cu), 0) AS BIGINT) AS n, count(*) + 1 AS v FROM pu),
pb AS (SELECT w1, w2, count(*) AS cb FROM (
        SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM t2, LATERAL unnest(range(1, len(toks))) AS r(i)
        WHERE len(toks) >= 2) GROUP BY w1, w2),
ppos AS (SELECT doc_id, toks[i] AS w,
                CASE WHEN i > 1 THEN toks[i-1] END AS prev
         FROM t2, LATERAL unnest(range(1, len(toks) + 1)) AS r(i)),
pterm AS (
  SELECT doc_id,
         round(ln(CASE WHEN prev IS NULL
                  THEN (COALESCE(pu.cu, 0) + 0.5) / (pnv.n + 0.5 * pnv.v)
                  ELSE (COALESCE(pb.cb, 0) + 0.5)
                       / (COALESCE(cu2.cu, 0) + 0.5 * pnv.v) END), 9) AS lp
  FROM ppos
  LEFT JOIN pu ON ppos.w = pu.w
  LEFT JOIN pu cu2 ON ppos.prev = cu2.w
  LEFT JOIN pb ON ppos.prev = pb.w1 AND ppos.w = pb.w2
  CROSS JOIN pnv
),
pper AS (SELECT doc_id, count(*) AS n_tokens, sum(CAST(lp AS DECIMAL(24,9))) AS slp
         FROM pterm GROUP BY doc_id),
pplt AS (SELECT doc_id,
                round(exp(-round(CAST(slp AS DOUBLE) / n_tokens, 6)), 6) AS ppl
         FROM pper),
pthr AS (SELECT quantile_cont(-ppl, {1.0 - RW_PPL_KEEP!r}) AS th FROM pplt),
s4 AS (SELECT s2.* FROM s2 JOIN pplt USING (doc_id) CROSS JOIN pthr
       WHERE -pplt.ppl >= pthr.th),
-- 5. exact dedup (min-id per text)
s5 AS (SELECT s4.* FROM s4
       JOIN (SELECT min(doc_id) AS doc_id FROM s4 GROUP BY text) m USING (doc_id)),
-- 6. near-dup dedup (the shared _jaccard_cc_ctes chain): exact-
-- Jaccard pairs -> recursive closure -> min-id survivors
{_jaccard_cc_ctes("s5", RW_MH_T)},
s6 AS (SELECT s5.* FROM s5 LEFT JOIN jd_mins m ON s5.doc_id = m.id
       WHERE m.id IS NULL OR m.mn >= s5.doc_id),
-- 7. duplicated-span removal (the remove_dup_spans oracle)
t6 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM s6),
g6 AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS gram
  FROM t6, LATERAL unnest(range(1, len(toks) - {SPAN_K - 2})) AS u(i)
  WHERE len(toks) >= {SPAN_K}
),
d6 AS (SELECT gram FROM g6 GROUP BY gram HAVING count(*) >= 2),
f6 AS (SELECT g6.doc_id, g6.pos FROM g6 SEMI JOIN d6 ON g6.gram = d6.gram),
brk6 AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {SPAN_K} THEN 1 ELSE 0 END AS b
  FROM f6
),
isl6 AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS isl
  FROM brk6
),
sp6 AS (SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K} AS e
        FROM isl6 GROUP BY doc_id, isl),
sl6 AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS spans FROM sp6 GROUP BY doc_id),
s7 AS (
  SELECT t6.doc_id,
         CASE WHEN sl6.spans IS NULL
              THEN COALESCE(array_to_string(t6.toks, ' '), '')
              ELSE COALESCE(array_to_string(
                list_filter(t6.toks, (x, i) ->
                  len(list_filter(sl6.spans,
                      sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0),
                ' '), '')
         END AS text
  FROM t6 LEFT JOIN sl6 ON t6.doc_id = sl6.doc_id
),
-- 8. decontamination vs the mod-13 ORIGINAL-doc benchmark slice
t7 AS (SELECT doc_id, {_TOKS_SQL} AS t FROM s7),
sh7 AS (SELECT doc_id, unnest({_shingle5_sql()}) AS shingle FROM t7),
tb0 AS (SELECT doc_id, {_TOKS_SQL} AS t FROM doc0 WHERE doc_id % {RW_BENCH_MOD} = 0),
bsh AS (SELECT DISTINCT unnest({_shingle5_sql()}) AS shingle FROM tb0),
contam AS (SELECT DISTINCT s.doc_id FROM sh7 s JOIN bsh USING (shingle)),
s8 AS (SELECT s7.doc_id, s7.text FROM s7
       WHERE s7.doc_id NOT IN (SELECT doc_id FROM contam)),
-- 9. DSIR weights toward src0 over the survivor corpus + Gumbel top-k
-- (the chain CTEs are the shared _dsir_chain_sql spelling)
dtt AS (SELECT doc_id, {_TOKS_SQL} AS t FROM doc0 WHERE source = 'src0'),
drt AS (SELECT doc_id, {_TOKS_SQL} AS t FROM s8),
{{RW_DSIR_CHAIN}},
keyed AS (
  SELECT doc_id AS id, logratio,
         round(logratio - ln(-ln(greatest(
           {{RW_U_SEL}}, 1e-12))), 6) AS g_key
  FROM per
),
sel AS (SELECT * FROM keyed ORDER BY g_key DESC, id LIMIT {RW_K}),
-- 10. split + shard hashes on the selected set
spl AS (SELECT id, {{RW_U_SPLIT}} AS u FROM sel),
shd AS (SELECT id, {{RW_U_SHARD}} AS u FROM sel),
cnts AS (SELECT
  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_url,
  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_gopher,
  CAST((SELECT count(*) FROM s4) AS BIGINT) AS n_ppl,
  CAST((SELECT count(*) FROM s5) AS BIGINT) AS n_exact,
  CAST((SELECT count(*) FROM s6) AS BIGINT) AS n_fuzzy,
  CAST((SELECT count(*) FROM s8) AS BIGINT) AS n_decon)
SELECT sel.id, sel.logratio, sel.g_key,
       CASE WHEN spl.u < 0.875 THEN 'train'
            WHEN spl.u < 0.9375 THEN 'val'
            ELSE 'test' END AS split,
       CAST(floor(shd.u * {RW_SHARDS}) AS INTEGER) AS shard,
       cnts.n_url, cnts.n_gopher, cnts.n_ppl, cnts.n_exact, cnts.n_fuzzy,
       cnts.n_decon, TRUE AS boiler_ok
FROM sel JOIN spl USING (id) JOIN shd USING (id) CROSS JOIN cnts
"""

# the three uniform-hash spellings (Gumbel seed, split, shard seed) —
# injected via replace so the big f-string above stays readable
_REFINEDWEB_SQL = (
    _REFINEDWEB_SQL.replace("{RW_DSIR_CHAIN}", _dsir_chain_sql("dtt", "drt"))
    .replace(
        "{RW_U_SEL}", _uniform_sql_seeded("CAST(doc_id AS VARCHAR)", RW_SEED_SEL)
    )
    .replace("{RW_U_SPLIT}", _uniform_sql("CAST(id AS VARCHAR)"))
    .replace("{RW_U_SHARD}", _uniform_sql_seeded("CAST(id AS VARCHAR)", RW_SEED_SHARD))
)

# Force every plain CTE MATERIALIZED: DuckDB otherwise inlines them,
# and the recursive `reach` then re-executes the entire ten-stage
# upstream chain once per fixpoint iteration — observed to exhaust
# the process fd limit (each iteration × thread re-opens the parquet)
# before even getting slow. The recursive CTE itself (name followed
# by a column list, so the regex skips it) cannot be materialized.
_REFINEDWEB_SQL = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", _REFINEDWEB_SQL)


def _fwp_inner_sql(ide: str, te: str) -> str:
    """DuckDB spelling of ``_fwp_inner`` — the constructed page CASE,
    given SQL expressions for the id and the source text."""
    sid = f"CAST({ide} AS VARCHAR)"
    l1 = (
        f"'Document ' || {sid} || ' of the corpus opens with a clear and steady sentence"
        " that ends properly. It truly does so.'"
    )
    l2 = f"'It is followed by the words ' || substr({te}, 1, 120) || ' and a final period.'"
    l3 = (
        f"'The closing line is in the same style and mentions doc ' || {sid}"
        f" || ' again today. Contact user' || {sid} || '@mail.example.com now. All done.'"
    )
    normal = f"({l1} || chr(10) || {l2} || chr(10) || {l3})"
    shorts = " || chr(10) || ".join(
        f"'Alpha{k} beta{k} d' || {sid} || ' go{k}.'" for k in range(FWP_SHORT_K)
    )
    spam = " || chr(10) || ".join([f"'{FWP_SPAM_LINE}'"] * 5)
    french = " || chr(10) || ".join("'" + ln + "'" for ln in FWP_FRENCH.split("\n"))
    return (
        f"CASE WHEN ({ide}) % {FWP_LANG_MOD} = {FWP_LANG_RES} THEN {french}\n"
        f"   WHEN ({ide}) % {FWP_GOPHER_MOD} = {FWP_GOPHER_RES}"
        f" THEN 'The a of and to is in it for doc ' || {sid} || '.'\n"
        f"   WHEN ({ide}) % {FWP_REP_MOD} = {FWP_REP_RES} THEN {normal} || chr(10) || {spam}\n"
        f"   WHEN ({ide}) % {FWP_C4_MOD} = {FWP_C4_RES}"
        f" THEN {normal} || chr(10) || 'See also lorem ipsum text.'\n"
        f"   WHEN ({ide}) % {FWP_FW_MOD} = {FWP_FW_RES} THEN {normal} || chr(10) || {shorts}\n"
        f"   ELSE {normal} END"
    )


# Full twin of _q_fineweb_pipeline (stage numbering matches the Spark
# side): replant the constructed pages, then chain the SHARED stage
# spellings — language argmax, _gopher_rep_ctes, _gopher_rules_ctes,
# _jaccard_cc_ctes, _c4_ctes(terminal punct OFF), _fineweb_verdict_ctes,
# _redact_sql. Stage 1 (URL) is construction-derived (the url_filter
# unit row pins the blocklist operator itself).
_FINEWEB_PIPE_SQL = f"""
WITH RECURSIVE
fw0 AS (SELECT d.doc_id, COALESCE(d.text, '') AS text,
               p.doc_id AS prev_id, COALESCE(p.text, '') AS prev_text
        FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
fwc AS (SELECT doc_id,
          CASE WHEN doc_id % {FWP_DUP_MOD} = {FWP_DUP_RES} AND prev_id IS NOT NULL
               THEN {_fwp_inner_sql("doc_id - 1", "prev_text")}
                    || chr(10) || '{FWP_EXTRA_LINE}'
               ELSE {_fwp_inner_sql("doc_id", "text")} END AS text
        FROM fw0),
fs1 AS (SELECT doc_id, text FROM fwc WHERE doc_id % {FWP_URL_MOD} <> {FWP_URL_RES}),
fl_t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM fs1),
fl_s AS (SELECT doc_id,
  {_LANG_SCORE_COLS},
  {_GREATEST_LANGS_SQL} AS best
  FROM fl_t),
fl_lang AS (SELECT doc_id, {_LANG_CASE_SQL} AS lg FROM fl_s),
fs2 AS (SELECT fs1.* FROM fs1 JOIN fl_lang USING (doc_id) WHERE lg = 'en'),
{_gopher_rep_ctes("fs2")},
fs3 AS (SELECT fs2.* FROM fs2 JOIN rp_verdict rv ON fs2.doc_id = rv.id WHERE rv.keep),
{_gopher_rules_ctes("fs3", GOPHER_MIN_WORDS, GOPHER_MIN_STOP)},
fs4 AS (SELECT fs3.* FROM fs3 SEMI JOIN gr_keep USING (doc_id)),
{_jaccard_cc_ctes("fs4", FWP_MH_T)},
fs5 AS (SELECT fs4.* FROM fs4 LEFT JOIN jd_mins m ON fs4.doc_id = m.id
        WHERE m.id IS NULL OR m.mn >= fs4.doc_id),
{_c4_ctes("fs5", line_terminal_punct=False)},
fs6 AS (SELECT doc_id, clean AS text FROM c4v WHERE keep),
{_fineweb_verdict_ctes("fs6")},
fs7 AS (SELECT fs6.doc_id, fs6.text FROM fs6 JOIN fwv USING (doc_id) WHERE fwv.keep),
cnts AS (SELECT
  CAST((SELECT count(*) FROM fs1) AS BIGINT) AS n_url,
  CAST((SELECT count(*) FROM fs2) AS BIGINT) AS n_lang,
  CAST((SELECT count(*) FROM fs3) AS BIGINT) AS n_rep,
  CAST((SELECT count(*) FROM fs4) AS BIGINT) AS n_gopher,
  CAST((SELECT count(*) FROM fs5) AS BIGINT) AS n_dedup,
  CAST((SELECT count(*) FROM fs6) AS BIGINT) AS n_c4)
SELECT fs7.doc_id AS id, {_redact_sql("fs7.text")} AS clean,
       cnts.n_url, cnts.n_lang, cnts.n_rep, cnts.n_gopher, cnts.n_dedup, cnts.n_c4
FROM fs7 CROSS JOIN cnts
"""
# same materialization rule as the refinedweb twin (jd_reach declares
# a column list, so the recursive CTE is exempt by the regex)
_FINEWEB_PIPE_SQL = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", _FINEWEB_PIPE_SQL)


def _dmp_hist_sql(hid: str) -> str:
    """DuckDB mirror of _dmp_hist_text (string-for-string)."""
    return (
        f"'{DMP_H1A}' || CAST({hid} AS VARCHAR) || '{DMP_H1B}' || chr(10) || "
        f"'{DMP_H2}' || chr(10) || "
        f"'{DMP_HISTP_A}' || CAST(({hid}) % {DMP_HISTPARA_CLASSES} AS VARCHAR) || '{DMP_HISTP_B}'"
    )


def _dmp_inner_sql(i: str, txt: str) -> str:
    """DuckDB mirror of _dmp_inner — same literals, same CASE order."""
    sid = f"CAST({i} AS VARCHAR)"
    normal = (
        f"'{DMP_L1A}' || {sid} || '{DMP_L1B}' || chr(10) || "
        f"'{DMP_L2A}' || substr({txt}, 1, 120) || '{DMP_L2B}' || chr(10) || "
        f"'{DMP_L3A}' || {sid} || '{DMP_L3B}' || {sid} || '{DMP_L3C}' || chr(10) || "
        f"'{DMP_L4A}' || CAST(({i}) % {DMP_NEWPARA_CLASSES} AS VARCHAR) || '{DMP_L4B}'"
    )
    fr = FWP_FRENCH.replace("\n", "' || chr(10) || '")
    return f"""CASE
      WHEN ({i}) % {DMP_LANG_MOD} = {DMP_LANG_RES} THEN '{fr}'
      WHEN ({i}) % {DMP_GOPHER_MOD} = {DMP_GOPHER_RES}
        THEN '{DMP_GOPHA}' || {sid} || '{DMP_GOPHB}'
      WHEN ({i}) % {DMP_DOC_MOD} = {DMP_DOC_RES}
        THEN {_dmp_hist_sql(f"({i}) - (({i}) % {DMP_HIST_MOD})")}
      WHEN ({i}) % {DMP_C4P_MOD} = {DMP_C4P_RES} THEN {normal} || chr(10) || '{DMP_C4P_LINE}'
      WHEN ({i}) % {DMP_C4L_MOD} = {DMP_C4L_RES} THEN {normal} || chr(10) || '{DMP_C4L_LINE}'
      WHEN ({i}) % {DMP_PARA_MOD} = {DMP_PARA_RES}
        THEN {normal} || chr(10) || '{DMP_HISTP_A}'
             || CAST(({i}) % {DMP_HISTPARA_CLASSES} AS VARCHAR) || '{DMP_HISTP_B}'
      ELSE {normal} END"""


# Full twin of _q_dolma_pipeline (stage numbering matches the Spark
# side): replant the pool and the constructed history, then chain the
# SHARED stage spellings — language argmax, _gopher_rules_ctes,
# _c4_ctes(terminal punct OFF), _redact_sql, URL min-id window, exact
# anti-join vs the history text set (the Bloom route is DEFINED to
# equal it), and the pb-style paragraph chain with history keys +
# within-pool keep_first window.
_DOLMA_PIPE_SQL = f"""
WITH
dm0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
dhist AS (SELECT doc_id AS hid, {_dmp_hist_sql("doc_id")} AS text
          FROM dm0 WHERE doc_id % {DMP_HIST_MOD} = 0),
dpool AS (SELECT doc_id, {_dmp_inner_sql("doc_id", "text")} AS text,
            CASE WHEN doc_id % {DMP_URL_MOD} = {DMP_URL_RES}
                 THEN 'https://pool.example/shared/' || CAST(doc_id % {DMP_URL_GROUPS} AS VARCHAR)
                 ELSE 'https://site' || CAST(doc_id AS VARCHAR) || '.example.org/p/'
                      || CAST(doc_id AS VARCHAR) END AS url
          FROM dm0 WHERE doc_id % {DMP_HIST_MOD} <> 0),
dl_t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM dpool),
dl_s AS (SELECT doc_id,
  {_LANG_SCORE_COLS},
  {_GREATEST_LANGS_SQL} AS best
  FROM dl_t),
dl_l AS (SELECT doc_id, {_LANG_CASE_SQL} AS lg FROM dl_s),
ds1 AS (SELECT dpool.* FROM dpool JOIN dl_l USING (doc_id) WHERE lg = 'en'),
{_gopher_rules_ctes("ds1", GOPHER_MIN_WORDS, GOPHER_MIN_STOP)},
ds2 AS (SELECT ds1.* FROM ds1 SEMI JOIN gr_keep USING (doc_id)),
{_c4_ctes("ds2", line_terminal_punct=False)},
ds3 AS (SELECT c4v.doc_id, c4v.clean AS text, ds2.url
        FROM c4v JOIN ds2 USING (doc_id) WHERE c4v.keep),
ds4 AS (SELECT doc_id, {_redact_sql("text")} AS text, url FROM ds3),
ds5 AS (SELECT doc_id, text FROM ds4
        QUALIFY row_number() OVER (PARTITION BY url ORDER BY doc_id) = 1),
dhset AS (SELECT DISTINCT text FROM dhist),
ds6 AS (SELECT * FROM (SELECT ds5.* FROM ds5 ANTI JOIN dhset ON ds5.text = dhset.text)
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
dhk AS (SELECT DISTINCT regexp_replace(lower(u), '\\s+', ' ', 'g') AS k
        FROM dhist, LATERAL unnest(list_filter(list_transform(
          string_split(text, chr(10)), x -> trim(x)), x -> x <> '')) AS un(u)),
dpl AS (SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)),
          x -> trim(x)), x -> x <> '') AS ps FROM ds6),
dpx AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para,
          regexp_replace(lower(ps[i]), '\\s+', ' ', 'g') AS k
        FROM dpl, LATERAL unnest(range(1, len(ps) + 1)) AS u(i)),
dpf AS (SELECT dpx.* FROM dpx ANTI JOIN dhk ON dpx.k = dhk.k),
dpw AS (SELECT doc_id, pos, para,
          row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
        FROM dpf),
dpa AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean,
               count(*) AS n_kept
        FROM dpw WHERE rn = 1 GROUP BY doc_id),
dcnts AS (SELECT
  CAST((SELECT count(*) FROM ds1) AS BIGINT) AS n_lang,
  CAST((SELECT count(*) FROM ds2) AS BIGINT) AS n_gopher,
  CAST((SELECT count(*) FROM ds3) AS BIGINT) AS n_c4,
  CAST((SELECT count(*) FROM ds5) AS BIGINT) AS n_urlded,
  CAST((SELECT count(*) FROM ds6) AS BIGINT) AS n_docded)
SELECT dpl.doc_id AS id, COALESCE(dpa.clean, '') AS clean,
       CAST(len(dpl.ps) AS BIGINT) AS n_paras,
       CAST(COALESCE(dpa.n_kept, 0) AS BIGINT) AS n_kept,
       dcnts.n_lang, dcnts.n_gopher, dcnts.n_c4, dcnts.n_urlded, dcnts.n_docded
FROM dpl LEFT JOIN dpa USING (doc_id) CROSS JOIN dcnts
"""
_DOLMA_PIPE_SQL = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", _DOLMA_PIPE_SQL)




def _langid_nb_ctes() -> str:
    """THE one DuckDB spelling of the trained-langid chain as a CTE
    body (construction ``lsrc`` .. prediction ``lnb``) — shared by the
    ``langid_route_eq`` oracle and the ``curate_nb_stream_eq``
    component of ``stream_eq_all`` (the NB gate at the stream edge),
    so the two replays can never de-sync."""
    from cs533_big_data_data_mining_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    B, a, max_n = LANGID_EQ_B, LANGID_EQ_ALPHA, LANGID_EQ_MAX_N

    def lit_list(lg):
        return "[" + ", ".join("'" + w + "'" for w in LANG_MARKERS[lg]) + "]"

    def base(lg):
        w = lambda j: (  # noqa: E731
            f"list_extract({lit_list(lg)}, "
            f"CAST((doc_id + {j}) % 7 AS INT) + 1)"
        )
        parts = ", ".join(w(j) for j in range(10))
        return f"concat_ws(' ', {parts}, {w(0)} || {w(3)})"

    case_lang = "CASE CAST(doc_id % 5 AS INT)\n" + "\n".join(
        f"              WHEN {n} THEN {base(lg)}" for n, lg in enumerate(langs[:-1])
    ) + f"\n              ELSE {base(langs[-1])}\n            END"

    cg = " || ".join(
        f"list_transform(range(1, length(s) - {n} + 2), "
        f"i -> substring(s, CAST(i AS INT), {n}))"
        for n in range(1, max_n + 1)
    )
    bucket = _NB_BUCKET_SQL.format(B=B)
    score_cols = ", ".join(
        f"len(list_intersect(dt, {lit_list(lg)})) AS s_{lg}" for lg in langs
    )
    svars = ", ".join(f"s_{lg}" for lg in langs)
    marker_case = " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs[:-1]
    ) + f" ELSE '{langs[-1]}'"

    return f"""
        lsrc AS (
          SELECT doc_id,
            CASE WHEN doc_id % 97 = 0 THEN 'qqq zzz xxx'
            ELSE {case_lang} END AS text
          FROM documents),
        ltok AS (SELECT doc_id, text,
                   list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                             x -> x != '')) AS dt
                 FROM lsrc),
        lms AS (SELECT doc_id, text, {score_cols} FROM ltok),
        lmk AS (SELECT *, greatest({svars}) AS best,
                       list_sort([{svars}])[{len(langs) - 1}] AS runner
                FROM lms),
        lmark AS (SELECT doc_id, text, best, runner,
                    CASE WHEN best = 0 THEN 'und' {marker_case} END AS lang_marker
                  FROM lmk),
        ltr AS (SELECT lang_marker AS label, substring(text, 1, 512) AS s
                FROM lmark
                WHERE doc_id % 3 = 0 AND best >= 2 AND best - runner >= 1),
        ltrg AS (SELECT label, unnest({cg}) AS g FROM ltr),
        ltrb AS (SELECT label, {bucket} AS bk FROM ltrg),
        lcnt AS (SELECT label, bk, count(*) AS c FROM ltrb GROUP BY label, bk),
        ldocs AS (SELECT label, count(*) AS nd FROM ltr GROUP BY label),
        ltot AS (SELECT d.label, COALESCE(t.tot, 0) AS tot FROM ldocs d
                 LEFT JOIN (SELECT label, count(*) AS tot FROM ltrb GROUP BY label) t
                 USING (label)),
        lsz AS (SELECT count(*) AS k, sum(nd) AS n FROM ldocs),
        lpri AS (SELECT label, round(ln((nd + {a}) / (n + {a} * k)), 9) AS lp
                 FROM ldocs, lsz),
        lllh AS (SELECT label, bk,
                        round(ln((c + {a}) / (tot + {a} * {B})), 9) AS lh
                 FROM lcnt JOIN ltot USING (label)),
        lmiss AS (SELECT label, round(ln({a} / (tot + {a} * {B})), 9) AS lm
                  FROM ltot),
        lte AS (SELECT doc_id, substring(text, 1, 512) AS s FROM lsrc),
        lteg AS (SELECT doc_id, unnest({cg}) AS g FROM lte),
        lteb AS (SELECT doc_id, {bucket} AS bk FROM lteg),
        lsum AS (
          SELECT b.doc_id, l.label,
                 sum(CAST(COALESCE(h.lh, m.lm) AS DECIMAL(24,9))) AS sm
          FROM lteb b
          CROSS JOIN (SELECT label FROM ldocs) l
          JOIN lmiss m ON m.label = l.label
          LEFT JOIN lllh h ON h.label = l.label AND h.bk = b.bk
          GROUP BY b.doc_id, l.label),
        lfull AS (
          SELECT d.doc_id, p.label,
                 round(COALESCE(CAST(s.sm AS DOUBLE), 0.0) + p.lp, 6) AS score
          FROM (SELECT DISTINCT doc_id FROM lte) d
          CROSS JOIN lpri p
          LEFT JOIN lsum s ON s.doc_id = d.doc_id AND s.label = p.label),
        lbest AS (SELECT doc_id, max(score) AS best FROM lfull GROUP BY doc_id),
        lpred AS (SELECT f.doc_id, min(f.label) AS pred
                  FROM lfull f JOIN lbest b
                    ON f.doc_id = b.doc_id AND f.score = b.best
                  GROUP BY f.doc_id),
        lnb AS (SELECT t.doc_id,
                       CASE WHEN t.s IS NULL OR length(t.s) = 0
                            THEN 'und' ELSE p.pred END AS lang_nb
                FROM lte t LEFT JOIN lpred p ON p.doc_id = t.doc_id)
    """


def _langid_eq_sql() -> str:
    """The langid_route_eq oracle: the shared NB chain plus the final
    marker/NB/agree projection. Emits the replayed NB prediction for
    BOTH nb columns (lang_nb and lang_nb_fast), making the value hash
    a cross-implementation equivalence gate too."""
    return f"""
        WITH {_langid_nb_ctes().strip()}
        SELECT m.doc_id AS id, m.lang_marker, n.lang_nb,
               n.lang_nb AS lang_nb_fast,
               m.lang_marker = n.lang_nb AS agree
        FROM lmark m JOIN lnb n ON n.doc_id = m.doc_id
    """


def oracle_sql() -> dict[str, str]:
    return _with_aliases({
        "scan_project_filter": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 5"
        ),
        "bbox": f"""
            WITH {_PTS_SQL.strip()}
            SELECT min(x0) AS min_x0, max(x0) AS max_x0,
                   min(x1) AS min_x1, max(x1) AS max_x1,
                   min(x2) AS min_x2, max(x2) AS max_x2
            FROM pts
        """,
        "median_dim": f"""
            WITH {_PTS_SQL.strip()}
            SELECT quantile_cont(x0, 0.5) AS p50_x0 FROM pts
        """,
        "grid_cells": f"""
            WITH {_PTS_SQL.strip()}
            SELECT id,
                   CAST(least(greatest(floor((x0 - (-0.6)) / 0.3), 0), 3) * 4
                      + least(greatest(floor((x1 - (-0.6)) / 0.3), 0), 3) AS BIGINT) AS cell
            FROM pts
        """,
        "ghost_rows": f"""
            WITH {_PTS_SQL.strip()},
            celled AS (
              SELECT id, x0,
                     CAST(least(greatest(floor((x0 - (-0.6)) / 0.3), 0), 3) AS BIGINT) AS c
              FROM pts)
            SELECT c AS cell, id, TRUE AS is_home FROM celled
            UNION ALL
            SELECT c - 1 AS cell, id, FALSE AS is_home FROM celled
              WHERE c > 0 AND (x0 - (-0.6 + c * 0.3)) <= 0.05
            UNION ALL
            SELECT c + 1 AS cell, id, FALSE AS is_home FROM celled
              WHERE c < 3 AND ((-0.6 + (c + 1) * 0.3) - x0) <= 0.05
        """,
        "neighbor_count": f"""
            WITH {_PTS_SQL.strip()}
            SELECT a.id AS id, count(*) AS n_neighbors
            FROM pts a JOIN pts b ON {_D2_SQL} <= {EPS3_SQL}
            GROUP BY a.id
        """,
        "core_points": f"""
            WITH {_PTS_SQL.strip()}
            SELECT a.id AS id
            FROM pts a JOIN pts b ON {_D2_SQL} <= {EPS3_SQL}
            GROUP BY a.id HAVING count(*) >= {MINPTS3}
        """,
        "eps_join": f"""
            WITH {_PTS_SQL.strip()}
            SELECT a.id AS a, b.id AS b
            FROM pts a JOIN pts b ON a.id < b.id AND {_D2_SQL} <= {EPS3_SQL}
        """,
        "eps_join_2t": f"""
            WITH {_PTS_SQL.strip()}
            SELECT a.id AS a, b.id AS b
            FROM pts a JOIN pts b
            ON a.id < 100 AND b.id >= 100 AND {_D2_SQL} <= {EPS3_SQL}
        """,
        "cluster_labels": _LABELS_SQL + "\nSELECT id, cluster_id FROM labels",
        "cluster_stats": _LABELS_SQL
        + """
            SELECT CAST(count(*) AS BIGINT) AS total_points,
                   CAST(sum(CASE WHEN cluster_id != 0 THEN 1 ELSE 0 END) AS BIGINT) AS points_in_clusters,
                   CAST(sum(CASE WHEN cluster_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS noise_count,
                   CAST(count(DISTINCT CASE WHEN cluster_id != 0 THEN cluster_id END) AS BIGINT) AS n_clusters
            FROM labels
        """,
        "dense_ids": (
            "SELECT DISTINCT l_suppkey, CAST(dense_rank() OVER (ORDER BY l_suppkey) AS BIGINT) AS dense_id FROM lineitem"
        ),
        "agg_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_revenue_by_nation": """
            SELECT n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, rn FROM (
              SELECT o_custkey, o_orderkey,
                     CAST(row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
              FROM orders)
            WHERE rn <= 2
        """,
        "profile_lineitem": """
SELECT 'l_quantity' AS "column", count(*) AS n,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(min(l_quantity) AS DOUBLE) AS vmin, CAST(max(l_quantity) AS DOUBLE) AS vmax,
       CASE WHEN count(l_quantity) > 0
            THEN round(CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / count(l_quantity), 6)
       END AS vmean
FROM lineitem
UNION ALL
SELECT 'l_extendedprice' AS "column", count(*) AS n,
       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS n_distinct,
       CAST(min(l_extendedprice) AS DOUBLE) AS vmin, CAST(max(l_extendedprice) AS DOUBLE) AS vmax,
       CASE WHEN count(l_extendedprice) > 0
            THEN round(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / count(l_extendedprice), 6)
       END AS vmean
FROM lineitem
UNION ALL
SELECT 'l_discount' AS "column", count(*) AS n,
       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT l_discount) AS BIGINT) AS n_distinct,
       CAST(min(l_discount) AS DOUBLE) AS vmin, CAST(max(l_discount) AS DOUBLE) AS vmax,
       CASE WHEN count(l_discount) > 0
            THEN round(CAST(sum(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / count(l_discount), 6)
       END AS vmean
FROM lineitem
UNION ALL
SELECT 'l_tax' AS "column", count(*) AS n,
       CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT l_tax) AS BIGINT) AS n_distinct,
       CAST(min(l_tax) AS DOUBLE) AS vmin, CAST(max(l_tax) AS DOUBLE) AS vmax,
       CASE WHEN count(l_tax) > 0
            THEN round(CAST(sum(CAST(l_tax AS DECIMAL(27,6))) AS DOUBLE) / count(l_tax), 6)
       END AS vmean
FROM lineitem
        """,
        "expectations": """
SELECT 'discount_in_range' AS rule,
       CAST(sum(CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 0.3, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 0.3, FALSE) THEN 0 ELSE 1 END) = 0 AS ok
FROM lineitem
UNION ALL
SELECT 'price_not_null' AS rule,
       CAST(sum(CASE WHEN COALESCE(l_extendedprice IS NOT NULL, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN COALESCE(l_extendedprice IS NOT NULL, FALSE) THEN 0 ELSE 1 END) = 0 AS ok
FROM lineitem
UNION ALL
SELECT 'quantity_positive' AS rule,
       CAST(sum(CASE WHEN COALESCE(l_quantity > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN COALESCE(l_quantity > 0, FALSE) THEN 0 ELSE 1 END) = 0 AS ok
FROM lineitem
UNION ALL
SELECT 'returnflag_valid' AS rule,
       CAST(sum(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 0 ELSE 1 END) = 0 AS ok
FROM lineitem
        """,
        "rollup_revenue": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "sample_count": (
            "SELECT count(*) AS n_total, TRUE AS within_6sigma FROM embeddings"
        ),
        "simhash_sigs": _SIMHASH_SQL,
        "simhash_neardup": _SIMHASH_PAIRS_SQL,
        "sim_topk_ivf": "SELECT CAST(50 AS BIGINT) AS n_full, TRUE AS recall_ok",
        "dedup_exact": (
            "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text"
        ),
        "dedup_ngram_jaccard": _JACCARD_PAIRS_SQL,
        "dedup_minhash_2t": f"""
WITH {_SHINGLES_SQL.strip()},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT ia AS a, ib AS b,
       round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.ia = sa.doc_id
JOIN sizes sb ON inter.ib = sb.doc_id
WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= 0.8
        """,

        # LSH recall at the planted-dup similarity (~0.97+) is 1-1e-10,
        # so verified MinHash pairs == exact Jaccard pairs
        "dedup_minhash": _JACCARD_PAIRS_SQL,
        "embed_neardup": f"""
            WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({_dot_sql('a.v', 'b.v')}
                         / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6) AS cosine
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE round({_dot_sql('a.v', 'b.v')}
                        / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6) >= 0.35
        """,
        "sim_topk": f"""
            WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round({_dot_sql('q.v', 'c.v')}
                           / (sqrt({_dot_sql('q.v', 'q.v')}) * sqrt({_dot_sql('c.v', 'c.v')})), 6) AS cosine
              FROM emb q JOIN emb c ON q.vec_id < 10 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
              FROM pairs)
            WHERE rank <= 5
        """,
        "text_stats": _TEXT_STATS_SQL,
        "curate_docs": _CURATE_SQL,
        "curate_embeds": _CURATE_EMBEDS_SQL,
        "curate_corpus": _CURATE_CORPUS_SQL,
        "tfidf": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
            ),
            tf AS (SELECT doc_id AS id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT id, term, tf, df,
                   round(CAST(tf AS DOUBLE)
                         * (ln((1.0 + n_docs) / (1.0 + CAST(df AS DOUBLE))) + 1.0), 6) AS tfidf
            FROM tf JOIN df USING (term), n
        """,
        "multimodal_meta": """
            SELECT doc_id AS media_id, 'text' AS modality,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   FALSE AS payload_ok
            FROM documents
        """,
        "multimodal_features": _MM_FEATURES_SQL,
        "multimodal_frames": _MM_FRAMES_SQL,
        "label_centroids": """
            WITH e AS (
              SELECT CAST(label AS BIGINT) AS label,
                     unnest(list_transform(range(1, len(embedding) + 1),
                            i -> struct_pack(pos := i - 1, v := CAST(embedding[i] AS DOUBLE)))) AS s
              FROM embeddings
            )
            SELECT label, CAST(s.pos AS BIGINT) AS pos,
                   round(CAST(sum(CAST(s.v AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS centroid,
                   count(*) AS n
            FROM e GROUP BY label, s.pos
        """,
        "pack_sequences": f"""
            WITH n AS (
              SELECT doc_id,
                     COALESCE(CAST(len(regexp_extract_all(text, '{_SUBWORD_RE_SQL}')) AS BIGINT), 0) AS n_tokens
              FROM documents
            ),
            o AS (
              -- CAST matters: DuckDB's windowed sum(BIGINT) yields
              -- HUGEINT, which pandas materializes as float64 — the
              -- Spark result is int64, so the driver's value hash
              -- mismatches on TYPE despite equal values (this was
              -- CORRECTNESS_r05's pack_sequences hash_match=false)
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
              FROM n
            )
            SELECT doc_id AS id, n_tokens, start_offset,
                   CAST(start_offset // {PACK_SEQ_LEN} AS BIGINT) AS bin_start,
                   CAST((start_offset + greatest(n_tokens - 1, 0)) // {PACK_SEQ_LEN} AS BIGINT) AS bin_end
            FROM o
        """,
        # closed-form twin of the trained-BPE row: the construction
        # forces merges [(a,b),(ab,ab),(abab,abab)] (hard-coded below),
        # so per-doc token counts are pure arithmetic on m = 1+id%8
        # (greedy rank-order merging leaves (m//2)//2 + (m//2)%2 + m%2
        # tokens) plus 2 unmerged bytes for the planted 2-byte UTF-8
        # char on every 16th doc; offsets replay pack_sequences' sum
        # bpe_roundtrip_eq: the engine must prove losslessness itself
        # — the oracle only states that every check HOLDS (any lossy
        # branch or id-layout drift flips a boolean -> value hash)
        "bpe_roundtrip_eq": """
            SELECT doc_id, TRUE AS roundtrip_ok, TRUE AS sep_roundtrip_ok,
                   TRUE AS count_consistent
            FROM documents WHERE doc_id < 300
        """,
        # bpe_count_route_eq: closed form of the forced-merge corpus
        # ("ab"*m + " " + "ab"*m2 + é-plant; every 50th doc null):
        # n = g(m) + 1 + g(m2) + 2*[doc%16=0], g(x) = x//2 + x%2,
        # merges forced to [(a,b),(ab,ab)]; packing adds 1 separator
        # per doc and prefix-sums in doc_id order
        "bpe_count_route_eq": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400),
            n AS (
              SELECT doc_id,
                     CAST(CASE WHEN doc_id % 50 = 49 THEN 0 ELSE
                         ((1 + doc_id % 8) // 2) + (1 + doc_id % 8) % 2
                       + 1
                       + ((1 + doc_id % 5) // 2) + (1 + doc_id % 5) % 2
                       + CASE WHEN doc_id % 16 = 0 THEN 2 ELSE 0 END
                     END AS BIGINT) AS n
              FROM d
            )
            SELECT doc_id, n AS n_tokens_join, n AS n_tokens_udf,
                   TRUE AS routes_match,
                   n + 1 AS n_tokens_packed,
                   CAST(COALESCE(sum(n + 1) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS start_offset
            FROM n
        """,
        # phash_neardup: construction-derived pair list — per group g
        # (ids 4g..4g+3): (base, png-twin) hamming 0, (base, 2-bit
        # mutant) and (twin, 2-bit mutant) hamming 2, the 8-bit mutant
        # and all cross-group pairs excluded (distance >= 8 > 3)
        "phash_neardup": """
            WITH g AS (SELECT doc_id AS gid FROM documents WHERE doc_id < 16)
            SELECT CAST(gid * 4 AS BIGINT) AS a, CAST(gid * 4 + 1 AS BIGINT) AS b,
                   CAST(0 AS BIGINT) AS hamming FROM g
            UNION ALL
            SELECT CAST(gid * 4 AS BIGINT), CAST(gid * 4 + 2 AS BIGINT),
                   CAST(2 AS BIGINT) FROM g
            UNION ALL
            SELECT CAST(gid * 4 + 1 AS BIGINT), CAST(gid * 4 + 2 AS BIGINT),
                   CAST(2 AS BIGINT) FROM g
        """,
        # phash_neardup_bi: cross-corpus pairs only — new k=1 twin at
        # hamming 0 and k=2 mutant at 2 against the k=0 history base;
        # the within-new (k1,k2) pair must NOT appear; both routes
        # (payload decode vs persisted history signatures) identical
        "phash_neardup_bi": """
            WITH g AS (SELECT doc_id AS gid FROM documents WHERE doc_id < 16),
            p AS (
              SELECT CAST(gid * 4 + 1 AS BIGINT) AS a, CAST(gid * 4 AS BIGINT) AS b,
                     CAST(0 AS BIGINT) AS hamming FROM g
              UNION ALL
              SELECT CAST(gid * 4 + 2 AS BIGINT), CAST(gid * 4 AS BIGINT),
                     CAST(2 AS BIGINT) FROM g
            )
            SELECT a, b, hamming, r.route
            FROM p, (SELECT 'payload' AS route UNION ALL SELECT 'sigs') r
        """,
        "bpe_tokenize_eq": """
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 400),
            n AS (
              SELECT doc_id,
                     CAST(((1 + doc_id % 8) // 2) // 2
                        + ((1 + doc_id % 8) // 2) % 2
                        + (1 + doc_id % 8) % 2
                        + CASE WHEN doc_id % 16 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_tokens
              FROM d
            ),
            o AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
              FROM n
            )
            SELECT doc_id AS id, '' AS info, n_tokens, start_offset FROM o
            UNION ALL
            SELECT * FROM (VALUES
              (CAST(-1 AS BIGINT), 'a>b', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)),
              (CAST(-2 AS BIGINT), 'ab>ab', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)),
              (CAST(-3 AS BIGINT), 'abab>abab', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT))
            ) t(id, info, n_tokens, start_offset)
        """,
        "redact_pii": f"""
            SELECT doc_id,
                   {_redact_sql("concat(COALESCE(text, ''), ' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com or https://ex.example/d/', CAST(doc_id AS VARCHAR), ' tel 555-123-4567 host 10.0.0.1')")} AS clean
            FROM documents
        """,
        "knn_classify": f"""
            WITH emb AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
                     round({_dot_sql('q.v', 'c.v')}
                           / (sqrt({_dot_sql('q.v', 'q.v')}) * sqrt({_dot_sql('c.v', 'c.v')})), 6) AS cosine
              FROM emb q JOIN emb c ON q.vec_id < 20 AND q.vec_id != c.vec_id
            ),
            nn AS (
              SELECT query_id, neighbor_id, label FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
                FROM pairs)
              WHERE rank <= 5
            ),
            votes AS (
              SELECT query_id, CAST(label AS BIGINT) AS label, count(*) AS votes
              FROM nn GROUP BY query_id, label
            )
            SELECT query_id, label AS pred_label, votes FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY votes DESC, label ASC) AS rn
              FROM votes)
            WHERE rn = 1
        """,
        "assign_split": f"""
            WITH h AS (
              SELECT doc_id,
                     {_uniform_sql('CAST(doc_id AS VARCHAR)')} AS u
              FROM documents)
            SELECT doc_id AS id,
                   CASE WHEN u < 0.875 THEN 'train'
                        WHEN u < 0.9375 THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        # decontaminate: 5-gram shingles (Spark sequence(1, len-4)
        # inclusive == DuckDB range(1, len-3) exclusive)
        "decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= {DECON_N}
                     THEN list_transform(range(1, len(t) - {DECON_N - 2}),
                          i -> concat_ws(' ', {", ".join(f"t[i+{j}]" for j in range(DECON_N))}))
                     ELSE [] END)) AS shingle
              FROM toks),
            bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0),
            hits AS (SELECT s.doc_id AS id, count(*) AS n_hits
                     FROM sh s JOIN bsh USING (shingle) GROUP BY s.doc_id)
            SELECT d.doc_id AS id,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) < 1 AS keep
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.id
        """,
        # refinedweb_pipeline: full SQL twin of the ten-stage
        # production-ordered composition. Stage twins are the same
        # spellings as the unit oracles (gopher metrics, bigram ppl,
        # exact-Jaccard pairs + recursive closure, positional-gram
        # spans, 5-gram decon, DSIR chain, Gumbel key, split/shard
        # hashes); only stage 1 (URL dedup) and stage 3 (boilerplate
        # round-trip) are construction-derived — the planted variants
        # collapse to doc_id % 10 <> 7 by construction, and the
        # byte-exact boiler restore is asserted in-Spark and pinned
        # TRUE here.
        "refinedweb_pipeline": _REFINEDWEB_SQL,
        # crawl_shards: the WET/boilerplate stages are asserted
        # in-Spark (booleans pinned TRUE here); everything countable
        # is derived from `documents` — dedup survivors are min-id
        # per text, contamination is the 5-gram join vs the mod-13
        # benchmark slice, splits use the shared poly31 hash, pack
        # totals use the subword regex token count
        "crawl_shards": f"""
            -- COALESCE(text,'') mirrors the Spark pipeline, where a
            -- null-text doc becomes an empty WET payload and comes
            -- back as '' — so null and genuinely-empty docs must land
            -- in the SAME exact-dedup group on both engines (a plain
            -- GROUP BY text would keep NULL as its own group and
            -- desync n_dedup the day the corpus gains an empty doc)
            WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t
                          FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)),
            surv AS (SELECT min(doc_id) AS id, any_value(t) AS t, text
                     FROM toks GROUP BY text),
            ssh AS (
              SELECT id, unnest(list_distinct(
                CASE WHEN len(t) >= {DECON_N}
                     THEN list_transform(range(1, len(t) - {DECON_N - 2}),
                          i -> concat_ws(' ', {", ".join(f"t[i+{j}]" for j in range(DECON_N))}))
                     ELSE [] END)) AS shingle
              FROM surv),
            bsh AS (
              SELECT DISTINCT unnest(list_distinct(
                CASE WHEN len(t) >= {DECON_N}
                     THEN list_transform(range(1, len(t) - {DECON_N - 2}),
                          i -> concat_ws(' ', {", ".join(f"t[i+{j}]" for j in range(DECON_N))}))
                     ELSE [] END)) AS shingle
              FROM toks WHERE doc_id % {CRAWL_BENCH_MOD} = 0),
            contam AS (SELECT DISTINCT s.id FROM ssh s JOIN bsh USING (shingle)),
            final AS (SELECT id, text FROM surv
                      WHERE id NOT IN (SELECT id FROM contam)),
            h AS (
              SELECT id,
                     {_uniform_sql('CAST(id AS VARCHAR)')} AS u
              FROM final),
            splitc AS (
              SELECT count(*) FILTER (WHERE u < 0.875) AS n_train,
                     count(*) FILTER (WHERE u >= 0.875 AND u < 0.9375) AS n_val,
                     count(*) FILTER (WHERE u >= 0.9375) AS n_test
              FROM h),
            packt AS (
              SELECT COALESCE(CAST(sum(len(regexp_extract_all(text, '{_SUBWORD_RE_SQL}'))) AS BIGINT), 0) AS total
              FROM final)
            SELECT
              CAST((SELECT count(*) + count(*) FILTER (WHERE doc_id % {CRAWL_DUP_MOD} = 0)
                    FROM documents) AS BIGINT) AS n_wet,
              TRUE AS boiler_ok, TRUE AS scores_ok,
              CAST((SELECT count(*) FROM surv) AS BIGINT) AS n_dedup,
              CAST((SELECT count(*) FROM contam) AS BIGINT) AS n_contam,
              CAST((SELECT n_train FROM splitc) AS BIGINT) AS n_train,
              CAST((SELECT n_val FROM splitc) AS BIGINT) AS n_val,
              CAST((SELECT n_test FROM splitc) AS BIGINT) AS n_test,
              (SELECT total FROM packt) AS total_tokens,
              CAST((SELECT CASE WHEN total = 0 THEN 0
                                ELSE (total - 1) // {PACK_SEQ_LEN} + 1 END
                    FROM packt) AS BIGINT) AS n_bins
        """,
        "repetition_stats": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
            tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
            tstat AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_distinct, max(c) AS max_tok
                      FROM tc GROUP BY doc_id),
            g2 AS (SELECT doc_id, unnest(
                     CASE WHEN len(t) >= 2
                          THEN list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1]))
                          ELSE [] END) AS g FROM toks),
            gc AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
            gstat AS (SELECT doc_id, sum(c) AS n_g2, max(c) AS max_g2 FROM gc GROUP BY doc_id)
            SELECT tk.doc_id AS id,
                   CAST(len(tk.t) AS BIGINT) AS n_tokens,
                   round(CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS distinct_ratio,
                   round(CAST(max_tok AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS top_token_frac,
                   round(CAST(max_g2 AS DOUBLE) / CAST(n_g2 AS DOUBLE), 6) AS top_2gram_frac
            FROM toks tk
            LEFT JOIN tstat ON tk.doc_id = tstat.doc_id
            LEFT JOIN gstat ON tk.doc_id = gstat.doc_id
        """,
        "balance_sources": f"""
            WITH pri AS (
              SELECT doc_id, source,
                     list_reduce(list_prepend(0, range(1, length(CAST(doc_id AS VARCHAR)) + 1)),
                       (acc, i) -> (acc * 31 + ascii(substring(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)))
                                   % 2147483647) AS fp
              FROM documents),
            ranked AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source ORDER BY fp ASC, doc_id ASC) AS BIGINT) AS rk
              FROM pri)
            SELECT doc_id AS id, source, rk FROM ranked WHERE rk <= {BALANCE_CAP}
        """,
        "quantile_filter": f"""
            WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
            scored AS (SELECT doc_id, {_QUALITY_EXPR_SQL} AS q FROM toks),
            thr AS (SELECT quantile_cont(q, {1.0 - KEEP_FRAC}) AS t FROM scored)
            SELECT doc_id, q FROM scored, thr WHERE q >= t
        """,
        # as-of twin: the same union + running last_value(IGNORE NULLS)
        # construction (payload packed in ONE struct so both carried
        # fields come from the same click row)
        "asof_purchase_click": """
            WITH u AS (
              SELECT user_id, ts, 0 AS tag, event_id AS ord,
                     struct_pack(eid := event_id, val := value) AS pay,
                     NULL::BIGINT AS l_eid
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, 1 AS tag, event_id AS ord,
                     NULL AS pay, event_id AS l_eid
              FROM events WHERE event_type = 'purchase'
            ),
            c AS (
              SELECT user_id, ts, tag, l_eid,
                     last_value(pay IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, tag, ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
              FROM u
            )
            SELECT l_eid AS event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                   CAST(m.eid AS BIGINT) AS click_event_id,
                   m.val AS click_value
            FROM c WHERE tag = 1
        """,
        # funnel: DuckDB's list_reduce has no init arg, so the running
        # stage rides in the accumulator struct's `o` field (the
        # prepended seed struct carries stage 0)
        "funnel": """
            WITH seq AS (
              SELECT user_id,
                     list_sort(list(struct_pack(ts := ts, o := event_id, t := event_type))) AS s
              FROM events GROUP BY user_id
            )
            SELECT user_id,
                   CAST(list_reduce(
                     list_prepend(struct_pack(ts := TIMESTAMP '1900-01-01', o := CAST(0 AS BIGINT), t := ''), s),
                     (acc, e) -> struct_pack(
                       ts := e.ts,
                       o := CASE WHEN acc.o < 3 AND e.t = (['view','click','purchase'])[CAST(acc.o AS INT) + 1]
                                 THEN acc.o + 1 ELSE acc.o END,
                       t := e.t)).o AS BIGINT) AS stage
            FROM seq
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id, ts, value, event_id,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
            FROM sess GROUP BY user_id, sid
        """,
        "curate_stream_eq": """
            SELECT CAST(count(*) AS BIGINT) AS n_batch, TRUE AS stream_matches FROM (
              SELECT DISTINCT
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  'https?://[^\\s]+', '<URL>', 'g'),
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS clean
              FROM documents
            )
        """,
        # NB-gated ingest twin: replay the full trained-langid chain
        # (shared CTE body with langid_route_eq) and count the distinct
        # admitted texts — the planted construction has no PII, so
        # redaction is identity and distinct(text) == distinct(clean)
        "curate_nb_stream_eq": f"""
            WITH {_langid_nb_ctes().strip()}
            SELECT CAST(count(DISTINCT s.text) AS BIGINT) AS n_batch,
                   TRUE AS stream_matches
            FROM lsrc s JOIN lnb n ON n.doc_id = s.doc_id
            WHERE n.lang_nb = 'en'
        """,
        "sketch_distinct": (
            "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, "
            "TRUE AS within_bounds FROM events"
        ),
        "sketch_stream_merge": f"""
            WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
            t AS (SELECT sum(n) AS total FROM c)
            SELECT CAST(count(*) AS BIGINT) AS n_exact,
                   TRUE AS merged_equals_full, TRUE AS no_undercount
            FROM c, t WHERE n >= total * {CMS_STREAM_FRAC}
        """,
        # dedup of IDENTICAL re-delivered rows == distinct event count
        "dedup_stream_eq": (
            "SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_batch, "
            "TRUE AS stream_matches FROM events"
        ),
        # salted join is DEFINED row-identical to the plain join
        "salted_join_eq": """
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(l_suppkey AS BIGINT) AS suppkey,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        """,
        "sample_sources": f"""
            WITH h AS (
              SELECT doc_id, source,
                     {_uniform_sql('CAST(doc_id AS VARCHAR)')} AS u
              FROM documents)
            SELECT doc_id AS id, source FROM h
            WHERE u < CASE source
                        WHEN 'src0' THEN {SAMPLE_FRACS['src0']}
                        WHEN 'src1' THEN {SAMPLE_FRACS['src1']}
                        WHEN 'src2' THEN {SAMPLE_FRACS['src2']}
                        ELSE 1.0 END
        """,
        # url_dedup: an INDEPENDENT expectation — every planted
        # variant group must collapse to one canonical URL + min id
        # (not a SQL re-spelling of the normalizer)
        # url_filter: construction-derived — host/score/keep are pure
        # functions of the planted doc_id residue
        "url_filter": """
            SELECT doc_id AS id,
              CASE WHEN doc_id % 10 IN (0, 4) THEN 'bad.example'
                   WHEN doc_id % 10 = 1 THEN 'sub.bad.example'
                   WHEN doc_id % 10 IN (2, 3) THEN 'ok.example'
                   ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example' END AS host,
              CASE WHEN doc_id % 10 = 2 THEN CAST(1.2 AS DOUBLE)
                   WHEN doc_id % 10 = 3 THEN CAST(0.6 AS DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END AS kw_score,
              doc_id % 10 NOT IN (0, 1, 2, 4) AS keep
            FROM documents
        """,
        "url_dedup": f"""
            SELECT min(doc_id) AS id,
                   'https://site.com/page/' || g || '?q=1' AS url_norm
            FROM (SELECT doc_id,
                         CAST(doc_id % {URL_DEDUP_GROUPS} AS VARCHAR) AS g
                  FROM documents)
            GROUP BY g
        """,
        # url_dedup_bi: independent expectation from the construction —
        # only the bases absent from history survive, min odd id each
        "url_dedup_bi": f"""
            SELECT min(doc_id) AS id,
                   'https://site.com/page/' || CAST(b AS VARCHAR) || '?q=1' AS url_norm
            FROM (SELECT doc_id, doc_id % {URL_BI_NEW_MOD} AS b
                  FROM documents WHERE doc_id % 2 = 1)
            WHERE b >= {URL_BI_HIST_MOD}
            GROUP BY b
        """,
        "gopher_rules": f"""
            WITH base AS (
              SELECT doc_id, text, {_TOKS_SQL} AS t,
                     list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS lns
              FROM documents
            ),
            m AS (
              SELECT doc_id, text,
                CAST(len(t) AS BIGINT) AS n_words,
                CASE WHEN len(t) > 0 THEN round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(t), 6) END AS mean_word_len,
                CASE WHEN len(t) > 0 THEN round(CAST(len(regexp_extract_all(text, '#')) AS DOUBLE) / len(t), 6) END AS hash_ratio,
                CASE WHEN len(t) > 0 THEN round(CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / len(t), 6) END AS ellipsis_ratio,
                CASE WHEN len(lns) > 0 THEN round(CAST(len(list_filter(lns, x -> regexp_matches(x, '^\\s*[-*•]'))) AS DOUBLE) / len(lns), 6) END AS bullet_frac,
                CASE WHEN len(lns) > 0 THEN round(CAST(len(list_filter(lns, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / len(lns), 6) END AS ellipsis_frac,
                CASE WHEN len(t) > 0 THEN round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t), 6) END AS alpha_frac,
                CAST(len(list_intersect(list_distinct(t), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
              FROM base
            )
            SELECT doc_id AS id, n_words, mean_word_len, hash_ratio,
                   ellipsis_ratio, bullet_frac, ellipsis_frac, alpha_frac, stopword_hits,
                   CASE WHEN text IS NULL THEN FALSE ELSE (
                     COALESCE(n_words >= {GOPHER_MIN_WORDS}, FALSE)
                     AND COALESCE(n_words <= 100000, FALSE)
                     AND COALESCE(mean_word_len >= 3.0, FALSE)
                     AND COALESCE(mean_word_len <= 10.0, FALSE)
                     AND COALESCE(hash_ratio <= 0.1, FALSE)
                     AND COALESCE(ellipsis_ratio <= 0.1, FALSE)
                     AND NOT COALESCE(bullet_frac > 0.9, FALSE)
                     AND NOT COALESCE(ellipsis_frac > 0.3, FALSE)
                     AND COALESCE(alpha_frac >= 0.8, FALSE)
                     AND COALESCE(stopword_hits >= {GOPHER_MIN_STOP}, FALSE)
                   ) END AS keep
            FROM m
        """,
        # dsir_weights: full twin of the hashed-n-gram importance
        # weights — same poly31 bucket recurrence, same smoothing,
        # same round-to-9dp-then-DECIMAL-sum discipline
        # semdedup_multiprobe_eq: construction-derived twin — the
        # plant arithmetic alone decides both survivor sets (base ids
        # from the embeddings table; partners = base+1000 lose to
        # their base under both routes; the 5000/5001 boundary pair
        # survives whole under p=1 and loses 5001 under p=2)
        "semdedup_multiprobe_eq": """
            WITH smp_base AS (
              SELECT CAST(vec_id AS BIGINT) AS b FROM embeddings WHERE vec_id < 89),
            smp_ids AS (
              SELECT b AS id FROM smp_base
              UNION ALL SELECT b + 1000 FROM smp_base WHERE b % 10 = 0
              UNION ALL SELECT 5000
              UNION ALL SELECT 5001)
            SELECT id,
                   CASE WHEN id >= 1000 AND id < 5000 THEN FALSE
                        ELSE TRUE END AS surv_p1,
                   CASE WHEN id >= 1000 AND id < 5000 THEN FALSE
                        WHEN id = 5001 THEN FALSE
                        ELSE TRUE END AS surv_p2
            FROM smp_ids
        """,
        # langid_route_eq: full twin of the trained-langid chain
        # (construction, marker argmax, confidence-gated seed,
        # char-gram NB fit, scoring) generated from the same
        # LANG_MARKERS dict; emits its prediction for BOTH nb columns
        # so the hash doubles as a column-vs-arrow equivalence gate
        "langid_route_eq": _langid_eq_sql(),
        # nb_classify: full SQL twin of the multinomial-NB chain —
        # per-(label,bucket) counts, add-alpha smoothing at 9 dp,
        # DECIMAL per-doc sums, 6-dp scores, argmax with min-label
        # tie-break, runner-up margin. Same train/test split and
        # poly31 buckets as the Spark side. Precondition (holds for
        # the testdata generator): doc_id is unique — on duplicate
        # ids Spark emits one row per INPUT row while this twin's
        # grouped CTEs emit one per id.
        "nb_classify": f"""
            WITH nbtr AS (SELECT source AS label, {_TOKS_SQL} AS t
                          FROM documents WHERE doc_id % 3 = 0),
            nbte AS (SELECT doc_id, {_TOKS_SQL} AS t
                     FROM documents WHERE doc_id % 3 <> 0),
            nbtrg AS (SELECT label, unnest(t) AS g FROM nbtr),
            nbteg AS (SELECT doc_id, unnest(t) AS g FROM nbte),
            nbtrb AS (SELECT label, {_NB_BUCKET_SQL.format(B=NB_BUCKETS)} AS bk FROM nbtrg),
            nbteb AS (SELECT doc_id, {_NB_BUCKET_SQL.format(B=NB_BUCKETS)} AS bk FROM nbteg),
            nbcnt AS (SELECT label, bk, count(*) AS c FROM nbtrb GROUP BY label, bk),
            nbdocs AS (SELECT label, count(*) AS nd FROM nbtr GROUP BY label),
            nbtot AS (SELECT d.label, COALESCE(t.tot, 0) AS tot FROM nbdocs d
                      LEFT JOIN (SELECT label, count(*) AS tot FROM nbtrb GROUP BY label) t
                      USING (label)),
            nbsz AS (SELECT count(*) AS k, sum(nd) AS n FROM nbdocs),
            nbpri AS (SELECT label, round(ln((nd + {NB_ALPHA}) / (n + {NB_ALPHA} * k)), 9) AS lp
                      FROM nbdocs, nbsz),
            nbllh AS (SELECT label, bk,
                             round(ln((c + {NB_ALPHA}) / (tot + {NB_ALPHA} * {NB_BUCKETS})), 9) AS lh
                      FROM nbcnt JOIN nbtot USING (label)),
            nbmiss AS (SELECT label,
                              round(ln({NB_ALPHA} / (tot + {NB_ALPHA} * {NB_BUCKETS})), 9) AS lm
                       FROM nbtot),
            nbsum AS (
              SELECT b.doc_id, l.label, count(*) AS ng,
                     sum(CAST(COALESCE(h.lh, m.lm) AS DECIMAL(24,9))) AS s
              FROM nbteb b
              CROSS JOIN (SELECT label FROM nbdocs) l
              JOIN nbmiss m ON m.label = l.label
              LEFT JOIN nbllh h ON h.label = l.label AND h.bk = b.bk
              GROUP BY b.doc_id, l.label),
            nbfull AS (
              SELECT d.doc_id, p.label, COALESCE(s.ng, 0) AS ng,
                     round(COALESCE(CAST(s.s AS DOUBLE), 0.0) + p.lp, 6) AS score
              FROM (SELECT DISTINCT doc_id FROM nbte) d
              CROSS JOIN nbpri p
              LEFT JOIN nbsum s ON s.doc_id = d.doc_id AND s.label = p.label),
            nbbest AS (SELECT doc_id, max(score) AS best FROM nbfull GROUP BY doc_id),
            nbpred AS (
              SELECT f.doc_id, min(f.label) AS pred, b.best
              FROM nbfull f JOIN nbbest b ON f.doc_id = b.doc_id AND f.score = b.best
              GROUP BY f.doc_id, b.best),
            nbng AS (SELECT doc_id, CAST(max(ng) AS BIGINT) AS n_grams
                     FROM nbfull GROUP BY doc_id),
            nbmarg AS (
              SELECT p.doc_id,
                     round(p.best - COALESCE(
                       max(f.score) FILTER (WHERE f.label <> p.pred), p.best), 6) AS margin
              FROM nbpred p JOIN nbfull f ON f.doc_id = p.doc_id
              GROUP BY p.doc_id, p.best, p.pred)
            SELECT p.doc_id AS id, g.n_grams, p.pred, p.best AS score, m.margin
            FROM nbpred p JOIN nbng g ON g.doc_id = p.doc_id
            JOIN nbmarg m ON m.doc_id = p.doc_id
        """,
        "dsir_weights": f"""
            WITH {_DSIR_CTES}
            SELECT d.doc_id AS id,
                   CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams, logratio
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        # dsir_resample: the same chain, then the deterministic Gumbel
        # top-k — g_key = round(logratio - ln(-ln(u)), 6) with u the
        # seeded cross-engine uniform hash (clamped away from 0), id
        # as the tiebreak
        "dsir_resample": f"""
            WITH {_DSIR_CTES},
            keyed AS (
              SELECT doc_id AS id, logratio,
                     round(logratio - ln(-ln(greatest(
                       {_uniform_sql_seeded("CAST(doc_id AS VARCHAR)", DSIR_RESAMPLE_SEED)},
                       1e-12))), 6) AS g_key
              FROM per
            )
            SELECT id, logratio, g_key FROM keyed
            ORDER BY g_key DESC, id LIMIT {DSIR_RESAMPLE_K}
        """,
        # fineweb_filters: replant the residue text, recompute all
        # three Penedo 2024 §3.6 signals (line-punct fraction via the
        # published stop set, duplicated-line chars via
        # total - distinct-line chars, short-line fraction) and both
        # boundary directions (<= removes on punct, >= on the others)
        "fineweb_filters": f"""
            WITH fwsrc AS (
              SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN 'This is a fine long opening sentence that ends properly for doc '
                    || {_FW_SID} || '.' || chr(10)
                    || 'Another substantial line with plenty of characters to clear the bar.' || chr(10)
                    || 'A third distinct line also ends with a period, keeping punctuation high.'
                  WHEN 1 THEN {_FW_NOPUNCT_SQL} || chr(10)
                    || 'only this final line of doc ' || {_FW_SID} || ' ends with a period.'
                  WHEN 2 THEN {_FW_DUPLINE_SQL} || chr(10) || {_FW_DUPLINE_SQL} || chr(10)
                    || {_FW_DUPLINE_SQL} || chr(10) || {_FW_DUPLINE_SQL} || chr(10)
                    || {_FW_DUPLINE_SQL} || chr(10)
                    || 'one distinct closing line with enough characters to stay long.'
                  ELSE {_FW_SHORTS_SQL} || chr(10)
                    || 'A long enough line to not count as short, ending with a stop.' || chr(10)
                    || 'Another long line comfortably past thirty characters, also stopped.'
                END AS text
              FROM documents),
            {_fineweb_verdict_ctes("fwsrc")}
            SELECT doc_id AS id, pf AS line_punct_frac, dfr AS dup_line_char_frac,
                   sf AS short_line_frac, keep
            FROM fwv
        """,
        # gopher_repetition: full construction-independent twin (unit
        # streams + packed top-gram max + published A1.2 thresholds)
        "gopher_repetition": _GOPHER_REP_SQL,
        # fineweb_pipeline: full composed twin from the shared stage
        # spellings (see _FINEWEB_PIPE_SQL)
        "fineweb_pipeline": _FINEWEB_PIPE_SQL,
        # paragraph_dedup: replant the shared-paragraph construction,
        # re-derive both survivor policies with window functions over
        # the NORMALIZED paragraph itself (no hash — the oracle pins
        # the semantics, not the md5 spelling), reassemble in order
        "paragraph_dedup": f"""
            WITH pd0 AS (
              SELECT doc_id,
                'Unique opening paragraph for document ' || CAST(doc_id AS VARCHAR)
                  || '.' || chr(10)
                  || 'Shared paragraph block number ' || CAST(doc_id % {PD_SHARED_MOD} AS VARCHAR)
                  || ' appears in many documents.' || chr(10)
                  || substr(text, 1, 60) AS text
              FROM documents WHERE text IS NOT NULL),
            pdl AS (SELECT doc_id,
                      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                                  x -> x <> '') AS ps
                    FROM pd0),
            pdx AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para
                    FROM pdl, LATERAL unnest(range(1, len(ps) + 1)) AS u(i)),
            pdw AS (SELECT doc_id, pos, para,
                      row_number() OVER (PARTITION BY regexp_replace(lower(para), '\\s+', ' ', 'g')
                                         ORDER BY doc_id, pos) AS rn,
                      count(*) OVER (PARTITION BY regexp_replace(lower(para), '\\s+', ' ', 'g')) AS c
                    FROM pdx),
            pda AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean,
                           count(*) AS n_kept
                    FROM pdw WHERE rn = 1 GROUP BY doc_id),
            pdd AS (SELECT doc_id, count(*) AS n_kept_drop
                    FROM pdw WHERE c < 2 GROUP BY doc_id)
            SELECT b.doc_id AS id, COALESCE(pda.clean, '') AS clean,
                   CAST(len(b.ps) AS BIGINT) AS n_paras,
                   CAST(COALESCE(pda.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(COALESCE(pdd.n_kept_drop, 0) AS BIGINT) AS n_kept_drop
            FROM pdl b
            LEFT JOIN pda ON b.doc_id = pda.doc_id
            LEFT JOIN pdd ON b.doc_id = pdd.doc_id
        """,
        # paragraph_dedup_bi: replant both corpora, window over the
        # normalized paragraph among NEW paragraphs not in the
        # history's distinct set, reassemble in order
        "paragraph_dedup_bi": f"""
            WITH pbh AS (
              SELECT 'History doc ' || CAST(doc_id AS VARCHAR) || '.' || chr(10)
                || 'Shared paragraph block number ' || CAST(doc_id % {PB_SHARED_MOD} AS VARCHAR)
                || ' appears in many documents.' AS text
              FROM documents WHERE text IS NOT NULL AND doc_id % {PB_HIST_MOD} = 0),
            pbhk AS (
              SELECT DISTINCT regexp_replace(lower(u), '\\s+', ' ', 'g') AS k
              FROM pbh, LATERAL unnest(list_filter(list_transform(
                string_split(text, chr(10)), x -> trim(x)), x -> x <> '')) AS un(u)),
            pbn AS (
              SELECT doc_id,
                'Unique opening paragraph for document ' || CAST(doc_id AS VARCHAR)
                  || '.' || chr(10)
                  || 'Shared paragraph block number ' || CAST(doc_id % {PB_SHARED_MOD} AS VARCHAR)
                  || ' appears in many documents.' || chr(10)
                  || 'New shard shared paragraph ' || CAST(doc_id % {PB_NEW_MOD} AS VARCHAR)
                  || ' for this cycle.' || chr(10)
                  || substr(text, 1, 60) AS text
              FROM documents WHERE text IS NOT NULL AND doc_id % {PB_HIST_MOD} <> 0),
            pbl AS (SELECT doc_id,
                      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                                  x -> x <> '') AS ps
                    FROM pbn),
            pbx AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para,
                           regexp_replace(lower(ps[i]), '\\s+', ' ', 'g') AS k
                    FROM pbl, LATERAL unnest(range(1, len(ps) + 1)) AS u(i)),
            pbf AS (SELECT pbx.* FROM pbx ANTI JOIN pbhk ON pbx.k = pbhk.k),
            pbw AS (SELECT doc_id, pos, para,
                      row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
                    FROM pbf),
            pba AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean,
                           count(*) AS n_kept
                    FROM pbw WHERE rn = 1 GROUP BY doc_id)
            SELECT b.doc_id AS id, COALESCE(pba.clean, '') AS clean,
                   CAST(len(b.ps) AS BIGINT) AS n_paras,
                   CAST(COALESCE(pba.n_kept, 0) AS BIGINT) AS n_kept
            FROM pbl b LEFT JOIN pba ON b.doc_id = pba.doc_id
        """,
        # c4_filters: replant the residue text, re-run the line/page
        # rules in SQL — line survival, the re-joined clean string,
        # the terminal-punct sentence count, and the page verdict all
        # ride in the hash
        "c4_filters": f"""
            WITH c4p AS (
              SELECT doc_id,
                CASE WHEN doc_id % 5 = 4 THEN 'no terminal punctuation anywhere' || chr(10) || 'still nothing here'
                     ELSE 'A proper opening sentence stands here. It continues with words. doc '
                          || CAST(doc_id AS VARCHAR) || ' tail marker.' || chr(10)
                          || 'Second line has enough words to pass muster. Indeed it does. Final sentence here.'
                          || CASE WHEN doc_id % 5 = 1 THEN chr(10) || 'Please enable JavaScript to continue now.'
                                  WHEN doc_id % 5 = 2 THEN ' lorem ipsum'
                                  WHEN doc_id % 5 = 3 THEN ' {{ code'
                                  ELSE '' END
                END AS text
              FROM documents),
            {_c4_ctes("c4p")}
            SELECT doc_id AS id, clean, n_lines_kept, n_sentences, keep FROM c4v
        """,
        # dsir_bigk_eq: the threshold (big-k) route must reproduce the
        # SAME selected set — the oracle is dsir_resample's exact
        # replay verbatim (the routes are set-identical by contract)
        "dsir_bigk_eq": f"""
            WITH {_DSIR_CTES},
            keyed AS (
              SELECT doc_id AS id, logratio,
                     round(logratio - ln(-ln(greatest(
                       {_uniform_sql_seeded("CAST(doc_id AS VARCHAR)", DSIR_RESAMPLE_SEED)},
                       1e-12))), 6) AS g_key
              FROM per
            )
            SELECT id, logratio, g_key FROM keyed
            ORDER BY g_key DESC, id LIMIT {DSIR_RESAMPLE_K}
        """,
        # dsir_route_eq: the two hash routes' agreement booleans are
        # asserted in-Spark on the planted two-vocabulary fixture;
        # the oracle pins them TRUE (stream_eq_all precedent)
        "dsir_route_eq": (
            "SELECT TRUE AS poly31_separates, TRUE AS xxhash64_separates, "
            "TRUE AS topk_sets_equal, CAST(120 AS BIGINT) AS n_docs"
        ),
        # dolma_pipeline: the full SQL twin (_DOLMA_PIPE_SQL above)
        "dolma_pipeline": _DOLMA_PIPE_SQL,
        # multimodal_gif: construction-derived — frame counts, sampled
        # indices (0, 2, 4), and per-frame means are pure functions of
        # doc_id (precedence: every 17th garbage -> zero rows; 13th a
        # 3-frame overlay animation whose frame 2 mixes two solid
        # colors in exact pixel proportion; 11th an interlaced
        # single-frame with one +1 pixel -> mean (C*n+1)/n; 7th a
        # still PPM as a one-frame sequence; rest solid-color
        # animations of 1 + id%5 frames). The kernel's mean is an
        # exact-integer sum over <=199-valued pixels divided by n —
        # the same single float64 division the SQL spells, so round(6)
        # agrees bit-for-bit.
        "multimodal_gif": """
            WITH base AS (
              SELECT doc_id AS id,
                CASE WHEN doc_id % 17 = 0 THEN 0
                     WHEN doc_id % 13 = 0 THEN 3
                     WHEN doc_id % 11 = 0 THEN 1
                     WHEN doc_id % 7 = 0 THEN 1
                     ELSE 1 + doc_id % 5 END AS nf
              FROM documents
            ),
            fr AS (
              SELECT id, nf, CAST(unnest(range(0, nf, 2)) AS INTEGER) AS k
              FROM base WHERE nf > 0
            )
            SELECT id, k AS frame_index, CAST(nf AS INTEGER) AS n_frames,
              CASE
                WHEN id % 13 = 0 AND k = 0 THEN CAST(id % 199 AS DOUBLE)
                WHEN id % 13 = 0 THEN round(
                  CAST((id % 199) * ((6 + id % 7) * (4 + id % 5) - (2 + id % 3) * (1 + id % 3))
                       + ((id * 11) % 199) * (2 + id % 3) * (1 + id % 3) AS DOUBLE)
                  / ((6 + id % 7) * (4 + id % 5)), 6)
                WHEN id % 11 = 0 THEN round(
                  CAST(((id * 3) % 199) * ((4 + id % 9) * (3 + id % 6)) + 1 AS DOUBLE)
                  / ((4 + id % 9) * (3 + id % 6)), 6)
                WHEN id % 7 = 0 THEN CAST((id * 19) % 256 AS DOUBLE)
                ELSE CAST((id * 3 + k * 7) % 199 AS DOUBLE) END AS mean_r,
              CASE
                WHEN id % 13 = 0 AND k = 0 THEN CAST((id * 3) % 199 AS DOUBLE)
                WHEN id % 13 = 0 THEN round(
                  CAST(((id * 3) % 199) * ((6 + id % 7) * (4 + id % 5) - (2 + id % 3) * (1 + id % 3))
                       + ((id * 13) % 199) * (2 + id % 3) * (1 + id % 3) AS DOUBLE)
                  / ((6 + id % 7) * (4 + id % 5)), 6)
                WHEN id % 11 = 0 THEN round(
                  CAST(((id * 5) % 199) * ((4 + id % 9) * (3 + id % 6)) + 1 AS DOUBLE)
                  / ((4 + id % 9) * (3 + id % 6)), 6)
                WHEN id % 7 = 0 THEN CAST((id * 23) % 256 AS DOUBLE)
                ELSE CAST((id * 5 + k * 11) % 199 AS DOUBLE) END AS mean_g,
              CASE
                WHEN id % 13 = 0 AND k = 0 THEN CAST((id * 5) % 199 AS DOUBLE)
                WHEN id % 13 = 0 THEN round(
                  CAST(((id * 5) % 199) * ((6 + id % 7) * (4 + id % 5) - (2 + id % 3) * (1 + id % 3))
                       + ((id * 17) % 199) * (2 + id % 3) * (1 + id % 3) AS DOUBLE)
                  / ((6 + id % 7) * (4 + id % 5)), 6)
                WHEN id % 11 = 0 THEN round(
                  CAST(((id * 7) % 199) * ((4 + id % 9) * (3 + id % 6)) + 1 AS DOUBLE)
                  / ((4 + id % 9) * (3 + id % 6)), 6)
                WHEN id % 7 = 0 THEN CAST((id * 29) % 256 AS DOUBLE)
                ELSE CAST((id * 7 + k * 13) % 199 AS DOUBLE) END AS mean_b
            FROM fr
        """,
        # multimodal_decode: construction-derived — the planted
        # payloads' dims/validity/solid-color means are pure functions
        # of doc_id (precedence: every 17th garbage, 13th a BMP, 11th
        # a PCM WAV, 7th an RGB PNG (Adam7 by parity), 19th a
        # greyscale PNG at depth (16,8,4,2,1)[id%5] — 16-bit plants
        # c*257 so the high-byte strip returns c, sub-byte plants
        # level l decoding to l*(255/(2^d-1)) — 23rd a
        # solid greyscale baseline JPEG (exact: flat quant 8), 29th an
        # indexed-color PNG whose single index-1 pixel makes the mean
        # (c*n+1)/n — bit unpacking + palette lookup must be exact —
        # 31st a solid greyscale PROGRESSIVE JPEG (SOF2 multi-scan,
        # exact for the flat-quant reason), rest solid-color PPMs),
        # so the real numpy decoders — incl.
        # the zlib-inflate + NumPy-unfilter PNG path — are checked
        # value-for-value without DuckDB parsing any bytes
        "multimodal_decode": """
            SELECT doc_id AS id,
              CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                        WHEN doc_id % 13 = 0 THEN 3 + doc_id % 9
                        WHEN doc_id % 11 = 0 THEN 10 + doc_id % 23
                        WHEN doc_id % 7 = 0 THEN 5 + doc_id % 11
                        WHEN doc_id % 19 = 0 THEN 3 + doc_id % 8
                        WHEN doc_id % 23 = 0 THEN 8 * (1 + doc_id % 3)
                        WHEN doc_id % 29 = 0 THEN 3 + doc_id % 9
                        WHEN doc_id % 31 = 0 THEN 8 * (1 + doc_id % 2)
                        ELSE 4 + doc_id % 13 END AS INTEGER) AS width,
              CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                        WHEN doc_id % 13 = 0 THEN 2 + doc_id % 5
                        WHEN doc_id % 11 = 0 THEN 1
                        WHEN doc_id % 7 = 0 THEN 2 + doc_id % 6
                        WHEN doc_id % 19 = 0 THEN 2 + doc_id % 4
                        WHEN doc_id % 23 = 0 THEN 8 * (1 + doc_id % 2)
                        WHEN doc_id % 29 = 0 THEN 2 + doc_id % 5
                        WHEN doc_id % 31 = 0 THEN 8 * (1 + doc_id % 3)
                        ELSE 3 + doc_id % 7 END AS INTEGER) AS height,
              CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                        WHEN doc_id % 13 = 0 THEN 3
                        WHEN doc_id % 11 = 0 THEN 1
                        WHEN doc_id % 7 = 0 THEN 3
                        WHEN doc_id % 19 = 0 THEN 1
                        WHEN doc_id % 23 = 0 THEN 1
                        WHEN doc_id % 29 = 0 THEN 3
                        WHEN doc_id % 31 = 0 THEN 1
                        ELSE 3 END AS INTEGER) AS channels,
              doc_id % 17 <> 0 AS ok,
              CASE WHEN doc_id % 17 = 0 THEN NULL
                   WHEN doc_id % 13 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                   WHEN doc_id % 11 = 0 THEN NULL
                   WHEN doc_id % 7 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                   WHEN doc_id % 19 = 0 THEN
                     CASE CAST(doc_id % 5 AS INT)
                       WHEN 0 THEN CAST((doc_id * 23) % 256 AS DOUBLE)
                       WHEN 1 THEN CAST((doc_id * 23) % 256 AS DOUBLE)
                       WHEN 2 THEN CAST((doc_id % 16) * 17 AS DOUBLE)
                       WHEN 3 THEN CAST((doc_id % 4) * 85 AS DOUBLE)
                       ELSE CAST((doc_id % 2) * 255 AS DOUBLE)
                     END
                   WHEN doc_id % 23 = 0 THEN CAST((doc_id * 29) % 256 AS DOUBLE)
                   WHEN doc_id % 29 = 0 THEN round(
                     CAST((doc_id % 199) * ((3 + doc_id % 9) * (2 + doc_id % 5)) + 1 AS DOUBLE)
                     / ((3 + doc_id % 9) * (2 + doc_id % 5)), 6)
                   WHEN doc_id % 31 = 0 THEN CAST((doc_id * 37) % 256 AS DOUBLE)
                   ELSE CAST(doc_id % 256 AS DOUBLE) END AS mean_r,
              CASE WHEN doc_id % 17 = 0 THEN NULL
                   WHEN doc_id % 13 = 0 THEN CAST((doc_id * 3) % 256 AS DOUBLE)
                   WHEN doc_id % 11 = 0 THEN NULL
                   WHEN doc_id % 7 = 0 THEN CAST((doc_id * 11) % 256 AS DOUBLE)
                   WHEN doc_id % 19 = 0 THEN NULL
                   WHEN doc_id % 23 = 0 THEN NULL
                   WHEN doc_id % 29 = 0 THEN round(
                     CAST(((doc_id * 3) % 199) * ((3 + doc_id % 9) * (2 + doc_id % 5)) + 1 AS DOUBLE)
                     / ((3 + doc_id % 9) * (2 + doc_id % 5)), 6)
                   WHEN doc_id % 31 = 0 THEN NULL
                   ELSE CAST((doc_id * 7) % 256 AS DOUBLE) END AS mean_g,
              CASE WHEN doc_id % 17 = 0 THEN NULL
                   WHEN doc_id % 13 = 0 THEN CAST((doc_id * 5) % 256 AS DOUBLE)
                   WHEN doc_id % 11 = 0 THEN NULL
                   WHEN doc_id % 7 = 0 THEN CAST((doc_id * 17) % 256 AS DOUBLE)
                   WHEN doc_id % 19 = 0 THEN NULL
                   WHEN doc_id % 23 = 0 THEN NULL
                   WHEN doc_id % 29 = 0 THEN round(
                     CAST(((doc_id * 5) % 199) * ((3 + doc_id % 9) * (2 + doc_id % 5)) + 1 AS DOUBLE)
                     / ((3 + doc_id % 9) * (2 + doc_id % 5)), 6)
                   WHEN doc_id % 31 = 0 THEN NULL
                   ELSE CAST((doc_id * 13) % 256 AS DOUBLE) END AS mean_b
            FROM documents
        """,
        # shard_assign: the assign_split uniform-hash spelling with
        # the seed-specific scatter multiplier
        "shard_assign": f"""
            WITH h AS (
              SELECT doc_id,
                     {_uniform_sql_seeded("CAST(doc_id AS VARCHAR)", SHARD_SEED)} AS u
              FROM documents)
            SELECT doc_id AS id,
                   CAST(floor(u * {SHARD_N}) AS INTEGER) AS shard,
                   round(u, 6) AS sort_key
            FROM h
        """,
        # remove_dup_spans: the span CTEs of span_dup_stats, then an
        # indexed token filter (DuckDB's lambda index is 1-based,
        # Spark's 0-based — hence i - 1)
        "remove_dup_spans": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS gram
              FROM t, LATERAL unnest(range(1, len(toks) - {SPAN_K - 2})) AS u(i)
              WHERE len(toks) >= {SPAN_K}
            ),
            d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            f AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN d ON g.gram = d.gram),
            brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                               > {SPAN_K} THEN 1 ELSE 0 END AS b
              FROM f
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
              FROM brk
            ),
            spans AS (
              SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K} AS e
              FROM isl GROUP BY doc_id, isl
            ),
            sl AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS spans
                   FROM spans GROUP BY doc_id)
            SELECT t.doc_id AS id,
                   -- COALESCE(.., ''): DuckDB's array_to_string of an
                   -- EMPTY list is NULL; Spark's concat_ws is ''
                   CASE WHEN t.text IS NULL THEN NULL
                        WHEN sl.spans IS NULL
                          THEN COALESCE(array_to_string(t.toks, ' '), '')
                        ELSE COALESCE(array_to_string(
                          list_filter(t.toks, (x, i) ->
                            len(list_filter(sl.spans,
                                sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0),
                          ' '), '')
                   END AS clean
            FROM t LEFT JOIN sl ON t.doc_id = sl.doc_id
        """,
        # mix_to_budget: per-source repeat factors recomputed in the
        # operator's exact IEEE order (factors are repr'd Python
        # doubles), fractional epoch gated by the shared uniform hash
        "mix_to_budget": f"""
            WITH tot AS (
              SELECT source, sum(n_chars) AS t FROM documents
              WHERE source IN ('src0', 'src1', 'src2', 'src3')
              GROUP BY source
            ),
            rep AS (
              SELECT source,
                     least(100.0, {float(MIX_BUDGET)} * (CASE source
                       WHEN 'src0' THEN {MIX_FACTORS["src0"]!r}
                       WHEN 'src1' THEN {MIX_FACTORS["src1"]!r}
                       WHEN 'src2' THEN {MIX_FACTORS["src2"]!r}
                       ELSE {MIX_FACTORS["src3"]!r} END) / t) AS r
              FROM tot
            ),
            rep2 AS (
              SELECT source, CAST(floor(r) AS INTEGER) AS n_full,
                     round(r - floor(r), 12) AS frac
              FROM rep
            ),
            h AS (
              SELECT doc_id, source,
                     {_uniform_sql('CAST(doc_id AS VARCHAR)')} AS u
              FROM documents
            ),
            j AS (
              SELECT doc_id, h.source AS source,
                     n_full + CASE WHEN u < frac THEN 1 ELSE 0 END AS n
              FROM h JOIN rep2 USING (source)
            )
            SELECT doc_id AS id, source, CAST(ep AS INTEGER) AS epoch
            FROM (SELECT doc_id, source, unnest(range(0, n)) AS ep FROM j)
        """,
        "quantile_filter_by": f"""
            WITH t AS (
              SELECT lang, quantile_cont(n_chars, {1.0 - QFB_KEEP}) AS thr
              FROM documents GROUP BY lang
            )
            SELECT doc_id, d.lang AS lang, n_chars
            FROM documents d JOIN t USING (lang)
            WHERE n_chars >= thr
        """,
        "chunk_documents": f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                                 x -> x != '') AS toks
              FROM documents
            ),
            k AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) > 0
                          THEN least((greatest(len(toks) - {CHUNK_TOKENS}, 0)
                                      + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE},
                                     (len(toks) - 1) // {CHUNK_STRIDE})
                          ELSE -1 END AS kmax
              FROM t
            )
            SELECT doc_id AS id, CAST(i AS BIGINT) AS chunk_idx,
                   CAST(len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                                       i * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT) AS n_tokens,
                   array_to_string(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                                              i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk
            FROM k, LATERAL unnest(range(0, kmax + 1)) AS u(i)
            WHERE kmax >= 0
        """,
        "boilerplate_lines": f"""
            WITH injected AS (
              SELECT doc_id,
                     concat('NAV HOME ABOUT CONTACT', chr(10), COALESCE(text, ''),
                            chr(10), 'FOOTER COPYRIGHT SECTION ',
                            CAST(doc_id % 5 AS VARCHAR)) AS text
              FROM documents
            ),
            lines AS (
              SELECT doc_id, s.pos, s.line
              FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l) + 1),
                              i -> struct_pack(pos := i, line := l[i]))) AS s
                FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM injected)
              )
            ),
            boiler AS (
              SELECT line FROM (
                SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY line
              ) WHERE c > {BOILER_MAX_DF}
            ),
            kept AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean
              FROM lines ANTI JOIN boiler USING (line)
              GROUP BY doc_id
            )
            SELECT i.doc_id, COALESCE(k.clean, '') AS clean
            FROM injected i LEFT JOIN kept k USING (doc_id)
        """,
        # planted identical vectors collide in every LSH band (recall
        # exactly 1) and the verify step is exact cosine (precision
        # 1), so the LSH route equals brute force at threshold ~1
        "retention": f"""
            WITH ev AS (SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events),
            first AS (SELECT u, min(d) AS d0 FROM ev GROUP BY u),
            per AS (SELECT ev.u, f.d0,
                           CAST(floor(date_diff('day', f.d0, ev.d)
                                      / {RETENTION_PERIOD_DAYS}) AS BIGINT) AS off
                    FROM ev JOIN first f ON ev.u = f.u),
            active AS (SELECT d0, off, count(DISTINCT u) AS n_active
                       FROM per GROUP BY d0, off),
            sizes AS (SELECT d0, count(*) AS cohort_size FROM first GROUP BY d0)
            SELECT strftime(a.d0, '%Y-%m-%d') AS cohort_start,
                   a.off AS period_offset,
                   CAST(a.n_active AS BIGINT) AS n_active,
                   CAST(s.cohort_size AS BIGINT) AS cohort_size,
                   CAST(round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS DOUBLE)
                     AS retention
            FROM active a JOIN sizes s ON a.d0 = s.d0
        """,
        "spans_bipartite": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS gram
              FROM t, LATERAL unnest(range(1, len(toks) - {SPAN_K - 2})) AS u(i)
              WHERE len(toks) >= {SPAN_K}
            ),
            hg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
            ng AS (SELECT doc_id, pos, gram FROM g WHERE doc_id % 2 = 1),
            nd AS (SELECT gram FROM ng GROUP BY gram HAVING count(*) >= 2),
            du AS (SELECT gram FROM hg UNION SELECT gram FROM nd),
            f AS (SELECT ng.doc_id, ng.pos FROM ng SEMI JOIN du ON ng.gram = du.gram),
            brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                               > {SPAN_K} THEN 1 ELSE 0 END AS b
              FROM f
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
              FROM brk
            )
            SELECT doc_id AS id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + {SPAN_K} AS BIGINT) AS span_end,
                   CAST(max(pos) + {SPAN_K} - min(pos) AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, isl
        """,
        "contam_spans": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ') AS gram
              FROM t, LATERAL unnest(range(1, len(toks) - {DECON_N - 2})) AS u(i)
              WHERE len(toks) >= {DECON_N}
            ),
            bsh AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0),
            f AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN bsh ON g.gram = bsh.gram),
            brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                               > {DECON_N} THEN 1 ELSE 0 END AS b
              FROM f
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
              FROM brk
            )
            SELECT doc_id AS id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + {DECON_N} AS BIGINT) AS span_end,
                   CAST(max(pos) + {DECON_N} - min(pos) AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, isl
        """,
        "clean_text": """
            SELECT doc_id,
                   trim(regexp_replace(lower(
                     regexp_replace(regexp_replace(regexp_replace(
                       concat('<div class=''hd''>Title</div>  ', COALESCE(text, ''),
                              ' see https://ex.example/page?id=', CAST(doc_id AS VARCHAR),
                              chr(10), chr(10), 'or  www.example.com/x <br/> END'),
                       '<[^>]*>', ' ', 'g'),
                       'https?://[^\\s]+', ' ', 'g'),
                       '\\bwww\\.[^\\s]+', ' ', 'g')),
                     '\\s+', ' ', 'g')) AS clean
            FROM documents
        """,
        "lm_perplexity": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            u AS (SELECT w, count(*) AS cu
                  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
            nv AS (SELECT CAST(COALESCE(sum(cu), 0) AS BIGINT) AS n,
                          count(*) + 1 AS v FROM u),
            b AS (SELECT w1, w2, count(*) AS cb FROM (
                    SELECT toks[i] AS w1, toks[i+1] AS w2
                    FROM t, LATERAL unnest(range(1, len(toks))) AS r(i)
                    WHERE len(toks) >= 2) GROUP BY w1, w2),
            pos AS (SELECT doc_id, toks[i] AS w,
                           CASE WHEN i > 1 THEN toks[i-1] END AS prev
                    FROM t, LATERAL unnest(range(1, len(toks) + 1)) AS r(i)),
            term AS (
              SELECT doc_id,
                     round(ln(CASE WHEN prev IS NULL
                              THEN (COALESCE(u.cu, 0) + 0.5) / (nv.n + 0.5 * nv.v)
                              ELSE (COALESCE(b.cb, 0) + 0.5)
                                   / (COALESCE(cu2.cu, 0) + 0.5 * nv.v) END), 9) AS lp
              FROM pos
              LEFT JOIN u ON pos.w = u.w
              LEFT JOIN u cu2 ON pos.prev = cu2.w
              LEFT JOIN b ON pos.prev = b.w1 AND pos.w = b.w2
              CROSS JOIN nv
            ),
            per AS (SELECT doc_id, count(*) AS n_tokens,
                           sum(CAST(lp AS DECIMAL(24,9))) AS slp
                    FROM term GROUP BY doc_id)
            SELECT t.doc_id AS id,
                   CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(round(CAST(per.slp AS DOUBLE) / per.n_tokens, 6) AS DOUBLE)
                     AS avg_logp,
                   CAST(round(exp(-round(CAST(per.slp AS DOUBLE) / per.n_tokens, 6)), 6)
                     AS DOUBLE) AS ppl
            FROM t LEFT JOIN per ON t.doc_id = per.doc_id
        """,
        "span_dup_stats": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS gram
              FROM t, LATERAL unnest(range(1, len(toks) - {SPAN_K - 2})) AS u(i)
              WHERE len(toks) >= {SPAN_K}
            ),
            d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            f AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN d ON g.gram = d.gram),
            brk AS (
              SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                               > {SPAN_K} THEN 1 ELSE 0 END AS b
              FROM f
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
              FROM brk
            ),
            spans AS (
              SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K} AS e
              FROM isl GROUP BY doc_id, isl
            ),
            per AS (SELECT doc_id, sum(e - s) AS dup FROM spans GROUP BY doc_id)
            SELECT t.doc_id AS id,
                   CAST(COALESCE(per.dup, 0) AS BIGINT) AS dup_tokens,
                   CAST(len(t.toks) AS BIGINT) AS total_tokens,
                   CAST(round(COALESCE(per.dup, 0)
                              / greatest(len(t.toks), 1), 6) AS DOUBLE) AS dup_frac
            FROM t LEFT JOIN per ON t.doc_id = per.doc_id
        """,
        "semdedup_eq": f"""
            WITH RECURSIVE
            aug AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < {LSH_PLANT_N}
            ),
            emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM aug),
            jp AS (
              SELECT a.vec_id AS a, b.vec_id AS b
              FROM emb a JOIN emb b ON a.vec_id < b.vec_id
              WHERE round({_dot_sql('a.v', 'b.v')}
                          / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6)
                    >= {LSH_EQ_T}
            ),
            e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
            ),
            mins AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u)
            SELECT CAST(emb.vec_id AS BIGINT) AS id
            FROM emb LEFT JOIN mins m ON emb.vec_id = m.id
            WHERE m.id IS NULL OR m.mn >= emb.vec_id
        """,
        # semdedup_bi: brute-force twin of the incremental survivor
        # rule — pairs touch the new shard only (history-history edges
        # exist in neither engine); a new id survives iff it has no
        # pair or the min of its transitive reach exceeds its own id
        # (all history ids < 10000 < every new id, so a component
        # touching history always yields reach-min < id — exactly the
        # "history wins, else min new id" policy)
        "semdedup_bi": f"""
            WITH RECURSIVE
            hist AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
            newt AS (
              SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
              WHERE vec_id % 5 = 0 AND vec_id % 3 <> 0
              UNION ALL
              SELECT vec_id + 20000, embedding FROM embeddings
              WHERE vec_id % 5 <> 0 AND vec_id % 7 = 0
              UNION ALL
              SELECT vec_id + 30000, embedding FROM embeddings
              WHERE vec_id % 5 = 0 AND vec_id % 3 = 0
              UNION ALL
              SELECT vec_id + 40000, embedding FROM embeddings
              WHERE vec_id % 5 = 0 AND vec_id % 3 = 0
            ),
            allv AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM hist
              UNION ALL
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM newt
            ),
            jp AS (
              SELECT a.vec_id AS a, b.vec_id AS b
              FROM allv a JOIN allv b ON a.vec_id < b.vec_id
              WHERE (a.vec_id >= 10000 OR b.vec_id >= 10000)
                AND round({_dot_sql('a.v', 'b.v')}
                          / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6)
                    >= {LSH_EQ_T}
            ),
            e AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
            ),
            mins AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u)
            SELECT CAST(n.vec_id AS BIGINT) AS id
            FROM newt n LEFT JOIN mins m ON n.vec_id = m.id
            WHERE m.id IS NULL OR m.mn >= n.vec_id
        """,
        # semdedup_far: the planted 2-D geometry is inlined as VALUES
        # (one source of truth: SEMFAR_VECS); with C=1 the Spark-side
        # centroid is the normalized-mean direction, so the oracle
        # computes the same survivors end-to-end — normalize, find
        # >=0.999-cosine pairs, group (pairs only: component = min of
        # direct neighbors, exact for this geometry), keep the member
        # LEAST similar to the mean direction (ties to lowest id)
        "semdedup_far": f"""
            WITH v(id, x, y) AS (VALUES {", ".join(f"({i}, {vec[0]!r}, {vec[1]!r})" for i, vec in SEMFAR_VECS)}),
            n AS (SELECT id, x / sqrt(x*x + y*y) AS x, y / sqrt(x*x + y*y) AS y FROM v),
            pairs AS (
              SELECT a.id AS ia, b.id AS ib
              FROM n a JOIN n b ON a.id < b.id
              WHERE (a.x*b.x + a.y*b.y) >= 0.999
            ),
            comp AS (
              SELECT n.id,
                     least(n.id, COALESCE((SELECT min(least(p.ia, p.ib)) FROM pairs p
                                           WHERE p.ia = n.id OR p.ib = n.id), n.id)) AS component,
                     (SELECT count(*) FROM pairs p WHERE p.ia = n.id OR p.ib = n.id) AS deg
              FROM n
            ),
            m AS (SELECT sum(x) AS mx, sum(y) AS my FROM n),
            scored AS (
              SELECT c.component, n.id,
                     (n.x*m.mx + n.y*m.my) / sqrt(m.mx*m.mx + m.my*m.my) AS ccos
              FROM n JOIN comp c USING (id), m
              WHERE c.deg > 0
            ),
            losers AS (
              SELECT id FROM (
                SELECT id, row_number() OVER (PARTITION BY component
                                              ORDER BY ccos ASC, id ASC) AS rk
                FROM scored)
              WHERE rk > 1
            )
            SELECT CAST(id AS BIGINT) AS id FROM v
            WHERE id NOT IN (SELECT id FROM losers)
        """,
        "lsh_route_eq": f"""
            WITH aug AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < {LSH_PLANT_N}
            ),
            emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM aug)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({_dot_sql('a.v', 'b.v')}
                         / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6) AS cosine
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE round({_dot_sql('a.v', 'b.v')}
                        / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b.v', 'b.v')})), 6) >= {LSH_EQ_T}
        """,
        # compression_ratio: byte counts replay the construction
        # exactly (ASCII), the compressibility flag replays the class
        # arithmetic (>6x zlib-ratio margins either side of the gate)
        "compression_ratio": f"""
            SELECT CAST(doc_id AS BIGINT) AS id,
                   CAST(CASE WHEN doc_id % {CR_MOD} = 0
                             THEN {len(CR_SPAM) + 4} + length(CAST(doc_id AS VARCHAR))
                             WHEN doc_id % {CR_MOD} = 1 THEN 479
                             ELSE NULL END AS BIGINT) AS n_bytes,
                   CAST(CASE WHEN doc_id % {CR_MOD} = 0 THEN 1
                             WHEN doc_id % {CR_MOD} = 1 THEN 0
                             ELSE NULL END AS INTEGER) AS compressible
            FROM documents
        """,
        # lsh_bucket_cap_eq: the capped pair set is exactly the
        # planted byte-identical copies (construction-derived — see
        # _q_lsh_bucket_cap_eq for the recall/precision argument)
        "lsh_bucket_cap_eq": f"""
            SELECT CAST(doc_id - 1 AS BIGINT) AS a,
                   CAST(doc_id AS BIGINT) AS b,
                   1.0 AS jaccard
            FROM documents
            WHERE doc_id % {BCAP_DUP_MOD} = 0 AND doc_id > 0
        """,
        "sketch_heavy_hitters": f"""
            WITH toks AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
            n AS (SELECT count(*) AS total FROM toks),
            c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
            SELECT CAST(count(*) AS BIGINT) AS n_exact,
                   TRUE AS superset_ok, TRUE AS no_undercount
            FROM c, n WHERE cnt >= CAST(floor(total * {CMS_FRAC}) AS BIGINT)
        """,
        "sessionize_stream_eq": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT user_id,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM flagged
            )
            SELECT CAST(count(*) AS BIGINT) AS n_batch,
                   TRUE AS subset_ok, TRUE AS coverage_ok
            FROM (SELECT DISTINCT user_id, sid FROM sess)
        """,
        "stream_windowed_counts": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
            FROM events
            GROUP BY 1, 2
        """,
    })


def _with_aliases(oracles: dict[str, str]) -> dict[str, str]:
    # full-probe IVF is defined to equal brute force exactly, so it
    # shares sim_topk's oracle verbatim
    oracles["sim_topk_ivf_full"] = oracles["sim_topk"]
    # the Bloom dedup route (exact=True) is DEFINED to equal the
    # hash-join twin row-for-row — false positives are verified away,
    # negatives cannot be duplicates — so it shares the oracle
    oracles["paragraph_dedup_bloom"] = oracles["paragraph_dedup_bi"]
    oracles["url_dedup_bloom"] = oracles["url_dedup_bi"]
    # composite rows (see queries() for the row-budget rationale):
    # each absorbed single-row oracle is re-aliased and cross-joined,
    # mirroring the Spark-side crossJoin composition column-for-column
    oracles["sketches_all"] = f"""
        SELECT * FROM
          (SELECT n_exact AS hll_n_exact, within_bounds AS hll_within_bounds
           FROM ({oracles.pop("sketch_distinct")})) s1,
          (SELECT n_exact AS hh_n_exact, superset_ok AS hh_superset_ok,
                  no_undercount AS hh_no_undercount
           FROM ({oracles.pop("sketch_heavy_hitters")})) s2,
          (SELECT n_exact AS sm_n_exact, merged_equals_full AS sm_merged_equals_full,
                  no_undercount AS sm_no_undercount
           FROM ({oracles.pop("sketch_stream_merge")})) s3,
          (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS pr_n_users,
                  TRUE AS pr_cms_roundtrip, TRUE AS pr_bloom_mk_ok,
                  TRUE AS pr_bloom_probe_eq, TRUE AS pr_bloom_no_false_neg
           FROM events) s4
    """
    oracles["stream_eq_all"] = f"""
        SELECT * FROM
          (SELECT n_batch AS sess_n_batch, subset_ok AS sess_subset_ok,
                  coverage_ok AS sess_coverage_ok
           FROM ({oracles.pop("sessionize_stream_eq")})) e1,
          (SELECT n_batch AS cur_n_batch, stream_matches AS cur_stream_matches
           FROM ({oracles.pop("curate_stream_eq")})) e2,
          (SELECT n_batch AS ded_n_batch, stream_matches AS ded_stream_matches
           FROM ({oracles.pop("dedup_stream_eq")})) e3,
          (SELECT n_batch AS nb_n_batch, stream_matches AS nb_stream_matches
           FROM ({oracles.pop("curate_nb_stream_eq")})) e4
    """
    return oracles
