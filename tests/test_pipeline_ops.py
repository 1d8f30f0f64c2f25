"""Decontamination, repetition/balancing quality ops, and the as-of
join vs brute-force Python oracles (plus edge/degenerate inputs)."""

import datetime

from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.operators.asof import asof_join
from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate
from cs533_big_data_data_mining_spark.operators.quality import (
    balance_sources,
    repetition_stats,
)

# ------------------------------------------------------ decontaminate

BENCH_DOC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def test_decontaminate_flags_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, BENCH_DOC),                                # the benchmark doc itself
            (1, "prefix words then alpha beta gamma delta epsilon trailing bits"),  # shares one 5-gram
            (2, "totally unrelated content with no overlap at all whatsoever"),
            (3, "alpha beta gamma delta"),                 # < 5 tokens of overlap: no 5-gram
            (4, None),                                     # null text: keep
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 0")
    out = {r["id"]: (r["n_hits"], r["keep"]) for r in
           decontaminate(docs, bench, "doc_id", "text", n=5).collect()}
    assert out[0][0] == 6 and not out[0][1]      # 10 tokens -> 6 distinct 5-grams, all shared
    assert out[1][0] == 1 and not out[1][1]
    assert out[2] == (0, True)
    assert out[3] == (0, True)
    assert out[4] == (0, True)


def test_decontaminate_empty_benchmark(spark):
    docs = spark.createDataFrame([(0, BENCH_DOC)], "doc_id long, text string")
    bench = docs.filter("doc_id < 0")
    out = decontaminate(docs, bench, "doc_id", "text", n=5).collect()
    assert [(r["n_hits"], r["keep"]) for r in out] == [(0, True)]


def test_decontaminate_bloom_exactly_equals_plain(spark):
    # the Bloom-prefiltered path is output-identical (exact verify on
    # the surviving sliver) — on a corpus large enough for FPs to
    # occur in the prefilter yet never in the result
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.decontaminate import (
        decontaminate_bloom,
    )

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"w{j}_"), (F.col("id") % 37).cast("string")) for j in range(12)],
        ).alias("text"),
    )
    bench = docs.filter("doc_id % 37 = 0")
    plain = decontaminate(docs, bench, "doc_id", "text", n=5).collect()
    bloom = decontaminate_bloom(docs, bench, "doc_id", "text", n=5, fpp=0.2).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, bloom))
    # empty benchmark: everything keeps
    none = decontaminate_bloom(docs, bench.filter("doc_id < 0"), "doc_id", "text").collect()
    assert all(r["keep"] and r["n_hits"] == 0 for r in none) and len(none) == 300


def test_bloom_filter_guarantees(spark):
    # membership: never a false negative; non-members: FP rate near
    # the configured fpp (generous bound, deterministic hashing)
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import bloom_build

    members = spark.range(2000).select(F.concat(F.lit("m"), F.col("id")).alias("v"))
    bloom = bloom_build(members, "v", fpp=0.01)
    assert members.filter(bloom.might_contain("v")).count() == 2000
    others = spark.range(20_000).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    fp = others.filter(bloom.might_contain("v")).count()
    assert fp / 20_000 < 0.05, fp


def test_bloom_might_contain_any_edges(spark):
    # the segmented-reduce kernel: null array, empty array, all-miss,
    # one-hit-among-misses, all-hit — and brute-force agreement with
    # the scalar might_contain on every element
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import bloom_build

    members = spark.range(500).select(F.concat(F.lit("m"), F.col("id")).alias("v"))
    bloom = bloom_build(members, "v", fpp=0.001)
    rows = [
        (0, None),
        (1, []),
        (2, ["zz1", "zz2", "zz3"]),
        (3, ["zz1", "m250", "zz2"]),
        (4, ["m0", "m1"]),
        (5, ["zz9"]),
        (6, ["m499"]),
    ]
    df = spark.createDataFrame(rows, "id long, arr array<string>")
    got = {r["id"]: r["hit"] for r in df.select("id", bloom.might_contain_any("arr").alias("hit")).collect()}
    # elementwise truth via the scalar probe (no FP assumptions needed
    # for members; non-members could FP, so compute expected from the
    # scalar probe itself)
    elem = df.select("id", F.explode("arr").alias("e")).select(
        "id", bloom.might_contain("e").alias("h")
    )
    exp = {r["id"]: r["any(h)"] for r in elem.groupBy("id").agg(F.expr("any(h)")).collect()}
    exp.setdefault(0, False)
    exp.setdefault(1, False)
    assert got == {i: bool(exp.get(i, False)) for i in range(7)}
    assert got[3] is True and got[4] is True and got[6] is True
    assert got[0] is False and got[1] is False


# --------------------------------------------------- repetition_stats


def test_repetition_stats_values(spark):
    docs = spark.createDataFrame(
        [
            (0, "a a a a"),            # 4 tokens, 1 distinct; 2-grams: 'a a' x3
            (1, "w x y z"),            # all distinct; each 2-gram unique
            (2, "one"),                # 1 token: no 2-grams -> null fraction
            (3, None),                 # null text -> all null
            (4, ""),                   # empty: tokenize -> [] -> 0 tokens, null ratios
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert rows[0]["n_tokens"] == 4
    assert rows[0]["distinct_ratio"] == 0.25
    assert rows[0]["top_token_frac"] == 1.0
    assert rows[0]["top_2gram_frac"] == 1.0
    assert rows[1]["distinct_ratio"] == 1.0
    assert rows[1]["top_token_frac"] == 0.25
    assert rows[1]["top_2gram_frac"] == round(1 / 3, 6)
    assert rows[2]["n_tokens"] == 1 and rows[2]["top_2gram_frac"] is None
    assert rows[3]["n_tokens"] is None and rows[3]["distinct_ratio"] is None
    assert rows[4]["n_tokens"] == 0 and rows[4]["distinct_ratio"] is None


# ---------------------------------------------------- balance_sources


def test_balance_sources_cap_and_determinism(spark):
    rows = [(i, f"s{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = balance_sources(docs, "doc_id", "source", cap=4)
    got = out.collect()
    per_src = {}
    for r in got:
        per_src.setdefault(r["source"], []).append(r["id"])
    assert all(len(v) == 4 for v in per_src.values())
    assert {r["rk"] for r in got} == {1, 2, 3, 4}
    # deterministic across runs and partitionings
    again = balance_sources(docs.repartition(7), "doc_id", "source", cap=4).collect()
    assert sorted((r["id"], r["rk"]) for r in got) == sorted((r["id"], r["rk"]) for r in again)


def test_quantile_filter_exact_and_ties(spark):
    from cs533_big_data_data_mining_spark.operators.quality import quantile_filter

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, s double")
    kept = sorted(r["id"] for r in quantile_filter(df, "s", keep_frac=0.3).collect())
    # 0.7-quantile of 0..9 = 6.3 -> keep scores >= 6.3 -> {7,8,9}
    assert kept == [7, 8, 9]
    # ties at the threshold all survive
    tied = spark.createDataFrame([(i, 1.0 if i < 8 else 2.0) for i in range(10)], "id long, s double")
    kept2 = sorted(r["id"] for r in quantile_filter(tied, "s", keep_frac=0.2).collect())
    assert kept2 == [8, 9]
    # approx path: GK returns an OBSERVED value at the quantile rank
    # (6.0, not the interpolated 6.3), so the kept set may include the
    # threshold element itself — never fewer than the exact set
    kept3 = sorted(r["id"] for r in quantile_filter(df, "s", keep_frac=0.3, exact=False).collect())
    assert set(kept3) >= {7, 8, 9} and kept3[0] >= 6


def test_balance_sources_under_cap_keeps_all(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
    assert balance_sources(docs, "doc_id", "source", cap=10).count() == 3


def test_sample_sources_deterministic_and_independent(spark):
    # survivors are identical across partitionings, fraction 0 kills a
    # source, unlisted sources keep everything, and re-listing a new
    # source never changes which OLD rows survive (per-row decisions)
    from cs533_big_data_data_mining_spark.operators.quality import sample_sources

    docs = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(400)], "doc_id long, source string"
    )
    kept = sample_sources(docs, "doc_id", "source", {"s0": 0.5, "s1": 0.0})
    rows = sorted((r["id"], r["source"]) for r in kept.collect())
    again = sorted(
        (r["id"], r["source"])
        for r in sample_sources(
            docs.repartition(7), "doc_id", "source", {"s0": 0.5, "s1": 0.0}
        ).collect()
    )
    assert rows == again
    by_src = {}
    for _id, s in rows:
        by_src.setdefault(s, []).append(_id)
    assert "s1" not in by_src                       # fraction 0
    assert len(by_src["s2"]) == len(by_src["s3"]) == 100  # unlisted keep all
    assert 20 <= len(by_src["s0"]) <= 80            # ~half, hash-dependent
    # independence: adding a fraction for s2 leaves s0's survivors alone
    with_s2 = sample_sources(docs, "doc_id", "source", {"s0": 0.5, "s1": 0.0, "s2": 0.3})
    s0_new = sorted(r["id"] for r in with_s2.filter("source = 's0'").collect())
    assert s0_new == sorted(by_src["s0"])


def test_quantile_filter_by_per_group_thresholds(spark):
    # each group gets its own threshold: a global one would keep no
    # rows of the low-scoring group
    from cs533_big_data_data_mining_spark.operators.quality import quantile_filter_by

    rows = [(i, "hi", float(100 + i)) for i in range(10)] + [
        (i + 10, "lo", float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, s double")
    kept = quantile_filter_by(df, "s", 0.3, "grp")
    by_grp = {}
    for r in kept.collect():
        by_grp.setdefault(r["grp"], []).append(r["id"])
    # 0.7-quantile of each group's 0..9 span = 6.3 -> ids 7,8,9 survive
    assert sorted(by_grp["hi"]) == [7, 8, 9]
    assert sorted(by_grp["lo"]) == [17, 18, 19]
    # approx path keeps at least the exact survivors
    approx = quantile_filter_by(df, "s", 0.3, "grp", exact=False)
    got = {(r["grp"], r["id"]) for r in approx.collect()}
    assert {("hi", 7), ("hi", 8), ("hi", 9), ("lo", 17), ("lo", 18), ("lo", 19)} <= got


def test_quantile_filter_by_null_group_survives(spark):
    # a NULL group is a group: its own threshold applies; the
    # null-group slice must not vanish through the join
    from cs533_big_data_data_mining_spark.operators.quality import quantile_filter_by

    rows = [(i, None, float(i)) for i in range(10)] + [(i + 10, "g", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, grp string, s double")
    kept = quantile_filter_by(df, "s", 0.3, "grp").collect()
    by_grp = {}
    for r in kept:
        by_grp.setdefault(r["grp"], []).append(r["id"])
    assert sorted(by_grp[None]) == [7, 8, 9]
    assert sorted(by_grp["g"]) == [17, 18, 19]


def test_heavy_hitters_truncated_threshold_boundary(spark):
    # an item whose count equals int(total*frac) but is spread so its
    # local share never reaches frac exactly: the integer cross-
    # multiplied candidate rule must still surface it (the float-
    # boundary regression the round-6 review caught)
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import heavy_hitters

    # total=1000, frac=0.02 -> thr=int(20.000000000000004)=20; "edge"
    # appears exactly 20 times spread over the corpus. The exact-
    # integer rule (k*total >= thr*n) holds under ANY partitioning
    # when global count == thr; the old float rule (k >= 0.02*n) lost
    # it to 5.000000000000001 > 5.
    rows = []
    for p in range(4):
        rows += [("edge",)] * 5 + [(f"filler_{p}_{i}",) for i in range(245)]
    for parts in (1, 4, 7):
        df = spark.createDataFrame(rows, "v string").repartition(parts)
        hh = {r["item"] for r in heavy_hitters(df, "v", 0.02, depth=4, width=4096).collect()}
        assert "edge" in hh, parts
    # header in 3 docs removed at max_doc_df=2; per-doc body kept in
    # ORDER; within-doc repeats count once toward doc frequency; null
    # text stays null; all-boilerplate doc becomes empty string
    from cs533_big_data_data_mining_spark.operators.quality import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "HEADER\nbody one a\nbody one b"),
            (2, "HEADER\nbody two\nHEADER"),      # repeat in ONE doc: df still 3
            (3, "HEADER"),                         # all lines boilerplate -> ""
            (4, "solo line"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r["clean"]
        for r in remove_boilerplate_lines(docs, "doc_id", "text", max_doc_df=2).collect()
    }
    assert got[1] == "body one a\nbody one b"
    assert got[2] == "body two"
    assert got[3] == ""
    assert got[4] == "solo line"
    assert got[5] is None
    # at threshold >= doc frequency the header survives everywhere
    kept = {
        r["id"]: r["clean"]
        for r in remove_boilerplate_lines(docs, "doc_id", "text", max_doc_df=3).collect()
    }
    assert kept[3] == "HEADER" and kept[1].startswith("HEADER\n")


def test_balance_sources_prefilter_identity_dominant_source(spark):
    # one source holds 90% of the rows — the shape where the plain
    # window sorts everything in one task; the histogram prefilter
    # must produce the IDENTICAL survivor set
    from pyspark.sql import functions as F

    n = 20_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("megacrawl"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string")))
        .alias("source"),
    )
    fast = balance_sources(docs, "doc_id", "source", cap=50, prefilter=True).collect()
    slow = balance_sources(docs, "doc_id", "source", cap=50, prefilter=False).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert len(fast) == 50 * 8  # megacrawl + s0..s6 all over cap


def test_admission_prefilter_bounds_and_superset(spark):
    # the prefilter admits a prefix-closed SUPERSET of the top-cap and
    # cuts the dominant source to ~cap + n/buckets rows (the property
    # that removes the single-task mega-sort at 100 TB)
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.quality import _admission_prefilter

    n, cap, buckets = 50_000, 20, 256
    base = spark.range(n).select(
        F.col("id").alias("id"),
        F.lit("mega").alias("source"),
        F.xxhash64(F.col("id")).alias("_pri"),
    )
    admitted = _admission_prefilter(base, cap, buckets)
    n_adm = admitted.count()
    # bucket widths are equi-width over a ~uniform hash: the cutoff
    # bucket holds ~n/buckets rows; 5x slack keeps the bound honest
    # without flaking
    assert cap <= n_adm <= cap + 5 * (n // buckets)
    # superset of the true top-cap by (pri, id)
    top = {r["id"] for r in base.orderBy("_pri", "id").limit(cap).collect()}
    got = {r["id"] for r in admitted.collect()}
    assert top <= got


def test_balance_sources_null_priority_rows_survive(spark):
    # null priorities sort first; the prefilter must never drop them
    from pyspark.sql import functions as F

    docs = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit("a").alias("source"))
    pri = F.when(F.col("doc_id") < 3, F.lit(None).cast("long")).otherwise(
        F.xxhash64(F.col("doc_id"))
    )
    out = balance_sources(docs, "doc_id", "source", cap=5, priority=pri).collect()
    kept = {r["id"] for r in out}
    assert {0, 1, 2} <= kept and len(out) == 5


# ----------------------------------------------------------- asof_join


def _ts(m, s=0):
    return datetime.datetime(2024, 1, 1, 0, m, s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (100, 1, _ts(10)),   # matches click 11 (newest at-or-before)
            (101, 1, _ts(3)),    # before any click -> null
            (102, 1, _ts(5)),    # same instant as click 11 -> inclusive match
            (103, 2, _ts(30)),   # other user, matches its own click only
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, 1, _ts(4), 1.0),
            (11, 1, _ts(5), 2.0),
            (12, 1, _ts(11), 3.0),   # after every purchase of user 1
            (20, 2, _ts(29), 4.0),
            (21, 3, _ts(1), 5.0),    # user with no purchases
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: (r["m_event_id"], r["m_value"])
        for r in asof_join(
            left, right, "user_id", "ts", "event_id", ["event_id", "value"], prefix="m_"
        ).collect()
    }
    assert out[100] == (11, 2.0)
    assert out[101] == (None, None)
    assert out[102] == (11, 2.0)
    assert out[103] == (20, 4.0)


def test_asof_join_tie_among_right_rows(spark):
    # two right rows at the same ts: the larger order_col wins, and
    # BOTH payload fields come from that same row (struct carry)
    left = spark.createDataFrame([(1, 7, _ts(10))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(50, 7, _ts(9), 1.0), (51, 7, _ts(9), 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    r = asof_join(left, right, "user_id", "ts", "event_id", ["event_id", "value"]).head()
    assert (r["r_event_id"], r["r_value"]) == (51, 2.0)


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame([(1, 7, _ts(1))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double"
    )
    r = asof_join(left, right, "user_id", "ts", "event_id", ["event_id", "value"]).collect()
    assert len(r) == 1 and r[0]["r_event_id"] is None


def test_pack_sequences_offsets(spark):
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e"), (4, ""), (5, "f g h i")],
        "doc_id long, text string",
    )
    cnt = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    rows = {r["id"]: r for r in pack_sequences(docs, "doc_id", 4, count_expr=cnt).collect()}
    # id order: 1(3 toks) 2(0) 3(2) 4(0) 5(4) -> offsets 0,3,3,5,5
    assert [rows[i]["start_offset"] for i in (1, 2, 3, 4, 5)] == [0, 3, 3, 5, 5]
    assert (rows[1]["bin_start"], rows[1]["bin_end"]) == (0, 0)
    assert (rows[3]["bin_start"], rows[3]["bin_end"]) == (0, 1)   # spans the 4-token boundary
    assert (rows[5]["bin_start"], rows[5]["bin_end"]) == (1, 2)
    # partition-count invariance of the distributed prefix sum
    again = {
        r["id"]: r["start_offset"]
        for r in pack_sequences(docs.repartition(5), "doc_id", 4, count_expr=cnt).collect()
    }
    assert again == {i: rows[i]["start_offset"] for i in rows}


def test_redact_pii(spark):
    from cs533_big_data_data_mining_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org now"),
            (2, "see https://x.io/p?q=1 and http://y.z/"),
            (3, "call 555-123-4567 or 555.987.6543"),
            (4, "host 192.168.0.1 up"),
            (5, "clean text stays untouched"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["c"] for r in df.select("id", redact_pii("text").alias("c")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "see <URL> and <URL>"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "host <IP> up"
    assert got[5] == "clean text stays untouched"


def test_knn_classify_majority_and_ties(spark):
    from cs533_big_data_data_mining_spark.operators.similarity import knn_classify

    # 2-D embeddings: two tight clusters on the axes; labels follow
    # clusters except one flipped corpus point, which majority vote
    # overrules
    rows = [
        (0, [1.0, 0.05], 7), (1, [1.0, 0.1], 7), (2, [1.0, 0.0], 7), (3, [0.9, 0.1], 3),
        (10, [0.05, 1.0], 9), (11, [0.1, 1.0], 9), (12, [0.0, 0.9], 9), (13, [0.1, 0.9], 9),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        r["query_id"]: (r["pred_label"], r["votes"])
        for r in knn_classify(emb, emb.filter("vec_id IN (0, 10)"), k=3).collect()
    }
    assert out[0] == (7, 2)    # neighbors 1,2,3 -> labels 7,7,3
    assert out[10] == (9, 3)
    # tie-break: equal votes -> smallest label (neighbors are 2 then
    # 1; one vote each for labels 5 and 8)
    tie = spark.createDataFrame(
        [(0, [1.0, 0.0], 9), (1, [1.0, 0.01], 8), (2, [0.99, 0.0], 5)],
        "vec_id long, embedding array<double>, label int",
    )
    r = knn_classify(tie, tie.filter("vec_id = 0"), k=2).head()
    assert r["pred_label"] == 5 and r["votes"] == 1


def test_label_centroids_exact_and_partition_invariant(spark):
    from cs533_big_data_data_mining_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], 1), (1, [3.0, 4.0], 1), (2, [10.0, 0.5], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r["label"], r["pos"]): (r["centroid"], r["n"]) for r in label_centroids(emb).collect()}
    assert got[(1, 0)] == (2.0, 2) and got[(1, 1)] == (3.0, 2)
    assert got[(2, 0)] == (10.0, 1) and got[(2, 1)] == (0.5, 1)
    again = {
        (r["label"], r["pos"]): (r["centroid"], r["n"])
        for r in label_centroids(emb.repartition(5)).collect()
    }
    assert got == again


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark side must reach the corpus scan as a broadcast
    # (the corpus is never shuffled on content at 100 TB)
    docs = spark.createDataFrame([(0, BENCH_DOC), (1, "x y z a b c d")], "doc_id long, text string")
    out = decontaminate(docs, docs.filter("doc_id = 0"), "doc_id", "text", n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the shingle join builds the benchmark side as a broadcast; the
    # remaining joins (hits -> base left outer) are narrow-id equi-
    # joins, fine as shuffle joins at scale
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_no_serial_stage(spark):
    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame([(i, "a b c") for i in range(50)], "doc_id long, text string")
    out = pack_sequences(docs, "doc_id", 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the prefix sum must not funnel all rows through one task: the
    # window is keyed on the partition id, never a global sort
    assert "Exchange SinglePartition" not in plan


def test_asof_join_is_single_shuffle(spark):
    # plan shape: the union + window construction shuffles ONCE on the
    # key — no join node, no cartesian
    left = spark.createDataFrame([(1, 7, _ts(1))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(2, 7, _ts(0), 1.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    out = asof_join(left, right, "user_id", "ts", "event_id", ["event_id", "value"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(30)), (2, 7, _ts(31))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(50, 7, _ts(29), 1.0), (51, 7, _ts(5), 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r["r_event_id"]
        for r in asof_join(
            left, right, "user_id", "ts", "event_id", ["event_id", "value"],
            tolerance="90 seconds",
        ).collect()
    }
    assert out[1] == 50          # 60s old: within tolerance
    assert out[2] is None        # 120s old: match exists but is too stale


# -------------------------------------------------- scale-join toolkit


def test_salted_join_equals_plain_join(spark):
    from cs533_big_data_data_mining_spark.operators.joins import salted_join

    # skewed large side: 80% of rows share key 0
    large = spark.createDataFrame(
        [(i, 0 if i % 5 else i % 3) for i in range(200)], "id long, k long"
    )
    small = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")], "k long, name string")
    got = sorted(
        (r["id"], r["k"], r["name"]) for r in salted_join(large, small, "k", salt=4).collect()
    )
    want = sorted((r["id"], r["k"], r["name"]) for r in large.join(small, "k").collect())
    assert got == want
    # left join keeps unmatched large rows
    small2 = small.filter("k = 0")
    got_l = sorted(
        (r["id"], r["name"]) for r in salted_join(large, small2, "k", salt=4, how="left").collect()
    )
    want_l = sorted((r["id"], r["name"]) for r in large.join(small2, "k", "left").collect())
    assert got_l == want_l


def test_salted_join_salt_cols_spread_duplicate_rows(spark):
    # a large side of IDENTICAL rows defeats the whole-row default
    # salt (every duplicate hashes to the same bucket — documented
    # caveat); salting on a unique column restores the spread while
    # keeping row identity with the plain join
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.joins import salted_join

    large = spark.createDataFrame([(i, 0) for i in range(100)], "id long, k long")
    dup = large.select(F.lit(7).alias("id"), "k")  # 100 identical rows
    small = spark.createDataFrame([(0, "zero")], "k long, name string")
    # row-identity holds for both salt choices
    for sc in (None, ["id"]):
        got = sorted(
            (r["id"], r["name"])
            for r in salted_join(large, small, "k", salt=4, salt_cols=sc).collect()
        )
        assert got == sorted((r["id"], r["name"]) for r in large.join(small, "k").collect())
    # the degenerate duplicate-row input still returns correct rows
    assert salted_join(dup, small, "k", salt=4).count() == 100
    # whole-row salt of identical rows collapses to ONE value; a
    # unique salt column yields the full spread
    one = dup.withColumn(
        "__s", F.pmod(F.xxhash64(*[F.col(c) for c in dup.columns]), F.lit(4))
    )
    assert one.select("__s").distinct().count() == 1
    spread = large.withColumn("__s", F.pmod(F.xxhash64(F.col("id")), F.lit(4)))
    assert spread.select("__s").distinct().count() == 4


def test_local_heavy_candidates_superset_and_bounded(spark):
    # per-partition local-frequency candidates: superset of the true
    # heavy hitters under any partitioning, bounded by
    # partitions/threshold_frac items, NO full-cardinality shuffle
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import (
        _local_heavy_candidates,
        heavy_hitters,
    )

    rows = [("hot",)] * 400 + [("warm",)] * 150 + [(f"cold{i}",) for i in range(450)]
    df = spark.createDataFrame(rows, "v string").repartition(7)
    cands = {
        r["__item"] for r in _local_heavy_candidates(df, F.col("v"), 100, 1000).collect()
    }
    assert {"hot", "warm"} <= cands           # true hitters (40%, 15%)
    assert len(cands) <= 7 * 10               # <= partitions * total/thr
    hh = {r["item"] for r in heavy_hitters(df, "v", 0.1, depth=4, width=1024).collect()}
    assert {"hot", "warm"} <= hh
    assert not any(k.startswith("cold") for k in hh)


def test_local_heavy_candidates_misra_gries_cap(spark):
    # High-cardinality partition: the Misra-Gries summary emits at
    # most cap = 2*ceil(total/thr) candidates per partition no matter
    # how many distinct values flow through (the round-6 exact dict
    # held all of them), and the planted hitter still survives.
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import _local_heavy_candidates

    n_cold, n_hot = 20_000, 3_000
    total = n_cold + n_hot
    thr = int(total * 0.1)  # cap = 2*ceil(23000/2300) = 20
    df = (
        spark.range(n_cold)
        .select(F.concat(F.lit("c"), F.col("id")).alias("v"))
        .union(spark.range(n_hot).select(F.lit("hot").alias("v")))
        .coalesce(1)
    )
    cands = {r["__item"] for r in _local_heavy_candidates(df, F.col("v"), thr, total).collect()}
    assert "hot" in cands
    assert len(cands) <= 2 * -(-total // thr)


def test_bucketed_join_is_exchange_free(spark):
    from cs533_big_data_data_mining_spark.operators.joins import bucketed_join, write_bucketed

    a = spark.createDataFrame([(i, i * 10) for i in range(100)], "k long, va long")
    b = spark.createDataFrame([(i, i * 100) for i in range(0, 100, 2)], "k long, vb long")
    write_bucketed(a, "t_bkt_a", "k", 4)
    write_bucketed(b, "t_bkt_b", "k", 4)
    # force the non-broadcast planner path: broadcast joins ignore
    # bucketing (tiny test tables would otherwise broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "t_bkt_a", "t_bkt_b", "k")
        assert j.count() == 50
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the whole point: no shuffle on either side
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_profile_numeric_with_nulls_and_approx(spark):
    from cs533_big_data_data_mining_spark.operators.profile import profile_numeric

    df = spark.createDataFrame(
        [(1.0, 10), (2.0, None), (2.0, 30), (None, 40)], "a double, b int"
    )
    rows = {r["column"]: r for r in profile_numeric(df, ["a", "b"]).collect()}
    ra, rb = rows["a"], rows["b"]
    assert (ra["n"], ra["n_null"], ra["n_distinct"]) == (4, 1, 2)
    assert (ra["vmin"], ra["vmax"], ra["vmean"]) == (1.0, 2.0, round(5.0 / 3, 6))
    assert (rb["n"], rb["n_null"], rb["n_distinct"]) == (4, 1, 3)
    assert rb["vmean"] == round(80 / 3, 6)
    # all-null column: mean is null, min/max null
    dn = spark.createDataFrame([(None,), (None,)], "c double")
    rc = profile_numeric(dn, ["c"]).head()
    assert rc["n_null"] == 2 and rc["vmean"] is None and rc["vmin"] is None
    # approx mode: distinct within HLL error, everything else exact
    rapx = {r["column"]: r for r in profile_numeric(df, ["a"], approx_distinct=True).collect()}
    assert abs(rapx["a"]["n_distinct"] - 2) <= 1 and rapx["a"]["vmean"] == ra["vmean"]


def test_check_expectations(spark):
    from cs533_big_data_data_mining_spark.operators.profile import check_expectations

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id long, v double"
    )
    out = {r["rule"]: (r["n_violations"], r["ok"]) for r in check_expectations(
        df, {"v_positive": F.col("v") > 0, "id_nonnull": F.col("id").isNotNull()}
    ).collect()}
    # null predicate result counts as a violation
    assert out["v_positive"] == (2, False)
    assert out["id_nonnull"] == (0, True)
    assert check_expectations(df, {}).count() == 0
    from cs533_big_data_data_mining_spark.operators.profile import profile_numeric
    assert profile_numeric(df, []).count() == 0


def test_assign_split_deterministic_and_weighted(spark):
    from cs533_big_data_data_mining_spark.operators.quality import assign_split

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    got = {r["id"]: r["split"] for r in assign_split(docs, "doc_id").collect()}
    # reproducible across partitionings AND across corpus versions:
    # a doc keeps its split when other docs are added/removed
    again = {
        r["id"]: r["split"]
        for r in assign_split(docs.filter("doc_id % 2 = 0").repartition(7), "doc_id").collect()
    }
    assert all(got[i] == again[i] for i in again)
    from collections import Counter
    frac = Counter(got.values())
    assert 0.8 < frac["train"] / 2000 < 0.97
    assert frac["train"] + frac["val"] + frac["test"] == 2000
    # single split degenerates cleanly
    one = assign_split(docs, "doc_id", weights={"all": 1.0}).select("split").distinct().collect()
    assert [r["split"] for r in one] == ["all"]


def test_funnel_stages_order_matters(spark):
    from cs533_big_data_data_mining_spark.operators.funnel import funnel_stages

    rows = [
        # user 1: full ordered conversion
        (1, 1, _ts(1), "view"), (2, 1, _ts(2), "click"), (3, 1, _ts(3), "purchase"),
        # user 2: purchase BEFORE view/click -> order blocks it at 2
        (4, 2, _ts(1), "purchase"), (5, 2, _ts(2), "view"), (6, 2, _ts(3), "click"),
        # user 3: never viewed
        (7, 3, _ts(1), "click"), (8, 3, _ts(2), "purchase"),
        # user 4: repeated steps don't over-advance
        (9, 4, _ts(1), "view"), (10, 4, _ts(2), "view"), (11, 4, _ts(3), "click"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: r["stage"] for r in
           funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert got == {1: 3, 2: 2, 3: 0, 4: 2}
    # tie at the same ts resolves by order_col: click(order 2) counts
    # after view(order 1) at the same instant
    tie = spark.createDataFrame(
        [(1, 9, _ts(5), "view"), (2, 9, _ts(5), "click")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    assert funnel_stages(tie, ["view", "click"]).head()["stage"] == 2


def test_round5_op_edge_cases(spark):
    import pytest

    from cs533_big_data_data_mining_spark.operators.funnel import funnel_stages
    from cs533_big_data_data_mining_spark.operators.joins import salted_join

    eev = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, event_type string")
    assert funnel_stages(eev, ["view"]).count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        funnel_stages(eev, [])
    # user with zero matching steps still appears at stage 0
    one = spark.createDataFrame(
        [(1, 5, _ts(1), "error")], "event_id long, user_id long, ts timestamp, event_type string"
    )
    assert funnel_stages(one, ["view", "click"]).head()["stage"] == 0

    l = spark.createDataFrame([(1, 2)], "id long, k long")
    r = spark.createDataFrame([(2, "x")], "k long, v string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(l, r, "k", how="full")
    # empty small side: inner empty, left keeps large rows with nulls
    er = spark.createDataFrame([], "k long, v string")
    assert salted_join(l, er, "k").count() == 0
    row = salted_join(l, er, "k", how="left").head()
    assert row["id"] == 1 and row["v"] is None


def test_lm_perplexity_manual(spark):
    """Hand-computed smoothed bigram scores; empty docs get NULLs."""
    import decimal
    import math

    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity

    docs = [(1, "the cat sat"), (2, "the cat ran"), (3, "zz qq"), (4, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.id: (r.n_tokens, r.avg_logp, r.ppl) for r in lm_perplexity(df).collect()}

    # vocab={the,cat,sat,ran,zz,qq} -> V=7 (incl. UNK), N=8
    t1 = [
        round(math.log(2.5 / 11.5), 9),   # P(the) unigram
        round(math.log(2.5 / 5.5), 9),    # P(cat|the)
        round(math.log(1.5 / 5.5), 9),    # P(sat|cat)
    ]
    s = sum(decimal.Decimal(f"{x:.9f}") for x in t1)
    avg = round(float(s) / 3, 6)
    assert rows[1] == (3, avg, round(math.exp(-avg), 6))
    assert rows[4] == (0, None, None)
    # doc2 shares the first two terms, differs only in the last bigram
    assert rows[2][0] == 3 and rows[2][1] == rows[1][1]  # same counts by symmetry

    # partition invariance: DECIMAL term sums are order-independent
    rows_p = {
        r.id: (r.n_tokens, r.avg_logp, r.ppl)
        for r in lm_perplexity(df.repartition(7)).collect()
    }
    assert rows_p == rows


def test_lm_perplexity_external_ref(spark):
    """Scoring against a separate reference corpus: documents made of
    reference-frequent words score lower perplexity than unseen-word
    documents."""
    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "xyzzy plugh frobozz quux")],
        "doc_id long, text string",
    )
    rows = {r.id: r.ppl for r in lm_perplexity(df, ref=ref).collect()}
    assert rows[1] < rows[2]


def test_lm_perplexity_alpha_validation(spark):
    import pytest

    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        lm_perplexity(df, alpha=0.0)


def test_contamination_spans(spark):
    """Span-level decontamination audit: exact token bounds of
    benchmark-overlapping regions; clean docs absent."""
    from cs533_big_data_data_mining_spark.operators.decontaminate import (
        contamination_spans,
    )

    bench_frag = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here then {bench_frag} and a clean tail follows after"),
            (2, "completely clean document with no overlap at all in any window"),
            (3, bench_frag),  # the benchmark text itself
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, f"q: {bench_frag} a: something")], "qid long, text string"
    )
    got = {
        (r.id, r.span_start, r.span_end, r.span_tokens)
        for r in contamination_spans(docs, bench, "doc_id", "text", n=5).collect()
    }
    # doc1: the 5-gram starts at token 4 -> span [4, 9)
    assert got == {(1, 4, 9, 5), (3, 0, 5, 5)}

    import pytest

    with pytest.raises(ValueError):
        contamination_spans(docs, bench, "doc_id", "text", n=0)


def test_retention_cohorts_manual(spark):
    """Hand-built cohorts: two first-day cohorts, known activity in
    later periods; offset 0 retention is exactly 1.0."""
    import datetime

    from cs533_big_data_data_mining_spark.operators.funnel import retention_cohorts

    d = lambda day, hour=0: datetime.datetime(2024, 1, day, hour)
    rows = [
        # cohort A (first event Jan 1): u1 active wk0+wk1, u2 only wk0
        (1, d(1)), (1, d(2)), (1, d(9)),
        (2, d(1, 5)),
        # cohort B (first event Jan 3): u3 active wk0 and wk2
        (3, d(3)), (3, d(17)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r.cohort_start), r.period_offset): (r.n_active, r.cohort_size, r.retention)
        for r in retention_cohorts(ev, period_days=7).collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-03", 0): (1, 1, 1.0),
        ("2024-01-03", 2): (1, 1, 1.0),
    }

    import pytest

    with pytest.raises(ValueError):
        retention_cohorts(ev, period_days=0)


def test_temperature_fractions(spark):
    """mC4-style temperature rebalancing: T=1 is identity (all 1.0),
    T>1 downweights the dominant source toward the flattened target,
    target_rows caps the expected total."""
    import pyspark.sql.functions as F

    from cs533_big_data_data_mining_spark.operators.quality import (
        sample_sources,
        temperature_fractions,
    )

    df = spark.range(10_000).select(
        "id",
        F.when(F.col("id") % 10 < 8, "big")
        .otherwise(F.when(F.col("id") % 2 == 0, "mid").otherwise("small"))
        .alias("src"),
    )
    # T=1: target == current mixture -> every source keeps 1.0
    f1 = temperature_fractions(df, "src", 1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in f1.values())

    # T=2 on shares (.8,.1,.1): sqrt-flattened targets ≈ (.577,.211,.211)
    f2 = temperature_fractions(df, "src", 2.0)
    assert f2["mid"] == 1.0 and f2["small"] == 1.0
    assert abs(f2["big"] - 0.3536) < 0.01
    kept = sample_sources(df, "id", "src", f2)
    shares = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tot = sum(shares.values())
    assert abs(shares["big"] / tot - 0.577) < 0.05

    # target_rows cap scales everything down
    f3 = temperature_fractions(df, "src", 2.0, target_rows=2000)
    n3 = sample_sources(df, "id", "src", f3).count()
    assert abs(n3 - 2000) < 150

    import pytest

    with pytest.raises(ValueError):
        temperature_fractions(df, "src", 0.0)


def test_contamination_spans_bloom_equals_plain(spark):
    """The bloom-prefiltered span route is output-identical to the
    broadcast route (every Bloom hit exactly verified)."""
    from cs533_big_data_data_mining_spark.operators.decontaminate import (
        contamination_spans,
    )

    frag = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"start words then {frag} trailing clean content here now"),
            (2, "fully clean words with no benchmark overlap in any position"),
            (3, f"{frag} {frag}"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, f"pre {frag} post")], "qid long, text string")
    plain = {
        tuple(r) for r in contamination_spans(docs, bench, "doc_id", "text", n=5).collect()
    }
    bloomed = contamination_spans(docs, bench, "doc_id", "text", n=5, bloom_fpp=0.01)
    assert {tuple(r) for r in bloomed.collect()} == plain
    bloomed.unpersist()

    # empty benchmark: no spans either way
    empty = spark.createDataFrame([], "qid long, text string")
    assert contamination_spans(docs, empty, "doc_id", "text", bloom_fpp=0.01).count() == 0
    assert contamination_spans(docs, empty, "doc_id", "text").count() == 0


def test_bloom_save_load_roundtrip(spark, tmp_path):
    """A reloaded Bloom filter probes bit-identically to the build —
    the cross-run benchmark-filter artifact."""
    from cs533_big_data_data_mining_spark.operators.sketches import (
        BloomFilter,
        bloom_build,
    )

    items = spark.createDataFrame(
        [(f"member-{i}",) for i in range(500)], "v string"
    )
    bloom = bloom_build(items, "v", fpp=0.01)
    path = str(tmp_path / "bench_bloom.parquet")
    bloom.save(spark, path)
    loaded = BloomFilter.load(spark, path)
    assert (loaded.m, loaded.k) == (bloom.m, bloom.k)

    probe = spark.createDataFrame(
        [(f"member-{i}",) for i in range(500)]
        + [(f"absent-{i}",) for i in range(500)],
        "v string",
    )
    a = probe.select("v", bloom.might_contain("v").alias("hit")).collect()
    b = probe.select("v", loaded.might_contain("v").alias("hit")).collect()
    assert {(r.v, r.hit) for r in a} == {(r.v, r.hit) for r in b}
    # no false negatives
    assert all(r.hit for r in b if r.v.startswith("member-"))


def test_bloom_save_sharded_write(spark, tmp_path, monkeypatch):
    """Above the per-chunk word bound the save shards into multiple
    Parquet files (no single-task write) and still round-trips
    bit-identically. Bound lowered via monkeypatch — save() reads the
    module constant driver-side."""
    import glob

    from cs533_big_data_data_mining_spark.operators import sketches as sk

    items = spark.createDataFrame([(f"m{i}",) for i in range(2000)], "v string")
    bloom = sk.bloom_build(items, "v", fpp=0.01)  # m/64 ~ 300 words
    monkeypatch.setattr(sk, "_WORDS_PER_CHUNK", 64)
    path = str(tmp_path / "bloom_sharded.parquet")
    bloom.save(spark, path)
    assert len(glob.glob(f"{path}/part-*")) > 1  # sharded, not coalesce(1)
    loaded = sk.BloomFilter.load(spark, path)
    assert (loaded.m, loaded.k) == (bloom.m, bloom.k)
    import numpy as np

    assert np.array_equal(
        np.asarray(loaded.words, dtype=np.int64), np.asarray(bloom.words, dtype=np.int64)
    )


def test_cms_save_load_and_merge(spark, tmp_path):
    """CMS persistence round-trips params and cells; two persisted
    day-sketches merged by cellwise sum estimate the union stream
    exactly like a single sketch over the concatenation."""
    import pyspark.sql.functions as F

    from cs533_big_data_data_mining_spark.operators.sketches import (
        cms_build,
        cms_estimates,
        cms_load,
        cms_save,
    )

    day1 = spark.createDataFrame([("a",)] * 6 + [("b",)] * 2, "v string")
    day2 = spark.createDataFrame([("a",)] * 3 + [("c",)] * 5, "v string")
    d, w = 4, 256
    p1, p2 = str(tmp_path / "cms1"), str(tmp_path / "cms2")
    cms_save(spark, cms_build(day1, "v", d, w), p1, d, w)
    cms_save(spark, cms_build(day2, "v", d, w), p2, d, w)

    s1, d1, w1 = cms_load(spark, p1)
    s2, d2, w2 = cms_load(spark, p2)
    assert (d1, w1) == (d2, w2) == (d, w)
    merged = (
        s1.unionByName(s2).groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    )
    items = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    got = {r.item: r.est for r in cms_estimates(items, "v", merged, d, w).collect()}
    full = cms_build(day1.unionByName(day2), "v", d, w)
    want = {r.item: r.est for r in cms_estimates(items, "v", full, d, w).collect()}
    assert got == want
    assert got["a"] >= 9 and got["b"] >= 2 and got["c"] >= 5  # never undercount


def test_cms_load_rejects_polluted_meta(spark, tmp_path):
    """A naive union+sum merge that forgot to filter d >= 0 doubles
    the d = -1 meta row; cms_load must fail loudly instead of probing
    with arbitrary params."""
    import pyspark.sql.functions as F
    import pytest

    from cs533_big_data_data_mining_spark.operators.sketches import (
        cms_build,
        cms_load,
        cms_save,
    )

    day = spark.createDataFrame([("a",)] * 4, "v string")
    d, w = 2, 64
    p = str(tmp_path / "cms_ok")
    cms_save(spark, cms_build(day, "v", d, w), p, d, w)
    raw = spark.read.parquet(p)
    # mistake 1: union two saved frames and sum WITHOUT filtering the
    # meta rows — they collapse on the (d, bucket) keys but c doubles
    bad_sum = str(tmp_path / "cms_bad_sum")
    raw.unionByName(raw).groupBy("d", "bucket").agg(F.sum("c").alias("c")).write.parquet(bad_sum)
    with pytest.raises(ValueError, match="checksum"):
        cms_load(spark, bad_sum)
    # mistake 2: plain union without the sum — duplicated meta rows
    bad_dup = str(tmp_path / "cms_bad_dup")
    raw.unionByName(raw).write.parquet(bad_dup)
    with pytest.raises(ValueError, match="meta row"):
        cms_load(spark, bad_dup)
    s, dd, ww = cms_load(spark, p)  # clean frame still loads
    assert (dd, ww) == (d, w)


def test_cms_load_accepts_legacy_single_meta(spark, tmp_path):
    """Artifacts saved by the pre-checksum cms_save (single d=-1 meta
    row) must still load — they are valid unmerged sketches with
    nothing to verify."""
    from cs533_big_data_data_mining_spark.operators.sketches import cms_build, cms_load

    ev = spark.createDataFrame([(i % 7,) for i in range(50)], "k long")
    sk = cms_build(ev, "k", depth=2, width=64)
    legacy = sk.select(
        F.col("d").cast("int"), F.col("bucket").cast("long"), F.col("c").cast("long")
    ).unionByName(
        spark.createDataFrame([(-1, 2, 64)], "d int, bucket long, c long")
    )
    legacy.write.parquet(str(tmp_path / "legacy_cms"))
    loaded, depth, width = cms_load(spark, str(tmp_path / "legacy_cms"))
    assert (depth, width) == (2, 64) and loaded.filter("d < 0").count() == 0


def test_fineweb_pipeline_flagship_contracts(spark, sf_dir, session_state):
    """The FineWeb-ordered flagship at sf0.001: stage survivor counts
    are monotone non-increasing in published order, every planted
    failure class is absent from the survivors, and the planted email
    is redacted in every surviving text. The unwrapped row (no
    ``_leakproof``) leaves the persistent RDDs and the CacheManager as
    it found them. (Exact value parity vs the composed SQL twin is the
    driver row's job.)"""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_fwp", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    before = session_state()
    out = mod._q_fineweb_pipeline(spark, sf_dir).collect()
    assert session_state() == before
    assert out, "pipeline produced no survivors"
    r0 = out[0]
    counts = [r0["n_url"], r0["n_lang"], r0["n_rep"], r0["n_gopher"], r0["n_dedup"], r0["n_c4"]]
    assert counts == sorted(counts, reverse=True)
    assert len(out) <= r0["n_c4"]
    for r in out:
        i = r["id"]
        # every plant residue must have been dropped at (or before)
        # its stage; near-dup plants may legitimately survive when
        # their id-1 partner died earlier, so they are not asserted
        assert i % mod.FWP_URL_MOD != mod.FWP_URL_RES
        assert i % mod.FWP_LANG_MOD != mod.FWP_LANG_RES
        assert i % mod.FWP_REP_MOD != mod.FWP_REP_RES
        assert i % mod.FWP_GOPHER_MOD != mod.FWP_GOPHER_RES
        assert i % mod.FWP_C4_MOD != mod.FWP_C4_RES
        assert i % mod.FWP_FW_MOD != mod.FWP_FW_RES
        assert "@mail.example.com" not in r["clean"]
        assert "<EMAIL>" in r["clean"]
