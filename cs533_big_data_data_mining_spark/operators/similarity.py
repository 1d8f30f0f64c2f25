"""Similarity search over embedding columns.

* ``cosine_topk_bruteforce`` — the exact baseline: a broadcast
  theta-join + window top-k. Right for query batches small enough to
  broadcast (the common "find neighbors of these K probes" shape);
  cost is |corpus| x |queries| JVM-side folds, no Python.
* ``ivf_index`` / ``ivf_topk`` — the scale path: IVF (inverted-file)
  partitioning. Corpus vectors are assigned to their nearest
  centroid once (linear scan over C centroids, broadcast); queries
  probe only the ``nprobe`` nearest centroid buckets, cutting the
  scanned fraction to ~nprobe/C with the usual recall trade-off.
  Centroids come from a deterministic seeded sample re-labeled by a
  k-means-style refinement pass (kept to ``iters`` rounds — each is
  one broadcast join + one groupBy).

All similarity math is the order-deterministic fold from
``functions/vector.py``; ties in top-k break by neighbor id, so
results are fully reproducible (the property every oracle check here
relies on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.vector import as_double_array, dot, norm2
from cs533_big_data_data_mining_spark.session import local_df


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
) -> DataFrame:
    """Exact top-k: ``(query_id, neighbor_id, cosine, rank)``.

    Queries are broadcast (small side); the corpus streams through
    one codegen'd projection — no shuffle until the final per-query
    top-k, which aggregates only k rows per query and partition.
    Self-matches (same id) are excluded.
    """
    # norms are per-VECTOR, not per-pair: computing them before the
    # join evaluates one fold per row instead of two extra folds per
    # (query x corpus) pair — same norm2 expression over the same
    # values, so every cosine is bit-identical to the fused form
    q = queries.select(
        F.col(query_id_col or id_col).alias("qid"),
        as_double_array(query_vec_col or vec_col).alias("qvec"),
    ).withColumn("qnorm", norm2("qvec"))
    c = corpus.select(F.col(id_col).alias("nid"), as_double_array(vec_col).alias("nvec")).withColumn(
        "nnorm", norm2("nvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
        .withColumn(
            "cosine",
            F.round(dot("qvec", "nvec") / (F.col("qnorm") * F.col("nnorm")), 6),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"), "cosine", "rank")
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification over the embedding column:
    ``(query_id, pred_label, votes)`` — each query labeled by the
    modal label of its k cosine neighbors (ties break to the smallest
    label; deterministic). The neighbor search is
    ``cosine_topk_bruteforce`` (broadcast queries, no shuffle until
    the per-query top-k); swap in ``ivf_topk`` for corpus-scale query
    sets. The vote is a groupBy on k*|queries| rows — negligible.
    """
    nn = cosine_topk_bruteforce(corpus, queries, k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).cast("long").alias("label")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


def label_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean embedding (class centroids / prototype vectors)
    as flat ``(label, pos, centroid, n)`` rows — ``pos`` is the
    0-based component index.

    One ``posexplode`` + one map-side-combinable groupBy on
    (label, pos): the canonical distributed centroid shape (the same
    partial-sum pass a Lloyd iteration makes, here SQL-visible).
    Components are summed as DECIMAL — exact, so the result is
    independent of partitioning/summation order and reproducible in
    the ANSI oracle — then divided in float64 and rounded to 6 dp.
    Pivot back to array form with ``collect_list(struct(pos, c))`` +
    ``array_sort`` when a vector column is needed.
    """
    e = emb.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(as_double_array(vec_col)).alias("pos", "v"),
    )
    return (
        e.groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(27,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("centroid"),
            "n",
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    max_block_pairs: int | None = 10_000,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — embedding-space
    near-dup detection, exact.

    Block nested-loop with BLAS: vectors are hash-assigned to
    ``ceil(N/block_rows)`` blocks, each block packed into one row
    (ids + unit-normalized matrix); the m*(m+1)/2 unordered block
    pairs fan out over the cluster and each task computes one
    X @ Y.T gram in NumPy. Shuffle volume is O(N*D) (the packing
    groupBy) + O(m^2 * block_rows * D) for the block-pair join —
    each task holds exactly two blocks, so memory is bounded by
    ``block_rows`` regardless of N.

    Scale gate (the dbscan skew-gate pattern): block-gram work is
    quadratic in m, so when m*(m+1)/2 exceeds ``max_block_pairs``
    the call auto-routes to ``lsh_neardup_pairs`` — banded
    random-hyperplane LSH that shuffles (band, key) signatures instead
    of block pairs, with exact cosine verification of candidates
    (precision 1.0; recall per the band analysis in its docstring).
    At the defaults (max_block_pairs=10_000, block_rows=4096) the gate
    trips at m=141 blocks ≈ **0.58 M vectors** — above that the result
    is no longer guaranteed exhaustive (recall < 1 is possible), and a
    ``UserWarning`` says so. Pass ``max_block_pairs=None`` to force
    the exact path regardless of size, or raise it to move the gate
    (cost grows as max_block_pairs * block_rows^2 dot products).
    """
    import math

    import numpy as np
    import pandas as pd

    # raw vectors ship to the kernel; normalization happens in NumPy
    # (one vectorized divide per block, not an interpreted SQL lambda)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    n = v.count()
    if n == 0:
        return df.sparkSession.createDataFrame([], "a long, b long, cosine double")
    m = max(1, math.ceil(n / block_rows))
    if max_block_pairs is not None and m * (m + 1) // 2 > max_block_pairs:
        import warnings

        warnings.warn(
            f"embedding_neardup_pairs: {n} vectors -> {m * (m + 1) // 2} block pairs "
            f"> max_block_pairs={max_block_pairs}; auto-routing to banded LSH "
            "(exact-verified candidates, recall < 1 possible). "
            "Pass max_block_pairs=None to force the exact path.",
            stacklevel=2,
        )
        return lsh_neardup_pairs(df, threshold, id_col=id_col, vec_col=vec_col, n_rows=n)

    packed = (
        v.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(m)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list("id").alias("ids"), F.collect_list("vec").alias("vecs"))
    )
    pairs = packed.join(
        packed.select(
            F.col("blk").alias("yblk"),
            F.col("ids").alias("yids"),
            F.col("vecs").alias("yvecs"),
        ),
        F.col("blk") <= F.col("yblk"),
    ).repartition(max(m * (m + 1) // 2, 1))

    return _block_gram_pairs(pairs, threshold)


def _block_gram_pairs(pairs: DataFrame, threshold: float, bipartite: bool = False) -> DataFrame:
    """Shared BLAS block-pair kernel: ``pairs`` rows hold two packed
    blocks (``blk, ids, vecs, yblk, yids, yvecs``); emits every
    cross-block id pair (a < b) with exact cosine >= threshold.
    Same-block rows (``blk == yblk``) dedup ordered pairs via a < b.
    ``bipartite=True``: the two blocks come from DIFFERENT corpora —
    every (x, y) pair is emitted as ``(a=x, b=y)`` with no reorder and
    no same-block dedup (only ``a != b``, the shared-id-means-same-doc
    convention of ``minhash_dedup_pairs_bipartite``)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _ltr_sq_norm(X):
        # left-to-right per-dim accumulation, same fold as the oracle
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for j in range(X.shape[1]):
            acc += X[:, j] * X[:, j]
        return np.sqrt(acc)

    def gram(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                xi = np.asarray(list(row.ids), dtype=np.int64)
                X = np.array(list(row.vecs), dtype=np.float64)
                yi = np.asarray(list(row.yids), dtype=np.int64)
                Y = np.array(list(row.yvecs), dtype=np.float64)
                # BLAS gram on normalized copies generates CANDIDATES
                # (margin = one rounding step below the threshold);
                # each candidate's reported cosine is then recomputed
                # with the oracle's exact left-to-right accumulation —
                # dot/(|a|*|b|), per-dim ascending — so a pair on a
                # 6th-decimal rounding boundary can't flip inclusion
                # vs the SQL twin.
                Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
                Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
                G = Xn @ Yn.T
                ii, jj = np.nonzero(G >= thr - 1e-6)
                a, b = xi[ii], yi[jj]
                if bipartite:
                    keep = a != b
                elif row.blk == row.yblk:
                    keep = a < b
                else:
                    keep = a != b
                ii, jj, a, b = ii[keep], jj[keep], a[keep], b[keep]
                Xc, Yc = X[ii], Y[jj]
                dotab = np.zeros(Xc.shape[0], dtype=np.float64)
                for j in range(Xc.shape[1]):
                    dotab += Xc[:, j] * Yc[:, j]
                c = np.round(dotab / (_ltr_sq_norm(Xc) * _ltr_sq_norm(Yc)), 6)
                final = c >= thr
                a, b, c = a[final], b[final], c[final]
                if bipartite:
                    lo, hi = a, b  # x-side stays a, y-side stays b
                else:
                    lo, hi = np.minimum(a, b), np.maximum(a, b)
                yield pd.DataFrame({"a": lo, "b": hi, "cosine": c})

    return pairs.mapInPandas(gram, "a long, b long, cosine double")


def _centroid_matrix(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    iters: int,
    seed: int,
):
    """k-means-lite centroid fit, driver-held result.

    Centroids are a C x D float64 matrix — kilobytes — so they live on
    the driver and are closure-broadcast into vectorized NumPy
    kernels. Each Lloyd round is ONE pass over the corpus
    (mapInPandas emitting per-batch partial sums, <= partitions*C
    rows collected), so the corpus is never joined against centroids
    row-by-row and no lineage chain builds up across rounds.
    Assignment ties break toward the lowest cid (np.argmax), keeping
    results partition-count invariant.
    """
    import numpy as np
    import pandas as pd

    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    rows = (
        c.withColumn("hk", F.xxhash64(F.lit(seed), "id")).orderBy("hk", "id").limit(n_centroids).collect()
    )
    C = np.array([list(r.vec) for r in rows], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    dims = C.shape[1]

    for _ in range(iters):
        Cmat = C

        def partial_sums(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["vec"]), dtype=np.float64)
                Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
                cid = np.argmax(Xn @ Cmat.T, axis=1)
                out = []
                for ci in np.unique(cid):
                    mask = cid == ci
                    out.append((int(ci), int(mask.sum()), Xn[mask].sum(axis=0).tolist()))
                yield pd.DataFrame(out, columns=["cid", "cnt", "vsum"])

        parts = c.mapInPandas(
            partial_sums, f"cid int, cnt long, vsum array<double>"
        ).collect()
        cnt = np.zeros(len(C))
        acc = np.zeros_like(C)
        for r in parts:
            cnt[r.cid] += r.cnt
            acc[r.cid] += np.asarray(r.vsum)
        nonempty = cnt > 0
        C = np.where(nonempty[:, None], acc / np.maximum(cnt, 1)[:, None], C)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C


def ivf_index(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: returns ``(centroids, assignments)``.

    centroids: (cid, cvec) — unit-norm, k-means-refined.
    assignments: (id, vec, cid) — one vectorized argmax pass.
    """
    C = _centroid_matrix(corpus, n_centroids, id_col, vec_col, iters, seed)
    spark = corpus.sparkSession
    cent = local_df(
        spark, [(i, C[i].tolist()) for i in range(len(C))], "cid int, cvec array<double>"
    )
    # ONE assignment kernel for fit-time and incremental use: the
    # exact-dup co-clustering guarantee (identical vector -> identical
    # cid, across the history/new boundary) holds because this IS the
    # same normalize/argmax/tie code path assign_to_centroids runs
    return cent, assign_to_centroids(corpus, cent, id_col=id_col, vec_col=vec_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest IVF buckets per
    query. Scanned work ~= nprobe/n_centroids of brute force.

    Pass ``index`` (the ``(centroids, assignments)`` pair from
    ``ivf_index``) to reuse a prebuilt index across query batches —
    otherwise one is built here with the same code path (no duplicated
    fit/assign kernels, one centroid fit per index).

    Physical shape: one query pass fans each query out to its nprobe
    buckets (centroids are driver-held, KB-scale), an equi-join on cid
    pairs queries with candidates, a codegen'd column fold scores the
    pairs (the SAME order-deterministic ``dot/norm2`` expressions as
    ``cosine_topk_bruteforce``, so with ``nprobe >= n_centroids`` the
    result is bit-identical to brute force — the oracle-checkable
    full-probe mode), and a per-query window takes the top k. Shuffles
    touch only (cid) keys + candidate rows — never the full cross
    product.
    """
    import numpy as np
    import pandas as pd

    if index is None:
        index = ivf_index(corpus, n_centroids, id_col, vec_col, iters=2, seed=seed)
    cent, assigned = index
    crows = sorted(cent.collect(), key=lambda r: r["cid"])  # KB-scale by design
    C = np.asarray([r["cvec"] for r in crows], dtype=np.float64)

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    qvec_type = q.schema["qvec"].dataType.simpleString()
    npb = int(nprobe)

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["qvec"]), dtype=np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ C.T
            top = np.argsort(-S, kind="stable", axis=1)[:, :npb]
            nq, width = len(pdf), top.shape[1]
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(), width),
                    "qvec": pdf["qvec"].iloc[np.repeat(np.arange(nq), width)].to_numpy(),
                    "cid": top.ravel().astype(np.int32),
                }
            )

    probes = q.mapInPandas(probe, f"qid long, qvec {qvec_type}, cid int")

    # per-vector norms computed BEFORE the cid join (one fold per
    # probe/corpus row, not two per candidate pair); the dot fold stays
    # per-pair. Same norm2 expression over the same values -> cosines
    # bit-identical to the fused form, so full-probe == brute force holds
    probes_n = probes.withColumn("qnorm", norm2(as_double_array("qvec")))
    assigned_n = assigned.withColumn("vnorm", norm2(as_double_array("vec")))
    paired = probes_n.join(assigned_n, "cid").filter(F.col("qid") != F.col("id"))
    qv, cv = as_double_array("qvec"), as_double_array("vec")
    scored = paired.select(
        "qid", "id", F.round(dot(qv, cv) / (F.col("qnorm") * F.col("vnorm")), 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("id").alias("neighbor_id"), "cosine", "rank")
    )


def ivf_save(index: tuple[DataFrame, DataFrame], path: str) -> None:
    """Persist an :func:`ivf_index` ``(centroids, assignments)`` pair
    to Parquet (``path/centroids``, ``path/assignments``) — the
    once-per-ingest-cycle artifact every incremental embedding flow
    reuses (:func:`semdedup_bipartite`, repeated :func:`ivf_topk`
    query batches, the ``ingest-shard`` CLI's ``--ivf-dir``). The
    save is the cluster-durable spelling of "compute the history
    index once": a daily shard job loads it instead of re-running
    the k-means fit + corpus argmax per shard. NOTE the assignments
    describe the history AS OF SAVE TIME — if the history corpus has
    grown since, reuse only the centroids and refresh with
    ``assign_to_centroids(current_history, centroids)`` (one argmax
    pass, no re-clustering; the ``ingest-shard`` CLI does exactly
    this), or stale history is silently never compared against."""
    base = path.rstrip("/")
    cent, assigned = index
    cent.write.mode("overwrite").parquet(f"{base}/centroids")
    assigned.write.mode("overwrite").parquet(f"{base}/assignments")


def ivf_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Inverse of :func:`ivf_save`: ``(centroids, assignments)`` read
    back from Parquet, schemas validated so a wrong/partial artifact
    fails loudly instead of mis-probing."""
    base = path.rstrip("/")
    cent = spark.read.parquet(f"{base}/centroids")
    assigned = spark.read.parquet(f"{base}/assignments")
    if not {"cid", "cvec"} <= set(cent.columns):
        raise ValueError(
            f"ivf_load({path!r}): centroids must have (cid, cvec), found {cent.columns}"
        )
    if not {"id", "vec", "cid"} <= set(assigned.columns):
        raise ValueError(
            f"ivf_load({path!r}): assignments must have (id, vec, cid), "
            f"found {assigned.columns}"
        )
    return cent, assigned


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int | None = None,
    bands: int = 16,
    seed: int = 42,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs via random-hyperplane (cosine) LSH —
    the banding scale path when even block-gram m^2 is too much.

    Signature: sign bits of X @ P.T for ``num_bits`` fixed Gaussian
    hyperplanes (deterministic seed; P is kilobytes, closure-shipped).
    Bands of r = num_bits/bands bits become equi-join keys, so
    candidate generation shuffles only (band, key) — never pairs.
    Candidates are verified with exact cosine (vectorized), so
    precision is 1.0; recall per pair at angle theta is
    1 - (1 - (1-theta/pi)^r)^bands.

    ``num_bits=None`` (default) sizes r TO THE CORPUS:
    r = max(8, ceil(log2 N) + 2), i.e. expected bucket occupancy
    N/2^r <= ~1/4. A fixed r is a quadratic trap at scale — r=8 gives
    only 256 keys per band, so 600k vectors mean ~2,300-row buckets
    and ~10^10 candidate pairs PER BAND; occupancy-targeted r keeps
    candidates ~O(N * bands). The recall trade-off is explicit: at
    r=22 a cosine-0.99 pair still collides somewhere with p ~1, a
    cosine-0.9 pair ~40% — raise ``bands`` (more, narrower bands at
    the same r) when hunting lower-similarity pairs. ``n_rows``
    skips the sizing count when the caller already knows it.
    Output matches ``embedding_neardup_pairs``: ``(a, b, cosine)``
    with a < b.
    """
    import math

    import numpy as np
    import pandas as pd

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    head = v.head()
    if head is None:
        return df.sparkSession.createDataFrame([], "a long, b long, cosine double")
    if num_bits is None:
        n = n_rows if n_rows is not None else v.count()
        r = max(8, int(math.ceil(math.log2(max(n, 2)))) + 2)
        num_bits = bands * r
    if num_bits % bands:
        raise ValueError("bands must divide num_bits")
    r = num_bits // bands
    dims = len(head["vec"])
    P = np.random.default_rng(seed).standard_normal((num_bits, dims))
    weights = (1 << np.arange(r, dtype=np.int64))

    def signatures(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["vec"]), dtype=np.float64)
            bits = (X @ P.T) >= 0  # (n, num_bits)
            n = len(pdf)
            keys = np.empty((n, bands), dtype=np.int64)
            for b in range(bands):
                keys[:, b] = bits[:, b * r : (b + 1) * r] @ weights
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "key": keys.ravel(),
                }
            )

    sigs = v.mapInPandas(signatures, "id long, band int, key long")
    l, rt = sigs.alias("l"), sigs.alias("r")
    cands = (
        l.join(
            rt,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )

    va = v.select(F.col("id").alias("a"), F.col("vec").alias("avec"))
    vb = v.select(F.col("id").alias("b"), F.col("vec").alias("bvec"))
    paired = cands.join(va, "a").join(vb, "b")
    thr = float(threshold)

    def score(batches):
        # the exact oracle fold: per-dim left-to-right accumulation on
        # the RAW vectors, dot/(|a|*|b|) — bit-identical to
        # embedding_neardup_pairs' verification step and the SQL twin,
        # so the two routes report the same cosine for a shared pair
        def ltr_dot(X, Y):
            acc = np.zeros(X.shape[0], dtype=np.float64)
            for j in range(X.shape[1]):
                acc += X[:, j] * Y[:, j]
            return acc

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array(list(pdf["avec"]), dtype=np.float64)
            B = np.array(list(pdf["bvec"]), dtype=np.float64)
            cos = np.round(ltr_dot(A, B) / (np.sqrt(ltr_dot(A, A)) * np.sqrt(ltr_dot(B, B))), 6)
            keep = cos >= thr
            yield pd.DataFrame(
                {"a": pdf["a"].to_numpy()[keep], "b": pdf["b"].to_numpy()[keep], "cosine": cos[keep]}
            )

    return paired.mapInPandas(score, "a long, b long, cosine double")


def semdedup_pairs(
    assignments: DataFrame,
    threshold: float,
    block_rows: int = 4096,
) -> DataFrame:
    """Within-cluster near-dup pairs ``(a, b, cosine)`` over IVF
    ``assignments`` (``id, vec, cid`` from :func:`ivf_index`) — the
    pair-generation stage of SemDeDup (Abbas et al., 2023,
    arXiv:2303.09540): only pairs sharing a cluster are examined, so
    the gram cost drops from one global N x N to C cluster-local
    grams while cross-cluster near-dups are (by design) never tested.

    Scale shape: per-cluster block count ``m_c = ceil(n_c /
    block_rows)`` comes from one tiny groupBy (C rows collected,
    broadcast back), so a skewed mega-cluster fans out over
    ``m_c*(m_c+1)/2`` block-pair tasks instead of one — task memory is
    bounded by ``block_rows`` regardless of cluster size, the same
    guarantee :func:`embedding_neardup_pairs` gives globally.
    """
    packed, mmap = _pack_by_cluster(assignments, block_rows)
    spark = assignments.sparkSession
    if packed is None:
        return spark.createDataFrame([], "a long, b long, cosine double")
    n_pairs = sum(m * (m + 1) // 2 for m in mmap.values())
    pairs = packed.join(
        packed.select(
            "cid",
            F.col("blk").alias("yblk"),
            F.col("ids").alias("yids"),
            F.col("vecs").alias("yvecs"),
        ),
        ["cid"],
    ).filter(F.col("blk") <= F.col("yblk")).repartition(max(n_pairs, 1))
    return _block_gram_pairs(pairs, threshold)


def semdedup(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    seed: int = 42,
    block_rows: int = 4096,
    keep: str = "min_id",
    probes: int = 1,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, find cosine
    near-dup pairs WITHIN each cluster only, group them transitively,
    keep one survivor per group. Returns surviving ``(id)`` rows.

    The clustering is the scale lever: the global all-pairs gram is
    replaced by C cluster-local ones (~N^2/C total work for balanced
    clusters), at the documented cost that a near-dup pair straddling
    a cluster boundary is never examined — identical vectors always
    co-cluster (same argmax, ties to the lowest cid), so exact
    duplicates are found with recall 1 regardless of C.

    ``keep`` selects the survivor per duplicate group:

    * ``"min_id"`` — deterministic minimum id (matches
      :func:`~..curate.curate_embeddings` semantics; oracle-friendly).
    * ``"far_from_centroid"`` — the paper's policy: keep the member
      LEAST similar to its cluster centroid (retains the most atypical
      exemplar; ties break to the lowest id). Deterministic given the
      fitted centroids. Each member scores against its PRIMARY
      (argmax) cluster's centroid — well-defined under multi-probe
      too.

    ``probes > 1`` bounds the documented cross-cluster miss: each
    vector additionally joins its top-``probes`` clusters for PAIR
    GENERATION only (:func:`assign_to_centroids` multi-probe), so a
    near-dup pair straddling a boundary is examined whenever the two
    members co-probe a cluster. Survivorship, grouping, and the far
    policy all keep reading the primary assignment; duplicate pair
    sightings (the same pair found in up to ``probes`` shared
    clusters) collapse before CC. Pairing cost scales ~linearly in
    ``probes`` (each cluster's population grows by the boundary
    fan-in). ``probes=1`` is bit-identical to the classic route.

    Pass ``index`` (an :func:`ivf_index` fit on ``corpus``) to reuse
    one clustering across calls; otherwise it is fit here.

    Composition: :func:`ivf_index` -> :func:`semdedup_pairs` ->
    connected components -> survivor anti-join. The pair frame is
    materialized once for CC's gate (cache released before return);
    the final anti-join stays lazy.
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"keep must be 'min_id' or 'far_from_centroid', got {keep!r}")
    from cs533_big_data_data_mining_spark.operators.connected_components import (
        connected_components,
    )

    if probes < 1:
        raise ValueError("probes must be >= 1")
    if index is None:
        cent, assignments = ivf_index(
            corpus, n_centroids, id_col=id_col, vec_col=vec_col, iters=iters, seed=seed
        )
    else:
        cent, assignments = index
    # the primary-assignment frame is consumed by probes=1 pairing and
    # by the far survivor policy; under min_id + probes>1 it stays a
    # LAZY plan that never materializes — cache only what runs
    need_primary = probes == 1 or keep == "far_from_centroid"
    if need_primary:
        assignments = assignments.cache()
    if probes > 1:
        pairing = assign_to_centroids(
            corpus, cent, id_col=id_col, vec_col=vec_col, probes=probes
        )
        # the same pair can surface in every cluster both members
        # co-probe; the deterministic re-score makes the sightings
        # bit-identical, so a plain distinct collapses them
        pairs = semdedup_pairs(pairing, threshold, block_rows=block_rows).dropDuplicates(
            ["a", "b"]
        )
    else:
        pairs = semdedup_pairs(assignments, threshold, block_rows=block_rows)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).cache()
    comp = connected_components(edges, edge_count_hint=edges.count())
    if keep == "min_id":
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("id")
        )
    else:
        # similarity of each grouped member to its cluster centroid:
        # members are few (only nodes in some duplicate group), so the
        # join back to assignments is duplicate-group-sized
        member = comp.select(F.col("node").alias("id"), "component").join(
            assignments.select("id", "vec", "cid"), "id"
        )
        v = as_double_array("vec")
        c = as_double_array("cvec")
        cos = (dot(v, c) / (norm2(v) * norm2(c))).alias("ccos")
        scored = member.join(F.broadcast(cent), "cid").select("id", "component", cos)
        w = Window.partitionBy("component").orderBy(F.col("ccos").asc(), F.col("id").asc())
        losers = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select("id")
        )
    survivors = corpus.select(F.col(id_col).alias("id")).join(losers, "id", "left_anti")
    survivors = survivors.persist()
    survivors.count()
    edges.unpersist()
    if need_primary:
        assignments.unpersist()
    return survivors


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Assign vectors to an EXISTING centroid set — the incremental
    half of :func:`ivf_index`: one broadcast-argmax ``mapInPandas``
    pass, no re-clustering.

    ``probes > 1`` emits one row per (vector, nearest-centroid) for
    the top-``probes`` centroids (capped at the centroid count) —
    the multi-probe PAIRING expansion of SemDeDup: a vector sitting
    on a cluster boundary gets examined in its runner-up cluster too,
    bounding the documented cross-cluster miss at a known fan-out
    cost. Row 1 of each vector's group is exactly the ``probes=1``
    argmax (same tie-break), so primary assignments never move;
    multi-probe output feeds PAIR GENERATION only, never
    survivorship. ``centroids`` is the ``(cid, cvec)``
    frame an earlier ``ivf_index`` fit (KB-scale — collected to the
    driver and closure-shipped, the ``ivf_topk`` probe pattern).
    Returns ``(id, vec, cid)``; ties break to the lowest cid exactly
    as the original fit does, so a vector identical to a history
    vector lands in the same cluster deterministically.

    The dot products use a per-dimension left-to-right accumulation,
    NOT a BLAS gemm: gemm reassociates the reduction by the batch's
    ROW COUNT, so two bit-identical vectors processed in different
    Arrow batch shapes can read 1 ulp apart — enough to flip an exact
    argmax TIE (a vector equidistant from two centroids) and split
    exact duplicates across clusters, breaking SemDeDup's recall-1
    guarantee for exact dups. The fold makes cid a pure function of
    the vector at a ~2-3x cost on this one O(N*C*D) pass (the
    near-dup gram kernels keep BLAS: their candidates are re-scored
    with the same deterministic fold before thresholding)."""
    import numpy as np
    import pandas as pd

    if probes < 1:
        raise ValueError("probes must be >= 1")
    crows = sorted(centroids.collect(), key=lambda r: r["cid"])  # KB-scale by design
    if not crows:
        raise ValueError("assign_to_centroids needs a non-empty centroid set")
    C = np.asarray([r["cvec"] for r in crows], dtype=np.float64)
    cids = np.asarray([r["cid"] for r in crows], dtype=np.int32)
    p = min(int(probes), len(crows))

    c = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    vec_type = c.schema["vec"].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["vec"]), dtype=np.float64)
            sq = np.zeros(len(X), dtype=np.float64)
            for j in range(X.shape[1]):
                sq += X[:, j] * X[:, j]
            Xn = X / np.sqrt(sq)[:, None]
            dots = np.zeros((len(X), C.shape[0]), dtype=np.float64)
            for j in range(X.shape[1]):
                dots += Xn[:, j, None] * C[None, :, j]
            if p == 1:
                idx = np.argmax(dots, axis=1)
                yield pd.DataFrame({"id": pdf["id"], "vec": pdf["vec"], "cid": cids[idx]})
                continue
            # stable sort on the negated dots: equal dots keep column
            # (= ascending-cid) order, so column 0 IS the probes=1
            # argmax with the identical tie-break
            order = np.argsort(-dots, axis=1, kind="stable")[:, :p]
            rep = np.repeat(np.arange(len(pdf)), p)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy()[rep],
                    "vec": pdf["vec"].iloc[rep],
                    "cid": cids[order].reshape(-1),
                }
            )

    return c.mapInPandas(assign, f"id long, vec {vec_type}, cid int")


def _pack_by_cluster(assignments: DataFrame, block_rows: int, prefix: str = ""):
    """(id, vec, cid) -> one packed row per (cid, block): ids + vecs
    lists, block count sized per cluster (``m_c = ceil(n_c /
    block_rows)`` from one tiny collected groupBy — the
    :func:`semdedup_pairs` skew guarantee). Returns ``(packed,
    mmap)`` where mmap is the {cid: m_c} dict; column names get
    ``prefix`` so two packings can join without aliases."""
    sizes = assignments.groupBy("cid").count().collect()
    mmap = {int(r["cid"]): max(1, -(-int(r["count"]) // block_rows)) for r in sizes}
    spark = assignments.sparkSession
    if not mmap:
        return None, mmap
    m_df = F.broadcast(local_df(spark, sorted(mmap.items()), "cid int, _m int"))
    packed = (
        assignments.join(m_df, "cid")
        .withColumn(f"{prefix}blk", F.pmod(F.xxhash64("id"), F.col("_m")).cast("int"))
        .groupBy("cid", f"{prefix}blk")
        .agg(
            F.collect_list("id").alias(f"{prefix}ids"),
            F.collect_list("vec").alias(f"{prefix}vecs"),
        )
    )
    return packed, mmap


def semdedup_pairs_bipartite(
    index: tuple[DataFrame, DataFrame],
    new: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    probes: int = 1,
) -> DataFrame:
    """Incremental SemDeDup pair generation: near-dup pairs ``(a, b,
    cosine, b_side)`` where ``a`` is always a NEW-shard id and ``b``
    is either another new id (``b_side='new'``, a < b) or a HISTORY
    id (``b_side='history'``) — the embedding-space completion of the
    incremental-dedup family (``minhash_dedup_pairs_bipartite``,
    ``url_dedup_bipartite``, ``spans``): a daily-ingest pipeline
    checks each new shard against the corpus without ever re-pairing
    (or re-clustering) the history against itself.

    ``index`` is the ``(centroids, assignments)`` pair a prior
    :func:`ivf_index` fit on the HISTORY corpus. New vectors are
    assigned to the EXISTING centroids (:func:`assign_to_centroids`,
    one broadcast argmax — history is never re-clustered), then
    within each cluster the block-gram kernel scores (a) new-vs-new
    block pairs and (b) new-blocks x history-blocks-in-cluster. As in
    :func:`semdedup_pairs`, a pair straddling a cluster boundary is
    by design never tested, and identical vectors always co-cluster
    (same argmax, ties to the lowest cid) so exact duplicates are
    found with recall 1. Id spaces must be disjoint across the two
    corpora: a shared id is treated as the same document (pairs with
    ``a == b`` are dropped, never reported as near-dups).

    Scale shape: per-cluster block counts are sized per SIDE (two
    tiny collected groupBys), so a skewed mega-cluster fans out over
    ``m_new x m_hist`` bounded-memory tasks; per-shard cost is the
    new side (small) plus ONE packing pass over the history — cache
    the history assignments across shard cycles to amortize it.
    """
    if probes < 1:
        raise ValueError("probes must be >= 1")
    cent, hist = index
    # multi-probe rides the QUERY side only (the IVF-search pattern:
    # the database stays single-assigned, the probe fans out) — a new
    # vector near a boundary is additionally paired inside its
    # runner-up clusters, against history rows and other new rows
    new_a = assign_to_centroids(
        new, cent, id_col=id_col, vec_col=vec_col, probes=probes
    )
    spark = new.sparkSession
    empty = spark.createDataFrame([], "a long, b long, cosine double, b_side string")

    # new-new pairs within the history-defined clusters (a < b)
    new_a = new_a.persist()
    try:
        nn = semdedup_pairs(new_a, threshold, block_rows=block_rows).withColumn(
            "b_side", F.lit("new")
        )

        # new x history-in-cluster pairs
        packed_n, mmap_n = _pack_by_cluster(new_a, block_rows)
        packed_h, mmap_h = _pack_by_cluster(
            hist.select("id", "vec", "cid"), block_rows, prefix="y"
        )
        if packed_n is None or packed_h is None:
            nh = empty
        else:
            n_pairs = sum(m * mmap_h.get(cid, 0) for cid, m in mmap_n.items())
            if n_pairs == 0:
                nh = empty
            else:
                pairs = packed_n.join(packed_h, "cid").repartition(n_pairs)
                nh = _block_gram_pairs(pairs, threshold, bipartite=True).withColumn(
                    "b_side", F.lit("history")
                )
        out = nn.union(nh)
        if probes > 1:
            # the same pair surfaces once per co-probed cluster; the
            # deterministic re-score makes sightings bit-identical
            out = out.dropDuplicates(["a", "b", "b_side"])
        # materialize before releasing the shared assignment cache
        # (pair frames are near-dup-sized; the semdedup contract)
        out = out.persist()
        out.count()
    finally:
        new_a.unpersist()
    return out


def semdedup_bipartite(
    history: DataFrame,
    new: DataFrame,
    threshold: float,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    seed: int = 42,
    block_rows: int = 4096,
    index: tuple[DataFrame, DataFrame] | None = None,
    probes: int = 1,
) -> DataFrame:
    """Incremental SemDeDup: surviving NEW-shard ``(id)`` rows, with
    the history corpus immutable — a new document is dropped iff its
    near-dup component (transitive closure over the
    :func:`semdedup_pairs_bipartite` graph) touches ANY history
    document, or it is not the minimum-id new member of a
    history-free component (the ``min_id`` survivor policy — history
    members always win, matching ``exact_dedup_bipartite``
    semantics — the shared
    :func:`~cs533_big_data_data_mining_spark.operators.dedup.bipartite_survivors`
    rule). Pass ``index`` (an :func:`ivf_index` fit on ``history``)
    to reuse one clustering across shard cycles; otherwise it is fit
    here. Same cache contract as :func:`semdedup`: the returned
    frame is materialized and caller-owned; internal caches are
    released."""
    from cs533_big_data_data_mining_spark.operators.dedup import bipartite_survivors

    if index is None:
        index = ivf_index(
            history, n_centroids, id_col=id_col, vec_col=vec_col, iters=iters, seed=seed
        )
    pairs = semdedup_pairs_bipartite(
        index, new, threshold, id_col=id_col, vec_col=vec_col,
        block_rows=block_rows, probes=probes,
    )  # arrives persisted
    try:
        survivors = bipartite_survivors(
            new.select(F.col(id_col).alias("id")),
            pairs.filter("b_side = 'new'"),
            pairs.filter("b_side = 'history'"),
        ).persist()
        survivors.count()
    finally:
        pairs.unpersist()
    return survivors
