"""Epsilon-neighborhood kernels (SURVEY §2 ops 7-9).

The reference builds per-rank kd-trees (``kdtree2.cpp:72-297``) and
runs fixed-radius queries (``r_nearest_around_point``,
``kdtree2.cpp:344-401``) in a per-point hot loop
(``dbscan.cpp:718-792``). In Spark the spatial index is an execution
detail of one ``applyInPandas`` stage: each grid cell arrives as a
pandas DataFrame (home + ghost rows), and a vectorized NumPy kernel
does the neighbor math. No scipy in this container, so the kernel is
a **sort-sweep**: rows are sorted by the cell's widest coordinate and
each block of query points only measures candidates inside the
``[min - eps, max + eps]`` window of that coordinate — the same
branch-and-bound pruning the reference's kd-tree descent does
(``kdtree2.cpp:434-499``), expressed as one ``searchsorted`` per
block instead of a tree walk. Worst case (all points within eps on
the sweep axis) degrades to the exact blockwise scan, never worse.

Exactness contract: squared distance is accumulated per dimension in
ascending order, in float64 — bit-identical to the DuckDB oracle's
``(a.x0-b.x0)^2 + (a.x1-b.x1)^2 + ...`` left-to-right sum, so the
``<= eps^2`` boundary predicate agrees exactly. The sweep window is
padded by ``eps * 1e-9`` so float rounding can never prune a pair
the exact test would keep.

Oversized cells (skew): a cell whose population exceeds the caller's
gate is NOT allowed to serialize one giant task, and it must not flip
the whole job to all-pairs either (round-1 verdict finding #1).
``cell_block_neighbor_counts`` / ``cell_block_components_and_borders``
re-spread each oversized cell over ``m*(m+1)/2`` block-pair tasks —
the reference's RCB rebalancing spirit (``geometric_partitioning.cpp:
243-497``) applied only where the data is actually dense. Memory per
task is bounded by ``2 * BLOCK_ROWS`` rows regardless of cell size.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.operators.connected_components import min_label_union
from cs533_big_data_data_mining_spark.session import local_df

# A cell with more rows than this takes the block-pair route instead of
# one sort-sweep task, in ``dbscan()`` (near rows) and ``epsilon_join``
# (left + right rows). Both read it at call time; tests patch it.
BLOCK_FALLBACK_ROWS = 8192

# Rows per block of the block-pair route.
BLOCK_ROWS = 2048

_EMPTY = np.empty(0, dtype=np.int64)
# (kind, a, b) rows of the DBSCAN local phase (see fused_local_phase)
_KAB = "kind int, a long, b long"


def _empty_kab() -> pd.DataFrame:
    return pd.DataFrame(
        {"kind": pd.Series(dtype="int32"), "a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64")}
    )


def _exact_d2_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise exact squared distance (same dim-ascending f64 order)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for j in range(a.shape[1]):
        d = a[:, j] - b[:, j]
        acc += d * d
    return acc


def _blas_hit_pairs(A: np.ndarray, B: np.ndarray, a2, b2, eps2: float, margin: float):
    """Hit pairs of one (query block x candidate window) tile.

    ``d2 = |a|^2 + |b|^2 - 2 a.b`` via dgemm — one O(n*m*d) BLAS call
    plus two elementwise passes, instead of d strided passes. Pairs
    landing inside ``eps2 +- margin`` (float-rounding band, ~1e-13
    relative) are re-tested with the exact per-dim accumulation, so
    the boundary predicate is bit-identical to the SQL oracle's
    left-to-right sum.
    """
    g = A @ B.T
    d2 = (a2[:, None] + b2[None, :]) - (g + g)
    ai, bi = np.nonzero(d2 <= eps2 + margin)
    if ai.size:
        band = d2[ai, bi] > eps2 - margin
        if band.any():
            nb = np.nonzero(band)[0]
            keep = _exact_d2_rows(A[ai[nb]], B[bi[nb]]) <= eps2
            if not keep.all():
                drop = nb[~keep]
                mask = np.ones(ai.size, dtype=bool)
                mask[drop] = False
                ai, bi = ai[mask], bi[mask]
    return ai, bi


# queries per sweep chunk: small enough that the second-dim window
# stays tight, big enough that the dgemm amortizes the Python loop
_CHUNK = 256


def _eps_pairs_sweep(A: np.ndarray, B: np.ndarray, eps2: float, eps: float):
    """All index pairs (i, j) with ``||A[i]-B[j]||^2 <= eps2``, as two
    int64 arrays in original (unsorted) index space. When A is B every
    ordered pair appears exactly once (including i == j).

    Strip-sweep pruning (the Spark-kernel analog of the reference
    kd-tree's branch-and-bound descent, ``kdtree2.cpp:434-499``):
    rows are bucketed into eps-width strips along the widest
    dimension and sorted by the second-widest inside each strip. A
    query chunk only measures candidates in its 3 adjacent strips
    AND inside the chunk's ``[min-eps, max+eps]`` window of the
    second dimension — near-linear when eps is small relative to the
    cell, never worse than the full blockwise scan.
    """
    na, nb = A.shape[0], B.shape[0]
    if na == 0 or nb == 0:
        return _EMPTY, _EMPTY
    a2 = np.einsum("ij,ij->i", A, A)
    b2 = np.einsum("ij,ij->i", B, B)
    # rounding band around eps^2: generous multiple of the worst-case
    # f64 error of either distance formulation at this coordinate scale
    scale = max(float(a2.max()), float(b2.max()), eps2)
    margin = 64.0 * A.shape[1] * np.finfo(np.float64).eps * scale

    if na * nb <= _CHUNK * _CHUNK:
        return _blas_hit_pairs(A, B, a2, b2, eps2, margin)

    spans = np.ptp(B, axis=0)
    order = np.argsort(spans)
    d0 = int(order[-1])
    d1 = int(order[-2]) if A.shape[1] > 1 else d0
    # strip width slightly over eps so floor() rounding can never push
    # a true <=eps neighbor beyond the +-1 adjacent strip
    w = eps * (1.0 + 1e-9)
    lo0 = min(float(A[:, d0].min()), float(B[:, d0].min()))
    sa = np.floor((A[:, d0] - lo0) / w).astype(np.int64)
    sb = np.floor((B[:, d0] - lo0) / w).astype(np.int64)
    ao = np.lexsort((A[:, d1], sa))
    bo = np.lexsort((B[:, d1], sb))
    As, Bs = A[ao], B[bo]
    a2s, b2s = a2[ao], b2[bo]
    sas, sbs = sa[ao], sb[bo]
    ac1, bc1 = As[:, d1], Bs[:, d1]
    pad = eps * 1e-9

    out_a, out_b = [], []
    # nonempty query strips: [q0, q1) ranges over the sorted A
    strip_ids, strip_starts = np.unique(sas, return_index=True)
    strip_bounds = np.append(strip_starts, na)
    for s, q0, q1 in zip(strip_ids, strip_bounds[:-1], strip_bounds[1:]):
        # candidate rows of the 3 adjacent strips: contiguous in Bs
        c0 = int(np.searchsorted(sbs, s - 1, side="left"))
        c1_ = int(np.searchsorted(sbs, s + 1, side="right"))
        if c0 >= c1_:
            continue
        # within the strip pair, candidates of each adjacent strip are
        # sorted by c1 — but the 3-strip concat is not globally sorted.
        # Windowing needs sorted keys, so handle each strip separately.
        for t0, t1 in _strip_ranges(sbs, s, c0, c1_):
            if t0 >= t1:
                continue
            tb1 = bc1[t0:t1]
            for qlo in range(q0, q1, _CHUNK):
                qhi = min(qlo + _CHUNK, q1)
                w0 = t0 + int(np.searchsorted(tb1, ac1[qlo] - eps - pad, side="left"))
                w1 = t0 + int(np.searchsorted(tb1, ac1[qhi - 1] + eps + pad, side="right"))
                if w0 >= w1:
                    continue
                ai, bi = _blas_hit_pairs(
                    As[qlo:qhi], Bs[w0:w1], a2s[qlo:qhi], b2s[w0:w1], eps2, margin
                )
                if ai.size:
                    out_a.append(ao[qlo + ai])
                    out_b.append(bo[w0 + bi])
    if not out_a:
        return _EMPTY, _EMPTY
    return np.concatenate(out_a), np.concatenate(out_b)


def _strip_ranges(sbs: np.ndarray, s: int, c0: int, c1_: int):
    """Sorted-row ranges of candidate strips s-1, s, s+1 within
    [c0, c1_). Each range is sorted by the sweep dimension."""
    m1 = int(np.searchsorted(sbs, s, side="left"))
    m2 = int(np.searchsorted(sbs, s, side="right"))
    return ((c0, m1), (m1, m2), (m2, c1_))


def _eps_counts_sweep(A: np.ndarray, B: np.ndarray, eps2: float, eps: float) -> np.ndarray:
    """Per-A-row count of B rows within eps (self counts if present in B)."""
    counts = np.zeros(A.shape[0], dtype=np.int64)
    if A.shape[0] == 0 or B.shape[0] == 0:
        return counts
    ai, _bi = _eps_pairs_sweep(A, B, eps2, eps)
    if ai.size:
        counts += np.bincount(ai, minlength=counts.size)
    return counts


def _stack_rows(rows) -> np.ndarray:
    """``(n, d)`` float64 matrix of ``n`` per-row coordinate arrays: one
    concatenate over the Arrow-decoded rows, not one array per row."""
    if len(rows) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.concatenate(rows).astype(np.float64, copy=False).reshape(len(rows), -1)


def _cell_matrix(pdf: pd.DataFrame) -> np.ndarray:
    return _stack_rows(pdf["xs"].to_numpy())


def _by_cell(celled: DataFrame):
    """``groupBy("cell")`` behind an EXPLICIT hash repartition.

    The kernel shuffle is small in bytes (a few MB at test scale) but
    heavy in CPU per row, so AQE's byte-based partition coalescing —
    correct for relational stages — collapses it to 1-2 partitions and
    serializes the NumPy kernels onto as many cores (measured: the
    part64 local phase ran 2-wide, 10 s instead of ~1 s). A
    user-specified ``repartition(n, "cell")`` is exempt from AQE
    coalescing, and its HashPartitioning satisfies the groupBy's
    ClusteredDistribution, so no second exchange is inserted.
    """
    par = celled.sparkSession.sparkContext.defaultParallelism
    return celled.repartition(par, "cell").groupBy("cell")


def neighbor_counts(celled: DataFrame, eps: float) -> DataFrame:
    """Per-point eps-neighborhood size, self inclusive (ops 7+8 and the
    count half of op 9). Input: ghost-expanded frame
    ``(cell, id, xs, is_home)``; output ``(id, n_neighbors)``.

    Each home point's full neighborhood is present in its home cell
    (ghost closure), so counts are complete with zero cross-cell
    communication — the same "embarrassingly parallel local phase"
    profile as the reference (SURVEY §4).
    """
    eps2 = float(eps) * float(eps)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = _cell_matrix(pdf)
        home = pdf["is_home"].to_numpy(dtype=bool)
        counts = _eps_counts_sweep(x[home], x, eps2, float(eps))
        return pd.DataFrame({"id": pdf["id"].to_numpy()[home], "n_neighbors": counts})

    return _by_cell(celled).applyInPandas(kernel, schema="id long, n_neighbors long")


def fused_local_phase(celled2: DataFrame, eps: float, min_pts: int) -> DataFrame:
    """The ENTIRE per-cell DBSCAN local phase in ONE ``applyInPandas``
    pass — counts, core predicate, local union, border candidates —
    enabled by the 2*eps ghost closure (``cells.ghost_expand(reach=2)``):
    every row that eps-touches the cell ("near": home + classic
    ghosts) has its full eps-neighborhood present, so its coreness is
    locally decidable and no ``is_core`` join or second kernel pass is
    needed: the ghost frame crosses Arrow once.

    Input ``(cell, id, xs, is_home, is_near)``; output ``(kind, a, b)``:

    * kind=0 — star edge ``(near-core id, local min-core-root)`` for
      every near core of the cell. Every core is home (hence near) in
      exactly one cell, so the kind=0 node set covers the full core
      set; a core appearing near in several cells emits one star edge
      per cell, which is what stitches cross-cell components in the
      global CC pass. Every global core-core eps-edge (a, b) is seen
      in a's home cell with BOTH endpoints near (b is within eps of a,
      hence of the cell), so connectivity is complete.
    * kind=1 — ``(non-core home id, adjacent core's local root)``
      border candidates, distinct per (a, b).
    * kind=2 — ``(home id, n_neighbors)``: the exact neighbor count
      (self inclusive), same values as ``neighbor_counts``.

    The same strip-sweep pairs kernel and exact-f64 boundary predicate
    as ``neighbor_counts``; every reduction downstream is a min.
    """
    eps2 = float(eps) * float(eps)
    mp = int(min_pts)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = _cell_matrix(pdf)
        ids = pdf["id"].to_numpy()
        home = pdf["is_home"].to_numpy(dtype=bool)
        near = pdf["is_near"].to_numpy(dtype=bool)
        n = x.shape[0]
        qidx = np.flatnonzero(near)
        nq = qidx.size
        if nq == 0:
            return _empty_kab()
        # ONE pairs pass: near rows (queries) x all rows (candidates,
        # incl. the 2eps-only shell that completes near neighborhoods)
        ai, bi = _eps_pairs_sweep(x[qidx], x, eps2, float(eps))
        counts = np.bincount(ai, minlength=nq).astype(np.int64)
        qids = ids[qidx]
        qcore = counts >= mp
        hq = home[qidx]
        frames = [pd.DataFrame({"kind": np.int32(2), "a": qids[hq], "b": counts[hq]})]

        # map candidate (all-rows) index -> near position, -1 if far
        pos = np.full(n, -1, dtype=np.int64)
        pos[qidx] = np.arange(nq)
        bq = pos[bi]
        inq = bq >= 0
        bqs = np.where(inq, bq, 0)
        core_hit = inq & qcore[ai] & qcore[bqs]

        # local min-label union over near nodes, edges = core-core hits
        # (pairs with both ends near appear in both orientations; keep
        # u < v once — also drops self pairs). Non-core nodes stay
        # singletons, so root_ids over cores = min core id per local
        # core component.
        u, v = ai[core_hit], bq[core_hit]
        keep = u < v
        labels = min_label_union(u[keep], v[keep], nq)
        minid = np.full(nq, np.iinfo(np.int64).max)
        np.minimum.at(minid, labels, qids)
        root_ids = minid[labels]
        if qcore.any():
            frames.append(
                pd.DataFrame({"kind": np.int32(0), "a": qids[qcore], "b": root_ids[qcore]})
            )

        # border candidates: non-core HOME query adjacent to a near
        # core. (A core within eps of a home point is within eps of
        # the cell, hence always near here — no far-row coreness is
        # ever needed.)
        bm = hq[ai] & ~qcore[ai] & inq & qcore[bqs]
        if bm.any():
            uniq = pd.DataFrame(
                {"kind": np.int32(1), "a": qids[ai[bm]], "b": root_ids[bq[bm]]}
            ).drop_duplicates()
            frames.append(uniq)
        out = pd.concat(frames, ignore_index=True)
        out["kind"] = out["kind"].astype("int32")
        return out

    return _by_cell(celled2).applyInPandas(kernel, schema=_KAB)


def epsilon_self_join(celled: DataFrame, eps: float) -> DataFrame:
    """Distance self-join (the reference's one non-trivial relational
    op, SURVEY §2 ops 6+8): all pairs ``(a, b)`` with
    ``dist(a,b) <= eps``, both directions, self included.

    Pair de-dup is positional, not a distinct: a pair is emitted only
    from the left point's home cell, and ghost closure is symmetric,
    so each ordered pair appears exactly once globally.
    """
    eps2 = float(eps) * float(eps)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = _cell_matrix(pdf)
        ids = pdf["id"].to_numpy()
        home = pdf["is_home"].to_numpy(dtype=bool)
        hx, hid = x[home], ids[home]
        ai, bi = _eps_pairs_sweep(hx, x, eps2, float(eps))
        return pd.DataFrame({"a": hid[ai], "b": ids[bi]})

    return _by_cell(celled).applyInPandas(kernel, schema="a long, b long")


def epsilon_join_two(l_celled: DataFrame, r_celled: DataFrame, eps: float) -> DataFrame:
    """Bipartite ε-join: all pairs ``(a, b)`` with
    ``dist(left a, right b) <= eps`` — the two-table generalization of
    ``epsilon_self_join`` (e.g. "events within ε of any hub").

    Inputs: ``l_celled`` = ``ghost_expand(left, spec)`` (each left
    point visits its home cell plus every adjacent cell slab it
    eps-touches); ``r_celled`` = ``assign_cells(right, spec)`` (home
    cells only). Closure: a qualifying pair differs by <= eps per
    grid axis, so the left point reaches the right point's home cell
    exactly once (home or ghost row) — each pair is emitted exactly
    once, no distinct needed. Shuffle = one union exchange on cell;
    the per-cell kernel is the same strip-sweep used everywhere else.
    """
    eps2 = float(eps) * float(eps)

    u = l_celled.select("cell", "id", "xs", F.lit(0).alias("side")).unionByName(
        r_celled.select("cell", "id", "xs", F.lit(1).alias("side"))
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["side"].to_numpy()
        lmask = side == 0
        if not lmask.any() or lmask.all():
            return pd.DataFrame({"a": _EMPTY, "b": _EMPTY})
        x = _cell_matrix(pdf)
        ids = pdf["id"].to_numpy()
        A, B = x[lmask], x[~lmask]
        ai, bi = _eps_pairs_sweep(A, B, eps2, float(eps))
        return pd.DataFrame({"a": ids[lmask][ai], "b": ids[~lmask][bi]})

    return _by_cell(u).applyInPandas(kernel, schema="a long, b long")


def cell_block_epsilon_join_two(
    l_big: DataFrame,
    r_big: DataFrame,
    l_sizes: dict[int, int],
    r_sizes: dict[int, int],
    eps: float,
) -> DataFrame:
    """Bipartite ε-join for OVERSIZED cells, re-spread over
    (left-block x right-block) tasks — the two-table twin of
    ``cell_block_neighbor_counts``'s skew routing. Each side's rows
    hash-assign to ``ceil(n_side / BLOCK_ROWS)`` single-row blocks per
    cell; the per-cell block cross joins on cell, and every task holds
    exactly one block per side — memory bounded by ``2 * BLOCK_ROWS``
    regardless of cell size. Each (left, right) pair lives in exactly
    one block pair (id -> block is a function per side), so no dedup
    is needed."""
    eps2 = float(eps) * float(eps)
    cols = ["id", "xs"]
    lp = _pack_blocks(l_big, l_sizes, cols)
    rp = _pack_blocks(r_big, r_sizes, cols, prefix="y")
    npairs = sum(
        _n_blocks(l_sizes.get(c, 0)) * _n_blocks(r_sizes.get(c, 0))
        for c in set(l_sizes) | set(r_sizes)
    )
    pairs = lp.join(rp, "cell").repartition(min(max(npairs, 1), 2048))

    def pair_hits(row) -> pd.DataFrame:
        (xi, X), (yi, Y) = _unpack_pair(row, cols, same=False)
        ai, bi = _eps_pairs_sweep(X, Y, eps2, float(eps))
        return pd.DataFrame({"a": xi[ai], "b": yi[bi]})

    return _map_pairs(pairs, pair_hits, "a long, b long")


def epsilon_join(
    left: DataFrame,
    right: DataFrame,
    eps: float,
    dims: int | None = None,
) -> DataFrame:
    """Convenience bipartite ε-join over canonical ``(id, xs)`` frames:
    chooses one grid over the UNION extent (so both sides share cell
    geometry), ghost-expands the left side, and runs the cell kernel.
    One stats pass + one shuffle; never a cross join.

    Skew routing (the dbscan pipeline's probe pattern): one count-only
    aggregation finds cells whose combined (left + right) population
    exceeds ``BLOCK_FALLBACK_ROWS``; those cells — and only those —
    re-spread over (left-block x right-block) tasks via
    ``cell_block_epsilon_join_two``, so one dense region cannot
    serialize a giant task while everything else keeps the one-task-
    per-cell kernel."""
    from cs533_big_data_data_mining_spark.operators.cells import (
        assign_cells,
        ghost_expand,
        grid_from_stats,
        grid_stats,
    )

    both = left.select("id", "xs").unionByName(right.select("id", "xs"))
    if dims is None:
        head = left.select("xs").head() or right.select("xs").head()
        if head is None:  # both sides empty -> no pairs, no grid to fit
            return left.sparkSession.createDataFrame([], "a long, b long")
        dims = len(head["xs"])
    n_rows, mins, maxs = grid_stats(both, dims)
    spec = grid_from_stats(
        n_rows, mins, maxs, eps, both.sparkSession.sparkContext.defaultParallelism
    )
    l_celled = ghost_expand(left, spec)
    r_celled = assign_cells(right, spec).select("cell", "id", "xs")

    big_cells: dict[int, tuple[int, int]] = {}
    if n_rows > BLOCK_FALLBACK_ROWS:
        u = l_celled.select("cell", F.lit(0).alias("side")).unionByName(
            r_celled.select("cell", F.lit(1).alias("side"))
        )
        per_cell = (
            u.groupBy("cell")
            .agg(
                F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("ln"),
                F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("rn"),
            )
            .filter((F.col("ln") + F.col("rn")) > F.lit(int(BLOCK_FALLBACK_ROWS)))
            .collect()
        )
        big_cells = {int(r["cell"]): (int(r["ln"]), int(r["rn"])) for r in per_cell}

    if not big_cells:
        return epsilon_join_two(l_celled, r_celled, eps)
    is_big = F.col("cell").isin(list(big_cells))
    small = epsilon_join_two(l_celled.filter(~is_big), r_celled.filter(~is_big), eps)
    big = cell_block_epsilon_join_two(
        l_celled.filter(is_big),
        r_celled.filter(is_big),
        {c: ln for c, (ln, _rn) in big_cells.items()},
        {c: rn for c, (_ln, rn) in big_cells.items()},
        eps,
    )
    return small.unionByName(big)


def brute_force_neighbor_counts(points: DataFrame, eps: float, dims: int) -> DataFrame:
    """Oracle-shaped O(N^2) fallback: declarative crossJoin + filter.

    Only for tiny-N verification (FIXTURES.md §2) — the cell kernel is
    the scale path. Kept declarative so Catalyst's plan is visible.
    """
    eps2 = float(eps) * float(eps)
    a, b = points.alias("a"), points.alias("b")
    d2 = sum(
        (F.col("a.xs")[j] - F.col("b.xs")[j]) * (F.col("a.xs")[j] - F.col("b.xs")[j])
        for j in range(dims)
    )
    return (
        a.crossJoin(b)
        .filter(d2 <= F.lit(eps2))
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )


def _n_blocks(n: int) -> int:
    return max(1, math.ceil(n / BLOCK_ROWS))


def _pack_blocks(
    celled: DataFrame, sizes: dict[int, int], cols: list[str], prefix: str = ""
) -> DataFrame:
    """The one block packer of the oversized-cell kernels: each cell's
    rows go to ``m_c = ceil(n_c / BLOCK_ROWS)`` blocks hash-assigned by
    id, one output row per ``(cell, {prefix}blk)`` carrying a
    ``collect_list`` per column of ``cols`` (named
    ``{prefix}{col}s_``). ``sizes`` (cell -> rowcount) comes from the
    caller's single probe aggregation, so per-cell block counts cost
    no extra pass."""
    mdf = local_df(
        celled.sparkSession,
        [(int(c), _n_blocks(n)) for c, n in sizes.items()],
        "cell long, m int",
    )
    return (
        celled.join(F.broadcast(mdf), "cell")
        .withColumn(f"{prefix}blk", F.pmod(F.xxhash64("id"), F.col("m").cast("long")).cast("int"))
        .groupBy("cell", f"{prefix}blk")
        .agg(*[F.collect_list(c).alias(f"{prefix}{c}s_") for c in cols])
    )


def _same_cell_block_pairs(big_celled: DataFrame, sizes: dict[int, int], cols: list[str]) -> DataFrame:
    """Join the unordered same-cell block pairs (blk <= yblk) of the
    packed blocks. Each output row carries two whole blocks — task
    memory is bounded by 2*BLOCK_ROWS regardless of cell size, and the
    sum of per-cell m_c*(m_c+1)/2 pairs is the unit of parallelism."""
    packed = _pack_blocks(big_celled, sizes, cols)
    right = packed.select(
        F.col("cell").alias("ycell"),
        F.col("blk").alias("yblk"),
        *[F.col(f"{c}s_").alias(f"y{c}s_") for c in cols],
    )
    pairs = packed.join(right, (F.col("cell") == F.col("ycell")) & (F.col("blk") <= F.col("yblk")))
    npairs = sum(m * (m + 1) // 2 for m in (_n_blocks(n) for n in sizes.values()))
    return pairs.repartition(min(max(npairs, 1), 2048))


def _unpack_block(row, prefix: str, cols: list[str]) -> list[np.ndarray]:
    out = []
    for c in cols:
        vals = getattr(row, f"{prefix}{c}s_")
        if c == "xs":
            out.append(_stack_rows(vals))
        else:
            out.append(np.asarray(list(vals), dtype=np.int64 if c == "id" else bool))
    return out


def _unpack_pair(row, cols: list[str], same: bool):
    """Both blocks of a packed pair row as ``[ids, X, flags...]`` per
    ``cols``; a diagonal (same-block) pair decodes once."""
    x = _unpack_block(row, "", cols)
    return x, (x if same else _unpack_block(row, "y", cols))


def _map_pairs(pairs: DataFrame, fn, schema: str) -> DataFrame:
    """``fn(row) -> pd.DataFrame`` over every block-pair row."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield fn(row)

    return pairs.mapInPandas(kernel, schema)


def cell_block_neighbor_counts(big_celled: DataFrame, sizes: dict[int, int], eps: float) -> DataFrame:
    """``(id, n_neighbors)`` for the HOME points of oversized cells.

    Exactly the per-cell work of ``neighbor_counts``, re-spread over
    same-cell block pairs: each pair task counts cross-block hits and
    emits per-point partials; one map-side-combinable groupBy sums
    them. Only home rows get counts (ghost rows are home elsewhere),
    so the union with the small-cell kernel's output covers every
    point exactly once."""
    eps2 = float(eps) * float(eps)
    cols = ["id", "xs", "is_home"]

    def pair_counts(row) -> pd.DataFrame:
        same = row.blk == row.yblk
        (xi, X, xh), (yi, Y, yh) = _unpack_pair(row, cols, same)
        ai, bi = _eps_pairs_sweep(X, Y, eps2, float(eps))
        out_id = [xi[xh]]
        out_c = [np.bincount(ai, minlength=X.shape[0]).astype(np.int64)[xh]]
        if not same:
            out_id.append(yi[yh])
            out_c.append(np.bincount(bi, minlength=Y.shape[0]).astype(np.int64)[yh])
        return pd.DataFrame({"id": np.concatenate(out_id), "pc": np.concatenate(out_c)})

    pairs = _same_cell_block_pairs(big_celled, sizes, cols)
    partials = _map_pairs(pairs, pair_counts, "id long, pc long")
    return partials.groupBy("id").agg(F.sum("pc").alias("n_neighbors"))


def cell_block_components_and_borders(big_flagged: DataFrame, sizes: dict[int, int], eps: float) -> DataFrame:
    """Block-pair twin of ``fused_local_phase``'s edge and border rows
    for oversized cells. Input ``(cell, id, xs, is_home, is_core)``;
    output rows ``(kind, a, b)``:

    * kind=0: task-contracted core connectivity (a < b): each block
      pair runs a local min-label union over its core-core eps-hits
      and emits only (node, local root) edges — <= |task nodes| rows
      instead of the raw hit list. Any spanning structure of the task
      subgraph preserves global connectivity; the global CC pass
      stitches tasks and assigns min-id labels.
    * kind=1: (non-core HOME id, adjacent core id) border candidates.

    Each unordered point pair lives in exactly one same-cell block
    pair (id -> block is a function), so no within-cell dedup is
    needed; cross-cell duplicates are absorbed by CC's distinct and
    the border min-root aggregate."""
    eps2 = float(eps) * float(eps)
    cols = ["id", "xs", "is_home", "is_core"]

    def pair_edges(row) -> pd.DataFrame:
        same = row.blk == row.yblk
        (xi, X, xh, xc), (yi, Y, yh, yc) = _unpack_pair(row, cols, same)
        ai, bi = _eps_pairs_sweep(X, Y, eps2, float(eps))
        ga, gb = xi[ai], yi[bi]
        ca, cb = xc[ai], yc[bi]
        ka, kb, kk = [], [], []
        # core-core connectivity, CONTRACTED within the task: a local
        # min-label union over the pair's core-core hits replaces the
        # raw edge list with <= |nodes| (node -> local root) edges —
        # raw emission made the global CC ingest O(sum of per-task hit
        # counts), which for dense graphs (e.g. minPts=2 feature sets)
        # is millions of rows per task
        ccm = ca & cb & ((ai < bi) if same else (ga != gb))
        if same:
            nodes = xi
            u, v = ai[ccm], bi[ccm]
        else:
            nodes = np.concatenate([xi, yi])
            u, v = ai[ccm], X.shape[0] + bi[ccm]
        lab = min_label_union(u, v, nodes.size)
        if same:
            # the diagonal task emits EVERY core of its block
            # (including singletons, as (c, c)) — each core lives in
            # exactly one diagonal task per cell, so the union of
            # kind=0 rows covers the full core set; the driver label
            # fastpath relies on this (dbscan._driver_labels derives
            # cores from kind=0 nodes instead of re-collecting the
            # flags frame)
            emit = xc
        else:
            emit = lab != np.arange(nodes.size)
        cu, cv = nodes[emit], nodes[lab[emit]]
        kk.append(np.zeros(cu.size, dtype=np.int32))
        ka.append(np.minimum(cu, cv))
        kb.append(np.maximum(cu, cv))
        # border candidates: home non-core -> adjacent core
        # (same-block both orders covered by full enumeration)
        xb = xh[ai] & ~ca & cb
        kk.append(np.ones(int(xb.sum()), dtype=np.int32))
        ka.append(ga[xb])
        kb.append(gb[xb])
        if not same:
            yb = yh[bi] & ~cb & ca
            kk.append(np.ones(int(yb.sum()), dtype=np.int32))
            ka.append(gb[yb])
            kb.append(ga[yb])
        return pd.DataFrame(
            {"kind": np.concatenate(kk), "a": np.concatenate(ka), "b": np.concatenate(kb)}
        )

    pairs = _same_cell_block_pairs(big_flagged, sizes, cols)
    return _map_pairs(pairs, pair_edges, _KAB)
