"""Distributed connected components (SURVEY §2 ops 10-11).

Replaces the reference's interleaved asynchronous merge protocol
(``dbscan.cpp:796-1012``) and its pointer-jumping global root
resolution (``dbscan.cpp:125-336``) with the alternating
large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): each round is two
shuffles, convergence in O(log^2 n) rounds, and the result is
deterministic — component label = min node id — which is exactly the
"union by global order" orientation the reference enforces manually
(``dbscan.cpp:950-977``).

The reference's termination vote (``MPI_Allreduce`` of outstanding
message counts, ``dbscan.cpp:1007-1010``) becomes a driver-side
fixpoint check on the edge set; ``localCheckpoint`` truncates lineage
each round (SURVEY §4 "custom work" item 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Below this many edges the fixpoint finishes on the driver: the
# star-edge graph is already cell-contracted (a few rows per core
# point), so for moderate inputs the distributed rounds are pure
# scheduling latency. Same size-gated hybrid GraphFrames applies. Read
# at call time, so tests can patch it to force the distributed path.
DRIVER_FASTPATH_EDGES = 5_000_000

# star rounds before the distributed path gives up (O(log^2 n) needed)
MAX_ITERATIONS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    w = Window.partitionBy("src")
    m = F.least(F.col("src"), F.min("dst").over(w)).alias("m")
    return (
        sym.select("src", "dst", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges downward, then connect u and all smaller neighbors
    to the minimum of the down-neighborhood."""
    down = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src")
    m = F.min("dst").over(w).alias("m")
    withm = down.select("src", "dst", m)
    out = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        withm.select("src", "m")
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def min_label_union(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Min-label components of the graph on nodes ``0..n-1`` with edges
    ``(u[i], v[i])``: ``lab[i]`` = the smallest node reachable from i.

    The engine's one union-find, serving the DBSCAN local phase and
    the driver-side merge alike — the role of the reference's REMS
    union with splicing (``dbscan.cpp:753-791``). Each round pulls the smaller
    label across every edge with ``np.minimum.at`` (O(E)), then pointer
    doubling (``lab = lab[lab]``) halves the label chains, so a
    component converges in O(log n) rounds. Duplicate edges and self
    loops are idempotent min-updates.
    """
    lab = np.arange(n, dtype=np.int64)
    if u.size == 0:
        return lab
    while True:
        before = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        lab = lab[lab]
        if np.array_equal(lab, before):
            return lab


def _driver_union(e: DataFrame) -> DataFrame:
    """Finish a small edge set locally with ``min_label_union`` — same
    labels as the distributed path (component = min node id), just
    without per-round job latency."""
    pdf = e.toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    lab = min_label_union(inv[: len(src)], inv[len(src) :], len(nodes))
    out = pd.DataFrame({"node": nodes, "component": nodes[lab]})
    # explicit schema: with zero edges the frame is empty and schema
    # inference would fail
    df = e.sparkSession.createDataFrame(out, "node long, component long")
    if len(out) > 100_000:
        # a driver-created DataFrame is re-serialized from the driver
        # into EVERY job that scans it; one eager localCheckpoint
        # ships the rows to executor block storage once, and the
        # downstream core-root join reads local blocks instead
        # (measured at 3M nodes: join 22.3s -> ~2s). Skipped for
        # small results where the extra job is pure latency.
        df = df.localCheckpoint(eager=True)
    return df


def connected_components(edges: DataFrame, edge_count_hint: int | None = None) -> DataFrame:
    """Edge list ``(src, dst)`` -> ``(node, component)`` with
    ``component`` = min node id in the component. Nodes appearing only
    as isolated (no edges) must be handled by the caller (self-label).

    ``edge_count_hint``: an UPPER BOUND on the edge count the caller
    already knows (e.g. from materializing the frame the edges came
    from). Supplying it skips the counting job; the bound is
    conservative for the fastpath gate (pre-distinct count >= distinct
    count).
    """
    e_raw = edges.filter(F.col("src") != F.col("dst"))
    cnt = edge_count_hint if edge_count_hint is not None else e_raw.count()
    if cnt <= DRIVER_FASTPATH_EDGES:
        # no distinct and no checkpoint: duplicate edges are harmless
        # to the local union (np.unique dedups node ids; repeated
        # (u, v) rows are idempotent min-updates), so the fastpath
        # skips the whole dedup shuffle and toPandas pulls the raw
        # filtered edges
        return _driver_union(e_raw)
    e = e_raw.distinct().localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(MAX_ITERATIONS):
        # checkpoint every round: the star lineage would otherwise grow
        # by two shuffles per round
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).head()
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    else:
        raise RuntimeError(f"connected_components did not converge in {MAX_ITERATIONS} rounds")

    # After convergence every edge is (node -> component root).
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = comp.select(F.col("component").alias("node"), F.col("component"))
    return comp.union(roots).distinct()
