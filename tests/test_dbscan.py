"""Golden DBSCAN tests vs the sequential oracle (FIXTURES.md §1).

Checks: exact membership under canonical labeling, cluster counts,
stats row, and partition-count invariance — the exact property the
reference violates (``Progress-5-Nov-19.txt:15-29``).
"""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.operators import connected_components as cc_mod
from cs533_big_data_data_mining_spark.operators import dbscan as dbscan_mod
from cs533_big_data_data_mining_spark.operators import neighbors as neighbors_mod
from cs533_big_data_data_mining_spark.operators.cells import grid_from_stats
from cs533_big_data_data_mining_spark.operators.dbscan import dbscan, dbscan_stats
from tests.oracle import grid_centers, make_blobs, seq_dbscan


def to_points_df(spark, x: np.ndarray):
    rows = [(int(i), [float(v) for v in row]) for i, row in enumerate(x)]
    return spark.createDataFrame(rows, "id long, xs array<double>")


def run_and_compare(spark, x, eps, min_pts, partitions=None):
    df = to_points_df(spark, x)
    if partitions:
        df = df.repartition(partitions)
    got = {r["id"]: r["cluster_id"] for r in dbscan(df, eps, min_pts).collect()}
    want = seq_dbscan(x, eps, min_pts)
    got_arr = np.array([got[i] for i in range(len(x))], dtype=np.int64)
    assert np.array_equal(got_arr, want), (
        f"mismatch: {int((got_arr != want).sum())}/{len(x)} points differ; "
        f"got clusters={got_arr.max()}, want={want.max()}"
    )
    return got_arr


CASES = [
    # (name, n, d, k, spacing, std, eps, min_pts, noise_frac)
    ("tiny_2d", 60, 2, 3, 30.0, 1.0, 1.0, 4, 0.1),
    ("blobs_2d", 2000, 2, 6, 50.0, 0.5, 0.3, 10, 0.05),
    ("blobs_3d", 3000, 3, 12, 1.0, 0.004, 0.01, 5, 0.02),
    ("blobs_10d", 4000, 10, 17, 400.0, 8.0, 25.0, 5, 0.05),
]


@pytest.mark.parametrize("name,n,d,k,spacing,std,eps,min_pts,noise", CASES, ids=[c[0] for c in CASES])
def test_dbscan_matches_oracle(spark, name, n, d, k, spacing, std, eps, min_pts, noise):
    x = make_blobs(n, d, grid_centers(k, d, spacing), std, seed=42, noise_frac=noise)
    run_and_compare(spark, x, eps, min_pts)


def force_distributed_labels(monkeypatch):
    """Disable BOTH driver fast paths: the label fastpath would return
    before connected_components runs, so the CC gate alone is never
    reached."""
    monkeypatch.setattr(dbscan_mod, "DRIVER_LABEL_FASTPATH_ROWS", 0)
    monkeypatch.setattr(cc_mod, "DRIVER_FASTPATH_EDGES", 0)


def test_distributed_cc_path(spark, monkeypatch):
    """Force the star-algorithm CC path — must produce identical
    labels."""
    x = make_blobs(1200, 2, grid_centers(5, 2, 40.0), 0.6, seed=17, noise_frac=0.08)
    b = run_and_compare(spark, x, 0.4, 8)
    force_distributed_labels(monkeypatch)
    a = run_and_compare(spark, x, 0.4, 8)
    assert np.array_equal(a, b)


def test_distributed_label_path_no_serial_stage(spark, monkeypatch):
    """The distributed labeling path must contain no single-partition
    exchange and no global window (round-3 verdict #4: dense ids were
    a row_number over one partition; dense_index now numbers rows with
    a row_number window keyed on a value-derived bucket)."""
    from cs533_big_data_data_mining_spark.plans.audit import _plan_text

    x = make_blobs(1000, 2, grid_centers(4, 2, 40.0), 0.6, seed=23, noise_frac=0.05)
    monkeypatch.setattr(dbscan_mod, "DRIVER_LABEL_FASTPATH_ROWS", 0)
    labeled = dbscan(to_points_df(spark, x), 0.4, 8)
    txt = _plan_text(labeled, "formatted")
    # dense numbering may use a WINDOW, but only keyed on the
    # value-derived bucket — never a single-partition exchange
    assert "SinglePartition" not in txt
    labeled.unpersist()


def test_partition_invariance(spark):
    """Identical labels at 1/2/4/8 input partitions — fixes the
    reference's parallelism-dependent cluster counts."""
    x = make_blobs(1500, 2, grid_centers(5, 2, 40.0), 0.6, seed=7, noise_frac=0.08)
    ref = None
    for p in (1, 2, 4, 8):
        got = run_and_compare(spark, x, 0.4, 8, partitions=p)
        if ref is None:
            ref = got
        assert np.array_equal(got, ref), f"labels differ at {p} partitions"


def test_stats_row(spark):
    x = make_blobs(1000, 2, grid_centers(4, 2, 30.0), 0.5, seed=5, noise_frac=0.1)
    df = to_points_df(spark, x)
    labeled = dbscan(df, 0.4, 8)
    row = dbscan_stats(labeled).head()
    want = seq_dbscan(x, 0.4, 8)
    assert row["total_points"] == 1000
    assert row["noise_count"] == int((want == 0).sum())
    assert row["points_in_clusters"] == int((want != 0).sum())
    assert row["n_clusters"] == int(want.max())


def test_sampling_wired(spark):
    x = make_blobs(1000, 2, grid_centers(3, 2, 30.0), 0.5, seed=11)
    df = to_points_df(spark, x)
    labeled = dbscan(df, 0.4, 5, sample=0.5, seed=42)
    n = labeled.count()
    assert 300 < n < 700  # Bernoulli sample around 500
    labeled2 = dbscan(df, 0.4, 5, sample=0.5, seed=42)
    assert labeled2.count() == n  # seeded => reproducible


def test_skewed_dense_cell_keeps_grid(spark, monkeypatch):
    """One dense blob over a uniform background (round-1 verdict
    finding #1): the blob's cells exceed the gate and get block-pair
    treatment, the background keeps the grid kernel — never a
    whole-job flip — and labels still match the oracle."""
    rng = np.random.default_rng(23)
    bg = rng.uniform(0.0, 100.0, size=(1200, 2))
    # blob centered INSIDE one cell of the row-budget 2x2 grid (cells
    # of side ~50), so exactly one cell is oversized
    blob = rng.normal(25.0, 0.4, size=(1500, 2))
    x = np.concatenate([bg, blob])
    monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", 800)
    got = run_and_compare(spark, x, 1.2, 5)
    # same labels as the pure-grid path (gate high enough that no cell
    # is oversized)
    monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", 10**9)
    ref = run_and_compare(spark, x, 1.2, 5)
    assert np.array_equal(got, ref)

    # structural: the probe must see a MIXED cell population — the
    # blob's cell oversized, the background's not (grid retained)
    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand

    pts = to_points_df(spark, x).select("id", "xs")
    spec = choose_grid(pts, 2, 1.2)
    sizes = ghost_expand(pts, spec).groupBy("cell").count().collect()
    big = [r for r in sizes if r["count"] > 800]
    assert 0 < len(big) < len(sizes)


def test_min_pts_one_all_core(spark):
    x = make_blobs(100, 2, grid_centers(2, 2, 20.0), 0.3, seed=13)
    run_and_compare(spark, x, 0.5, 1)


def test_degenerate_inputs(spark):
    """Single point and all-identical points: the grid degenerates to
    one cell (no usable axes) and the pipeline must still produce
    standard-DBSCAN answers, not crash."""
    one = spark.createDataFrame([(0, [1.0, 2.0])], "id long, xs array<double>")
    st = dbscan_stats(dbscan(one, eps=0.5, min_pts=2)).head()
    assert (st["total_points"], st["n_clusters"], st["noise_count"]) == (1, 0, 1)
    st = dbscan_stats(dbscan(one, eps=0.5, min_pts=1)).head()
    assert (st["total_points"], st["n_clusters"], st["noise_count"]) == (1, 1, 0)

    same = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(50)], "id long, xs array<double>"
    )
    st = dbscan_stats(dbscan(same, eps=0.5, min_pts=5)).head()
    assert (st["total_points"], st["n_clusters"], st["noise_count"]) == (50, 1, 0)


@pytest.fixture(scope="module")
def one_point_6d(spark):
    return to_points_df(spark, np.zeros((1, 6)))


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(1, 10**9),
    spans=st.lists(st.one_of(st.just(0.0), st.floats(1e-6, 1e6)), min_size=1, max_size=6),
    lo=st.floats(-1e6, 1e6),
    eps=st.floats(1e-4, 1e3),
    parallelism=st.integers(1, 256),
)
def test_default_grid_has_2eps_closure(one_point_6d, n, spans, lo, eps, parallelism):
    """dbscan() runs its whole local phase over the 2*eps ghost frame,
    which needs every cell side > 2*eps. grid_from_stats's defaults
    keep every side >= 4*eps (up to float rounding of the division),
    so ghost_expand(reach=2) accepts every grid dbscan() builds."""
    from cs533_big_data_data_mining_spark.operators.cells import ghost_expand

    mins = [lo] * len(spans)
    maxs = [lo + w for w in spans]
    spec = grid_from_stats(n, mins, maxs, eps, parallelism)
    assert all(w >= 4.0 * eps * (1 - 1e-12) for w in spec.width), spec
    ghost_expand(one_point_6d, spec, reach=2)


ROUTE_EPS, ROUTE_MIN_PTS, ROUTE_GATE = 1.2, 5, 800
# id -> (d, span, background rows, rows of each lattice blob). The two
# 100-span shapes get cells ~50 wide (~42*eps): 2*eps/eps ghost-row
# ratio R ~1.1. 3d_narrow has enough rows for a 3^3 grid, whose cells
# ~5.3 wide (~4.4*eps) give R ~2.3, near the 2.37 bound of a 4*eps
# side.
_ROUTE_SHAPES = {
    "2d_fused": (2, 100.0, 1200, 0),
    "3d_fused": (3, 100.0, 1200, 0),
    "3d_narrow": (3, 16.0, 300, 250),
}
_ROUTE_DATA: dict = {}


def _route_data(shape: str):
    """Uniform background over [0, span]^d, one dense blob at span/4
    and a smaller one at 3*span/4, plus (3d_narrow) one blob at each
    cell centre of the 3^d grid: at ``BLOCK_FALLBACK_ROWS=ROUTE_GATE``
    exactly one cell, the span/4 blob's, is oversized. Returns
    ``(x, oracle labels)``."""
    if shape not in _ROUTE_DATA:
        d, span, n_bg, lattice_rows = _ROUTE_SHAPES[shape]
        rng = np.random.default_rng(29)
        parts = [
            rng.uniform(0.0, span, size=(n_bg, d)),
            rng.normal(span / 4, 0.4, size=(1000, d)),
            rng.normal(3 * span / 4, 0.4, size=(300, d)),
        ]
        if lattice_rows:
            centres = np.array(list(itertools.product([span / 6, span / 2, 5 * span / 6], repeat=d)))
            blobs = centres[:, None, :] + rng.normal(0.0, 0.4, size=(len(centres), lattice_rows, d))
            parts.append(blobs.reshape(-1, d))
        x = np.concatenate(parts)
        _ROUTE_DATA[shape] = (x, seq_dbscan(x, ROUTE_EPS, ROUTE_MIN_PTS))
    return _ROUTE_DATA[shape]


@pytest.mark.parametrize("labels", ["driver", "distributed"])
@pytest.mark.parametrize("oversized", [False, True], ids=["no_oversized", "one_oversized"])
@pytest.mark.parametrize("shape", list(_ROUTE_SHAPES))
def test_route_matrix_matches_oracle(spark, monkeypatch, shape, oversized, labels):
    """Every route the input can select: {no oversized cell, one
    oversized cell -> block pairs} x {driver labels, distributed CC +
    labels}, on grids across the range of R."""
    x, want = _route_data(shape)
    if oversized:
        monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", ROUTE_GATE)
    if labels == "distributed":
        force_distributed_labels(monkeypatch)
    df = to_points_df(spark, x)
    got = {r["id"]: r["cluster_id"] for r in dbscan(df, ROUTE_EPS, ROUTE_MIN_PTS).collect()}
    got_arr = np.array([got[i] for i in range(len(x))], dtype=np.int64)
    assert np.array_equal(got_arr, want), f"{int((got_arr != want).sum())}/{len(x)} points differ"


@pytest.mark.parametrize("shape", list(_ROUTE_SHAPES))
def test_route_matrix_data_shape(spark, shape):
    """Each route-matrix shape gets a d-axis default grid, R >= 2 on
    3d_narrow (R < 2 on the others), and exactly one cell above the
    block gate (counted over the near rows, as the skew probe does)."""
    import math

    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand

    d = _ROUTE_SHAPES[shape][0]
    x, want = _route_data(shape)
    assert want.max() >= 2 and (want == 0).any()
    pts = to_points_df(spark, x)
    spec = choose_grid(pts, d, ROUTE_EPS)
    assert len(spec.dims) == d
    ratio = math.prod((w + 4 * ROUTE_EPS) / (w + 2 * ROUTE_EPS) for w in spec.width)
    assert (ratio >= 2) is (shape == "3d_narrow"), ratio
    sizes = [r["count"] for r in ghost_expand(pts, spec).groupBy("cell").count().collect()]
    assert sum(n > ROUTE_GATE for n in sizes) == 1 and len(sizes) > 1


def test_fused_probe_counts_near_rows_only(spark, monkeypatch):
    """The skew probe sizes a cell by its near rows (what the
    block-pair route would consume), not by the 2*eps frame: with the
    gate between a cell's near-row count and its 2*eps-row count, no
    cell may take the block-pair route."""
    from cs533_big_data_data_mining_spark.operators.cells import choose_grid, ghost_expand

    x, want = _route_data("2d_fused")
    pts = to_points_df(spark, x)
    spec = choose_grid(pts, 2, ROUTE_EPS)
    per_cell = (
        ghost_expand(pts, spec, reach=2)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.col("is_near").cast("int")).alias("near"))
        .collect()
    )
    gate = max(r["near"] for r in per_cell)
    assert max(r["rows"] for r in per_cell) > gate and len(x) > gate

    def no_block_pairs(*args, **kwargs):
        raise AssertionError("a cell under the near-row gate took the block-pair route")

    monkeypatch.setattr(dbscan_mod, "cell_block_neighbor_counts", no_block_pairs)
    monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", gate)
    got = {r["id"]: r["cluster_id"] for r in dbscan(pts, ROUTE_EPS, ROUTE_MIN_PTS).collect()}
    assert np.array_equal(np.array([got[i] for i in range(len(x))]), want)


def _dsu_labels(u, v, n):
    """Plain Python disjoint-set (union by smaller root): each node's
    label is the smallest node of its component."""
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in zip(u.tolist(), v.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def _union_graphs():
    rng = np.random.default_rng(3)
    e = np.empty(0, dtype=np.int64)
    path = rng.permutation(2000)
    yield "no_edges", e, e, 7
    yield "self_loops", np.array([0, 2, 2, 5]), np.array([0, 2, 2, 5]), 6
    yield "duplicates", np.array([3, 3, 1, 4, 4]), np.array([1, 1, 3, 0, 0]), 5
    yield "isolated", np.array([8, 2]), np.array([5, 9]), 12
    yield "long_path", path[:-1], path[1:], 2000
    for seed, (n, m) in enumerate([(50, 20), (200, 150), (300, 300), (500, 2000)]):
        g = np.random.default_rng(100 + seed)
        yield f"random{seed}", g.integers(0, n, m), g.integers(0, n, m), n


@pytest.mark.parametrize("name,u,v,n", [pytest.param(*g, id=g[0]) for g in _union_graphs()])
def test_min_label_union_matches_disjoint_set(name, u, v, n):
    from cs533_big_data_data_mining_spark.operators.connected_components import min_label_union

    got = min_label_union(u.astype(np.int64), v.astype(np.int64), n)
    assert np.array_equal(got, _dsu_labels(u, v, n)), name
