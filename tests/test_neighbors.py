"""Cell-kernel neighbor ops vs brute force (SURVEY §2 ops 6-9)."""

import numpy as np

from cs533_big_data_data_mining_spark.operators.cells import assign_cells, choose_grid, ghost_expand
from cs533_big_data_data_mining_spark.operators.neighbors import (
    brute_force_neighbor_counts,
    epsilon_self_join,
    neighbor_counts,
)
from tests.oracle import grid_centers, make_blobs, pairwise_d2
from tests.test_dbscan import to_points_df

EPS = 0.4


def _setup(spark, n=600, d=2, seed=21):
    x = make_blobs(n, d, grid_centers(4, d, 10.0), 0.6, seed=seed, noise_frac=0.1)
    df = to_points_df(spark, x)
    spec = choose_grid(df, d, EPS)
    return x, df, spec


def test_neighbor_counts_exact(spark):
    x, df, spec = _setup(spark)
    got = {r["id"]: r["n_neighbors"] for r in neighbor_counts(ghost_expand(df, spec), EPS).collect()}
    want = (pairwise_d2(x, x) <= EPS * EPS).sum(axis=1)
    assert len(got) == len(x)
    for i in range(len(x)):
        assert got[i] == want[i], f"point {i}: got {got[i]}, want {want[i]}"


def test_neighbor_counts_match_brute_force_plan(spark):
    x, df, spec = _setup(spark, n=300)
    kernel = {r["id"]: r["n_neighbors"] for r in neighbor_counts(ghost_expand(df, spec), EPS).collect()}
    brute = {r["id"]: r["n_neighbors"] for r in brute_force_neighbor_counts(df, EPS, 2).collect()}
    assert kernel == brute


def test_epsilon_self_join_exact_pairs(spark):
    x, df, spec = _setup(spark, n=250)
    got = {(r["a"], r["b"]) for r in epsilon_self_join(ghost_expand(df, spec), EPS).collect()}
    d2 = pairwise_d2(x, x)
    want = {(int(a), int(b)) for a, b in zip(*np.nonzero(d2 <= EPS * EPS))}
    assert got == want


def test_epsilon_join_bipartite_exact_pairs(spark):
    """Two-table eps-join == brute-force cross filter, each pair
    exactly once (ghost closure across two frames)."""
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_join

    x, df, _spec = _setup(spark, n=300)
    left = df.filter("id < 120")
    right = df.filter("id >= 120")
    rows = epsilon_join(left, right, EPS).collect()
    got = [(r["a"], r["b"]) for r in rows]
    d2 = pairwise_d2(x[:120], x[120:])
    want = {(int(a), int(b) + 120) for a, b in zip(*np.nonzero(d2 <= EPS * EPS))}
    assert set(got) == want
    assert len(got) == len(want), "a pair was emitted more than once"


def test_epsilon_join_skew_block_routing(spark, monkeypatch):
    """A dense region must trigger the (left-block x right-block)
    fallback for its cells only, with results identical to the
    unrouted kernel and to brute force."""
    from cs533_big_data_data_mining_spark.operators import neighbors as neighbors_mod
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_join

    rng = np.random.default_rng(31)
    dense = rng.normal(5.0, 0.2, size=(900, 2))
    sparse = rng.uniform(0.0, 100.0, size=(300, 2))
    x = np.concatenate([dense, sparse])
    df = to_points_df(spark, x)
    left = df.filter("id % 2 = 0")
    right = df.filter("id % 2 = 1")

    monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", 400)
    routed = {(r["a"], r["b"]) for r in epsilon_join(left, right, EPS).collect()}
    monkeypatch.setattr(neighbors_mod, "BLOCK_FALLBACK_ROWS", 10**9)
    plain = {(r["a"], r["b"]) for r in epsilon_join(left, right, EPS).collect()}
    lmask = np.arange(len(x)) % 2 == 0
    d2 = pairwise_d2(x[lmask], x[~lmask])
    li = np.flatnonzero(lmask)
    ri = np.flatnonzero(~lmask)
    want = {(int(li[a]), int(ri[b])) for a, b in zip(*np.nonzero(d2 <= EPS * EPS))}
    assert routed == plain == want


def test_epsilon_join_degenerate_inputs(spark):
    """Empty either side (or both) -> empty result, no crash; dims
    inference must not assume the left frame has rows."""
    from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_join

    one = spark.createDataFrame([(0, [0.0, 0.0])], "id long, xs array<double>")
    empty = spark.createDataFrame([], "id long, xs array<double>")
    assert epsilon_join(one, empty, 0.5).count() == 0
    assert epsilon_join(empty, one, 0.5).count() == 0
    assert epsilon_join(empty, empty, 0.5).count() == 0
    # within-eps singleton pair still found
    two = spark.createDataFrame([(7, [0.1, 0.0])], "id long, xs array<double>")
    assert [(r["a"], r["b"]) for r in epsilon_join(one, two, 0.5).collect()] == [(0, 7)]


def test_every_point_has_exactly_one_home_cell(spark):
    x, df, spec = _setup(spark)
    ghosted = ghost_expand(df, spec)
    homes = ghosted.filter("is_home").groupBy("id").count().collect()
    assert len(homes) == len(x)
    assert all(r["count"] == 1 for r in homes)
    # home cell agrees with assign_cells
    ac = dict(assign_cells(df, spec).select("id", "cell").collect())
    gh = dict(ghosted.filter("is_home").select("id", "cell").collect())
    assert ac == gh


def test_ghost_closure(spark):
    """Every eps-neighbor of a cell's home points is present in that
    cell (the halo-exchange completeness property,
    ``geometric_partitioning.cpp:46-51``)."""
    x, df, spec = _setup(spark, n=400)
    rows = ghost_expand(df, spec).collect()
    by_cell: dict[int, set[int]] = {}
    home_of: dict[int, int] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], set()).add(r["id"])
        if r["is_home"]:
            home_of[r["id"]] = r["cell"]
    d2 = pairwise_d2(x, x)
    ai, bi = np.nonzero(d2 <= EPS * EPS)
    for a, b in zip(ai, bi):
        assert int(b) in by_cell[home_of[int(a)]], f"neighbor {b} of {a} missing from home cell"


def _dense_spec(x, eps=EPS, width_mult=3.0):
    """Handcrafted multi-cell GridSpec over both axes (choose_grid's
    row-budget sizing collapses small test inputs to one cell, which
    would make closure tests vacuous)."""
    import math

    from cs533_big_data_data_mining_spark.operators.cells import GridSpec

    w = width_mult * eps
    mins = x.min(axis=0)
    maxs = x.max(axis=0)
    ncells = tuple(max(3, int(math.ceil((maxs[j] - mins[j]) / w))) for j in range(x.shape[1]))
    return GridSpec(
        eps=eps,
        dims=tuple(range(x.shape[1])),
        origin=tuple(float(v) for v in mins),
        width=tuple(w for _ in range(x.shape[1])),
        ncells=ncells,
    )


def test_ghost_expand_2eps_invariants(spark):
    """The 2*eps expansion's near set must equal the classic eps ghost
    set, its full set must 2*eps-cover every cell (so coreness is
    locally decidable in the fused kernel), and thin cells must raise."""
    import pytest

    from cs533_big_data_data_mining_spark.operators.cells import GridSpec

    x, df, _ = _setup(spark)
    spec = _dense_spec(x)  # real multi-cell grid (choose_grid degenerates at n=600)
    rows2 = ghost_expand(df, spec, reach=2).collect()

    # (a) near rows == classic ghost_expand rows, same is_home flags
    near = {(r["cell"], r["id"]): r["is_home"] for r in rows2 if r["is_near"]}
    classic = {(r["cell"], r["id"]): r["is_home"] for r in ghost_expand(df, spec).collect()}
    assert near == classic

    # (b) every (cell, point) pair within per-axis distance 2*eps of
    # the cell slab is present (brute-force closure check)
    got_all = {(r["cell"], r["id"]) for r in rows2}
    strides = spec.strides
    r2 = 2.0 * spec.eps
    for cell in {c for c, _ in got_all}:
        rem, bounds = cell, []
        for i in range(len(spec.dims)):
            ci = rem // strides[i]
            rem = rem % strides[i]
            lo = spec.origin[i] + ci * spec.width[i]
            bounds.append((lo, lo + spec.width[i]))
        for pid in range(len(x)):
            within = all(
                x[pid][spec.dims[i]] >= bounds[i][0] - r2
                and x[pid][spec.dims[i]] <= bounds[i][1] + r2
                for i in range(len(spec.dims))
            )
            # interior cells only: boundary cells absorb out-of-range
            # slabs by clamping, so their 2eps shell is their own rows
            if within:
                assert (cell, pid) in got_all or not all(
                    0 < (cell // strides[i]) % spec.ncells[i] < spec.ncells[i] - 1
                    for i in range(len(spec.dims))
                ), f"point {pid} missing from cell {cell}'s 2eps closure"

    # (c) a spec with cell side < 2*eps is rejected
    thin = GridSpec(eps=spec.eps, dims=spec.dims, origin=spec.origin,
                    width=tuple(1.5 * spec.eps for _ in spec.dims), ncells=spec.ncells)
    with pytest.raises(ValueError, match="2\\*eps"):
        ghost_expand(df, thin, reach=2)


def test_fused_local_phase_matches_reference(spark):
    """The fused kernel's kind=2 counts must equal neighbor_counts, and
    its kind=0/1 edge/border rows, merged by ``_driver_labels``, must
    give ``seq_dbscan``'s labels."""
    from cs533_big_data_data_mining_spark.operators.dbscan import _driver_labels
    from cs533_big_data_data_mining_spark.operators.neighbors import fused_local_phase
    from tests.oracle import seq_dbscan

    x, df, _ = _setup(spark, n=800, seed=33)
    spec = _dense_spec(x)
    min_pts = 6
    fused = fused_local_phase(ghost_expand(df, spec, reach=2), EPS, min_pts).toPandas()

    counts = {r["id"]: r["n_neighbors"] for r in neighbor_counts(ghost_expand(df, spec), EPS).collect()}
    k2 = fused[fused["kind"] == 2]
    assert len(k2) == len(x)
    for pid, n_nb in zip(k2["a"], k2["b"]):
        assert counts[pid] == n_nb

    lab = _driver_labels(fused[fused["kind"] != 2])
    got = np.zeros(len(x), dtype=np.int64)
    got[lab["id"].to_numpy()] = lab["cluster_id"].to_numpy()
    want = seq_dbscan(x, EPS, min_pts)
    assert want.max() >= 2 and (want == 0).any()
    assert np.array_equal(got, want), f"{int((got != want).sum())}/{len(x)} points differ"


def _np_ghost_rows(x, spec, reach):
    """Ghost rows enumerated in NumPy by the clamped cell rule (the
    same arithmetic ``perfbench.workloads._ghost_cell_sizes`` uses):
    sorted ``(cell, id, is_home)`` tuples, plus ``is_near`` at
    ``reach=2``."""
    from itertools import product

    per_axis = []
    for i, j in enumerate(spec.dims):
        c = np.clip(np.floor((x[:, j] - spec.origin[i]) / spec.width[i]), 0, spec.ncells[i] - 1)
        c = c.astype(np.int64)
        low = spec.origin[i] + c * spec.width[i]
        d_lo, d_hi = x[:, j] - low, low + spec.width[i] - x[:, j]
        has_lo, has_hi = c > 0, c < spec.ncells[i] - 1
        per_axis.append(
            (
                c,
                {-1: has_lo & (d_lo <= reach * spec.eps), 1: has_hi & (d_hi <= reach * spec.eps)},
                {-1: has_lo & (d_lo <= spec.eps), 1: has_hi & (d_hi <= spec.eps)},
            )
        )
    rows = []
    for delta in product((-1, 0, 1), repeat=len(spec.dims)):
        keep = np.ones(len(x), dtype=bool)
        near = np.ones(len(x), dtype=bool)
        cell = np.zeros(len(x), dtype=np.int64)
        for (c, touch, touch_near), dd, stride in zip(per_axis, delta, spec.strides):
            if dd:
                keep &= touch[dd]
                near &= touch_near[dd]
            cell += (c + dd) * stride
        home = not any(delta)
        for p in np.flatnonzero(keep):
            row = (int(cell[p]), int(p), home)
            rows.append(row + (bool(near[p]),) if reach == 2 else row)
    return sorted(rows)


def test_ghost_expand_four_axes_matches_numpy(spark):
    """A hand-built 4-axis GridSpec (above grid_from_stats's 3-axis
    cap): at both reaches ghost_expand's rows — with multiplicity —
    equal the NumPy enumeration, out-of-range points clamped."""
    from cs533_big_data_data_mining_spark.operators.cells import GridSpec

    rng = np.random.default_rng(41)
    x = rng.uniform(-0.1, 1.1, size=(300, 5))
    df = to_points_df(spark, x)
    spec = GridSpec(
        eps=0.05, dims=(0, 1, 3, 4), origin=(0.0,) * 4, width=(0.25, 0.25, 0.2, 0.3),
        ncells=(4, 4, 5, 3),
    )
    for reach in (1, 2):
        cols = ["cell", "id", "is_home"] + (["is_near"] if reach == 2 else [])
        got = sorted(tuple(r) for r in ghost_expand(df, spec, reach=reach).select(*cols).collect())
        want = _np_ghost_rows(x, spec, reach)
        assert len(got) > len(x)
        assert got == want, f"reach={reach}: {len(got)} rows vs {len(want)} expected"


def test_cell_matrix_stacks_rows():
    """The kernels' input matrix: one float64 row per ``xs`` entry, equal
    to a per-row build, and a 0-row matrix for an empty batch."""
    import pandas as pd

    from cs533_big_data_data_mining_spark.operators.neighbors import _cell_matrix

    x = np.random.default_rng(2).normal(size=(7, 3))
    got = _cell_matrix(pd.DataFrame({"xs": [row.copy() for row in x]}))
    assert got.dtype == np.float64 and np.array_equal(got, x)
    assert _cell_matrix(pd.DataFrame({"xs": []})).shape[0] == 0
