"""Exact sequential DBSCAN for large low-dimensional inputs.

Same semantics as ``tests/oracle.py::seq_dbscan`` (core = self-inclusive
eps-neighbourhood of at least ``min_pts``; clusters are connected
components of cores, numbered densely 1..K by their minimum core index;
a border point takes the minimum root among its adjacent cores; noise is
0), but the eps-neighbour pairs come from a cell-bucketed join instead of
a dense n x n distance matrix. ``seq_dbscan`` allocates ``block * n``
doubles per block, which is gigabytes at a few hundred thousand points.

Distances are accumulated per dimension, left to right, in float64 and
compared with ``<= eps * eps``: the engine's kernels and ``seq_dbscan``
use the same order, so boundary pairs agree bit for bit.
"""

from __future__ import annotations

from itertools import product

import numpy as np

# candidate pairs handled per vectorised batch; bounds peak memory to a
# few hundred MB whatever the input size
_BATCH_PAIRS = 4_000_000
# cells are cut along at most this many of the widest coordinates
_GRID_AXES = 3


def _cell_keys(x: np.ndarray, eps: float, axes: list[int]):
    lo = x[:, axes].min(axis=0)
    idx = np.floor((x[:, axes] - lo) / eps).astype(np.int64)
    ncell = idx.max(axis=0) + 1
    strides = np.ones(len(axes), dtype=np.int64)
    for i in range(len(axes) - 2, -1, -1):
        strides[i] = strides[i + 1] * ncell[i + 1]
    return idx, ncell, strides


def _expand_ranges(rows: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """All pairs (row, j) with lo <= j < hi, as two flat arrays."""
    cnt = hi - lo
    keep = cnt > 0
    rows, lo, cnt = rows[keep], lo[keep], cnt[keep]
    total = int(cnt.sum())
    if total == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    left = np.repeat(rows, cnt)
    starts = np.repeat(lo - np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
    right = starts + np.arange(total, dtype=np.int64)
    return left, right


def eps_pairs(x: np.ndarray, eps: float) -> tuple[np.ndarray, np.ndarray]:
    """Every pair ``(i, j)``, ``i < j``, with ``dist(x_i, x_j) <= eps``.

    Points are bucketed into cells of side ``eps`` along the
    ``_GRID_AXES`` widest coordinates, so every neighbour of a point lies
    in its own cell or an adjacent one; candidates are verified with the
    full-dimensional distance."""
    x = np.asarray(x, dtype=np.float64)
    n, d = x.shape
    eps2 = float(eps) * float(eps)
    widths = x.max(axis=0) - x.min(axis=0)
    axes = sorted(np.argsort(-widths, kind="stable")[: min(_GRID_AXES, d)].tolist())
    idx, ncell, strides = _cell_keys(x, eps, axes)
    key = idx @ strides
    order = np.argsort(key, kind="stable")
    skey = key[order]
    xs = x[order]
    sidx = idx[order]
    rows = np.arange(n, dtype=np.int64)

    us, vs = [], []
    # half of the 3^k neighbour offsets (plus the home cell) visits each
    # unordered cell pair once
    for off in product((-1, 0, 1), repeat=len(axes)):
        if off < (0,) * len(axes):
            continue
        off = np.asarray(off, dtype=np.int64)
        nidx = sidx + off
        ok = np.all((nidx >= 0) & (nidx < ncell), axis=1)
        nkey = nidx @ strides
        lo = np.searchsorted(skey, nkey, side="left")
        hi = np.searchsorted(skey, nkey, side="right")
        lo = np.where(ok, lo, 0)
        hi = np.where(ok, hi, 0)
        if not off.any():
            lo = np.maximum(lo, rows + 1)  # home cell: j > i only
        # split the rows so one batch expands to at most _BATCH_PAIRS
        csum = np.cumsum(np.maximum(hi - lo, 0))
        start = 0
        while start < n:
            base = csum[start - 1] if start else 0
            stop = int(np.searchsorted(csum, base + _BATCH_PAIRS, side="right"))
            stop = max(stop, start + 1)
            a, b = _expand_ranges(rows[start:stop], lo[start:stop], hi[start:stop])
            if a.size:
                d2 = np.zeros(a.size, dtype=np.float64)
                for j in range(d):
                    diff = xs[a, j] - xs[b, j]
                    d2 += diff * diff
                hit = d2 <= eps2
                us.append(order[a[hit]])
                vs.append(order[b[hit]])
            start = stop
    u = np.concatenate(us) if us else np.empty(0, dtype=np.int64)
    v = np.concatenate(vs) if vs else np.empty(0, dtype=np.int64)
    lo_, hi_ = np.minimum(u, v), np.maximum(u, v)
    return lo_, hi_


def _min_label(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    lab = np.arange(n, dtype=np.int64)
    while True:
        before = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        lab = lab[lab]
        if np.array_equal(lab, before):
            return lab


def grid_dbscan(x: np.ndarray, eps: float, min_pts: int) -> np.ndarray:
    """int64 labels with ``seq_dbscan``'s conventions (0 = noise)."""
    n = len(x)
    u, v = eps_pairs(x, eps)
    counts = 1 + np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    core = counts >= min_pts
    labels = np.zeros(n, dtype=np.int64)
    if not core.any():
        return labels

    cc = core[u] & core[v]
    root = _min_label(n, u[cc], v[cc])  # root = min core index of the component
    roots = np.unique(root[core])
    dense = np.zeros(n, dtype=np.int64)
    dense[roots] = np.arange(1, roots.size + 1)
    labels[core] = dense[root[core]]

    # border: non-core point with a core neighbour -> min adjacent root
    big = np.iinfo(np.int64).max
    broot = np.full(n, big, dtype=np.int64)
    for a, b in ((u, v), (v, u)):
        m = ~core[a] & core[b]
        np.minimum.at(broot, a[m], root[b[m]])
    border = broot != big
    labels[border] = dense[broot[border]]
    return labels


def canonical(labels: np.ndarray) -> np.ndarray:
    """Relabel clusters 1..K by first appearance (noise stays 0), so two
    labelings of the same row order compare equal iff they partition the
    rows identically."""
    labels = np.asarray(labels, dtype=np.int64)
    out = np.zeros_like(labels)
    nz = labels != 0
    uniq, first, inv = np.unique(labels[nz], return_index=True, return_inverse=True)
    rank = np.empty(uniq.size, dtype=np.int64)
    rank[np.argsort(first, kind="stable")] = np.arange(1, uniq.size + 1)
    out[nz] = rank[inv]
    return out
