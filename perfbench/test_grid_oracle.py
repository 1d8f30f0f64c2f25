"""The benchmark's label oracle must agree with the repository's
sequential DBSCAN oracle. Run from the repository root:

    python3 -m pytest perfbench/test_grid_oracle.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from grid_oracle import canonical, grid_dbscan  # noqa: E402
from tests.oracle import seq_dbscan  # noqa: E402
from workloads import gaussian_points  # noqa: E402


@pytest.mark.parametrize(
    "seed,n,d,k,eps,min_pts",
    [
        (0, 1500, 2, 8, 0.5, 5),
        (1, 2000, 3, 20, 0.4, 10),
        (2, 1200, 5, 6, 1.2, 4),
        (3, 1800, 3, 12, 0.9, 1),
        (4, 600, 3, 3, 0.05, 3),
    ],
)
def test_grid_dbscan_matches_seq_dbscan(seed, n, d, k, eps, min_pts):
    x = gaussian_points(np.random.default_rng(seed), n, d, k, span=20.0, sigma=0.5, noise=0.1)
    want = seq_dbscan(x, eps, min_pts)
    got = grid_dbscan(x, eps, min_pts)
    # same numbering convention, so the raw labels match, not only the partition
    np.testing.assert_array_equal(got, want)
    assert (want > 0).any()
    assert (want == 0).any() == (min_pts > 1)


def test_boundary_pairs_on_a_lattice():
    # points exactly eps apart: the <= comparison must keep them linked
    x = np.array([[i * 0.5, 0.0, 0.0] for i in range(40)], dtype=np.float64)
    np.testing.assert_array_equal(grid_dbscan(x, 0.5, 3), seq_dbscan(x, 0.5, 3))


def test_canonical_is_permutation_invariant():
    a = np.array([3, 3, 0, 1, 2, 1])
    b = np.array([7, 7, 0, 5, 9, 5])
    np.testing.assert_array_equal(canonical(a), canonical(b))
    np.testing.assert_array_equal(canonical(a), [1, 1, 0, 2, 3, 2])
