"""The nearest kernel (grid ring walk + Z-order leaf bound pass) must be
result-identical to the brute-force distance-matrix reference on every
semantics axis: exact minima, exact-equality ties, NaN and infinite
probes, max_distance caps, duplicate right coordinates, far probes
against a clustered right side, tiny/degenerate trees."""

import numpy as np
import pytest

from spark_geo.knn import _LEAF, _nearest_all_points, _nearest_all_points_matrix

# an invalid float -> int64 cast in the kernel is undefined behaviour;
# fail on the warning NumPy prints for it instead of letting it pass
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


def _canon(res):
    li, ri, dd = res
    order = np.lexsort((ri, li))
    return li[order], ri[order], dd[order]


def _check(xs, ys, txs, tys, tpos, md=None):
    a = _canon(_nearest_all_points_matrix(xs, ys, txs, tys, tpos, md))
    b = _canon(_nearest_all_points(xs, ys, txs, tys, tpos, md))
    assert np.array_equal(a[0], b[0])
    assert np.array_equal(a[1], b[1])
    assert np.array_equal(a[2], b[2])


@pytest.mark.parametrize("n,m,md,seed", [
    (3000, 1500, None, 0),
    (3000, 1500, 0.5, 1),
    (500, 65, None, 2),      # just above the matrix fallback cutoff
    (500, 64, None, 3),      # at the fallback cutoff
    (2000, 300, 0.01, 4),    # most probes miss the cap
    (100, 4000, None, 5),    # more items than probes
])
def test_grid_matches_matrix(n, m, md, seed):
    rng = np.random.RandomState(seed)
    # quarter-degree lattice coordinates force exact-equality ties
    xs = np.round(rng.uniform(-180, 180, n) * 4) / 4
    ys = np.round(rng.uniform(-90, 90, n) * 4) / 4
    txs = np.round(rng.uniform(-180, 180, m) * 4) / 4
    tys = np.round(rng.uniform(-90, 90, m) * 4) / 4
    tpos = rng.permutation(m).astype(np.int64)
    xs[::37] = np.nan
    ys[::53] = np.nan
    _check(xs, ys, txs, tys, tpos, md)


def test_duplicate_right_coords_all_tied():
    txs = np.array([0.0, 0.0, 0.0, 5.0] * 40)
    tys = np.array([0.0, 0.0, 0.0, 5.0] * 40)
    tpos = np.arange(160, dtype=np.int64)
    xs = np.array([0.25, 4.75, np.nan])
    ys = np.array([0.0, 5.0, 1.0])
    _check(xs, ys, txs, tys, tpos)


def test_identical_right_points_single_cell():
    # span collapses to the 1e-300 floor; the grid is one occupied cell
    txs = np.full(100, 3.25)
    tys = np.full(100, -7.5)
    tpos = np.arange(100, dtype=np.int64)
    xs = np.array([3.25, 100.0])
    ys = np.array([-7.5, 80.0])
    _check(xs, ys, txs, tys, tpos)


def test_probes_far_outside_grid():
    rng = np.random.RandomState(9)
    txs = rng.uniform(-1, 1, 300)
    tys = rng.uniform(-1, 1, 300)
    tpos = np.arange(300, dtype=np.int64)
    xs = np.array([179.0, -179.0, 0.0, 0.5])
    ys = np.array([89.0, -89.0, 45.0, 0.1])
    _check(xs, ys, txs, tys, tpos)
    _check(xs, ys, txs, tys, tpos, md=1.0)  # far probes excluded by cap


def test_empty_inputs():
    e = np.empty(0)
    ei = np.empty(0, np.int64)
    li, ri, dd = _nearest_all_points(e, e, e, e, ei, None)
    assert len(li) == len(ri) == len(dd) == 0
    li, ri, dd = _nearest_all_points(np.array([1.0]), np.array([2.0]),
                                     e, e, ei, None)
    assert len(li) == 0


def test_nan_right_points_ignored_not_poisoning():
    """A right point with a NaN coordinate must be ignored (it can
    never be nearest), not poison the grid extent or the matrix
    minima."""
    txs = np.array([0.0, np.nan, 2.0, 1.0])
    tys = np.array([0.0, 1.0, np.nan, 1.0])
    tpos = np.arange(4, dtype=np.int64)
    xs = np.array([0.1, 1.9])
    ys = np.array([0.0, 1.0])
    li, ri, dd = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert set(zip(li.tolist(), ri.tolist())) == {(0, 0), (1, 3)}
    # big-tree grid path with a NaN row mixed in
    rng = np.random.RandomState(3)
    txs = rng.uniform(-10, 10, 300)
    tys = rng.uniform(-10, 10, 300)
    txs[7] = np.nan
    tpos = np.arange(300, dtype=np.int64)
    li, ri, dd = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert len(li) >= 2 and 7 not in set(ri.tolist())


def _clustered(rng, m, centers, half):
    """Right points in tight clusters on the quarter-degree lattice."""
    c = np.asarray(centers)[rng.randint(0, len(centers), m)]
    txs = c[:, 0] + np.round(rng.uniform(-half, half, m) * 4) / 4
    tys = c[:, 1] + np.round(rng.uniform(-half, half, m) * 4) / 4
    return txs, tys, rng.permutation(m).astype(np.int64)


def _global_probes(rng, n):
    """Probes over the whole globe and beyond the right side's bbox,
    with NaN rows; lattice coordinates force ties."""
    xs = np.round(rng.uniform(-400, 400, n) * 4) / 4
    ys = np.round(rng.uniform(-200, 200, n) * 4) / 4
    xs[::29] = np.nan
    ys[::31] = np.nan
    return xs, ys


@pytest.mark.parametrize("m,md,seed", [
    (3000, None, 0),
    (3000, 0.75, 1),     # below every far distance: far probes drop out
    (3000, 150.0, 2),    # above the far distances: the cap removes none
    (65, None, 3),       # just above the matrix fallback cutoff
    (65, 20.0, 4),
    (40_000, None, 5),   # enough leaves for a second box level
])
def test_far_probes_clustered_right(m, md, seed):
    """Probes far from a clustered right side take the leaf bound pass;
    it must match the matrix exactly, ties and cap included."""
    rng = np.random.RandomState(seed)
    txs, tys, tpos = _clustered(
        rng, m, [(-74.0, 40.75), (2.25, 48.75), (139.75, 35.75)], 1.0)
    xs, ys = _global_probes(rng, 1500)
    _check(xs, ys, txs, tys, tpos, md)


def test_far_probe_ties_straddle_leaves():
    """More duplicate coordinates than one leaf holds: every copy of
    the tied point is reported, across leaf boundaries."""
    n_dup = 3 * _LEAF + 5
    rng = np.random.RandomState(7)
    txs = np.concatenate([np.full(n_dup, 10.25), rng.uniform(-1, 1, 200),
                          np.full(n_dup, -10.25)])
    tys = np.concatenate([np.full(n_dup, 0.5), rng.uniform(50, 52, 200),
                          np.full(n_dup, 0.5)])
    tpos = rng.permutation(len(txs)).astype(np.int64)
    # (0, -120.5) is equidistant from both duplicate stacks
    xs = np.array([0.0, 100.0, -100.0, 10.25, np.nan])
    ys = np.array([-120.5, 0.5, 0.5, 0.5, 3.0])
    _check(xs, ys, txs, tys, tpos)
    li, _, _ = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert np.bincount(li, minlength=5).tolist() == [
        2 * n_dup, n_dup, n_dup, n_dup, 0]


@pytest.mark.parametrize("m", [10, 100])
def test_infinite_probes_give_no_row(m):
    """A probe with an infinite coordinate has no nearest neighbour, in
    the matrix path (m <= 64) and the grid path alike."""
    rng = np.random.RandomState(m)
    txs = rng.uniform(-5, 5, m)
    tys = rng.uniform(-5, 5, m)
    tpos = np.arange(m, dtype=np.int64)
    xs = np.array([np.inf, -np.inf, 1.0, 0.0, np.nan])
    ys = np.array([0.0, 1.0, np.inf, -np.inf, 2.0])
    for fn in (_nearest_all_points_matrix, _nearest_all_points):
        li, ri, dd = fn(xs, ys, txs, tys, tpos, None)
        assert len(li) == len(ri) == len(dd) == 0
    xs = np.append(xs, 0.5)
    ys = np.append(ys, 0.5)
    _check(xs, ys, txs, tys, tpos)
    li, _, _ = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert set(li.tolist()) == {5}
