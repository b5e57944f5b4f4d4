"""Bit-identity of the scalar-loop kernels against their matrix/np.cross
oracles (tests/oracles.py) — Spark-free, fast.

Every comparison is np.array_equal (NaN-aware where the input has NaN):
the engine kernels promise the same floats, not merely close ones."""

import warnings

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from movingspark import kernels as K
from movingspark import similarity, smooth
from movingspark.smooth import _kf_rts
from tests import oracles

coord = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False)
grid = st.integers(-3, 3).map(float)  # duplicate- and collinear-heavy


def _point_sets(seed: int, count: int):
    """Random, duplicate-heavy, collinear and 1e6-offset point sets,
    1 to 80 points each."""
    rng = np.random.default_rng(seed)
    for i in range(count):
        n = int(rng.integers(1, 80))
        xy = rng.normal(size=(n, 2)) * 10.0
        kind = i % 4
        if kind == 1:
            xy = np.round(xy / 5.0)  # many exact duplicates
        elif kind == 2:
            xy[:, 1] = 0.5 * xy[:, 0] - 3.0  # collinear
        elif kind == 3:
            xy += 1e6  # large offset: catastrophic cancellation in the turn test
        yield xy


def _assert_same_hull(xy):
    got, want = K.convex_hull(xy), oracles.convex_hull_np(xy)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


def test_convex_hull_matches_np_cross_oracle():
    for xy in _point_sets(1, 2000):
        _assert_same_hull(xy)


def test_convex_hull_small_and_degenerate_inputs():
    for xy in (
        [[1.0, 2.0]],
        [[1.0, 2.0], [3.0, 4.0]],
        [[1.0, 2.0], [1.0, 2.0], [1.0, 2.0]],
        [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0]],
        [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.5, 0.5]],
        [[1e6 + 0.1, 1e6], [1e6 + 0.2, 1e6 + 1e-9], [1e6 + 0.3, 1e6 + 2e-9]],
    ):
        _assert_same_hull(np.array(xy))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(coord, coord) | st.tuples(grid, grid), min_size=1, max_size=40))
def test_convex_hull_matches_oracle_property(pts):
    _assert_same_hull(np.array(pts, dtype=float))


def test_dp_mask_matches_np_cross_oracle():
    rng = np.random.default_rng(2)
    for xy in _point_sets(3, 1000):
        if len(xy) < 2:
            continue
        xy = np.cumsum(xy, axis=0)
        tol = float(rng.uniform(0.0, 20.0))
        assert np.array_equal(K.dp_mask(xy, tol), oracles.dp_mask_np(xy, tol))


def test_dp_mask_split_decision_is_exact_at_the_tolerance():
    """With the tolerance set to the oracle's own largest chord distance,
    the oracle does not split (d > tol is False) and with the next float
    below it does; a kernel whose distance differed by one ulp would
    decide the other way in one of the two."""
    checked = 0
    for xy in _point_sets(5, 800):
        if len(xy) < 3:
            continue
        xy = np.cumsum(xy, axis=0)
        d = oracles.chord_distances_np(xy, 0, len(xy) - 1)
        top = float(d.max())
        for tol in (top, np.nextafter(top, -np.inf)):
            assert np.array_equal(K.dp_mask(xy, tol), oracles.dp_mask_np(xy, tol))
        checked += 1
    assert checked > 500


def _dts_cases(rng, n: int):
    """Regular sampling, duplicate timestamps (dt = 0 hits the 1e-9
    clamp), and 2-4 h observation gaps."""
    regular = np.full(n, 10.0)
    dup = rng.choice([0.0, 0.0, 1.0, 5.0], size=n)
    gaps = rng.uniform(1.0, 60.0, n)
    gaps[rng.random(n) < 0.1] = rng.uniform(7200.0, 14400.0)
    for dts in (regular, dup, gaps):
        dts = dts.copy()
        dts[0] = 0.0
        yield dts


def _assert_same_kalman(zx, zy, dts, q, r):
    sx, sy = _kf_rts(zx, zy, dts, q, r)
    assert np.array_equal(sx, oracles.kf_rts_1d(zx, dts, q, r), equal_nan=True)
    assert np.array_equal(sy, oracles.kf_rts_1d(zy, dts, q, r), equal_nan=True)


def test_kalman_matches_per_axis_matrix_oracle():
    rng = np.random.default_rng(6)
    for xy in _point_sets(7, 600):
        for dts in _dts_cases(rng, len(xy)):
            _assert_same_kalman(xy[:, 0], xy[:, 1], dts, 0.25, 1.0)


def test_kalman_single_point_two_points_and_noise_levels():
    for q, r in ((0.25, 1.0), (1e-4, 100.0), (9.0, 0.01)):
        _assert_same_kalman(np.array([3.0]), np.array([-1.0]), np.array([0.0]), q, r)
        _assert_same_kalman(np.array([3.0, 4.0]), np.array([-1.0, 2.0]), np.array([0.0, 0.0]), q, r)
        _assert_same_kalman(np.array([3.0, 4.0]), np.array([-1.0, 2.0]), np.array([0.0, 9000.0]), q, r)


def test_kalman_latlon_mercator_frame_matches_oracle():
    rng = np.random.default_rng(8)
    lon = 10.0 + np.cumsum(rng.normal(size=200) * 1e-3)
    lat = 50.0 + np.cumsum(rng.normal(size=200) * 1e-3)
    mx, my = K.mercator_forward(lon, lat)
    for dts in _dts_cases(rng, 200):
        _assert_same_kalman(mx, my, dts, 0.25, 1.0)


def test_kalman_non_finite_measurements_propagate_like_oracle():
    z = np.array([0.0, 1.0, np.nan, 3.0, np.inf, 5.0, -np.inf, 7.0])
    dts = np.array([0.0, 1.0, 1.0, 0.0, 1.0, 3600.0, 1.0, 1.0])
    with np.errstate(invalid="ignore"):  # the oracle's matmul warns on inf*0
        _assert_same_kalman(z, z[::-1].copy(), dts, 0.25, 1.0)
        # an infinite first fix is where the folded 0 * x terms of F x differ
        _assert_same_kalman(np.roll(z, 4), np.roll(z, 4), dts, 0.25, 1.0)


def test_kalman_rejects_noise_free_measurements():
    # r = 0 with q = 0 would divide by a zero innovation variance
    with pytest.raises(ValueError, match="measurement_noise_std"):
        smooth.kalman_smooth(None, process_noise_std=0.0, measurement_noise_std=0.0)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(coord, coord, st.sampled_from([0.0, 0.5, 1.0, 30.0, 7200.0, 14400.0])),
        min_size=1,
        max_size=30,
    )
)
def test_kalman_matches_oracle_property(rows):
    a = np.array(rows, dtype=float)
    dts = a[:, 2].copy()
    dts[0] = 0.0
    _assert_same_kalman(a[:, 0].copy(), a[:, 1].copy(), dts, 0.25, 1.0)


@pytest.mark.parametrize("dy", [1e-300, 1e-306, -1e-306])
def test_point_in_polygon_near_horizontal_edge_is_warning_free(dy):
    """A near-horizontal edge makes the ray-crossing x overflow for rows
    outside its y-span; the kernel must neither warn nor misclassify."""
    poly = np.array([(0.0, 0.0), (1000.0, dy), (1000.0, 5.0), (0.0, 5.0)])
    px = np.array([500.0, 2000.0, 500.0, -1.0])
    py = np.array([2.0, 2.0, -1.0, 2.0])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = K.point_in_polygon(px, py, poly)
    assert got.tolist() == [True, False, False, False]


@pytest.mark.parametrize("n", [0, 1, 2, 257])
@pytest.mark.parametrize("n_bands,n_planes", [(4, 16), (1, 1), (3, 31), (2, 60)])
def test_band_keys_match_loop_oracle(n, n_bands, n_planes):
    rng = np.random.default_rng(n * 100 + n_planes)
    signs = rng.random((n, n_bands * n_planes)) > 0.5
    got = similarity._band_keys(signs, n_bands, n_planes)
    want = np.array(oracles.band_keys_loop(signs, n_bands, n_planes), dtype=np.int64)
    assert got.dtype == np.int64
    assert np.array_equal(got, want.reshape(n, n_bands))
