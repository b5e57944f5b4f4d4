"""Bit-identity of the scalar-loop kernels against their matrix/np.cross
oracles (tests/oracles.py) — Spark-free, fast.

Every comparison is np.array_equal (NaN-aware where the input has NaN):
the engine kernels promise the same floats, not merely close ones."""

import warnings

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from movingspark import cells, similarity, smooth
from movingspark import kernels as K
from perfbench.gen import make_polygons
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


def _cover_cases(seed: int, count: int):
    """(polygon, res, bounds) at res 3-10, cycling through five kinds:
    bench hexagons (world bounds up to res 6), concave stars, vertices on
    integer and on half-integer lattice points of a unit-cell grid (edges
    run along cell lines), and polygons cut by `bounds` on the low or the
    high side. Outside the lattice kinds the grid is sized so the polygon
    spans 2-8 cells, over bounds whose cell width is not a dyadic
    fraction (so x0 + w and the next cell's x0 differ by an ulp)."""
    rng = np.random.default_rng(seed)
    for i in range(count):
        res = int(rng.integers(3, 11))
        n = 1 << res
        kind = i % 5
        if kind == 0:
            centre = (rng.uniform(-150, 150), rng.uniform(-60, 60))
            poly = np.array(make_polygons(rng, [centre])[0][1])
        elif kind == 1:
            k = int(rng.integers(5, 13))
            ang = np.arange(2 * k) * np.pi / k + rng.uniform(0, np.pi)
            rad = np.where(np.arange(2 * k) % 2 == 0, 1.0, rng.uniform(0.2, 0.5)) * rng.uniform(1, 10)
            poly = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)]) + rng.uniform(-50, 50, 2)
        else:
            k = int(rng.integers(3, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(1, 6, k)
            poly = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
        lo, hi = poly.min(axis=0), poly.max(axis=0)
        if kind in (2, 3):
            q = 1.0 if kind == 2 else 2.0
            poly = np.round(poly * q) / q
            o = float(n // 2 + rng.integers(-2, 3))
            bounds = (-o, -o, n - o, n - o)
        elif kind == 0 and res <= 6:
            bounds = cells.WORLD
        else:
            cw, ch = (hi - lo) / rng.uniform(2, 8) + 1e-3
            ox, oy = lo - rng.uniform(0, 1, 2) * (hi - lo)
            if kind == 4:
                ox, oy = lo + rng.uniform(0.2, 0.7, 2) * (hi - lo)
                if i % 2:
                    ox, oy = ox - n * cw, oy - n * ch
            bounds = (float(ox), float(oy), float(ox + n * cw), float(oy + n * ch))
        yield poly, res, bounds


def _assert_same_cover(poly, res, bounds=cells.WORLD):
    got, got_full = cells.polygon_cover(poly, res, bounds)
    want, want_full = oracles.polygon_cover_loop(poly, res, bounds)
    assert got.dtype == want.dtype and got_full.dtype == want_full.dtype
    assert np.array_equal(got, want)
    assert np.array_equal(got_full, want_full)
    return got_full


def test_polygon_cover_matches_cell_loop_oracle():
    n_full = n_clipped = 0
    for poly, res, bounds in _cover_cases(1, 1000):
        n_full += int(_assert_same_cover(poly, res, bounds).sum())
        lo, hi = poly.min(axis=0), poly.max(axis=0)
        n_clipped += bool(lo[0] < bounds[0] or lo[1] < bounds[1] or hi[0] > bounds[2] or hi[1] > bounds[3])
    assert n_full > 1000 and n_clipped > 100


def test_polygon_cover_matches_oracle_on_a_2000_vertex_polygon():
    rng = np.random.default_rng(7)
    ang = np.linspace(0, 2 * np.pi, 2000, endpoint=False)
    rad = 8 + 1.5 * np.sin(37 * ang) + rng.uniform(-0.5, 0.5, 2000)
    poly = np.column_stack([20 + rad * np.cos(ang), -10 + 0.7 * rad * np.sin(ang)])
    full = _assert_same_cover(poly, 6)
    assert full.any() and (~full).any()


def test_polygon_cover_uses_each_cells_own_far_edge():
    """The loop takes a cell's x1 as x0 + w, which can differ by an ulp
    from the next cell's x0 = minx + (ix + 1) * w. Tiny triangles with
    their apex on whichever of the two lies further right pin that."""
    rng = np.random.default_rng(2)
    n_cases = 0
    while n_cases < 200:
        res = int(rng.integers(3, 11))
        n = 1 << res
        minx, miny = rng.uniform(-50, 50, 2)
        cw, ch = rng.uniform(0.01, 3, 2)
        bounds = (float(minx), float(miny), float(minx + n * cw), float(miny + n * ch))
        w, h = (bounds[2] - bounds[0]) / n, (bounds[3] - bounds[1]) / n
        ix = np.arange(n - 1)
        own, nxt = (bounds[0] + ix * w) + w, bounds[0] + (ix + 1) * w
        differ = np.flatnonzero(own != nxt)
        if not len(differ):
            continue
        i = int(rng.choice(differ))
        vx, ym = max(own[i], nxt[i]), bounds[1] + (rng.integers(0, n) + 0.5) * h
        poly = np.array([[vx, ym], [vx + 0.3 * w, ym - 0.2 * h], [vx + 0.3 * w, ym + 0.2 * h]])
        _assert_same_cover(poly, res, bounds)
        n_cases += 1


@pytest.mark.parametrize("elems", [1, 100, 4096])
def test_polygon_cover_is_the_same_in_any_chunking(monkeypatch, elems):
    cases = list(_cover_cases(3, 200))
    want = [cells.polygon_cover(*case) for case in cases]
    monkeypatch.setattr(cells, "_COVER_CHUNK_ELEMS", elems)
    for case, (want_cells, want_full) in zip(cases, want):
        got_cells, got_full = cells.polygon_cover(*case)
        assert np.array_equal(got_cells, want_cells) and np.array_equal(got_full, want_full)
