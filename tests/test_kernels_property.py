"""Property-based kernel tests (hypothesis) — Spark-free, fast."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from movingspark import kernels as K
from movingspark.cells import cell_bounds_np, cell_id_np, polygon_cover
from tests import oracles

lon = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)
coord = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lon, lat, lon, lat)
def test_geodesic_symmetric_nonnegative(lo1, la1, lo2, la2):
    d1 = float(K.geodesic(lo1, la1, lo2, la2))
    d2 = float(K.geodesic(lo2, la2, lo1, la1))
    assert d1 >= 0.0
    assert abs(d1 - d2) <= 1e-6 * max(d1, 1.0)
    # never exceeds half the earth's circumference (+tolerance)
    assert d1 <= 2.004e7 + 1000


@settings(max_examples=200, deadline=None)
@given(lon, lat, lon, lat)
def test_geodesic_close_to_haversine(lo1, la1, lo2, la2):
    g = float(K.geodesic(lo1, la1, lo2, la2))
    h = float(K.haversine(lo1, la1, lo2, la2))
    # WGS84 flattening bounds the disagreement to ~0.6%
    assert abs(g - h) <= 0.01 * max(h, 1.0) + 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=40))
def test_hull_contains_all_points(pts):
    xy = np.array(pts, dtype=float)
    hull = K.convex_hull(xy)
    if len(hull) < 3:
        return  # collinear/degenerate
    inside = K.point_in_polygon(xy[:, 0], xy[:, 1], hull)
    assert inside.all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=2, max_size=30), st.floats(0.01, 100))
def test_dp_mask_keeps_endpoints(pts, tol):
    xy = np.array(pts, dtype=float)
    mask = K.dp_mask(xy, tol)
    assert mask[0] and mask[-1]
    # increasing tolerance never keeps more points
    mask2 = K.dp_mask(xy, tol * 10)
    assert mask2.sum() <= mask.sum()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lon, lat), min_size=1, max_size=50), st.integers(1, 10))
def test_cell_id_roundtrip_bounds(pts, res):
    xy = np.array(pts, dtype=float)
    ids = cell_id_np(xy[:, 0], xy[:, 1], res)
    assert (ids >= 0).all() and (ids < 4**res).all()
    b = cell_bounds_np(ids, res)
    eps = 1e-9
    assert (xy[:, 0] >= b[:, 0] - eps).all() and (xy[:, 0] <= b[:, 2] + eps).all()
    assert (xy[:, 1] >= b[:, 1] - eps).all() and (xy[:, 1] <= b[:, 3] + eps).all()


@settings(max_examples=30, deadline=None)
@given(
    st.floats(-170, 160), st.floats(-80, 70),
    st.floats(1, 20), st.floats(1, 15), st.integers(3, 7),
)
def test_polygon_cover_covers_inside_points(x0, y0, w, h, res):
    poly = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])
    cover, full = polygon_cover(poly, res)
    # any point inside the polygon must land in a covered cell
    rng = np.random.RandomState(0)
    px = x0 + rng.rand(20) * w
    py = y0 + rng.rand(20) * h
    ids = cell_id_np(px, py, res)
    assert set(ids.tolist()) <= set(cover.tolist())


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=2, max_size=20),
       st.lists(st.tuples(coord, coord), min_size=2, max_size=20))
def test_hausdorff_symmetry_identity(a, b):
    A = np.array(a, dtype=float)
    B = np.array(b, dtype=float)
    assert K.hausdorff(A, A) == 0.0
    assert abs(K.hausdorff(A, B) - K.hausdorff(B, A)) < 1e-12


@settings(max_examples=60, deadline=None)
@given(st.floats(0, 359.99), st.floats(0, 359.99))
def test_angular_difference_range(d1, d2):
    d = float(K.angular_difference(d1, d2))
    assert 0.0 <= d <= 180.0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)), min_size=1, max_size=12),
       st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)), min_size=1, max_size=12))
def test_polyline_min_distance_properties(a, b):
    A = np.array(a, dtype=float)
    B = np.array(b, dtype=float)
    d = K.polyline_min_distance(A, B)
    assert d >= 0.0
    assert abs(K.polyline_min_distance(B, A) - d) < 1e-9  # symmetric
    assert K.polyline_min_distance(A, A) < 1e-12
    # min distance never exceeds any vertex-pair distance
    vp = np.sqrt(((A[:, None, :] - B[None, :, :]) ** 2).sum(-1)).min()
    assert d <= vp + 1e-12


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)), min_size=1, max_size=12),
       st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)), min_size=1, max_size=12))
def test_discrete_hausdorff_properties(a, b):
    A = np.array(a, dtype=float)
    B = np.array(b, dtype=float)
    d = K.discrete_hausdorff_line(A, B)
    assert d >= 0.0
    assert abs(K.discrete_hausdorff_line(B, A) - d) < 1e-9
    assert K.discrete_hausdorff_line(A, A) < 1e-12  # projection clamp epsilon
    # vertex-to-LINE hausdorff never exceeds vertex-to-VERTEX hausdorff
    assert d <= K.hausdorff(A, B) + 1e-12
    # ...and the min-distance never exceeds the hausdorff distance
    assert K.polyline_min_distance(A, B) <= d + 1e-12


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(0, 100), st.floats(0, 100)), min_size=2, max_size=8))
def test_segments_intersect_polygon_consistency(seg_pts):
    # a segment fully inside the box must intersect; one far outside must not
    poly = np.array([(20, 20), (80, 20), (80, 80), (20, 80)], float)
    pts = np.array(seg_pts, dtype=float)
    ax, ay = pts[:-1, 0], pts[:-1, 1]
    bx, by = pts[1:, 0], pts[1:, 1]
    hit = oracles.segments_intersect_polygon(ax, ay, bx, by, poly)
    inside_a = K.point_in_polygon(ax, ay, poly)
    inside_b = K.point_in_polygon(bx, by, poly)
    # endpoint inside => must report intersect
    assert bool(np.all(hit[inside_a | inside_b]))
    # both endpoints strictly in the same outside half-plane => no intersect
    left = (ax < 20 - 1e-9) & (bx < 20 - 1e-9)
    assert not np.any(hit[left])
