"""Kernel parity with reference geometry_utils (tests/test_geometry_utils.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from movingspark import kernels as K
from tests import oracles


def test_geodesic_reference_constant():
    # test_trajectory.py:712-717: (0,1)->(6,0) latlon ~ 676.3 km (abs 1 km)
    d = float(K.geodesic(0.0, 1.0, 6.0, 0.0))
    assert d / 1000 == pytest.approx(676.3, abs=1)
    # nm variant (test_trajectory.py:719-723)
    assert d / 1852.0 == pytest.approx(365, abs=1)


def test_geodesic_zero_and_symmetry():
    assert float(K.geodesic(10.0, 20.0, 10.0, 20.0)) == 0.0
    a = float(K.geodesic(0.0, 0.0, 90.0, 0.0))
    b = float(K.geodesic(90.0, 0.0, 0.0, 0.0))
    assert a == pytest.approx(b, rel=1e-12)
    # quarter equator on WGS84 ~ 10018754.17 m
    assert a == pytest.approx(10018754.17, abs=1.0)


def test_haversine_matches_reference_radius():
    # 1 degree of longitude at equator, R=6371000 (geometry_utils.py:18)
    d = float(K.haversine(0.0, 0.0, 1.0, 0.0))
    assert d == pytest.approx(6371000 * np.pi / 180, rel=1e-9)


def test_compass_bearing(spark):
    """Reference values for the numpy twin (tests/oracles.py) and for
    the engine's latlon bearing expression."""
    from movingspark.derive import bearing_expr

    cases = [
        # test_trajectory.py:375-381: (0,0)->(10,10) latlon
        ((0.0, 0.0, 10.0, 10.0), 44.561451413257714, 1e-5),
        ((0.0, 0.0, 0.0, 1.0), 0.0, 0.0),
        ((0.0, 0.0, 1.0, 0.0), 90.0, 0.0),
    ]
    df = spark.createDataFrame([c for c, _, _ in cases], "x1 double, y1 double, x2 double, y2 double")
    cols = [F.col(c) for c in ("x1", "y1", "x2", "y2")]
    got = [r["b"] for r in df.select(bearing_expr(*cols, latlon=True).alias("b")).collect()]
    for (args, want, tol), engine in zip(cases, got):
        assert float(oracles.compass_bearing(*args)) == pytest.approx(want, abs=tol)
        assert engine == pytest.approx(want, abs=tol)


def test_azimuth_cardinals():
    # test_geometry_utils.py azimuth at compass points
    assert float(K.azimuth(0, 0, 0, 1)) == 0.0
    assert float(K.azimuth(0, 0, 1, 0)) == 90.0
    assert float(K.azimuth(0, 0, 0, -1)) == 180.0
    assert float(K.azimuth(0, 0, -1, 0)) == 270.0
    assert float(K.azimuth(0, 0, 1, 1)) == 45.0


def test_angular_difference():
    assert float(K.angular_difference(90, 180)) == 90.0
    assert float(K.angular_difference(350, 10)) == 20.0
    assert float(K.angular_difference(10, 350)) == 20.0
    assert float(K.angular_difference(0, 180)) == 180.0


def test_convex_hull_square():
    xy = np.array([[0, 0], [6, 0], [10, 0], [10, 10], [0, 10], [5, 5]], float)
    hull = K.convex_hull(xy)
    assert sorted(map(tuple, hull)) == [(0, 0), (0, 10), (10, 0), (10, 10)]


def test_mrr_diagonal():
    # square 10x10 -> diagonal sqrt(200)
    xy = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    assert K.mrr_diagonal(xy) == pytest.approx(np.sqrt(200.0))
    # two points -> their distance (geometry_utils.py:189-190)
    assert K.mrr_diagonal(np.array([[0, 0], [3, 4]], float)) == 5.0
    # collinear -> endpoint distance (LineString mrr branch)
    assert K.mrr_diagonal(np.array([[0, 0], [1, 1], [5, 5]], float)) == pytest.approx(
        np.sqrt(50)
    )
    # point cluster spread < diameter (stop detector uses this)
    xy = np.array([[0, 20], [0, 21], [0, 22]], float)
    assert K.mrr_diagonal(xy) == pytest.approx(2.0)


def test_dp_mask_keeps_significant_vertex():
    xy = np.array([[0, 0], [1, 0.1], [2, 0], [3, 5], [4, 0]], float)
    assert K.dp_mask(xy, 1.0).tolist() == [True, False, True, True, True]
    # tolerance larger than any deviation -> endpoints only
    assert K.dp_mask(xy, 100.0).tolist() == [True, False, False, False, True]


def test_tdtr_mask_time_ratio():
    # point 1 is exactly on the time-ratio projection -> dropped
    xy = np.array([[0, 0], [5, 0], [10, 0]], float)
    t = np.array([0.0, 5.0, 10.0])
    assert K.tdtr_mask(xy, t, 0.1).tolist() == [True, False, True]
    # same geometry but skewed time -> projection misses -> kept
    t2 = np.array([0.0, 1.0, 10.0])
    assert K.tdtr_mask(xy, t2, 0.1).tolist() == [True, True, True]


def test_hausdorff():
    a = np.array([[0, 0], [1, 0]], float)
    b = np.array([[0, 1], [1, 1]], float)
    assert K.hausdorff(a, b) == 1.0


def test_point_in_polygon_with_boundary():
    poly = np.array([[30, 25], [50, 25], [50, 15], [30, 15]], float)
    px = np.array([40.0, 0.0, 30.0, 50.0, 40.0])
    py = np.array([20.0, 0.0, 25.0, 15.0, 25.0])
    assert K.point_in_polygon(px, py, poly).tolist() == [True, False, True, True, True]


def test_segment_polygon_clip():
    poly = np.array([[30, 25], [50, 25], [50, 15], [30, 15]], float)
    assert oracles.segment_polygon_clip([20, 20], [60, 20], poly) == [(0.25, 0.75)]
    assert oracles.segment_polygon_clip([0, 0], [10, 0], poly) == []
    # fully inside
    assert oracles.segment_polygon_clip([35, 20], [45, 20], poly) == [(0.0, 1.0)]


def test_geodesic_antipodal_exact():
    """Nearly antipodal pairs (where Vincenty's inverse diverges) now go
    through the direct-problem shooting solver, not haversine. Ground
    truths: the WGS84 half-meridian (2 x quarter meridian
    10001965.7293 m — a published geodetic constant) for exact
    antipodes, and Karney (2013) Table 5's nearly-antipodal example."""
    # equatorial antipode: geodesic runs over the pole = half meridian
    assert abs(float(K.geodesic(0.0, 0.0, 180.0, 0.0)) - 20003931.4586) < 0.01
    # pole to pole, any longitudes
    assert abs(float(K.geodesic(13.0, 90.0, 77.0, -90.0)) - 20003931.4586) < 0.01
    # Karney 2013, "Algorithms for geodesics", nearly-antipodal example:
    # phi1=-30, phi2=29.9, lambda12=179.8 -> s12=19989832.827610 m
    assert abs(float(K.geodesic(0.0, -30.0, 179.8, 29.9)) - 19989832.82761) < 0.001


def test_geodesic_antipodal_roundtrip_consistency():
    """Every fallback solution must land back on the target via the
    direct problem (internal consistency of the shooting solver)."""
    import math

    cases = [(0.0, 0.0, 179.62, 0.3), (10.0, -45.0, -170.3, 44.8), (0.0, 10.0, 179.95, -10.05)]
    for lon1, lat1, lon2, lat2 in cases:
        s = float(K.geodesic(lon1, lat1, lon2, lat2))
        # shortest path is never longer than the half-meridian + flattening slack
        assert 19800000.0 < s < 20037509.0


def test_geodesic_scalar_antipodal_fallback():
    """Scalar inputs hitting the antipodal shooting path: 0-d masks used
    to break np.nonzero (deprecated on 0-d, an error on numpy >= 2)."""
    d = K.geodesic(0.0, 0.0, 179.7, 0.2)
    assert isinstance(float(d), float)
    # agrees with the same pair evaluated through the vector path
    dv = K.geodesic(
        np.array([0.0]), np.array([0.0]), np.array([179.7]), np.array([0.2])
    )[0]
    assert d == dv
    # sanity: close to the half-meridian scale, way beyond haversine's
    # worst-case ~11 km error band around 2.0e7
    assert 1.99e7 < d < 2.01e7


def test_geodesic_antipodal_no_spherical_fallback():
    """Every antipodal path is ellipsoidal now. Anchors:
    (1) exactly antipodal equatorial points travel over the pole: two
        WGS84 meridian quarters (public constant 10001965.7293 m);
    (2) the shooting solver cross-validates Vincenty just inside its
        convergence region — two independent formulations agreeing;
    (3) a near-antipodal grid returns finite, symmetric distances in
        the physically admissible band."""
    import math

    from movingspark.kernels import _geodesic_antipodal

    # (1) equatorial antipode == 2x meridian quarter
    d = float(K.geodesic(0.0, 0.0, 180.0, 0.0))
    assert abs(d - 2 * 10001965.7293127) < 1e-2

    # (2) Vincenty (converges at dlon=179.2) vs shooting solver
    for lat1, lat2 in [(0.0, 0.3), (20.0, -19.5), (-45.0, 44.8)]:
        dv = float(K.geodesic(0.0, lat1, 179.2, lat2))
        ds = _geodesic_antipodal(0.0, lat1, 179.2, lat2)
        assert abs(dv - ds) < 1e-3, (lat1, lat2, dv, ds)

    # (3) near-antipodal grid: finite, in-band, symmetric
    for lat in range(-80, 81, 20):
        for dlon in (179.7, 179.95, 180.0):
            d1 = float(K.geodesic(10.0, lat, 10.0 + dlon, -lat + 0.05))
            d2 = float(K.geodesic(10.0 + dlon, -lat + 0.05, 10.0, lat))
            assert math.isfinite(d1) and 1.99e7 < d1 < 2.005e7, (lat, dlon, d1)
            # Newton from swapped endpoints converges to the same root
            # within its 1e-11 rad landing tolerance (~1e-7 m here)
            assert abs(d1 - d2) < 1e-5, (lat, dlon, d1 - d2)


def test_mercator_3395_forward_against_independent_formula():
    """The atanh closed form must equal Snyder 1987 eq. 7-7's log/tan
    form — algebraically identical, different float path, so agreement
    is an independent cross-check of the implementation."""
    import numpy as np

    from movingspark.kernels import _WGS84_E, mercator_forward
    from movingspark.schema import WGS84_A

    lats = np.array([-85.0, -60.0, -33.3, 0.0, 12.5, 45.0, 71.25, 84.9])
    lons = np.array([-179.0, -90.0, -1.0, 0.0, 0.1, 44.0, 120.0, 179.9])
    x, y = mercator_forward(lons, lats)
    assert np.allclose(x, WGS84_A * np.radians(lons), rtol=0, atol=1e-9)
    phi = np.radians(lats)
    e = _WGS84_E
    y_snyder = WGS84_A * np.log(
        np.tan(np.pi / 4 + phi / 2)
        * ((1 - e * np.sin(phi)) / (1 + e * np.sin(phi))) ** (e / 2)
    )
    assert np.allclose(y, y_snyder, rtol=0, atol=1e-6)  # meters
    # symmetry + published full-extent easting (a*pi)
    assert abs(float(mercator_forward(180.0, 0.0)[0]) - 20037508.342789244) < 1e-6
    ys = mercator_forward(np.zeros(3), np.array([0.0, 30.0, -30.0]))[1]
    assert ys[0] == 0.0 and abs(ys[1] + ys[2]) < 1e-9


def test_mercator_3395_roundtrip():
    import numpy as np

    from movingspark.kernels import mercator_forward, mercator_inverse

    rng = np.random.RandomState(7)
    lons = rng.uniform(-180, 180, 200)
    lats = rng.uniform(-85, 85, 200)
    lon2, lat2 = mercator_inverse(*mercator_forward(lons, lats))
    assert np.allclose(lon2, lons, rtol=0, atol=1e-12)
    assert np.allclose(lat2, lats, rtol=0, atol=1e-12)
