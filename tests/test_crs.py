"""CRS reprojection (EPSG:4326 <-> EPSG:3395) — movingspark/crs.py.

The reference gets to_crs from geopandas/pyproj (trajectory.py:176-192);
the engine implements the pair its operators use as pure Catalyst
expressions. These tests pin the Catalyst path to the numpy twins
(kernels.mercator_forward/inverse) and lock the plan properties the
module's docstring claims."""

import numpy as np
import pytest

from movingspark import crs
from movingspark.kernels import mercator_forward, mercator_inverse


@pytest.fixture(scope="module")
def grid(spark):
    rng = np.random.RandomState(42)
    lons = rng.uniform(-179.5, 179.5, 300)
    lats = rng.uniform(-84.5, 84.5, 300)
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lons, lats)], "lon double, lat double"
    )
    return lons, lats, df


def test_catalyst_forward_matches_numpy_kernel(grid):
    lons, lats, df = grid
    got = (
        crs.to_mercator(df, "lon", "lat", "xm", "ym")
        .orderBy("lon")
        .select("lon", "xm", "ym")
        .collect()
    )
    order = np.argsort(lons)
    ex, ey = mercator_forward(lons[order], lats[order])
    gx = np.array([r["xm"] for r in got])
    gy = np.array([r["ym"] for r in got])
    # ln-form vs arctanh-form agree to float noise (meters scale ~2e7)
    assert np.allclose(gx, ex, rtol=0, atol=1e-6)
    assert np.allclose(gy, ey, rtol=0, atol=1e-6)


def test_catalyst_roundtrip_and_numpy_inverse_parity(grid):
    lons, lats, df = grid
    fwd = crs.to_mercator(df, "lon", "lat", "xm", "ym")
    back = crs.from_mercator(fwd, "xm", "ym", "lon2", "lat2").orderBy("lon").collect()
    order = np.argsort(lons)
    glon = np.array([r["lon2"] for r in back])
    glat = np.array([r["lat2"] for r in back])
    assert np.allclose(glon, lons[order], rtol=0, atol=1e-9)
    assert np.allclose(glat, lats[order], rtol=0, atol=1e-9)
    # and the Catalyst inverse agrees with the numpy kernel inverse
    ex, ey = mercator_forward(lons[order], lats[order])
    klon, klat = mercator_inverse(ex, ey)
    assert np.allclose(glon, klon, rtol=0, atol=1e-9)
    assert np.allclose(glat, klat, rtol=0, atol=1e-9)


def test_reprojection_plan_is_codegen_and_single_evaluation(grid):
    """Two plan locks: (1) no Python in the plan — reprojection must be
    a JVM-side narrow map; (2) each fixed-point iteration's exp() is
    evaluated ONCE per row — if CollapseProject ever starts inlining
    the multiply-referenced non-cheap chains, the exp count in the
    final projection explodes 4^k and this trips."""
    _, _, df = grid
    out = crs.from_mercator(crs.to_mercator(df, "lon", "lat", "xm", "ym"), "xm", "ym")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    # s0 + 4 iterations, each tanh = one distinct EXP subexpression; the
    # forward path has none. Spark may print each once per textual
    # reference (2 per tanh) but an inlining blowup yields hundreds.
    assert plan.count("EXP") + plan.count("exp(") <= 24, plan.count("exp(")


def test_from_mercator_iterations_suffice_at_extreme_latitude():
    # worst case for the fixed point: |lat| -> 85 where e*sin(lat) is
    # largest; 4 unrolled steps must already sit below 1e-9 degrees
    x, y = mercator_forward(np.array([12.0]), np.array([84.99]))
    lon, lat = mercator_inverse(x, y, iterations=crs._INVERSE_ITERS)
    assert abs(lat.item() - 84.99) < 1e-9
    assert abs(lon.item() - 12.0) < 1e-12


def test_forward_is_null_outside_the_latitude_domain(spark):
    """|lat| >= 90, NaN and null have no finite Mercator y: both meter
    columns are null (never +-Inf), in Catalyst and in the DuckDB twin
    the reproject_3395 oracle runs."""
    import duckdb

    lats = [90.0, -90.0, 91.0, float("nan"), None, 45.0]
    df = spark.createDataFrame(
        [(i, 10.0, la) for i, la in enumerate(lats)], "i int, lon double, lat double"
    )
    got = crs.to_mercator(df, "lon", "lat", "xm", "ym").orderBy("i").collect()
    x_sql, y_sql = crs.mercator_xy_sql("lon", "lat")
    con = duckdb.connect()
    for r in got[:-1]:
        assert r["xm"] is None and r["ym"] is None, r
        assert con.execute(
            f"SELECT {x_sql}, {y_sql} FROM (SELECT 10.0::DOUBLE AS lon, ?::DOUBLE AS lat)",
            [r["lat"]],
        ).fetchone() == (None, None)
    ex, ey = mercator_forward(np.array([10.0]), np.array([45.0]))
    assert abs(got[-1]["xm"] - ex.item()) < 1e-6
    assert abs(got[-1]["ym"] - ey.item()) < 1e-6


def test_numpy_forward_is_nan_outside_the_latitude_domain():
    """kernels.mercator_forward mirrors the Catalyst null: NaN for both
    coordinates at lat +-90 (was +-Inf), 91 (was sin-folded onto 89)
    and NaN; in-domain values are the closed form, bit for bit."""
    from movingspark.kernels import WGS84_A, _WGS84_E

    lats = np.array([90.0, -90.0, 91.0, -91.0, np.nan, 45.0])
    x, y = mercator_forward(np.full(6, 10.0), lats)
    assert np.isnan(x[:5]).all() and np.isnan(y[:5]).all()
    s = np.sin(np.radians(45.0))
    assert x[5] == WGS84_A * np.radians(10.0)
    assert y[5] == WGS84_A * (np.arctanh(s) - _WGS84_E * np.arctanh(_WGS84_E * s))
    sx, sy = mercator_forward(10.0, 90.0)
    assert np.isnan(sx) and np.isnan(sy)
