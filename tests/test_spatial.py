"""Cells / spatial joins / overlay clip (SURVEY.md §2.3, §2.9 X19)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from movingspark import cells, joins, overlay
from tests import oracles
from tests.conftest import rows_to_points


def test_cell_id_expr_matches_numpy(spark):
    xs = np.array([-179.9, 0.0, 10.5, 179.9, -180.0, 180.0])
    ys = np.array([-89.9, 0.0, 45.1, 89.9, -90.0, 90.0])
    res = 8
    expected = cells.cell_id_np(xs, ys, res).tolist()
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double"
    )
    got = [r["c"] for r in df.select(cells.cell_id_expr("x", "y", res).alias("c")).collect()]
    assert got == expected


@pytest.mark.parametrize("bounds", [cells.WORLD, (1e6, 1e6, 1e6 + 64, 1e6 + 8)])
def test_cell_id_expr_matches_numpy_at_every_res_and_non_finite_input(spark, bounds):
    """The bitwise Morton interleave gives cell_id_np's ids at res 1-16,
    including out-of-bounds, +-Inf and NaN coordinates (NaN lands in
    row/column 0, the rest in the nearest border cell)."""
    rng = np.random.default_rng(16)
    minx, miny, maxx, maxy = bounds
    span = np.array([maxx - minx, maxy - miny])
    xy = np.array([minx, miny]) + rng.uniform(-0.1, 1.1, (400, 2)) * span
    odd = [np.nan, np.inf, -np.inf, 1e300, -1e300, minx, maxx, miny, maxy]
    ox, oy = (g.ravel() for g in np.meshgrid(odd, odd))
    xs, ys = np.concatenate([xy[:, 0], ox]), np.concatenate([xy[:, 1], oy])
    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double")
    got = df.select(*[cells.cell_id_expr("x", "y", res, bounds).alias(f"c{res}") for res in range(1, 17)]).collect()
    for res in range(1, 17):
        assert [r[f"c{res}"] for r in got] == cells.cell_id_np(xs, ys, res, bounds).tolist(), res


def test_cell_id_sql_matches_expr(spark):
    import duckdb

    res = 6
    xs = np.linspace(-179, 179, 37)
    ys = np.linspace(-89, 89, 37)
    expected = cells.cell_id_np(xs, ys, res).tolist()
    sql = cells.cell_id_sql("x", "y", res)
    got = duckdb.sql(
        "SELECT " + sql + " AS c FROM (SELECT unnest(?) x, unnest(?) y)",
        params=[xs.tolist(), ys.tolist()],
    ).df()["c"].tolist()
    assert got == expected


def test_polygon_cover_and_bounds():
    poly = np.array([[30, 25], [50, 25], [50, 15], [30, 15]], float)
    res = 6
    cover, full = cells.polygon_cover(poly, res)
    assert len(cover) > 0
    b = cells.cell_bounds_np(cover, res)
    # every covered cell's box overlaps the polygon bbox
    assert (b[:, 2] >= 30).all() and (b[:, 0] <= 50).all()
    assert (b[:, 3] >= 15).all() and (b[:, 1] <= 25).all()
    # at res 6 the world cell is 5.625 x 2.8125 deg -> some cells fully inside
    assert full.any() and (~full).any()


def test_point_in_polygon_join(spark):
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 40, 20),  # inside
            (1, "2020-01-01T00:00:10", 0, 0),  # outside
            (2, "2020-01-01T00:00:00", 31, 16),  # inside
            (2, "2020-01-01T00:00:10", 60, 20),  # outside
        ],
    )
    poly = [(30, 25), (50, 25), (50, 15), (30, 15)]
    hits = joins.point_in_polygon_join(df, [("zone1", poly)], res=6)
    got = {(r["traj_id"], r["x"], r["y"], r["poly_id"]) for r in hits.collect()}
    assert got == {("1", 40.0, 20.0, "zone1"), ("2", 31.0, 16.0, "zone1")}


def test_intersecting_traj_ids(spark):
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 40, 20),
            (1, "2020-01-01T00:00:10", 0, 0),
            (2, "2020-01-01T00:00:00", 0, 0),
            (2, "2020-01-01T00:00:10", 1, 1),
        ],
    )
    poly = [(30, 25), (50, 25), (50, 15), (30, 15)]
    ids = {r["traj_id"] for r in joins.intersecting_traj_ids(df, poly, res=6).collect()}
    assert ids == {"1"}


def test_point_in_polygon_with_holes(spark):
    """Shapely interiors semantics: inside-the-hole is OUTSIDE the
    polygon, hole boundary still counts as inside; both the codegen'd
    expression path and the numpy kernel agree."""
    from movingspark import kernels

    outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
    hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
    # kernel
    px = np.array([5.0, 2.0, 4.0, 11.0])   # hole-center, annulus, hole-edge, outside
    py = np.array([5.0, 2.0, 5.0, 5.0])
    got = kernels.point_in_polygon(px, py, np.array(outer, float), [np.array(hole, float)]).tolist()
    assert got == [False, True, True, False]
    # distributed join with a holed polygon spec
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 5, 5),    # in the hole -> excluded
            (2, "2020-01-01T00:00:00", 2, 2),    # annulus -> match
            (3, "2020-01-01T00:00:00", 4, 5),    # on hole boundary -> match
            (4, "2020-01-01T00:00:00", 11, 5),   # outside
        ],
    )
    hits = joins.point_in_polygon_join(
        df, [("donut", (outer, [hole]))], res=5, bounds=(0.0, 0.0, 16.0, 16.0)
    )
    assert {r["traj_id"] for r in hits.collect()} == {"2", "3"}


def test_intersecting_traj_ids_line(spark):
    """Line semantics (trajectory.py:1533-1546, overlay.py:86-91; mirrors
    test_trajectory_collection.py:179-237): traj 1 CROSSES the polygon
    between two outside observations (no vertex inside) and must match;
    the point-based variant misses it. Traj 2 stays outside; traj 3
    merely touches a corner (shapely intersects => True)."""
    df = rows_to_points(
        spark,
        [
            # crosses the box horizontally at y=20, both endpoints outside
            (1, "2020-01-01T00:00:00", 10, 20),
            (1, "2020-01-01T00:00:10", 70, 20),
            # entirely outside, segment passes below the box
            (2, "2020-01-01T00:00:00", 10, 5),
            (2, "2020-01-01T00:00:10", 70, 5),
            # touches corner (30,15) only: the line y=45-x grazes the
            # corner and is otherwise left of / below the box
            (3, "2020-01-01T00:00:00", 20, 25),
            (3, "2020-01-01T00:00:10", 40, 5),
        ],
    )
    poly = [(30, 25), (50, 25), (50, 15), (30, 15)]
    line_ids = {r["traj_id"] for r in joins.intersecting_traj_ids_line(df, poly).collect()}
    assert line_ids == {"1", "3"}
    point_ids = {r["traj_id"] for r in joins.intersecting_traj_ids(df, poly, res=6).collect()}
    assert point_ids == set()  # no vertex inside -> point-based misses all
    # get_intersecting returns the full rows of matching trajectories
    rows = joins.get_intersecting(df, poly).collect()
    assert {r["traj_id"] for r in rows} == {"1", "3"} and len(rows) == 4


def test_segments_intersect_polygon_kernel_matches_expr(spark):
    """The numpy twin (tests/oracles.py segments_intersect_polygon) and
    the line test's generated segment-edge condition agree segment for
    segment: each segment is its own two-point trajectory."""
    rng = np.random.default_rng(7)
    n = 400
    ax, ay = rng.uniform(0, 60, n), rng.uniform(0, 40, n)
    bx, by = ax + rng.uniform(-30, 30, n), ay + rng.uniform(-30, 30, n)
    poly = np.array([(30, 25), (50, 25), (50, 15), (30, 15)], float)
    want = oracles.segments_intersect_polygon(ax, ay, bx, by, poly)
    rows = [
        (i, f"2020-01-01T00:00:{j:02d}", float(x), float(y))
        for i, seg in enumerate(zip(ax, ay, bx, by))
        for j, (x, y) in enumerate((seg[:2], seg[2:]))
    ]
    got = {int(r["traj_id"]) for r in joins.intersecting_traj_ids_line(rows_to_points(spark, rows), poly).collect()}
    assert got == set(np.flatnonzero(want).tolist())
    assert 0 < len(got) < n


def _wiggly_ring(cx, cy, r, k, rng):
    ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
    rad = r * (1 + 0.15 * np.sin(7 * ang)) + rng.uniform(-0.05, 0.05, k) * r
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _boundary_points(ring):
    """Every vertex and every edge midpoint of a ring."""
    return np.concatenate([ring, (ring + np.roll(ring, -1, axis=0)) / 2])


def _star(cx, cy, r, k, rng):
    """A k-vertex star: alternate vertices at radius r and 0.4 r."""
    ang = (np.arange(k) + rng.uniform(-0.2, 0.2, k)) * (2 * np.pi / k)
    rad = r * np.where(np.arange(k) % 2 == 0, 1.0, 0.4)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _line_hits(spark, tracks, poly):
    """(engine ids, numpy twin ids) of the three-point tracks whose line
    meets poly; each track's segments are the first point against
    itself, then each step."""
    rows = [(i, f"2020-01-01T00:00:{j:02d}", x, y) for i, tr in enumerate(tracks) for j, (x, y) in enumerate(tr)]
    got = {int(r["traj_id"]) for r in joins.intersecting_traj_ids_line(rows_to_points(spark, rows), poly).collect()}
    a, b = tracks[:, [0, 0, 1]], tracks
    seg_hit = oracles.segments_intersect_polygon(
        a[..., 0].ravel(), a[..., 1].ravel(), b[..., 0].ravel(), b[..., 1].ravel(), poly
    ).reshape(len(tracks), 3)
    return got, set(np.flatnonzero(seg_hit.any(axis=1)).tolist())


@pytest.mark.parametrize("n_verts", [4, 12, 300])
def test_line_test_matches_numpy_twin(spark, n_verts):
    """intersecting_traj_ids_line gives the numpy twin's trajectories on
    a 4-vertex rectangle, a 12-vertex star and a 300-vertex ring (whose
    cover is past joins._PIP_SLOT_CAP, so its vertex test takes the
    point join's numpy fallback): random tracks, tracks from vertices and
    edge midpoints, and tracks that cross the polygon between two
    outside observations."""
    rng = np.random.default_rng(n_verts)
    if n_verts == 4:
        poly = np.array([(12.0, 16.0), (28.0, 16.0), (28.0, 4.0), (12.0, 4.0)])
    elif n_verts == 12:
        poly = _star(20.0, 10.0, 8.0, 12, rng)
    else:
        poly = _wiggly_ring(20.0, 10.0, 8.0, 300, rng)
    starts = np.concatenate([rng.uniform([10, 0], [30, 20], (60, 2)), _boundary_points(poly)[:: max(1, n_verts // 12)]])
    steps = rng.normal(0.0, 2.0, (len(starts), 2, 2))
    tracks = np.concatenate([starts[:, None], starts[:, None] + np.cumsum(steps, axis=1)], axis=1)
    # across the polygon's middle, both ends far outside
    across = np.array([[(-10.0, 10.0 + d), (-5.0, 10.0 + d), (45.0, 10.0 - d)] for d in (-0.5, 0.0, 0.5)])
    got, want = _line_hits(spark, np.concatenate([tracks, across]), poly)
    assert got == want
    assert 0 < len(want) < len(tracks) and set(range(len(tracks), len(tracks) + 3)) <= want


def test_large_polygon_refines_through_the_numpy_kernels(spark):
    """When a boundary cover row has more than joins._PIP_SLOT_CAP active
    edges the point join refines boundary cells in a mapInArrow pass;
    the line test's vertex test is that join. Both must agree with the
    numpy kernels, holes and boundary points included."""
    from movingspark import kernels

    rng = np.random.default_rng(3)
    outer = _wiggly_ring(20.0, 10.0, 8.0, 300, rng)
    hole = _wiggly_ring(20.5, 9.5, 3.0, 24, rng)
    assert joins._cover_table([("ring", (outer, [hole]))], 8, cells.WORLD)[1] is None
    assert joins._cover_table([("ring", outer)], joins._POLY_RES, joins._poly_bounds(outer))[1] is None
    xy = np.concatenate(
        [rng.uniform([10, 0], [30, 20], (400, 2)), _boundary_points(outer), _boundary_points(hole)]
    )
    df = rows_to_points(spark, [(i, "2020-01-01T00:00:00", x, y) for i, (x, y) in enumerate(xy)])
    hits = joins.point_in_polygon_join(df, [("ring", (outer, [hole]))], res=8)
    assert "MapInArrow" in hits._jdf.queryExecution().executedPlan().toString()
    got = sorted((int(r["traj_id"]), r["poly_id"]) for r in hits.collect())
    pts = sorted((int(r["traj_id"]), r["x"], r["y"]) for r in df.collect())
    ids, px, py = (np.array(c) for c in zip(*pts))
    inside = kernels.point_in_polygon(px, py, outer, [hole])
    assert got == [(int(i), "ring") for i in ids[inside]]
    assert inside[400:].all() and 0 < inside[:400].sum() < 400

    # three-point tracks through the ring: random, and from a boundary point
    starts = np.concatenate([rng.uniform([10, 0], [30, 20], (60, 2)), _boundary_points(outer)[::10]])
    steps = rng.normal(0.0, 2.0, (len(starts), 2, 2))
    tracks = np.concatenate([starts[:, None], starts[:, None] + np.cumsum(steps, axis=1)], axis=1)
    line_ids, want = _line_hits(spark, tracks, outer)
    assert line_ids == want
    assert 0 < len(line_ids) < len(tracks)


def test_refine_past_the_slot_cap_equals_the_pandas_udf(spark):
    """Past joins._PIP_SLOT_CAP the boundary rows of a 300-vertex star
    refine in a mapInArrow pass; its join equals the pandas UDF refine
    it replaced, vertices, edge midpoints and null/NaN coordinates
    included."""
    rng = np.random.default_rng(300)
    star = _star(20.0, 10.0, 8.0, 300, rng)
    assert joins._cover_table([("s", star)], 8, cells.WORLD)[1] is None
    xy = np.concatenate([rng.uniform([10, 0], [30, 20], (500, 2)), _boundary_points(star)])
    rows = [(i, "2020-01-01T00:00:00", x, y) for i, (x, y) in enumerate(xy)]
    df = rows_to_points(spark, rows).unionByName(
        spark.createDataFrame([("n", None, None, 10.0), ("m", None, float("nan"), 10.0)], "traj_id string, t timestamp, x double, y double")
    )

    def rows_of(out):
        return sorted((r["traj_id"], r["x"], r["y"], r["poly_id"]) for r in out.collect())

    got = rows_of(joins.point_in_polygon_join(df, [("s", star)], res=8))
    assert got == rows_of(oracles.pip_join_pandas_refine(df, [("s", star)], res=8))
    assert 100 < len(got) < len(xy)


def test_knn_join(spark):
    pts = rows_to_points(
        spark,
        [(1, "2020-01-01T00:00:00", 0, 0), (1, "2020-01-01T00:00:10", 10, 10)],
    )
    cents = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", 9.0, 9.0), ("c", 20.0, 20.0)],
        "cluster_id string, cx double, cy double",
    )
    out = joins.knn_join(pts, cents, k=1)
    got = {(r["x"], r["cluster_id"]) for r in out.collect()}
    assert got == {(0.0, "a"), (10.0, "b")}
    # k=2
    out2 = joins.knn_join(pts, cents, k=2)
    assert out2.count() == 4


# ---------------------------------------------------------------------------
# overlay clip (reference test_trajectory.py / test_overlay.py values)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def overlay_traj(spark):
    # test_overlay.py setup: speed 1 unit/s along the 5-node grid path
    return rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:00:06", 6, 0),
            (1, "1970-01-01T00:00:10", 10, 0),
            (1, "1970-01-01T00:00:20", 10, 10),
            (1, "1970-01-01T00:00:30", 0, 10),
        ],
    )


def pieces(df):
    out = {}
    for r in df.orderBy("traj_id", "t").collect():
        out.setdefault(r["traj_id"], []).append((r["x"], r["y"], r["t"].second + r["t"].minute * 60))
    return out


def test_clip_one_intersection(spark, overlay_traj):
    # test_overlay.py:24-35: entry (5,0)@5s exit (7,0)@7s
    poly = [(5, -5), (7, -5), (7, 8), (5, 8), (5, -5)]
    got = pieces(overlay.clip(overlay_traj, poly))
    assert set(got) == {"1_0"}
    assert got["1_0"] == [(5.0, 0.0, 5), (6.0, 0.0, 6), (7.0, 0.0, 7)]


def test_clip_no_node_in_poly(spark, overlay_traj):
    # test_overlay.py:37-44
    poly = [(1, -5), (2, -5), (2, 8), (1, 8), (1, -5)]
    got = pieces(overlay.clip(overlay_traj, poly))
    assert got["1_0"] == [(1.0, 0.0, 1), (2.0, 0.0, 2)]


def test_clip_two_intersections(spark, overlay_traj):
    # test_overlay.py:55-67: second crossing on the top edge y=10
    poly = [(5, -5), (7, -5), (7, 12), (5, 12), (5, -5)]
    got = pieces(overlay.clip(overlay_traj, poly))
    assert set(got) == {"1_0", "1_1"}
    assert got["1_0"] == [(5.0, 0.0, 5), (6.0, 0.0, 6), (7.0, 0.0, 7)]
    assert got["1_1"] == [(7.0, 10.0, 23), (5.0, 10.0, 25)]


def test_clip_duplicate_points_not_dropped(spark):
    # test_overlay.py:69-91
    df = rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:00:06", 6, 0),
            (1, "1970-01-01T00:00:07", 6, 0),
            (1, "1970-01-01T00:00:11", 10, 0),
            (1, "1970-01-01T00:00:20", 10, 10),
            (1, "1970-01-01T00:00:30", 0, 10),
        ],
    )
    poly = [(5, -5), (7, -5), (7, 5), (5, 5), (5, -5)]
    got = pieces(overlay.clip(df, poly))
    assert got["1_0"] == [(5.0, 0.0, 5), (6.0, 0.0, 6), (6.0, 0.0, 7), (7.0, 0.0, 8)]


def test_clip_pointbased(spark):
    # test_overlay.py:93-115
    df = rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:06:00", 6, 0),
            (1, "1970-01-01T00:06:30", 6.5, 0),
            (1, "1970-01-01T00:07:00", 7, 0),
            (1, "1970-01-01T00:10:00", 10, 0),
        ],
    )
    poly = [(5.1, -5), (7.5, -5), (7.5, 12), (5.1, 12), (5.1, -5)]
    got = pieces(overlay.clip(df, poly, point_based=True))
    assert set(got) == {"1_0"}
    assert got["1_0"] == [(6.0, 0.0, 360), (6.5, 0.0, 390), (7.0, 0.0, 420)]


def test_clip_pointbased_single_point_empty(spark):
    df = rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:06:00", 6, 0),
            (1, "1970-01-01T00:07:00", 7, 0),
        ],
    )
    poly = [(5.9, -5), (6.4, -5), (6.4, 12), (5.9, 12), (5.9, -5)]
    assert overlay.clip(df, poly, point_based=True).count() == 0


def test_intersection_adds_feature_props(spark, overlay_traj):
    poly = [(5, -5), (7, -5), (7, 8), (5, 8), (5, -5)]
    out = overlay.intersection_with_feature(overlay_traj, poly, {"name": "testzone"})
    rows = out.collect()
    assert len(rows) == 3
    assert all(r["intersecting_name"] == "testzone" for r in rows)


def test_clip_ranges_vec_matches_scalar_reference():
    """The vectorized _clip_ranges_linebased must be float-exact against
    the scalar oracle on adversarial synthetic tracks (sawtooth y,
    duplicate points, boundary-grazing segments, concave polygon)."""
    rng = np.random.default_rng(7)
    polys = [
        np.array([(20.0, 80.0), (120.0, 80.0), (120.0, 20.0), (20.0, 20.0)]),
        # concave: notch cut into the right edge
        np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (5.0, 5.0), (10.0, 6.0), (10.0, 10.0), (0.0, 10.0)]),
    ]
    for poly in polys:
        for trial in range(20):
            n = int(rng.integers(2, 120))
            x = rng.uniform(-20, 140, n)
            y = rng.uniform(-20, 120, n)
            # inject duplicates (zero-length segments) and on-vertex hits
            if n > 4:
                x[2], y[2] = x[1], y[1]
                x[3], y[3] = poly[0]
            t = np.sort(rng.uniform(0, 1e4, n)) + 1.5e9
            ref = oracles.clip_ranges_scalar(x, y, t, poly)
            vec = overlay._clip_ranges_linebased(x, y, t, poly)
            assert len(ref) == len(vec)
            for u, v in zip(ref, vec):
                assert u[0] == v[0] and u[1] == v[1]
                assert u[2] == tuple(v[2]) and u[3] == tuple(v[3])


def test_tile_rollup_median_matches_percentile(spark):
    """The histogram-composed exact median (skew-aware formulation)
    reproduces percentile(0.5) on a planted-skew table where one cell
    holds 30% of rows."""
    from pyspark.sql import functions as F

    from movingspark import ingest

    pts = ingest.synth_skewed_points(spark, 50_000, hot_frac=0.3)
    med = joins.tile_rollup_median(pts, res=4, value_col="value")
    ref = joins.with_cell(pts, res=4).groupBy("cell").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    j = med.join(ref, "cell").collect()
    assert len(j) > 100
    assert all(abs(r["median_value"] - r["m"]) <= 1e-12 for r in j)


def test_synth_skewed_points_hot_cell(spark):
    """The planted-skew generator really concentrates hot_frac of rows
    in ONE res-6 cell, and the uniform twin doesn't."""
    from pyspark.sql import functions as F

    from movingspark import cells, ingest

    sk = ingest.synth_skewed_points(spark, 20_000, hot_frac=0.3)
    top = (
        sk.select(cells.cell_id_expr("x", "y", 6).alias("cell"))
        .groupBy("cell").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] >= 0.29 * 20_000
    un = ingest.synth_skewed_points(spark, 20_000, hot_frac=0.0)
    top_u = (
        un.select(cells.cell_id_expr("x", "y", 6).alias("cell"))
        .groupBy("cell").count().orderBy(F.desc("count")).first()
    )
    assert top_u["count"] < 0.01 * 20_000


def test_tile_rollup_multires_counts_additive(spark):
    import datetime as dt

    from movingspark import joins

    E0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in range(40):
        rows.append((f"t{k % 4}", E0 + dt.timedelta(seconds=k), float(k % 16), float((k * 3) % 16)))
    df = spark.createDataFrame(rows, "traj_id string, t timestamp, x double, y double")
    bounds = (0.0, 0.0, 16.0, 16.0)
    out = joins.tile_rollup_multires(df, res_fine=3, res_coarse=1, bounds=bounds).collect()
    fine = {r["cell"]: r["n_points"] for r in out if r["res"] == 3}
    coarse = {r["cell"]: r["n_points"] for r in out if r["res"] == 1}
    assert sum(fine.values()) == 40 and sum(coarse.values()) == 40
    # every fine cell's parent (drop 2 bits per level, 2 levels) sums up
    agg = {}
    for cell, n in fine.items():
        agg[cell >> 4] = agg.get(cell >> 4, 0) + n
    assert agg == coarse
    # direct coarse rollup over the points agrees
    direct = {
        r["cell"]: r["n_points"]
        for r in joins.tile_rollup(df, res=1, bounds=bounds).collect()
    }
    assert direct == coarse


def test_tile_rollup_multires_single_scan(spark):
    from movingspark import joins

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0, 1.0)],
        "traj_id string, t string, x double, y double",
    ).withColumn("t", F.col("t").cast("timestamp"))
    plan = (
        joins.tile_rollup_multires(df, 3, 1, bounds=(0.0, 0.0, 16.0, 16.0))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    with pytest.raises(ValueError):
        joins.tile_rollup_multires(df, 1, 3, bounds=(0.0, 0.0, 16.0, 16.0))


def test_tile_dwell_time_allocation(spark):
    import datetime as dt

    E0 = dt.datetime(2024, 1, 1)
    bounds = (0.0, 0.0, 16.0, 16.0)
    # traj a: 10 s in cell of (1,1), then 20 s starting from (9,1)'s cell,
    # final point contributes nothing.
    df = spark.createDataFrame(
        [
            ("a", E0, 1.0, 1.0),
            ("a", E0 + dt.timedelta(seconds=10), 9.0, 1.0),
            ("a", E0 + dt.timedelta(seconds=30), 1.0, 9.0),
        ],
        "traj_id string, t timestamp, x double, y double",
    )
    rows = joins.tile_dwell(df, res=1, bounds=bounds).collect()
    got = {r["cell"]: (r["dwell_s"], r["n_segments"]) for r in rows}
    # res 1 over 16x16: 8x8 quadrants; Z-order puts (ix=1,iy=0) at cell 2
    assert got == {0: (10.0, 1), 2: (20.0, 1)}
