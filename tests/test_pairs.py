"""Trajectory-pair distance / Hausdorff (SURVEY.md §2; reference
trajectory.py:1548-1627, pinned values from test_trajectory.py:1130-1176)."""

import math

import numpy as np
import pytest

from movingspark import kernels, pairs
from tests import oracles
from tests.conftest import rows_to_points


def _traj(spark, tid, pts):
    return rows_to_points(
        spark,
        [(tid, f"2020-01-0{i + 1}T00:00:00", x, y) for i, (x, y) in enumerate(pts)],
    )


def test_kernel_polyline_min_distance():
    a = np.array([(0, 0), (1, 1), (3, 3)], float)
    assert kernels.polyline_min_distance(a, np.array([(0.0, 0.0)])) == 0.0
    assert kernels.polyline_min_distance(a, np.array([(2, 0), (2, 4), (3, 4)], float)) == 0.0
    assert kernels.polyline_min_distance(a, np.array([(2, 4), (3, 4)], float)) == 1.0


def test_kernel_discrete_hausdorff():
    a = np.array([(0, 0), (1, 1), (2, 2)], float)
    assert kernels.discrete_hausdorff_line(a, np.array([(0.0, 0.0)])) == math.sqrt(8)
    assert kernels.discrete_hausdorff_line(a, np.array([(2, 0), (2, 4), (3, 4)], float)) == math.sqrt(5)


def test_trajectory_pair_metrics(spark):
    """traj.distance(traj2)==0 and traj.hausdorff_distance(traj2)==sqrt(5)
    (test_trajectory.py:1138-1139, 1161-1162)."""
    df = _traj(spark, 1, [(0, 0), (1, 1), (3, 3)]).unionByName(
        _traj(spark, 2, [(2, 0), (2, 4), (3, 4)])
    ).unionByName(_traj(spark, 3, [(0, 0), (1, 1), (2, 2)]))
    out = {
        (r["traj_a"], r["traj_b"]): (r["min_distance"], r["hausdorff"])
        for r in pairs.trajectory_pair_metrics(df, [("1", "2"), ("3", "2")]).collect()
    }
    d12, h12 = out[("1", "2")]
    assert d12 == 0.0
    d32, h32 = out[("3", "2")]
    assert h32 == pytest.approx(math.sqrt(5), abs=1e-12)


def test_trajectory_to_line_metrics(spark):
    df = _traj(spark, 1, [(0, 0), (1, 1), (3, 3)]).unionByName(
        _traj(spark, 3, [(0, 0), (1, 1), (2, 2)])
    )
    # distance: traj1 vs LineString [(2,4),(3,4)] == 1 (test:1136-1137)
    out = {r["traj_id"]: r for r in pairs.trajectory_to_line_metrics(df, [(2, 4), (3, 4)]).collect()}
    assert out["1"]["min_distance"] == 1.0
    # hausdorff: traj3 vs LineString [(2,0),(2,4),(3,4)] == sqrt(5) (test:1158-1159)
    out2 = {
        r["traj_id"]: r
        for r in pairs.trajectory_to_line_metrics(df, [(2, 0), (2, 4), (3, 4)]).collect()
    }
    assert out2["3"]["hausdorff"] == pytest.approx(math.sqrt(5), abs=1e-12)
    # point geometry: distance 0, hausdorff sqrt(8) (test:1132-1133, 1156-1157)
    out3 = {r["traj_id"]: r for r in pairs.trajectory_to_line_metrics(df, (0.0, 0.0)).collect()}
    assert out3["1"]["min_distance"] == 0.0
    assert out3["3"]["hausdorff"] == pytest.approx(math.sqrt(8), abs=1e-12)


def test_pair_and_line_metrics_equal_their_pandas_udfs(spark):
    """Both metric operators run one Arrow kernel; its rows equal the
    two struct pandas UDFs they replaced, one-point tracks, a null
    coordinate and a point line included."""
    rng = np.random.default_rng(17)
    rows = []
    for tid, n in enumerate([1, 2, 7, 30, 12]):
        xy = np.cumsum(rng.normal(0.0, 3.0, (n, 2)), axis=0)
        rows += [(tid, f"2020-01-01T00:{i:02d}:00", x, y) for i, (x, y) in enumerate(xy)]
    rows.append((2, "2020-01-01T00:59:00", float("nan"), 1.0))
    df = rows_to_points(spark, rows)
    ids = [str(i) for i in range(5)]
    pair_ids = spark.createDataFrame([(a, b) for a in ids for b in ids], "traj_a string, traj_b string")

    def rows_of(out):
        return sorted(tuple(r) for r in out.collect())

    assert rows_of(pairs.trajectory_pair_metrics(df, pair_ids)) == rows_of(oracles.pair_metrics_pandas(df, pair_ids))
    for line in ([(0.0, 0.0), (5.0, 5.0), (9.0, -2.0)], (1.0, 2.0)):
        assert rows_of(pairs.trajectory_to_line_metrics(df, line)) == rows_of(oracles.line_metrics_pandas(df, line))


def test_distance_to_point_sql_path(spark):
    df = _traj(spark, 1, [(0, 0), (1, 1), (3, 3)])
    got = pairs.distance_to_point(df, 0.0, 0.0).collect()[0]["min_distance"]
    assert got == 0.0
    got2 = pairs.distance_to_point(df, 2.0, 0.0).collect()[0]["min_distance"]
    # closest point on y=x line to (2,0) is (1,1): sqrt(2)
    assert got2 == pytest.approx(math.sqrt(2), abs=1e-12)


def _frechet_np(a, q):
    """Independent numpy discrete Fréchet (Eiter & Mannila 1994) for
    test ground truth."""
    n, m = len(a), len(q)
    ca = np.full((n, m), -1.0)
    d = lambda i, j: math.dist(a[i], q[j])
    ca[0, 0] = d(0, 0)
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], d(0, j))
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], d(i, 0))
        for j in range(1, m):
            ca[i, j] = max(d(i, j), min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]))
    return ca[n - 1, m - 1]


def test_frechet_direction_sensitivity(spark):
    # same geometry walked forwards vs backwards: Hausdorff identical,
    # Fréchet blows up on the reversed walk.
    route = [(0.0, 0.0), (5.0, 0.0), (10.0, 0.0)]
    fwd = _traj(spark, "f", [(0.0, 1.0), (5.0, 1.0), (10.0, 1.0)])
    rev = _traj(spark, "r", [(10.0, 1.0), (5.0, 1.0), (0.0, 1.0)])
    df = fwd.unionByName(rev)
    got = {r["traj_id"]: r["frechet"] for r in pairs.frechet_to_polyline(df, route).collect()}
    # forward walk couples vertex-to-vertex: constant offset 1.
    assert got["f"] == pytest.approx(1.0)
    # reversed walk is forced to couple across the route: >= |(10,1)-(0,0)|.
    assert got["r"] == pytest.approx(math.hypot(10.0, 1.0))
    assert got["r"] > got["f"]


def test_frechet_matches_numpy_dp(spark):
    route = [(30.0, 20.0), (90.0, 50.0), (150.0, 80.0), (60.0, 90.0)]
    rng = np.random.default_rng(7)
    trajs = {}
    rows = []
    for tid in range(6):
        n = int(rng.integers(2, 40))
        pts = rng.uniform(0, 160, size=(n, 2)).round(3)
        trajs[str(tid)] = pts
        rows += [
            (str(tid), f"2020-01-01T{i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}", float(x), float(y))
            for i, (x, y) in enumerate(pts)
        ]
    df = rows_to_points(spark, rows)
    got = {r["traj_id"]: r["frechet"] for r in pairs.frechet_to_polyline(df, route).collect()}
    for tid, pts in trajs.items():
        assert got[tid] == pytest.approx(_frechet_np(pts, route), rel=1e-12), tid


def test_frechet_single_vertex_route_is_max_distance(spark):
    df = _traj(spark, "a", [(0.0, 0.0), (3.0, 4.0)])
    got = pairs.frechet_to_polyline(df, [(0.0, 0.0)]).collect()[0]["frechet"]
    assert got == pytest.approx(5.0)


def test_route_progress_offsets_and_snap_error(spark):
    # route: two unit-axis segments (0,0)->(10,0)->(10,10); total len 20.
    route = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0)]
    df = _traj(
        spark,
        "a",
        [
            (0.0, 2.0),    # snaps to (0,0): offset 0, dist 2
            (4.0, 1.0),    # snaps to (4,0): offset 4, dist 1
            (11.0, 5.0),   # snaps to (10,5): offset 15, dist 1
            (10.0, 10.0),  # route end: offset 20, dist 0
        ],
    )
    got = {
        round(r["route_offset"], 9): round(r["route_dist"], 9)
        for r in pairs.route_progress(df, route).collect()
    }
    assert got == {0.0: 2.0, 4.0: 1.0, 15.0: 1.0, 20.0: 0.0}


def test_route_progress_tie_keeps_earliest_segment(spark):
    # the inside corner (9,1) is 1.0 from BOTH segments; the strict-<
    # fold keeps the earliest segment's snap (offset 9, not 11).
    route = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0)]
    df = _traj(spark, "a", [(9.0, 1.0), (9.0, 1.0)])
    rows = pairs.route_progress(df, route).collect()
    assert all(r["route_offset"] == pytest.approx(9.0) for r in rows)
    assert all(r["route_dist"] == pytest.approx(1.0) for r in rows)


def test_route_progress_no_python_no_shuffle(spark):
    route = [(0.0, 0.0), (10.0, 0.0)]
    df = _traj(spark, "a", [(1.0, 1.0), (2.0, 2.0)])
    plan = pairs.route_progress(df, route)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
