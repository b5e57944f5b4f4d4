"""Aggregator parity with reference test_trajectory_aggregator.py."""

import numpy as np
import pytest

from movingspark import aggregate
from tests import oracles
from tests.conftest import rows_to_points


def test_sig_points_sparse(spark):
    # test_trajectory_aggregator.py:33-48
    df = rows_to_points(
        spark,
        [
            (1, "2018-01-01T12:00:00", 0, 0),
            (1, "2018-01-01T12:06:00", 6, 0),
            (1, "2018-01-01T14:09:00", 6, 6),
        ],
    )
    sig = aggregate.extract_significant_points(df, 5, 0, 12 * 3600)
    got = {(r["x"], r["y"]) for r in sig.collect()}
    assert got == {(0, 0), (6, 0), (6, 6)}


def test_sig_points_dense(spark):
    # test_trajectory_aggregator.py:50-70
    rows = [(1, f"2018-01-01T12:{i:02d}:00", i, 0) for i in range(7)]
    rows.append((1, "2018-01-01T14:09:00", 6, 6))
    df = rows_to_points(spark, rows)
    sig = aggregate.extract_significant_points(df, 4, 0, 12 * 3600)
    got = {(r["x"], r["y"]) for r in sig.collect()}
    assert got == {(0, 0), (4, 0), (6, 0), (6, 6)}


def test_sig_points_stops(spark):
    # test_trajectory_aggregator.py:72-118 (no_stops vs stops)
    rows = [
        (1, "2018-01-01T10:00:00", 0, 0),
        (1, "2018-01-01T10:01:00", 1, 0),
        (1, "2018-01-01T10:02:00", 2, 0),
        (1, "2018-01-01T12:03:00", 3, 0),
        (1, "2018-01-01T12:04:00", 4, 0),
        (1, "2018-01-01T12:05:00", 5, 0),
        (1, "2018-01-01T14:06:00", 6, 0),
        (1, "2018-01-01T14:07:00", 7, 0),
    ]
    df = rows_to_points(spark, rows)
    no_stops = aggregate.extract_significant_points(df, 10, 2, 10 * 3600)
    got = {(r["x"], r["y"]) for r in no_stops.collect()}
    assert got == {(0, 0), (7, 0)}
    stops = aggregate.extract_significant_points(df, 10, 2, 1 * 3600)
    got = {(r["x"], r["y"]) for r in stops.collect()}
    assert got == {(0, 0), (2, 0), (5, 0), (7, 0)}


@pytest.fixture(scope="module")
def l_pair(spark):
    # test_trajectory_aggregator.py:122-133
    return rows_to_points(
        spark,
        [
            (1, "2018-01-01T12:00:00", 0, 0, "A"),
            (1, "2018-01-01T12:06:00", 6, 0, "A"),
            (1, "2018-01-01T14:10:00", 6, 6, "A"),
            (2, "2019-01-01T12:00:00", 0.2, 0.2, "B"),
            (2, "2019-01-01T12:06:00", 6.2, 0.2, "B"),
            (2, "2019-01-01T14:10:00", 6.2, 6.2, "B"),
        ],
        extra_cols=("obj_id",),
    )


def test_aggregator_clusters_and_flows(spark, l_pair):
    sig, cents, flows = aggregate.aggregate_flows(
        l_pair, max_distance=5, min_distance=0, min_stop_duration_s=12 * 3600
    )
    got_sig = {(r["x"], r["y"]) for r in sig.collect()}
    assert got_sig == {(0, 0), (6, 0), (6, 6), (0.2, 0.2), (6.2, 0.2), (6.2, 6.2)}

    got_cents = {(round(r["cx"], 6), round(r["cy"], 6), r["n"]) for r in cents.collect()}
    assert got_cents == {(0.1, 0.1, 2), (6.1, 0.1, 2), (6.1, 6.1, 2)}

    got_flows = {
        (round(r["from_x"], 6), round(r["from_y"], 6), round(r["to_x"], 6), round(r["to_y"], 6), r["weight"], r["obj_weight"])
        for r in flows.collect()
    }
    assert got_flows == {
        (0.1, 0.1, 6.1, 0.1, 2, 2),
        (6.1, 0.1, 6.1, 6.1, 2, 2),
    }


def test_grid_cluster_degenerate_lines():
    # test_point_clusterer.py: horizontal/vertical inputs fall back to 1 grid row/col
    pts = [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0)]
    out = aggregate.grid_cluster(pts, 10)
    assert len(out) == 1 and out[0][2] == 3
    pts = [(0.0, 0.0), (0.0, 1.0), (0.0, 2.0)]
    out = aggregate.grid_cluster(pts, 10)
    assert len(out) == 1 and out[0][2] == 3


def test_cluster_scale_fallback_two_level(spark, monkeypatch):
    """Above _DRIVER_MAX_POINTS the clustering switches to per-partition
    pre-cluster + weighted driver merge instead of a hard error. Two
    well-separated blobs must come out as two clusters with the exact
    total membership; below the cap semantics are unchanged."""
    rows = []
    seq = 0
    for tid in range(4):
        for i in range(25):
            # blob A near (0,0), blob B near (1000,1000)
            rows.append((str(tid), seq, 0.0 + (i % 5) * 0.5, 0.0 + (i // 5) * 0.5))
            rows.append((str(tid), seq + 1, 1000.0 + (i % 5) * 0.5, 1000.0 + (i // 5) * 0.5))
            seq += 2
    sig = spark.createDataFrame(rows, "traj_id string, seq long, x double, y double")

    # force the fallback with a tiny cap
    monkeypatch.setattr(aggregate, "_DRIVER_MAX_POINTS", 10)
    got = aggregate.cluster_significant_points(sig, max_distance=10.0).collect()
    monkeypatch.undo()
    assert len(got) == 2
    assert sorted(int(r["n"]) for r in got) == [100, 100]
    cents = sorted((r["cx"], r["cy"]) for r in got)
    assert abs(cents[0][0] - 1.0) < 1.5 and abs(cents[1][0] - 1001.0) < 1.5

    # below the cap: exact driver-side path unchanged vs grid_cluster
    small = aggregate.cluster_significant_points(sig, max_distance=10.0)
    pts = [(r["x"], r["y"]) for r in sig.orderBy("traj_id", "seq").collect()]
    want = aggregate.grid_cluster(pts, 10.0)
    got_small = [(r["cx"], r["cy"], r["n"]) for r in small.orderBy("cluster_id").collect()]
    assert [(c[0], c[1], c[2]) for c in want] == got_small


def test_cluster_above_the_cap_equals_the_mapinpandas_form(spark, monkeypatch):
    """Above the cap, the per-partition pass (Arrow tables sorted by
    traj_id, seq) gives the centroids of the mapInPandas form it
    replaced (pd.concat + sort_values), over several partitions whose
    rows arrive out of order."""
    rng = np.random.default_rng(5)
    rows = [
        (str(t), int(s), float(x), float(y))
        for t in range(12)
        for s, (x, y) in enumerate(rng.normal(0.0, 40.0, (60, 2)) + rng.integers(0, 3, 2) * 500)
    ]
    rng.shuffle(rows)
    sig = spark.createDataFrame(rows, "traj_id string, seq long, x double, y double").repartition(3)
    monkeypatch.setattr(aggregate, "_DRIVER_MAX_POINTS", 10)
    out = aggregate.cluster_significant_points(sig, 25.0).collect()
    got = [(r["cx"], r["cy"], r["n"]) for r in sorted(out, key=lambda r: int(r["cluster_id"][1:]))]
    want = oracles.cluster_partial_pandas(sig, 25.0)
    assert len(got) > 3 and [tuple(c) for c in want] == got


def test_grid_cluster_span_exact_multiple_of_cell():
    """A point span that is an exact multiple of max_distance puts the
    max-coordinate point in cell floor(span/cell); when it opens a new
    cluster that cell must exist (x, y and diagonal)."""
    assert aggregate.grid_cluster([(0.0, 0.0), (20.0, 0.0)], 10.0) == [
        (0.0, 0.0, 1), (20.0, 0.0, 1)
    ]
    assert aggregate.grid_cluster([(0.0, 0.0), (0.0, 20.0)], 10.0) == [
        (0.0, 0.0, 1), (0.0, 20.0, 1)
    ]
    assert aggregate.grid_cluster([(0.0, 0.0), (10.0, 10.0), (20.0, 20.0)], 10.0) == [
        (0.0, 0.0, 1), (10.0, 10.0, 1), (20.0, 20.0, 1)
    ]
    assert aggregate.grid_cluster_weighted([(0.0, 0.0), (20.0, 20.0)], [2, 3], 10.0) == [
        (0.0, 0.0, 2), (20.0, 20.0, 3)
    ]


def test_grid_cluster_weighted_zero_weight_partials():
    """Zero-weight partials (grid_cluster emits n=0 clusters when all
    points redistribute away) must not divide-by-zero when they merge
    into a still-massless cluster, and must not shift any centroid."""
    # all-zero weights: no mass anywhere -> no clusters
    assert aggregate.grid_cluster_weighted([(0, 0), (0.1, 0.1)], [0, 0], 10.0) == []
    # zero-weight partial alongside real mass: same result as without it
    with_zero = aggregate.grid_cluster_weighted(
        [(0.0, 0.0), (0.1, 0.1), (5.0, 5.0)], [0, 3, 2], 10.0
    )
    without = aggregate.grid_cluster_weighted([(0.1, 0.1), (5.0, 5.0)], [3, 2], 10.0)
    assert with_zero == without


def test_od_matrix_first_last_cells(spark):
    import datetime as dt

    from movingspark import aggregate

    E0 = dt.datetime(2024, 1, 1)
    bounds = (0.0, 0.0, 16.0, 16.0)
    # a: (1,1) -> ... -> (9,1): origin cell 0, dest cell 2 (Z-order)
    # b: round trip within one quadrant: origin == dest == 0
    df = spark.createDataFrame(
        [
            ("a", E0, 1.0, 1.0),
            ("a", E0 + dt.timedelta(seconds=5), 15.0, 15.0),  # middle ignored
            ("a", E0 + dt.timedelta(seconds=9), 9.0, 1.0),
            ("b", E0, 2.0, 2.0),
            ("b", E0 + dt.timedelta(seconds=3), 3.0, 3.0),
        ],
        "traj_id string, t timestamp, x double, y double",
    )
    got = {
        (r["origin_cell"], r["dest_cell"]): r["n_trips"]
        for r in aggregate.od_matrix(df, res=1, bounds=bounds).collect()
    }
    assert got == {(0, 2): 1, (0, 0): 1}
