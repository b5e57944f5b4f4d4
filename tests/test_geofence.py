import datetime as dt

import numpy as np

from movingspark.geofence import geofence_events

E = dt.datetime(2024, 1, 1)
SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]


def _ts(s):
    return E + dt.timedelta(seconds=s)


def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "traj_id string, t timestamp, x double, y double"
    )


def test_geofence_enter_exit_sequence(spark):
    # out -> in (enter) -> in -> out (exit) -> out -> in (enter)
    df = _pts(
        spark,
        [
            ("a", _ts(0), -5.0, 5.0),
            ("a", _ts(10), 5.0, 5.0),
            ("a", _ts(20), 6.0, 5.0),
            ("a", _ts(30), 15.0, 5.0),
            ("a", _ts(40), 16.0, 5.0),
            ("a", _ts(50), 5.0, 5.0),
        ],
    )
    ev = sorted(geofence_events(df, SQUARE).collect(), key=lambda r: r["t"])
    assert [(r["event"], (r["t"] - E).total_seconds(), (r["t_prev"] - E).total_seconds()) for r in ev] == [
        ("enter", 10.0, 0.0),
        ("exit", 30.0, 20.0),
        ("enter", 50.0, 40.0),
    ]


def test_geofence_start_inside_no_event_and_boundary_is_inside(spark):
    # b starts inside: no event until it leaves. c touches the boundary
    # exactly (x=10): on-edge counts inside, so no exit for c.
    df = _pts(
        spark,
        [
            ("b", _ts(0), 5.0, 5.0),
            ("b", _ts(10), 20.0, 5.0),
            ("c", _ts(0), 5.0, 5.0),
            ("c", _ts(10), 10.0, 5.0),
            ("c", _ts(20), 5.0, 5.0),
        ],
    )
    ev = geofence_events(df, SQUARE).collect()
    assert len(ev) == 1
    assert (ev[0]["traj_id"], ev[0]["event"]) == ("b", "exit")


def test_geofence_no_python_in_plan(spark):
    """The flag is a left broadcast join onto the fence's cover with the
    clipped refine in generated code: no Python and no shuffle join."""
    df = _pts(spark, [("a", _ts(0), 1.0, 1.0), ("a", _ts(1), 2.0, 2.0)])
    plan = geofence_events(df, SQUARE)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan and "SortMergeJoin" not in plan


def _flag_events(flags):
    """(walk, step, event) of every flag change of a (walks, steps) flag
    array; a null flag (None) changes nothing, and neither does the
    flag after it."""
    want = []
    for w, row in enumerate(flags):
        for j in range(1, len(row)):
            if row[j] is not None and row[j - 1] is not None and row[j] != row[j - 1]:
                want.append((f"w{w}", float(j), "enter" if row[j] else "exit"))
    return sorted(want)


def test_geofence_300_vertex_fence_matches_kernel_flags(spark):
    """A fence whose cover rows need more than joins._PIP_SLOT_CAP edges
    refines its boundary cells through the point join's numpy fallback:
    the events are the flag changes of kernels.point_in_polygon,
    boundary points and a null coordinate included."""
    from movingspark import joins, kernels

    rng = np.random.default_rng(30)
    ang = np.linspace(0.0, 2 * np.pi, 300, endpoint=False)
    rad = 10.0 * (1 + 0.2 * np.sin(9 * ang)) * rng.uniform(0.95, 1.05, 300)
    fence = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    assert joins._cover_table([("f", fence)], joins._POLY_RES, joins._poly_bounds(fence))[1] is None
    walks = np.cumsum(rng.normal(0.0, 3.0, (40, 30, 2)), axis=1)
    xy = walks.reshape(-1, 2)
    xy[::7] = fence[rng.integers(0, 300, len(xy[::7]))]  # vertices: on the boundary
    rows = [(f"w{i // 30}", _ts(i % 30), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    rows.append(("w0", _ts(30), None, 1.0))  # flag unknown: no event, none after
    rows.append(("w0", _ts(31), 0.0, 0.0))
    ev = geofence_events(_pts(spark, rows), fence)
    assert "MapInArrow" in ev._jdf.queryExecution().executedPlan().toString()
    got = sorted((r["traj_id"], (r["t"] - E).total_seconds(), r["event"]) for r in ev.collect())

    flags = kernels.point_in_polygon(xy[:, 0], xy[:, 1], fence).reshape(40, 30)
    want = _flag_events(flags.tolist())
    assert got == want
    assert {e for *_, e in want} == {"enter", "exit"}


def test_geofence_flags_match_kernel_with_hole_boundary_null_and_nan(spark):
    """Flags of a fence with a hole, on the generated refine: walks
    through fence and hole, points on both rings' vertices and edges,
    null coordinates (no flag) and NaN coordinates (outside). The
    events are the flag changes of kernels.point_in_polygon."""
    from movingspark import joins, kernels

    rng = np.random.default_rng(12)
    fence = np.array([(0.0, 0.0), (10.0, 0.0), (12.0, 6.0), (10.0, 10.0), (0.0, 10.0), (-2.0, 5.0)])
    hole = np.array([(3.0, 3.0), (7.0, 3.5), (6.0, 7.0), (3.5, 6.5)])
    assert joins._cover_table([("f", (fence, [hole]))], joins._POLY_RES, joins._poly_bounds(fence))[1] is not None
    xy = 5.0 + np.cumsum(rng.normal(0.0, 1.5, (30, 40, 2)), axis=1)
    flat = xy.reshape(-1, 2)
    edge_pts = np.concatenate([r + t * (np.roll(r, -1, axis=0) - r) for r in (fence, hole) for t in (0.0, 0.25, 0.5)])
    flat[::5] = edge_pts[rng.integers(0, len(edge_pts), len(flat[::5]))]
    flat[3::97] = np.nan  # odd rows: null x; even rows: NaN x
    x, y = flat[:, 0], flat[:, 1]
    rows = [(f"w{i // 40}", _ts(i % 40), None if np.isnan(px) and i % 2 else float(px), float(py)) for i, (px, py) in enumerate(flat)]
    ev = geofence_events(_pts(spark, rows), fence, [hole])
    assert "Python" not in ev._jdf.queryExecution().executedPlan().toString()
    got = sorted((r["traj_id"], (r["t"] - E).total_seconds(), r["event"]) for r in ev.collect())

    inside = kernels.point_in_polygon(x, y, fence, [hole])
    null = np.isnan(x) & (np.arange(len(x)) % 2 == 1)
    flags = [[None if n else bool(f) for f, n in zip(fr, nr)] for fr, nr in zip(inside.reshape(30, 40), null.reshape(30, 40))]
    want = _flag_events(flags)
    assert got == want
    assert null.any() and (np.isnan(x) & ~null).any()
    assert {e for *_, e in want} == {"enter", "exit"}


def test_geofence_zero_width_fence(spark):
    """A fence whose bbox has zero width (a vertical segment, all
    boundary) still gets a valid grid: points on it are inside."""
    fence = [(2.0, 0.0), (2.0, 4.0), (2.0, 8.0)]
    df = _pts(spark, [("a", _ts(0), 1.0, 3.0), ("a", _ts(1), 2.0, 3.0), ("a", _ts(2), 2.0, 9.0)])
    ev = sorted(geofence_events(df, fence).collect(), key=lambda r: r["t"])
    assert [(r["event"], (r["t"] - E).total_seconds()) for r in ev] == [("enter", 1.0), ("exit", 2.0)]


def _stream_events(spark, tmp_path, batches, polygon, holes=None):
    """streaming_geofence over `batches`, one parquet file per micro-batch,
    run to completion into a memory sink; rows sorted by (traj_id, t)."""
    import glob
    import shutil

    from movingspark import streaming

    src = str(tmp_path / "gf_src")
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{src}/b{i}")
    for i, f in enumerate(sorted(glob.glob(src + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    name = f"gf_{tmp_path.name}".replace("-", "_")
    q = (
        streaming.streaming_geofence(stream, polygon, holes)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(spark.sql(f"SELECT * FROM {name}").collect(), key=lambda r: (r["traj_id"], r["t"]))


def test_streaming_geofence_crossing_spans_micro_batches(spark, tmp_path):
    """The enter transition's two observations land in DIFFERENT
    micro-batches; the carried (t, inside) state must still emit it
    exactly once, with t_prev from batch 1. Also: batch twin agreement
    on the full input."""
    b1 = _pts(
        spark,
        [
            ("a", _ts(0), -5.0, 5.0),   # outside
            ("a", _ts(10), -1.0, 5.0),  # still outside
        ],
    )
    b2 = _pts(
        spark,
        [
            ("a", _ts(20), 5.0, 5.0),   # inside -> enter (prev in batch 1)
            ("a", _ts(30), 15.0, 5.0),  # outside -> exit
            ("z", _ts(0), 5.0, 5.0),    # first obs ever: no event
        ],
    )
    got = _stream_events(spark, tmp_path, [b1, b2], SQUARE)
    assert [(r["traj_id"], r["event"], (r["t"] - E).total_seconds(),
             (r["t_prev"] - E).total_seconds()) for r in got] == [
        ("a", "enter", 20.0, 10.0),
        ("a", "exit", 30.0, 20.0),
    ]
    # batch twin on the union agrees
    batch = sorted(
        geofence_events(b1.unionByName(b2), SQUARE).collect(), key=lambda r: r["t"]
    )
    assert [(r["traj_id"], r["event"]) for r in batch] == [
        (r["traj_id"], r["event"]) for r in got
    ]


def test_streaming_geofence_hole_boundary_counts_inside(spark, tmp_path):
    """A point on a hole's edge is inside the fence, in the streaming
    operator as in the batch one: the streaming events equal the batch
    events when observations sit on the hole's boundary."""
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]
    b1 = _pts(
        spark,
        [
            ("h", _ts(0), 5.0, 5.0),  # in the hole: outside
            ("h", _ts(10), 4.0, 5.0),  # on the hole's edge: enter
            ("h", _ts(20), 5.0, 5.0),  # exit
        ],
    )
    b2 = _pts(
        spark,
        [
            ("h", _ts(30), 5.0, 4.0),  # on the hole's edge: enter
            ("h", _ts(40), 2.0, 2.0),  # still inside
            ("h", _ts(50), 6.0, 6.0),  # hole corner: still inside
            ("h", _ts(60), 5.0, 5.5),  # exit
        ],
    )
    key = [(10.0, "enter"), (20.0, "exit"), (30.0, "enter"), (60.0, "exit")]

    def events(rows):
        return [(r["traj_id"], (r["t"] - E).total_seconds(), r["event"], (r["t_prev"] - E).total_seconds())
                for r in rows]

    got = events(_stream_events(spark, tmp_path, [b1, b2], SQUARE, [hole]))
    batch = events(sorted(geofence_events(b1.unionByName(b2), SQUARE, [hole]).collect(), key=lambda r: r["t"]))
    assert [(t, e) for _, t, e, _ in got] == key
    assert got == batch


def test_streaming_cell_visits_spans_batches(spark, tmp_path):
    """A visit whose observations span two micro-batches is emitted once
    with the batch-1 enter time; the still-open final visit never emits.
    Closed visits match the batch operator's rows for the same input."""
    import glob
    import shutil

    from movingspark import joins, streaming

    BOUNDS16 = (0.0, 0.0, 16.0, 16.0)
    b1 = _pts(
        spark,
        [
            ("a", _ts(0), 1.0, 1.0),    # cell A, visit 1 opens
            ("a", _ts(10), 1.5, 1.0),   # still cell A
        ],
    )
    b2 = _pts(
        spark,
        [
            ("a", _ts(20), 1.2, 1.2),   # STILL cell A (extends across batches)
            ("a", _ts(30), 9.0, 1.0),   # cell B -> closes visit 1
            ("a", _ts(40), 1.0, 1.0),   # cell A again -> closes visit 2
        ],
    )
    src = str(tmp_path / "cv_src")
    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")
    for i, f in enumerate(sorted(glob.glob(src + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = (
        streaming.streaming_cell_visits(stream, res=3, bounds=BOUNDS16)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cv_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        spark.sql("SELECT * FROM cv_test").collect(), key=lambda r: r["enter_t"]
    )
    # two CLOSED visits: A [0..20] (3 pts, spanning batches), B [30..30]
    assert [((r["enter_t"] - E).total_seconds(), (r["leave_t"] - E).total_seconds(),
             r["duration_s"], r["n_points"]) for r in got] == [
        (0.0, 20.0, 20.0, 3),
        (30.0, 30.0, 0.0, 1),
    ]
    # batch twin on the union: same closed visits (batch also reports the
    # final open visit, which the stream by design does not)
    batch = {
        ((r["enter_t"] - E).total_seconds(), r["n_points"])
        for r in joins.cell_visits(b1.unionByName(b2), res=3, bounds=BOUNDS16).collect()
    }
    assert {(0.0, 3), (30.0, 1)} <= batch and len(batch) == 3
