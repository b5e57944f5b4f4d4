import datetime as dt

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
    df = _pts(spark, [("a", _ts(0), 1.0, 1.0), ("a", _ts(1), 2.0, 2.0)])
    plan = geofence_events(df, SQUARE)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Join" not in plan


def test_geofence_300_vertex_fence_matches_kernel_flags(spark):
    """A fence too big to unroll into a JIT-compilable predicate takes
    its contains flag from kernels.point_in_polygon in an Arrow UDF (a
    256-vertex unrolled fence exhausted the driver heap in codegen): the
    events are the flag changes of the numpy kernel, boundary points and
    a null coordinate included."""
    import numpy as np

    from movingspark import joins, kernels

    rng = np.random.default_rng(30)
    ang = np.linspace(0.0, 2 * np.pi, 300, endpoint=False)
    rad = 10.0 * (1 + 0.2 * np.sin(9 * ang)) * rng.uniform(0.95, 1.05, 300)
    fence = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    assert len(fence) > joins._PIP_EXPR_JIT_VERTS
    walks = np.cumsum(rng.normal(0.0, 3.0, (40, 30, 2)), axis=1)
    xy = walks.reshape(-1, 2)
    xy[::7] = fence[rng.integers(0, 300, len(xy[::7]))]  # vertices: on the boundary
    rows = [(f"w{i // 30}", _ts(i % 30), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    rows.append(("w0", _ts(30), None, 1.0))  # flag unknown: no event, none after
    rows.append(("w0", _ts(31), 0.0, 0.0))
    ev = geofence_events(_pts(spark, rows), fence)
    assert "ArrowEvalPython" in ev._jdf.queryExecution().executedPlan().toString()
    got = sorted((r["traj_id"], (r["t"] - E).total_seconds(), r["event"]) for r in ev.collect())

    flags = kernels.point_in_polygon(xy[:, 0], xy[:, 1], fence).reshape(40, 30)
    want = []
    for w in range(40):
        for j in range(1, 30):
            if flags[w, j] != flags[w, j - 1]:
                want.append((f"w{w}", float(j), "enter" if flags[w, j] else "exit"))
    assert got == sorted(want)
    assert {e for *_, e in want} == {"enter", "exit"}


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
