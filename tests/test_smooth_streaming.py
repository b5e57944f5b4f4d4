"""Kalman smoother (X15) + streaming extensions."""

import numpy as np

from movingspark import smooth, streaming
from tests.conftest import rows_to_points


def test_kalman_smoother_reduces_noise(spark):
    rng = np.random.RandomState(3)
    true_x = np.arange(50) * 2.0
    noisy = true_x + rng.randn(50) * 3.0
    rows = [(1, f"2020-01-01T00:{i//60:02d}:{i%60:02d}", float(noisy[i]), 0.0) for i in range(50)]
    df = rows_to_points(spark, rows)
    out = smooth.kalman_smooth(df, process_noise_std=0.5, measurement_noise_std=3.0)
    got = np.array([r["x"] for r in out.orderBy("t").collect()])
    raw_err = np.abs(noisy - true_x).mean()
    smooth_err = np.abs(got - true_x).mean()
    assert smooth_err < raw_err * 0.7  # meaningfully denoised
    assert out.count() == 50


def test_kalman_smoother_latlon_roundtrip(spark):
    rows = [(1, f"2020-01-01T00:00:{i:02d}", 10.0 + i * 0.001, 50.0) for i in range(10)]
    df = rows_to_points(spark, rows)
    out = smooth.kalman_smooth(df, latlon=True).orderBy("t").collect()
    # smooth straight line stays close to itself
    for i, r in enumerate(out):
        assert abs(r["x"] - (10.0 + i * 0.001)) < 0.001
        assert abs(r["y"] - 50.0) < 0.001


def test_gap_sessions_batch(spark):
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 0, 0),
            (1, "2020-01-01T00:10:00", 1, 0),
            (1, "2020-01-01T05:00:00", 2, 0),  # > 1h gap -> new session
            (2, "2020-01-01T00:00:00", 5, 5),
        ],
    )
    out = streaming.gap_sessions(df, gap="1 hour")
    got = {(r["traj_id"], r["n"]) for r in out.collect()}
    assert got == {("1", 2), ("1", 1), ("2", 1)}


def test_streaming_kinematics_state_across_batches(spark, tmp_path):
    """applyInPandasWithState custom operator: the trajectory's last
    observation carries across micro-batches, so the first point of
    batch 2 gets its delta against the last point of batch 1."""
    batch1 = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 0.0, 0.0),
            (1, "2020-01-01T00:00:10", 30.0, 40.0),  # dist 50, dt 10 -> speed 5
        ],
    )
    batch2 = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:20", 30.0, 100.0),  # dist 60 from batch-1 tail
            (2, "2020-01-01T00:00:00", 1.0, 1.0),     # new traj -> first row null
        ],
    )
    src_dir = str(tmp_path / "kin_src")
    # one file per micro-batch (maxFilesPerTrigger=1 -> two batches)
    batch1.coalesce(1).write.parquet(src_dir + "/b1")
    batch2.coalesce(1).write.parquet(src_dir + "/b2")
    import glob
    import shutil

    files = sorted(glob.glob(src_dir + "/b*/part-*.parquet"))
    for i, f in enumerate(files):
        shutil.copy(f, f"{src_dir}/{i:03d}.parquet")
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*.parquet")
    )
    out = streaming.streaming_kinematics(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("kin_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {(r["traj_id"], r["t"].isoformat()): r for r in spark.sql("select * from kin_test").collect()}
    assert len(rows) == 4
    first = rows[("1", "2020-01-01T00:00:00")]
    assert first["speed"] is None or first["speed"] != first["speed"]  # null/NaN first row
    mid = rows[("1", "2020-01-01T00:00:10")]
    assert mid["distance"] == 50.0 and mid["speed"] == 5.0
    # the cross-batch row: predecessor came from the STATE, not the batch
    tail = rows[("1", "2020-01-01T00:00:20")]
    assert tail["distance"] == 60.0 and tail["timedelta_s"] == 10.0 and tail["speed"] == 6.0
    t2 = rows[("2", "2020-01-01T00:00:00")]
    assert t2["speed"] is None or t2["speed"] != t2["speed"]


def test_streaming_stops_match_batch_across_boundary(spark, tmp_path):
    """Stateful streaming stop detector: a stop that SPANS the
    micro-batch boundary is emitted exactly once, with the same range
    the batch detector computes on the full data."""
    from movingspark import stops as stops_mod

    rows = [
        (1, "2020-01-01T00:00:00", 0.0, 0.0),
        (1, "2020-01-01T00:00:10", 100.0, 0.0),
        (1, "2020-01-01T00:00:20", 200.0, 0.0),
    ]
    # stop: 9 points inside a 2-unit box over 80 s (>= 60 s)
    for k in range(9):
        rows.append((1, f"2020-01-01T00:00:{30 + 10 * k:02d}" if 30 + 10 * k < 60
                     else f"2020-01-01T00:01:{30 + 10 * k - 60:02d}", 300.0 + 0.1 * k, 0.0))
    rows += [
        (1, "2020-01-01T00:02:00", 500.0, 0.0),  # break -> stop closes
        (1, "2020-01-01T00:02:10", 600.0, 0.0),
    ]
    full = rows_to_points(spark, rows)
    expected = {
        (r["traj_id"], r["start_t"].isoformat(), r["end_t"].isoformat())
        for r in stops_mod.get_stop_time_ranges(full, max_diameter=10.0, min_duration_s=60.0).collect()
    }
    assert len(expected) == 1  # sanity: the fixture contains one stop

    # split mid-stop: batch 1 ends at t=00:00:50, batch 2 has the rest
    cut = "2020-01-01T00:00:55"
    b1 = rows_to_points(spark, [r for r in rows if r[1] < cut])
    b2 = rows_to_points(spark, [r for r in rows if r[1] >= cut])
    src = str(tmp_path / "stops_src")
    import glob
    import shutil

    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")
    for i, f in enumerate(sorted(glob.glob(src + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{src}/{i:03d}.parquet")
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    out = streaming.streaming_stops(stream, max_diameter=10.0, min_duration_s=60.0)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stops_stream_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["traj_id"], r["start_t"].isoformat(), r["end_t"].isoformat())
        for r in spark.sql("select * from stops_stream_test").collect()
    }
    assert got == expected


def test_streaming_tile_rollup_with_memory_sink(spark, tmp_path):
    # drive the actual streaming path: file source -> watermarked rollup -> memory sink
    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:10", 10.0, 10.0),
            (1, "2020-01-01T00:00:20", 10.0, 10.0),
            (2, "2020-01-01T00:01:10", -170.0, -80.0),
        ],
    )
    src_dir = str(tmp_path / "stream_src")
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    rollup = streaming.streaming_tile_rollup(stream, res=4, window="1 minute")
    q = (
        rollup.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tiles_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from tiles_test").collect()
    assert sum(r["n_points"] for r in rows) == 3
    assert len({r["cell"] for r in rows}) == 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    # file source -> fingerprint dedup within watermark -> memory sink
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)
    rows = [
        ("d1", "the same   Text", t0),
        ("d2", "THE same text", t0 + dt.timedelta(seconds=30)),  # normalized dup of d1
        ("d3", "something else", t0 + dt.timedelta(seconds=60)),
        ("d4", "the same text", t0 + dt.timedelta(seconds=90)),  # dup again
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, ingest_t timestamp")
    src_dir = str(tmp_path / "dedup_src")
    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = streaming.streaming_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.sql("select * from dedup_test").collect())
    assert len(kept) == 2 and "d3" in kept
    assert kept[0] in ("d1", "d2", "d4")  # exactly one of the dup cluster survives

    # batch fallback: same fingerprints, one survivor per cluster
    batch_kept = streaming.streaming_dedup(df).select("doc_id").collect()
    assert len(batch_kept) == 2


def test_streaming_quality_filter(spark, tmp_path):
    """Quality filtering is a pure projection, so the SAME gopher/PII
    exprs run unchanged on a readStream source — prove it end-to-end."""
    from movingspark.text import gopher_flags_expr, pii_counts_expr
    from pyspark.sql import functions as F

    good = "the quick brown fox jumps over the lazy dog and runs to town with speed " * 8
    df = spark.createDataFrame(
        [("g", good), ("b", "too short")], "doc_id string, text string"
    )
    src = str(tmp_path / "qsrc")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream.filter(gopher_flags_expr(F.col("text"))["passes"]).select(
        "doc_id", pii_counts_expr(F.col("text")).alias("pii")
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("quality_test").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from quality_test").collect()
    assert [r["doc_id"] for r in rows] == ["g"]
    assert rows[0]["pii"]["n_emails"] == 0


def test_batch_dedup_survivor_deterministic(spark):
    """The batch fallback keeps the minimum-ingest_t row per fingerprint
    regardless of partitioning, matching an in-event-time-order stream's
    first-seen survivor."""
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    rows = [
        ("late", "Same TEXT", t0 + dt.timedelta(seconds=60)),
        ("early", "same   text", t0),
        ("mid", "SAME text", t0 + dt.timedelta(seconds=30)),
        ("other", "different", t0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, ingest_t timestamp")
    for parts in (1, 7):
        kept = sorted(
            r["doc_id"]
            for r in streaming.streaming_dedup(df.repartition(parts)).collect()
        )
        assert kept == ["early", "other"]


def test_route_progress_and_corridor_exprs_on_stream(spark, tmp_path):
    """The new stateless spatial ops (route snap, corridor supercover)
    are pure expressions, so they run UNCHANGED on a readStream source —
    same guarantee the gopher/PII exprs carry."""
    from movingspark import pairs, raster

    df = rows_to_points(
        spark,
        [
            (1, "2020-01-01T00:00:00", 1.0, 1.0),
            (1, "2020-01-01T00:00:10", 9.0, 1.0),
            (2, "2020-01-01T00:00:00", 5.0, 5.0),
            (2, "2020-01-01T00:00:05", 5.0, 6.0),
        ],
    )
    src = str(tmp_path / "rp_src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)

    route = [(0.0, 0.0), (10.0, 0.0)]
    out = pairs.route_progress(stream, route)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("rp_stream").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    key = lambda r: (r["traj_id"], r["t"], round(r["route_offset"], 6), round(r["route_dist"], 6))
    got = sorted(key(r) for r in spark.sql("SELECT * FROM rp_stream").collect())
    batch = sorted(key(r) for r in pairs.route_progress(df, route).collect())
    assert got == batch and len(got) == 4


def test_kalman_latlon_filters_in_epsg3395_metric_space(spark):
    """Reference semantics (trajectory_smoother.py:197-233): latlon
    trajectories are reprojected through EPSG:3395 (World Mercator),
    filtered in that metric frame, and projected back. The distributed
    latlon path must equal composing the pieces by hand: project the
    raw points with kernels.mercator_forward, run the planar
    _kf_rts kernel, invert with mercator_inverse."""
    import numpy as np

    from movingspark.kernels import mercator_forward, mercator_inverse
    from movingspark.smooth import _kf_rts

    rng = np.random.RandomState(11)
    n = 40
    lons = 10.0 + np.arange(n) * 0.001 + rng.randn(n) * 1e-4
    lats = 50.0 + np.arange(n) * 0.0005 + rng.randn(n) * 1e-4
    rows = [
        (1, f"2020-01-01T00:{i // 60:02d}:{i % 60:02d}", float(lons[i]), float(lats[i]))
        for i in range(n)
    ]
    df = rows_to_points(spark, rows)
    out = smooth.kalman_smooth(
        df, process_noise_std=0.5, measurement_noise_std=1.0, latlon=True
    ).orderBy("t").collect()
    got = np.array([(r["x"], r["y"]) for r in out])

    mx, my = mercator_forward(lons, lats)
    dts = np.diff(np.arange(n, dtype=float), prepend=0.0)
    sx, sy = _kf_rts(mx, my, dts, 0.25, 1.0)
    elon, elat = mercator_inverse(sx, sy)
    assert np.allclose(got[:, 0], elon, rtol=0, atol=1e-12)
    assert np.allclose(got[:, 1], elat, rtol=0, atol=1e-12)
    # and it actually denoised: smoothed path closer to the true line
    true_lon = 10.0 + np.arange(n) * 0.001
    assert np.abs(got[:, 0] - true_lon).mean() < np.abs(lons - true_lon).mean()
