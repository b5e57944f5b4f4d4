"""Structured Streaming extensions (SURVEY.md §2.11).

The reference is batch-only; these are the natural streaming analogues
the engine adds:

- session-window gap segmentation: ObservationGapSplitter (X2) is
  exactly session windowing with a gap timeout — `session_window(t,
  gap)` works identically over batch DataFrames and readStream sources.
- streaming tile rollup: watermarked per-cell tumbling-window counts —
  the incremental form of joins.tile_rollup for late-arriving points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movingspark import gmap, pyworker
from movingspark.cells import WORLD, cell_id_expr


def _per_trajectory(stream: DataFrame, step, out_schema: str, state_schema: str) -> DataFrame:
    """stream.groupBy("traj_id").applyInPandasWithState in append mode
    with no timeout. `step(key, pdf, xs, ys, t_us, state)` gets one
    trajectory's rows of a micro-batch as one frame sorted by t
    (stable), its x and y as float arrays and t as integer
    microseconds, and returns the output frame."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        pyworker.prepare()
        parts = list(pdfs)
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        pdf = pdf.sort_values("t", kind="mergesort").reset_index(drop=True)
        t_us = pdf["t"].astype("int64").to_numpy() // 1000
        yield step(key, pdf, pdf["x"].to_numpy(float), pdf["y"].to_numpy(float), t_us, state)

    return stream.groupBy("traj_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def gap_sessions(df: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Per-trajectory observation sessions with the given gap timeout —
    the session-window rendition of X2 (one row per contiguous burst of
    observations). Works on both batch and streaming inputs."""
    return (
        df.groupBy("traj_id", F.session_window("t", gap).alias("session"))
        .agg(
            F.count("*").alias("n"),
            F.min("t").alias("start_t"),
            F.max("t").alias("end_t"),
        )
        .select(
            "traj_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n",
            "start_t",
            "end_t",
        )
    )


def streaming_kinematics(stream: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): the
    incremental form of derive.add_all_kinematics — per-trajectory
    timedelta/distance/speed computed across micro-batches by carrying
    each trajectory's last observation (t, x, y) as explicit group
    state. A trajectory whose points arrive in different micro-batches
    still gets the correct first delta of every batch, because the
    predecessor lives in the state store, not in the batch.

    Differences from the batch operator, by necessity of streaming:
    - the very first observation of a trajectory emits null
      timedelta/distance/speed (the batch engine back-patches row 1
      with row 2's speed; a stream cannot see the successor yet);
    - points are assumed to arrive per-trajectory in time order across
      batches (within a batch they are sorted here).
    Works only on streaming DataFrames (Spark requires a streaming
    source for stateful processing); the batch twin is
    derive.add_all_kinematics."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "traj_id string, t timestamp, x double, y double, "
        "timedelta_s double, distance double, speed double"
    )

    def step(key, pdf, xs, ys, t_us, state):
        if state.exists:
            p_tus, p_x, p_y = state.get
            prev_tus = np.concatenate([[p_tus], t_us[:-1]])
            prev_x = np.concatenate([[p_x], xs[:-1]])
            prev_y = np.concatenate([[p_y], ys[:-1]])
            valid = np.ones(len(pdf), dtype=bool)
        else:
            prev_tus = np.concatenate([[0], t_us[:-1]])
            prev_x = np.concatenate([[0.0], xs[:-1]])
            prev_y = np.concatenate([[0.0], ys[:-1]])
            valid = np.ones(len(pdf), dtype=bool)
            valid[0] = False
        dt = (t_us - prev_tus) / 1e6
        dist = np.hypot(xs - prev_x, ys - prev_y)
        with np.errstate(divide="ignore", invalid="ignore"):
            speed = np.where(dt > 0, dist / np.where(dt == 0, 1.0, dt), 0.0)
        out = pd.DataFrame(
            {
                "traj_id": pdf["traj_id"] if "traj_id" in pdf else key[0],
                "t": pdf["t"],
                "x": xs,
                "y": ys,
                "timedelta_s": np.where(valid, dt, np.nan),
                "distance": np.where(valid, dist, np.nan),
                "speed": np.where(valid, speed, np.nan),
            }
        )
        state.update((int(t_us[-1]), float(xs[-1]), float(ys[-1])))
        return out

    return _per_trajectory(stream, step, out_schema, "t_us long, x double, y double")


def streaming_stops(
    stream: DataFrame,
    max_diameter: float,
    min_duration_s: float,
    latlon: bool = False,
) -> DataFrame:
    """STATEFUL streaming stop detection (applyInPandasWithState): the
    incremental form of stops.get_stop_time_ranges. Per trajectory the
    state carries exactly the points that can still influence a future
    decision — the detector's active window [lo..] — so a stop that
    spans micro-batch boundaries is detected once, when the movement
    break that closes it arrives.

    Correctness argument: the batch detector's decisions at step i
    depend only on the window [lo..i]; when a stop is emitted the
    buffer restarts at the break point, and while not stopped the head
    shrink drops everything older than min_duration. Replaying the
    retained window plus the new batch therefore reproduces the exact
    decision sequence of a continuous run (same loop, flush=False so
    a still-forming trailing stop is held in state rather than
    emitted; it closes in a later batch when movement resumes).
    The batch twin is stops.get_stop_time_ranges."""
    import numpy as np
    import pandas as pd

    from movingspark.stops import _detect_stops_np

    def step(key, pdf, xs, ys, t_us, state):
        ts = gmap.seconds(pdf["t"])
        if state.exists:
            sxs, sys_, sts = state.get
            xs = np.concatenate([np.asarray(sxs, float), xs])
            ys = np.concatenate([np.asarray(sys_, float), ys])
            ts = np.concatenate([np.asarray(sts, float), ts])
        stops_found, lo = _detect_stops_np(
            xs, ys, ts, max_diameter, min_duration_s, latlon, flush=False, return_lo=True
        )
        state.update((xs[lo:].tolist(), ys[lo:].tolist(), ts[lo:].tolist()))
        ends = gmap.timestamps(np.reshape(stops_found, (-1, 2)))
        return pd.DataFrame({"traj_id": [key[0]] * len(ends), "start_t": ends[:, 0], "end_t": ends[:, 1]})

    return _per_trajectory(
        stream,
        step,
        "traj_id string, start_t timestamp, end_t timestamp",
        "xs array<double>, ys array<double>, ts array<double>",
    )


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    t_col: str = "ingest_t",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for a document ingest stream: drop every
    document whose normalized-text fingerprint was already seen within
    the watermark horizon. `dropDuplicatesWithinWatermark` keeps the
    fingerprint state store bounded (state for a fingerprint is evicted
    once its event time falls behind the watermark), which is what makes
    this viable on an unbounded 100 TB/day ingest feed — unbounded-state
    dropDuplicates would OOM the state store. Works on batch DataFrames
    too (falls back to plain per-fingerprint dedup).

    The batch twin is `text.fingerprint_expr` + groupBy (q_dedup_exact);
    the fingerprints are identical, so a backfill batch job and the live
    stream agree on the deduped fingerprint set. Survivor IDENTITY: the
    batch branch deterministically keeps the minimum-`t_col` row per
    fingerprint (exact timestamp ties broken by a stable row digest, so
    any tied survivors are interchangeable rows); the stream keeps the
    first row PROCESSED, so the two agree on identity exactly when
    events arrive in event-time order — a late arrival that beats the
    stored row's event time survives in the stream but not in the
    backfill (documented divergence, inherent to arrival-order state)."""
    from pyspark.sql import Window

    from movingspark.text import fingerprint_expr

    tagged = stream.withColumn("__fp", fingerprint_expr(F.col(text_col)))
    if tagged.isStreaming:
        out = tagged.withWatermark(t_col, watermark).dropDuplicatesWithinWatermark(["__fp"])
    else:
        digest = F.md5(
            F.to_json(F.struct(*[F.col(c) for c in stream.columns]))
        )
        w = Window.partitionBy("__fp").orderBy(F.col(t_col).asc(), digest.asc())
        out = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return out.drop("__fp")


def streaming_tile_rollup(
    stream: DataFrame,
    res: int,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    bounds=WORLD,
) -> DataFrame:
    """Watermarked streaming tile rollup: per (cell, time window) point
    counts; late data beyond the watermark is dropped by the engine.
    Attach to a readStream source and writeStream sink:

        (streaming_tile_rollup(src, res=6)
           .writeStream.outputMode("update").format("memory")...)
    """
    tagged = stream.withWatermark("t", watermark).withColumn(
        "cell", cell_id_expr("x", "y", res, bounds)
    )
    return tagged.groupBy("cell", F.window("t", window).alias("w")).agg(
        F.count("*").alias("n_points")
    ).select("cell", F.col("w.start").alias("window_start"), "n_points")


def streaming_geofence(stream: DataFrame, polygon, holes=None) -> DataFrame:
    """STATEFUL streaming twin of geofence.geofence_events
    (applyInPandasWithState): enter/exit transition events against one
    fence polygon, with each trajectory's last (t, inside) carried as
    group state so a crossing whose two observations land in different
    micro-batches is still emitted exactly once. Same contains
    semantics as the batch operator (even-odd ray cast, on-edge counts
    inside — kernels.point_in_polygon, the numpy twin of the point
    join's clipped refine); same first-observation rule (no event —
    there is no prior side to transition from). Points are assumed to arrive
    per-trajectory in event-time order across batches (sorted within a
    batch here), the same contract as streaming_kinematics."""
    import numpy as np
    import pandas as pd

    from movingspark import kernels

    poly = np.asarray(polygon, float)
    hs = [np.asarray(h, float) for h in (holes or [])]
    out_schema = "traj_id string, t timestamp, x double, y double, event string, t_prev timestamp"

    def step(key, pdf, xs, ys, t_us, state):
        inside = kernels.point_in_polygon(xs, ys, poly, hs)
        if state.exists:
            p_tus, p_in = state.get
            prev_in = np.concatenate([[p_in], inside[:-1]]).astype(bool)
            prev_t = np.concatenate([[p_tus], t_us[:-1]])
            chg = inside != prev_in
        else:
            prev_in = np.concatenate([[False], inside[:-1]]).astype(bool)
            prev_t = np.concatenate([[0], t_us[:-1]])
            chg = inside != prev_in
            chg[0] = False  # first observation ever: no transition
        state.update((int(t_us[-1]), bool(inside[-1])))
        out = pd.DataFrame(
            {
                "traj_id": pdf["traj_id"][chg],
                "t": pdf["t"][chg],
                "x": xs[chg],
                "y": ys[chg],
                "event": np.where(inside[chg], "enter", "exit"),
                "t_prev": pd.to_datetime(prev_t[chg], unit="us"),
            }
        )
        return out

    return _per_trajectory(stream, step, out_schema, "t_us long, inside boolean")


def streaming_cell_visits(stream: DataFrame, res: int, bounds=None) -> DataFrame:
    """STATEFUL streaming twin of joins.cell_visits: tile-visit rows
    (traj_id, cell, enter_t, leave_t, duration_s, n_points) emitted as
    visits CLOSE — i.e. when a later observation lands in a different
    cell. The open visit (a trajectory's current cell) lives in the
    state store, so a visit spanning micro-batches is emitted exactly
    once with the correct enter time from the earlier batch. The final
    open visit of a trajectory never emits (a stream cannot know the
    trajectory ended) — the documented batch/stream boundary, same as
    streaming_kinematics' missing first-row backpatch."""
    import pandas as pd

    from movingspark import cells as _cells

    bounds = bounds if bounds is not None else _cells.WORLD
    out_schema = (
        "traj_id string, cell long, enter_t timestamp, leave_t timestamp, "
        "duration_s double, n_points long"
    )

    def step(key, pdf, xs, ys, t_us, state):
        cell = _cells.cell_id_np(xs, ys, res, bounds)

        runs = []  # (cell, enter_us, leave_us, n)
        start = 0
        for i in range(1, len(pdf) + 1):
            if i == len(pdf) or cell[i] != cell[start]:
                runs.append((int(cell[start]), int(t_us[start]), int(t_us[i - 1]), i - start))
                start = i
        closed = []
        if state.exists:
            s_cell, s_enter, s_leave, s_n = state.get
            if runs and runs[0][0] == s_cell:
                c, e, l, n = runs[0]
                runs[0] = (c, s_enter, l, s_n + n)
            else:
                closed.append((s_cell, s_enter, s_leave, s_n))
        closed.extend(runs[:-1])
        if runs:
            state.update(runs[-1])
        out = pd.DataFrame(
            {
                "traj_id": [key[0]] * len(closed),
                "cell": [c for c, *_ in closed],
                "enter_t": pd.to_datetime([e for _, e, _, _ in closed], unit="us"),
                "leave_t": pd.to_datetime([l for _, _, l, _ in closed], unit="us"),
                "duration_s": [(l - e) / 1e6 for _, e, l, _ in closed],
                "n_points": [n for *_, n in closed],
            }
        )
        return out

    return _per_trajectory(stream, step, out_schema, "cell long, enter_us long, leave_us long, n long")
