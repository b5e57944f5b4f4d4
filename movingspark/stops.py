"""TrajectoryStopDetector (X1) + stop-point summary (A11).

The detection loop is inherently sequential per trajectory (carried
buffer state), so it runs as one numpy-kernel call per trajectory through
gmap.grouped_apply_sorted — Spark parallelizes across trajectories;
loop semantics ported exactly from the reference
(trajectory_stop_detector.py:122-187):

- grow a point buffer; while not stopped, shrink its head so the window
  stays >= min_duration (keeping > 2 points)
- cheap bbox-diagonal prefilter d < max_diameter*1.5 (geodesic if
  latlon), then exact mrr_diagonal < max_diameter
- when a stop ends, emit [ts[0], ts[-2]] if >= min_duration and reset
  the buffer to the breaking point; trailing stop flushed at the end
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movingspark import gmap, kernels

RANGE_SCHEMA = "traj_id string, start_t timestamp, end_t timestamp"


def _detect_stops_np(
    xs: np.ndarray,
    ys: np.ndarray,
    ts: np.ndarray,
    max_diameter: float,
    min_duration_s: float,
    latlon: bool,
    flush: bool = True,
    return_lo: bool = False,
):
    """Port of _process_traj (trajectory_stop_detector.py:122-187).
    ts are float seconds; returns list of (t0, tn) index pairs into ts.

    flush=False suppresses the trailing end-of-data stop emission (the
    streaming caller cannot know the stream ended); return_lo=True also
    returns the final buffer-start index — points before it can never
    influence a future decision, so an incremental caller keeps only
    xs[lo:] as carry-over state.

    The reference's point buffer is always a CONTIGUOUS index range
    (append i; trim the head; reset to the last element), so it is
    represented here as [lo, i] with monotonic deques giving O(1)
    amortized bbox extrema — the exact per-step bbox/MRR decision
    sequence is unchanged, only the bookkeeping is cheaper than the
    reference's list slicing + full-window min/max per step.
    """
    from collections import deque

    out = []
    lo = 0  # buffer = indices lo..i inclusive
    is_stopped = False
    previously_stopped = False
    n = len(ts)
    # monotonic index deques: front is argmin/argmax of the window
    qxmin: deque = deque()
    qxmax: deque = deque()
    qymin: deque = deque()
    qymax: deque = deque()

    def push(i):
        while qxmin and xs[qxmin[-1]] >= xs[i]:
            qxmin.pop()
        qxmin.append(i)
        while qxmax and xs[qxmax[-1]] <= xs[i]:
            qxmax.pop()
        qxmax.append(i)
        while qymin and ys[qymin[-1]] >= ys[i]:
            qymin.pop()
        qymin.append(i)
        while qymax and ys[qymax[-1]] <= ys[i]:
            qymax.pop()
        qymax.append(i)

    def evict(lo):
        while qxmin[0] < lo:
            qxmin.popleft()
        while qxmax[0] < lo:
            qxmax.popleft()
        while qymin[0] < lo:
            qymin.popleft()
        while qymax[0] < lo:
            qymax.popleft()

    for i in range(n):
        push(i)
        if not is_stopped:
            # drop the head while >2 points remain in the window and the
            # head still makes the window span >= min_duration (exact
            # restatement of the reference's first_to_keep loop)
            while (i - lo + 1) > 2 and ts[i] - ts[lo] >= min_duration_s:
                lo += 1
            evict(lo)

        is_stopped = False
        if i > lo:
            minx, maxx = xs[qxmin[0]], xs[qxmax[0]]
            miny, maxy = ys[qymin[0]], ys[qymax[0]]
            if latlon:
                d = float(kernels.geodesic(minx, miny, maxx, maxy))
            else:
                d = float(np.hypot(maxx - minx, maxy - miny))
            if d < max_diameter * 1.5:
                if kernels.mrr_diagonal(np.column_stack([xs[lo : i + 1], ys[lo : i + 1]]), latlon) < max_diameter:
                    is_stopped = True

        if not is_stopped and previously_stopped and i > lo:
            seg_begin = ts[lo]
            seg_end = ts[i - 1]
            if seg_end - seg_begin >= min_duration_s:
                out.append((seg_begin, seg_end))
                lo = i
                evict(lo)

        previously_stopped = is_stopped

    if flush and is_stopped and ts[n - 1] - ts[lo] >= min_duration_s:
        out.append((ts[lo], ts[n - 1]))
    if return_lo:
        return out, lo
    return out


def get_stop_time_ranges(
    df: DataFrame,
    max_diameter: float,
    min_duration_s: float,
    latlon: bool = False,
) -> DataFrame:
    """Detected stops as (traj_id, start_t, end_t)."""

    def per_traj(g):
        stops = _detect_stops_np(
            np.asarray(g["x"], float),
            np.asarray(g["y"], float),
            gmap.seconds(g["t"]),
            max_diameter,
            min_duration_s,
            latlon,
        )
        ends = gmap.timestamps(np.reshape(stops, (-1, 2)))
        return np.zeros(len(stops), np.int64), {"start_t": ends[:, 0], "end_t": ends[:, 1]}

    return gmap.grouped_apply_sorted(df, per_traj, RANGE_SCHEMA)


def attach_ranges(df: DataFrame, ranges: DataFrame) -> DataFrame:
    """Inner range-join of points to stop ranges (t BETWEEN start_t AND
    end_t). Ranges are few relative to points — broadcast them so the
    join needs no shuffle of the point table."""
    return df.join(
        F.broadcast(ranges),
        on=[
            df["traj_id"] == ranges["traj_id"],
            df["t"] >= ranges["start_t"],
            df["t"] <= ranges["end_t"],
        ],
        how="inner",
    ).drop(ranges["traj_id"])


def get_stop_points(
    df: DataFrame,
    max_diameter: float,
    min_duration_s: float,
    latlon: bool = False,
) -> DataFrame:
    """A11 (trajectory_stop_detector.py:219-267): per stop the median
    location, start/end time, duration seconds and parent traj id;
    stop_id = "{traj_id}_{start_t}" (get_segment_between naming,
    trajectory.py:974)."""
    ranges = get_stop_time_ranges(df, max_diameter, min_duration_s, latlon)
    joined = attach_ranges(df, ranges)
    agg = joined.groupBy("traj_id", "start_t", "end_t").agg(
        F.percentile("x", F.lit(0.5)).alias("x"),
        F.percentile("y", F.lit(0.5)).alias("y"),
        F.min("t").alias("start_time"),
        F.max("t").alias("end_time"),
    )
    return agg.select(
        F.concat_ws("_", "traj_id", F.date_format("start_t", "yyyy-MM-dd HH:mm:ss")).alias("stop_id"),
        F.col("traj_id").alias("traj_id"),
        "start_time",
        "end_time",
        ((F.unix_micros("end_time") - F.unix_micros("start_time")) / 1e6).alias("duration_s"),
        "x",
        "y",
    )
