"""Trajectory generalizers (SURVEY.md §2.9 X8-X12).

All five are per-trajectory row-selection algorithms whose keep-set
depends on carried state (last kept point / recursive split points), so
each runs as a grouped map (gmap) with a numpy kernel; the output
is the input rows minus dropped ones (schema-preserving), letting Spark
parallelize across trajectories.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from movingspark import gmap, kernels


def _point_seg_dist(px, py, ax, ay, bx, by):
    """Distance from points (px,py) to segment (a,b) — shapely
    LineString([a,b]).distance(Point) equivalent, vectorized."""
    px = np.asarray(px, float)
    py = np.asarray(py, float)
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0.0:
        return np.hypot(px - ax, py - ay)
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / L2, 0.0, 1.0)
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def _grouped_filter(df: DataFrame, mask_fn) -> DataFrame:
    """Run mask_fn(x, y, t_sec) -> bool mask per trajectory, keep rows."""

    def per_traj(g):
        mask = mask_fn(np.asarray(g["x"], float), np.asarray(g["y"], float), gmap.seconds(g["t"]))
        return np.flatnonzero(mask), {}

    return gmap.grouped_apply_sorted(df, per_traj, df.schema)


def min_distance_mask(x, y, tolerance: float, latlon: bool = False) -> np.ndarray:
    """Keep-mask kernel for X8; module-level so the pinned-oracle
    generator runs the SAME code single-process (tools/gen_pinned_oracles.py)."""
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    px, py = x[0], y[0]
    for i in range(n):
        if latlon:
            d = float(kernels.geodesic(px, py, x[i], y[i]))
        else:
            d = float(np.hypot(x[i] - px, y[i] - py))
        if d >= tolerance:
            keep[i] = True
            px, py = x[i], y[i]
    return keep


def min_distance(df: DataFrame, tolerance: float, latlon: bool = False) -> DataFrame:
    """X8 (trajectory_generalizer.py:61-94): keep a row when its distance
    to the last KEPT row >= tolerance; row 0 and the last row always kept."""
    return _grouped_filter(df, lambda x, y, t: min_distance_mask(x, y, tolerance, latlon))


def min_timedelta_mask(t, tolerance_s: float) -> np.ndarray:
    """Keep-mask kernel for X9 (shared with the pinned-oracle generator)."""
    n = len(t)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    pt = t[0]
    for i in range(n):
        if t[i] - pt >= tolerance_s:
            keep[i] = True
            pt = t[i]
    return keep


def min_timedelta(df: DataFrame, tolerance_s: float) -> DataFrame:
    """X9 (trajectory_generalizer.py:97-130): keep a row when Δt to the
    last KEPT row >= tolerance; row 0 and the last row always kept."""
    return _grouped_filter(df, lambda x, y, t: min_timedelta_mask(t, tolerance_s))


def max_distance(df: DataFrame, tolerance: float) -> DataFrame:
    """X10 (trajectory_generalizer.py:133-169): single-pass chord check —
    walking segment anchor->current, split when any intermediate point
    deviates > tolerance from the chord. Ported loop-exact, including the
    reference's keep-index behavior (keeps the row BEFORE the splitting
    point) and always keeping first and last rows."""
    return _grouped_filter(df, lambda x, y, t: max_distance_mask(x, y, tolerance))


def max_distance_mask(x, y, tolerance: float) -> np.ndarray:
    """Keep-mask kernel for X10 (shared with the pinned-oracle generator)."""
    n = len(x)
    keep_rows = [0]
    pts_ix: list[int] = []
    ax, ay = x[0], y[0]
    i = 0
    for j in range(1, n):
        if pts_ix:
            d = _point_seg_dist(x[pts_ix], y[pts_ix], ax, ay, x[j], y[j])
            exceeded = bool((d > tolerance).any())
        else:
            exceeded = False
        if exceeded:
            ax, ay = x[j], y[j]
            pts_ix.clear()
            keep_rows.append(i)
        pts_ix.append(j)
        i += 1
    keep_rows.append(i)
    keep = np.zeros(n, dtype=bool)
    keep[np.array(keep_rows)] = True
    return keep


def douglas_peucker(df: DataFrame, tolerance: float) -> DataFrame:
    """X11 (trajectory_generalizer.py:172-205): classic DP on the vertex
    chain, then keep every input row whose COORDINATE appears among the
    simplified vertices (the reference matches by coordinate membership,
    so revisited locations are kept too)."""

    def mask(x, y, t):
        xy = np.column_stack([x, y])
        dp = kernels.dp_mask(xy, tolerance)
        # Python-float tuples: iterating numpy rows costs ~2 us per point
        kept = set(map(tuple, xy[dp].tolist()))
        return np.array([p in kept for p in map(tuple, xy.tolist())])

    return _grouped_filter(df, mask)


def top_down_time_ratio(df: DataFrame, tolerance: float) -> DataFrame:
    """X12 (trajectory_generalizer.py:208-277): TDTR — recursive split at
    the max deviation from the time-ratio projection onto the chord."""

    def mask(x, y, t):
        return kernels.tdtr_mask(np.column_stack([x, y]), t, tolerance)

    return _grouped_filter(df, mask)
