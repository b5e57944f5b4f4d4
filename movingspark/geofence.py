"""Geofence transition events (enter/exit extraction).

Turns a polygon fence into a per-trajectory event stream: one row per
transition of the contains-flag between consecutive observations —
`enter` on the first observation inside after one outside, `exit` on
the first outside after one inside. Trajectory starts emit no event
(no prior observation to transition from); boundary points count as
inside (same on-edge semantics as the PIP join, kernels.point_in_polygon).

The reference expresses this as clip + manual inspection of the
resulting segment endpoints (overlay clip, movingpandas overlay.py);
the event-stream form is the operational query ("alert when a vessel
enters the zone") and needs no clipping machinery.

Plan: the contains flag comes from a left broadcast join of the points
onto the fence's cover, on a grid over the fence's bbox
(joins._poly_bounds), refined by the point join's clipped ray cast
(joins._refined_join: generated code, no Python up to
joins._PIP_SLOT_CAP edges per cover row); a point of no cover cell is
outside. The transition is one lag() over the canonical per-trajectory
window, and the filter keeps flag-changes only. A single exchange
shared with the whole trajectory pipeline; output is transition-sized
(<< input), so downstream shuffles are tiny. On a stream the same
flag runs per micro-batch with lag replaced by stateful dedup — see
streaming.py's session machinery."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movingspark import joins

__all__ = ["geofence_events"]


def geofence_events(df: DataFrame, polygon, holes=None) -> DataFrame:
    """Enter/exit events for one driver-known fence polygon. Output:
    (traj_id, t, x, y, event, t_prev) where `event` is 'enter'|'exit',
    `t` the first observation on the new side and `t_prev` the last
    observation on the old side (the crossing happened in between). A
    null coordinate has no flag: it emits no event, and neither does
    the observation after it."""
    outer = np.asarray(polygon, dtype=np.float64)
    fence = [("fence", (outer, holes or []))]
    joined, verdict, _ = joins._refined_join(df, fence, joins._POLY_RES, joins._poly_bounds(outer), how="left")
    w = "OVER (PARTITION BY traj_id ORDER BY t)"
    flagged = joined.withColumn(
        "__in", F.expr(f"CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN coalesce({verdict}, false) END")
    )
    return flagged.selectExpr("*", f"lag(__in) {w} AS __prev_in", f"lag(t) {w} AS t_prev").filter(
        "__prev_in IS NOT NULL AND __in != __prev_in"
    ).selectExpr("traj_id", "t", "x", "y", "CASE WHEN __in THEN 'enter' ELSE 'exit' END AS event", "t_prev")
