"""Geofence transition events (enter/exit extraction).

Turns a polygon fence into a per-trajectory event stream: one row per
transition of the contains-flag between consecutive observations —
`enter` on the first observation inside after one outside, `exit` on
the first outside after one inside. Trajectory starts emit no event
(no prior observation to transition from); boundary points count as
inside (same on-edge semantics as the PIP join, joins.pip_expr).

The reference expresses this as clip + manual inspection of the
resulting segment endpoints (overlay clip, movingpandas overlay.py);
the event-stream form is the operational query ("alert when a vessel
enters the zone") and needs no clipping machinery.

Plan: the contains flag is the codegen'd even-odd ray cast
(joins.pip_expr — a boolean column, no join, no Python), the
transition is one lag() over the canonical per-trajectory window, and
the filter keeps flag-changes only. A single exchange shared with the
whole trajectory pipeline; output is transition-sized (<< input), so
downstream shuffles are tiny. On a stream the identical expression
runs per micro-batch with lag replaced by stateful dedup — see
streaming.py's session machinery."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movingspark.joins import pip_expr

__all__ = ["geofence_events"]


def geofence_events(df: DataFrame, polygon, holes=None) -> DataFrame:
    """Enter/exit events for one driver-known fence polygon. Output:
    (traj_id, t, x, y, event, t_prev) where `event` is 'enter'|'exit',
    `t` the first observation on the new side and `t_prev` the last
    observation on the old side (the crossing happened in between)."""
    inside = pip_expr("x", "y", polygon, holes)
    w = Window.partitionBy("traj_id").orderBy("t")
    flagged = (
        df.withColumn("__in", inside)
        .withColumn("__prev_in", F.lag("__in").over(w))
        .withColumn("__t_prev", F.lag("t").over(w))
    )
    return (
        flagged.filter(
            F.col("__prev_in").isNotNull() & (F.col("__in") != F.col("__prev_in"))
        )
        .select(
            "traj_id",
            "t",
            "x",
            "y",
            F.when(F.col("__in"), F.lit("enter")).otherwise(F.lit("exit")).alias("event"),
            F.col("__t_prev").alias("t_prev"),
        )
    )
