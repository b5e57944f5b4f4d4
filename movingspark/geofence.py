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
(joins.pip_expr — a boolean column, no join, no Python; fences with more
than joins._PIP_EXPR_JIT_VERTS vertices, whose unrolled predicate would
be too big to JIT-compile, compute it with kernels.point_in_polygon in
an Arrow-batched UDF instead), the
transition is one lag() over the canonical per-trajectory window, and
the filter keeps flag-changes only. A single exchange shared with the
whole trajectory pipeline; output is transition-sized (<< input), so
downstream shuffles are tiny. On a stream the identical expression
runs per micro-batch with lag replaced by stateful dedup — see
streaming.py's session machinery."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import joins, kernels, pyworker

__all__ = ["geofence_events"]


def _inside(polygon, holes) -> Column:
    """The fence's contains flag of (x, y)."""
    outer = np.asarray(polygon, dtype=np.float64)
    rings = [np.asarray(h, dtype=np.float64) for h in holes or []]
    if len(outer) + sum(len(h) for h in rings) <= joins._PIP_EXPR_JIT_VERTS:
        return joins.pip_expr("x", "y", outer, rings)

    @F.pandas_udf(T.BooleanType())
    def inside(px: pd.Series, py: pd.Series) -> pd.Series:
        pyworker.prepare()
        return pd.Series(kernels.point_in_polygon(px.to_numpy(float), py.to_numpy(float), outer, rings))

    # the batch holds a null coordinate as NaN, whose flag is false
    return F.when(F.col("x").isNotNull() & F.col("y").isNotNull(), inside(F.col("x"), F.col("y")))


def geofence_events(df: DataFrame, polygon, holes=None) -> DataFrame:
    """Enter/exit events for one driver-known fence polygon. Output:
    (traj_id, t, x, y, event, t_prev) where `event` is 'enter'|'exit',
    `t` the first observation on the new side and `t_prev` the last
    observation on the old side (the crossing happened in between)."""
    inside = _inside(polygon, holes)
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
