"""Fixed-interval trajectory resampling (temporal densification).

Rebuilds every trajectory on a regular time grid anchored at its first
observation: ticks t0, t0+I, t0+2I, ... up to and including the last
observation where it falls on the grid, each position linearly
interpolated between the bracketing observations (the same time-ratio
lerp as `queries.interpolate_position_at`, reference
trajectory.py:832-916 — this is that operator vectorized over EVERY
grid tick instead of one user-supplied timestamp).

Execution shape: one window over (traj_id, t) to pair each observation
with its successor, then a `sequence()` explode that materializes each
segment's ticks from pure integer arithmetic — zero Python, zero joins,
one exchange (the traj partition the window needs; if the input is
already bucketed/sorted by traj_id the exchange disappears). The
explode multiplies rows segment-locally, so output size is
bounded by duration/interval per trajectory — no skew beyond what the
input trajectory lengths already carry, and a mega-trajectory diffuses
across its own output partitions downstream.

Tick membership is half-open per segment ([t, t_next) in epoch
microseconds) so a tick landing exactly on an observation belongs to
the segment that starts there (lerp fraction 0 -> exact observed
coordinate); the final observation is emitted when the grid hits it
exactly (fraction 1 on the last segment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


__all__ = ["resample_trajectories"]


def resample_trajectories(df: DataFrame, interval_s: float) -> DataFrame:
    """Resample each trajectory to one point every `interval_s` seconds,
    grid anchored at the trajectory's first observation. Output columns:
    (traj_id, t, x, y) with t on the grid. Trajectories with a single
    observation yield just that observation (tick 0)."""
    i_us = int(round(interval_s * 1_000_000))
    if i_us <= 0:
        raise ValueError("interval_s must be positive")
    w = Window.partitionBy("traj_id").orderBy("__t")
    wp = Window.partitionBy("traj_id")
    t_us = F.unix_micros(F.col("t"))
    seg = (
        df.select(
            "traj_id",
            t_us.alias("__t"),
            F.col("x").alias("__x"),
            F.col("y").alias("__y"),
        )
        .withColumn("__t1", F.lead("__t").over(w))
        .withColumn("__x1", F.lead("__x").over(w))
        .withColumn("__y1", F.lead("__y").over(w))
        .withColumn("__t0", F.min("__t").over(wp))
        .withColumn("__tmax", F.max("__t").over(wp))
    )
    # ticks k (grid index from the trajectory start) covered by this
    # segment: [ceil((t - t0)/I), ceil((t1 - t0)/I) - 1], extended to
    # floor((tmax - t0)/I) on the closing segment so an on-grid final
    # observation is emitted. A single-point trajectory (t1 null)
    # degenerates to [0, 0] on its own row.
    i = F.lit(i_us)
    k_lo = F.floor(((F.col("__t") - F.col("__t0")) + i - F.lit(1)) / i)
    # non-closing segment: ticks strictly before t1 (half-open);
    # closing segment (t1 == tmax): inclusive, so an on-grid final
    # observation is emitted exactly once; successor-less rows emit only
    # for single-point trajectories (tick 0), never a duplicate endpoint.
    k_hi = (
        F.when(F.col("__t1").isNull(), F.lit(-1).cast("long"))  # empty unless t==t0
        .when(
            F.col("__t1") == F.col("__tmax"),
            F.floor((F.col("__t1") - F.col("__t0")) / i),
        )
        .otherwise(F.floor(((F.col("__t1") - F.col("__t0")) + i - F.lit(1)) / i) - F.lit(1))
    )
    k_hi = F.when(
        F.col("__t1").isNull() & (F.col("__t") == F.col("__t0")), F.lit(0)
    ).otherwise(k_hi)
    ticks = seg.withColumn(
        "__k",
        F.explode(
            F.when(k_hi >= k_lo, F.sequence(k_lo, k_hi)).otherwise(
                F.array().cast("array<bigint>")
            )
        ),
    )
    tick_us = F.col("__t0") + F.col("__k") * i
    frac = F.when(
        F.col("__t1").isNull() | (F.col("__t1") == F.col("__t")), F.lit(0.0)
    ).otherwise(
        (tick_us - F.col("__t")).cast("double")
        / (F.col("__t1") - F.col("__t")).cast("double")
    )
    x = F.col("__x") + (F.col("__x1") - F.col("__x")) * frac
    y = F.col("__y") + (F.col("__y1") - F.col("__y")) * frac
    return ticks.select(
        F.col("traj_id"),
        F.timestamp_micros(tick_us).alias("t"),
        F.coalesce(x, F.col("__x")).alias("x"),
        F.coalesce(y, F.col("__y")).alias("y"),
    )
