"""Spatiotemporal proximity join (contact pairs).

Finds every unordered pair of trajectories that had observations within
`max_dist` (euclidean) of each other AND within `max_dt_s` seconds —
the contact-tracing / vessel-encounter / convoy-detection join. The
reference can only express this as a python double loop over
trajectory objects (its TrajectoryCollection has no pairwise join at
all); here it is a bucketed equi-join.

Plan — grid-bucketed one-sided replication, never all-pairs:
points get a (ix, iy, tb) bucket (grid cell at `res` over `bounds`,
time bucket of width `max_dt_s`). Cell size must be >= max_dist and
the bucket width equals max_dt_s, so any qualifying pair sits within
+-1 bucket on every axis. The LEFT copy is replicated to its 27
neighbor buckets (3x3x3 sequence-explode, pure codegen); the RIGHT
copy stays in its home bucket only — a qualifying (a, b) pair with
a.traj_id < b.traj_id therefore meets EXACTLY once (in b's home
bucket), so no distinct/dedup pass is needed. After the equi-join a
codegen refine keeps exact dist <= max_dist and |dt| <= max_dt_s, then
one aggregation per trajectory pair.

At scale: the join is a plain shuffle equi-join on the bucket key —
27x replication of one side, no range explosion, no cartesian. A hot
cell (everyone in one harbor) skews the bucket key; AQE skew-join
splits it (the replicated side is spillable), and raising `res`
shrinks buckets as density grows. Wall cost is output-bound:
candidate pairs ~ sum over buckets of |A_27||B_home|, the standard
grid-join bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movingspark import cells

__all__ = ["proximity_pairs"]


def proximity_pairs(
    df: DataFrame,
    max_dist: float,
    max_dt_s: float,
    res: int,
    bounds=cells.WORLD,
) -> DataFrame:
    """All unordered trajectory pairs (traj_a < traj_b) with at least one
    contact (point pairs within `max_dist` and `max_dt_s`). Output:
    (traj_a, traj_b, n_contacts, min_dist) — n_contacts counts point
    pairs, min_dist is the closest approach among them."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    if max_dist > min(cw, ch):
        raise ValueError(
            f"max_dist {max_dist} exceeds cell size ({cw} x {ch}) at res {res}; "
            "raise bounds/res so one neighbor ring covers the distance"
        )
    tol_us = int(round(max_dt_s * 1_000_000))
    if tol_us <= 0:
        raise ValueError("max_dt_s must be positive")

    ix, iy = cells.cell_ixiy_expr("x", "y", res, bounds)
    base = df.select(
        F.col("traj_id").alias("__traj"),
        F.unix_micros(F.col("t")).alias("__tu"),
        F.col("x").alias("__x"),
        F.col("y").alias("__y"),
        ix.alias("__ix"),
        iy.alias("__iy"),
    ).withColumn("__tb", F.floor(F.col("__tu") / F.lit(tol_us)))

    # left copy: 27-way neighbor replication (sequence-explode, codegen)
    a = (
        base.withColumn("__dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("__dt", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            F.col("__traj").alias("ta"),
            F.col("__tu").alias("tua"),
            F.col("__x").alias("xa"),
            F.col("__y").alias("ya"),
            (F.col("__ix") + F.col("__dx")).alias("jx"),
            (F.col("__iy") + F.col("__dy")).alias("jy"),
            (F.col("__tb") + F.col("__dt")).alias("jt"),
        )
    )
    b = base.select(
        F.col("__traj").alias("tb_"),
        F.col("__tu").alias("tub"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("__ix").alias("jx"),
        F.col("__iy").alias("jy"),
        F.col("__tb").alias("jt"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    # shuffle-hash hint, build side = the UN-replicated home copy: the
    # static planner cannot estimate post-explode cardinality and was
    # observed broadcasting the 27x-replicated side (3.3x wall at sf0.1);
    # a shuffle hash join on the bucket key with the 27x-smaller side as
    # the build table is also the only strategy that survives 100 TB,
    # where neither side is broadcastable.
    contacts = (
        a.join(b.hint("shuffle_hash"), ["jx", "jy", "jt"])
        .filter(F.col("ta") < F.col("tb_"))
        .filter(F.abs(F.col("tua") - F.col("tub")) <= F.lit(tol_us))
        .filter(dx * dx + dy * dy <= F.lit(float(max_dist) * float(max_dist)))
    )
    return contacts.groupBy(
        F.col("ta").alias("traj_a"), F.col("tb_").alias("traj_b")
    ).agg(
        F.count(F.lit(1)).alias("n_contacts"),
        F.min(F.sqrt(dx * dx + dy * dy)).alias("min_dist"),
    )
