"""Convoy / co-movement detection (flock-pattern mining).

Trajectory pairs that travel TOGETHER: within `max_dist` of each other
in at least `min_epochs` CONSECUTIVE time epochs, optionally dissolved
into convoy groups. The classic trajectory-analytics pattern query
(Gudmundsson & van Kreveld's flocks / Jeung et al.'s convoys); the
reference has no pairwise machinery at all (its collection holds
python Trajectory objects — `trajectory_collection.py` offers no join),
so this is a beyond-reference operator built from the engine's own
scale primitives.

Plan — never all-pairs, at any scale:
1. per-epoch contact pairs: points bucket to (epoch, ix, iy) with cell
   size >= max_dist (same one-sided 9-way spatial replication as the
   proximity join, `proximity.py` — epochs join by exact equality, so
   no temporal replication); a codegen refine keeps exact squared
   distance; a pair's "together in epoch e" fact is aggregated
   map-side (count>0), so the join output collapses before the next
   exchange.
2. consecutive-run detection: one window over (pair) ordered by epoch —
   the classic `e - row_number()` run grouper — then two shrinking
   aggregations. Pairs are the partition key: exchange cardinality is
   |together facts|, already collapsed per (pair, epoch).
3. convoy groups (`convoys`): alternating large-star/small-star
   connected components over the qualifying pairs
   (components.connected_components, O(log^2 n) rounds) — convoy_id =
   min traj_id reachable, the same deterministic labeling the dedup
   family uses.

Cost is output-bound: candidate pairs ~ sum over (epoch, cell) buckets
of |A_9||B_home| — the standard grid-join bound; a hot (epoch, cell)
skews the equi-join key and AQE skew-join splits it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movingspark import cells

__all__ = ["together_epochs", "convoy_pairs", "convoys"]


def together_epochs(
    df: DataFrame,
    max_dist: float,
    epoch_s: float,
    res: int,
    bounds=cells.WORLD,
) -> DataFrame:
    """(traj_a, traj_b, epoch) facts: the pair had at least one point
    pair within `max_dist` (euclidean) during that epoch. traj_a <
    traj_b; each fact emitted once."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    if max_dist > min(cw, ch):
        raise ValueError(
            f"max_dist {max_dist} exceeds cell size ({cw} x {ch}) at res {res}; "
            "raise bounds/res so one neighbor ring covers the distance"
        )
    ep_us = int(round(epoch_s * 1_000_000))
    if ep_us <= 0:
        raise ValueError("epoch_s must be positive")

    ix, iy = cells.cell_ixiy_expr("x", "y", res, bounds)
    base = df.select(
        F.col("traj_id").alias("__traj"),
        F.floor(F.unix_micros(F.col("t")) / F.lit(ep_us)).alias("__e"),
        F.col("x").alias("__x"),
        F.col("y").alias("__y"),
        ix.alias("__ix"),
        iy.alias("__iy"),
    )
    # left copy replicated to the 3x3 spatial neighbor ring; epochs join
    # by exact equality (a contact is within-epoch by definition), so
    # replication is 9x, not the proximity join's 27x.
    a = (
        base.withColumn("__dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            F.col("__traj").alias("ta"),
            F.col("__e").alias("e"),
            F.col("__x").alias("xa"),
            F.col("__y").alias("ya"),
            (F.col("__ix") + F.col("__dx")).alias("jx"),
            (F.col("__iy") + F.col("__dy")).alias("jy"),
        )
    )
    b = base.select(
        F.col("__traj").alias("tb_"),
        F.col("__e").alias("e"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("__ix").alias("jx"),
        F.col("__iy").alias("jy"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    # shuffle-hash with the un-replicated home copy as build side — same
    # rationale as proximity_pairs (post-explode cardinality defeats the
    # static planner; neither side broadcasts at 100 TB).
    contacts = (
        a.join(b.hint("shuffle_hash"), ["jx", "jy", "e"])
        .filter(F.col("ta") < F.col("tb_"))
        .filter(dx * dx + dy * dy <= F.lit(float(max_dist) * float(max_dist)))
    )
    # collapse to one fact per (pair, epoch) — groupBy (not distinct on
    # the wide row) so the map-side partial aggregation shrinks the
    # exchange to the fact cardinality.
    return contacts.groupBy(
        F.col("ta").alias("traj_a"), F.col("tb_").alias("traj_b"), "e"
    ).agg(F.count(F.lit(1)).alias("__n")).drop("__n")


def convoy_pairs(
    df: DataFrame,
    max_dist: float,
    epoch_s: float,
    min_epochs: int,
    res: int,
    bounds=cells.WORLD,
) -> DataFrame:
    """Co-traveling pairs: (traj_a, traj_b, max_run, n_epochs) for pairs
    whose longest CONSECUTIVE-epoch together run >= min_epochs.
    max_run = that longest run; n_epochs = total together epochs
    (consecutive or not). Run/total counts are integers, so the output
    is engine-exact."""
    tog = together_epochs(df, max_dist, epoch_s, res, bounds)
    w = Window.partitionBy("traj_a", "traj_b").orderBy("e")
    runs = tog.withColumn("__g", F.col("e") - F.row_number().over(w))
    per_run = runs.groupBy("traj_a", "traj_b", "__g").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return (
        per_run.groupBy("traj_a", "traj_b")
        .agg(
            F.max("__len").alias("max_run"),
            F.sum("__len").alias("n_epochs"),
        )
        .filter(F.col("max_run") >= F.lit(int(min_epochs)))
    )


def convoys(
    df: DataFrame,
    max_dist: float,
    epoch_s: float,
    min_epochs: int,
    res: int,
    bounds=cells.WORLD,
) -> DataFrame:
    """Convoy groups: (traj_id, convoy_id, n_members) — connected
    components over the qualifying co-travel pairs, convoy_id = min
    member id (deterministic, partitioning-invariant)."""
    from movingspark.components import connected_components

    pairs = convoy_pairs(df, max_dist, epoch_s, min_epochs, res, bounds)
    comp = connected_components(pairs, src="traj_a", dst="traj_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("traj_id"),
        F.col("component").alias("convoy_id"),
        "n_members",
    )
