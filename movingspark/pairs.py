"""Trajectory-pair geometry ops (SURVEY.md §2: Trajectory.distance /
hausdorff_distance as DataFrame operators).

Reference: trajectory.py:1548-1586 (distance = shapely
LineString.distance, min line-line distance, 0 on intersection) and
trajectory.py:1587-1627 (hausdorff_distance = GEOS discrete Hausdorff,
vertex-to-line). Tests: test_trajectory.py:1130-1176.

Scale shape: each trajectory is folded to one row of coordinate arrays
with a map-side-combinable collect_list (trajectories are bounded-size
groups by construction); the broadcast pair table joins against that
folded table twice, and one Arrow-batched pass (gmap.map_batches)
computes both metrics per pair; the line metrics run the same kernel
against one constant line. The point-table never ships twice and
nothing is quadratic in points.

`distance_to_point` needs no Python at all: consecutive-point segments
via the per-trajectory lag window, a codegen'd clamp-projection distance
expression, then a map-side-combinable min per trajectory.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import gmap, kernels
from movingspark.schema import local_frame


def _traj_coords(df: DataFrame, key: str) -> DataFrame:
    """Fold each trajectory to one row: (key, xs array, ys array), in
    time order (array_sort on (t,x,y) structs — t first => time order)."""
    return (
        df.groupBy(F.col("traj_id").alias(key))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("x"), F.col("y")))
            ).alias("__s")
        )
        .select(
            key,
            F.col("__s.x").alias(f"__{key}_xs"),
            F.col("__s.y").alias(f"__{key}_ys"),
        )
    )


def _polylines(batch, key: str) -> list:
    """Per row of `batch`, the (n, 2) polyline of its `__{key}_xs` and
    `__{key}_ys` lists, sliced from the flat values by the offsets."""
    xs, ys = batch.column(f"__{key}_xs"), batch.column(f"__{key}_ys")
    ox, oy = xs.offsets.to_numpy(), ys.offsets.to_numpy()
    vx, vy = (c.values.to_numpy(zero_copy_only=False).astype(np.float64) for c in (xs, ys))
    return [np.column_stack([vx[ox[i] : ox[i + 1]], vy[oy[i] : oy[i + 1]]]) for i in range(len(xs))]


def _line_metrics(rows: DataFrame, keys: list[str], b) -> DataFrame:
    """`keys` + (min_distance, hausdorff) per row of `rows`: the line of
    its `keys[0]` coordinate lists against `b`, the key of a second pair
    of lists or one constant (n, 2) line."""

    def metrics(batch):
        la = _polylines(batch, keys[0])
        lb = _polylines(batch, b) if isinstance(b, str) else [b] * len(la)
        m = np.array([(kernels.polyline_min_distance(p, q), kernels.discrete_hausdorff_line(p, q)) for p, q in zip(la, lb)])
        return [*(batch.column(k) for k in keys), m[:, 0], m[:, 1]]

    schema = T.StructType(
        [rows.schema[k] for k in keys]
        + [T.StructField("min_distance", T.DoubleType()), T.StructField("hausdorff", T.DoubleType())]
    )
    return gmap.map_batches(rows, metrics, schema)


def trajectory_pair_metrics(df: DataFrame, pairs) -> DataFrame:
    """min line-line distance + discrete Hausdorff for every (traj_a,
    traj_b) pair. `pairs`: DataFrame with columns (traj_a, traj_b) or a
    list of id tuples. Output: (traj_a, traj_b, min_distance, hausdorff)."""
    spark = df.sparkSession
    if not isinstance(pairs, DataFrame):
        pairs = local_frame(spark, [(str(a), str(b)) for a, b in pairs], "traj_a string, traj_b string")
    a = _traj_coords(df, "traj_a")
    b = _traj_coords(df, "traj_b")
    j = a.join(F.broadcast(pairs), "traj_a").join(b, "traj_b")
    return _line_metrics(j, ["traj_a", "traj_b"], "traj_b")


def trajectory_to_line_metrics(df: DataFrame, line) -> DataFrame:
    """Per-trajectory min distance + discrete Hausdorff against ONE
    driver-known polyline/point (reference: traj.distance(geometry),
    traj.hausdorff_distance(geometry)). Output: (traj_id, min_distance,
    hausdorff)."""
    line_np = np.asarray(line, dtype=np.float64).reshape(-1, 2)
    return _line_metrics(_traj_coords(df, "traj_id"), ["traj_id"], line_np)


def point_segment_dist_expr(qx: float, qy: float, ax, ay, bx, by) -> F.Column:
    """Codegen'd distance from the fixed point (qx,qy) to segment a->b:
    same clamp-projection arithmetic as kernels.point_segment_dist, so
    the SQL oracle (identical formula) agrees bit-for-bit."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = ((F.lit(qx) - ax) * dx + (F.lit(qy) - ay) * dy) / F.when(len2 == 0, F.lit(1.0)).otherwise(len2)
    t = F.least(F.greatest(F.when(len2 > 0, t_raw).otherwise(F.lit(0.0)), F.lit(0.0)), F.lit(1.0))
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt((F.lit(qx) - cx) * (F.lit(qx) - cx) + (F.lit(qy) - cy) * (F.lit(qy) - cy))


def distance_to_point(df: DataFrame, qx: float, qy: float) -> DataFrame:
    """Per-trajectory min distance from the trajectory LINE to a fixed
    point — measure_distance_line parity (geometry_utils.py:102-107)
    without Python: lag window -> codegen'd point-segment distance ->
    map-side-combinable min per trajectory."""
    w = Window.partitionBy("traj_id").orderBy("t")
    seg = df.withColumn("__px", F.lag("x").over(w)).withColumn("__py", F.lag("y").over(w))
    # first row per traj: degenerate segment (point distance)
    ax = F.coalesce(F.col("__px"), F.col("x"))
    ay = F.coalesce(F.col("__py"), F.col("y"))
    d = point_segment_dist_expr(qx, qy, ax, ay, F.col("x"), F.col("y"))
    return seg.withColumn("__d", d).groupBy("traj_id").agg(F.min("__d").alias("min_distance"))


def hausdorff_to_polyline(df: DataFrame, polyline: list[tuple[float, float]]) -> DataFrame:
    """Directed discrete Hausdorff from each trajectory's POINTS to a
    fixed query polyline: max over the trajectory's points of the min
    distance to any polyline segment — the similarity-search primitive
    "rank all trajectories by how far they stray from this route".

    Pure codegen: the polyline is a handful of driver-known segments,
    so per point the distance is a LEAST() over a few clamp-projection
    expressions (same arithmetic as point_segment_dist_expr with the
    roles swapped — point is a column, segment is constant), then one
    map-side-combinable MAX per trajectory. No Python, no join, no
    second shuffle: at 100 TB this is a single scan + one partial agg."""
    x, y = F.col("x"), F.col("y")
    dists = []
    for (ax, ay), (bx, by) in zip(polyline, polyline[1:]):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0:
            dists.append(F.sqrt((x - ax) * (x - ax) + (y - ay) * (y - ay)))
            continue
        t_raw = ((x - ax) * dx + (y - ay) * dy) / F.lit(len2)
        t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        cx, cy = F.lit(ax) + t * dx, F.lit(ay) + t * dy
        dists.append(F.sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)))
    d = F.least(*dists) if len(dists) > 1 else dists[0]
    return (
        df.withColumn("__d", d)
        .groupBy("traj_id")
        .agg(F.max("__d").alias("hausdorff"))
    )


def frechet_to_polyline(df: DataFrame, polyline: list[tuple[float, float]]) -> DataFrame:
    """Discrete Fréchet distance (Eiter & Mannila 1994 coupling DP) from
    each trajectory's time-ordered points to a fixed query route — the
    order-aware route-similarity metric Hausdorff lacks (a trajectory
    that traces the route BACKWARDS scores 0 on Hausdorff but large on
    Fréchet). Output: (traj_id, frechet).

    The O(n*m) DP runs as a PURE CATALYST fold — zero Python: each
    trajectory folds to its sorted coordinate arrays (one exchange, the
    same map-side-combinable collect as every pair metric here), then
    F.aggregate() walks the points carrying the m-wide DP row as a
    struct, with the column recurrence

        new[0] = max(d(p, 0), acc[0])
        new[j] = max(d(p, j), min(acc[j], acc[j-1], new[j-1]))

    unrolled over the route's m vertices. Unrolling duplicates the
    new[j-1] subtree, so expression size is O(2^m): fine for the short
    query routes this op is for (m <= ~10); longer routes belong in the
    Arrow-batched pair kernel above. Per trajectory the fold is linear and
    the whole op is scan -> partial agg -> fold: no join, nothing
    quadratic in points, skew bounded by trajectory length."""
    m = len(polyline)
    if m < 1:
        raise ValueError("polyline needs at least one vertex")
    a = _traj_coords(df, "traj_id")
    xs, ys = "__traj_id_xs", "__traj_id_ys"
    pts = F.arrays_zip(F.col(xs), F.col(ys))

    def d(p, j):
        qx, qy = polyline[j]
        dx, dy = p[xs] - F.lit(float(qx)), p[ys] - F.lit(float(qy))
        return F.sqrt(dx * dx + dy * dy)

    def init_state(p):
        c = [d(p, 0)]
        for j in range(1, m):
            c.append(F.greatest(c[j - 1], d(p, j)))
        return F.struct(*[cj.alias(f"c{j}") for j, cj in enumerate(c)])

    def step(acc, p):
        new = [F.greatest(d(p, 0), acc["c0"])]
        for j in range(1, m):
            new.append(
                F.greatest(
                    d(p, j),
                    F.least(acc[f"c{j}"], acc[f"c{j-1}"], new[j - 1]),
                )
            )
        return F.struct(*[nj.alias(f"c{j}") for j, nj in enumerate(new)])

    rest = F.slice(pts, F.lit(2), F.greatest(F.size(pts) - F.lit(1), F.lit(0)))
    out = F.aggregate(rest, init_state(pts[0]), step, lambda acc: acc[f"c{m-1}"])
    return a.select("traj_id", out.alias("frechet"))


def route_progress(df: DataFrame, polyline: list[tuple[float, float]]) -> DataFrame:
    """Linear referencing (map-matching-lite): snap every observation to
    a driver-known route polyline and report `route_offset` (distance
    along the route from its start to the snapped point) and
    `route_dist` (snap error, the perpendicular distance). The
    progress-along-route view is what turns raw fixes into "vehicle is
    at km 14.2 of the corridor" — the primitive under ETA, headway and
    corridor-occupancy queries.

    Pure codegen, zero Python, zero shuffle: per segment the clamp
    projection is the same arithmetic as hausdorff_to_polyline, the
    argmin over the route's m segments is an unrolled strictly-less
    CASE fold (ties keep the EARLIEST segment — deterministic and
    mirrored by the SQL oracle), and the cumulative segment offsets
    fold in as plan-time literals. One scan at any scale."""
    import math

    x, y = F.col("x"), F.col("y")
    if len(polyline) < 2:
        raise ValueError("route needs at least 2 vertices")
    best_d, best_off = None, None
    cum = 0.0
    for (ax, ay), (bx, by) in zip(polyline, polyline[1:]):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        seg_len = math.sqrt(len2)
        if len2 == 0:
            d = F.sqrt((x - ax) * (x - ax) + (y - ay) * (y - ay))
            off = F.lit(cum)
        else:
            t_raw = ((x - ax) * dx + (y - ay) * dy) / F.lit(len2)
            t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
            cx, cy = F.lit(ax) + t * dx, F.lit(ay) + t * dy
            d = F.sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy))
            off = F.lit(cum) + t * F.lit(seg_len)
        if best_d is None:
            best_d, best_off = d, off
        else:
            closer = d < best_d
            best_off = F.when(closer, off).otherwise(best_off)
            best_d = F.when(closer, d).otherwise(best_d)
        cum += seg_len
    return df.select(
        "traj_id",
        "t",
        best_off.alias("route_offset"),
        best_d.alias("route_dist"),
    )
