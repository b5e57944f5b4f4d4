"""TrajectoryCollectionAggregator flow map (SURVEY.md §2.9 X16-X18,
reference trajectory_aggregator.py / point_clusterer.py; Andrienko &
Andrienko 2011).

Pipeline: significant points (sequential i/j/k scan per trajectory,
grouped-map UDF) -> grid clustering (insertion-order dependent in the
reference, so it runs once over the collected significant points in
deterministic (traj_id, seq) order — significant points are the heavily
reduced representation, orders of magnitude smaller than the input) ->
flows (fully distributed: broadcast kNN to centroids + window lag +
group aggregates).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movingspark import gmap, kernels, pyworker
from movingspark.schema import C_EARTH, local_frame


# ---------------------------------------------------------------------------
# X16 — significant point extraction (PtsExtractor, trajectory_aggregator.py:141-233)
# ---------------------------------------------------------------------------


def _sig_points_np(x, y, t, max_distance, min_distance, min_stop_duration_s, min_angle, latlon):
    """Ported i/j/k scan; returns list of point indices... the reference
    collects POINTS (start, end, then scan finds) — we mirror that as
    (x, y) tuples since a found point may equal start (skipped) or
    repeat."""

    def dist(a, b):
        if latlon:
            return float(kernels.geodesic(x[a], y[a], x[b], y[b]))
        return float(np.hypot(x[b] - x[a], y[b] - y[a]))

    n = len(x)
    start = (x[0], y[0])
    pts = [start, (x[n - 1], y[n - 1])]

    def append(j):
        p = (x[j], y[j])
        if p != start:
            pts.append(p)

    i, j = 0, 1
    while j < n - 1:
        if dist(i, j) >= max_distance:
            # is_significant_distance also re-appends point i
            pi = (x[i], y[i])
            if pi != start:
                pts.append(pi)
            append(j)
            i = j
            j = i + 1
            continue
        # locate_points_beyond_min_distance
        k = j
        has_points = False
        for k in range(j + 1, n):
            if dist(j, k) >= min_distance:
                has_points = True
                break
        if has_points:
            if k > j + 1:
                dt = t[k - 1] - t[j]
                if dt >= min_stop_duration_s:
                    append(j)
                    i = j
                    j = k
                    continue
                else:
                    j = int(j + (k - 1 - j) / 2)
            az_ij = float(kernels.azimuth(x[i], y[i], x[j], y[j]))
            az_jk = float(kernels.azimuth(x[j], y[j], x[k], y[k]))
            ang = float(kernels.angular_difference(az_ij, az_jk))
            if min_angle <= ang <= 360 - min_angle:
                append(j)
                i = j
                j = k
            else:
                j += 1
        else:
            return pts
    return pts


def extract_significant_points(
    df: DataFrame,
    max_distance: float,
    min_distance: float,
    min_stop_duration_s: float,
    min_angle: float = 45,
    latlon: bool = False,
) -> DataFrame:
    """X16: (traj_id, seq, x, y) significant points; seq preserves the
    reference's emission order within each trajectory (start, end, scan
    finds) so downstream clustering is order-reproducible."""

    def per_traj(g):
        pts = _sig_points_np(
            np.asarray(g["x"], float),
            np.asarray(g["y"], float),
            gmap.seconds(g["t"]),
            max_distance,
            min_distance,
            min_stop_duration_s,
            min_angle,
            latlon,
        )
        xy = np.reshape(pts, (-1, 2))
        return np.zeros(len(xy), np.int64), {"seq": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]}

    return gmap.grouped_apply_sorted(df, per_traj, "traj_id string, seq long, x double, y double")


# ---------------------------------------------------------------------------
# X17 — grid clustering (point_clusterer.py:11-121)
# ---------------------------------------------------------------------------


# above this many significant points the clustering runs per partition
_DRIVER_MAX_POINTS = 5_000_000


def cluster_significant_points(sig: DataFrame, max_distance: float, latlon: bool = False) -> DataFrame:
    """X17: insertion-order-dependent grid clustering. The reference
    processes points in collection order; we fix that order to
    (traj_id, seq) and run the (small) clustering driver-side, returning
    a broadcastable centroid table (cluster_id, cx, cy, n).

    _DRIVER_MAX_POINTS guards the driver: significant points are
    normally a tiny fraction of the input, but a pathological input
    (dense turns) can make them ~= all points and OOM the driver on
    collect(). The count check costs one cheap aggregate (~48
    bytes/point driver memory when under it).

    Above the cap the clustering switches to a two-level scheme —
    per-partition grid clustering (insertion order preserved WITHIN each
    partition) followed by a weighted driver-side merge of the partial
    centroids. This is a DOCUMENTED DEVIATION from the reference's
    strict global insertion order: centroids differ by at most the
    within-cell averaging order, cluster count and memberships stay
    grid-accurate, and the driver only ever sees per-partition centroid
    summaries (bounded by corpus_area/cell^2 per partition), never the
    points."""
    n = sig.count()
    if n <= _DRIVER_MAX_POINTS:
        pts = [
            (r["x"], r["y"])
            for r in sig.orderBy("traj_id", "seq").select("x", "y").collect()
        ]
        clusters = grid_cluster(pts, max_distance, latlon)
    else:
        def per_part(batches):
            pyworker.prepare()
            batches = list(batches)
            if not batches:
                return
            t = pa.Table.from_batches(batches).sort_by([("traj_id", "ascending"), ("seq", "ascending")])
            x, y = (t.column(c).to_numpy() for c in ("x", "y"))
            part = grid_cluster(list(zip(x, y)), max_distance, latlon)
            if part:
                cx, cy, cn = zip(*part)
                yield pa.RecordBatch.from_pydict(
                    {"cx": cx, "cy": cy, "n": cn},
                    schema=pa.schema([("cx", pa.float64()), ("cy", pa.float64()), ("n", pa.int64())]),
                )

        partial = sig.select("traj_id", "seq", "x", "y").mapInArrow(
            per_part, schema="cx double, cy double, n long"
        ).collect()
        clusters = grid_cluster_weighted(
            [(r["cx"], r["cy"]) for r in partial],
            [int(r["n"]) for r in partial],
            max_distance, latlon,
        )
    rows = [
        (f"c{i}", float(cx), float(cy), int(cn)) for i, (cx, cy, cn) in enumerate(clusters)
    ]
    return local_frame(sig.sparkSession, rows, "cluster_id string, cx double, cy double, n long")


def _grid_cluster(points, weights, max_distance, latlon, cluster):
    """Two-pass grid clustering of _Grid (point_clusterer.py:54-121).
    `cluster(px, py, w)` opens a cluster; its `add(px, py, w)` is the
    centroid-update rule, the only part that differs between callers.

    Cells of cell_size (latlon: /C_EARTH*360) cover the points' bbox,
    floor(span/cell) + 1 per axis so the max-coordinate point has one.
    Pass 1: a point joins the nearest centroid within cell_size in its
    3x3 neighborhood, else opens a cluster in its own cell. Pass 2:
    every point is recounted to its nearest centroid within
    20*cell_size. Returns [(cx, cy, n)] in creation order, n = summed
    weights of the recounted points."""
    if not points:
        return []
    xs = np.array([p[0] for p in points])
    ys = np.array([p[1] for p in points])
    minx, miny = xs.min(), ys.min()
    cell_size = max_distance / C_EARTH * 360 if latlon else max_distance
    n_cols = math.floor((xs.max() - minx) / cell_size) + 1
    n_rows = math.floor((ys.max() - miny) / cell_size) + 1
    cells = [[None] * n_rows for _ in range(n_cols)]
    clusters = []

    def grid_pos(px, py):
        return (
            int(math.floor((px - minx) / cell_size)),
            int(math.floor((py - miny) / cell_size)),
        )

    def closest(px, py, max_dist):
        i, j = grid_pos(px, py)
        best = None
        shortest = cell_size * 100
        for k in range(max(i - 1, 0), min(i + 2, n_cols)):
            for m in range(max(j - 1, 0), min(j + 2, n_rows)):
                g = cells[k][m]
                if g is None:
                    continue
                d = math.hypot(px - g.cx, py - g.cy)
                if d <= max_dist and d < shortest:
                    best = g
                    shortest = d
        return best

    for (px, py), w in zip(points, weights):
        g = closest(px, py, cell_size)
        if g is None:
            g = cluster(px, py, w)
            clusters.append(g)
            i, j = grid_pos(px, py)
            cells[i][j] = g
        else:
            g.add(px, py, w)

    for g in clusters:
        g.n = 0
    for (px, py), w in zip(points, weights):
        g = closest(px, py, cell_size * 20)
        if g is not None:
            g.n += w

    return [(g.cx, g.cy, g.n) for g in clusters]


class _MeanCluster:
    """Reference update rule: centroid = exact (fsum) mean of members."""

    def __init__(self, px, py, w):
        self.xs, self.ys = [px], [py]
        self.cx, self.cy = px, py

    def add(self, px, py, w):
        self.xs.append(px)
        self.ys.append(py)
        self.cx = math.fsum(self.xs) / len(self.xs)
        self.cy = math.fsum(self.ys) / len(self.ys)


class _WeightedCluster:
    """Partial-centroid merge rule: weighted running-sum mean."""

    def __init__(self, px, py, w):
        self.sx, self.sy, self.sw = px * w, py * w, w
        self.cx, self.cy = px, py

    def add(self, px, py, w):
        self.sx += px * w
        self.sy += py * w
        self.sw += w
        self.cx = self.sx / self.sw
        self.cy = self.sy / self.sw


def grid_cluster(points, max_distance, latlon=False):
    """Pure-python port of _Grid (point_clusterer.py:54-121): nearest
    existing centroid within the 3x3 neighborhood else new cluster,
    centroid recomputed per insert; second pass redistributes all points
    (radius 20*cell_size). Returns [(cx, cy, n_points)] in creation
    order."""
    return _grid_cluster(points, [1] * len(points), max_distance, latlon, _MeanCluster)


def grid_cluster_weighted(points, weights, max_distance, latlon=False):
    """Weighted variant of grid_cluster for the scale fallback: each
    input point is a pre-aggregated partial centroid carrying `weight`
    original points. Same grid/nearest-neighbor/redistribute structure;
    centroid updates use the weighted mean, counts sum the weights.
    Only the update rule differs, so the reference-exact fsum rule of
    grid_cluster (pinned by the driver oracle) is untouched.

    Zero-weight partials (grid_cluster emits n=0 clusters whenever all
    of a cluster's points redistribute away in the second pass) carry no
    mass and are dropped up front — merging one into a cluster whose
    accumulated weight is still 0 would divide by zero."""
    pw = [(p, w) for p, w in zip(points, weights) if w > 0]
    return _grid_cluster(
        [p for p, _ in pw], [w for _, w in pw], max_distance, latlon, _WeightedCluster
    )


# ---------------------------------------------------------------------------
# X18 + A12 — flows between clusters (trajectory_aggregator.py:236-296)
# ---------------------------------------------------------------------------


def compute_flows(df: DataFrame, centroids: DataFrame, latlon: bool = False) -> DataFrame:
    """X18: assign every point its nearest centroid (broadcast kNN),
    compress consecutive repeats per trajectory, count transitions:
    weight = #transitions, obj_weight = #distinct obj ids (exact).
    Output: (from_cluster, to_cluster, from_x, from_y, to_x, to_y,
    weight, obj_weight)."""
    from movingspark.joins import knn_join

    has_obj = "obj_id" in df.columns
    obj = F.col("obj_id") if has_obj else F.lit(None).cast("string")
    near = knn_join(df.withColumn("__obj", obj), centroids, k=1, latlon=latlon)

    w = Window.partitionBy("traj_id").orderBy("t")
    kept = near.withColumn("__prev", F.lag("cluster_id").over(w)).filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("cluster_id"))
    )
    w2 = Window.partitionBy("traj_id").orderBy("t")
    trans = kept.withColumn("from_cluster", F.lag("cluster_id").over(w2)).filter(
        F.col("from_cluster").isNotNull()
    )
    flows = trans.groupBy("from_cluster", F.col("cluster_id").alias("to_cluster")).agg(
        F.count("*").alias("weight"),
        F.count_distinct("__obj").alias("obj_weight"),
    )
    c_from = centroids.select(
        F.col("cluster_id").alias("from_cluster"),
        F.col("cx").alias("from_x"),
        F.col("cy").alias("from_y"),
    )
    c_to = centroids.select(
        F.col("cluster_id").alias("to_cluster"),
        F.col("cx").alias("to_x"),
        F.col("cy").alias("to_y"),
    )
    return (
        flows.join(F.broadcast(c_from), "from_cluster")
        .join(F.broadcast(c_to), "to_cluster")
        .select("from_cluster", "to_cluster", "from_x", "from_y", "to_x", "to_y", "weight", "obj_weight")
    )


def cell_visit_counts(df: DataFrame, centroids: DataFrame, latlon: bool = False) -> DataFrame:
    """A12 hour-quartile visit counters (trajectory_aggregator.py:281-287):
    per cluster the number of sequence entries, split by hour-of-day
    quartile (h // 6 + 1)."""
    from movingspark.joins import knn_join

    near = knn_join(df, centroids, k=1, latlon=latlon)
    w = Window.partitionBy("traj_id").orderBy("t")
    kept = near.withColumn("__prev", F.lag("cluster_id").over(w)).filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("cluster_id"))
    )
    bucket = (F.hour("t") / 6).cast("int") + 1
    return (
        kept.withColumn("__b", bucket)
        .groupBy("cluster_id", "__b")
        .agg(F.count("*").alias("n"))
        .withColumnRenamed("__b", "hour_quartile")
    )


def aggregate_flows(
    df: DataFrame,
    max_distance: float,
    min_distance: float,
    min_stop_duration_s: float,
    min_angle: float = 45,
    latlon: bool = False,
):
    """Full TrajectoryCollectionAggregator pipeline; returns
    (significant_points_df, centroids_df, flows_df)."""
    sig = extract_significant_points(
        df, max_distance, min_distance, min_stop_duration_s, min_angle, latlon
    )
    cents = cluster_significant_points(sig, max_distance, latlon)
    flows = compute_flows(df, cents, latlon)
    return sig, cents, flows


def od_matrix(df: DataFrame, res: int, bounds=None) -> DataFrame:
    """Origin-destination matrix: one row per (origin cell, destination
    cell) pair with trip counts, where origin/destination are the tile
    cells of each trajectory's first/last observation — the aggregate
    flow view planners ask for (X18's flows are cell-to-cell per
    consecutive SEGMENT; this is end-to-end per TRIP).

    Plan: min_by/max_by over the trajectory key (map-side-combinable —
    no window, no sort) picks each trajectory's first and last
    observation in one partial-aggregable pass, then a second tiny
    rollup groups the per-trip rows into the matrix. Two exchanges
    total, both on keys that shrink the data (traj count, then cell-
    pair count)."""
    from movingspark import cells as _cells

    bounds = bounds if bounds is not None else _cells.WORLD
    t, x, y = F.col("t"), F.col("x"), F.col("y")
    per_trip = df.groupBy("traj_id").agg(
        F.min_by(F.struct(x.alias("x"), y.alias("y")), t).alias("__o"),
        F.max_by(F.struct(x.alias("x"), y.alias("y")), t).alias("__d"),
    )
    o_cell = _cells.cell_id_expr("__o.x", "__o.y", res, bounds)
    d_cell = _cells.cell_id_expr("__d.x", "__d.y", res, bounds)
    return (
        per_trip.select(o_cell.alias("origin_cell"), d_cell.alias("dest_cell"))
        .groupBy("origin_cell", "dest_cell")
        .agg(F.count(F.lit(1)).alias("n_trips"))
    )
