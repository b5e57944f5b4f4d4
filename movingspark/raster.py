"""Raster -> vector conversion over the quadtree tile grid.

`joins.tile_rollup` is the vector -> raster half of the north rule's
"raster<->vector tile rollups"; this module is the other direction:

- `vectorize_tiles`: every occupied cell becomes a vector feature —
  cell id, WKT POLYGON of the cell rectangle, point/trajectory counts
  (and optional value sum). The classic "raster as polygons" export.
- `raster_regions`: threshold the raster, then dissolve 4-adjacent
  surviving cells into connected REGIONS (the raster analogue of GDAL
  polygonize / "contour islands"), labeling each region with the
  minimum member cell id via the same distributed large-star/small-star
  connected components that powers dedup clustering
  (movingspark/components.py).

Scale shape (the reason this is not a Pandas UDF): the only pass over
the POINT table is the tile rollup itself — a map-side-combinable
count/sum aggregation identical to `tile_rollup`. Everything after
(adjacency join, connected components, region aggregation) runs on the
RASTER, whose row count is bounded by the occupied-cell count
(<= 4^res, independent of the input size), so at 10^12 points the
raster->vector stage costs the same as at 10^6. Adjacency is an
equi-join on the (ix, iy) composite key — no geometry predicates, no
cross product; CC rounds are O(log^2 #cells).

No counterpart in the reference (movingpandas has no raster layer);
this extends the aggregation surface (SURVEY §2.12) the same way
TrajectoryCollectionAggregator's grid flows (reference
trajectory_aggregator.py:141-233) motivated `aggregate.flows`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from movingspark import cells
from movingspark.components import connected_components
from movingspark.schema import local_frame

__all__ = ["rasterize", "vectorize_tiles", "raster_regions", "corridor_cells", "hotspot_gi"]


def rasterize(
    df: DataFrame,
    res: int,
    bounds=cells.WORLD,
    value_col: str | None = None,
) -> DataFrame:
    """Point table -> raster keyed by grid coords: (ix, iy, cell,
    n_points, n_trajs[, sum_value]). Same single map-side-combinable
    aggregation as `joins.tile_rollup`, but keeps (ix, iy) alongside the
    Morton cell id so downstream adjacency needs no bit de-interleave."""
    ix, iy = cells.cell_ixiy_expr("x", "y", res, bounds)
    aggs = [
        F.count("*").alias("n_points"),
        F.count_distinct("traj_id").alias("n_trajs"),
    ]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return (
        df.withColumn("ix", ix)
        .withColumn("iy", iy)
        .withColumn("cell", cells.interleave_expr("ix", "iy", res))
        .groupBy("ix", "iy", "cell")
        .agg(*aggs)
    )


def _cell_rect(ix: Column, iy: Column, res: int, bounds) -> tuple[Column, ...]:
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    x0 = F.lit(float(minx)) + ix * F.lit(cw)
    y0 = F.lit(float(miny)) + iy * F.lit(ch)
    return x0, y0, x0 + F.lit(cw), y0 + F.lit(ch)


def vectorize_tiles(
    df: DataFrame,
    res: int,
    bounds=cells.WORLD,
    value_col: str | None = None,
) -> DataFrame:
    """Raster -> vector polygons: one row per occupied cell with the
    cell rectangle as WKT POLYGON (CCW from SW corner, closed ring) and
    the per-cell aggregates. Pure codegen expressions after the rollup —
    the WKT is a format_string, not a geometry library call."""
    ras = rasterize(df, res, bounds, value_col)
    x0, y0, x1, y1 = _cell_rect(F.col("ix"), F.col("iy"), res, bounds)
    wkt = F.format_string(
        "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))",
        x0, y0, x1, y0, x1, y1, x0, y1, x0, y0,
    )
    keep = ["n_points", "n_trajs"] + (["sum_value"] if value_col else [])
    return ras.select("cell", wkt.alias("wkt"), *keep)


def _regions_local(spark, ras: DataFrame, res: int, bounds) -> DataFrame:
    """Driver-side union-find dissolve of a (small) thresholded raster;
    output schema identical to the distributed path."""
    rows = ras.select("ix", "iy", "cell", "n_points").collect()
    idx = {(r["ix"], r["iy"]): k for k, r in enumerate(rows)}
    parent = list(range(len(rows)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for k, r in enumerate(rows):
        for nb in ((r["ix"] + 1, r["iy"]), (r["ix"], r["iy"] + 1)):
            j = idx.get(nb)
            if j is not None:
                ra, rb = find(k), find(j)
                if ra != rb:
                    parent[rb] = ra
    agg: dict[int, list] = {}
    for k, r in enumerate(rows):
        root = find(k)
        a = agg.setdefault(root, [r["cell"], 0, 0, r["ix"], r["iy"], r["ix"], r["iy"]])
        a[0] = min(a[0], r["cell"])
        a[1] += 1
        a[2] += r["n_points"]
        a[3] = min(a[3], r["ix"])
        a[4] = min(a[4], r["iy"])
        a[5] = max(a[5], r["ix"])
        a[6] = max(a[6], r["iy"])
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    out = [
        (
            int(a[0]), int(a[1]), int(a[2]),
            float(minx) + a[3] * cw, float(miny) + a[4] * ch,
            float(minx) + (a[5] + 1) * cw, float(miny) + (a[6] + 1) * ch,
        )
        for a in agg.values()
    ]
    return local_frame(
        spark,
        out,
        "region_id long, n_cells long, n_points long, "
        "x_min double, y_min double, x_max double, y_max double",
    )


def raster_regions(
    df: DataFrame,
    res: int,
    min_points: int,
    bounds=cells.WORLD,
    max_local_cells: int = 200_000,
) -> DataFrame:
    """Raster -> vector regionization: cells with >= `min_points` points
    are dissolved with their 4-adjacent neighbors into connected
    regions. Output, one row per region:

      region_id  = minimum Morton cell id in the region (deterministic),
      n_cells    = member cell count,
      n_points   = points covered,
      x_min/y_min/x_max/y_max = region bounding box in data coords
                   (union of member cell rectangles).

    The adjacency graph is built by two equi-joins of the thresholded
    raster with itself on (ix+1, iy) and (ix, iy+1) — each surviving
    cell meets each of its east/north neighbors exactly once — then
    labeled by `components.connected_components`. Isolated cells (no
    surviving neighbor) never appear in the edge list and fall back to
    their own cell id as region label.

    Two-level execution (the same guard pattern as
    `aggregate.cluster_significant_points`): the thresholded raster is
    bounded by 4^res rows regardless of input size, so up to
    `max_local_cells` the dissolve runs as a driver-side union-find on
    the collected raster (one collect of <= max_local_cells small rows —
    microseconds of CPU vs ~10 shuffle rounds of iterative CC); above
    the guard it falls back to the fully distributed
    large-star/small-star path. Both paths are exact and
    insertion-order-free; tests pin their equality."""
    ras = rasterize(df, res, bounds, None).filter(
        F.col("n_points") >= F.lit(int(min_points))
    )
    # the raster is tiny relative to the points and reused three times
    # (two adjacency probes + the label join): cache it.
    ras = ras.persist()
    if ras.count() <= max_local_cells:
        return _regions_local(df.sparkSession, ras, res, bounds)
    a = ras.select("ix", "iy", "cell")

    def adj(dx: int, dy: int) -> DataFrame:
        return (
            a.alias("l")
            .join(
                a.alias("r"),
                (F.col("l.ix") + dx == F.col("r.ix"))
                & (F.col("l.iy") + dy == F.col("r.iy")),
            )
            .select(F.col("l.cell").alias("src"), F.col("r.cell").alias("dst"))
        )

    edges = adj(1, 0).unionByName(adj(0, 1))
    comp = connected_components(edges, src="src", dst="dst")
    lab = ras.join(comp, ras["cell"] == comp["node"], "left").select(
        ras["ix"], ras["iy"], ras["n_points"],
        F.coalesce(comp["component"], ras["cell"]).alias("region_id"),
    )
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    out = lab.groupBy("region_id").agg(
        F.count("*").alias("n_cells"),
        F.sum("n_points").alias("n_points"),
        (F.lit(float(minx)) + F.min("ix") * F.lit(cw)).alias("x_min"),
        (F.lit(float(miny)) + F.min("iy") * F.lit(ch)).alias("y_min"),
        (F.lit(float(minx)) + (F.max("ix") + 1) * F.lit(cw)).alias("x_max"),
        (F.lit(float(miny)) + (F.max("iy") + 1) * F.lit(ch)).alias("y_max"),
    )
    return out


def corridor_cells(df: DataFrame, res: int, bounds=cells.WORLD) -> DataFrame:
    """Exact segment supercover: every grid cell each trajectory SEGMENT
    passes through (not just the cells containing observations) — the
    corridor membership query behind "which tiles did this vehicle
    traverse", and the line-rasterization dual of `rasterize`'s
    point-rasterization. Output: distinct (traj_id, cell).

    Pure Catalyst, zero Python: per consecutive segment, the crossing
    parameters with every interior vertical/horizontal grid line are
    materialized with sequence()+transform(), sorted with 0 and 1 into
    interval boundaries, and each interval MIDPOINT is classified into
    its cell (midpoints are strictly inside one cell, so no boundary
    ambiguity). Cost is output-bound: O(cells crossed) per segment, the
    same bound as integer supercover DDA. One trajectory exchange (the
    lag window), one distinct.

    Performance shape (Spark's higher-order functions are interpreted,
    not codegen'd, so per-element lambda work dominates this operator's
    CPU): every per-row quantity is materialized as a real column BEFORE
    the transform()s — an outer sub-expression referenced inside a
    lambda is re-evaluated per ELEMENT by the interpreter — reducing the
    lambda bodies to fused multiply-adds against per-row coefficients
    (crossing t = ax + i*bx; midpoint cell = floor(gx0 + m*gxd) in grid
    space). The Morton interleave (3*res integer ops per cell) runs
    AFTER the explode in whole-stage codegen over packed (ix<<res)|iy
    longs instead of per array element in the interpreter. The DuckDB
    oracle (__spark_entry__._corridor_cells_sql) mirrors the identical
    IEEE operation order, so engine and oracle stay float-locked."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    spanx, spany = maxx - minx, maxy - miny
    w = Window.partitionBy("traj_id").orderBy("t")
    x0, y0 = F.lag("x").over(w), F.lag("y").over(w)
    seg = (
        df.select(
            "traj_id",
            x0.alias("x0"),
            y0.alias("y0"),
            F.col("x").alias("x1"),
            F.col("y").alias("y1"),
        )
        .filter(F.col("x0").isNotNull())
    )
    ix0, iy0 = cells.cell_ixiy_expr("x0", "y0", res, bounds)
    ix1, iy1 = cells.cell_ixiy_expr("x1", "y1", res, bounds)
    dx, dy = F.col("x1") - F.col("x0"), F.col("y1") - F.col("y0")
    coef = seg.select(
        "traj_id",
        "x0",
        "y0",
        "x1",
        "y1",
        # crossing t at interior grid line i is ax + i*bx (ay + i*by);
        # nullif keeps ANSI mode from raising on zero-length axes — the
        # null coefficients are unreachable behind the p1 != p0 guard
        ((F.lit(float(minx)) - F.col("x0")) / F.nullif(dx, F.lit(0.0))).alias("ax"),
        (F.lit(spanx / n) / F.nullif(dx, F.lit(0.0))).alias("bx"),
        ((F.lit(float(miny)) - F.col("y0")) / F.nullif(dy, F.lit(0.0))).alias("ay"),
        (F.lit(spany / n) / F.nullif(dy, F.lit(0.0))).alias("by"),
        # grid-space segment: g(m) = g0 + m*gd, one fused multiply-add
        # per midpoint instead of point-space interpolation + rescale
        ((F.col("x0") - F.lit(float(minx))) / F.lit(spanx) * F.lit(n)).alias("gx0"),
        (dx / F.lit(spanx) * F.lit(n)).alias("gxd"),
        ((F.col("y0") - F.lit(float(miny))) / F.lit(spany) * F.lit(n)).alias("gy0"),
        (dy / F.lit(spany) * F.lit(n)).alias("gyd"),
        F.least(ix0, ix1).alias("cxlo"),
        F.greatest(ix0, ix1).alias("cxhi"),
        F.least(iy0, iy1).alias("cylo"),
        F.greatest(iy0, iy1).alias("cyhi"),
    )

    def crossings(lo, hi, a, b, p0, p1):
        return F.when(
            (p1 != p0) & (hi > lo),
            F.transform(
                F.sequence(lo + F.lit(1).cast("long"), hi),
                lambda i: a + i.cast("double") * b,
            ),
        ).otherwise(F.array().cast("array<double>"))

    tx = crossings(F.col("cxlo"), F.col("cxhi"), F.col("ax"), F.col("bx"), F.col("x0"), F.col("x1"))
    ty = crossings(F.col("cylo"), F.col("cyhi"), F.col("ay"), F.col("by"), F.col("y0"), F.col("y1"))
    ts = F.array_sort(F.concat(F.array(F.lit(0.0), F.lit(1.0)), tx, ty))
    withts = coef.select("traj_id", "gx0", "gxd", "gy0", "gyd", ts.alias("ts"))
    k = F.size(F.col("ts"))

    def packed_cell(j):
        m = (F.element_at(F.col("ts"), j) + F.element_at(F.col("ts"), j + F.lit(1))) * F.lit(0.5)
        gx = F.least(F.greatest(F.floor(F.col("gx0") + m * F.col("gxd")), F.lit(0)), F.lit(n - 1))
        gy = F.least(F.greatest(F.floor(F.col("gy0") + m * F.col("gyd")), F.lit(0)), F.lit(n - 1))
        return F.shiftleft(gx, res) + gy

    codes = F.transform(F.sequence(F.lit(1), k - F.lit(1)), packed_cell)
    exploded = withts.select("traj_id", F.explode(codes).alias("code"))
    cell = F.coalesce(
        cells.interleave_expr(f"shiftright(code, {res})", f"(code & {n - 1})", res),
        F.lit(-1).cast("long"),
    )
    return exploded.select("traj_id", cell.alias("cell")).distinct()


def hotspot_gi(df: DataFrame, res: int, bounds=cells.WORLD) -> DataFrame:
    """Getis-Ord Gi* hotspot statistic over the tile raster (binary 3x3
    neighborhood incl. self, study area = occupied cells): per cell a
    z-score for whether its NEIGHBORHOOD's point density is anomalously
    high/low against the global distribution — the standard hotspot map
    behind "where do trajectories concentrate beyond chance".

        Gi* = (S_w - x_bar * n_i) / (s * sqrt((N*n_i - n_i^2) / (N-1)))

    with S_w the neighborhood count sum, n_i the occupied-neighbor
    count (edge cells have fewer), N/x_bar/s the occupied-cell count /
    mean / population std.

    Scale shape: the point table is touched once (the rollup); the
    neighborhood sum is a 9-way replicate-explode equi-join on raster-
    sized data (<= 4^res rows, same machinery as raster_regions); the
    global moments come from exact integer sums broadcast back as one
    row — so the statistic's cost is raster-sized regardless of input.
    Cells with undefined variance (s = 0 or N < 2) return NULL gi_z,
    mirrored by the oracle."""
    ras = rasterize(df, res, bounds, None).select("ix", "iy", "cell", "n_points")
    stats = ras.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("n_points").alias("__sum"),
        F.sum(F.col("n_points") * F.col("n_points")).alias("__sumsq"),
    )
    # replicate each cell to its 3x3 neighborhood; join against home cells
    a = (
        ras.withColumn("__dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            (F.col("ix") + F.col("__dx")).alias("jx"),
            (F.col("iy") + F.col("__dy")).alias("jy"),
            F.col("n_points").alias("nb_points"),
        )
    )
    nb = (
        ras.select(F.col("ix").alias("jx"), F.col("iy").alias("jy"), "cell", "n_points")
        .join(a, ["jx", "jy"])
        .groupBy("cell")
        .agg(
            F.sum("nb_points").alias("__sw"),
            F.count(F.lit(1)).alias("__ni"),
            F.first("n_points").alias("n_points"),
        )
    )
    out = nb.crossJoin(F.broadcast(stats))
    n_d = F.col("__N").cast("double")
    mean = F.col("__sum").cast("double") / n_d
    s = F.sqrt(F.col("__sumsq").cast("double") / n_d - mean * mean)
    ni = F.col("__ni").cast("double")
    denom = s * F.sqrt((n_d * ni - ni * ni) / (n_d - F.lit(1.0)))
    gi = F.when(
        (F.col("__N") > 1) & (denom > 0),
        (F.col("__sw").cast("double") - mean * ni) / denom,
    )
    return out.select(
        "cell",
        F.col("n_points"),
        F.col("__sw").alias("neighborhood_points"),
        F.col("__ni").cast("long").alias("n_neighbors"),
        (F.floor(gi * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)).alias("gi_z"),
    )
