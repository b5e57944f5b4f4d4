"""Distributed spatial joins (SURVEY.md §2.3 J4-J7, north rule).

Design for 100 TB / 10^12 docs:

- **Point-in-polygon** is a broadcast equi-join on the quadtree cell id:
  the polygon set is covered driver-side into (cell, poly_id, full)
  rows and broadcast; the point table is NEVER shuffled — each point
  computes its cell (pure SQL expression) and probes the broadcast map.
  Cells fully inside a polygon skip refinement; boundary cells refine
  with an unrolled ray-cast SQL predicate (or, past
  _PIP_EXPR_MAX_VERTS vertices, a vectorized numpy pandas UDF). Hot
  cells therefore cannot skew a shuffle (there is none); downstream
  rollups by cell combine map-side (count/sum/count-distinct), so a hot
  cell reaches the reducer as at most one partial row per map task.

- **Plan building stays off the Py4J path.** Every generated
  expression (cell id, ray cast, segment test, the join's whole refine
  filter) is composed as one SQL text over SQL operand text ("x",
  "__px") with exact double literals (cells.sql_double) and parsed by
  one F.expr: one Py4J call per expression (a Column tree built one
  operation at a time costs a round trip per node, about 10 000 for a
  four-hexagon join). The cover frame is handed to Spark as an Arrow
  table, so it is a LocalRelation: reading it runs no job and no
  Python worker.

- **kNN** against a small centroid/cluster table is a broadcast
  cross-join + per-point top-k (min_by for k=1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import cells, kernels, pyworker
from movingspark.derive import dist_expr


def with_cell(df: DataFrame, res: int, bounds=cells.WORLD, name: str = "cell") -> DataFrame:
    """Stamp the Z-order cell id (pure SQL, codegen'd)."""
    return df.withColumn(name, cells.cell_id_expr("x", "y", res, bounds))


def _norm_poly(verts):
    """Normalize a polygon spec to (outer_ring, holes): accepts a plain
    vertex list [(x,y),...] or a holed spec (outer, [hole_ring, ...])."""
    if (
        isinstance(verts, tuple)
        and len(verts) == 2
        and np.asarray(verts[0], dtype=object).ndim >= 2
    ):
        outer, holes = verts
        return np.asarray(outer, float), [np.asarray(h, float) for h in holes or []]
    return np.asarray(verts, float), []


def cover_to_df(spark: SparkSession, polygons, res: int, bounds=cells.WORLD) -> DataFrame:
    """polygons: iterable of (poly_id, vertices ndarray | (outer, holes)).
    Driver-side cover -> small LocalRelation frame (cell, poly_id, full)
    to broadcast, built from one Arrow table. With holes, cells whose
    bbox touches a hole's bbox are conservatively demoted from full to
    boundary (they refine exactly)."""
    ids, covers, fulls = [], [np.empty(0, np.int64)], [np.empty(0, bool)]
    for poly_id, verts in polygons:
        outer, holes = _norm_poly(verts)
        cell_ids, full = cells.polygon_cover(outer, res, bounds)
        if holes:
            cb = cells.cell_bounds_np(cell_ids, res, bounds)
            for hole in holes:
                hminx, hminy = hole.min(axis=0)
                hmaxx, hmaxy = hole.max(axis=0)
                touches = (
                    (cb[:, 0] <= hmaxx) & (cb[:, 2] >= hminx)
                    & (cb[:, 1] <= hmaxy) & (cb[:, 3] >= hminy)
                )
                full = full & ~touches
        ids += [str(poly_id)] * len(cell_ids)
        covers.append(cell_ids)
        fulls.append(full)
    table = pa.table({"cell": np.concatenate(covers), "poly_id": ids, "full": np.concatenate(fulls)})
    return spark.createDataFrame(table, "cell long, poly_id string, full boolean")


# polygons with at most this many total vertices refine via a generated
# SQL expression (whole-stage codegen, no Python); bigger ones fall back
# to the Arrow-batched numpy kernel
_PIP_EXPR_MAX_VERTS = 256


def _pip_ring_text(px: str, py: str, ring) -> tuple[str, str]:
    """One ring's even-odd ray cast as (inside, on_edge) SQL texts —
    exact arithmetic of kernels._ray_cast_ring."""
    ring = np.asarray(ring, dtype=np.float64)
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    d = cells.sql_double
    inside = on_edge = "false"
    k = len(ring)
    for i in range(k):
        xa, ya = float(ring[i, 0]), float(ring[i, 1])
        xb, yb = float(ring[(i + 1) % k, 0]), float(ring[(i + 1) % k, 1])
        cond = f"(({d(ya)} > {py}) != ({d(yb)} > {py}))"
        denom = (yb - ya) if yb != ya else 1.0
        xint = f"({d(xa)} + ((({py} - {d(ya)}) * {d(xb - xa)}) / {d(denom)}))"
        inside = f"({inside} != ({cond} AND ({px} < {xint})))"  # boolean != is XOR
        cross = f"(({d(xb - xa)} * ({py} - {d(ya)})) - ({d(yb - ya)} * ({px} - {d(xa)})))"
        within = (
            f"(((((abs({cross}) < {d(1e-12)})"
            f" AND ({px} >= {d(min(xa, xb) - 1e-12)}))"
            f" AND ({px} <= {d(max(xa, xb) + 1e-12)}))"
            f" AND ({py} >= {d(min(ya, yb) - 1e-12)}))"
            f" AND ({py} <= {d(max(ya, yb) + 1e-12)}))"
        )
        on_edge = f"({on_edge} OR {within})"
    return inside, on_edge


def _pip_text(px: str, py: str, poly, holes=None) -> str:
    px, py = f"({px})", f"({py})"
    inside, on_edge = _pip_ring_text(px, py, poly)
    for hole in holes or []:
        h_in, h_edge = _pip_ring_text(px, py, hole)
        inside = f"({inside} != {h_in})"
        on_edge = f"({on_edge} OR {h_edge})"
    return f"({inside} OR {on_edge})"


def pip_expr(px: str, py: str, poly, holes=None) -> F.Column:
    """Generated-SQL ray-cast point-in-polygon predicate over SQL
    operands `px`, `py` — the exact arithmetic of
    kernels.point_in_polygon (even-odd rule + on-edge tolerance,
    boundary counts as inside) unrolled over the driver-known vertex
    list into one SQL text and parsed by one F.expr. IEEE float64 ops in
    the same order as the numpy kernel, with every vertex written as its
    exact double literal => bit-identical verdicts.

    holes: optional interior rings (shapely interiors) — crossing parity
    XORs over every ring, hole boundaries still count as inside."""
    return F.expr(_pip_text(px, py, poly, holes))


def point_in_polygon_join(df: DataFrame, polygons, res: int = 8, bounds=cells.WORLD) -> DataFrame:
    """J4+J5: inner join points -> polygons they fall in (boundary
    counts as inside, matching shapely `intersects`). `polygons` is a
    list of (poly_id, vertices). Returns input columns + poly_id.

    Plan shape: scan -> project(cell) -> BroadcastHashJoin(cover) ->
    filter(full-cell OR generated ray-cast expr). One scan, one
    broadcast join, zero Python for polygons up to _PIP_EXPR_MAX_VERTS
    total vertices; beyond that, boundary-cell rows refine through an
    Arrow-batched numpy kernel (interior cells still skip it).
    """
    spark = df.sparkSession
    poly_map = {str(pid): _norm_poly(v) for pid, v in polygons}
    cover = cover_to_df(spark, polygons, res, bounds)

    pts = with_cell(df, res, bounds, "__cell")
    joined = pts.join(
        F.broadcast(cover), on=F.col("__cell") == cover["cell"], how="inner"
    ).drop("cell")

    n_verts = sum(len(outer) + sum(len(h) for h in holes) for outer, holes in poly_map.values())
    if n_verts <= _PIP_EXPR_MAX_VERTS:
        # single-pass JVM refine: OR over poly_id -> unrolled ray-cast,
        # left-deep by explicit parentheses (the parser balances a bare
        # OR chain, which would change the plan)
        pred = None
        for pid, (outer, holes) in poly_map.items():
            branch = f"((`poly_id` = {cells.sql_string(pid)}) AND {_pip_text('x', 'y', outer, holes)})"
            pred = branch if pred is None else f"({pred} OR {branch})"
        return joined.filter(F.expr(f"(`full` OR {pred})")).drop("full", "__cell")

    @F.pandas_udf(T.BooleanType())
    def refine(px: pd.Series, py: pd.Series, pid: pd.Series) -> pd.Series:
        pyworker.prepare()
        out = np.zeros(len(px), dtype=bool)
        for p in pid.unique():
            m = (pid == p).to_numpy()
            outer, holes = poly_map[p]
            out[m] = kernels.point_in_polygon(
                px.to_numpy(float)[m], py.to_numpy(float)[m], outer, holes
            )
        return pd.Series(out)

    # interior cells never touch Python: only boundary-cell rows pay the
    # Arrow round-trip (when() would still evaluate the UDF on all rows)
    interior = joined.filter(F.col("full")).drop("full", "__cell")
    boundary = (
        joined.filter(~F.col("full"))
        .withColumn("__ok", refine(F.col("x"), F.col("y"), F.col("poly_id")))
        .filter(F.col("__ok"))
        .drop("__ok", "full", "__cell")
    )
    return interior.unionByName(boundary)


def intersecting_traj_ids(df: DataFrame, polygon, res: int = 8, bounds=cells.WORLD) -> DataFrame:
    """F7/F8 point-based variant: trajectories with >= 1 point inside the
    polygon (semi-join of traj_ids)."""
    hits = point_in_polygon_join(df, [("p", polygon)], res, bounds)
    return hits.select("traj_id").distinct()


def seg_intersects_expr(ax: str, ay: str, bx: str, by: str, poly) -> F.Column:
    """Codegen'd predicate over SQL operands: segment (ax,ay)->(bx,by)
    intersects the driver-known polygon (interior or boundary — shapely
    `intersects` semantics), as one SQL text parsed by one F.expr.
    Endpoint-inside via the unrolled ray-cast (pip_expr) OR a
    crossing/touch of any polygon edge (orientation tests + per-pair
    bbox overlap, which rejects collinear-but-disjoint pairs). Same
    IEEE arithmetic order as kernels.segments_intersect_polygon so the
    Arrow fallback and the SQL oracle agree bit-for-bit."""
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    ax, ay, bx, by = (f"({v})" for v in (ax, ay, bx, by))
    d = cells.sql_double
    hit = f"({_pip_text(ax, ay, poly)} OR {_pip_text(bx, by, poly)})"
    k = len(poly)
    for i in range(k):
        px, py = float(poly[i, 0]), float(poly[i, 1])
        qx, qy = float(poly[(i + 1) % k, 0]), float(poly[(i + 1) % k, 1])
        d1 = f"((({bx} - {ax}) * ({d(py)} - {ay})) - (({by} - {ay}) * ({d(px)} - {ax})))"
        d2 = f"((({bx} - {ax}) * ({d(qy)} - {ay})) - (({by} - {ay}) * ({d(qx)} - {ax})))"
        d3 = f"(({d(qx - px)} * ({ay} - {d(py)})) - ({d(qy - py)} * ({ax} - {d(px)})))"
        d4 = f"(({d(qx - px)} * ({by} - {d(py)})) - ({d(qy - py)} * ({bx} - {d(px)})))"
        bbox = (
            f"((((least({ax}, {bx}) <= {d(max(px, qx))})"
            f" AND (greatest({ax}, {bx}) >= {d(min(px, qx))}))"
            f" AND (least({ay}, {by}) <= {d(max(py, qy))}))"
            f" AND (greatest({ay}, {by}) >= {d(min(py, qy))}))"
        )
        hit = f"({hit} OR (({bbox} AND (({d1} * {d2}) <= 0)) AND (({d3} * {d4}) <= 0)))"
    return F.expr(hit)


def _traj_segments(df: DataFrame) -> DataFrame:
    """Consecutive-point segments per trajectory (__px,__py)->(x,y); the
    first point of each trajectory becomes a degenerate point-segment so
    single-point trajectories are still testable."""
    w = Window.partitionBy("traj_id").orderBy("t")
    return df.withColumn("__px", F.coalesce(F.lag("x").over(w), F.col("x"))).withColumn(
        "__py", F.coalesce(F.lag("y").over(w), F.col("y"))
    )


def intersecting_traj_ids_line(df: DataFrame, polygon) -> DataFrame:
    """F7/F8 LINE-based semantics (reference trajectory.py:1533-1546 ->
    overlay.py:86-91): trajectories whose LineString intersects the
    polygon — a trajectory that crosses a small polygon between two
    outside observations still matches, unlike the point-based variant.

    Plan shape: one window (lag over the trajectory's own sort order —
    the partitioning every per-traj op shares) -> codegen'd bbox
    prefilter (prunes nearly all segments against the polygon's bbox,
    driver-known literals) -> codegen'd exact segment test -> distinct
    traj_ids. No Python, no extra shuffle beyond the per-traj window."""
    poly = np.asarray(polygon, dtype=np.float64)
    seg = _traj_segments(df)
    minx, miny = float(poly[:, 0].min()), float(poly[:, 1].min())
    maxx, maxy = float(poly[:, 0].max()), float(poly[:, 1].max())
    d = cells.sql_double
    cand = seg.filter(
        F.expr(
            f"((((least(__px, x) <= {d(maxx)}) AND (greatest(__px, x) >= {d(minx)}))"
            f" AND (least(__py, y) <= {d(maxy)})) AND (greatest(__py, y) >= {d(miny)}))"
        )
    )
    n_verts = len(poly)
    if 2 * n_verts <= _PIP_EXPR_MAX_VERTS:
        hits = cand.filter(seg_intersects_expr("__px", "__py", "x", "y", poly))
    else:
        @F.pandas_udf(T.BooleanType())
        def refine(pxs: pd.Series, pys: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
            pyworker.prepare()
            return pd.Series(
                kernels.segments_intersect_polygon(
                    pxs.to_numpy(float), pys.to_numpy(float), xs.to_numpy(float), ys.to_numpy(float), poly
                )
            )

        hits = cand.filter(refine(F.col("__px"), F.col("__py"), F.col("x"), F.col("y")))
    return hits.select("traj_id").distinct()


def get_intersecting(df: DataFrame, polygon) -> DataFrame:
    """F8: the full point rows of every trajectory whose LINE intersects
    the polygon (reference TrajectoryCollection.get_intersecting,
    trajectory_collection.py — line semantics). Broadcast semi-join of
    the (small) matching id set back onto the point table."""
    ids = intersecting_traj_ids_line(df, polygon)
    return df.join(F.broadcast(ids), "traj_id", "left_semi")


def _nn1_agg(cross: DataFrame, point_columns) -> DataFrame:
    """k=1 nearest: map-side-combinable min_by over the candidate rows.

    `groupBy(point row) + min_by(candidate, struct(dist, cid))` partially
    aggregates inside each map task, so only ~|points| rows reach the
    exchange — vs a row_number() window that sort-shuffles the full
    |points| x |candidates| product on a near-unique key. Ties broken by
    centroid id (struct ordering is lexicographic) for determinism."""
    nn = cross.groupBy(*point_columns).agg(
        F.min_by(
            F.struct(F.col("cluster_id"), F.col("cx"), F.col("cy"), F.col("dist")),
            F.struct(F.col("dist"), F.col("cluster_id")),
        ).alias("__nn")
    )
    return nn.select(
        *point_columns,
        F.col("__nn.cluster_id").alias("cluster_id"),
        F.col("__nn.cx").alias("cx"),
        F.col("__nn.cy").alias("cy"),
        F.col("__nn.dist").alias("dist"),
        F.lit(1).alias("knn_rank"),
    )


def knn_join(
    points: DataFrame,
    centroids: DataFrame,
    k: int = 1,
    latlon: bool = False,
    metric: str | None = None,
) -> DataFrame:
    """J6: for each point the k nearest centroids (broadcast cross-join +
    per-point top-k); `centroids` has columns (cluster_id, cx, cy). Correct for any centroid count; efficient when the
    centroid table is broadcastable (the reference's use case — cluster
    centroids). Ties broken by centroid id for determinism.

    k=1 (the reference aggregator's only use) avoids the window sort
    entirely — see `_nn1_agg`. k>1 keeps the row_number window path.

    metric="haversine" (with latlon=True) keeps the distance a pure
    codegen column expression instead of the reference-parity WGS84
    Vincenty Arrow kernel — the 100 TB shape for geographic kNN: no
    Python workers on the scoring path, argmin differences vs the
    ellipsoid only matter for points near-equidistant between two
    centroids at the ~0.3% sphere-vs-WGS84 scale."""
    cross = points.join(F.broadcast(centroids), how="cross")
    if latlon and metric == "haversine":
        from movingspark.derive import haversine_expr

        d = haversine_expr(F.col("x"), F.col("y"), F.col("cx"), F.col("cy"))
    else:
        d = dist_expr(F.col("x"), F.col("y"), F.col("cx"), F.col("cy"), latlon)
    cross = cross.withColumn("dist", d)
    if k == 1:
        return _nn1_agg(cross, points.columns)
    w = Window.partitionBy("traj_id", "t", "x", "y").orderBy(F.col("dist").asc(), F.col("cluster_id").asc())
    out = cross.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    return out.withColumnRenamed("__rk", "knn_rank")


def tile_rollup_median(
    df: DataFrame,
    res: int,
    value_col: str = "value",
    bounds=cells.WORLD,
) -> DataFrame:
    """Exact per-cell median via value-histogram composition — the
    skew-aware formulation of a proportional-state aggregate.

    percentile()-style exact medians buffer EVERY group value in the
    aggregation buffer, so partial aggregation ships the full value
    multiset and a hot cell concentrates its entire row mass on one
    reducer (the one rollup shape map-side combine does NOT protect;
    counts/sums/count-distinct all pre-merge and are structurally
    skew-immune — measured in tools/bench_skew.py). Composing through
    the (cell, value) histogram instead diffuses the hot cell across
    reducers: groupBy(cell, value).count() partial-merges map-side, the
    per-cell cumulative walk then touches at most |distinct values|
    rows per cell. Interpolation follows percentile() semantics exactly
    (rank = 0.5*(n-1); linear between the two straddling order stats),
    so the result matches percentile(value_col, 0.5) bit-for-bit when
    values and counts are exactly representable."""
    tagged = with_cell(df, res, bounds)
    hist = tagged.groupBy("cell", F.col(value_col).alias("__v")).agg(
        F.count("*").alias("__c")
    )
    w_cum = (
        Window.partitionBy("cell")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_cell = Window.partitionBy("cell")
    n = F.sum("__c").over(w_cell)
    rank = (n - F.lit(1)).cast("double") * 0.5
    lo = F.floor(rank)
    hi = F.ceil(rank)
    cum = F.sum("__c").over(w_cum)
    staged = hist.select(
        "cell",
        "__v",
        cum.alias("__cum"),
        rank.alias("__rank"),
        lo.alias("__lo"),
        hi.alias("__hi"),
    )
    agg = staged.groupBy("cell").agg(
        F.min(F.when(F.col("__cum") > F.col("__lo"), F.col("__v"))).alias("__vlo"),
        F.min(F.when(F.col("__cum") > F.col("__hi"), F.col("__v"))).alias("__vhi"),
        F.first("__rank").alias("__r"),
        F.first("__lo").alias("__l"),
    )
    return agg.select(
        "cell",
        (
            F.col("__vlo")
            + (F.col("__vhi") - F.col("__vlo")) * (F.col("__r") - F.col("__l"))
        ).alias("median_value"),
    )


def tile_rollup(
    df: DataFrame,
    res: int,
    value_col: str | None = None,
    bounds=cells.WORLD,
) -> DataFrame:
    """Raster<->vector tile rollup: per-cell counts (+ optional value
    aggregates) at resolution `res`. Every aggregate combines map-side,
    so a hot tile reaches its reducer as one partial row per map task
    (skew evidence: tools/bench_skew.py)."""
    tagged = with_cell(df, res, bounds)
    aggs = [F.count("*").alias("n_points"), F.count_distinct("traj_id").alias("n_trajs")]
    if value_col:
        aggs += [F.sum(value_col).alias("sum_value")]
    return tagged.groupBy("cell").agg(*aggs)


def tile_rollup_multires(
    df: DataFrame,
    res_fine: int,
    res_coarse: int,
    value_col: str | None = None,
    bounds=cells.WORLD,
) -> DataFrame:
    """Hierarchical tile rollup: materialize the fine-resolution rollup
    ONCE, then derive every coarser level by re-aggregating cell ids
    (parent = cell >> 2 per level, cells.parent_cell_expr) — the
    hypertable / continuous-aggregate pattern. At 100 TB the point
    table is scanned exactly once regardless of how many zoom levels a
    tile service needs; each coarser level aggregates <= 4^res_fine
    rows, so levels are effectively free after the first.

    Output: one row per (res, cell) for both levels, with n_points
    (+ sum_value) — counts are exactly additive under the parent
    relation, which the oracle verifies against a direct coarse rollup
    of the raw points. (Distinct-trajectory counts are NOT additive and
    intentionally absent here; use tile_rollup per level when those are
    needed.)"""
    if res_coarse >= res_fine:
        raise ValueError("res_coarse must be coarser (smaller) than res_fine")
    tagged = with_cell(df, res_fine, bounds)
    aggs = [F.count("*").alias("n_points")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    fine = tagged.groupBy("cell").agg(*aggs)
    coarse_aggs = [F.sum("n_points").alias("n_points")]
    if value_col:
        coarse_aggs.append(F.sum("sum_value").alias("sum_value"))
    coarse = (
        fine.groupBy(
            cells.parent_cell_expr(F.col("cell"), res_fine - res_coarse).alias("cell")
        )
        .agg(*coarse_aggs)
    )
    lit_f, lit_c = F.lit(int(res_fine)), F.lit(int(res_coarse))
    return fine.select(lit_f.alias("res"), "cell", *[c for c in fine.columns if c != "cell"]).unionByName(
        coarse.select(lit_c.alias("res"), "cell", *[c for c in coarse.columns if c != "cell"])
    )


def tile_dwell(df: DataFrame, res: int, bounds=cells.WORLD) -> DataFrame:
    """Time-weighted tile occupancy: each consecutive segment's duration
    is allocated to the cell of its START observation, so a cell's
    `dwell_s` approximates total time spent in it rather than sample
    count — the heatmap that stays correct under irregular sampling
    (tile_rollup over-counts wherever the sampler runs fast). Exact
    boundary-split allocation is the overlay-clip path; this is the
    standard first-order approximation used when segments are short
    relative to cells.

    Plan: one per-trajectory window (lead) for segment durations —
    reusing the canonical traj_id exchange — then a map-side-combinable
    two-column rollup per cell. Final observations have no successor
    and contribute no time (they end the trajectory)."""
    w = Window.partitionBy("traj_id").orderBy("t")
    # sum MICROSECONDS (exact integers, order-free) and divide once at
    # the end: a float sum's value depends on partial-agg association,
    # which differs between engines and between runs.
    dt_us = F.unix_micros(F.lead("t").over(w)) - F.unix_micros(F.col("t"))
    tagged = with_cell(df, res, bounds).withColumn("__dt", dt_us)
    return (
        tagged.filter(F.col("__dt").isNotNull())
        .groupBy("cell")
        .agg(
            (F.sum("__dt").cast("double") / F.lit(1e6)).alias("dwell_s"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


def cell_visits(df: DataFrame, res: int, bounds=cells.WORLD) -> DataFrame:
    """Cell-visit segmentation: consecutive observations in the same
    tile cell collapse into one VISIT row (traj_id, cell, visit number,
    enter/leave time, duration, point count) — the tile-granular dwell
    ledger behind "how long did each vehicle stay in each zone", and
    the all-cells generalization of the single-fence geofence events.
    Re-entering a cell later opens a NEW visit (visits are temporal
    runs, not distinct-cell rollups).

    One trajectory window (lag + running sum over the same sort) and a
    map-side-combinable group — the standard single-exchange shape;
    duration sums integer microseconds (exact, order-free) and divides
    once."""
    w = Window.partitionBy("traj_id").orderBy("t")
    tagged = with_cell(df, res, bounds)
    new_visit = F.when(
        F.lag("cell").over(w).isNull() | (F.lag("cell").over(w) != F.col("cell")),
        F.lit(1),
    ).otherwise(F.lit(0))
    visits = tagged.withColumn(
        "visit",
        F.sum(new_visit).over(
            Window.partitionBy("traj_id")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    t_us = F.unix_micros(F.col("t"))
    return visits.groupBy("traj_id", "visit").agg(
        F.first("cell").alias("cell"),
        F.min("t").alias("enter_t"),
        F.max("t").alias("leave_t"),
        ((F.max(t_us) - F.min(t_us)).cast("double") / F.lit(1e6)).alias("duration_s"),
        F.count(F.lit(1)).alias("n_points"),
    )
