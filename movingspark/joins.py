"""Distributed spatial joins (SURVEY.md §2.3 J4-J7, north rule).

Design for 100 TB / 10^12 docs:

- **Point-in-polygon** is a broadcast equi-join on the quadtree cell id:
  the polygon set is covered driver-side into (cell, poly_id, full)
  rows and broadcast; the point table is NEVER shuffled — each point
  computes its cell (pure SQL expression) and probes the broadcast map.
  Cells fully inside a polygon skip refinement. Hot cells therefore
  cannot skew a shuffle (there is none); downstream rollups by cell
  combine map-side (count/sum/count-distinct), so a hot cell reaches
  the reducer as at most one partial row per map task.

- **The refine is clipped to each cell** (after S2's ShapeIndex). A
  boundary cover row carries only the edges that can change a verdict
  for a point assigned to its cell, as up to _PIP_SLOT_CAP slots of
  precomputed doubles, plus a `base` bit: the parity of the edges whose
  ray crossing is 1 for every such point. Edges whose crossing is 0
  everywhere in the cell drop out. Rows of the clamped border cells,
  which also take out-of-bounds and non-finite coordinates, are never
  full and keep every edge. The join refines with one generated text
  over the slots, the exact arithmetic of kernels._ray_cast_ring, so
  its size depends on the slot count, not on the number of polygons or
  vertices. That keeps
  the join stage's generated consume method under HotSpot's 8 000-byte
  HugeMethodLimit; a bigger method is never JIT-compiled and runs in
  the bytecode interpreter (one OR over four hexagons' unrolled ray
  casts made it 23 948 bytes, about half of the doc pass's join CPU).
  Past the cap, boundary rows refine through the numpy kernel in one
  Arrow-batched pass (gmap.map_batches) instead. This is the engine's
  one ray cast: geofence flags (a left join onto the fence's cover)
  and the line test's vertex test use it too, on a grid over their one
  polygon (_poly_bounds).

- **Line intersection** is that vertex test plus a broadcast
  semi-join of the trajectory segments near the polygon against one
  row per polygon edge, whose columns hold the orientation test's
  constants: the generated condition's size does not grow with the
  vertex count.

- **Plan building stays off the Py4J path.** Every generated
  expression (cell id, the join's refine, the segment test) is
  composed as one SQL text over SQL operand text ("x", "__px") with
  exact double literals (cells.sql_double) and parsed by one F.expr:
  one Py4J call per expression (a Column tree built one
  operation at a time costs a round trip per node, about 10 000 for a
  four-hexagon join). The cover frame is handed to Spark as an Arrow
  table, so it is a LocalRelation: reading it runs no job and no
  Python worker.

- **kNN** against a small centroid/cluster table is a broadcast
  cross-join + per-point top-k (min_by for k=1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import cells, gmap, kernels
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


# boundary rows carry at most this many edge slots (_SLOT constants
# each) into the generated refine; past it they refine through the
# Arrow-batched numpy kernel. Each slot adds about 930 bytes of bytecode
# to the join stage's consume method; the doc join's stage (parquet
# scan, explode, parse, cell id, probe) measured 5 233 bytes at 4
# slots, 6 216 at 5, 7 111 at 6 and 8 006 at 7. Five leaves room for
# heavier upstream projections under HotSpot's 8 000-byte
# HugeMethodLimit (tests/test_plans.py pins the size).
_PIP_SLOT_CAP = 5

# one edge slot: the constants of kernels._ray_cast_ring's arithmetic
# for edge (xa, ya) -> (xb, yb): xb - xa, yb - ya, the crossing's
# denominator and the on-edge tolerance box
_SLOT = ("xa", "ya", "yb", "dx", "dy", "den", "x0", "x1", "y0", "y1")


def _edge_consts(rings) -> np.ndarray:
    """(edges, len(_SLOT)) slot constants of every edge of every ring."""
    out = [np.empty((0, len(_SLOT)))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if np.array_equal(ring[0], ring[-1]):
            ring = ring[:-1]
        xa, ya = ring[:, 0], ring[:, 1]
        xb, yb = np.roll(xa, -1), np.roll(ya, -1)
        dy = yb - ya
        out.append(np.column_stack([
            xa, ya, yb, xb - xa, dy, np.where(yb != ya, dy, 1.0),
            np.minimum(xa, xb) - 1e-12, np.maximum(xa, xb) + 1e-12,
            np.minimum(ya, yb) - 1e-12, np.maximum(ya, yb) + 1e-12,
        ]))
    return np.concatenate(out)


def _clip_edges(e: np.ndarray, box: np.ndarray, margin: float):
    """(active, flip) per (cell, edge) for cells whose points all lie in
    `box` (rows of minx, miny, maxx, maxy). An edge is active when its
    on-edge tolerance box meets the cell's box or its crossing bit is
    not constant over it; a constant-1 crossing (the edge spans the
    box's y-range wholly to its right) flips the cell's base parity, a
    constant-0 one drops out. `margin` bounds the rounding of the
    crossing's x-intercept for coordinates of the bounds' magnitude."""
    xa, ya, yb, dx, _, _, x0, x1, y0, y1 = e.T
    xb = xa + dx  # within an ulp of xb, far inside err below
    bx0, by0, bx1, by1 = (box[:, i, None] for i in range(4))
    touch = (x0 <= bx1) & (x1 >= bx0) & (y0 <= by1) & (y1 >= by0)
    lo, hi = np.minimum(ya, yb), np.maximum(ya, yb)
    spans = (lo <= by0) & (hi > by1)  # (ya > y) != (yb > y) for every y in the box
    never = (lo > by1) | (hi <= by0)
    err = margin + 1e-12 * np.maximum(np.abs(xa), np.abs(xb))
    right = np.minimum(xa, xb) - err > bx1
    left = np.maximum(xa, xb) + err < bx0
    wild = ~np.isfinite(e).all(axis=1)
    active = touch | ~(never | (spans & (right | left))) | wild
    return active, spans & right & ~active


# cap on the (cells x edges) arrays the clip builds per chunk of rows
_CLIP_CHUNK_ELEMS = 1 << 20


def _clip_margin(res: int, bounds) -> float:
    """How far a cell's box is widened for the clip: more than the
    rounding of a point's grid coordinate and of the cell bounds (a few
    ulps of the bounds)."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    w, h = (maxx - minx) / n, (maxy - miny) / n
    return max(1e-6 * max(w, h), 1e-12 * max(abs(float(b)) for b in bounds))


def _clip_cover(rings, cell_ids, boundary, res: int, bounds):
    """(base, slots) per cover row: a boundary row keeps the constants of
    its active edges (NaN-padded to the row maximum) and the parity of
    its constant-1 crossings; a full row keeps none. Rows on the clamped
    border (which also take out-of-bounds, +-Inf and NaN coordinates)
    keep every edge with base 0."""
    e = _edge_consts(rings)
    n = 1 << res
    margin = _clip_margin(res, bounds)
    ix, iy = cells.cell_ixiy_np(cell_ids, res)
    border = (ix == 0) | (iy == 0) | (ix == n - 1) | (iy == n - 1)
    box = cells.cell_bounds_np(cell_ids, res, bounds) + np.array([-margin, -margin, margin, margin])
    active = np.zeros((len(cell_ids), len(e)), dtype=bool)
    flip = np.zeros_like(active)
    clip = boundary & ~border
    active[boundary & border] = True
    rows = np.flatnonzero(clip)
    chunk = max(1, _CLIP_CHUNK_ELEMS // max(len(e), 1))
    for s in range(0, len(rows), chunk):
        r = rows[s : s + chunk]
        active[r], flip[r] = _clip_edges(e, box[r], margin)
    k = int(active.sum(axis=1).max(initial=0))
    # active edges first, in ring order
    order = np.argsort(~active, axis=1, kind="stable")[:, :k]
    slots = e[order]
    slots[~np.take_along_axis(active, order, axis=1)] = np.nan
    return np.bitwise_xor.reduce(flip, axis=1), slots


def _edge_neighbours(rings, cell_ids, res: int, bounds) -> np.ndarray:
    """The cells next to the cover (8-neighbourhood) that are not in it
    and where a point on an edge can be placed. polygon_cover keeps the
    cells whose box [x0, x0 + w] meets the polygon, while a point is
    placed by floor((x - minx) / span * n): when an edge lies on a grid
    line the two round apart by an ulp. A neighbour is kept when its
    box, widened by the clip's margin, meets an edge whose endpoints'
    placements (monotone in x and in y) bracket the neighbour's column
    and row. Rows for these cells refine such points exactly."""
    ix, iy = cells.cell_ixiy_np(cell_ids, res)
    off_x, off_y = (o.ravel() for o in np.meshgrid([-1, 0, 1], [-1, 0, 1]))
    nx, ny = (ix[:, None] + off_x).ravel(), (iy[:, None] + off_y).ravel()
    n = 1 << res
    on_grid = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
    cand = np.unique(cells._interleave_bits_np(nx[on_grid], ny[on_grid], res))
    cand = cand[~np.isin(cand, cell_ids)]
    ends = [r[:-1] if np.array_equal(r[0], r[-1]) else r for r in map(np.asarray, rings)]
    a = np.concatenate([np.empty((0, 2)), *ends])
    b = np.concatenate([np.empty((0, 2)), *(np.roll(r, -1, axis=0) for r in ends)])
    if not len(cand) or not len(a):
        return cand[:0]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    lo_x, lo_y = cells.cell_ixiy_np(cells.cell_id_np(lo[:, 0], lo[:, 1], res, bounds), res)
    hi_x, hi_y = cells.cell_ixiy_np(cells.cell_id_np(hi[:, 0], hi[:, 1], res, bounds), res)
    margin = _clip_margin(res, bounds)
    box = cells.cell_bounds_np(cand, res, bounds) + np.array([-margin, -margin, margin, margin])
    cx, cy = cells.cell_ixiy_np(cand, res)
    dx, dy = (b - a).T
    meets = np.zeros(len(cand), dtype=bool)
    chunk = max(1, _CLIP_CHUNK_ELEMS // len(a))
    for s in range(0, len(cand), chunk):
        bx0, by0, bx1, by1 = (box[s : s + chunk, i, None] for i in range(4))
        gx, gy = cx[s : s + chunk, None], cy[s : s + chunk, None]
        placed = (lo_x <= gx) & (gx <= hi_x) & (lo_y <= gy) & (gy <= hi_y)
        overlap = (lo[:, 0] <= bx1) & (hi[:, 0] >= bx0) & (lo[:, 1] <= by1) & (hi[:, 1] >= by0)
        # the box's corners on both sides of (or on) the edge's line
        side = np.stack([dx * (y - a[:, 1]) - dy * (x - a[:, 0]) for x, y in ((bx0, by0), (bx1, by0), (bx1, by1), (bx0, by1))])
        meets[s : s + chunk] = (placed & overlap & ~(side > 0).all(axis=0) & ~(side < 0).all(axis=0)).any(axis=1)
    return cand[meets]


def _cover_table(polygons, res: int, bounds) -> tuple[pa.Table, int | None]:
    """The cover as one Arrow table and its slot count k: (cell, poly_id,
    full) plus, when no boundary row has more than _PIP_SLOT_CAP active
    edges, `base` and k edge slots of _SLOT columns `e{i}_{name}`.
    k is None past the cap (the table then has the first three
    columns only). After each polygon's cover come its edge neighbours
    (_edge_neighbours) as boundary rows."""
    ids, covers, fulls, bases, slots = [], [np.empty(0, np.int64)], [np.empty(0, bool)], [], []
    for poly_id, verts in polygons:
        outer, holes = _norm_poly(verts)
        rings = [outer, *holes]
        cell_ids, full = cells.polygon_cover(outer, res, bounds)
        # a border cell also takes the out-of-bounds and NaN points clamped
        # into it: it is full only for points in bounds, so it refines
        ix, iy = cells.cell_ixiy_np(cell_ids, res)
        full = full & (ix > 0) & (iy > 0) & (ix < (1 << res) - 1) & (iy < (1 << res) - 1)
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
        near = _edge_neighbours(rings, cell_ids, res, bounds)
        cell_ids = np.concatenate([cell_ids, near])
        full = np.concatenate([full, np.zeros(len(near), dtype=bool)])
        base, slot = _clip_cover(rings, cell_ids, ~full, res, bounds)
        ids += [str(poly_id)] * len(cell_ids)
        covers.append(cell_ids)
        fulls.append(full)
        bases.append(base)
        slots.append(slot)
    cols = {"cell": np.concatenate(covers), "poly_id": ids, "full": np.concatenate(fulls)}
    k = max((s.shape[1] for s in slots), default=0)
    if k > _PIP_SLOT_CAP:
        return pa.table(cols), None
    cols["base"] = np.concatenate([np.empty(0, bool), *bases])
    pad = [np.pad(s, ((0, 0), (0, k - s.shape[1]), (0, 0)), constant_values=np.nan) for s in slots]
    edges = np.concatenate([np.empty((0, k, len(_SLOT))), *pad])
    for i in range(k):
        for j, name in enumerate(_SLOT):
            cols[f"e{i}_{name}"] = edges[:, i, j]
    return pa.table(cols), k


def _cover_ddl(k: int | None) -> str:
    ddl = "cell long, poly_id string, full boolean"
    if k is None:
        return ddl
    slots = "".join(f", e{i}_{name} double NOT NULL" for i in range(k) for name in _SLOT)
    return ddl + ", base boolean NOT NULL" + slots


def cover_to_df(spark: SparkSession, polygons, res: int, bounds=cells.WORLD) -> DataFrame:
    """polygons: iterable of (poly_id, vertices ndarray | (outer, holes)).
    Driver-side cover -> small LocalRelation frame to broadcast, built
    from one Arrow table: one row per (cell, poly_id) with its `full`
    flag and, for the clipped refine, the row's `base` parity and edge
    slots (see _cover_table). With holes, cells whose bbox touches a
    hole's bbox are conservatively demoted from full to boundary (they
    refine exactly)."""
    table, k = _cover_table(polygons, res, bounds)
    return spark.createDataFrame(table, _cover_ddl(k))


def _edge_text(px: str, py: str, xa, ya, yb, dx, dy, den, x0, x1, y0, y1) -> tuple[str, str]:
    """One edge's (crossing bit, on-edge) SQL texts over operand texts
    (literals or columns) — the exact arithmetic of
    kernels._ray_cast_ring."""
    cond = f"(({ya} > {py}) != ({yb} > {py}))"
    xint = f"({xa} + ((({py} - {ya}) * {dx}) / {den}))"
    cross = f"(({dx} * ({py} - {ya})) - ({dy} * ({px} - {xa})))"
    within = (
        f"(((((abs({cross}) < {cells.sql_double(1e-12)})"
        f" AND ({px} >= {x0}))"
        f" AND ({px} <= {x1}))"
        f" AND ({py} >= {y0}))"
        f" AND ({py} <= {y1}))"
    )
    return f"({cond} AND ({px} < {xint}))", within


def _slot_refine_text(k: int) -> str:
    """The clipped refine over a cover row's columns: base parity XOR
    every slot's crossing bit, OR every slot's on-edge test."""
    terms = [_edge_text("`__x`", "`__y`", *(f"`e{i}_{name}`" for name in _SLOT)) for i in range(k)]
    pred = "`base`"
    for crossing, _ in terms:
        pred = f"({pred} != {crossing})"
    for _, within in terms:
        pred = f"({pred} OR {within})"
    return f"(`full` OR {pred})"


def _refined_join(df: DataFrame, polygons, res: int, bounds, how: str = "inner") -> tuple[DataFrame, str, list[str]]:
    """(joined, verdict, internal): df joined onto the polygons' cover
    (`how` = "inner", or "left" to keep the points of no cover cell),
    the SQL text of the exact verdict over its columns (true inside;
    null where a left join found no cover row) and the columns the
    refine added, which callers drop.

    Plan shape: scan -> project(cell) -> BroadcastHashJoin(cover) ->
    full OR clipped ray cast over the cover row's edge slots. No Python
    while every boundary row has at most _PIP_SLOT_CAP active edges;
    beyond that, boundary-cell rows refine through an Arrow-batched
    numpy kernel (interior cells still skip it)."""
    table, k = _cover_table(polygons, res, bounds)
    cover = df.sparkSession.createDataFrame(table, _cover_ddl(k))

    pts = with_cell(df, res, bounds, "__cell")
    if k is not None:
        # the refine reads non-null copies of x, y (a null coordinate's
        # cell id is -1, which no cover row matches): without null
        # checks each slot generates about a third less bytecode
        nan = cells.sql_double(float("nan"))
        pts = pts.withColumns({c: F.expr(f"coalesce({v}, {nan})") for c, v in (("__x", "x"), ("__y", "y"))})
    joined = pts.join(F.broadcast(cover), on=F.col("__cell") == cover["cell"], how=how).drop("cell")
    internal = ["__cell", "__x", "__y", "__in", *table.column_names[2:]]
    if k is not None:
        return joined, _slot_refine_text(k), internal

    poly_map = {str(pid): _norm_poly(v) for pid, v in polygons}

    def refine(batch):
        x, y = (batch.column(c).to_numpy(zero_copy_only=False).astype(np.float64) for c in ("x", "y"))
        pid = batch.column("poly_id").to_numpy(zero_copy_only=False)
        out = np.zeros(batch.num_rows, dtype=bool)
        for p in np.unique(pid):
            m = pid == p
            out[m] = kernels.point_in_polygon(x[m], y[m], *poly_map[p])
        return [*batch.columns, out]

    # interior cells and misses never touch Python: only boundary-cell
    # rows pay the Arrow round-trip
    rest = joined.filter("`full` IS NOT FALSE").withColumn("__in", F.col("full"))
    boundary = joined.filter("NOT `full`")
    schema = T.StructType([*boundary.schema.fields, T.StructField("__in", T.BooleanType())])
    return rest.unionByName(gmap.map_batches(boundary, refine, schema)), "`__in`", internal


def point_in_polygon_join(df: DataFrame, polygons, res: int = 8, bounds=cells.WORLD) -> DataFrame:
    """J4+J5: inner join points -> polygons they fall in (boundary
    counts as inside, matching shapely `intersects`). `polygons` is a
    list of (poly_id, vertices). Returns input columns + poly_id.

    One scan, one broadcast join and a filter on the clipped refine
    (_refined_join)."""
    joined, verdict, internal = _refined_join(df, polygons, res, bounds)
    return joined.filter(verdict).drop(*internal)


def intersecting_traj_ids(df: DataFrame, polygon, res: int = 8, bounds=cells.WORLD) -> DataFrame:
    """F7/F8 point-based variant: trajectories with >= 1 point inside the
    polygon (semi-join of traj_ids)."""
    hits = point_in_polygon_join(df, [("p", polygon)], res, bounds)
    return hits.select("traj_id").distinct()


# operators over one driver-known polygon (geofence, the line test)
# cover it on a grid of 2^_POLY_RES cells a side: its bbox padded by
# two cells, so a point past the bbox never reaches a cover row and no
# cover row lies on the clamped border
_POLY_RES = 6


def _poly_bounds(ring) -> tuple[float, float, float, float]:
    """Grid bounds of one polygon's cover at _POLY_RES: its bbox padded
    by two cells on every side. A side of zero extent is padded by two
    of the other side's cells (by 2.0 when both are zero)."""
    ring = np.asarray(ring, dtype=np.float64)
    lo, hi = ring.min(axis=0), ring.max(axis=0)
    span = hi - lo
    cell = np.where(span > 0, span, span.max() or 1.0) / ((1 << _POLY_RES) - 4)
    return tuple(float(v) for v in (*(lo - 2 * cell), *(hi + 2 * cell)))


def _traj_segments(df: DataFrame) -> DataFrame:
    """Consecutive-point segments per trajectory (__px,__py)->(x,y); the
    first point of each trajectory becomes a degenerate point-segment so
    single-point trajectories are still testable."""
    w = "OVER (PARTITION BY traj_id ORDER BY t)"
    return df.selectExpr("*", f"coalesce(lag(x) {w}, x) AS __px", f"coalesce(lag(y) {w}, y) AS __py")


# one row per polygon edge p -> q: the constants of the segment test
# (its endpoints, q - p and the edge's bbox), columns `__e{name}`
_EDGE = ("px", "py", "qx", "qy", "dx", "dy", "x0", "x1", "y0", "y1")


def _edge_table(poly: np.ndarray) -> pa.Table:
    px, py = poly[:, 0], poly[:, 1]
    qx, qy = np.roll(px, -1), np.roll(py, -1)
    consts = (px, py, qx, qy, qx - px, qy - py, np.minimum(px, qx), np.maximum(px, qx), np.minimum(py, qy), np.maximum(py, qy))
    return pa.table({f"__e{name}": v for name, v in zip(_EDGE, consts)})


def _seg_cross_text(ax: str, ay: str, bx: str, by: str) -> str:
    """Segment a -> b crosses or touches the edge row's edge p -> q:
    orientation tests (d1*d2 <= 0 and d3*d4 <= 0 admit touching) and a
    bbox overlap that rejects collinear-but-disjoint pairs, in the IEEE
    order of tests/oracles.py segments_intersect_polygon."""
    px, py, qx, qy, dx, dy, x0, x1, y0, y1 = (f"`__e{name}`" for name in _EDGE)
    d1 = f"((({bx} - {ax}) * ({py} - {ay})) - (({by} - {ay}) * ({px} - {ax})))"
    d2 = f"((({bx} - {ax}) * ({qy} - {ay})) - (({by} - {ay}) * ({qx} - {ax})))"
    d3 = f"(({dx} * ({ay} - {py})) - ({dy} * ({ax} - {px})))"
    d4 = f"(({dx} * ({by} - {py})) - ({dy} * ({bx} - {px})))"
    bbox = (
        f"((((least({ax}, {bx}) <= {x1}) AND (greatest({ax}, {bx}) >= {x0}))"
        f" AND (least({ay}, {by}) <= {y1})) AND (greatest({ay}, {by}) >= {y0}))"
    )
    return f"(({bbox} AND (({d1} * {d2}) <= 0)) AND (({d3} * {d4}) <= 0))"


def intersecting_traj_ids_line(df: DataFrame, polygon) -> DataFrame:
    """F7/F8 LINE-based semantics (reference trajectory.py:1533-1546 ->
    overlay.py:86-91): trajectories whose LineString intersects the
    polygon — a trajectory that crosses a small polygon between two
    outside observations still matches, unlike the point-based variant.

    A line meets the polygon when one of its vertices is inside
    (point_in_polygon_join on the polygon's own grid, _poly_bounds) or
    one of its segments crosses or touches an edge: one window (lag over
    the trajectory's own sort order) -> codegen'd bbox prefilter against
    the polygon's bbox -> broadcast semi-join with one row per polygon
    edge. The union's distinct traj_ids are the result."""
    poly = np.asarray(polygon, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    inside = point_in_polygon_join(df, [("p", poly)], _POLY_RES, _poly_bounds(poly))
    (minx, miny), (maxx, maxy) = poly.min(axis=0), poly.max(axis=0)
    d = cells.sql_double
    cand = _traj_segments(df).filter(
        f"((((least(__px, x) <= {d(maxx)}) AND (greatest(__px, x) >= {d(minx)}))"
        f" AND (least(__py, y) <= {d(maxy)})) AND (greatest(__py, y) >= {d(miny)}))"
    )
    edges = df.sparkSession.createDataFrame(_edge_table(poly), ", ".join(f"__e{name} double" for name in _EDGE))
    crossing = cand.join(F.broadcast(edges), F.expr(_seg_cross_text("__px", "__py", "x", "y")), "left_semi")
    return inside.select("traj_id").union(crossing.select("traj_id")).distinct()


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
