"""Native hierarchical cell index (H3/S2-style, SURVEY.md §4.1).

The environment has no h3/s2 library, so the engine uses a quadtree
cell scheme over a configurable bounding box (default: lon/lat world):
at resolution r the domain is a 2^r x 2^r grid and a cell id is the
Morton (Z-order) interleave of (ix, iy) plus the resolution in the high
bits. Properties used by the join layer:

- pure arithmetic -> computable as a Spark SQL column expression
  (JVM-side, codegen, pushdown-friendly) AND as ANSI SQL for the
  DuckDB oracle AND in numpy for driver-side polygon covers. The Spark
  builders take SQL operand text ("x", "__o.x", "shiftright(code, 8)"),
  compose the whole expression as text and parse it with one F.expr,
  so a cell id costs one Py4J call to build, not one per operation;
- Z-order keys cluster spatially close cells -> range partitioning on
  cell id gives spatial locality (tile rollups, Iceberg sort orders);
- parent cell = child id with the low 2 bits of the interleave dropped
  (hierarchical rollup for raster<->vector tiling).

This replaces the reference's R-tree candidate filter
(overlay.py:171-188) with a distributed-friendly equi-join key.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from movingspark import kernels

WORLD = (-180.0, -90.0, 180.0, 90.0)  # minx, miny, maxx, maxy


def _interleave_bits_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    """Morton interleave: bit k of ix -> bit 2k+1, of iy -> bit 2k."""
    out = np.zeros_like(ix, dtype=np.int64)
    for k in range(res):
        out |= ((ix >> k) & 1) << (2 * k + 1)
        out |= ((iy >> k) & 1) << (2 * k)
    return out


def cell_id_np(x: np.ndarray, y: np.ndarray, res: int, bounds=WORLD) -> np.ndarray:
    """Z-order cell id in numpy (for covers & kernels); same clamping as
    cell_id_expr: NaN lands in row/column 0, +-Inf and out-of-bounds
    values in the nearest border cell."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res

    def axis(v, lo, span):
        g = np.floor((np.asarray(v, float) - lo) / span * n)
        return np.clip(np.nan_to_num(g, nan=0.0), 0, n - 1).astype(np.int64)

    return _interleave_bits_np(axis(x, minx, maxx - minx), axis(y, miny, maxy - miny), res)


def sql_double(v) -> str:
    """Exact Spark SQL text of a float64 literal: the shortest repr that
    round-trips, as a DOUBLE literal (parenthesised when negative so it
    can follow a binary minus); NaN and +-Inf through a string cast."""
    v = float(v)
    if math.isfinite(v):
        s = repr(v) + "D"
        return f"({s})" if s.startswith("-") else s
    name = "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def sql_string(s) -> str:
    """Spark SQL string literal of `s` (backslash and quote escaped)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ixiy_text(x: str, y: str, res: int, bounds=WORLD) -> tuple[str, str]:
    minx, miny, maxx, maxy = bounds
    n = 1 << res

    def axis(v, lo, span):
        grid = f"floor(((({v}) - {sql_double(lo)}) / {sql_double(span)}) * {n})"
        return f"CAST(least(greatest({grid}, 0), {n - 1}) AS BIGINT)"

    return axis(x, minx, maxx - minx), axis(y, miny, maxy - miny)


def _interleave_text(ix: str, iy: str, res: int) -> str:
    # bitwise ops only: ANSI `+` and `% 2` generate an addExact call and a
    # remainder-by-zero check per bit
    out = "CAST(0 AS BIGINT)"
    for k in range(res):
        x_bit = f"shiftleft((shiftright(({ix}), {k}) & 1), {2 * k + 1})"
        y_bit = f"shiftleft((shiftright(({iy}), {k}) & 1), {2 * k})"
        out = f"({x_bit} | {y_bit})" if k == 0 else f"(({out} | {x_bit}) | {y_bit})"
    return out


def cell_ixiy_expr(x: str, y: str, res: int, bounds=WORLD) -> tuple[Column, Column]:
    """Clamped integer grid coords (ix, iy) of SQL operands `x`, `y`
    (column names or any Spark SQL expression text, e.g. "__o.x"), each
    one Column parsed from one SQL text."""
    ix, iy = _ixiy_text(x, y, res, bounds)
    return F.expr(ix), F.expr(iy)


def interleave_expr(ix: str, iy: str, res: int) -> Column:
    """Morton interleave of integer grid-coord SQL operands as one
    Column parsed from one SQL text (bit k of ix -> 2k+1, of iy -> 2k;
    lock-step with _interleave_bits_np and interleave_sql)."""
    return F.expr(_interleave_text(ix, iy, res))


def interleave_sql(ix: str, iy: str, res: int) -> str:
    """Morton interleave of integer grid-coord SQL expressions (DuckDB
    oracle twin of interleave_expr)."""
    terms = []
    for k in range(res):
        terms.append(f"((({ix}) >> {k}) % 2) * {1 << (2 * k + 1)}")
        terms.append(f"((({iy}) >> {k}) % 2) * {1 << (2 * k)}")
    return "(" + " + ".join(terms) + ")"


def cell_ixiy_sql(x: str, y: str, res: int, bounds=WORLD) -> tuple[str, str]:
    """(ix, iy) grid coords as ANSI SQL strings (DuckDB oracle twin of
    cell_ixiy_expr)."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    ix = f"LEAST(GREATEST(CAST(FLOOR(({x} - ({minx})) / {maxx - minx} * {n}) AS BIGINT), 0), {n - 1})"
    iy = f"LEAST(GREATEST(CAST(FLOOR(({y} - ({miny})) / {maxy - miny} * {n}) AS BIGINT), 0), {n - 1})"
    return ix, iy


def cell_id_expr(x: str, y: str, res: int, bounds=WORLD) -> Column:
    """Z-order cell id of SQL operands `x`, `y` as a pure Spark SQL
    expression (no UDF): the whole interleave is composed as text and
    parsed by one F.expr, so building it costs one Py4J call rather than
    one per Column operation.

    The result is wrapped in coalesce(..., -1) to make the column
    NON-NULLABLE. This is load-bearing for performance, not cosmetics:
    when the cell id is a join key, Catalyst's constraint inference adds
    isnotnull(<whole interleave expression>) and pushes it below the
    upstream projections, inlining every x/y reference — for parsed
    sources that re-evaluated split()+parseDouble 12x per row (measured
    5x slowdown of the doc spatial join). A non-nullable key produces no
    isnotnull constraint at all. Values are unchanged: the interleave is
    only null when x or y is null, which the -1 sentinel maps outside
    every valid cover cell (cover ids are >= 0), so joins/rollups treat
    malformed rows as no-match either way."""
    ix, iy = _ixiy_text(x, y, res, bounds)
    return F.expr(f"coalesce({_interleave_text(ix, iy, res)}, CAST(-1 AS BIGINT))")


def cell_id_sql(x: str, y: str, res: int, bounds=WORLD) -> str:
    """Same cell id as ANSI SQL (DuckDB oracle). Kept in lock-step with
    cell_id_expr — both are pure integer arithmetic."""
    ix, iy = cell_ixiy_sql(x, y, res, bounds)
    # COALESCE(-1) mirrors cell_id_expr's null->-1 sentinel so engine and
    # oracle stay in lock-step on null coordinates.
    return f"COALESCE({interleave_sql(ix, iy, res)}, -1)"


def parent_cell_expr(cell: Column, levels: int = 1) -> Column:
    """Hierarchical rollup: drop the lowest 2*levels interleave bits."""
    return F.shiftright(cell, 2 * levels)


def cell_ixiy_np(cell_ids: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer grid coords (ix, iy) of cell ids (inverse interleave)."""
    cell_ids = np.asarray(cell_ids, dtype=np.int64)
    ix = np.zeros_like(cell_ids)
    iy = np.zeros_like(cell_ids)
    for k in range(res):
        ix |= ((cell_ids >> (2 * k + 1)) & 1) << k
        iy |= ((cell_ids >> (2 * k)) & 1) << k
    return ix, iy


def cell_bounds_np(cell_ids: np.ndarray, res: int, bounds=WORLD) -> np.ndarray:
    """(minx, miny, maxx, maxy) per cell id — numpy, for covers/tests."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    ix, iy = cell_ixiy_np(cell_ids, res)
    w = (maxx - minx) / n
    h = (maxy - miny) / n
    x0 = minx + ix * w
    y0 = miny + iy * h
    return np.column_stack([x0, y0, x0 + w, y0 + h])


# cap on the (polygon vertices x 4 rect sides x cells) orientation
# arrays the cover builds per chunk of cells
_COVER_CHUNK_ELEMS = 1 << 20


def polygon_cover(poly: np.ndarray, res: int, bounds=WORLD):
    """Driver-side polygon -> covering cells at resolution `res`.

    Returns (cells, full) where `full[i]` marks cells entirely inside the
    polygon (points there skip the exact point-in-polygon refinement —
    the standard two-list spatial-join cover). A bbox cell is covered
    when a corner is inside, a vertex lies in it or an edge cuts a side;
    it is full when all four corners are inside and no edge cuts a side.
    Cells come in ix-major order. Cost is O(cells in bbox x edges) array
    work in chunks of cells; choose res so the polygon spans a sane
    number of cells.
    """
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    w = (maxx - minx) / n
    h = (maxy - miny) / n
    pminx, pminy = poly.min(axis=0)
    pmaxx, pmaxy = poly.max(axis=0)
    ix0 = max(0, min(n - 1, int((pminx - minx) // w)))
    ix1 = max(0, min(n - 1, int((pmaxx - minx) // w)))
    iy0 = max(0, min(n - 1, int((pminy - miny) // h)))
    iy1 = max(0, min(n - 1, int((pmaxy - miny) // h)))
    ix = np.repeat(np.arange(ix0, ix1 + 1), iy1 - iy0 + 1)
    iy = np.tile(np.arange(iy0, iy1 + 1), ix1 - ix0 + 1)

    chunk = max(1, _COVER_CHUNK_ELEMS // (4 * len(poly)))
    flags = [
        _cover_flags(poly, minx + ix[s : s + chunk] * w, miny + iy[s : s + chunk] * h, w, h)
        for s in range(0, len(ix), chunk)
    ]
    keep, full = (np.concatenate(f) for f in zip(*flags))
    return _interleave_bits_np(ix[keep], iy[keep], res), full[keep]


def _cover_flags(poly, x0, y0, w, h):
    """(covered, full) per cell of lower-left corners x0, y0. Each cell's
    x1 is its own x0 + w (the next cell's x0 can differ by an ulp).
    Corners run counter-clockwise from (x0, y0); rect side j runs corner
    j -> j+1. An edge a->b cuts side c->d when orient(a, b, c) and
    orient(a, b, d) differ in sign and so do orient(c, d, a) and
    orient(c, d, b) (a touch on both lines does not count)."""
    x1, y1 = x0 + w, y0 + h
    cx, cy = np.stack([x0, x1, x1, x0]), np.stack([y0, y0, y1, y1])
    corners_in = kernels.point_in_polygon(cx.ravel(), cy.ravel(), poly).reshape(cx.shape)
    ax, ay = poly[:, 0, None, None], poly[:, 1, None, None]
    bx, by = np.roll(ax, -1, axis=0), np.roll(ay, -1, axis=0)
    dx, dy = np.roll(cx, -1, axis=0), np.roll(cy, -1, axis=0)
    # (vertices, 4, cells): corner j against edge i; vertex i against side j
    s = _sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
    t = _sign((dx - cx) * (ay - cy) - (dy - cy) * (ax - cx))
    cut = ((s != np.roll(s, -1, axis=1)) & (t != np.roll(t, -1, axis=0))).any(axis=(0, 1))
    ax, ay = ax[:, 0], ay[:, 0]
    vertex_in = ((ax >= x0) & (ax <= x1) & (ay >= y0) & (ay <= y1)).any(axis=0)
    return corners_in.any(axis=0) | vertex_in | cut, corners_in.all(axis=0) & ~cut


def _sign(v):
    """0/1/2 for negative/zero/positive orientation; NaN counts as
    negative."""
    return (v >= 0).astype(np.int8) + (v > 0)
