"""The cell-clipped point-in-polygon refine: each boundary cover row
carries only the edges that can change a verdict for a point assigned to
its cell (joins._cover_table), and the join's verdicts are bit-identical
to the numpy ray cast (kernels.point_in_polygon) and to the per-polygon
OR-chain refine it replaced (tests/oracles.py pip_join_or_chain).

Probe points sit at vertices, on edges, 1-4 ulps off edges and off cell
borders, beyond the bounds, and at +-Inf and NaN."""

import numpy as np
import pytest

from movingspark import cells, joins, kernels
from tests import oracles

FAR = (1e6, 1e6, 1e6 + 64, 1e6 + 8)


def _star(k, inner, rng):
    """Unit star: 2k vertices, alternate ones at radius `inner`."""
    ang = (np.arange(2 * k) + rng.uniform(-0.2, 0.2, 2 * k)) * (np.pi / k)
    rad = np.where(np.arange(2 * k) % 2 == 0, 1.0, inner) * rng.uniform(0.9, 1.1, 2 * k)
    return np.column_stack([np.cos(ang), np.sin(ang)]) * rad[:, None]


def _polygons(res, bounds, seed):
    """Two hexagons, a concave star and a square with a triangular hole,
    a few cells across near the middle of the bounds, and a triangle
    that crosses the bounds' left side (its rows on the clamped border
    also take the out-of-bounds and non-finite probe points)."""
    rng = np.random.default_rng(seed)
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    w, h = (maxx - minx) / n, (maxy - miny) / n
    size, jitter = min(4.0, n / 2 - 2.0), min(1.0, n / 2 - 3.5)  # in cells

    def place(unit, u, v, r):
        return np.column_stack([minx + (u + r * unit[:, 0]) * w, miny + (v + r * unit[:, 1]) * h])

    def centre():
        return rng.uniform(n / 2 - jitter, n / 2 + jitter, 2)

    polys = [(f"hex{i}", place(_star(3, 1.0, rng), *centre(), rng.uniform(0.5, 0.8) * size)) for i in range(2)]
    polys.append(("star", place(_star(4, 0.5, rng), *centre(), size)))
    # lattice square: its edges lie on cell borders
    u, v = np.floor(centre())
    r = np.floor(size)
    outer = place(np.array([(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]), u, v, r)
    hole = place(np.array([(-0.5, -0.7), (0.6, -0.4), (0.3, 0.5)]), u, v, 1.0)
    polys.append(("holed", (outer, [hole])))
    polys.append(("edge", place(np.array([(-1.5, -0.5), (1.5, -1.2), (0.8, 1.3)]), 0.0, n / 2, 1.0)))
    return polys


def _ulps(x, k):
    out = np.asarray(x, dtype=np.float64)
    for _ in range(abs(k)):
        out = np.nextafter(out, np.inf if k > 0 else -np.inf)
    return out


def _nudged(x, y):
    """(x, y) and every point 1-4 ulps off it along x or y."""
    xs, ys = [x], [y]
    for k in (-4, -3, -2, -1, 1, 2, 3, 4):
        xs += [_ulps(x, k), x]
        ys += [y, _ulps(y, k)]
    return np.concatenate(xs), np.concatenate(ys)


def _probe_points(polygons, res, bounds, rng):
    rings = []
    for _, verts in polygons:
        outer, holes = joins._norm_poly(verts)
        rings += [outer, *holes]
    verts = np.concatenate(rings)
    a = np.concatenate([np.roll(r, -1, axis=0) for r in rings])
    t = rng.uniform(0.0, 1.0, (3, len(verts), 1))
    on_edge = (verts + t * (a - verts)).reshape(-1, 2)
    # points on and next to the borders of every covered cell
    cover = np.unique(np.concatenate([cells.polygon_cover(r, res, bounds)[0] for r in rings]))
    x0, y0, x1, y1 = cells.cell_bounds_np(cover, res, bounds).T
    fx, fy = rng.uniform(size=(2, len(cover)))
    bx = np.concatenate([x0, x1, x0 + fx * (x1 - x0), x0 + fx * (x1 - x0), x0, x1])
    by = np.concatenate([y0 + fy * (y1 - y0), y0 + fy * (y1 - y0), y0, y1, y0, y1])
    lo, hi = verts.min(axis=0), verts.max(axis=0)
    inner = rng.uniform(lo - 0.1 * (hi - lo), hi + 0.1 * (hi - lo), (500, 2))
    px, py = _nudged(np.concatenate([verts[:, 0], on_edge[:, 0], bx]), np.concatenate([verts[:, 1], on_edge[:, 1], by]))
    minx, miny, maxx, maxy = bounds
    # beyond the bounds and non-finite, against each other and mid-bounds
    odd_x = [minx - 1.0, maxx + 1.0, -1e300, 1e300, np.inf, -np.inf, np.nan, 0.5 * (minx + maxx)]
    odd_y = [miny - 1.0, maxy + 1.0, -1e300, 1e300, np.inf, -np.inf, np.nan, 0.5 * (miny + maxy)]
    ox, oy = (g.ravel() for g in np.meshgrid(odd_x, odd_y))
    return np.concatenate([px, inner[:, 0], ox]), np.concatenate([py, inner[:, 1], oy])


def _cases():
    for res in range(3, 13):
        yield res, cells.WORLD
    for res in (3, 6, 9, 12):
        yield res, FAR


def _row_verdicts(table, k, px, py, res, bounds):
    """(point index, cover row, verdict) for every point and cover row
    of its cell, the row's verdict computed from its base and slots with
    the arithmetic of the generated refine."""
    cell = cells.cell_id_np(px, py, res, bounds)
    cov = table.column("cell").to_numpy()
    pt, row = np.nonzero(cell[:, None] == cov[None, :])
    x, y = px[pt], py[pt]
    inside = table.column("base").to_numpy(zero_copy_only=False)[row].copy()
    on_edge = np.zeros(len(pt), dtype=bool)
    with np.errstate(invalid="ignore", over="ignore"):
        for i in range(k):
            xa, ya, yb, dx, dy, den, ex0, ex1, ey0, ey1 = (
                table.column(f"e{i}_{name}").to_numpy()[row] for name in joins._SLOT
            )
            inside ^= ((ya > y) != (yb > y)) & (x < xa + ((y - ya) * dx) / den)
            cross = dx * (y - ya) - dy * (x - xa)
            on_edge |= (np.abs(cross) < 1e-12) & (x >= ex0) & (x <= ex1) & (y >= ey0) & (y <= ey1)
    return pt, row, inside | on_edge


@pytest.mark.parametrize("res,bounds", list(_cases()))
def test_clipped_rows_give_the_kernels_verdict(res, bounds):
    """Spark-free: every boundary cover row, evaluated from its base bit
    and edge slots, gives kernels.point_in_polygon's verdict for every
    probe point assigned to its cell."""
    rng = np.random.default_rng(res)
    polygons = _polygons(res, bounds, res)
    table, k = joins._cover_table(polygons, res, bounds)
    assert k is not None and 1 <= k <= joins._PIP_SLOT_CAP
    px, py = _probe_points(polygons, res, bounds, rng)
    pt, row, verdict = _row_verdicts(table, k, px, py, res, bounds)
    full = table.column("full").to_numpy(zero_copy_only=False)[row]
    pid = np.asarray(table.column("poly_id").to_pylist())[row]
    assert (~full).sum() > 1000
    for name, verts in polygons:
        m = (pid == name) & ~full
        outer, holes = joins._norm_poly(verts)
        want = kernels.point_in_polygon(px[pt[m]], py[pt[m]], outer, holes)
        assert np.array_equal(verdict[m], want), name
        assert want.any() and not want.all()


def test_border_cells_keep_every_edge():
    """Rows of cells on the clamped border, which also take out-of-bounds
    and non-finite coordinates, carry every edge and base 0."""
    tri = np.array([(-179.0, 0.0), (-170.0, 5.0), (-175.0, 10.0)])
    table, k = joins._cover_table([("t", tri)], 6, cells.WORLD)
    ix, _ = cells.cell_ixiy_np(table.column("cell").to_numpy(), 6)
    border = ix == 0
    assert border.any() and k == 3
    assert not table.column("base").to_numpy(zero_copy_only=False)[border].any()
    for i in range(3):
        assert np.isfinite(table.column(f"e{i}_xa").to_numpy()[border]).all()


def test_clamped_border_cells_are_never_full(spark):
    """A square past the bounds covers the corner cell (0, 0) whole, but
    that cell also takes every point clamped into it, out of bounds and
    NaN included: only the kernel's inside point may join."""
    square = np.array([(-5.0, -5.0), (10.0, -5.0), (10.0, 10.0), (-5.0, 10.0)])
    bounds = (0.0, 0.0, 16.0, 16.0)
    table, _ = joins._cover_table([("sq", square)], 4, bounds)
    ix, iy = cells.cell_ixiy_np(table.column("cell").to_numpy(), 4)
    full = table.column("full").to_numpy(zero_copy_only=False)
    assert full.any() and not full[(ix == 0) | (iy == 0)].any()
    probes = [(float("nan"), 0.5), (-100.0, 0.5), (0.5, float("nan")), (0.5, 0.5), (20.0, 0.5)]
    df = spark.createDataFrame([(str(i), 0, x, y) for i, (x, y) in enumerate(probes)], "traj_id string, t long, x double, y double")
    px, py = np.array(probes).T
    assert np.flatnonzero(kernels.point_in_polygon(px, py, square)).tolist() == [3]
    assert _pairs(joins.point_in_polygon_join(df, [("sq", square)], 4, bounds)) == [(3, "sq")]


def _pairs(df):
    return sorted((int(r["traj_id"]), r["poly_id"]) for r in df.collect())


@pytest.mark.parametrize("res,bounds", list(_cases()))
def test_clipped_join_matches_or_chain_and_kernels(spark, res, bounds):
    rng = np.random.default_rng(100 + res)
    polygons = _polygons(res, bounds, res)
    px, py = _probe_points(polygons, res, bounds, rng)
    df = spark.createDataFrame(
        [(str(i), 0, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "traj_id string, t long, x double, y double",
    )
    got = _pairs(joins.point_in_polygon_join(df, polygons, res, bounds))
    assert got == _pairs(oracles.pip_join_or_chain(df, polygons, res, bounds))
    table, _ = joins._cover_table(polygons, res, bounds)
    cell = cells.cell_id_np(px, py, res, bounds)
    want = set()
    for name, verts in polygons:
        rows = np.asarray(table.column("poly_id").to_pylist()) == name
        cov = table.column("cell").to_numpy()[rows]
        full = table.column("full").to_numpy(zero_copy_only=False)[rows]
        outer, holes = joins._norm_poly(verts)
        inside = kernels.point_in_polygon(px, py, outer, holes)
        hit = np.isin(cell, cov) & (np.isin(cell, cov[full]) | inside)
        want |= {(int(i), name) for i in np.flatnonzero(hit)}
    assert got == sorted(want)
    assert len(got) > 100


def _square_edge_points():
    """41 points on each edge of the unit square, corners included."""
    u = np.linspace(0.0, 1.0, 41)
    one, zero = np.ones(41), np.zeros(41)
    return np.concatenate([u, one, u[::-1], zero]), np.concatenate([zero, u, one, u[::-1]])


def test_points_on_grid_line_edges_land_in_cover_rows():
    """A unit square whose edges lie on grid lines of (-0.3, -0.3, 1.3,
    1.3) at res 4: polygon_cover's cell boxes and a point's floor()
    placement round apart by an ulp, so 84 of 164 edge points fall in
    cells polygon_cover leaves out. The cover table adds those
    neighbours as boundary rows, and their clipped slots put every edge
    point inside."""
    square = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    bounds = (-0.3, -0.3, 1.3, 1.3)
    px, py = _square_edge_points()
    cover, _ = cells.polygon_cover(square, 4, bounds)
    assert (~np.isin(cells.cell_id_np(px, py, 4, bounds), cover)).sum() == 84
    table, k = joins._cover_table([("sq", square)], 4, bounds)
    pt, _, verdict = _row_verdicts(table, k, px, py, 4, bounds)
    assert np.array_equal(np.sort(pt), np.arange(len(px)))
    assert verdict.all()


def test_grid_line_edge_join_matches_kernel(spark):
    """The join finds every edge point of the grid-line square, and on
    the registry's events it finds every point kernels.point_in_polygon
    puts inside POLY on POLY's bbox padded by one cell at res 6 (POLY's
    top edge y = 80 falls on a grid line; 60 points there were missed)."""
    import os

    import __spark_entry__ as E
    from movingspark.pinned_params import DRIVER_SF

    square = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    px, py = _square_edge_points()
    df = spark.createDataFrame(
        [(str(i), 0, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "traj_id string, t long, x double, y double",
    )
    assert joins.point_in_polygon_join(df, [("sq", square)], 4, (-0.3, -0.3, 1.3, 1.3)).count() == len(px)

    if not os.path.exists(f"{DRIVER_SF}/events.parquet"):
        pytest.skip(f"{DRIVER_SF} not present")
    poly = np.array(E.POLY)
    lo, hi = poly.min(axis=0), poly.max(axis=0)
    cell = (hi - lo) / 62
    bounds = (*(lo - cell), *(hi + cell))
    pts = E._events(spark, DRIVER_SF).select("traj_id", "t", "x", "y")
    got = sorted((r["traj_id"], r["t"]) for r in joins.point_in_polygon_join(pts, [("p", poly)], 6, bounds).collect())
    rows = pts.collect()
    inside = kernels.point_in_polygon(np.array([r["x"] for r in rows]), np.array([r["y"] for r in rows]), poly)
    assert got == sorted((r["traj_id"], r["t"]) for r, hit in zip(rows, inside) if hit)
    assert any(r["y"] == 80.0 for r, hit in zip(rows, inside) if hit)
