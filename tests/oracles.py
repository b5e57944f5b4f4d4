"""Reference twins of engine kernels, kept only as test oracles.

Each function here is the plain, slower formulation an engine kernel
replaced; the tests assert the engine kernel reproduces it bit for bit
(np.array_equal, or float equality per field).

- convex_hull_np   ~ kernels.convex_hull   (np.cross turn test)
- dp_mask_np       ~ kernels.dp_mask       (np.cross chord distance)
- kf_rts_1d        ~ smooth._kf_rts        (per-axis 2x2 matrix form)
- clip_ranges_scalar ~ overlay._clip_ranges_linebased (one segment at a time)
- segment_polygon_clip  one segment against a polygon (clip_ranges_scalar's core)
- simhash_expr     ~ text.add_simhash      (per-row HOF expression, md5 per bit)
- band_keys_loop   ~ similarity._band_keys (per row, per band, per bit)
- polygon_cover_loop ~ cells.polygon_cover (one bbox cell at a time)
- pip_join_or_chain ~ joins.point_in_polygon_join (one generated refine:
  an OR over every polygon of its whole unrolled ray cast, pip_text)
- segments_intersect_polygon ~ joins.intersecting_traj_ids_line's
  per-segment test (numpy, endpoint ray casts and every edge unrolled)
- compass_bearing  ~ derive.bearing_expr(latlon=True) (numpy)
- chained_kinematics ~ derive._kinematics (one window per D1-D6 helper,
  first rows patched by a further row_number/lead window each)
- seg_dist_lag     ~ derive._kinematics "distance" (the lag-only segment
  distance queries and ingest used to inline)
- reassemble_docs_array_sort ~ ingest.reassemble_docs (array_sort, a
  higher-order function, over the collected spans)
- span_digests_two_pass ~ ingest._span_digests (one digest per side,
  each its own scan and exchange, joined full-outer on doc_id)
- span_invariant_violations_two_pass ~ ingest.span_invariant_violations
- pair_metrics_pandas, line_metrics_pandas ~ pairs.trajectory_pair_metrics
  / trajectory_to_line_metrics (a struct pandas UDF each, a per-row loop)
- ivf_buckets_pandas ~ similarity.write_ivf_index's bucket column
  (pandas UDF, matrix built by Series.apply(np.asarray))
- pip_join_pandas_refine ~ joins.point_in_polygon_join past the slot cap
  (boundary rows refined by a pandas UDF)
- cluster_partial_pandas ~ aggregate.cluster_significant_points above its
  driver cap (per-partition mapInPandas, pd.concat + sort_values)
- stops_pandas, clip_pandas, grouped_filter_pandas, kalman_pandas,
  outlier_clean_pandas, angle_split_pandas, hull_pandas,
  significant_points_pandas ~ the per-trajectory functions the
  grouped-map operators hand gmap.grouped_apply_sorted (pandas frames
  in and out, as under its former mapInPandas contract)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import cells, joins, kernels, schema
from movingspark.cells import WORLD, _interleave_bits_np
from movingspark.derive import angular_difference_expr, bearing_expr, dist_expr, traj_window
from movingspark.overlay import SNAP_S
from movingspark.text import lower_ascii, tokens_expr
from movingspark.units import get_conversion


def convex_hull_np(xy: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull with the np.cross turn test."""
    pts = np.unique(np.asarray(xy, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 2:  # all identical
        return pts[:1]
    return hull


def dp_mask_np(xy: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas-Peucker keep-mask with the np.cross chord distance."""
    xy = np.asarray(xy, dtype=np.float64)
    n = len(xy)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        d = chord_distances_np(xy, i0, i1)
        k = int(np.argmax(d))
        if d[k] > tolerance:
            j = i0 + 1 + k
            keep[j] = True
            stack.append((i0, j))
            stack.append((j, i1))
    return keep


def chord_distances_np(xy: np.ndarray, i0: int, i1: int) -> np.ndarray:
    """Distances of xy[i0+1:i1] to the chord xy[i0]->xy[i1]."""
    p0, p1 = xy[i0], xy[i1]
    seg = p1 - p0
    seg_len = np.hypot(*seg)
    mid = xy[i0 + 1 : i1]
    if seg_len == 0.0:
        return np.hypot(mid[:, 0] - p0[0], mid[:, 1] - p0[1])
    return np.abs(np.cross(seg, mid - p0)) / seg_len


def kf_rts_1d(z: np.ndarray, dts: np.ndarray, q: float, r: float) -> np.ndarray:
    """Kalman filter + RTS smoother for one axis in 2x2 matrix form.
    z: measurements, dts[i]: time delta from i-1 to i (dts[0] unused)."""
    n = len(z)
    xs = np.zeros((n, 2))
    Ps = np.zeros((n, 2, 2))
    x_preds = np.zeros((n, 2))
    P_preds = np.zeros((n, 2, 2))
    H = np.array([[1.0, 0.0]])

    x = np.array([z[0], 0.0])
    P = np.diag([r, r])
    xs[0], Ps[0] = x, P
    x_preds[0], P_preds[0] = x, P

    Fs = np.zeros((n, 2, 2))
    Fs[0] = np.eye(2)
    for i in range(1, n):
        dt = max(dts[i], 1e-9)
        Fm = np.array([[1.0, dt], [0.0, 1.0]])
        Q = q * np.array([[dt**3 / 3, dt**2 / 2], [dt**2 / 2, dt]])
        Fs[i] = Fm
        x_pred = Fm @ x
        P_pred = Fm @ P @ Fm.T + Q
        x_preds[i], P_preds[i] = x_pred, P_pred
        y = z[i] - (H @ x_pred)[0]
        S = (H @ P_pred @ H.T)[0, 0] + r
        K = (P_pred @ H.T)[:, 0] / S
        x = x_pred + K * y
        P = P_pred - np.outer(K, H @ P_pred)
        xs[i], Ps[i] = x, P

    # RTS backward pass (state only; the smoothed covariance is not needed)
    xs_s = xs.copy()
    for i in range(n - 2, -1, -1):
        C = Ps[i] @ Fs[i + 1].T @ np.linalg.inv(P_preds[i + 1])
        xs_s[i] = xs[i] + C @ (xs_s[i + 1] - x_preds[i + 1])
    return xs_s[:, 0]


def clip_ranges_scalar(x, y, t, poly):
    """[(t0, tn, p0, pn)] ranges of the track inside poly, one segment
    at a time through segment_polygon_clip."""
    poly = np.asarray(poly, float)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    pminx, pminy = poly.min(axis=0)
    pmaxx, pmaxy = poly.max(axis=0)

    ranges = []
    n = len(x)
    for i in range(1, n):
        x0, y0, x1, y1 = x[i - 1], y[i - 1], x[i], y[i]
        # bbox candidate filter (reference sindex query)
        if max(x0, x1) < pminx or min(x0, x1) > pmaxx or max(y0, y1) < pminy or min(y0, y1) > pmaxy:
            continue
        if x0 == x1 and y0 == y1:
            # zero-length segment: inside iff the point is inside
            if kernels.point_in_polygon(np.array([x0]), np.array([y0]), poly)[0]:
                ranges.append((t[i - 1], t[i], (x0, y0), (x1, y1)))
            continue
        for s0, s1 in segment_polygon_clip((x0, y0), (x1, y1), poly):
            t0 = t[i - 1] + (t[i] - t[i - 1]) * s0
            tn = t[i - 1] + (t[i] - t[i - 1]) * s1
            # microsecond reconstruction (overlay.py:29-34)
            t0 = np.floor(t0 * 1e6) / 1e6
            tn = np.floor(tn * 1e6) / 1e6
            # snap to observed row times (overlay.py:40-43)
            if abs(tn - t[i]) < SNAP_S:
                tn = t[i]
            if abs(t0 - t[i - 1]) < SNAP_S:
                t0 = t[i - 1]
            p0 = (x0 + (x1 - x0) * s0, y0 + (y1 - y0) * s0)
            pn = (x0 + (x1 - x0) * s1, y0 + (y1 - y0) * s1)
            ranges.append((t0, tn, p0, pn))

    # dissolve touching ranges (overlay.py:49-72)
    dissolved = []
    cur = None
    for r in ranges:
        if cur is None:
            cur = list(r)
        elif r[0] == cur[1] or (r[0] > cur[1] and abs(r[0] - cur[1]) < SNAP_S):
            cur[1] = r[1]
            cur[3] = r[3]
        else:
            dissolved.append(tuple(cur))
            cur = list(r)
    if cur is not None:
        dissolved.append(tuple(cur))
    return dissolved


def segment_polygon_clip(p0, p1, poly: np.ndarray):
    """Clip segment p0->p1 against a simple polygon; returns list of
    (t_enter, t_exit) parameter intervals (0..1) where the segment lies
    inside the polygon (the per-segment clip of overlay.py:12-46).

    Works for convex and concave simple polygons: collect edge-crossing
    parameters, classify midpoints of the resulting sub-intervals.
    """
    p0 = np.asarray(p0, dtype=np.float64)
    p1 = np.asarray(p1, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    d = p1 - p0
    params = [0.0, 1.0]
    n = len(poly)
    for i in range(n):
        a = poly[i]
        b = poly[(i + 1) % n]
        e = b - a
        denom = d[0] * e[1] - d[1] * e[0]
        if denom == 0.0:
            continue
        # p0 + t*d = a + s*e
        w = a - p0
        t = (w[0] * e[1] - w[1] * e[0]) / denom
        s = (w[0] * d[1] - w[1] * d[0]) / denom
        if 0.0 <= t <= 1.0 and 0.0 <= s <= 1.0:
            params.append(t)
    params = sorted(set(params))
    out = []
    for t0, t1 in zip(params[:-1], params[1:]):
        mid = p0 + (t0 + t1) / 2.0 * d
        if kernels.point_in_polygon(np.array([mid[0]]), np.array([mid[1]]), poly)[0]:
            if out and abs(out[-1][1] - t0) < 1e-15:
                out[-1] = (out[-1][0], t1)
            else:
                out.append((t0, t1))
    return out


def simhash_expr(text: Column, bits: int = 16) -> Column:
    """SimHash over word tokens: per token take md5-derived bit
    projections; the document hash is the sign-aggregated bit vector.
    Implemented with only built-in expressions: for each bit b, count
    tokens whose md5 hex nibble pattern sets bit b; bit is 1 when the
    count exceeds half the token count."""
    toks = tokens_expr(lower_ascii(text))
    n = F.greatest(F.size(toks), F.lit(1))
    out = F.lit(0).cast("long")
    for b in range(bits):
        # token votes for bit b: md5 hex char at position b, high nibble bit
        votes = F.size(
            F.filter(
                toks,
                lambda t: F.conv(F.substring(F.md5(t), b + 1, 1), 16, 10).cast("int") >= 8,
            )
        )
        out = out + F.when(votes * 2 > n, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return out


def band_keys_loop(signs: np.ndarray, n_bands: int, n_planes: int) -> list:
    """Sign-LSH bucket keys, one row, band and bit at a time: each band's
    bits shifted in most-significant first, band index above them."""
    out = []
    for row in signs:
        keys = []
        for band in range(n_bands):
            key = 0
            for bit in row[band * n_planes : (band + 1) * n_planes]:
                key = (key << 1) | int(bit)
            keys.append((band << n_planes) | key)
        out.append(keys)
    return out


def polygon_cover_loop(poly: np.ndarray, res: int, bounds=WORLD):
    """Driver-side polygon -> covering cells at resolution `res`.

    Returns (cells, full) where `full[i]` marks cells entirely inside the
    polygon (points there skip the exact point-in-polygon refinement —
    the standard two-list spatial-join cover). Cost is O(cells in bbox);
    choose res so the polygon spans a sane number of cells.
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

    cells = []
    full = []
    for ix in range(ix0, ix1 + 1):
        x0 = minx + ix * w
        x1 = x0 + w
        for iy in range(iy0, iy1 + 1):
            y0 = miny + iy * h
            y1 = y0 + h
            corners_in = kernels.point_in_polygon(
                np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]), poly
            )
            if corners_in.all():
                # fully inside unless a polygon edge cuts through
                cut = _rect_edge_cut(x0, y0, x1, y1, poly)
                cells.append((ix, iy))
                full.append(not cut)
                continue
            if corners_in.any() or _poly_vertex_in_rect(x0, y0, x1, y1, poly) or _rect_edge_cut(x0, y0, x1, y1, poly):
                cells.append((ix, iy))
                full.append(False)
    if not cells:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    ixs = np.array([c[0] for c in cells], dtype=np.int64)
    iys = np.array([c[1] for c in cells], dtype=np.int64)
    return _interleave_bits_np(ixs, iys, res), np.array(full, dtype=bool)


def _poly_vertex_in_rect(x0, y0, x1, y1, poly) -> bool:
    return bool(
        ((poly[:, 0] >= x0) & (poly[:, 0] <= x1) & (poly[:, 1] >= y0) & (poly[:, 1] <= y1)).any()
    )


def _rect_edge_cut(x0, y0, x1, y1, poly) -> bool:
    """Does any polygon edge intersect any rectangle edge?"""
    rect = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    n = len(poly)
    for i in range(n):
        a, b = poly[i], poly[(i + 1) % n]
        for j in range(4):
            c, d = rect[j], rect[(j + 1) % 4]
            if _seg_intersect(a, b, c, d):
                return True
    return False


def _seg_intersect(a, b, c, d) -> bool:
    def orient(p, q, r):
        v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    o1, o2 = orient(a, b, c), orient(a, b, d)
    o3, o4 = orient(c, d, a), orient(c, d, b)
    if o1 != o2 and o3 != o4:
        return True
    return False


def _pip_ring_text(px: str, py: str, ring) -> tuple[str, str]:
    """One ring's even-odd ray cast as (inside, on_edge) SQL texts over
    exact double literals."""
    inside = on_edge = "false"
    for consts in joins._edge_consts([ring]):
        crossing, within = joins._edge_text(px, py, *(cells.sql_double(v) for v in consts))
        inside = f"({inside} != {crossing})"  # boolean != is XOR
        on_edge = f"({on_edge} OR {within})"
    return inside, on_edge


def pip_text(px: str, py: str, poly, holes=None) -> str:
    """kernels.point_in_polygon as one SQL text over operand texts, every
    vertex of every ring unrolled as its exact double literal."""
    px, py = f"({px})", f"({py})"
    inside, on_edge = _pip_ring_text(px, py, poly)
    for hole in holes or []:
        h_in, h_edge = _pip_ring_text(px, py, hole)
        inside = f"({inside} != {h_in})"
        on_edge = f"({on_edge} OR {h_edge})"
    return f"({inside} OR {on_edge})"


def pip_join_or_chain(df: DataFrame, polygons, res: int = 8, bounds=WORLD) -> DataFrame:
    """Point-in-polygon join whose boundary rows refine through one
    predicate: an OR over every polygon (matched by poly_id) of its
    whole unrolled ray cast over exact vertex literals."""
    cover = joins.cover_to_df(df.sparkSession, polygons, res, bounds).select("cell", "poly_id", "full")
    joined = joins.with_cell(df, res, bounds, "__cell").join(
        F.broadcast(cover), on=F.col("__cell") == cover["cell"], how="inner"
    ).drop("cell")
    pred = None
    for pid, verts in polygons:
        outer, holes = joins._norm_poly(verts)
        branch = f"((`poly_id` = {cells.sql_string(pid)}) AND {pip_text('x', 'y', outer, holes)})"
        pred = branch if pred is None else f"({pred} OR {branch})"
    return joined.filter(F.expr(f"(`full` OR {pred})")).drop("full", "__cell")


def segments_intersect_polygon(ax, ay, bx, by, poly: np.ndarray) -> np.ndarray:
    """Vectorized: does segment (ax,ay)->(bx,by) intersect the polygon
    (interior or boundary — shapely `intersects` semantics)? True iff an
    endpoint is inside (boundary counts) or the segment crosses/touches
    any polygon edge (reference trajectory.py:1533-1546 via
    overlay.py:86-91)."""
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    hit = kernels.point_in_polygon(ax, ay, poly) | kernels.point_in_polygon(bx, by, poly)
    k = len(poly)
    for i in range(k):
        px, py = poly[i]
        qx, qy = poly[(i + 1) % k]
        # orientation tests; d1*d2<=0 & d3*d4<=0 admits touching; the
        # per-pair bbox overlap test rejects collinear-but-disjoint pairs
        d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        d2 = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
        d3 = (qx - px) * (ay - py) - (qy - py) * (ax - px)
        d4 = (qx - px) * (by - py) - (qy - py) * (bx - px)
        bbox = (
            (np.minimum(ax, bx) <= max(px, qx))
            & (np.maximum(ax, bx) >= min(px, qx))
            & (np.minimum(ay, by) <= max(py, qy))
            & (np.maximum(ay, by) >= min(py, qy))
        )
        hit |= bbox & (d1 * d2 <= 0) & (d3 * d4 <= 0)
    return hit


def compass_bearing(lon1, lat1, lon2, lat2):
    """Initial great-circle bearing, degrees [0, 360) (geometry_utils.py:126-155)."""
    lat1r = np.radians(np.asarray(lat1, dtype=np.float64))
    lat2r = np.radians(np.asarray(lat2, dtype=np.float64))
    dlon = np.radians(np.asarray(lon2, dtype=np.float64) - np.asarray(lon1, dtype=np.float64))
    xx = np.sin(dlon) * np.cos(lat2r)
    yy = np.cos(lat1r) * np.sin(lat2r) - np.sin(lat1r) * np.cos(lat2r) * np.cos(dlon)
    return (np.degrees(np.arctan2(xx, yy)) + 360.0) % 360.0


def _lag_dist(latlon: bool) -> Column:
    w = traj_window()
    return dist_expr(F.lag("x").over(w), F.lag("y").over(w), F.col("x"), F.col("y"), latlon)


def seg_dist_lag(latlon: bool) -> Column:
    """Distance from the previous row, 0 on the first row."""
    return F.coalesce(_lag_dist(latlon), F.lit(0.0))


def _first_row_copy(df: DataFrame, name: str) -> DataFrame:
    """The first row takes the second row's value of `name`."""
    w = traj_window()
    patched = F.when(F.row_number().over(w) == 1, F.lead(name, 1).over(w)).otherwise(F.col(name))
    return df.withColumn(name, patched)


def _lag_dt() -> Column:
    w = traj_window()
    t_us = F.unix_micros(F.col("t"))
    return (t_us - F.lag(t_us).over(w)) / F.lit(1_000_000.0)


def chained_timedelta(df, name):
    return df.withColumn(name, _lag_dt())


def chained_distance(df, name, units, latlon, crs_units):
    conv = get_conversion(units, crs_units)
    return df.withColumn(name, F.coalesce(_lag_dist(latlon) * F.lit(conv.crs / conv.distance), F.lit(0.0)))


def chained_speed(df, name, units, latlon, crs_units):
    conv = get_conversion(units, crs_units)
    d = _lag_dist(latlon) * F.lit(conv.crs / conv.distance)
    df = df.withColumn(name, d / _lag_dt() * F.lit(conv.time))
    return _first_row_copy(df, name)


def chained_direction(df, name, latlon):
    w = traj_window()
    px, py = F.lag("x").over(w), F.lag("y").over(w)
    same = (px == F.col("x")) & (py == F.col("y"))
    b = bearing_expr(px, py, F.col("x"), F.col("y"), latlon)
    df = df.withColumn(name, F.when(same, F.lit(0.0)).otherwise(b))
    return _first_row_copy(df, name)


def chained_angular_difference(df, name, latlon):
    w = traj_window()
    tmp = schema.DIRECTION not in df.columns
    if tmp:
        df = chained_direction(df, schema.DIRECTION, latlon)
    diff = angular_difference_expr(F.lag(schema.DIRECTION).over(w), F.col(schema.DIRECTION))
    df = df.withColumn(name, F.coalesce(diff, F.lit(0.0)))
    return df.drop(schema.DIRECTION) if tmp else df


def chained_acceleration(df, name, units, latlon, crs_units):
    conv = get_conversion(units, crs_units)
    w = traj_window()
    tmp = schema.SPEED not in df.columns
    if tmp:
        df = chained_speed(df, schema.SPEED, units, latlon, crs_units)
    acc = (F.col(schema.SPEED) - F.lag(schema.SPEED).over(w)) / _lag_dt() * F.lit(conv.time2)
    df = _first_row_copy(df.withColumn(name, acc), name)
    return df.drop(schema.SPEED) if tmp else df


def chained_kinematics(df, latlon):
    """add_all_kinematics as six chained helpers."""
    df = chained_timedelta(df, schema.TIMEDELTA)
    df = chained_distance(df, schema.DISTANCE, None, latlon, None)
    df = chained_speed(df, schema.SPEED, None, latlon, None)
    df = chained_direction(df, schema.DIRECTION, latlon)
    df = chained_angular_difference(df, schema.ANGULAR_DIFFERENCE, latlon)
    return chained_acceleration(df, schema.ACCELERATION, None, latlon, None)


def reassemble_docs_array_sort(docs: DataFrame) -> DataFrame:
    """Round-trip: explode all spans and reassemble per doc ordered by
    offset — the north-rule span-sequence invariant (BASELINE.json:15)."""
    sp = docs.select("doc_id", F.explode("spans").alias("span"))
    return sp.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span.offset").alias("offset"),
                    F.col("span.kind").alias("kind"),
                    F.col("span.text").alias("text"),
                    F.col("span.media_ref").alias("media_ref"),
                )
            )
        ).alias("spans_sorted")
    ).select(
        "doc_id",
        F.transform(
            "spans_sorted",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def _span_seq_digest(docs: DataFrame, name: str) -> DataFrame:
    """Per-doc sequence digest: xxhash64 of (doc_id, array position,
    kind, text, media_ref) per span, XOR-folded per doc, plus the span
    count. Including the array POSITION in each hash makes the digest
    order-sensitive: a reassembly that returns the right spans in the
    wrong order produces different (pos, span) hashes. Null text /
    media_ref map to distinct sentinels so column identity survives
    xxhash64's null-skipping. bit_xor needs no collect_list and no JSON
    serialization — it aggregates map-side partially, so the shuffle
    carries one 8-byte digest per (doc, partition)."""
    sp = docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
    h = F.xxhash64(
        "doc_id",
        "pos",
        F.col("s.kind"),
        F.coalesce(F.col("s.text"), F.lit(" <null-text>")),
        F.coalesce(F.col("s.media_ref"), F.lit("<null-ref>")),
    )
    return sp.groupBy("doc_id").agg(
        F.bit_xor(h).alias(name), F.count("*").alias(f"{name}_n")
    )


def span_digests_two_pass(docs: DataFrame) -> DataFrame:
    """(doc_id, h, h_n, h_rt, h_rt_n): the original digest and the
    reassembly's, each from its own scan and exchange, joined full-outer."""
    orig = _span_seq_digest(docs, "h")
    rebuilt = _span_seq_digest(reassemble_docs_array_sort(docs), "h_rt")
    return orig.join(rebuilt, "doc_id", "full_outer")


def span_invariant_violations_two_pass(docs: DataFrame) -> DataFrame:
    """Rows = docs whose explode->reassemble round trip does NOT preserve
    the exact span sequence (kind, text, media_ref, order)."""
    joined = span_digests_two_pass(docs)
    return joined.filter(
        F.col("h").isNull()
        | F.col("h_rt").isNull()
        | (F.col("h") != F.col("h_rt"))
        | (F.col("h_n") != F.col("h_rt_n"))
    ).select("doc_id")


# ---------------------------------------------------------------------------
# Pandas per-trajectory wrappers of the grouped-map kernels, as they ran
# under the former mapInPandas contract of gmap.grouped_apply_sorted (one
# pandas frame per trajectory, rows in t order, index 0..n-1). Run through
# groupBy("traj_id").applyInPandas(by_time(fn), schema) they are the
# reference each ported operator must equal row for row.
# ---------------------------------------------------------------------------


def by_time(fn):
    """fn on the group's rows in t order with a fresh index, as the
    mapInPandas contract handed them over; applyInPandas does not sort."""
    return lambda pdf: fn(pdf.sort_values("t", kind="stable").reset_index(drop=True))


def stops_pandas(max_diameter, min_duration_s, latlon=False):
    from movingspark.stops import _detect_stops_np

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = pdf["t"].astype("int64").to_numpy() / 1e9
        stops = _detect_stops_np(
            pdf["x"].to_numpy(float),
            pdf["y"].to_numpy(float),
            ts,
            max_diameter,
            min_duration_s,
            latlon,
        )
        tid = pdf["traj_id"].iloc[0]
        out = pd.DataFrame(
            {
                "traj_id": pd.Series([tid] * len(stops), dtype=str),
                "start_t": pd.Series([pd.Timestamp(round(s * 1e6) * 1000) for s, _ in stops], dtype="datetime64[ns]"),
                "end_t": pd.Series([pd.Timestamp(round(e * 1e6) * 1000) for _, e in stops], dtype="datetime64[ns]"),
            }
        )
        return out

    return per_traj


def clip_pandas(polygon, point_based=False):
    from movingspark import overlay

    poly = np.asarray(polygon, float)

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(float)
        y = pdf["y"].to_numpy(float)
        t_ns = pdf["t"].astype("int64").to_numpy()
        tsec = t_ns / 1e9
        tid = pdf["traj_id"].iloc[0]

        if point_based:
            ranges = overlay._clip_ranges_pointbased(x, y, tsec, poly)
        else:
            ranges = overlay._clip_ranges_linebased(x, y, tsec, poly)

        empty = pdf.iloc[0:0].copy()
        empty["parent"] = pd.Series(dtype=object)
        if not ranges:
            return empty

        # Vectorized piece synthesis (float/row-exact twin of the scalar
        # loop in _ref history: membership by searchsorted on the sorted
        # time axis, entry/exit rows padded from the last row at-or-before
        # the boundary, piece order = [entry, members..., exit] — entry
        # time is < the first member by construction of the 5e-7 s guard).
        t0s = np.array([r[0] for r in ranges], float)
        tns = np.array([r[1] for r in ranges], float)
        synth = ranges[0][2] is not None  # line-based ranges carry points
        lo = np.searchsorted(tsec, t0s, "left")
        hi = np.searchsorted(tsec, tns, "right")
        if synth:
            p0x = np.array([r[2][0] for r in ranges], float)
            p0y = np.array([r[2][1] for r in ranges], float)
            pnx = np.array([r[3][0] for r in ranges], float)
            pny = np.array([r[3][1] for r in ranges], float)
            atol = 5e-7
            near0 = (
                np.searchsorted(tsec, t0s + atol, "right")
                - np.searchsorted(tsec, t0s - atol, "left")
            ) > 0
            nearn = (
                np.searchsorted(tsec, tns + atol, "right")
                - np.searchsorted(tsec, tns - atol, "left")
            ) > 0
            need0 = ~near0
            needn = ~nearn
            pad0 = np.maximum(np.searchsorted(tsec, t0s, "right") - 1, 0)
            padn = np.maximum(np.searchsorted(tsec, tns, "right") - 1, 0)
            ent_ns = np.rint(t0s * 1e6).astype("int64") * 1000
            ext_ns = np.rint(tns * 1e6).astype("int64") * 1000
        else:
            need0 = needn = np.zeros(len(ranges), dtype=bool)
            pad0 = padn = np.zeros(len(ranges), dtype=np.int64)
            ent_ns = ext_ns = np.zeros(len(ranges), dtype=np.int64)

        nmem = hi - lo
        total = nmem + need0 + needn
        first_ns = np.where(
            need0, ent_ns, np.where(nmem > 0, t_ns[np.minimum(lo, len(t_ns) - 1)], ext_ns)
        )
        last_ns = np.where(
            needn, ext_ns, np.where(nmem > 0, t_ns[np.maximum(hi - 1, 0)], ent_ns)
        )
        keep = (total >= 2) & (first_ns != last_ns)
        if not keep.any():
            return empty

        take, out_ns, sx, sy, labels = [], [], [], [], []
        counter = 0
        for i in np.nonzero(keep)[0]:
            if need0[i]:
                take.append(np.array([pad0[i]]))
                out_ns.append(np.array([ent_ns[i]]))
                sx.append(np.array([p0x[i]]))
                sy.append(np.array([p0y[i]]))
            mem = np.arange(lo[i], hi[i])
            take.append(mem)
            out_ns.append(t_ns[mem])
            sx.append(np.full(len(mem), np.nan))
            sy.append(np.full(len(mem), np.nan))
            if needn[i]:
                take.append(np.array([padn[i]]))
                out_ns.append(np.array([ext_ns[i]]))
                sx.append(np.array([pnx[i]]))
                sy.append(np.array([pny[i]]))
            labels.extend([f"{tid}_{counter}"] * int(total[i]))
            counter += 1

        take = np.concatenate(take)
        out_ns = np.concatenate(out_ns)
        sx = np.concatenate(sx)
        sy = np.concatenate(sy)
        out = pdf.iloc[take].copy().reset_index(drop=True)
        out["t"] = pd.to_datetime(out_ns)
        ox = out["x"].to_numpy(float)
        oy = out["y"].to_numpy(float)
        syn = ~np.isnan(sx)
        ox[syn] = sx[syn]
        oy[syn] = sy[syn]
        out["x"] = ox
        out["y"] = oy
        out["parent"] = tid
        out["traj_id"] = labels
        return out[[*pdf.columns, "parent"]]

    return per_traj


def grouped_filter_pandas(mask_fn):
    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        mask = mask_fn(
            pdf["x"].to_numpy(float),
            pdf["y"].to_numpy(float),
            pdf["t"].astype("int64").to_numpy() / 1e9,
        )
        return pdf[mask]

    return per_traj


def kalman_pandas(process_noise_std=0.5, measurement_noise_std=1.0, latlon=False):
    from movingspark.smooth import _kf_rts

    q = float(process_noise_std) ** 2
    r = float(measurement_noise_std) ** 2

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pdf
        t = pdf["t"].astype("int64").to_numpy() / 1e9
        dts = np.diff(t, prepend=t[0])
        x = pdf["x"].to_numpy(float)
        y = pdf["y"].to_numpy(float)
        if latlon:
            sx, sy = _kf_rts(*kernels.mercator_forward(x, y), dts, q, r)
            pdf["x"], pdf["y"] = kernels.mercator_inverse(sx, sy)
        else:
            pdf["x"], pdf["y"] = _kf_rts(x, y, dts, q, r)
        return pdf

    return per_traj


def outlier_clean_pandas(v_max=None, units=None, alpha=3.0, latlon=False):
    from movingspark.clean import outlier_keep_mask

    conv = get_conversion(units)

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        keep = outlier_keep_mask(
            pdf["x"].to_numpy(float),
            pdf["y"].to_numpy(float),
            pdf["t"].astype("int64").to_numpy() / 1e9,
            v_max, alpha, conv, latlon,
        )
        return pdf[keep]

    return per_traj


def angle_split_pandas(dircol, spcol, min_angle=45, min_speed=0):
    from movingspark.split import angle_change_groups

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = angle_change_groups(
            pdf[dircol].to_numpy(float), pdf[spcol].to_numpy(float), min_angle, min_speed
        )
        tid = pdf["traj_id"].iloc[0]
        pieces = []
        bounds = np.flatnonzero(np.diff(groups)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(pdf)]])
        for i, (s, e) in enumerate(zip(starts, ends)):
            if e - s <= 1:
                continue
            piece = pdf.iloc[s:e]
            if i > 0:
                piece = pd.concat([pdf.iloc[starts[i - 1] + (ends[i - 1] - starts[i - 1]) - 1 : ends[i - 1]], piece])
            piece = piece.copy()
            piece["parent"] = tid
            piece["traj_id"] = f"{tid}_{i}"
            pieces.append(piece)
        if not pieces:
            return pdf.iloc[0:0].assign(parent=pd.Series(dtype=str))
        return pd.concat(pieces, ignore_index=True)

    return per_traj


def hull_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    h = kernels.convex_hull(pdf[["x", "y"]].to_numpy(float))
    return pd.DataFrame(
        {
            "traj_id": pdf["traj_id"].iloc[0],
            "vertex": range(len(h)),
            "x": h[:, 0],
            "y": h[:, 1],
        }
    )


def significant_points_pandas(max_distance, min_distance, min_stop_duration_s, min_angle=45, latlon=False):
    from movingspark.aggregate import _sig_points_np

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = _sig_points_np(
            pdf["x"].to_numpy(float),
            pdf["y"].to_numpy(float),
            pdf["t"].astype("int64").to_numpy() / 1e9,
            max_distance,
            min_distance,
            min_stop_duration_s,
            min_angle,
            latlon,
        )
        tid = pdf["traj_id"].iloc[0]
        return pd.DataFrame(
            {
                "traj_id": pd.Series([tid] * len(pts), dtype=str),
                "seq": pd.Series(range(len(pts)), dtype="int64"),
                "x": pd.Series([p[0] for p in pts], dtype=float),
                "y": pd.Series([p[1] for p in pts], dtype=float),
            }
        )

    return per_traj


# ---------------------------------------------------------------------------
# The pandas forms of the batch engine's Python sites, as they ran before
# every such site became an Arrow pass (gmap.map_batches)
# ---------------------------------------------------------------------------


def _pair_metrics_udf(line=None):
    if line is None:
        @F.pandas_udf("min_distance double, hausdorff double")
        def metrics(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.DataFrame:
            mins, hds = [], []
            for i in range(len(xa)):
                la = np.column_stack([np.asarray(xa[i], float), np.asarray(ya[i], float)])
                lb = np.column_stack([np.asarray(xb[i], float), np.asarray(yb[i], float)])
                mins.append(kernels.polyline_min_distance(la, lb))
                hds.append(kernels.discrete_hausdorff_line(la, lb))
            return pd.DataFrame({"min_distance": mins, "hausdorff": hds})
    else:
        @F.pandas_udf("min_distance double, hausdorff double")
        def metrics(xa: pd.Series, ya: pd.Series) -> pd.DataFrame:
            mins, hds = [], []
            for i in range(len(xa)):
                la = np.column_stack([np.asarray(xa[i], float), np.asarray(ya[i], float)])
                mins.append(kernels.polyline_min_distance(la, line))
                hds.append(kernels.discrete_hausdorff_line(la, line))
            return pd.DataFrame({"min_distance": mins, "hausdorff": hds})

    return metrics


def pair_metrics_pandas(df: DataFrame, pairs: DataFrame) -> DataFrame:
    from movingspark.pairs import _traj_coords

    j = _traj_coords(df, "traj_a").join(F.broadcast(pairs), "traj_a").join(_traj_coords(df, "traj_b"), "traj_b")
    m = _pair_metrics_udf()(*(F.col(f"__traj_{s}_{c}s") for s in "ab" for c in "xy")).alias("__m")
    return j.select("traj_a", "traj_b", m).select("traj_a", "traj_b", "__m.min_distance", "__m.hausdorff")


def line_metrics_pandas(df: DataFrame, line) -> DataFrame:
    from movingspark.pairs import _traj_coords

    line_np = np.asarray(line, dtype=np.float64)
    if line_np.ndim == 1:
        line_np = line_np.reshape(1, 2)
    m = _pair_metrics_udf(line_np)(F.col("__traj_id_xs"), F.col("__traj_id_ys")).alias("__m")
    return _traj_coords(df, "traj_id").select("traj_id", m).select("traj_id", "__m.min_distance", "__m.hausdorff")


def ivf_buckets_pandas(corpus: DataFrame, C: np.ndarray, vec_col: str = "embedding") -> DataFrame:
    @F.pandas_udf(T.IntegerType())
    def bucket(v: pd.Series) -> pd.Series:
        M = np.vstack(v.apply(np.asarray).to_numpy()).astype(np.float64)
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return corpus.withColumn("bucket", bucket(F.col(vec_col)))


def pip_join_pandas_refine(df: DataFrame, polygons, res: int = 8, bounds=WORLD) -> DataFrame:
    """The point join whose cover rows are past joins._PIP_SLOT_CAP."""
    table, k = joins._cover_table(polygons, res, bounds)
    assert k is None
    cover = df.sparkSession.createDataFrame(table, joins._cover_ddl(k))
    joined = joins.with_cell(df, res, bounds, "__cell").join(
        F.broadcast(cover), on=F.col("__cell") == cover["cell"]
    ).drop("cell")
    poly_map = {str(pid): joins._norm_poly(v) for pid, v in polygons}

    @F.pandas_udf(T.BooleanType())
    def refine(px: pd.Series, py: pd.Series, pid: pd.Series) -> pd.Series:
        out = np.zeros(len(px), dtype=bool)
        for p in pid.unique():
            m = (pid == p).to_numpy()
            outer, holes = poly_map[p]
            out[m] = kernels.point_in_polygon(px.to_numpy(float)[m], py.to_numpy(float)[m], outer, holes)
        return pd.Series(out)

    rest = joined.filter("full").withColumn("__in", F.lit(True))
    boundary = joined.filter("NOT full").withColumn("__in", refine(F.col("x"), F.col("y"), F.col("poly_id")))
    return rest.unionByName(boundary).filter("__in").drop("__cell", "full", "__in")


def cluster_partial_pandas(sig: DataFrame, max_distance: float, latlon: bool = False) -> list:
    """[(cx, cy, n)] of the two-level clustering: grid clusters per
    partition in (traj_id, seq) order, merged weighted on the driver."""
    from movingspark.aggregate import grid_cluster, grid_cluster_weighted

    def per_part(batches):
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["traj_id", "seq"])
        part = grid_cluster(list(zip(pdf["x"], pdf["y"])), max_distance, latlon)
        if part:
            yield pd.DataFrame(
                {"cx": [c[0] for c in part], "cy": [c[1] for c in part], "n": [c[2] for c in part]}
            )

    partial = sig.select("traj_id", "seq", "x", "y").mapInPandas(per_part, schema="cx double, cy double, n long").collect()
    return grid_cluster_weighted(
        [(r["cx"], r["cy"]) for r in partial], [int(r["n"]) for r in partial], max_distance, latlon
    )
