"""Overlay clip / intersection (SURVEY.md §2.9 X19-X20, §2.3 J4/J5).

Per-trajectory spatiotemporal clipping against a polygon, ported from
reference overlay.py:12-229 with its exact tolerances:

- entry/exit timestamps interpolated along each crossing segment by
  length ratio (linear in the segment parameter), reconstructed at
  microsecond precision (overlay.py:29-34)
- timestamps within 10 ms of an observed row snap to it (overlay.py:75-83)
- touching ranges dissolve into one (overlay.py:49-72)
- output pieces re-id'd "{traj_id}_{n}" in time order (overlay.py:136-152)

Execution: candidate pre-filter on the segment bbox (the reference's
R-tree query, overlay.py:171-188, done vectorized in numpy inside the
kernel). The clip runs through gmap.grouped_apply_sorted — one
mapInArrow pass per Arrow batch over partitions hash-partitioned and
sorted by (traj_id, t), the kernel on numpy slices of each trajectory —
instead of per-group applyInPandas dispatch, whose per-group overhead
dominated wall time at ~70-row groups. The polygon is a plan constant
shipped in the UDF closure.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from movingspark import gmap, kernels

SNAP_S = 0.010  # 10 ms tolerance (overlay.py:75-83)


def _clip_ranges_linebased(x, y, t, poly):
    """[(t0, tn, p0, pn)] spatiotemporal ranges of the track inside poly.

    Float-exact vectorized form of the scalar per-segment loop kept as
    a test oracle in tests/oracles.py (same IEEE arithmetic, batched
    over segments x polygon edges): all entry/exit parameters come from
    one broadcast segment-edge solve, and all sub-interval midpoints are
    classified by ONE ray-cast call per trajectory instead of one per
    segment. On the sf0.1 events fixture this is ~40x faster than the
    scalar loop (which spent its time in ~17k tiny `point_in_polygon`
    calls)."""
    poly = np.asarray(poly, float)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    pminx, pminy = poly.min(axis=0)
    pmaxx, pmaxy = poly.max(axis=0)
    n = len(x)
    if n < 2:
        return []
    x = np.asarray(x, float)
    y = np.asarray(y, float)
    ax0, ay0, ax1, ay1 = x[:-1], y[:-1], x[1:], y[1:]
    cand = ~(
        (np.maximum(ax0, ax1) < pminx)
        | (np.minimum(ax0, ax1) > pmaxx)
        | (np.maximum(ay0, ay1) < pminy)
        | (np.minimum(ay0, ay1) > pmaxy)
    )
    seg = np.nonzero(cand)[0]
    if len(seg) == 0:
        return []
    sx0, sy0, sx1, sy1 = ax0[seg], ay0[seg], ax1[seg], ay1[seg]
    zero = (sx0 == sx1) & (sy0 == sy1)
    norm = ~zero
    K = int(norm.sum())
    ex0, ey0 = poly[:, 0], poly[:, 1]
    ex1, ey1 = np.roll(ex0, -1), np.roll(ey0, -1)
    ex, ey = ex1 - ex0, ey1 - ey0
    E = len(poly)

    runs = []  # (seg_index, s0, s1) per inside sub-interval, built in order
    if K:
        nseg = seg[norm]
        nx0, ny0 = sx0[norm], sy0[norm]
        dx = (sx1 - sx0)[norm]
        dy = (sy1 - sy0)[norm]
        denom = dx[:, None] * ey[None, :] - dy[:, None] * ex[None, :]
        wx = ex0[None, :] - nx0[:, None]
        wy = ey0[None, :] - ny0[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            tt = (wx * ey[None, :] - wy * ex[None, :]) / denom
            ss = (wx * dy[:, None] - wy * dx[:, None]) / denom
        valid = (denom != 0.0) & (tt >= 0.0) & (tt <= 1.0) & (ss >= 0.0) & (ss <= 1.0)
        # params matrix: [0, 1, crossings...] -> sorted, exact-dedup (the
        # scalar path's sorted(set(...))) with inf as the pad value
        P = np.full((K, E + 2), np.inf)
        P[:, 0] = 0.0
        P[:, 1] = 1.0
        P[:, 2:] = np.where(valid, tt, np.inf)
        P.sort(axis=1)
        last = P[:, 0].copy()
        for j in range(1, E + 2):
            dup = (P[:, j] == last) | ~np.isfinite(P[:, j])
            P[dup, j] = np.inf
            last = np.where(dup, last, P[:, j])
        P.sort(axis=1)
        m = np.isfinite(P).sum(axis=1)  # params per segment (>=2)
        # midpoints of every adjacent param pair, classified in one call
        mid_s = (P[:, :-1] + P[:, 1:]) / 2.0
        live = np.arange(E + 1)[None, :] < (m - 1)[:, None]
        rows, colsj = np.nonzero(live)
        midx = nx0[rows] + mid_s[rows, colsj] * dx[rows]
        midy = ny0[rows] + mid_s[rows, colsj] * dy[rows]
        inside_flat = np.zeros(live.shape, dtype=bool)
        zpts = int(zero.sum())
        if len(rows) or zpts:
            allx = np.concatenate([midx, sx0[zero]])
            ally = np.concatenate([midy, sy0[zero]])
            ins = kernels.point_in_polygon(allx, ally, poly)
            inside_flat[rows, colsj] = ins[: len(rows)]
            zin = ins[len(rows):]
        else:
            zin = np.zeros(0, dtype=bool)
        # runs of inside intervals (contiguous params merge exactly, which
        # is the scalar path's |t1 - t0| < 1e-15 merge on shared params)
        pad = np.zeros((K, E + 3), dtype=np.int8)
        pad[:, 1:-1] = inside_flat
        d = np.diff(pad, axis=1)
        r0r, r0c = np.nonzero(d == 1)
        r1r, r1c = np.nonzero(d == -1)  # same length/order as starts
        s0 = P[r0r, r0c]
        s1 = P[r1r, r1c]
        ta = t[nseg[r0r]]
        tb = t[nseg[r0r] + 1]
        tq0 = ta + (tb - ta) * s0
        tqn = ta + (tb - ta) * s1
        tq0 = np.floor(tq0 * 1e6) / 1e6
        tqn = np.floor(tqn * 1e6) / 1e6
        tqn = np.where(np.abs(tqn - tb) < SNAP_S, tb, tqn)
        tq0 = np.where(np.abs(tq0 - ta) < SNAP_S, ta, tq0)
        px0 = nx0[r0r] + dx[r0r] * s0
        py0 = ny0[r0r] + dy[r0r] * s0
        pxn = nx0[r0r] + dx[r0r] * s1
        pyn = ny0[r0r] + dy[r0r] * s1
        for k in range(len(r0r)):
            runs.append((nseg[r0r[k]], s0[k], tq0[k], tqn[k],
                         (px0[k], py0[k]), (pxn[k], pyn[k])))
    else:
        zin = (
            kernels.point_in_polygon(sx0[zero], sy0[zero], poly)
            if zero.any()
            else np.zeros(0, dtype=bool)
        )
    zsegs = seg[zero]
    for k in range(len(zsegs)):
        if zin[k]:
            i = zsegs[k]
            runs.append((i, 0.0, t[i], t[i + 1],
                         (x[i], y[i]), (x[i + 1], y[i + 1])))
    runs.sort(key=lambda r: (r[0], r[1]))
    ranges = [(r[2], r[3], r[4], r[5]) for r in runs]

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


def _clip_ranges_pointbased(x, y, t, poly):
    """TRanges of maximal runs of inside points (overlay.py:155-168)."""
    poly = np.asarray(poly, float)
    inside = kernels.point_in_polygon(x, y, poly)
    ranges = []
    i = 0
    n = len(x)
    while i < n:
        if inside[i]:
            j = i
            while j + 1 < n and inside[j + 1]:
                j += 1
            ranges.append((t[i], t[j], None, None))
            i = j + 1
        else:
            i += 1
    return ranges


def clip(df: DataFrame, polygon, point_based: bool = False) -> DataFrame:
    """X19 (overlay.py:219-229): clip each trajectory by the polygon.
    Output = input schema + `parent`; piece traj_id = "{parent}_{n}".
    Synthesized entry/exit rows inherit the padded previous row's
    attributes with interpolated position/time (overlay.py:94-133)."""
    poly = np.asarray(polygon, float)
    out_schema = T.StructType(df.schema.fields + [T.StructField("parent", T.StringType())])

    def per_traj(g):
        x = np.asarray(g["x"], float)
        y = np.asarray(g["y"], float)
        t_ns = np.asarray(g["t"], "datetime64[ns]").view(np.int64)
        tsec = gmap.seconds(g["t"])
        tid = np.asarray(g["traj_id"])[0]

        if point_based:
            ranges = _clip_ranges_pointbased(x, y, tsec, poly)
        else:
            ranges = _clip_ranges_linebased(x, y, tsec, poly)

        if not ranges:
            return (), {}

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
            ent_ns = gmap.timestamps(t0s).view(np.int64)
            ext_ns = gmap.timestamps(tns).view(np.int64)
        else:
            need0 = needn = np.zeros(len(ranges), dtype=bool)
            pad0 = padn = np.zeros(len(ranges), dtype=np.int64)
            ent_ns = ext_ns = np.zeros(len(ranges), dtype=np.int64)
            p0x = p0y = pnx = pny = np.zeros(len(ranges))

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
            return (), {}

        parts = []  # per kept range: rows taken, t ns, x, y
        for i in np.flatnonzero(keep):
            mem = np.arange(lo[i], hi[i])
            e, f = int(need0[i]), int(needn[i])  # synthesized entry / exit row
            parts.append([
                np.concatenate([np.full(e, first), members, np.full(f, last)])
                for first, members, last in (
                    (pad0[i], mem, padn[i]), (ent_ns[i], t_ns[mem], ext_ns[i]),
                    (p0x[i], x[mem], pnx[i]), (p0y[i], y[mem], pny[i]),
                )
            ])
        take, out_ns, ox, oy = map(np.concatenate, zip(*parts))
        labels = [np.full(len(p[0]), f"{tid}_{k}", object) for k, p in enumerate(parts)]
        return take, {
            "t": out_ns.view("datetime64[ns]"),
            "x": ox,
            "y": oy,
            "parent": np.full(len(take), tid, object),
            "traj_id": np.concatenate(labels),
        }

    return gmap.grouped_apply_sorted(df, per_traj, out_schema)


def intersection_with_feature(
    df: DataFrame,
    polygon,
    feature_props: dict,
    point_based: bool = False,
) -> DataFrame:
    """X20 (overlay.py:246-258): clip + append the intersecting feature's
    properties as `intersecting_<key>` columns."""
    from pyspark.sql import functions as F

    out = clip(df, polygon, point_based)
    for k, v in feature_props.items():
        out = out.withColumn(f"intersecting_{k}", F.lit(v))
    return out
