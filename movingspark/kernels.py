"""Vectorized numpy kernels.

Everything the reference delegates to shapely/geopy, re-derived as pure
numpy so it can run on the numpy arrays of Arrow batches (no
shapely/geopy in the cluster environment, and object-dtype geometries
would defeat Arrow transfer anyway).

Parity targets (reference files):
- geodesic distance  ~ geopy WGS84 Karney   (geometry_utils.py:59-85)
- spherical distance = haversine R=6371000  (geometry_utils.py:29-47)
- azimuth                                    (geometry_utils.py:158-168)
- angular difference                         (geometry_utils.py:171-178)
- mrr_diagonal                               (geometry_utils.py:181-196)
- convex hull (get_mcp)                      (trajectory.py:1731-1744)
- Douglas-Peucker                            (trajectory_generalizer.py:172-205)
- TDTR (Meratnia & de By 2004)               (trajectory_generalizer.py:208-277)
- discrete Hausdorff                         (trajectory.py:1587-1627)
- point-in-polygon ray casting               (overlay.py:155-168)
"""

from __future__ import annotations

import math

import numpy as np

from movingspark.schema import R_EARTH, WGS84_A, WGS84_F

# --------------------------------------------------------------------------
# distances & bearings
# --------------------------------------------------------------------------


def euclidean(x1, y1, x2, y2):
    """Planar distance in CRS units (geometry_utils.py:50-56)."""
    return np.hypot(np.asarray(x2) - x1, np.asarray(y2) - y1)


def haversine(lon1, lat1, lon2, lat2, radius=R_EARTH):
    """Spherical distance in meters (geometry_utils.py:29-47)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * radius * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def geodesic(lon1, lat1, lon2, lat2, iterations=60, tol=1e-12):
    """WGS84 geodesic inverse distance in meters, vectorized Vincenty.

    Matches geopy's Karney geodesic (geometry_utils.py:59-85) to well
    under the reference test tolerance (~1 m at ~676 km,
    test_trajectory.py:712-717); Vincenty agrees with Karney to <1 mm
    except for nearly-antipodal pairs, which are re-solved exactly by
    shooting with the always-convergent direct problem
    (_geodesic_antipodal; matches Karney 2013's nearly-antipodal
    example to ~3 um).
    """
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)

    a = WGS84_A
    f = WGS84_F
    b = a * (1.0 - f)

    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1.0 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1.0 - f) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    active = np.ones(np.broadcast(L, U1, U2).shape, dtype=bool)
    sin_sigma = np.zeros_like(lam)
    cos_sigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cos_sq_alpha = np.ones_like(lam)
    cos2sm = np.zeros_like(lam)

    for _ in range(iterations):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        t1 = cosU2 * sin_lam
        t2 = cosU1 * sinU2 - sinU1 * cosU2 * cos_lam
        ss = np.hypot(t1, t2)
        cs = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sg = np.arctan2(ss, cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(ss != 0.0, cosU1 * cosU2 * sin_lam / np.where(ss == 0.0, 1.0, ss), 0.0)
        csa = 1.0 - sin_alpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            c2sm = np.where(csa != 0.0, cs - 2.0 * sinU1 * sinU2 / np.where(csa == 0.0, 1.0, csa), 0.0)
        C = f / 16.0 * csa * (4.0 + f * (4.0 - 3.0 * csa))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sg + C * ss * (c2sm + C * cs * (-1.0 + 2.0 * c2sm**2))
        )
        upd = active
        sin_sigma = np.where(upd, ss, sin_sigma)
        cos_sigma = np.where(upd, cs, cos_sigma)
        sigma = np.where(upd, sg, sigma)
        cos_sq_alpha = np.where(upd, csa, cos_sq_alpha)
        cos2sm = np.where(upd, c2sm, cos2sm)
        delta = np.abs(lam_new - lam)
        lam = np.where(upd, lam_new, lam)
        active = active & (delta > tol)
        if not active.any():
            break

    u_sq = cos_sq_alpha * (a**2 - b**2) / b**2
    A = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = B * sin_sigma * (
        cos2sm
        + B / 4.0 * (
            cos_sigma * (-1.0 + 2.0 * cos2sm**2)
            - B / 6.0 * cos2sm * (-3.0 + 4.0 * sin_sigma**2) * (-3.0 + 4.0 * cos2sm**2)
        )
    )
    dist = b * A * (sigma - delta_sigma)

    same = (lon1 == lon2) & (lat1 == lat2)
    dist = np.where(same, 0.0, dist)
    # non-converged (nearly antipodal, where Vincenty's inverse lambda
    # iteration diverges): solve each pair exactly by shooting with the
    # ALWAYS-convergent Vincenty direct problem (scalar loop — these
    # pairs are vanishingly rare in trajectory data)
    if active.any():
        # atleast_1d: scalar inputs make the mask 0-d, and 0-d nonzero
        # is an error on numpy >= 2.0
        bad = np.nonzero(np.atleast_1d(active & ~same))
        flat = dist.copy() if dist.shape else np.atleast_1d(dist).copy()
        lo1, la1 = np.broadcast_to(lon1, flat.shape), np.broadcast_to(lat1, flat.shape)
        lo2, la2 = np.broadcast_to(lon2, flat.shape), np.broadcast_to(lat2, flat.shape)
        for idx in zip(*bad):
            flat[idx] = _geodesic_antipodal(
                float(lo1[idx]), float(la1[idx]), float(lo2[idx]), float(la2[idx])
            )
        dist = flat if dist.shape else flat[0]
    return dist


def _vincenty_direct(lat1, lon1, alpha1, s):
    """WGS84 direct problem (scalar, radians): from (lat1, lon1) with
    initial azimuth alpha1 travel s meters; return (lat2, lon2). The
    direct sigma iteration converges for all inputs (standard Vincenty
    1975 formulation — public domain formulas)."""
    a, f = WGS84_A, WGS84_F
    b = a * (1.0 - f)
    U1 = math.atan((1.0 - f) * math.tan(lat1))
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    sina1, cosa1 = math.sin(alpha1), math.cos(alpha1)
    sigma1 = math.atan2(math.tan(U1), cosa1)
    sin_alpha = cosU1 * sina1
    cos_sq_alpha = 1.0 - sin_alpha * sin_alpha
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    A = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    sigma = s / (b * A)
    for _ in range(200):
        two_sm = 2.0 * sigma1 + sigma
        cos2sm = math.cos(two_sm)
        sin_s, cos_s = math.sin(sigma), math.cos(sigma)
        d_sigma = B * sin_s * (
            cos2sm
            + B / 4.0 * (
                cos_s * (-1.0 + 2.0 * cos2sm * cos2sm)
                - B / 6.0 * cos2sm * (-3.0 + 4.0 * sin_s * sin_s) * (-3.0 + 4.0 * cos2sm * cos2sm)
            )
        )
        new_sigma = s / (b * A) + d_sigma
        if abs(new_sigma - sigma) < 1e-14:
            sigma = new_sigma
            break
        sigma = new_sigma
    two_sm = 2.0 * sigma1 + sigma
    cos2sm = math.cos(two_sm)
    sin_s, cos_s = math.sin(sigma), math.cos(sigma)
    tmp = sinU1 * sin_s - cosU1 * cos_s * cosa1
    lat2 = math.atan2(
        sinU1 * cos_s + cosU1 * sin_s * cosa1,
        (1.0 - f) * math.sqrt(sin_alpha * sin_alpha + tmp * tmp),
    )
    lam = math.atan2(sin_s * sina1, cosU1 * cos_s - sinU1 * sin_s * cosa1)
    C = f / 16.0 * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
    L = lam - (1.0 - C) * f * sin_alpha * (
        sigma + C * sin_s * (cos2sm + C * cos_s * (-1.0 + 2.0 * cos2sm * cos2sm))
    )
    return lat2, lon1 + L


_HALF_MERIDIAN = 20003931.458623  # 2x WGS84 quarter meridian


def _antipodal_newton(p1lat, p1lon, p2lat, p2lon, alpha, s, iters=60):
    """One 2-D Newton shoot on (azimuth, distance) with the direct
    problem from the given seed. Returns (converged, s, landing_err_rad)
    for the closest landing reached."""
    best_err, best_s = float("inf"), s
    for _ in range(iters):
        glat, glon = _vincenty_direct(p1lat, p1lon, alpha, s)
        e_lat = glat - p2lat
        e_lon = math.remainder(glon - p2lon, 2.0 * math.pi)
        err = math.hypot(e_lat, e_lon)
        if err < best_err:
            best_err, best_s = err, s
        if abs(e_lat) < 1e-11 and abs(e_lon) < 1e-11:
            return True, s, err
        # finite-difference Jacobian of (lat2, lon2) wrt (alpha, s)
        da, ds = 1e-7, 1.0
        la_a, lo_a = _vincenty_direct(p1lat, p1lon, alpha + da, s)
        la_s, lo_s = _vincenty_direct(p1lat, p1lon, alpha, s + ds)
        j00 = (la_a - glat) / da
        j01 = (la_s - glat) / ds
        j10 = math.remainder(lo_a - glon, 2.0 * math.pi) / da
        j11 = math.remainder(lo_s - glon, 2.0 * math.pi) / ds
        det = j00 * j11 - j01 * j10
        if det == 0.0 or not math.isfinite(det):
            break
        step_a = (j11 * e_lat - j01 * e_lon) / det
        step_s = (-j10 * e_lat + j00 * e_lon) / det
        # damp: antipodal Jacobians are ill-conditioned far from a root
        step_a = max(-0.5, min(0.5, step_a))
        step_s = max(-2e6, min(2e6, step_s))
        alpha -= step_a
        s -= step_s
        if s <= 0.0:
            s = 1000.0
    return False, best_s, best_err


def _geodesic_antipodal(lon1, lat1, lon2, lat2):
    """Distance for a nearly antipodal pair (degrees in, meters out):
    2-D Newton shooting on (azimuth, distance) with the direct problem,
    multi-seeded in azimuth (antipodal inverse problems have multiple
    geodesics; keep the shortest root that lands on the target). Landing
    tolerance 1e-11 rad (~0.1 mm), so the returned s inherits the direct
    solver's accuracy.

    Every path is ellipsoidal: if the first 8 seeds all diverge, the
    seeding densifies (64 azimuths x 3 distance scales), and the final
    resort returns the best-landing candidate from the densest sweep —
    distance error bounded by the landing miss, still orders of
    magnitude tighter than the spherical approximation this used to
    fall back to (haversine is up to ~11 km off near antipodes)."""
    p1lat, p1lon = math.radians(lat1), math.radians(lon1)
    p2lat, p2lon = math.radians(lat2), math.radians(lon2)

    def sweep(n_alpha, s_scales, iters=60):
        best, best_near, near_err = None, None, float("inf")
        for k in range(n_alpha):
            for sc in s_scales:
                ok, s, err = _antipodal_newton(
                    p1lat, p1lon, p2lat, p2lon,
                    (k + 0.5) * math.pi / n_alpha * 2.0, _HALF_MERIDIAN * sc,
                    iters,
                )
                if ok and (best is None or s < best):
                    best = s
                if not ok and err < near_err:
                    near_err, best_near = err, s
        return best, best_near, near_err

    best, _, _ = sweep(8, (1.0,))
    if best is None:
        best, _, _ = sweep(64, (0.99, 1.0, 1.01))
    if best is None:
        best, near, err = sweep(512, (0.995, 1.0, 1.005), iters=80)
        if best is None:
            best = near  # landing miss err rad ~ err * R meters of s error
    return best


def azimuth(x1, y1, x2, y2):
    """Planar bearing, degrees [0, 360) (geometry_utils.py:158-168)."""
    ang = np.degrees(np.arctan2(np.asarray(x2) - x1, np.asarray(y2) - y1))
    return np.where(ang < 0.0, ang + 360.0, ang)


def angular_difference(d1, d2):
    """Smaller angle between two headings, degrees [0, 180] (geometry_utils.py:171-178)."""
    diff = np.abs(np.asarray(d1, dtype=np.float64) - np.asarray(d2, dtype=np.float64))
    return np.where(diff > 180.0, np.abs(diff - 360.0), diff)


# --------------------------------------------------------------------------
# EPSG:3395 World Mercator (WGS84 ellipsoid)
# --------------------------------------------------------------------------

_WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
_WGS84_E = float(np.sqrt(_WGS84_E2))


def mercator_forward(lon_deg, lat_deg):
    """EPSG:3395 forward projection: (lon, lat) degrees -> (x, y) meters.

    x = a*lambda; y = a*(atanh(sin phi) - e*atanh(e*sin phi)) — the
    ellipsoidal Mercator in closed atanh form (equivalent to Snyder
    1987 eq. 7-7's log/tan form). This is the metric frame the
    reference's KalmanSmootherCV filters latlon trajectories in
    (trajectory_smoother.py:197-233 reprojects through EPSG:3395
    before smoothing and back after).

    Outside the latitude domain (lat NaN or |lat| >= 90) both
    coordinates are NaN, as crs.mercator_xy_exprs gives null: y has no
    finite value at the poles, and past them sin() would fold 91 onto 89."""
    lat = np.asarray(lat_deg, dtype=np.float64)
    inside = np.abs(lat) < 90.0
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    s = np.sin(np.radians(np.where(inside, lat, 0.0)))
    x = np.where(inside, WGS84_A * lon, np.nan)
    y = np.where(inside, WGS84_A * (np.arctanh(s) - _WGS84_E * np.arctanh(_WGS84_E * s)), np.nan)
    return x, y


def mercator_inverse(x, y, iterations=12):
    """EPSG:3395 inverse projection: (x, y) meters -> (lon, lat) degrees.

    Fixed-point iteration on sin(phi) = tanh(psi + e*atanh(e*sin(phi)))
    where psi = y/a is the isometric latitude; the contraction factor is
    e^2 ~ 0.0067 per step, so 12 iterations converge far below double
    precision. Round-trips mercator_forward to < 1e-12 degrees."""
    lon = np.degrees(np.asarray(x, dtype=np.float64) / WGS84_A)
    psi = np.asarray(y, dtype=np.float64) / WGS84_A
    s = np.tanh(psi)
    for _ in range(iterations):
        s = np.tanh(psi + _WGS84_E * np.arctanh(_WGS84_E * s))
    lat = np.degrees(np.arcsin(s))
    return lon, lat


# --------------------------------------------------------------------------
# hulls / rectangles
# --------------------------------------------------------------------------


def convex_hull(xy: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull; returns hull vertices CCW, (k,2).

    Backs get_mcp (trajectory.py:1731-1744) and mrr_diagonal.
    Collinear inputs return the two extreme points.

    The chain walks Python floats: the turn test is the 2-D cross
    product (ax-ox)*(py-oy) - (ay-oy)*(px-ox), the exact operation
    sequence of np.cross on 2-vectors (two rounded products, one
    rounded difference, no FMA), so the hull is bit-identical to the
    np.cross formulation. np.cross on 2-element arrays costs ~30 us of
    axis handling per call, which dominated stop detection.
    """
    pts = np.unique(np.asarray(xy, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            px, py = p
            while len(out) >= 2:
                (ox, oy), (ax, ay) = out[-2], out[-1]
                # pop on a clockwise or straight turn; NaN never pops
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    rows = pts.tolist()
    lower = half(rows)
    upper = half(rows[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 2:  # all identical
        return pts[:1]
    return hull


def mrr_diagonal(xy: np.ndarray, spherical: bool = False) -> float:
    """Diagonal length of the minimum rotated rectangle of a point set
    (geometry_utils.py:181-196): distance between opposite rect corners,
    geodesic when spherical. 2 points -> their distance; collinear ->
    distance between extreme points; <2 distinct -> 0.
    """
    xy = np.asarray(xy, dtype=np.float64)

    def _dist(p, q):
        if spherical:
            return float(geodesic(p[0], p[1], q[0], q[1]))
        return float(np.hypot(q[0] - p[0], q[1] - p[1]))

    if len(xy) == 2:
        # shapely MultiPoint of 2 -> measure_distance directly
        return _dist(xy[0], xy[1])
    hull = convex_hull(xy)
    if len(hull) == 1:
        return 0.0
    if len(hull) == 2:  # collinear -> LineString mrr branch
        return _dist(hull[0], hull[1])
    # rotating calipers: try each hull edge as rectangle orientation
    best_area = np.inf
    best_corners = None
    n = len(hull)
    for i in range(n):
        e = hull[(i + 1) % n] - hull[i]
        norm = np.hypot(e[0], e[1])
        if norm == 0.0:
            continue
        ux, uy = e / norm  # edge direction; normal = (-uy, ux)
        r = hull @ np.array([[ux, -uy], [uy, ux]])  # rotate into edge frame
        minx, miny = r.min(axis=0)
        maxx, maxy = r.max(axis=0)
        area = (maxx - minx) * (maxy - miny)
        if area < best_area:
            best_area = area
            inv = np.array([[ux, uy], [-uy, ux]])
            corners = np.array(
                [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]]
            ) @ inv
            best_corners = corners
    return _dist(best_corners[0], best_corners[2])


# --------------------------------------------------------------------------
# generalization kernels
# --------------------------------------------------------------------------


def dp_mask(xy: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas-Peucker keep-mask (stack-based, perpendicular distance).

    GEOS simplify(preserve_topology=False) semantics
    (trajectory_generalizer.py:189): output vertices are a subset of the
    input, so a keep-mask reproduces the reference row selection.

    The perpendicular distance spells out the 2-D cross product
    sx*(y-y0) - sy*(x-x0) of the chord (sx, sy), the exact operation
    sequence of np.cross(seg, mid - p0), so the distances and the mask
    are bit-identical to that form without its ~30 us per-call axis
    handling; chord endpoints are read as Python floats, since numpy
    scalar indexing costs more than the arithmetic.
    """
    xy = np.asarray(xy, dtype=np.float64)
    n = len(xy)
    x, y = xy[:, 0].copy(), xy[:, 1].copy()
    xl, yl = x.tolist(), y.tolist()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        x0, y0 = xl[i0], yl[i0]
        sx, sy = xl[i1] - x0, yl[i1] - y0
        seg_len = np.hypot(sx, sy)
        dx, dy = x[i0 + 1 : i1] - x0, y[i0 + 1 : i1] - y0
        if seg_len == 0.0:
            d = np.hypot(dx, dy)
        else:
            d = np.abs(sx * dy - sy * dx) / seg_len
        k = int(d.argmax())
        if d[k] > tolerance:
            j = i0 + 1 + k
            keep[j] = True
            stack.append((i0, j))
            stack.append((j, i1))
    return keep


def tdtr_mask(xy: np.ndarray, t_sec: np.ndarray, tolerance: float) -> np.ndarray:
    """Top-Down Time-Ratio keep-mask (Meratnia & de By 2004;
    trajectory_generalizer.py:208-277): each interior point is compared
    against its time-ratio projection onto the chord; split at the max
    deviation when it exceeds tolerance.
    """
    xy = np.asarray(xy, dtype=np.float64)
    t = np.asarray(t_sec, dtype=np.float64)
    n = len(xy)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        dt = t[i1] - t[i0]
        mid_t = t[i0 + 1 : i1]
        ratio = np.zeros_like(mid_t) if dt == 0.0 else (mid_t - t[i0]) / dt
        proj = xy[i0] + ratio[:, None] * (xy[i1] - xy[i0])
        d = np.hypot(*(xy[i0 + 1 : i1] - proj).T)
        k = int(np.argmax(d))
        if d[k] > tolerance:
            j = i0 + 1 + k
            keep[j] = True
            stack.append((i0, j))
            stack.append((j, i1))
    return keep


def hausdorff(a: np.ndarray, b: np.ndarray) -> float:
    """Discrete Hausdorff distance between two vertex sets
    (trajectory.py:1587-1627; shapely's hausdorff_distance is
    vertex-discrete, so this matches for vertex-defined linestrings).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    d = np.hypot(a[:, None, 0] - b[None, :, 0], a[:, None, 1] - b[None, :, 1])
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


# --------------------------------------------------------------------------
# polygon kernels
# --------------------------------------------------------------------------


def _ray_cast_ring(px: np.ndarray, py: np.ndarray, poly: np.ndarray):
    """Even-odd ray cast against ONE ring -> (inside, on_edge) masks."""
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    x0 = poly[:, 0]
    y0 = poly[:, 1]
    x1 = np.roll(x0, -1)
    y1 = np.roll(y0, -1)

    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    for i in range(len(poly)):
        xa, ya, xb, yb = x0[i], y0[i], x1[i], y1[i]
        cond = (ya > py) != (yb > py)
        # a near-horizontal edge can overflow xint to +-inf for rows
        # outside its y-span; cond masks those rows out. An infinite
        # point makes cross inf or NaN, which is never within tolerance.
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = xa + (py - ya) * (xb - xa) / np.where(yb == ya, 1.0, (yb - ya))
            # on-segment check (shapely intersects counts boundary)
            cross = (xb - xa) * (py - ya) - (yb - ya) * (px - xa)
        inside ^= cond & (px < xint)
        within = (
            (np.abs(cross) < 1e-12)
            & (px >= np.minimum(xa, xb) - 1e-12)
            & (px <= np.maximum(xa, xb) + 1e-12)
            & (py >= np.minimum(ya, yb) - 1e-12)
            & (py <= np.maximum(ya, yb) + 1e-12)
        )
        on_edge |= within
    return inside, on_edge


def point_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray, holes=None) -> np.ndarray:
    """Vectorized ray-casting point-in-polygon (boundary counts as inside
    via the even-odd rule with on-edge tolerance). poly is (k,2), closed
    or open ring. Backs overlay.py:155-168 (df.intersects(polygon)).

    holes: optional list of interior rings (shapely interiors). The
    even-odd rule extends naturally: XOR the crossing parity over every
    ring, so a point inside a hole flips back to outside; a point ON a
    hole boundary still counts as inside (shapely semantics)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside, on_edge = _ray_cast_ring(px, py, poly)
    for hole in holes or []:
        h_in, h_edge = _ray_cast_ring(px, py, hole)
        inside ^= h_in
        on_edge |= h_edge
    return inside | on_edge


def point_segment_dist(px, py, ax, ay, bx, by):
    """Vectorized distance from point(s) (px,py) to segment(s) (a->b):
    clamp the projection parameter to [0,1], measure to the closest
    point. Degenerate segments (a==b) fall back to point distance."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(len2 > 0, ((px - ax) * dx + (py - ay) * dy) / np.where(len2 == 0, 1.0, len2), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    return np.sqrt((px - cx) ** 2 + (py - cy) ** 2)


def point_polyline_dist(px, py, line: np.ndarray):
    """Vectorized min distance from point(s) to a polyline's segments
    (single-vertex polylines degrade to point distance)."""
    line = np.asarray(line, dtype=np.float64)
    if len(line) == 1:
        return np.sqrt((np.asarray(px, float) - line[0, 0]) ** 2 + (np.asarray(py, float) - line[0, 1]) ** 2)
    best = None
    for i in range(len(line) - 1):
        d = point_segment_dist(px, py, line[i, 0], line[i, 1], line[i + 1, 0], line[i + 1, 1])
        best = d if best is None else np.minimum(best, d)
    return best


def _segments_cross(a0, a1, b0, b1) -> bool:
    """Do segments a0->a1 and b0->b1 intersect (touching counts)?"""
    ax, ay = a0
    bx, by = a1
    px, py = b0
    qx, qy = b1
    d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    d2 = (bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
    d3 = (qx - px) * (ay - py) - (qy - py) * (ax - px)
    d4 = (qx - px) * (by - py) - (qy - py) * (bx - px)
    if d1 * d2 <= 0 and d3 * d4 <= 0:
        # bbox overlap rejects collinear-but-disjoint
        return (
            min(ax, bx) <= max(px, qx)
            and max(ax, bx) >= min(px, qx)
            and min(ay, by) <= max(py, qy)
            and max(ay, by) >= min(py, qy)
        )
    return False


def polyline_min_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Minimum distance between two polylines (shapely
    LineString.distance semantics — 0 when they intersect; otherwise the
    minimum is attained at a vertex of one line against the other).
    Backs Trajectory.distance (reference trajectory.py:1548-1586)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    for i in range(max(1, len(a) - 1)):
        i1 = min(i + 1, len(a) - 1)
        for j in range(max(1, len(b) - 1)):
            j1 = min(j + 1, len(b) - 1)
            if _segments_cross(a[i], a[i1], b[j], b[j1]):
                return 0.0
    d1 = point_polyline_dist(a[:, 0], a[:, 1], b).min()
    d2 = point_polyline_dist(b[:, 0], b[:, 1], a).min()
    return float(min(d1, d2))


def discrete_hausdorff_line(a: np.ndarray, b: np.ndarray) -> float:
    """GEOS-style discrete Hausdorff distance between two polylines:
    max over the VERTICES of each line of the distance to the other
    LINE (vertex-to-segment, not vertex-to-vertex — matching shapely's
    hausdorff_distance). Backs Trajectory.hausdorff_distance
    (reference trajectory.py:1587-1627)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    d1 = point_polyline_dist(a[:, 0], a[:, 1], b).max()
    d2 = point_polyline_dist(b[:, 0], b[:, 1], a).max()
    return float(max(d1, d2))
