"""KalmanSmootherCV (X15, reference trajectory_smoother.py:87-233).

Constant-velocity Kalman filter + Rauch-Tung-Striebel smoother over
each trajectory, re-implemented in numpy (the reference delegates to
Stone Soup, an optional dependency): state [x, vx, y, vy], transition
F_dt = [[1, dt], [0, 1]] per axis, process noise = white-acceleration
model q * [[dt^3/3, dt^2/2], [dt^2/2, dt]], measurement = position
with variance r. Runs per trajectory as a grouped map (gmap).

Lat/lon trajectories are smoothed in the EPSG:3395 World Mercator
metric frame — the same projection the reference passes latlon
trajectories through before filtering and back after
(trajectory_smoother.py:197-233, df.to_crs("EPSG:3395") ... to_crs
back) — via kernels.mercator_forward/mercator_inverse, so the latlon
path carries the reference's semantics rather than a local
equirectangular approximation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from movingspark import gmap, kernels


def _kf_rts(zx: np.ndarray, zy: np.ndarray, dts: np.ndarray, q: float, r: float):
    """Kalman filter + RTS smoother over both axes of one trajectory.
    zx, zy: measurements; dts[i]: time delta from i-1 to i (dts[0]
    unused). Returns the smoothed (x, y) positions.

    Each axis is [pos, vel] with F = [[1, dt], [0, 1]] and H = [1, 0].
    The covariance and gain recursion depends only on dts, q and r, so
    it runs once and carries both axes' states. The loops run on Python
    floats because numpy's per-call cost on 2x2 operands is far above
    the arithmetic. Every matrix product is spelled out in the order
    numpy's matmul sums it (row times column, left to right, no FMA);
    the P_pred inverses are one stacked np.linalg.inv and the RTS gains
    one batched matmul, the same per-matrix LAPACK/BLAS calls. Terms
    with the 0 and 1 entries of F and H are folded away: they can only
    flip the sign of a zero, or turn a state already holding Inf into
    NaN one step earlier, when every output is NaN either way. So the
    output is bit-identical to the per-axis matrix formulation
    (F @ P @ F.T + Q, K = P H'/S, C = P F' inv(P_pred)).
    """
    n = len(zx)
    zx, zy, dts = zx.tolist(), zy.tolist(), dts.tolist()
    x0, x1, y0, y1 = zx[0], 0.0, zy[0], 0.0
    p00, p01, p10, p11 = r, 0.0, 0.0, r
    states = [(x0, x1, y0, y1)]  # filtered [x, vx, y, vy]
    preds = [(x0, x1, y0, y1)]  # predicted [x, vx, y, vy]
    covs = [(p00, p01, p10, p11)]  # filtered P
    pred_covs = []  # predicted P, steps 1..n-1
    steps = []
    for i in range(1, n):
        dt = max(dts[i], 1e-9)
        steps.append(dt)
        # x_pred = F x
        xp0, yp0 = x0 + dt * x1, y0 + dt * y1
        # P_pred = (F P) F' + Q
        a00, a01 = p00 + dt * p10, p01 + dt * p11
        qb = q * (dt**2 / 2)
        pp00 = (a00 + a01 * dt) + q * (dt**3 / 3)
        pp01 = a01 + qb
        pp10 = (p10 + p11 * dt) + qb
        pp11 = p11 + q * dt
        # K = P_pred H' / (H P_pred H' + r)
        s = pp00 + r
        k0, k1 = pp00 / s, pp10 / s
        ex, ey = zx[i] - xp0, zy[i] - yp0
        preds.append((xp0, x1, yp0, y1))
        x0, x1 = xp0 + k0 * ex, x1 + k1 * ex
        y0, y1 = yp0 + k0 * ey, y1 + k1 * ey
        # P = P_pred - K (H P_pred)
        p00, p01 = pp00 - k0 * pp00, pp01 - k0 * pp01
        p10, p11 = pp10 - k1 * pp00, pp11 - k1 * pp01
        states.append((x0, x1, y0, y1))
        covs.append((p00, p01, p10, p11))
        pred_covs.append((pp00, pp01, pp10, pp11))

    sx, sy = [0.0] * n, [0.0] * n
    sx[-1], sy[-1] = x0, y0
    if n > 1:
        # RTS gains C[i] = P[i] F[i+1]' inv(P_pred[i+1]), all at once
        F = np.zeros((n - 1, 2, 2))
        F[:, 0, 0] = F[:, 1, 1] = 1.0
        F[:, 0, 1] = steps
        P = np.array(covs[:-1]).reshape(-1, 2, 2)
        P_pred_inv = np.linalg.inv(np.array(pred_covs).reshape(-1, 2, 2))
        gains = (P @ F.transpose(0, 2, 1) @ P_pred_inv).reshape(-1, 4).tolist()
        for i in range(n - 2, -1, -1):
            c00, c01, c10, c11 = gains[i]
            xf0, xf1, yf0, yf1 = states[i]
            xp0, xp1, yp0, yp1 = preds[i + 1]
            dx0, dx1, dy0, dy1 = x0 - xp0, x1 - xp1, y0 - yp0, y1 - yp1
            x0, x1 = xf0 + (c00 * dx0 + c01 * dx1), xf1 + (c10 * dx0 + c11 * dx1)
            y0, y1 = yf0 + (c00 * dy0 + c01 * dy1), yf1 + (c10 * dy0 + c11 * dy1)
            sx[i], sy[i] = x0, y0
    return np.array(sx), np.array(sy)


def kalman_smooth(
    df: DataFrame,
    process_noise_std: float = 0.5,
    measurement_noise_std: float = 1.0,
    latlon: bool = False,
) -> DataFrame:
    """X15: replace x/y with CV-Kalman+RTS smoothed positions.

    With latlon=True the filter runs in EPSG:3395 meters
    (kernels.mercator_forward); a trajectory with a point at NaN or
    |lat| >= 90 has no Mercator position there and smooths to NaN,
    not +-Inf."""
    q = float(process_noise_std) ** 2
    r = float(measurement_noise_std) ** 2
    if not r > 0.0:
        raise ValueError(f"measurement_noise_std must be positive, got {measurement_noise_std!r}")

    def per_traj(g):
        rows = np.arange(len(g))
        if len(g) < 2:
            return rows, {}
        t = gmap.seconds(g["t"])
        dts = np.diff(t, prepend=t[0])
        x = np.asarray(g["x"], float)
        y = np.asarray(g["y"], float)
        if latlon:
            sx, sy = _kf_rts(*kernels.mercator_forward(x, y), dts, q, r)
            sx, sy = kernels.mercator_inverse(sx, sy)
        else:
            sx, sy = _kf_rts(x, y, dts, q, r)
        return rows, {"x": sx, "y": sy}

    return gmap.grouped_apply_sorted(df, per_traj, df.schema)
