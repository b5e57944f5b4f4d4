"""Trajectory cleaners (SURVEY.md §2.9 X13-X14).

IqrCleaner is pure window algebra (per-trajectory percentiles + filter).
OutlierCleaner carries the last-kept-point state and runs as a
grouped map (gmap).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movingspark import gmap, kernels, schema
from movingspark.units import get_conversion


def iqr_clean(df: DataFrame, columns: dict[str, float]) -> DataFrame:
    """X13 (trajectory_cleaner.py:59-109): drop rows where ANY listed
    column falls outside [q25 - a*IQR, q75 + a*IQR]; quantiles computed
    per trajectory with linear interpolation (pandas/Spark `percentile`)."""
    w = Window.partitionBy("traj_id")
    cond = F.lit(False)
    out = df
    for i, (column, alpha) in enumerate(columns.items()):
        q25 = F.percentile(column, F.lit(0.25)).over(w)
        q75 = F.percentile(column, F.lit(0.75)).over(w)
        out = out.withColumn(f"__q25_{i}", q25).withColumn(f"__q75_{i}", q75)
        iqr = F.col(f"__q75_{i}") - F.col(f"__q25_{i}")
        cond = cond | (F.col(column) > F.col(f"__q75_{i}") + alpha * iqr) | (
            F.col(column) < F.col(f"__q25_{i}") - alpha * iqr
        )
    out = out.filter(~cond)
    return out.drop(*[c for c in out.columns if c.startswith("__q")])


def outlier_clean(
    df: DataFrame,
    v_max: float | None = None,
    units=None,
    alpha: float = 3.0,
    latlon: bool = False,
) -> DataFrame:
    """X14 (trajectory_cleaner.py:112-172): walk rows in time order; drop
    a row when speed(last_kept -> row) > v_max, NOT advancing the kept
    point. Default v_max = q95(speed)*alpha per trajectory. If < 2 rows
    survive (invalid), the original trajectory is returned unchanged."""
    conv = get_conversion(units)

    def per_traj(g):
        keep = outlier_keep_mask(
            np.asarray(g["x"], float),
            np.asarray(g["y"], float),
            gmap.seconds(g["t"]),
            v_max, alpha, conv, latlon,
        )
        return np.flatnonzero(keep), {}

    return gmap.grouped_apply_sorted(df, per_traj, df.schema)


def outlier_keep_mask(x, y, t, v_max, alpha, conv, latlon) -> np.ndarray:
    """Keep-mask kernel for X14, including the invalid-result fallback
    (all-True when < 2 distinct-time rows survive). Module-level so the
    pinned-oracle generator runs the SAME code single-process."""
    n = len(x)

    def speed(i, j):
        if latlon:
            d = float(kernels.geodesic(x[i], y[i], x[j], y[j]))
        else:
            d = float(np.hypot(x[j] - x[i], y[j] - y[i]))
        d = d * conv.crs / conv.distance
        dt = t[j] - t[i]
        return d / dt * conv.time if dt > 0 else np.inf

    vmax = v_max
    if vmax is None:
        # reference: add_speed (first row copies second), q95 * alpha
        sp = np.empty(n)
        for i in range(1, n):
            sp[i] = speed(i - 1, i)
        sp[0] = sp[1] if n > 1 else 0.0
        vmax = float(np.quantile(sp, 0.95)) * alpha

    keep = np.ones(n, dtype=bool)
    prev = 0
    for i in range(1, n):
        if speed(prev, i) > vmax:
            keep[i] = False
            continue
        prev = i
    if keep.sum() < 2 or len(np.unique(t[keep])) < 2:
        return np.ones(n, dtype=bool)  # invalid -> original (trajectory_cleaner.py:160-170)
    return keep
