"""CRS reprojection — the reference's `to_crs` analogue, restricted to
the projection pair the reference's own operators exercise:
EPSG:4326 (lon/lat degrees) <-> EPSG:3395 (World Mercator meters).

The reference gets general CRS support free from geopandas/pyproj
(trajectory.py:176-192 resolves CRS; KalmanSmootherCV reprojects
through EPSG:3395, trajectory_smoother.py:197-233). A Spark engine
cannot ship pyproj into every executor for a 100 TB map stage, so this
module implements the pair as PURE CATALYST column expressions —
sin/ln/exp/asin are whole-stage-codegen JVM intrinsics, making
reprojection a zero-shuffle, zero-Python narrow map.

Formulas (Snyder 1987, ellipsoidal Mercator, WGS84):
  forward: x = a*radians(lon)
           y = a*(atanh(s) - e*atanh(e*s)),  s = sin(radians(lat))
  inverse: lon = degrees(x/a); sin(lat) solves the fixed point
           s = tanh(psi + e*atanh(e*s)),     psi = y/a
atanh/tanh are spelled in ln/exp form so the DuckDB oracle can run the
IDENTICAL textual formula (this DuckDB build has neither atanh nor
tanh). The inverse unrolls 4 fixed-point steps, each materialized as
its own projection column: the contraction factor is e^2 ~ 0.0067, so
4 steps converge to ~1e-11 rad (far below any rounding the oracle
applies), and per-column materialization keeps Catalyst from inlining
the non-cheap exp/ln chains 4^k times (CollapseProject refuses to
collapse multiply-referenced non-cheap expressions — asserted by
tests/test_crs.py's single-evaluation plan check).

numpy twins for the Arrow path live in kernels.mercator_forward /
mercator_inverse (used by the Kalman smoother); tests pin the two
implementations together.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from movingspark.schema import WGS84_A, WGS84_F

_E2 = WGS84_F * (2.0 - WGS84_F)
_E = math.sqrt(_E2)
_INVERSE_ITERS = 4


def _atanh(z: Column, scale: float = 1.0) -> Column:
    """atanh(scale*z) as 0.5*ln((1+scale*z)/(1-scale*z)) — the ln form
    shared verbatim with the DuckDB oracle."""
    sz = z * F.lit(scale)
    return F.lit(0.5) * F.log((F.lit(1.0) + sz) / (F.lit(1.0) - sz))


def _tanh(z: Column) -> Column:
    """tanh(z) as (exp(2z)-1)/(exp(2z)+1) — ln/exp form shared with the
    oracle. psi stays within ~|3.2| for |lat| <= 85, so exp(2z) cannot
    overflow."""
    e2z = F.exp(F.lit(2.0) * z)
    return (e2z - F.lit(1.0)) / (e2z + F.lit(1.0))


def mercator_xy_exprs(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:3395 forward as two pure-codegen column expressions. Both
    are null where lat is null, NaN or |lat| >= 90: the projection has
    no finite y there, and a null keeps Inf out of every downstream
    sum, distance and rounding."""
    ok = ~F.isnan(lat) & (F.abs(lat) < F.lit(90.0))
    s = F.sin(F.radians(lat))
    x = F.when(ok, F.lit(WGS84_A) * F.radians(lon))
    y = F.when(ok, F.lit(WGS84_A) * (_atanh(s) - F.lit(_E) * _atanh(s, _E)))
    return x, y


def to_mercator(
    df: DataFrame,
    lon_col: str = "x",
    lat_col: str = "y",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Reproject lon/lat degree columns to EPSG:3395 meters in place
    (or into new columns). Narrow map, no shuffle, no Python."""
    x, y = mercator_xy_exprs(F.col(lon_col), F.col(lat_col))
    return df.withColumns({x_col: x, y_col: y})


def from_mercator(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    lon_col: str = "x",
    lat_col: str = "y",
) -> DataFrame:
    """Inverse EPSG:3395: meter columns back to lon/lat degrees.

    The latitude fixed point runs _INVERSE_ITERS unrolled steps, one
    materialized column per step (see module docstring for why)."""
    psi = (F.col(y_col) / F.lit(WGS84_A)).alias("__psi")
    out = df.withColumn("__psi", psi)
    out = out.withColumn("__s0", _tanh(F.col("__psi")))
    prev = "__s0"
    for i in range(1, _INVERSE_ITERS + 1):
        out = out.withColumn(
            f"__s{i}",
            _tanh(F.col("__psi") + F.lit(_E) * _atanh(F.col(prev), _E)),
        )
        prev = f"__s{i}"
    lon = F.degrees(F.col(x_col) / F.lit(WGS84_A))
    lat = F.degrees(F.asin(F.col(prev)))
    return out.withColumns({lon_col: lon, lat_col: lat}).drop(
        "__psi", *[f"__s{i}" for i in range(_INVERSE_ITERS + 1)]
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins — the same ln/exp spelling, kept in lock-step
# ---------------------------------------------------------------------------


def _atanh_sql(z: str, scale: float = 1.0) -> str:
    sz = z if scale == 1.0 else f"({scale!r} * {z})"
    return f"(0.5 * LN((1.0 + {sz}) / (1.0 - {sz})))"


def _tanh_sql(z: str) -> str:
    return f"((EXP(2.0 * {z}) - 1.0) / (EXP(2.0 * {z}) + 1.0))"


def mercator_xy_sql(lon: str, lat: str) -> tuple[str, str]:
    ok = f"(NOT ISNAN({lat}) AND ABS({lat}) < 90.0)"
    s = f"SIN(RADIANS({lat}))"
    x = f"CASE WHEN {ok} THEN {WGS84_A!r} * RADIANS({lon}) END"
    y = f"CASE WHEN {ok} THEN {WGS84_A!r} * ({_atanh_sql(s)} - {_E!r} * {_atanh_sql(s, _E)}) END"
    return x, y


def mercator_inverse_sql_ctes(x: str, y: str, src: str) -> tuple[str, str, str]:
    """(ctes, lon_expr, lat_expr): chained CTEs computing the unrolled
    fixed point over relation `src`, mirroring from_mercator step for
    step. The caller appends the CTE chain and selects from the last."""
    steps = [f"__m0 AS (SELECT *, {y} / {WGS84_A!r} AS __psi FROM {src})"]
    steps.append(f"__m1 AS (SELECT *, {_tanh_sql('__psi')} AS __s0 FROM __m0)")
    prev = "__s0"
    for i in range(1, _INVERSE_ITERS + 1):
        z = f"(__psi + {_E!r} * {_atanh_sql(prev, _E)})"
        steps.append(f"__m{i + 1} AS (SELECT *, {_tanh_sql(z)} AS __s{i} FROM __m{i})")
        prev = f"__s{i}"
    lon = f"DEGREES({x} / {WGS84_A!r})"
    lat = f"DEGREES(ASIN({prev}))"
    return ",\n".join(steps), lon, lat
