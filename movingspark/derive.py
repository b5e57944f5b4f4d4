"""Derived-column window transforms (SURVEY.md §2.5, D1-D7).

Every derived column is a 1-row-lookback window over the time-ordered
trajectory: W = Window.partitionBy(traj_id).orderBy(t). All planar math
is pure Spark SQL (whole-stage codegen, no Python); only the geodesic
distance for lat/lon data drops into an Arrow-batched pandas UDF.

First-row boundary rules (reference trajectory.py):
- timedelta: null        (trajectory.py:1480-1484)
- distance:  0.0         (trajectory.py:1496-1498)
- speed:     = 2nd row   (trajectory.py:1513-1514)
- direction: = 2nd row   (trajectory.py:1195-1196)
- angular_difference: 0  (trajectory.py:1234-1235)
- acceleration: = 2nd row (trajectory.py:1528-1529)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import kernels, pyworker, schema
from movingspark.schema import PointCols, TRAJ_COLS
from movingspark.units import get_conversion


def traj_window(cols: PointCols = TRAJ_COLS):
    return Window.partitionBy(cols.traj_id).orderBy(cols.t)


# ---------------------------------------------------------------------------
# distance expressions
# ---------------------------------------------------------------------------


def euclidean_expr(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Planar distance in CRS units — JVM-side, codegen'd."""
    return F.sqrt(F.pow(x2 - x1, F.lit(2)) + F.pow(y2 - y1, F.lit(2)))


def haversine_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Spherical distance (R=6371000 m) as a pure column expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dlat / 2), F.lit(2)) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin(dlon / 2), F.lit(2)
    )
    return F.lit(2.0 * schema.R_EARTH) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


@F.pandas_udf(T.DoubleType())
def _geodesic_udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    pyworker.prepare()
    out = kernels.geodesic(
        lon1.to_numpy(float), lat1.to_numpy(float), lon2.to_numpy(float), lat2.to_numpy(float)
    )
    return pd.Series(out)


def geodesic_expr(lon1, lat1, lon2, lat2) -> Column:
    """WGS84 geodesic distance in meters (Arrow-batched Vincenty kernel)."""
    return _geodesic_udf(lon1, lat1, lon2, lat2)


def dist_expr(x1, y1, x2, y2, latlon: bool = False) -> Column:
    """measure_distance dispatch (geometry_utils.py:88-99): geodesic
    meters when the CRS is geographic, Euclidean CRS units otherwise."""
    return geodesic_expr(x1, y1, x2, y2) if latlon else euclidean_expr(x1, y1, x2, y2)


def bearing_expr(x1, y1, x2, y2, latlon: bool = False) -> Column:
    """Compass bearing (geometry_utils.py:126-155) or planar azimuth
    (geometry_utils.py:158-168); identical points -> 0 handled by caller."""
    if latlon:
        dlon = F.radians(x2 - x1)
        la1, la2 = F.radians(y1), F.radians(y2)
        xx = F.sin(dlon) * F.cos(la2)
        yy = F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dlon)
        return (F.degrees(F.atan2(xx, yy)) + 360.0) % 360.0
    ang = F.degrees(F.atan2(x2 - x1, y2 - y1))
    return F.when(ang < 0, ang + 360.0).otherwise(ang)


def angular_difference_expr(d1: Column, d2: Column) -> Column:
    """Fold |d1-d2| into [0, 180] (geometry_utils.py:171-178)."""
    diff = F.abs(d1 - d2)
    return F.least(diff, F.lit(360.0) - diff)


# ---------------------------------------------------------------------------
# D1-D7 transforms
# ---------------------------------------------------------------------------


def _first_row_patch(df: DataFrame, name: str, cols: PointCols, mode: str) -> DataFrame:
    """Apply the reference first-row rule to a freshly computed window col."""
    w = traj_window(cols)
    rn = F.row_number().over(w)
    if mode == "second":
        patched = F.when(rn == 1, F.lead(name, 1).over(w)).otherwise(F.col(name))
    elif mode == "zero":
        patched = F.when(rn == 1, F.lit(0.0)).otherwise(F.col(name))
    elif mode == "null":
        return df
    else:  # pragma: no cover
        raise ValueError(mode)
    return df.withColumn(name, patched)


def add_timedelta(df: DataFrame, name: str = schema.TIMEDELTA, cols: PointCols = TRAJ_COLS) -> DataFrame:
    """D1: seconds since previous observation; first row null
    (trajectory.py:1456-1484; emitted as double seconds, not interval)."""
    w = traj_window(cols)
    t_us = F.unix_micros(F.col(cols.t))
    return df.withColumn(name, (t_us - F.lag(t_us).over(w)) / F.lit(1_000_000.0))


def add_distance(
    df: DataFrame,
    name: str = schema.DISTANCE,
    units=None,
    latlon: bool = False,
    crs_units=None,
    cols: PointCols = TRAJ_COLS,
) -> DataFrame:
    """D2: distance from previous point; first row 0 (trajectory.py:1240-1302)."""
    conv = get_conversion(units, crs_units)
    w = traj_window(cols)
    px, py = F.lag(cols.x).over(w), F.lag(cols.y).over(w)
    d = dist_expr(px, py, F.col(cols.x), F.col(cols.y), latlon)
    d = d * F.lit(conv.crs / conv.distance)
    return df.withColumn(name, F.coalesce(d, F.lit(0.0)))


def add_speed(
    df: DataFrame,
    name: str = schema.SPEED,
    units=None,
    latlon: bool = False,
    crs_units=None,
    cols: PointCols = TRAJ_COLS,
) -> DataFrame:
    """D3: distance/Δt·conv; first row copies the second row's value
    (trajectory.py:1304-1374, 1502-1516)."""
    conv = get_conversion(units, crs_units)
    w = traj_window(cols)
    px, py = F.lag(cols.x).over(w), F.lag(cols.y).over(w)
    dt = (F.unix_micros(F.col(cols.t)) - F.lag(F.unix_micros(F.col(cols.t))).over(w)) / 1_000_000.0
    d = dist_expr(px, py, F.col(cols.x), F.col(cols.y), latlon) * F.lit(conv.crs / conv.distance)
    df = df.withColumn(name, d / dt * F.lit(conv.time))
    return _first_row_patch(df, name, cols, "second")


def add_direction(
    df: DataFrame,
    name: str = schema.DIRECTION,
    latlon: bool = False,
    cols: PointCols = TRAJ_COLS,
) -> DataFrame:
    """D4: bearing from previous point; identical points -> 0; first row
    copies the second row (trajectory.py:1169-1198)."""
    w = traj_window(cols)
    px, py = F.lag(cols.x).over(w), F.lag(cols.y).over(w)
    same = (px == F.col(cols.x)) & (py == F.col(cols.y))
    b = bearing_expr(px, py, F.col(cols.x), F.col(cols.y), latlon)
    df = df.withColumn(name, F.when(same, F.lit(0.0)).otherwise(b))
    return _first_row_patch(df, name, cols, "second")


def add_angular_difference(
    df: DataFrame,
    name: str = schema.ANGULAR_DIFFERENCE,
    latlon: bool = False,
    cols: PointCols = TRAJ_COLS,
) -> DataFrame:
    """D5: |Δ direction| folded to [0,180]; first row 0
    (trajectory.py:1200-1238). Reuses an existing `direction` column if
    present (same rule as the reference), else derives one on the fly."""
    w = traj_window(cols)
    tmp = schema.DIRECTION in df.columns
    if not tmp:
        df = add_direction(df, schema.DIRECTION, latlon=latlon, cols=cols)
    prev = F.lag(schema.DIRECTION).over(w)
    diff = angular_difference_expr(prev, F.col(schema.DIRECTION))
    df = df.withColumn(name, F.coalesce(diff, F.lit(0.0)))
    if not tmp:
        df = df.drop(schema.DIRECTION)
    return df


def add_acceleration(
    df: DataFrame,
    name: str = schema.ACCELERATION,
    units=None,
    latlon: bool = False,
    crs_units=None,
    cols: PointCols = TRAJ_COLS,
) -> DataFrame:
    """D6: Δspeed/Δt·time2conv; first row copies the second row
    (trajectory.py:1376-1454, 1518-1530). Reuses an existing `speed`
    column when present, matching the reference."""
    conv = get_conversion(units, crs_units)
    w = traj_window(cols)
    has_speed = schema.SPEED in df.columns
    if not has_speed:
        df = add_speed(df, schema.SPEED, units=units, latlon=latlon, crs_units=crs_units, cols=cols)
    dt = (F.unix_micros(F.col(cols.t)) - F.lag(F.unix_micros(F.col(cols.t))).over(w)) / 1_000_000.0
    acc = (F.col(schema.SPEED) - F.lag(schema.SPEED).over(w)) / dt * F.lit(conv.time2)
    df = df.withColumn(name, acc)
    df = _first_row_patch(df, name, cols, "second")
    if not has_speed:
        df = df.drop(schema.SPEED)
    return df


def add_all_kinematics(df: DataFrame, latlon: bool = False, cols: PointCols = TRAJ_COLS) -> DataFrame:
    """Convenience: timedelta + distance + speed + direction + angular
    difference + acceleration in one pass (single shuffle on traj_id)."""
    df = add_timedelta(df, cols=cols)
    df = add_distance(df, latlon=latlon, cols=cols)
    df = add_speed(df, latlon=latlon, cols=cols)
    df = add_direction(df, latlon=latlon, cols=cols)
    df = add_angular_difference(df, latlon=latlon, cols=cols)
    df = add_acceleration(df, latlon=latlon, cols=cols)
    return df


def apply_offset_minutes(df: DataFrame, column: str, offset: int, cols: PointCols = TRAJ_COLS) -> DataFrame:
    """D7 minutes variant (trajectory.py:1696-1707) — alias of
    apply_offset_seconds with a 60x factor."""
    return apply_offset_seconds(df, column, int(offset) * 60, cols=cols)


def apply_offset_seconds(df: DataFrame, column: str, offset: int, cols: PointCols = TRAJ_COLS) -> DataFrame:
    """D7 (trajectory.py:1683-1707): shift a column's values backward
    along the time axis by `offset` seconds — the value at time t becomes
    the value that was observed at t+offset (pandas shift(-offset, freq)
    semantics, realized as a time-keyed self-join to avoid assuming a
    regular sampling interval)."""
    shifted = df.select(
        F.col(cols.traj_id).alias("__tid"),
        (F.unix_micros(F.col(cols.t)) - F.lit(int(offset) * 1_000_000)).alias("__t_us2"),
        F.col(column).alias("__shifted"),
    )
    out = (
        df.withColumn("__t_us", F.unix_micros(F.col(cols.t)))
        .join(
            shifted,
            on=[
                F.col(cols.traj_id) == F.col("__tid"),
                F.col("__t_us") == F.col("__t_us2"),
            ],
            how="left",
        )
        .drop("__tid", "__t_us", "__t_us2")
        .withColumn(column, F.col("__shifted"))
        .drop("__shifted")
    )
    return out
