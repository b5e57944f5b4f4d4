"""Derived-column window transforms (SURVEY.md §2.5, D1-D7).

D1-D6 come from one private builder, `_kinematics`, over
W = Window.partitionBy(traj_id).orderBy(t), in at most two Window
nodes on one sort:

1. One window reads each row's raw neighbours: lag and lead of x, y, t
   and row_number. Every row owns one segment, from the previous row
   to itself; the first row, which has none, owns the second row's.
   Δt, distance, speed and direction are defined once over that
   segment, as projections; the geodesic UDF for lat/lon data is the
   one Python call, once per row.
2. Angular difference and acceleration also need the previous row's
   direction and speed (for the first row, the next row's speed): a
   lag/lead in one more window over W. Under latlon=True it is the one
   re-shuffle, after the Python eval.

Planar math is pure Spark SQL (whole-stage codegen, no Python). The
public add_* functions, add_all_kinematics and the split / queries /
ingest consumers are all calls into `_kinematics`.

First-row rules (reference trajectory.py) and where each lives:
- timedelta: null         (1480-1484)  masked by row_number
- distance:  0.0          (1496-1498)  masked by row_number
- speed:     = 2nd row    (1513-1514)  the first row's segment is the 2nd's
- direction: = 2nd row    (1195-1196)  the first row's segment is the 2nd's
- angular_difference: 0   (1234-1235)  no previous direction (lag is null)
- acceleration: = 2nd row (1528-1529)  first row: next speed minus its own
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import kernels, pyworker, schema
from movingspark.units import get_conversion


def traj_window():
    return Window.partitionBy("traj_id").orderBy("t")


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


@F.arrow_udf(T.DoubleType())
def _geodesic_udf(lon1: pa.Array, lat1: pa.Array, lon2: pa.Array, lat2: pa.Array) -> pa.Array:
    pyworker.prepare()
    cols = (c.to_numpy(zero_copy_only=False).astype(np.float64) for c in (lon1, lat1, lon2, lat2))
    out = kernels.geodesic(*cols)
    return pa.array(out, from_pandas=True)  # NaN -> null, as in gmap.map_batches


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


def _kinematics(
    df: DataFrame,
    outputs: dict,
    units=None,
    latlon: bool = False,
    crs_units=None,
) -> DataFrame:
    """Add the columns named in `outputs` (column name -> one of
    "timedelta", "timedelta_us", "distance", "speed", "direction",
    "angular_difference", "acceleration"), each replacing an input
    column of that name in place or appended in `outputs` order.

    Every row owns one segment: from the previous row to itself, and
    for the first row (which has none) the second row's. Δt, distance,
    speed and direction are defined once, over that segment, from one
    window's lag/lead of x, y, t and row_number; the geodesic UDF runs
    once per row. Angular difference and acceleration also read the
    previous (first row: next) row's direction or speed, a lag/lead in
    a second window over the same spec. They read an input `direction`
    / `speed` column instead when there is one and this call does not
    derive it (the reference's reuse rule).

    Only what the outputs need is built: every Column call is a round
    trip to the JVM, so an unused expression costs driver time even
    though Catalyst would prune it from the plan."""
    conv = get_conversion(units, crs_units)
    w = traj_window()
    kinds = set(outputs.values())
    # the reference reads the input columns named `speed`/`direction`
    reuse = {k: k in df.columns and k not in kinds for k in (schema.SPEED, schema.DIRECTION)}
    own_speed = "speed" in kinds or ("acceleration" in kinds and not reuse[schema.SPEED])
    own_direction = "direction" in kinds or ("angular_difference" in kinds and not reuse[schema.DIRECTION])
    own_dist = own_speed or "distance" in kinds

    raw = {"t": F.unix_micros(F.col("t"))}
    if own_dist or own_direction:
        raw.update(x=F.col("x"), y=F.col("y"))
    first = F.col("__k_first")
    seg = df.select(
        "*",
        (F.row_number().over(w) == 1).alias("__k_first"),
        *[F.lag(c).over(w).alias(f"__k_prev_{k}") for k, c in raw.items()],
        *[F.lead(c).over(w).alias(f"__k_next_{k}") for k, c in raw.items()],
    )
    start = {k: F.when(first, c).otherwise(F.col(f"__k_prev_{k}")) for k, c in raw.items()}
    end = {k: F.when(first, F.col(f"__k_next_{k}")).otherwise(c) for k, c in raw.items()}
    quantities = {"__k_dt_us": end["t"] - start["t"]}
    if own_dist:
        d = dist_expr(start["x"], start["y"], end["x"], end["y"], latlon)
        quantities["__k_dist"] = d * F.lit(conv.crs / conv.distance)
    if own_direction:
        same = (start["x"] == end["x"]) & (start["y"] == end["y"])
        b = bearing_expr(start["x"], start["y"], end["x"], end["y"], latlon)
        quantities["__k_direction"] = F.when(same, F.lit(0.0)).otherwise(b)
    seg = seg.withColumns(quantities)
    dt = F.col("__k_dt_us") / F.lit(1_000_000.0)
    if own_speed:
        seg = seg.withColumn("__k_speed", F.col("__k_dist") / dt * F.lit(conv.time))

    # second window: the neighbours' direction and speed
    direction = F.col(schema.DIRECTION if reuse[schema.DIRECTION] else "__k_direction")
    speed = F.col(schema.SPEED if reuse[schema.SPEED] else "__k_speed")
    if "angular_difference" in kinds:
        seg = seg.withColumn("__k_prev_direction", F.lag(direction).over(w))
    if "acceleration" in kinds:
        seg = seg.withColumns({"__k_prev_speed": F.lag(speed).over(w), "__k_next_speed": F.lead(speed).over(w)})

    def acceleration() -> Column:
        speed0 = F.when(first, speed).otherwise(F.col("__k_prev_speed"))
        speed1 = F.when(first, F.col("__k_next_speed")).otherwise(speed)
        return (speed1 - speed0) / dt * F.lit(conv.time2)

    exprs = {
        "timedelta": lambda: F.when(~first, dt),
        "timedelta_us": lambda: F.when(~first, F.col("__k_dt_us")),
        "distance": lambda: F.coalesce(F.when(~first, F.col("__k_dist")), F.lit(0.0)),
        "speed": lambda: F.col("__k_speed"),
        "direction": lambda: F.col("__k_direction"),
        "angular_difference": lambda: F.coalesce(
            angular_difference_expr(F.col("__k_prev_direction"), direction), F.lit(0.0)
        ),
        "acceleration": acceleration,
    }
    out = seg.withColumns({name: exprs[kind]() for name, kind in outputs.items()})
    return out.drop(*[c for c in seg.columns if c not in df.columns])


def add_timedelta(df: DataFrame, name: str = schema.TIMEDELTA) -> DataFrame:
    """D1: seconds since previous observation; first row null
    (trajectory.py:1456-1484; emitted as double seconds, not interval)."""
    return _kinematics(df, {name: "timedelta"})


def add_distance(
    df: DataFrame,
    name: str = schema.DISTANCE,
    units=None,
    latlon: bool = False,
    crs_units=None,
) -> DataFrame:
    """D2: distance from previous point; first row 0 (trajectory.py:1240-1302)."""
    return _kinematics(df, {name: "distance"}, units, latlon, crs_units)


def add_speed(
    df: DataFrame,
    name: str = schema.SPEED,
    units=None,
    latlon: bool = False,
    crs_units=None,
) -> DataFrame:
    """D3: distance/Δt·conv; first row copies the second row's value
    (trajectory.py:1304-1374, 1502-1516)."""
    return _kinematics(df, {name: "speed"}, units, latlon, crs_units)


def add_direction(df: DataFrame, name: str = schema.DIRECTION, latlon: bool = False) -> DataFrame:
    """D4: bearing from previous point; identical points -> 0; first row
    copies the second row (trajectory.py:1169-1198)."""
    return _kinematics(df, {name: "direction"}, latlon=latlon)


def add_angular_difference(
    df: DataFrame,
    name: str = schema.ANGULAR_DIFFERENCE,
    latlon: bool = False,
) -> DataFrame:
    """D5: |Δ direction| folded to [0,180]; first row 0
    (trajectory.py:1200-1238). Reuses an existing `direction` column if
    present (same rule as the reference), else derives one on the fly."""
    return _kinematics(df, {name: "angular_difference"}, latlon=latlon)


def add_acceleration(
    df: DataFrame,
    name: str = schema.ACCELERATION,
    units=None,
    latlon: bool = False,
    crs_units=None,
) -> DataFrame:
    """D6: Δspeed/Δt·time2conv; first row copies the second row
    (trajectory.py:1376-1454, 1518-1530). Reuses an existing `speed`
    column when present, matching the reference."""
    return _kinematics(df, {name: "acceleration"}, units, latlon, crs_units)


def add_all_kinematics(df: DataFrame, latlon: bool = False) -> DataFrame:
    """Convenience: timedelta + distance + speed + direction + angular
    difference + acceleration in one pass (single shuffle on traj_id)."""
    kinds = {
        schema.TIMEDELTA: "timedelta",
        schema.DISTANCE: "distance",
        schema.SPEED: "speed",
        schema.DIRECTION: "direction",
        schema.ANGULAR_DIFFERENCE: "angular_difference",
        schema.ACCELERATION: "acceleration",
    }
    return _kinematics(df, kinds, latlon=latlon)


def apply_offset_minutes(df: DataFrame, column: str, offset: int) -> DataFrame:
    """D7 minutes variant (trajectory.py:1696-1707) — alias of
    apply_offset_seconds with a 60x factor."""
    return apply_offset_seconds(df, column, int(offset) * 60)


def apply_offset_seconds(df: DataFrame, column: str, offset: int) -> DataFrame:
    """D7 (trajectory.py:1683-1707): shift a column's values backward
    along the time axis by `offset` seconds — the value at time t becomes
    the value that was observed at t+offset (pandas shift(-offset, freq)
    semantics, realized as a time-keyed self-join to avoid assuming a
    regular sampling interval)."""
    shifted = df.select(
        F.col("traj_id").alias("__tid"),
        (F.unix_micros(F.col("t")) - F.lit(int(offset) * 1_000_000)).alias("__t_us2"),
        F.col(column).alias("__shifted"),
    )
    out = (
        df.withColumn("__t_us", F.unix_micros(F.col("t")))
        .join(
            shifted,
            on=[
                F.col("traj_id") == F.col("__tid"),
                F.col("__t_us") == F.col("__t_us2"),
            ],
            how="left",
        )
        .drop("__tid", "__t_us", "__t_us2")
        .withColumn(column, F.col("__shifted"))
        .drop("__shifted")
    )
    return out
