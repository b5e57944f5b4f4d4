"""Per-trajectory aggregates, temporal lookups, and exports
(SURVEY.md §2.1 S5, §2.3 J1-J3, §2.4 A1-A15).

All pure DataFrame algebra: group aggregates get partial (map-side)
combining from Spark for free; temporal lookups are expressed as as-of
window patterns rather than per-trajectory Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movingspark import gmap, kernels
from movingspark.derive import _kinematics, bearing_expr, traj_window
from movingspark.units import get_conversion


def traj_summary(df: DataFrame, latlon: bool = False, units=None) -> DataFrame:
    """One row per trajectory: A1 size, A2 bbox, A3 start/end/duration,
    A4 start/end locations, A5 length, A6 direction, A7 sampling interval
    (exact median of Δt). The to_traj_gdf analogue (trajectory.py:661-713)."""
    conv = get_conversion(units)
    # Δt kept in integer microseconds so the median interpolates exactly
    # (ties at .5 µs stay exact in float64 — oracle-reproducible)
    enriched = _kinematics(df, {"__seg": "distance", "__dt_us": "timedelta_us"}, latlon=latlon)
    start = F.min_by(F.struct("x", "y"), "t")
    end = F.max_by(F.struct("x", "y"), "t")
    agg = enriched.groupBy("traj_id").agg(
        F.count("*").alias("n"),
        F.min("t").alias("start_t"),
        F.max("t").alias("end_t"),
        ((F.unix_micros(F.max("t")) - F.unix_micros(F.min("t"))) / 1e6).alias("duration_s"),
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
        (F.sum("__seg") * F.lit(conv.crs / conv.distance)).alias("length"),
        start.getField("x").alias("start_x"),
        start.getField("y").alias("start_y"),
        end.getField("x").alias("end_x"),
        end.getField("y").alias("end_y"),
        (F.percentile("__dt_us", F.lit(0.5)) / 1e6).alias("sampling_interval_s"),
    )
    direction = bearing_expr(F.col("start_x"), F.col("start_y"), F.col("end_x"), F.col("end_y"), latlon)
    return agg.withColumn("direction", direction)


def get_bbox(df: DataFrame) -> DataFrame:
    """A2 (trajectory.py:764-774)."""
    return df.groupBy("traj_id").agg(
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
    )


def get_length(df: DataFrame, latlon: bool = False, units=None) -> DataFrame:
    """A5 (trajectory.py:1005-1033): sum of consecutive segment distances."""
    conv = get_conversion(units)
    return (
        _kinematics(df, {"__seg": "distance"}, latlon=latlon)
        .groupBy("traj_id")
        .agg((F.sum("__seg") * F.lit(conv.crs / conv.distance)).alias("length"))
    )


def is_valid(df: DataFrame) -> DataFrame:
    """F6 (trajectory.py:409-421): ≥2 rows and start < end, per trajectory."""
    return df.groupBy("traj_id").agg(
        ((F.count("*") >= 2) & (F.min("t") < F.max("t"))).alias("is_valid")
    )


# pandas.DataFrame.agg name -> Spark aggregate (to_traj_gdf agg= support)
_AGG_FNS = {
    "mean": F.mean,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "std": F.stddev_samp,   # pandas default ddof=1
    "var": F.var_samp,
    "nunique": F.count_distinct,
}


def to_traj_gdf(
    df: DataFrame,
    wkt: bool = False,
    agg: dict | None = None,
    latlon: bool = False,
    units=None,
) -> DataFrame:
    """General to_traj_gdf (trajectory.py:661-713): one row per
    trajectory with (traj_id, start_t, end_t, length, direction), plus
    the LINESTRING M wkt when wkt=True, plus `{col}_{mode}` columns for
    agg={"col": "mode" | "qNN" | <pandas agg name> | [list of those]}.

    - "mode": most frequent value; ties resolve to the smallest value
      (pandas Series.mode()[0] semantics) via min_by over (−count, value)
      — two map-side-combinable aggregations, no window sort.
    - "qNN": linear-interpolated quantile NN/100 (pandas default), via
      F.percentile.
    - plain names: mean/min/max/sum/count/median/std/var/nunique.
    All aggregates for one call run in ONE extra groupBy pass; each
    distinct mode column adds one counting pass. Everything joins back
    on traj_id (AQE broadcasts the one-row-per-traj sides)."""
    base = traj_summary(df, latlon, units).select(
        "traj_id", "start_t", "end_t", "length", "direction"
    )
    out = base
    if wkt:
        out = out.join(to_linestringm_wkt(df), "traj_id")
    if agg:
        exprs = []
        mode_cols = []
        for col, modes in agg.items():
            if not isinstance(modes, list):
                modes = [modes]
            for m in modes:
                name = f"{col}_{m}"
                if m == "mode":
                    mode_cols.append(col)
                elif m[0] == "q" and m[1:].isdigit() and int(m[1:]) < 100:
                    exprs.append(F.percentile(col, F.lit(int(m[1:]) / 100)).alias(name))
                elif m in _AGG_FNS:
                    exprs.append(_AGG_FNS[m](col).alias(name))
                else:
                    raise ValueError(f"unsupported agg mode {m!r} for column {col!r}")
        if exprs:
            out = out.join(df.groupBy("traj_id").agg(*exprs), "traj_id")
        for col in dict.fromkeys(mode_cols):
            counts = df.groupBy("traj_id", col).agg(F.count("*").alias("__c"))
            modes_df = counts.groupBy("traj_id").agg(
                F.min_by(F.col(col), F.struct((-F.col("__c")).alias("nc"), F.col(col))).alias(
                    f"{col}_mode"
                )
            )
            out = out.join(modes_df, "traj_id")
    return out


def get_mcp(df: DataFrame) -> DataFrame:
    """A9 (trajectory.py:1731-1744): convex hull vertices per trajectory,
    CCW order, as an array of (x, y) structs. Monotone-chain numpy kernel
    in a grouped map (gmap)."""

    def hull(g):
        h = kernels.convex_hull(np.column_stack([np.asarray(g["x"], float), np.asarray(g["y"], float)]))
        return np.zeros(len(h), np.int64), {"vertex": np.arange(len(h)), "x": h[:, 0], "y": h[:, 1]}

    return gmap.grouped_apply_sorted(df, hull, "traj_id string, vertex int, x double, y double")


# ---------------------------------------------------------------------------
# J1-J3 — temporal lookups (as-of patterns)
# ---------------------------------------------------------------------------


def get_locations_at(
    df: DataFrame,
    t,
    method: str = "nearest",
    with_direction: bool = False,
    drop_outside: bool = False,
) -> DataFrame:
    """J3 (trajectory_collection.py:359-436): per-trajectory observation
    at time t. nearest = min |t - t0| (earlier row wins ties); ffill =
    latest row ≤ t; bfill = earliest row ≥ t.

    t may also be "start"/"end" (get_start_locations /
    get_end_locations). with_direction adds the per-point movement
    direction column before selecting the row (the reference computes
    add_direction on the trajectory first — same first-row patch
    semantics). drop_outside replicates the reference collection's
    behavior of skipping trajectories whose time range does not contain
    t (trajectory_collection.py:393-394); off by default for
    backward-compatible as-of lookups."""
    if with_direction and "direction" not in df.columns:
        from movingspark.derive import add_direction

        df = add_direction(df)
    if t in ("start", "end"):
        order = F.col("t").asc() if t == "start" else F.col("t").desc()
        w = Window.partitionBy("traj_id").orderBy(order)
        cand = df
    else:
        tl = F.lit(t).cast("timestamp")
        diff = F.abs(F.unix_micros(F.col("t")) - F.unix_micros(tl))
        if method == "nearest":
            w = Window.partitionBy("traj_id").orderBy(diff.asc(), F.col("t").asc())
            cand = df
        elif method == "ffill":
            cand = df.filter(F.col("t") <= tl)
            w = Window.partitionBy("traj_id").orderBy(F.col("t").desc())
        elif method == "bfill":
            cand = df.filter(F.col("t") >= tl)
            w = Window.partitionBy("traj_id").orderBy(F.col("t").asc())
        else:
            raise ValueError(method)
        if drop_outside:
            wt = Window.partitionBy("traj_id")
            cand = (
                cand.withColumn("__tmin", F.min("t").over(wt))
                .withColumn("__tmax", F.max("t").over(wt))
                .filter((tl >= F.col("__tmin")) & (tl <= F.col("__tmax")))
                .drop("__tmin", "__tmax")
            )
    return cand.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def get_start_locations(df: DataFrame, with_direction: bool = False) -> DataFrame:
    """trajectory_collection.py:416-425."""
    return get_locations_at(df, "start", with_direction=with_direction)


def get_end_locations(df: DataFrame, with_direction: bool = False) -> DataFrame:
    """trajectory_collection.py:427-436."""
    return get_locations_at(df, "end", with_direction=with_direction)


def interpolate_position_at(df: DataFrame, t) -> DataFrame:
    """J2 (trajectory.py:832-916): linear interpolation between the
    bracketing rows by time ratio; clamps to the first/last observation
    outside the observed range (reference returns boundary rows there)."""
    tl = F.lit(t).cast("timestamp")
    t_us = F.unix_micros(F.col("t"))
    target = F.unix_micros(tl)

    prev = (
        df.filter(F.col("t") <= tl)
        .withColumn("__rn", F.row_number().over(Window.partitionBy("traj_id").orderBy(F.col("t").desc())))
        .filter(F.col("__rn") == 1)
        .select("traj_id", F.col("t").alias("t0"), F.col("x").alias("x0"), F.col("y").alias("y0"))
    )
    nxt = (
        df.filter(F.col("t") >= tl)
        .withColumn("__rn", F.row_number().over(Window.partitionBy("traj_id").orderBy(F.col("t").asc())))
        .filter(F.col("__rn") == 1)
        .select("traj_id", F.col("t").alias("tn"), F.col("x").alias("xn"), F.col("y").alias("yn"))
    )
    j = prev.join(nxt, "traj_id", "full_outer")
    ratio = (target - F.unix_micros(F.col("t0"))) / (
        F.unix_micros(F.col("tn")) - F.unix_micros(F.col("t0"))
    )
    x = F.when(F.col("t0").isNull(), F.col("xn")).when(F.col("tn").isNull(), F.col("x0")).when(
        F.col("tn") == F.col("t0"), F.col("x0")
    ).otherwise(F.col("x0") + (F.col("xn") - F.col("x0")) * ratio)
    y = F.when(F.col("t0").isNull(), F.col("yn")).when(F.col("tn").isNull(), F.col("y0")).when(
        F.col("tn") == F.col("t0"), F.col("y0")
    ).otherwise(F.col("y0") + (F.col("yn") - F.col("y0")) * ratio)
    return j.select("traj_id", tl.alias("t"), x.alias("x"), y.alias("y"))


def get_segment_between(df: DataFrame, t1, t2) -> DataFrame:
    """F4/F5 (trajectory.py:956-983): inclusive time slice; trajectories
    whose slice has < 2 rows are dropped (invalid segment)."""
    sl = df.filter((F.col("t") >= F.lit(t1).cast("timestamp")) & (F.col("t") <= F.lit(t2).cast("timestamp")))
    w = Window.partitionBy("traj_id")
    return sl.withColumn("__n", F.count("*").over(w)).filter(F.col("__n") >= 2).drop("__n")


def filter_by_first_value(df: DataFrame, column: str, values) -> DataFrame:
    """F2 (trajectory_collection.py:557-592): keep trajectories whose
    FIRST row's `column` value is in `values`."""
    w = traj_window()
    first = F.first(column).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return df.withColumn("__f", first).filter(F.col("__f").isin(list(values))).drop("__f")


# ---------------------------------------------------------------------------
# S5 — exports
# ---------------------------------------------------------------------------


def to_line_df(df: DataFrame) -> DataFrame:
    """S5 to_line_gdf (trajectory.py:630-659): consecutive-point segments
    with (t, prev_t, x0, y0, x1, y1); the first row of each trajectory is
    dropped (it has no predecessor)."""
    w = traj_window()
    out = df.select(
        "traj_id",
        F.col("t").alias("t"),
        F.lag("t").over(w).alias("prev_t"),
        F.lag("x").over(w).alias("x0"),
        F.lag("y").over(w).alias("y0"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    return out.filter(F.col("prev_t").isNotNull())


def to_linestring_wkt(df: DataFrame) -> DataFrame:
    """S5 to_linestring (trajectory.py:593-605): WKT LINESTRING per
    trajectory, vertices in time order."""
    pts = F.array_sort(F.collect_list(F.struct("t", "x", "y")))
    coord = lambda s: F.concat_ws(" ", F.format_number(s["x"], 6), F.format_number(s["y"], 6))
    return df.groupBy("traj_id").agg(
        F.concat(F.lit("LINESTRING ("), F.concat_ws(", ", F.transform(pts, coord)), F.lit(")")).alias("wkt")
    )


def to_linestringm_wkt(df: DataFrame) -> DataFrame:
    """S5 LINESTRING M export (trajectory.py:607-623): m = unix seconds."""
    pts = F.array_sort(F.collect_list(F.struct("t", "x", "y")))
    coord = lambda s: F.concat_ws(
        " ",
        s["x"].cast("string"),
        s["y"].cast("string"),
        (F.unix_micros(s["t"]) / 1_000_000).cast("double").cast("string"),
    )
    return df.groupBy("traj_id").agg(
        F.concat(F.lit("LINESTRING M ("), F.concat_ws(", ", F.transform(pts, coord)), F.lit(")")).alias("wkt")
    )


def to_mf_json(
    df: DataFrame,
    temporal_columns: list | None = None,
    temporal_columns_static_fields: dict | None = None,
    property_columns: list | None = None,
) -> DataFrame:
    """S4 (io.py:12-110 gdf_to_mf_json): per-trajectory OGC Moving
    Features JSON feature with MovingPoint temporalGeometry.

    temporal_columns: point-level columns emitted as MF-JSON
    temporalProperties (one group sharing the geometry's datetimes, each
    column as {"values": [...]} — io.py:139-154). Static fields from
    temporal_columns_static_fields[col] are attached to that column's
    object (e.g. {"form": "MPH", "type": "Measure"}). property_columns:
    per-trajectory static columns copied into feature properties (the
    reference takes the group's first row; here min() for determinism).
    The whole feature is one codegen'd to_json projection — no Python."""
    temporal_columns = temporal_columns or []
    static = temporal_columns_static_fields or {}
    property_columns = property_columns or []

    pts = F.array_sort(
        F.collect_list(F.struct("t", "x", "y", *[F.col(c) for c in temporal_columns]))
    )
    aggs = [pts.alias("__pts")] + [F.min(c).alias(f"__p_{c}") for c in property_columns]
    per = df.groupBy("traj_id").agg(*aggs)

    datetimes = F.transform("__pts", lambda s: F.date_format(s["t"], "yyyy-MM-dd'T'HH:mm:ss"))
    fields = [
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("MovingPoint").alias("type"),
            F.transform("__pts", lambda s: F.array(s["x"], s["y"])).alias("coordinates"),
            datetimes.alias("datetimes"),
            F.lit("Linear").alias("interpolation"),
        ).alias("temporalGeometry"),
        F.struct(
            F.col("traj_id").alias("traj_id"),
            *[F.col(f"__p_{c}").alias(c) for c in property_columns],
        ).alias("properties"),
    ]
    if temporal_columns:
        group = F.struct(
            datetimes.alias("datetimes"),
            # NB: the lambda must take exactly one arg — a second arg
            # (even a default) makes pyspark pass the array index to it.
            # transform() invokes the lambda eagerly, so the loop var is
            # bound correctly without a default-arg closure trick.
            *[
                F.struct(
                    F.transform("__pts", lambda s: s[c]).alias("values"),
                    *[F.lit(v).alias(k) for k, v in static.get(c, {}).items()],
                ).alias(c)
                for c in temporal_columns
            ],
        )
        fields.append(F.array(group).alias("temporalProperties"))
    return per.select("traj_id", F.to_json(F.struct(*fields)).alias("mf_json"))
