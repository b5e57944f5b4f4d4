"""Trajectory splitters (SURVEY.md §2.9 X2-X7).

Window-algebra splitters (gap/value-change/speed/temporal) never leave
the JVM: a boolean change flag + running sum produces the piece id
(D8 cumsum segmentation), boundary-row duplication is a filtered union.
Only AngleChangeSplitter carries loop state (the comparison direction
only updates on split) and runs as a grouped map (gmap).

Naming parity: piece traj_id = "{parent_id}_{i}" with the reference's
enumeration rules (which differ subtly per splitter — see each fn).
A `parent` column keeps the original trajectory id.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movingspark import gmap, kernels, schema
from movingspark.derive import _kinematics, traj_window
from movingspark.ingest import filter_min_length


def _finalize(df: DataFrame, piece_col, min_length: float, latlon: bool) -> DataFrame:
    """Common tail: drop <2-row pieces, stamp piece traj_id, keep parent,
    apply min_length (reference TrajectoryCollection(min_length=...),
    trajectory_collection.py:81-86)."""
    w = Window.partitionBy("traj_id", piece_col)
    out = (
        df.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") >= 2)
        .drop("__n")
        .withColumn("parent", F.col("traj_id"))
        .withColumn("traj_id", F.concat_ws("_", "traj_id", F.col(piece_col).cast("string")))
        .drop(piece_col)
    )
    if min_length > 0:
        out = filter_min_length(out, min_length, latlon=latlon)
    return out


def _with_boundary_rows(base: DataFrame) -> DataFrame:
    """Append the first row of each piece k > 0 to piece k-1 as well."""
    first_of_piece = F.row_number().over(Window.partitionBy("traj_id", "__piece").orderBy("t"))
    boundary = (
        base.withColumn("__fr", first_of_piece)
        .filter((F.col("__fr") == 1) & (F.col("__piece") > 0))
        .drop("__fr")
        .withColumn("__piece", F.col("__piece") - 1)
    )
    return base.unionByName(boundary)


def _own_columns(df: DataFrame, kinds: list, latlon: bool):
    """(df, column names) for each of `kinds` (schema.SPEED /
    schema.DIRECTION): the input's column of that name where there is
    one (the reference reuses it), else derived in one pass into a
    private `__<kind>` column."""
    names = [k if k in df.columns else f"__{k}" for k in kinds]
    derived = {n: k for k, n in zip(kinds, names) if n != k}
    return _kinematics(df, derived, latlon=latlon), names


def split_by_observation_gap(
    df: DataFrame,
    gap_s: float,
    min_length: float = 0,
    latlon: bool = False,
) -> DataFrame:
    """X2 (trajectory_splitter.py:156-194): new piece when Δt > gap
    (strict); piece index counts every gap group, including ones later
    dropped for having < 2 rows."""
    flag = F.when(F.col("__dt") > gap_s, 1).otherwise(0)
    piece = F.sum(flag).over(traj_window().rowsBetween(Window.unboundedPreceding, 0))
    base = _kinematics(df, {"__dt": "timedelta"}).withColumn("__piece", piece).drop("__dt")
    return _finalize(base, "__piece", min_length, latlon)


def split_by_speed(
    df: DataFrame,
    speed: float,
    duration_s: float,
    min_length: float = 0,
    max_speed: float = float("inf"),
    latlon: bool = False,
) -> DataFrame:
    """X4 (trajectory_splitter.py:197-228): keep rows with speed within
    [speed, max_speed] (inclusive), then gap-split with gap=duration."""
    df, (spd,) = _own_columns(df, [schema.SPEED], latlon)
    df = df.filter((F.col(spd) >= speed) & (F.col(spd) <= max_speed)).drop("__speed")
    return split_by_observation_gap(df, duration_s, min_length, latlon)


def split_by_value_change(
    df: DataFrame,
    col_name: str,
    min_length: float = 0,
    latlon: bool = False,
) -> DataFrame:
    """X7 (trajectory_splitter.py:346-390): new piece when `col_name`
    changes between consecutive rows; each non-last piece additionally
    receives the NEXT piece's first row (boundary continuity), applied
    BEFORE the 2-row validity check (so a 1-row piece + boundary row
    survives)."""
    w = traj_window()
    prev = F.lag(col_name).over(w)
    rn = F.row_number().over(w)
    # pandas semantics: NaN != anything (incl. NaN) is True
    changed = F.when(rn == 1, 0).when(
        F.col(col_name).isNull() | prev.isNull(), 1
    ).otherwise((F.col(col_name) != prev).cast("int"))
    piece = F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    base = df.withColumn("__piece", piece)
    return _finalize(_with_boundary_rows(base), "__piece", min_length, latlon)


def split_temporally(
    df: DataFrame,
    mode: str = "day",
    min_length: float = 0,
    latlon: bool = False,
) -> DataFrame:
    """X3 (trajectory_splitter.py:100-153): bucket rows by calendar
    period (hour/day/month/year) OR any raw fixed-frequency alias the
    reference forwards to pd.Grouper(freq=...) — e.g. "2h", "15min",
    "30s" (trajectory_splitter.py:117-120). Raw frequencies replicate
    the Grouper default origin='start_day': bins are anchored at
    midnight of each trajectory's first observation day (a per-traj
    window min — no extra shuffle beyond the splitter's own window).
    Piece index enumerates the NON-EMPTY buckets of each trajectory;
    each non-last piece receives the next piece's first row before the
    2-row validity check."""
    if mode in {"hour", "day", "month", "year"}:
        bucket = F.date_trunc(mode, F.col("t"))
    else:
        m = re.fullmatch(r"(\d*)\s*(s|sec|second|min|t|h|hour|d)", mode.strip(), re.IGNORECASE)
        if not m:
            raise ValueError(
                f"unsupported temporal split mode: {mode!r} "
                "(named: hour/day/month/year; raw tick aliases: e.g. '2h', '15min', '30s')"
            )
        n = int(m.group(1) or 1)
        unit_us = {
            "s": 1_000_000, "sec": 1_000_000, "second": 1_000_000,
            "min": 60_000_000, "t": 60_000_000,
            "h": 3_600_000_000, "hour": 3_600_000_000,
            "d": 86_400_000_000,
        }[m.group(2).lower()]
        freq_us = n * unit_us
        origin = F.unix_micros(F.date_trunc("day", F.min("t").over(Window.partitionBy("traj_id"))))
        bucket = F.floor((F.unix_micros(F.col("t")) - origin) / F.lit(freq_us))
    base = df.withColumn("__bucket", bucket)
    idx = F.dense_rank().over(Window.partitionBy("traj_id").orderBy("__bucket")) - 1
    base = base.withColumn("__piece", idx).drop("__bucket")
    return _finalize(_with_boundary_rows(base), "__piece", min_length, latlon)


def angle_change_groups(dirs, spds, min_angle: float, min_speed: float) -> np.ndarray:
    """Sequential group assignment for X6: comp_dir updates only when a
    split fires. Module-level so the pinned-oracle generator runs the
    SAME code single-process (tools/gen_pinned_oracles.py)."""
    comp_dir = dirs[0]
    group = 0
    groups = np.zeros(len(dirs), dtype=np.int64)
    for i in range(len(dirs)):
        if spds[i] >= min_speed:
            if kernels.angular_difference(comp_dir, dirs[i]) >= min_angle:
                comp_dir = dirs[i]
                group += 1
        groups[i] = group
    return groups


def split_by_angle_change(
    df: DataFrame,
    min_angle: float = 45,
    min_speed: float = 0,
    min_length: float = 0,
    latlon: bool = False,
) -> DataFrame:
    """X6 (trajectory_splitter.py:273-343): carried comparison direction
    comp_dir updates only when a split fires (speed >= min_speed AND
    angular_difference(comp_dir, direction) >= min_angle) — inherently
    sequential, so a grouped map (gmap) with the loop in numpy.
    Each piece with >1 rows gets the previous piece's LAST row prepended
    (i > 0); 1-row pieces are dropped before prepending."""
    df, (dircol, spcol) = _own_columns(df, [schema.DIRECTION, schema.SPEED], latlon)
    out_fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
    out_schema = ", ".join(out_fields + ["parent string"])

    def per_traj(g):
        groups = angle_change_groups(
            np.asarray(g[dircol], float), np.asarray(g[spcol], float), min_angle, min_speed
        )
        tid = np.asarray(g["traj_id"])[0]
        bounds = np.flatnonzero(np.diff(groups)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(groups)]])
        take, labels = [], []
        for i, (s, e) in enumerate(zip(starts, ends)):
            if e - s <= 1:
                continue
            rows = np.arange(s - (i > 0), e)  # piece i > 0 starts with piece i-1's last row
            take.append(rows)
            labels += [f"{tid}_{i}"] * len(rows)
        if not take:
            return (), {}
        take = np.concatenate(take)
        return take, {"parent": np.full(len(take), tid, object), "traj_id": np.array(labels, object)}

    out = gmap.grouped_apply_sorted(df, per_traj, out_schema).drop("__direction", "__speed")
    if min_length > 0:
        out = filter_min_length(out, min_length, latlon=latlon)
    return out


def split_by_stops(
    df: DataFrame,
    max_diameter: float,
    min_duration_s: float,
    min_length: float = 0,
    latlon: bool = False,
) -> DataFrame:
    """X5 (trajectory_splitter.py:231-270): detect stops (X1), take the
    complement time ranges [start..stop1.t0], [stop1.tn..stop2.t0], ...,
    [stopK.tn..end], slice inclusive segments, drop invalid (<2 rows)
    pieces; piece traj_id = "{id}_{range_start}" (get_segment_between
    naming, trajectory.py:974)."""
    from movingspark.stops import get_stop_time_ranges

    stops = get_stop_time_ranges(df, max_diameter, min_duration_s, latlon)

    extent = df.groupBy("traj_id").agg(
        F.min("t").alias("t_first"), F.max("t").alias("t_last")
    )
    # complement ranges: pair boundary instants in time order
    b_start = extent.select("traj_id", F.col("t_first").alias("edge"), F.lit(0).alias("kind"))
    b_end = extent.select("traj_id", F.col("t_last").alias("edge"), F.lit(1).alias("kind"))
    s0 = stops.select(F.col("traj_id").alias("traj_id"), F.col("start_t").alias("edge"), F.lit(1).alias("kind"))
    s1 = stops.select(F.col("traj_id").alias("traj_id"), F.col("end_t").alias("edge"), F.lit(0).alias("kind"))
    edges = b_start.unionByName(s0).unionByName(s1).unionByName(b_end)
    w = Window.partitionBy("traj_id").orderBy("edge", "kind")
    ranges = (
        edges.withColumn("__rn", F.row_number().over(w))
        .withColumn("nxt", F.lead("edge").over(w))
        .filter(F.col("__rn") % 2 == 1)  # odd rows open a between-stops range
        .select(
            F.col("traj_id").alias("traj_id"),
            F.col("edge").alias("start_t"),
            F.col("nxt").alias("end_t"),
        )
        .filter(F.col("end_t").isNotNull())
    )

    from movingspark.stops import attach_ranges

    seg = attach_ranges(df, ranges)
    wp = Window.partitionBy("traj_id", "start_t")
    out = (
        seg.withColumn("__n", F.count("*").over(wp))
        .withColumn("__span", (F.max("t").over(wp) > F.min("t").over(wp)).cast("int"))
        .filter((F.col("__n") >= 2) & (F.col("__span") == 1))
        .withColumn("parent", F.col("traj_id"))
        .withColumn(
            "traj_id",
            F.concat_ws("_", "traj_id", F.date_format("start_t", "yyyy-MM-dd HH:mm:ss")),
        )
        .drop("start_t", "end_t", "__n", "__span")
    )
    if min_length > 0:
        out = filter_min_length(out, min_length, latlon=latlon)
    return out
