"""Generate expected-output oracles for the sequential operators at the
driver's correctness scale factors.

These kernels are irreducibly sequential per trajectory, so no
closed-form DuckDB SQL can recompute them. Instead this tool runs the
SAME numpy kernels over the parquet data in a plain pandas process (no
Spark) and bakes the per-trajectory results into SQL:

- generalize_dp / generalize_min_distance / generalize_min_timedelta /
  generalize_max_distance / generalize_tdtr / outlier_clean: the DROPPED
  row ordinals per trajectory (these ops keep most rows, so the
  drop-list is the compact encoding); the oracle re-derives the kept
  rows by anti-list-membership over ROW_NUMBER().
- mcp: the hull-vertex row ordinals in CCW hull order; the oracle
  unnests them with subscripts to rebuild (traj_id, vertex, x, y).
- stop_points: only the detector's (start_us, end_us) ranges are pinned
  — the median/min/max/stop_id aggregation is INDEPENDENTLY recomputed
  by DuckDB over the raw points, so the oracle still exercises real SQL
  semantics on top of the pinned sequential boundary decisions.
- overlay_clip / overlay_intersection: only the dissolved entry/exit
  ranges (t0, tn, interpolated endpoints) are pinned — DuckDB then
  independently recomputes range membership, entry/exit-row synthesis,
  the <2-row / zero-duration piece filter, and piece renumbering.
- split_angle: only the emitted run bounds are pinned — DuckDB
  reconstructs the pieces (incl. the previous-run last-row prepend).
- kalman / sig_points / cluster_centroids: full expected values
  (restricted to a small deterministic subset for kalman).

The comparison therefore checks that Spark's distributed execution
(grouping, per-group ordering, Arrow batching, range join) reproduces
the single-process kernel output. Valid ONLY for the sf dirs generated.

Usage: python tools/gen_pinned_oracles.py [sf_dir ...] [out_py]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from movingspark import kernels
from movingspark.aggregate import _sig_points_np, grid_cluster
from movingspark.clean import outlier_keep_mask
from movingspark.generalize import max_distance_mask, min_distance_mask, min_timedelta_mask
from movingspark.ingest import EVENTS_POINTS_ORACLE_FULL
from movingspark.overlay import _clip_ranges_linebased
from movingspark.pinned_params import (
    OVERLAY_FEATURE_PROPS,
    ANGLE_MIN_ANGLE,
    ANGLE_MIN_SPEED,
    CLUSTER_MAX_DISTANCE,
    DP_TOLERANCE,
    GEN_MAX_DISTANCE_TOL,
    GEN_MIN_DISTANCE_TOL,
    GEN_MIN_TIMEDELTA_S,
    GEN_TDTR_TOL,
    KALMAN_MEASUREMENT_STD,
    KALMAN_PROCESS_STD,
    KALMAN_TRAJ_MOD,
    OUTLIER_ALPHA,
    OVERLAY_POLY,
    SIG_MAX_DISTANCE,
    SIG_MIN_ANGLE,
    SIG_MIN_DISTANCE,
    SIG_MIN_STOP_S,
    STOP_MAX_DIAMETER,
    STOP_MIN_DURATION_S,
)
from movingspark.smooth import _kf_rts
from movingspark.split import angle_change_groups
from movingspark.stops import _detect_stops_np
from movingspark.units import get_conversion


def load_points(sf_dir: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    q = f"""
        SELECT traj_id, epoch_us(t) AS tus, x, y,
               ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t) AS rn
        FROM ({EVENTS_POINTS_ORACLE_FULL})
        ORDER BY traj_id, tus
    """
    return con.execute(q).df()


def _tsec(g) -> np.ndarray:
    # float seconds EXACTLY as the engine computes them (ns int / 1e9;
    # dividing µs by 1e6 can differ in the last ulp and flip a
    # borderline comparison)
    return (g["tus"].to_numpy(np.int64) * 1000).astype(np.float64) / 1e9


def _per_traj(pts):
    for tid, g in pts.groupby("traj_id", sort=True):
        g = g.sort_values("tus")
        yield str(tid), g, g["x"].to_numpy(float), g["y"].to_numpy(float), _tsec(g)


def mask_drop_lists(pts, mask_fn) -> dict[str, list[int]]:
    """Dropped-rn lists for any keep-mask kernel mask_fn(x, y, t)."""
    out = {}
    for tid, g, x, y, ts in _per_traj(pts):
        mask = np.asarray(mask_fn(x, y, ts), dtype=bool)
        dropped = g["rn"].to_numpy()[~mask].tolist()
        if dropped:
            out[tid] = [int(r) for r in dropped]
    return out


def dp_drop_lists(pts) -> dict[str, list[int]]:
    def mask(x, y, t):
        xy = np.column_stack([x, y])
        dp = kernels.dp_mask(xy, DP_TOLERANCE)
        kept_coords = {(a, b) for a, b in xy[dp]}
        return np.array([(a, b) in kept_coords for a, b in xy])

    return mask_drop_lists(pts, mask)


def tdtr_drop_lists(pts) -> dict[str, list[int]]:
    return mask_drop_lists(
        pts, lambda x, y, t: kernels.tdtr_mask(np.column_stack([x, y]), t, GEN_TDTR_TOL)
    )


def outlier_drop_lists(pts) -> dict[str, list[int]]:
    conv = get_conversion(None)
    return mask_drop_lists(
        pts, lambda x, y, t: outlier_keep_mask(x, y, t, None, OUTLIER_ALPHA, conv, False)
    )


def hull_rn_lists(pts) -> dict[str, list[int]]:
    out = {}
    for tid, g, x, y, ts in _per_traj(pts):
        xy = np.column_stack([x, y])
        h = kernels.convex_hull(xy)
        rns = []
        for hx, hy in h:
            m = np.flatnonzero((xy[:, 0] == hx) & (xy[:, 1] == hy))
            rns.append(int(g["rn"].to_numpy()[m[0]]))
        out[tid] = rns
    return out


def stop_ranges(pts) -> list[tuple[str, int, int]]:
    out = []
    for tid, g, x, y, ts in _per_traj(pts):
        ranges = _detect_stops_np(x, y, ts, STOP_MAX_DIAMETER, STOP_MIN_DURATION_S, latlon=False)
        for s, e in ranges:
            out.append((tid, int(round(s * 1e6)), int(round(e * 1e6))))
    return out


def overlay_ranges(pts) -> list[tuple]:
    """Dissolved clip ranges per trajectory: (tid, t0_us, tn_us, x0, y0, xn, yn).
    t0/tn sit on the µs grid (floored/snapped by the kernel), so round()
    recovers the exact integer microsecond."""
    out = []
    for tid, g, x, y, ts in _per_traj(pts):
        for (t0, tn, p0, pn) in _clip_ranges_linebased(x, y, ts, OVERLAY_POLY):
            out.append(
                (tid, int(round(t0 * 1e6)), int(round(tn * 1e6)),
                 float(p0[0]), float(p0[1]), float(pn[0]), float(pn[1]))
            )
    return out


def angle_runs(pts) -> list[tuple[str, int, int, int]]:
    """Emitted angle-split runs: (tid, s_rn, e_rn, i) with rows rn in
    [s_rn - (i>0), e_rn] (1-based, the prepend included via s_rn-1)."""
    out = []
    for tid, g, x, y, ts in _per_traj(pts):
        n = len(x)
        if n < 2:
            continue
        dx, dy = np.diff(x), np.diff(y)
        # planar add_direction: DEGREES(ATAN2(dx, dy)), <0 -> +360,
        # identical points -> 0, first row copies second
        d = np.degrees(np.arctan2(dx, dy))
        d = np.where(d < 0, d + 360.0, d)
        d[(dx == 0) & (dy == 0)] = 0.0
        dirs = np.concatenate([[d[0]], d])
        sp = np.hypot(dx, dy) / np.diff(ts)
        spds = np.concatenate([[sp[0]], sp])
        groups = angle_change_groups(dirs, spds, ANGLE_MIN_ANGLE, ANGLE_MIN_SPEED)
        bounds = np.flatnonzero(np.diff(groups)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [n]])
        for i, (s, e) in enumerate(zip(starts, ends)):
            if e - s <= 1:
                continue
            out.append((tid, int(s) + 1, int(e), int(i)))
    return out


def kalman_values(pts) -> list[tuple]:
    """(tid, rn, sx, sy) smoothed positions for the KALMAN_TRAJ_MOD subset."""
    q = KALMAN_PROCESS_STD ** 2
    r = KALMAN_MEASUREMENT_STD ** 2
    out = []
    for tid, g, x, y, ts in _per_traj(pts):
        try:
            if int(tid) % KALMAN_TRAJ_MOD != 0:
                continue
        except ValueError:
            continue
        if len(x) < 2:
            sx, sy = x, y
        else:
            dts = np.diff(ts, prepend=ts[0])
            sx, sy = _kf_rts(x, y, dts, q, r)
        for rn, vx, vy in zip(g["rn"].to_numpy(), sx, sy):
            out.append((tid, int(rn), float(vx), float(vy)))
    return out


def sig_point_values(pts) -> list[tuple]:
    """(tid, seq, x, y) significant points, reference emission order."""
    out = []
    for tid, g, x, y, ts in _per_traj(pts):
        p = _sig_points_np(
            x, y, ts, SIG_MAX_DISTANCE, SIG_MIN_DISTANCE, SIG_MIN_STOP_S, SIG_MIN_ANGLE, False
        )
        for seq, (px, py) in enumerate(p):
            out.append((tid, seq, float(px), float(py)))
    return out


def cluster_values(sig_vals) -> list[tuple]:
    """(cluster_id, cx, cy, n) from grid clustering the significant
    points in (traj_id, seq) order — the exact insertion order the
    engine fixes before its driver-side clustering."""
    ordered = sorted(sig_vals, key=lambda r: (r[0], r[1]))
    clusters = grid_cluster([(r[2], r[3]) for r in ordered], CLUSTER_MAX_DISTANCE, False)
    return [(f"c{i}", float(cx), float(cy), int(n)) for i, (cx, cy, n) in enumerate(clusters)]


def _dlit(v: float) -> str:
    """Format a double as a DuckDB DOUBLE literal. A bare decimal
    literal ('53.06333333333333') is parsed as DECIMAL first and then
    converted, which can land 1 ulp off the python double; an exponent
    suffix forces direct string->double parsing."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


PTS_CTE = f"""
  SELECT traj_id, t, x, y, event_type, epoch_us(t) AS us,
         ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY t) AS rn
  FROM ({EVENTS_POINTS_ORACLE_FULL})
"""


def droplist_sql(drop: dict[str, list[int]]) -> str:
    drop_vals = ", ".join(
        f"('{tid}', {lst})" for tid, lst in sorted(drop.items())
    ) or "('__none__', [0])"
    return f"""
WITH pts AS ({PTS_CTE}),
dropped(traj_id, rns) AS (VALUES {drop_vals})
SELECT p.traj_id, p.t, p.x, p.y
FROM pts p LEFT JOIN dropped d ON p.traj_id = d.traj_id
WHERE d.traj_id IS NULL OR NOT list_contains(d.rns, p.rn)
"""


def overlay_sql(ranges: list[tuple]) -> str:
    rng_vals = ", ".join(
        f"('{tid}', {t0}, {tn}, {_dlit(x0)}, {_dlit(y0)}, {_dlit(xn)}, {_dlit(yn)})"
        for tid, t0, tn, x0, y0, xn, yn in sorted(ranges)
    ) or "('__none__', 0, 0, 0.0, 0.0, 0.0, 0.0)"
    return f"""
WITH pts AS ({PTS_CTE}),
rng(parent, t0r, tnr, x0, y0, xn, yn) AS (VALUES {rng_vals}),
rngn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY parent ORDER BY t0r) AS rid FROM rng
),
obs AS (
  SELECT r.parent, r.rid, p.t, p.x, p.y, p.event_type
  FROM rngn r JOIN pts p ON p.traj_id = r.parent AND p.us >= r.t0r AND p.us <= r.tnr
),
entry_synth AS (
  SELECT r.parent, r.rid, make_timestamp(r.t0r) AS t, r.x0 AS x, r.y0 AS y,
         COALESCE(
           (SELECT p.event_type FROM pts p WHERE p.traj_id = r.parent AND p.us <= r.t0r
            ORDER BY p.us DESC LIMIT 1),
           (SELECT p.event_type FROM pts p WHERE p.traj_id = r.parent
            ORDER BY p.us ASC LIMIT 1)
         ) AS event_type
  FROM rngn r
  WHERE NOT EXISTS (SELECT 1 FROM pts p WHERE p.traj_id = r.parent AND p.us = r.t0r)
),
exit_synth AS (
  SELECT r.parent, r.rid, make_timestamp(r.tnr) AS t, r.xn AS x, r.yn AS y,
         COALESCE(
           (SELECT p.event_type FROM pts p WHERE p.traj_id = r.parent AND p.us <= r.tnr
            ORDER BY p.us DESC LIMIT 1),
           (SELECT p.event_type FROM pts p WHERE p.traj_id = r.parent
            ORDER BY p.us ASC LIMIT 1)
         ) AS event_type
  FROM rngn r
  WHERE NOT EXISTS (SELECT 1 FROM pts p WHERE p.traj_id = r.parent AND p.us = r.tnr)
),
allrows AS (
  SELECT * FROM obs UNION ALL SELECT * FROM entry_synth UNION ALL SELECT * FROM exit_synth
),
emitted AS (
  SELECT parent, rid FROM allrows GROUP BY parent, rid
  HAVING COUNT(*) >= 2 AND MIN(t) <> MAX(t)
),
renum AS (
  SELECT parent, rid, ROW_NUMBER() OVER (PARTITION BY parent ORDER BY rid) - 1 AS n
  FROM emitted
)
SELECT a.parent || '_' || r.n AS traj_id, a.parent, a.t, a.x, a.y, a.event_type
FROM allrows a JOIN renum r ON a.parent = r.parent AND a.rid = r.rid
"""


def angle_sql(runs: list[tuple]) -> str:
    run_vals = ", ".join(
        f"('{tid}', {s}, {e}, {i})" for tid, s, e, i in sorted(runs)
    ) or "('__none__', 0, 0, 0)"
    return f"""
WITH pts AS ({PTS_CTE}),
runs(parent, s, e, i) AS (VALUES {run_vals})
SELECT r.parent || '_' || r.i AS traj_id, r.parent, p.t, p.x, p.y, p.event_type
FROM runs r JOIN pts p ON p.traj_id = r.parent
  AND p.rn >= r.s - CASE WHEN r.i > 0 THEN 1 ELSE 0 END AND p.rn <= r.e
"""


def split_stop_sql(rng_vals: str) -> str:
    """X5 StopSplitter oracle: only the detector's stop (start_us, end_us)
    boundary decisions are pinned; DuckDB independently recomputes the
    complement-range edge pairing (split.py:262-279), inclusive range
    membership, the <2-row / zero-span piece filter, and the
    '{id}_{start_t}' naming — the same recompute-don't-pin split used by
    stop_points."""
    return f"""
WITH pts AS ({PTS_CTE}),
rng(traj_id, s_us, e_us) AS (VALUES {rng_vals}),
extent AS (SELECT traj_id, MIN(us) AS t0, MAX(us) AS t1 FROM pts GROUP BY traj_id),
edges AS (
  SELECT traj_id, t0 AS edge, 0 AS kind FROM extent
  UNION ALL SELECT traj_id, s_us, 1 FROM rng
  UNION ALL SELECT traj_id, e_us, 0 FROM rng
  UNION ALL SELECT traj_id, t1, 1 FROM extent
),
numbered AS (
  SELECT traj_id, edge,
         ROW_NUMBER() OVER (PARTITION BY traj_id ORDER BY edge, kind) AS ern,
         LEAD(edge) OVER (PARTITION BY traj_id ORDER BY edge, kind) AS nxt
  FROM edges
),
ranges AS (
  SELECT traj_id, edge AS r0, nxt AS r1
  FROM numbered WHERE ern % 2 = 1 AND nxt IS NOT NULL
),
joined AS (
  SELECT p.traj_id AS parent, r.r0, p.t, p.x, p.y, p.event_type
  FROM pts p JOIN ranges r ON p.traj_id = r.traj_id
   AND p.us >= r.r0 AND p.us <= r.r1
),
keep AS (
  SELECT parent, r0 FROM joined GROUP BY parent, r0
  HAVING COUNT(*) >= 2 AND MAX(t) > MIN(t)
)
SELECT j.parent || '_' || strftime(make_timestamp(j.r0), '%Y-%m-%d %H:%M:%S') AS traj_id,
       j.parent, j.t, j.x, j.y, j.event_type
FROM joined j JOIN keep k ON j.parent = k.parent AND j.r0 = k.r0
"""


def kalman_sql(vals: list[tuple]) -> str:
    kv = ", ".join(
        f"('{tid}', {rn}, {_dlit(sx)}, {_dlit(sy)})" for tid, rn, sx, sy in sorted(vals)
    ) or "('__none__', 0, 0.0, 0.0)"
    return f"""
WITH pts AS ({PTS_CTE}),
sm(traj_id, rn, sx, sy) AS (VALUES {kv})
SELECT p.traj_id, p.t, s.sx AS x, s.sy AS y, p.event_type
FROM pts p JOIN sm s ON p.traj_id = s.traj_id AND p.rn = s.rn
"""


def sig_sql(vals: list[tuple]) -> str:
    sv = ", ".join(f"('{tid}', {seq}, {_dlit(x)}, {_dlit(y)})" for tid, seq, x, y in sorted(vals))
    return f"""
SELECT traj_id, CAST(seq AS BIGINT) AS seq, x, y
FROM (VALUES {sv}) AS t(traj_id, seq, x, y)
"""


def cluster_sql(vals: list[tuple]) -> str:
    cv = ", ".join(f"('{cid}', {_dlit(cx)}, {_dlit(cy)}, {n})" for cid, cx, cy, n in vals)
    return f"""
SELECT cluster_id, cx, cy, CAST(n AS BIGINT) AS n
FROM (VALUES {cv}) AS t(cluster_id, cx, cy, n)
"""


def build_sql(sf_dir: str) -> tuple[dict[str, str], tuple]:
    pts = load_points(sf_dir)
    drop_dp = dp_drop_lists(pts)
    hull = hull_rn_lists(pts)
    ranges = stop_ranges(pts)

    drops = {
        "generalize_dp": drop_dp,
        "generalize_min_distance": mask_drop_lists(
            pts, lambda x, y, t: min_distance_mask(x, y, GEN_MIN_DISTANCE_TOL, False)
        ),
        "generalize_min_timedelta": mask_drop_lists(
            pts, lambda x, y, t: min_timedelta_mask(t, GEN_MIN_TIMEDELTA_S)
        ),
        "generalize_max_distance": mask_drop_lists(
            pts, lambda x, y, t: max_distance_mask(x, y, GEN_MAX_DISTANCE_TOL)
        ),
        "generalize_tdtr": tdtr_drop_lists(pts),
        "outlier_clean": outlier_drop_lists(pts),
    }
    ov = overlay_ranges(pts)
    runs = angle_runs(pts)
    kv = kalman_values(pts)
    sig = sig_point_values(pts)
    clus = cluster_values(sig)

    hull_vals = ", ".join(f"('{tid}', {lst})" for tid, lst in sorted(hull.items()))
    sql_mcp = f"""
WITH pts AS ({PTS_CTE}),
hull(traj_id, rns) AS (VALUES {hull_vals}),
hx AS (
  SELECT traj_id, UNNEST(rns) AS rn,
         CAST(generate_subscripts(rns, 1) - 1 AS INT) AS vertex
  FROM hull
)
SELECT h.traj_id, h.vertex, p.x, p.y
FROM hx h JOIN pts p ON h.traj_id = p.traj_id AND h.rn = p.rn
"""

    rng_vals = ", ".join(f"('{tid}', {s}, {e})" for tid, s, e in sorted(ranges)) or "('__none__', 0, 0)"
    sql_stops = f"""
WITH pts AS ({PTS_CTE}),
rng(traj_id, start_us, end_us) AS (VALUES {rng_vals}),
joined AS (
  SELECT p.traj_id, p.t, p.x, p.y, r.start_us, r.end_us
  FROM pts p JOIN rng r ON p.traj_id = r.traj_id
   AND epoch_us(p.t) >= r.start_us AND epoch_us(p.t) <= r.end_us
),
agg AS (
  SELECT traj_id, start_us, end_us,
         quantile_cont(x, 0.5) AS x, quantile_cont(y, 0.5) AS y,
         MIN(t) AS start_time, MAX(t) AS end_time
  FROM joined GROUP BY 1, 2, 3
)
SELECT traj_id || '_' || strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS stop_id,
       traj_id, start_time, end_time,
       (epoch_us(end_time) - epoch_us(start_time)) / 1000000.0 AS duration_s,
       ROUND(ROUND(x, 9), 5) + 0.0 AS x, ROUND(ROUND(y, 9), 5) + 0.0 AS y
FROM agg
"""

    sqls = {name: droplist_sql(d) for name, d in drops.items()}
    sqls["mcp"] = sql_mcp
    sqls["stop_points"] = sql_stops
    sqls["overlay_clip"] = overlay_sql(ov)
    # X20 = X19 + constant feature attributes
    props = ", ".join(
        (f"'{v}' AS intersecting_{k}" if isinstance(v, str) else f"{v} AS intersecting_{k}")
        for k, v in OVERLAY_FEATURE_PROPS.items()
    )
    sqls["overlay_intersection"] = f"SELECT *, {props} FROM ({sqls['overlay_clip']})"
    sqls["split_angle"] = angle_sql(runs)
    sqls["split_stop"] = split_stop_sql(rng_vals)
    sqls["kalman_smooth"] = kalman_sql(kv)
    sqls["sig_points"] = sig_sql(sig)
    sqls["cluster_centroids"] = cluster_sql(clus)

    stats = (
        sum(len(v) for v in drop_dp.values()),
        sum(len(v) for v in hull.values()),
        len(ranges), len(ov), len(runs), len(kv), len(sig), len(clus),
        {n: sum(len(v) for v in d.values()) for n, d in drops.items() if n != "generalize_dp"},
    )
    return sqls, stats


def main():
    args = sys.argv[1:]
    out_py = os.path.join(REPO, "movingspark", "pinned_oracles_sf001.py")
    if args and args[-1].endswith(".py"):
        out_py = args[-1]
        args = args[:-1]
    # The primary (driver-facing) set is ALWAYS pinned_params.DRIVER_SF —
    # never derived from argument order. Round-4 regression: a default-arg
    # reorder silently flipped PINNED_SQL to the sf0.001 set while the
    # driver evaluated at sf0.01, turning 15 correct queries red.
    from movingspark.pinned_params import DRIVER_SF

    sf_dirs = args or [DRIVER_SF, "/root/testdata/sf0.001"]
    if DRIVER_SF not in sf_dirs:
        sys.exit(
            f"refusing to generate: sf_dirs {sf_dirs} does not include "
            f"DRIVER_SF {DRIVER_SF!r} — the driver's correctness sf must "
            "always have a pin set"
        )
    by_sf = {}
    stats = {}
    for sf_dir in sf_dirs:
        by_sf[sf_dir], stats[sf_dir] = build_sql(sf_dir)
    with open(out_py, "w") as f:
        f.write(
            '"""GENERATED by tools/gen_pinned_oracles.py — do not edit.\n\n'
            "Expected-output oracles for the sequential ops, one set per sf\n"
            f"dir {list(by_sf)}.\n"
            "PINNED_SQL is the pinned_params.DRIVER_SF set (the driver's\n"
            "correctness sf) by construction — resolved through the import\n"
            "below, not baked in, so regenerating with any sf-dir argument\n"
            "order cannot repoint it. tools/check_correctness.py selects by\n"
            "sf_dir from PINNED_SQL_BY_SF. Regenerate after changing the\n"
            "sequential kernels or their query parameters\n"
            '(movingspark/pinned_params.py)."""\n\n'
            "from movingspark.pinned_params import DRIVER_SF\n\n"
        )
        f.write("PINNED_SQL_BY_SF = {\n")
        for sf_dir, sqls in by_sf.items():
            f.write(f"    {sf_dir!r}: {{\n")
            for k, v in sqls.items():
                f.write(f"        {k!r}: {v!r},\n")
            f.write("    },\n")
        f.write("}\n\n")
        f.write("PINNED_SQL = PINNED_SQL_BY_SF[DRIVER_SF]\n\n")
        # fingerprint the input data: pinned values are only valid for the
        # exact parquet bytes they were generated from (round 4 lesson: a
        # driver testdata regeneration flipped a few float-boundary stops
        # and silently stranded the committed artifact)
        import hashlib
        fps = {}
        for sf_dir in sf_dirs:
            h = hashlib.md5()
            with open(f"{sf_dir}/events.parquet", "rb") as ef:
                h.update(ef.read())
            fps[sf_dir] = h.hexdigest()
        f.write(f"DATA_FINGERPRINT = {fps!r}\n")
    for sf_dir in sf_dirs:
        print(f"{sf_dir}: dp/hull/stops/overlay/angle/kalman/sig/clusters = {stats[sf_dir]}")
    print(f"wrote {out_py}")


if __name__ == "__main__":
    main()
