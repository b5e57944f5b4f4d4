"""Scaling-efficiency evidence (north rule: throughput scaling
efficiency >= 0.8 between N and 4N executors).

Sandbox protocol (BASELINE.md): run the identical north-rule job —
interleaved docs -> explode -> point-in-polygon spatial join -> tile
rollup -> span-sequence invariant — at local[8] and local[32] on the
same input, report docs/sec at both and efficiency = (T_8 / T_32) / 4.

Each parallelism level runs in its own subprocess (a SparkContext's
master is fixed for the JVM's lifetime); each run warms up untimed and
times the best of `--iters` passes to shed JIT noise.

Usage: python tools/bench_scaling.py [--docs 400000] [--iters 2]
       -> prints a JSON summary and rewrites BENCH.md
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AOI = [(-60.0, 60.0), (60.0, 60.0), (60.0, -60.0), (-60.0, -60.0)]


def run_one(cpus: int, n_docs: int, iters: int) -> dict:
    from movingspark import ingest, joins
    from movingspark.session import local_session
    from perfbench.harness import cpu_fractions, cpu_jiffies, force

    spark = local_session(cpus, f"movingspark-scaling-{cpus}", os.environ.get("SPARK_GRAFT_MEM", "48g"))

    docs = ingest.synth_interleaved_docs(spark, n_docs).repartition(cpus * 4).persist()
    docs.count()

    def pipeline():
        pts = ingest.explode_doc_points(docs)
        force(joins.point_in_polygon_join(pts, [("aoi", AOI)], res=6))
        force(joins.tile_rollup(pts, res=6))
        force(ingest.span_invariant_violations(docs))

    pipeline()  # untimed warmup (JIT, codegen, Arrow workers)
    best = float("inf")
    worst_steal = worst_sys = 0.0
    for _ in range(iters):
        pre = cpu_jiffies()
        t0 = time.time()
        pipeline()
        dt = time.time() - t0
        host = cpu_fractions(pre, cpu_jiffies())
        if dt == min(best, dt):
            worst_steal, worst_sys = host["steal_frac"], host["sys_frac"]
        best = min(best, dt)
    spark.stop()
    # steal/sys fractions measured around the BEST pass: >0.15 steal or
    # >0.35 sys marks a storm-contaminated leg (see BENCH.md noise
    # discipline) — the pair should be re-run, not trusted.
    return {"cpus": cpus, "seconds": round(best, 3), "docs": n_docs,
            "docs_per_sec": round(n_docs / best, 1),
            "steal_frac": round(worst_steal, 3), "sys_frac": round(worst_sys, 3)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=2,
                    help="alternating N/4N rounds; per-level min across rounds")
    ap.add_argument("--levels", type=str, default="8,32",
                    help="N,4N parallelism pair (e.g. 2,8 or 8,32)")
    ap.add_argument("--one", type=int, default=None, help="internal: run a single parallelism level")
    args = ap.parse_args()

    if args.one is not None:
        print(json.dumps(run_one(args.one, args.docs, args.iters)))
        return

    lo, hi = (int(v) for v in args.levels.split(","))
    assert hi == 4 * lo, "levels must be N,4N"

    # The sandbox host shows intermittent multi-second I/O stalls, so a
    # single N-leg followed by a single 4N-leg can sample two different
    # host conditions. Alternate the levels across rounds and take each
    # level's best round — both legs see the same noise distribution.
    results = {}
    for _ in range(args.rounds):
        for cpus in (lo, hi):
            # pin the WHOLE process tree (JVM worker threads AND its
            # GC/shuffle-IO/codegen threads) to exactly `cpus` cores.
            # Without this a local[2] JVM on a 32-core host runs its
            # background threads on the other 30 cores, inflating the
            # low-parallelism leg and understating scaling efficiency
            # — the 4N leg gets 4x the cores of the N leg in EVERY
            # resource, which is what N->4N executors means.
            cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.abspath(__file__),
                   "--one", str(cpus), "--docs", str(args.docs), "--iters", str(args.iters)]
            out = subprocess.run(cmd, capture_output=True, text=True, check=True)
            line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
            r = json.loads(line)
            if cpus not in results or r["seconds"] < results[cpus]["seconds"]:
                results[cpus] = r

    t_lo, t_hi = results[lo]["seconds"], results[hi]["seconds"]
    eff = (t_lo / t_hi) / 4.0
    summary = {
        "job": "north-rule doc pipeline: synth -> explode -> PIP join -> tile rollup -> span invariant",
        "docs": args.docs,
        "levels": [lo, hi],
        f"local{lo}": results[lo],
        f"local{hi}": results[hi],
        "speedup_N_to_4N": round(t_lo / t_hi, 3),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "passes": eff >= 0.8,
    }
    print(json.dumps(summary))
    # BENCH.md is written/curated by hand from these summaries (it
    # aggregates multiple N/4N pairs plus methodology notes).


if __name__ == "__main__":
    main()
