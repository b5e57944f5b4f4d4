"""movingspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload doc_pipeline --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload's inputs are generated from
`--seed` (perfbench/gen.py), the engine runs in-process on
local[<cores>], every operation's output is checked, and the last line
of standard output is

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, measured for `--seconds` seconds after set-up. With
`--trace 1` they are the per-layer metrics: spans around each layer's
public functions plus task and SQL metrics from Spark's event log, and
for doc_pipeline a single-core baseline: a pass at local[1] with the
process tree pinned to one CPU by `taskset`.
A traced traj_analytics run also measures the layers of the
checkpointed_jobs workload, which BENCHMARK.json does not run on its own.
Layers a workload never calls read 0. The line before the result gives
the workload's own named metrics (docs_per_s, query_p50_s, query_tail_s,
cold_s, resume_s, stored_bytes_per_input_byte, peak_rss_mb, fail_frac,
...) with their sample counts, and the host's steal and system CPU
shares over the run. `--workload all` runs the three workloads in turn
in one process and prints one such line for each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
T_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.1f}s {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument(
        "--workload", required=True, choices=["doc_pipeline", "traj_analytics", "checkpointed_jobs", "all"],
        help="one workload, or all three in turn in one process (metrics then prefixed '<workload>.')",
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N] cores (default: all usable cores)")
    ap.add_argument("--setup-reps", type=int, default=3, help="set-ups per run; setup_s is their median")
    return ap.parse_args(argv)


def _timed_ops(spark, wl, out, seconds: float, rss, min_units: int = 1) -> tuple[dict, dict]:
    """Closed loop over the workload's operations for `seconds` and at
    least `min_units` whole units (three give every operation a median
    that one slow sample cannot move); returns ({op name: [latencies]},
    {op name: [CPU seconds of the process tree]})."""
    from perfbench.harness import tree_cpu_s

    times: dict[str, list[float]] = {name: [] for name, _ in wl.ops()}
    cpus: dict[str, list[float]] = {name: [] for name, _ in wl.ops()}
    end = time.perf_counter() + seconds
    units = 0
    while units < min_units or time.perf_counter() < end:
        for name, fn in wl.ops():
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                ok = fn(spark)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc()
                ok = False
            times[name].append(time.perf_counter() - t0)
            cpus[name].append(tree_cpu_s() - c0)
            out.check(ok, f"{name} output wrong")
            rss.sample()
            if units >= min_units and time.perf_counter() >= end:
                break
        units += 1
    return times, cpus


def _setup(ctx, wl, out, rss, event_log: bool, reps: int, warmup_units: int):
    """Start a session and load the input `reps` times (each after
    stopping the previous session), then run `warmup_units` untimed units.
    Returns the live session, the median start+load time, the warm-up
    time and the first start+load time (which includes the JVM launch)."""
    from perfbench.harness import median, start_session

    spark, loads = None, []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ctx.root, ctx.work, ctx.cores, event_log, f"perfbench-{wl.name}")
        wl.load(spark)
        loads.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for _ in range(warmup_units):
        for name, fn in wl.ops():
            out.check(fn(spark), f"warm-up {name} output wrong")
    warm = time.perf_counter() - t0
    rss.sample()
    return spark, median(loads), warm, loads[0]


def run_untraced(ctx, wl, out) -> tuple[dict, dict]:
    from perfbench import harness

    rss = harness.RssTracker()
    spark, load_s, warm_s, first_s = _setup(
        ctx, wl, out, rss, event_log=False, reps=ctx.setup_reps, warmup_units=wl.warmup_units
    )
    _log("set up")
    wl.verify(spark, out)
    _log("verified")
    times, cpus = _timed_ops(spark, wl, out, ctx.seconds, rss, wl.min_units)
    _log("measured")
    spark.stop()
    n = min(len(v) for v in times.values())
    unit_s = sum(harness.median(v) for v in times.values())
    unit_cpu_s = sum(harness.median(v) for v in cpus.values())
    metrics = {"setup_s": load_s + warm_s, "unit_cpu_s": unit_cpu_s}
    named = {
        **wl.named(times),
        **{f"{op}_p50_s": {"value": harness.median(v), "unit": "s", "n": len(v)} for op, v in times.items()},
        **{f"{op}_cpu_p50_s": {"value": harness.median(v), "unit": "s", "n": len(v)} for op, v in cpus.items()},
        "unit_s": {"value": unit_s, "unit": "s", "n": n},
        "unit_cpu_s": {"value": unit_cpu_s, "unit": "s", "n": n},
        "peak_rss_mb": {"value": rss.peak_mb(), "unit": "MB", "n": 1},
        "setup_s": {"value": load_s + warm_s, "unit": "s", "n": ctx.setup_reps},
        "session_load_s": {"value": load_s, "unit": "s", "n": ctx.setup_reps},
        "warmup_s": {"value": warm_s, "unit": "s", "n": 1},
        "jvm_start_load_s": {"value": first_s, "unit": "s", "n": 1},
        "fail_frac": {"value": out.failed / max(out.attempted, 1), "unit": "ratio", "n": out.attempted},
    }
    return metrics, named


def _pin(cpus: str) -> None:
    """Pin every thread of this process and of its children (the JVM)."""
    from perfbench.harness import descendants

    for pid in [os.getpid(), *descendants(os.getpid())]:
        subprocess.run(["taskset", "-a", "-p", "-c", cpus, str(pid)], stdout=subprocess.DEVNULL, check=False)


def _baseline(ctx, wl, out) -> float:
    """Time of one unit at local[1] with every thread of the process tree
    pinned to one CPU by `taskset`, after one untimed unit. The JVM is
    already warm, so this compares warm single-core with warm
    local[cores] time."""
    from perfbench.harness import start_session

    cpus = sorted(os.sched_getaffinity(0))
    _pin(str(cpus[0]))
    try:
        spark = start_session(ctx.root, ctx.work, 1, False, f"perfbench-{wl.name}-1core")
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            for name, fn in wl.ops():
                out.check(fn(spark), f"single-core {name} output wrong")
            times.append(time.perf_counter() - t0)
        spark.stop()
    finally:
        _pin(",".join(map(str, cpus)))
    return times[-1]


def run_traced(ctx, wl, out) -> tuple[dict, dict]:
    """Untraced units in a plain session, then traced units in a session
    with the event log on; per-layer numbers are per unit."""
    from perfbench import eventlog, harness
    from perfbench.metrics import LAYERS

    rss = harness.RssTracker()
    half = ctx.seconds / 2
    spark, *_ = _setup(ctx, wl, out, rss, event_log=False, reps=1, warmup_units=wl.warmup_units)
    wl.verify(spark, out)
    times, _ = _timed_ops(spark, wl, out, half, rss)
    n_units = min(len(v) for v in times.values())
    untraced_unit = sum(harness.median(v) for v in times.values())
    spark.stop()

    # same JVM, already warm: one warm-up unit readies the new session
    spark, *_ = _setup(ctx, wl, out, rss, event_log=True, reps=1, warmup_units=1)
    tr = harness.Tracer(spark)
    units, traced = 0, []
    end = time.perf_counter() + half
    t_wall = time.perf_counter()
    while units < 1 or time.perf_counter() < end:
        t0 = time.perf_counter()
        out.check(wl.traced_unit(spark, tr), "traced unit output wrong")
        traced.append(time.perf_counter() - t0)
        units += 1
        rss.sample()
    wall = time.perf_counter() - t_wall
    spark.sparkContext.setJobDescription(None)
    if hasattr(wl, "kernel_local_times"):
        wl.kernel_local_times(spark, tr)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    el = eventlog.parse(os.path.join(ctx.work, "eventlog", app_id), job_filter=lambda d: d.startswith("span:"))
    tot = el["total"]
    metrics = dict.fromkeys(LAYERS, 0.0)
    metrics.update(wl.layers(tr, units))
    metrics.update(
        {
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / units,
            "spark.shuffle_fetch_wait_s": tot["shuffle_fetch_wait_s"] / units,
            "spark.python_run_s": tot["python_run_s"] / units,
            "spark.arrow_bytes_sent": tot["arrow_bytes_sent"] / units,
            "spark.arrow_bytes_returned": tot["arrow_bytes_returned"] / units,
            "spark.codegen_s": tot["codegen_s"] / units,
            "spark.task_s": tot["task_s"] / units,
            "spark.driver_s": max(wall - tot["task_s"] / ctx.cores, 0.0) / units,
            "spark.gc_s": tot["gc_s"] / units,
            "spark.spill_bytes": tot["spill_bytes"] / units,
            "spark.failed_tasks": tot["failed_tasks"],
            "trace.untraced_unit_s": untraced_unit,
            "trace.traced_unit_s": harness.median(traced),
            "trace.overhead_s": harness.median(traced) - untraced_unit,
            "host.peak_rss_mb": rss.peak_mb(),
        }
    )
    out.check(tot["failed_tasks"] == 0, "failed Spark tasks")
    if wl.name == "doc_pipeline":
        one = _baseline(ctx, wl, out)
        metrics["scaling.single_core_pass_s"] = one
        metrics["scaling.efficiency"] = one / untraced_unit / ctx.cores
    named = {"units": {"untraced": n_units, "traced": units}, "by_tag": el["by_tag"]}
    traces = os.path.join(ctx.root, harness.WORK_NAME, "traces")
    os.makedirs(traces, exist_ok=True)
    tr.dump(os.path.join(traces, f"{wl.name}-{ctx.seed}.json"), {"eventlog": el, "metrics": metrics})
    return metrics, named


# workload -> a workload that BENCHMARK.json does not run (its runs are
# too slow for the benchmark's time limit) whose layers the former's
# traced run measures
TRACED_WITH = {"traj_analytics": "checkpointed_jobs"}


def run_companion(ctx, wl, out) -> dict:
    """`wl`'s per-layer numbers from one warm-up unit and one traced unit
    in a fresh session of the already warm JVM, without event log (the
    spark.* numbers stay those of the workload it rides with)."""
    from perfbench import harness

    wl.generate(ctx)
    spark, *_ = _setup(ctx, wl, out, harness.RssTracker(), event_log=False, reps=1, warmup_units=1)
    tr = harness.Tracer(spark)
    out.check(wl.traced_unit(spark, tr), f"traced {wl.name} unit output wrong")
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    return wl.layers(tr, 1)


def _stop_jvm() -> None:
    """Shut the Py4J gateway JVM down and wait for every child process."""
    from perfbench.harness import descendants

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
    except Exception:
        traceback.print_exc()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _run_one(args, name: str, out) -> tuple[dict, dict]:
    """Generate one workload's inputs and run it; returns (metrics, the
    named-metrics record printed before the result line)."""
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, harness.WORK_NAME, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Ctx(
        root=ROOT,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=args.cores or harness.host_cores(),
        setup_reps=max(1, args.setup_reps),
    )
    wl = WORKLOADS[name]()
    cpu0 = harness.cpu_jiffies()
    try:
        t0 = time.perf_counter()
        wl.generate(ctx)
        gen_s = time.perf_counter() - t0
        _log(f"{name}: inputs generated")
        metrics, named = (run_traced if ctx.trace else run_untraced)(ctx, wl, out)
        if ctx.trace and name in TRACED_WITH and args.workload != "all":
            metrics.update(run_companion(ctx, WORKLOADS[TRACED_WITH[name]](), out))
            _log(f"{name}: {TRACED_WITH[name]} layers measured")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = harness.cpu_fractions(cpu0, harness.cpu_jiffies())
    if ctx.trace:
        metrics["host.steal_frac"] = host["steal_frac"]
        metrics["host.sys_frac"] = host["sys_frac"]
    record = {"workload": name, "seed": ctx.seed, "cores": ctx.cores, "generate_s": gen_s, "host": host, "named": named}
    return metrics, record


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "movingspark", "__init__.py")):
        print("perfbench: no movingspark package here; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import END_TO_END, LAYERS
    from perfbench.workloads import WORKLOADS, Outcome

    units = LAYERS if args.trace else END_TO_END
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    out = Outcome()
    results, records = {}, []
    try:
        for name in names:
            metrics, record = _run_one(args, name, out)
            records.append(record)
            prefix = f"{name}." if args.workload == "all" else ""
            results.update({prefix + k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()})
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        _log("stopped")
    for p in out.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    for record in records:
        print(json.dumps(record))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
