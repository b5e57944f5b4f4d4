"""CPU seconds per unit of a perfbench workload, split by thread group.

Usage: python tools/cpu_split.py --workload {doc_pipeline,traj_analytics} --seed N --units K

Run from the repository root. The workload's inputs are generated from
`--seed` as `perfbench/run.py` generates them, the engine runs in this
process in a session from `perfbench.harness.start_session`, the
workload's own warm-up units run untimed, and then K units are timed.
Prints one JSON line: the CPU seconds (user + system) per unit of each
thread group, read from `/proc/<pid>/task/*/stat` of this process and
its descendants before and after the K units:

- `driver_python`: the threads of this Python process;
- `jvm_driver_py4j`: the JVM threads that serve Py4J calls (`Thread-N`):
  plan building, analysis and optimization, job submission;
- `executor_tasks`: `Executor task launch worker` threads;
- `gc`: the collector's threads (`G1 *`, `GC Thread#*`) and the
  `VM Thread`, which runs the stop-the-world operations;
- `jit`: the C1/C2 compiler threads, which perfbench's `unit_cpu_s`
  leaves out;
- `jvm_other`: every other JVM thread (scheduler, shuffle, listeners);
- `python_workers`: the Python worker processes, their reaped children
  included.

`total_excl_jit` is the sum perfbench's `unit_cpu_s` counts (threads
that live through the window). The line also gives the wall seconds per
unit, the host's steal share over the timed units and whether every
operation's output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

GROUPS = ("driver_python", "jvm_driver_py4j", "executor_tasks", "gc", "jit", "jvm_other", "python_workers")
_PY4J = re.compile(r"Thread-\d+$")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    head, _, rest = stat.rpartition(")")
    return head.partition("(")[2], rest.split()


def jvm_group(name: str) -> str:
    """Thread group of a JVM thread by its name (cut to 15 characters)."""
    if name.startswith("Executor task l"):
        return "executor_tasks"
    if name.startswith(("G1 ", "GC Thread")) or name == "VM Thread":
        return "gc"
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if _PY4J.match(name):
        return "jvm_driver_py4j"
    return "jvm_other"


def snapshot() -> Counter:
    """Clock ticks so far per thread group."""
    from perfbench.harness import descendants

    ticks: Counter = Counter()
    me = os.getpid()
    for pid in [me, *descendants(me)]:
        proc = _stat_fields(f"/proc/{pid}/stat")
        if proc is None:
            continue
        comm, fields = proc
        if pid != me and comm != "java":
            # utime, stime, cutime, cstime: a worker and its reaped children
            ticks["python_workers"] += sum(int(v) for v in fields[11:15])
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            th = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if th is None:
                continue
            group = "driver_python" if pid == me else jvm_group(th[0])
            ticks[group] += int(th[1][11]) + int(th[1][12])
    return ticks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="tools/cpu_split.py")
    ap.add_argument("--workload", required=True, choices=["doc_pipeline", "traj_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--units", type=int, default=4)
    args = ap.parse_args(argv)

    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Ctx, Outcome

    work = os.path.join(ROOT, harness.WORK_NAME, f"cpu_split-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = harness.host_cores()
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        wl.generate(Ctx(root=ROOT, work=work, seed=args.seed, seconds=0.0, trace=False, cores=cores, setup_reps=1))
        spark = harness.start_session(ROOT, work, cores, False, f"cpu_split-{wl.name}")
        wl.load(spark)
        ok = True
        for _ in range(wl.warmup_units):
            for _name, fn in wl.ops():
                ok &= bool(fn(spark))
        out = Outcome()
        wl.verify(spark, out)
        ok &= out.failed == 0
        jiffies0, before, t0 = harness.cpu_jiffies(), snapshot(), time.perf_counter()
        for _ in range(args.units):
            for _name, fn in wl.ops():
                ok &= bool(fn(spark))
        wall = time.perf_counter() - t0
        after, jiffies1 = snapshot(), harness.cpu_jiffies()
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    hz = os.sysconf("SC_CLK_TCK")
    per_unit = {g: (after[g] - before[g]) / hz / args.units for g in GROUPS}
    print(
        json.dumps(
            {
                "workload": wl.name,
                "seed": args.seed,
                "units": args.units,
                "cpu_s_per_unit": {g: round(v, 3) for g, v in per_unit.items()},
                "total_excl_jit": round(sum(v for g, v in per_unit.items() if g != "jit"), 3),
                "wall_s_per_unit": round(wall / args.units, 3),
                "steal_frac": round(harness.cpu_fractions(jiffies0, jiffies1)["steal_frac"], 4),
                "correct": ok,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
