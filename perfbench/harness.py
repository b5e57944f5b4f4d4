"""Session, timing and host-measurement helpers shared by the workloads.

Everything the benchmark writes goes under `<checkout>/.perfbench_work`:
Spark's local dirs, warehouse, JVM temp dir, event logs, generated
inputs and the per-run trace file.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

WORK_NAME = ".perfbench_work"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 4.0


def driver_memory() -> str:
    """An eighth of host RAM, capped at 2 GB: the largest cached input is
    well under 1 GB, and the rest of the memory stays with other processes."""
    return f"{max(1, min(2, int(host_mem_gb() / 8)))}g"


def start_session(root: str, work: str, cores: int, event_log: bool, app: str):
    """A local[cores] session fitted to the host. Calling it again after
    `spark.stop()` starts a new SparkContext in the same JVM (driver
    memory and JVM options stay those of the first call)."""
    from pyspark.sql import SparkSession

    from movingspark.session import JVM_CODEGEN_OPTS, tune_builder

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    b = (
        tune_builder(SparkSession.builder.master(f"local[{cores}]").appName(app))
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", f"{JVM_CODEGEN_OPTS} -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        el = os.path.join(work, "eventlog")
        os.makedirs(el, exist_ok=True)
        # the default codec (zstd) needs the zstandard module to read back
        b = (
            b.config("spark.eventLog.dir", "file://" + el)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    """Execute the whole plan (every column) without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """Highest percentile of `values` with at least `beyond` samples above
    it: (percentile, value, n). When that percentile would lie below the
    median (fewer than 2 * beyond samples), the sample does not support a
    tail and the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * beyond:
        return 100, float(xs[-1]), n
    i = n - beyond - 1
    return int(100 * (i + 1) // n), float(xs[i]), n


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------


def cpu_jiffies() -> list[int]:
    """user nice system idle iowait irq softirq steal, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def cpu_fractions(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = max(sum(d), 1)
    return {"steal_frac": d[7] / total, "sys_frac": d[2] / total, "busy_frac": 1 - (d[3] + d[4]) / total}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


# JIT compiler threads (names cut to 15 characters by the kernel)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the live threads of
    this process and its descendants (the JVM, Python workers), leaving
    out the JIT compiler's threads: a young JVM's compile backlog drains
    at a pace the host sets, and it is not work the program asked for."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            head, _, rest = stat.rpartition(")")
            if head.partition("(")[2].startswith(_JIT_THREADS):
                continue
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssTracker:
    """Peak resident memory of the Spark process tree (the JVM and its
    Python workers, i.e. every descendant of this process): the sum over
    processes of each one's VmHWM, keeping the highest reading of every
    pid seen, so workers that exited still count."""

    def __init__(self):
        self.hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            kb = _status_kb(pid, "VmHWM:")
            if kb > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = kb

    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0


# ---------------------------------------------------------------------------
# spans (traced run)
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans and counters recorded around calls into each
    engine layer; written out once when the run ends. A span's Spark jobs
    carry its name as job description, so the event-log parser can
    attribute task metrics to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(f"span:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            up = self.spans[self._stack[-1]]["name"] if self._stack else None
            self.sc.setJobDescription(f"span:{up}" if up else None)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f, indent=1)

