"""Spark event-log parser: task and SQL metrics summed into layer numbers.

Reads an uncompressed JSON-lines event log (a file, or a directory of
rolled `events_<n>_*` files) and sums, over the tasks of every job whose
description passes `job_filter`:

- task metrics: run time, GC time, shuffle bytes written, shuffle fetch
  wait, spill, failed tasks;
- SQL metrics, attributed to plan nodes through the accumulator ids that
  `SparkListenerSQLExecutionStart` / `SQLAdaptiveExecutionUpdate` list:
  whole-stage-codegen duration, and the Python-worker run time and Arrow
  bytes sent/returned of the pandas-UDF nodes. Codegen durations nest (a
  stage that builds a cached plan inside its own pipeline counts that
  plan's time too), so codegen_s can exceed task_s.

Per job description, the same sums are kept in `by_tag`.
"""

from __future__ import annotations

import json
import os

_SQL_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)

# (plan metric name, metric type) -> layer key and scale to seconds/bytes
_SQL_METRICS = {
    ("duration", "timing"): ("codegen_s", 1e-3),
    ("time to run Python workers", "timing"): ("python_run_s", 1e-3),
    ("data sent to Python workers", "size"): ("arrow_bytes_sent", 1.0),
    ("data returned from Python workers", "size"): ("arrow_bytes_returned", 1.0),
}

KEYS = (
    "task_s",
    "tasks",
    "failed_tasks",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "codegen_s",
    "python_run_s",
    "arrow_bytes_sent",
    "arrow_bytes_returned",
)


def log_files(path: str) -> list[str]:
    """The log at `path`: a single file, its `.inprogress` twin, or the
    `events_<n>_<app>` files of a rolled log directory in order."""
    if not os.path.exists(path) and os.path.exists(path + ".inprogress"):
        path += ".inprogress"
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def _walk_plan(node: dict, acc: dict) -> None:
    for m in node.get("metrics", []):
        key = _SQL_METRICS.get((m["name"], m["metricType"]))
        if key is None:
            continue
        name = node.get("nodeName", "")
        if key[0] == "codegen_s" and not name.startswith("WholeStageCodegen"):
            continue
        acc[int(m["accumulatorId"])] = key
    for child in node.get("children", []):
        _walk_plan(child, acc)


def _zero() -> dict:
    return {k: 0.0 for k in KEYS}


def parse(path: str, job_filter=None) -> dict:
    """Sum layer numbers over the log at `path`. `job_filter(description)`
    selects jobs (None: every job). Returns {"total": {...}, "by_tag":
    {description: {...}}, "jobs": n}."""
    acc_keys: dict[int, tuple[str, float]] = {}
    stage_tag: dict[int, str] = {}
    total = _zero()
    by_tag: dict[str, dict] = {}
    n_jobs = 0
    tasks: list[dict] = []
    for fn in log_files(path):
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev in _SQL_EVENTS:
                    _walk_plan(e.get("sparkPlanInfo", {}), acc_keys)
                elif ev == "SparkListenerJobStart":
                    tag = (e.get("Properties") or {}).get("spark.job.description") or ""
                    if job_filter is not None and not job_filter(tag):
                        continue
                    n_jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_tag[int(sid)] = tag
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    # accumulator ids can be announced by an adaptive update after the
    # first tasks end, so tasks are attributed once the whole log is read
    for e in tasks:
        tag = stage_tag.get(int(e.get("Stage ID", -1)))
        if tag is None:
            continue
        row = _task_row(e, acc_keys)
        bucket = by_tag.setdefault(tag, _zero())
        for k, v in row.items():
            total[k] += v
            bucket[k] += v
    return {"total": total, "by_tag": by_tag, "jobs": n_jobs}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task_row(e: dict, acc_keys: dict) -> dict:
    row = _zero()
    row["tasks"] = 1
    reason = (e.get("Task End Reason") or {}).get("Reason")
    if reason != "Success":
        row["failed_tasks"] = 1
    tm = e.get("Task Metrics") or {}
    row["task_s"] = _num(tm.get("Executor Run Time")) / 1e3
    row["gc_s"] = _num(tm.get("JVM GC Time")) / 1e3
    row["spill_bytes"] = _num(tm.get("Disk Bytes Spilled"))
    row["shuffle_write_bytes"] = _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    row["shuffle_fetch_wait_s"] = _num((tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time")) / 1e3
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = acc_keys.get(int(a.get("ID", -1)))
        if key is not None:
            row[key[0]] += _num(a.get("Update")) * key[1]
    return row
