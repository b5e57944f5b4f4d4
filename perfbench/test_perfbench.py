"""Tests of the benchmark's own helpers: the event-log parser (on a
hand-written log and on the log of a tiny Spark job), the median and
tail helpers and the metric lists.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, harness, metrics  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    assert harness.tail(range(1, 101)) == (90, 90.0, 100)
    pct, val, n = harness.tail([3.0] * 20 + [9.0] * 10)
    assert (pct, val, n) == (66, 3.0, 30)


def test_tail_of_few_samples_is_the_maximum():
    assert harness.tail([2.0, 1.0, 5.0]) == (100, 5.0, 3)
    assert harness.tail(list(range(19))) == (100, 18.0, 19)


def test_median():
    assert harness.median([4, 1, 3, 2]) == 2.5


def _plan(node, metrics, children=()):
    return {
        "nodeName": node,
        "metrics": [{"name": n, "accumulatorId": i, "metricType": t} for n, i, t in metrics],
        "children": list(children),
    }


def _task(stage, run_ms, accs, reason="Success", shuffle=0, fetch_ms=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [{"ID": i, "Name": "x", "Update": str(v)} for i, v in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 5,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_ms},
        },
    }


def test_parse_hand_written_log(tmp_path):
    plan = _plan(
        "WholeStageCodegen (1)",
        [("duration", 1, "timing")],
        [
            _plan(
                "MapInPandas",
                [
                    ("time to run Python workers", 2, "timing"),
                    ("data sent to Python workers", 3, "size"),
                    ("data returned from Python workers", 4, "size"),
                ],
            ),
            _plan("Exchange", [("duration", 5, "timing")]),  # not a codegen stage
        ],
    )
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {"spark.job.description": "span:a"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {}},
        _task(0, 1500, [(1, 700), (2, 400), (3, 1000), (4, 200), (5, 999)], shuffle=64, fetch_ms=20),
        _task(0, 500, [(1, 300)], reason="ExceptionFailure"),
        _task(1, 9000, [(1, 9000)]),  # untagged job: filtered out
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = eventlog.parse(str(path), job_filter=lambda d: d.startswith("span:"))
    tot = got["total"]
    assert got["jobs"] == 1
    assert tot["tasks"] == 2 and tot["failed_tasks"] == 1
    assert tot["task_s"] == pytest.approx(2.0)
    assert tot["gc_s"] == pytest.approx(0.01)
    assert tot["codegen_s"] == pytest.approx(1.0)
    assert tot["python_run_s"] == pytest.approx(0.4)
    assert tot["arrow_bytes_sent"] == 1000 and tot["arrow_bytes_returned"] == 200
    assert tot["shuffle_write_bytes"] == 64
    assert tot["shuffle_fetch_wait_s"] == pytest.approx(0.02)
    assert set(got["by_tag"]) == {"span:a"}


def test_parse_tiny_spark_job(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    spark = harness.start_session(ROOT, str(tmp_path), 2, True, "perfbench-test")
    try:
        tr = harness.Tracer(spark)

        def double(batches):
            for pdf in batches:
                pdf["v"] = pdf["v"] * 2
                yield pdf

        df = spark.range(20_000).select((F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v"))
        with tr.span("tiny"):
            harness.force(df.mapInPandas(double, df.schema).groupBy("k").agg(F.sum("v")))
        spark.range(10).count()  # untagged
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    got = eventlog.parse(os.path.join(str(tmp_path), "eventlog", app), job_filter=lambda d: d.startswith("span:"))
    tot = got["total"]
    assert set(got["by_tag"]) == {"span:tiny"}
    assert tot["tasks"] >= 2 and tot["failed_tasks"] == 0
    assert tot["task_s"] > 0 and tot["python_run_s"] > 0 and tot["codegen_s"] > 0
    assert tot["arrow_bytes_sent"] > 0 and tot["arrow_bytes_returned"] > 0
    assert tot["shuffle_write_bytes"] > 0
    assert tr.total_s("tiny") > 0


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == metrics.LAYERS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
