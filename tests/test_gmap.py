"""grouped_apply_sorted must equal groupBy().applyInPandas exactly,
including when a single trajectory spans MULTIPLE Arrow batches (the
batch-boundary carry path, and its transitive case: a group larger
than two batches). Kernels are defined inside the tests so cloudpickle
ships them by value to the workers."""

import json
import os
import subprocess
import sys

import pandas as pd

from movingspark.gmap import grouped_apply_sorted

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = "traj_id string, n long, x_first double, x_last double, y_sum double"


def _mk_points(spark, n_trajs=7, rows_per=23):
    rows = []
    for tid in range(n_trajs):
        for i in range(rows_per):
            rows.append(
                (str(tid), f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00", float(tid * 100 + i), float(i % 5))
            )
    pdf = pd.DataFrame(rows, columns=["traj_id", "t", "x", "y"])
    pdf["t"] = pd.to_datetime(pdf["t"])
    return spark.createDataFrame(pdf)


def test_grouped_apply_matches_applyinpandas_tiny_arrow_batches(spark):
    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        return pd.DataFrame(
            {
                "traj_id": [pdf["traj_id"].iloc[0]],
                "n": [len(pdf)],
                "x_first": [float(pdf["x"].iloc[0])],
                "x_last": [float(pdf["x"].iloc[-1])],
                "y_sum": [float(pdf["y"].sum())],
            }
        )

    df = _mk_points(spark)
    expected = sorted(
        map(tuple, df.groupBy("traj_id").applyInPandas(summarize, SCHEMA).collect())
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        # 23-row groups over 7-row batches: every group spans >=3 batches,
        # exercising the transitive carry (whole-batch single-group case)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = sorted(map(tuple, grouped_apply_sorted(df, summarize, SCHEMA).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == expected
    assert len(got) == 7 and all(r[1] == 23 for r in got)


def test_grouped_apply_filters_and_empty_groups(spark):
    def drop_evens(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["traj_id"].iloc[0] == "2":
            return pdf.iloc[0:0]  # empty result for one group
        return pdf[pdf["y"] % 2 == 0]

    df = _mk_points(spark, n_trajs=4, rows_per=9)
    schema = df.schema
    expected = sorted(
        map(tuple, df.groupBy("traj_id").applyInPandas(drop_evens, schema).collect())
    )
    got = sorted(map(tuple, grouped_apply_sorted(df, drop_evens, schema).collect()))
    assert got == expected
    assert not any(r[0] == "2" for r in got)


def test_each_group_arrives_time_sorted_with_a_fresh_range_index(spark):
    """The contract the per-trajectory kernels rely on instead of
    sorting again: one whole trajectory per call, rows in ascending t,
    index 0..n-1; here from input rows in reverse t order spread over
    several partitions, with groups that span several Arrow batches
    (23 rows) and groups that share one (3 rows)."""

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        assert pdf["t"].is_monotonic_increasing, pdf["t"].tolist()
        assert isinstance(pdf.index, pd.RangeIndex) and pdf.index.start == 0 and pdf.index.step == 1
        assert pdf["traj_id"].nunique() == 1
        return pd.DataFrame(
            {
                "traj_id": [pdf["traj_id"].iloc[0]],
                "n": [len(pdf)],
                "x_first": [float(pdf["x"].iloc[0])],
                "x_last": [float(pdf["x"].iloc[-1])],
                "y_sum": [float(pdf["y"].sum())],
            }
        )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        for n_trajs, rows_per in ((5, 23), (12, 3)):
            df = spark.createDataFrame(_mk_points(spark, n_trajs, rows_per).toPandas().iloc[::-1])
            assert df.rdd.getNumPartitions() > 1
            got = sorted(map(tuple, grouped_apply_sorted(df, check, SCHEMA).collect()))
            # x rises with t in every trajectory, so first/last x are the time ends
            y_sum = float(sum(i % 5 for i in range(rows_per)))
            want = [(str(i), rows_per, i * 100.0, i * 100.0 + rows_per - 1, y_sum) for i in range(n_trajs)]
            assert got == sorted(want)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


# One worker on local[1], so the addPyFile task runs in the worker the
# grouped-map query already patched (pyworker.prepare).
ADDPYFILE_JOB = """
import json, os, sys, zipfile
import pandas as pd
from pyspark.sql import SparkSession
from movingspark.gmap import grouped_apply_sorted

spark = (
    SparkSession.builder.master("local[1]")
    .appName("gmap-addpyfile")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")


def worker_state(probe):
    def run(it):
        import zipimport

        for _ in it:
            pass
        patched = zipimport.zipimporter.invalidate_caches.__module__ == "movingspark.pyworker"
        yield pd.DataFrame({"pid": [os.getpid()], "patched": [patched], "value": [probe()]})

    return run


df = spark.createDataFrame(
    [(str(i % 3), i, float(i), 0.0) for i in range(30)], "traj_id string, t long, x double, y double"
)
n_groups = grouped_apply_sorted(df, lambda pdf: pdf.head(1), df.schema).count()
schema = "pid long, patched boolean, value long"
before = df.coalesce(1).mapInPandas(worker_state(lambda: -1), schema).collect()

zip_path = os.path.join(sys.argv[1], "addpyfile_probe.zip")
with zipfile.ZipFile(zip_path, "w") as z:
    z.writestr("addpyfile_probe.py", "VALUE = 42\\n")
spark.sparkContext.addPyFile(zip_path)


def imported():
    import addpyfile_probe

    return addpyfile_probe.VALUE


after = df.coalesce(1).mapInPandas(worker_state(imported), schema).collect()
print("GMAP_ADDPYFILE " + json.dumps(
    {"groups": n_groups, "before": [r.asDict() for r in before], "after": [r.asDict() for r in after]}
))
spark.stop()
"""


def test_patched_worker_still_imports_an_added_py_file(tmp_path):
    """pyspark invalidates import caches per task so that sc.addPyFile
    archives become importable; the stat-checked invalidation installed
    by a grouped-map query must keep that contract."""
    r = subprocess.run(
        [sys.executable, "-c", ADDPYFILE_JOB, str(tmp_path)],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("GMAP_ADDPYFILE ")]
    assert line, (r.stdout[-1000:], r.stderr[-1000:])
    got = json.loads(line[0].split(" ", 1)[1])
    assert got["groups"] == 3
    assert [w["patched"] for w in got["before"]] == [True]
    (after,) = got["after"]
    assert after == {"pid": got["before"][0]["pid"], "patched": True, "value": 42}
