"""North-rule ship path: `spark-submit --py-files dist/movingspark.zip`
must run a pipeline with the engine imported FROM THE ZIP (no repo on
the python path) — the exact mechanics of shipping to a multi-executor
cluster, exercised for real in client mode."""

import inspect
import os
import subprocess
import sys

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def kalman_digest(spark):
    """md5 over the Kalman-smoothed rows (a grouped-map query) of a
    closed-form point table; run by the submitted job and in-repo."""
    import hashlib

    from movingspark import ingest, smooth

    pts = ingest.synth_skewed_points(spark, 2000, n_trajs=20).drop("value")
    rows = smooth.kalman_smooth(pts).orderBy("traj_id", "t").collect()
    return hashlib.md5(repr([tuple(r) for r in rows]).encode()).hexdigest()


JOB = inspect.getsource(kalman_digest) + """
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("submit-smoke")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# imports must resolve from the --py-files zip (job runs outside the repo)
from movingspark import ingest, joins

docs = ingest.synth_interleaved_docs(spark, 100)
bad = ingest.span_invariant_violations(docs).count()
pts = ingest.explode_doc_points(docs)
tiles = joins.tile_rollup(pts, res=3)
n_pts = pts.count()
n_tiles = tiles.count()
kalman = kalman_digest(spark)
print(f"SUBMIT_OK points={n_pts} tiles={n_tiles} violations={bad} kalman={kalman}")
spark.stop()
"""


def test_spark_submit_py_files_runs_pipeline(spark, tmp_path):
    # build the zip the north rule ships
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package.py")],
        capture_output=True, text=True, check=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    assert zip_path.endswith("movingspark.zip") and os.path.exists(zip_path)

    job = tmp_path / "job.py"
    job.write_text(JOB)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # run from tmp_path so the repo checkout is NOT importable: the only
    # way `import movingspark` works is through --py-files.
    r = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path, str(job)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    marker = [l for l in r.stdout.splitlines() if l.startswith("SUBMIT_OK")]
    assert marker, (r.stdout[-1000:], r.stderr[-1000:])
    parts = dict(p.split("=") for p in marker[0].split()[1:])
    assert int(parts["points"]) > 0 and int(parts["tiles"]) > 0
    assert parts["violations"] == "0"
    # the grouped-map query, with the engine (pyworker included) imported
    # from the zip in every worker, equals the in-repo run
    assert parts["kalman"] == kalman_digest(spark)
