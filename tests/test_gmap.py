"""grouped_apply_sorted's array contract: fn(g) sees one whole
trajectory per call as numpy slices in t order and returns
(take, overrides); the result must equal groupBy().applyInPandas,
including when a trajectory spans several Arrow batches (the carry
path), for empty partitions, one-row trajectories and a null traj_id.
Each ported operator must equal applyInPandas of its former pandas
wrapper (tests/oracles.py). Kernels are defined inside the tests so
cloudpickle ships them by value to the workers."""

import contextlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import aggregate, clean, generalize, gmap, overlay, queries, schema, smooth, split, stops
from movingspark.gmap import grouped_apply_sorted
from tests import oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = "traj_id string, n long, x_first double, x_last double, y_sum double"


@contextlib.contextmanager
def conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


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


def _summary_kernels():
    # nested, so cloudpickle ships them by value
    def summarize(g):
        x = np.asarray(g["x"], float)
        return [0], {"n": [len(g)], "x_first": x[:1], "x_last": x[-1:], "y_sum": [float(np.sum(g["y"]))]}

    def summarize_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
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

    return summarize, summarize_pandas


summarize, summarize_pandas = _summary_kernels()


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_grouped_apply_matches_applyinpandas_tiny_arrow_batches(spark):
    df = _mk_points(spark)
    expected = _rows(df.groupBy("traj_id").applyInPandas(summarize_pandas, SCHEMA))
    # 23-row groups over 7-row batches: every group spans >=3 batches,
    # exercising the transitive carry (whole-batch single-group case)
    with conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "7"):
        got = _rows(grouped_apply_sorted(df, summarize, SCHEMA))
    assert got == expected
    assert len(got) == 7 and all(r[1] == 23 for r in got)


def test_grouped_apply_filters_and_empty_groups(spark):
    def drop_odd_y(g):
        if np.asarray(g["traj_id"])[0] == "2":
            return (), {}  # empty result for one group
        return np.flatnonzero(np.asarray(g["y"]) % 2 == 0), {}

    def drop_odd_y_pandas(pdf):
        if pdf["traj_id"].iloc[0] == "2":
            return pdf.iloc[0:0]
        return pdf[pdf["y"] % 2 == 0]

    df = _mk_points(spark, n_trajs=4, rows_per=9)
    expected = _rows(df.groupBy("traj_id").applyInPandas(drop_odd_y_pandas, df.schema))
    with conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "5"):
        got = _rows(grouped_apply_sorted(df, drop_odd_y, df.schema))
    assert got == expected
    assert not any(r[0] == "2" for r in got)


def test_each_group_arrives_whole_and_time_sorted(spark):
    """The contract the per-trajectory kernels rely on instead of
    sorting again: one whole trajectory per call, rows in ascending t;
    here from input rows in reverse t order spread over several
    partitions, with groups that span several Arrow batches (23 rows)
    and groups that share one (3 rows)."""

    def check(g):
        t = np.asarray(g["t"])
        assert t.dtype == np.dtype("datetime64[ns]") and (np.diff(t) > np.timedelta64(0)).all(), t
        assert len(set(np.asarray(g["traj_id"]))) == 1
        assert len(g) == len(g["x"]) == len(g["y"])
        return summarize(g)

    with conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "7"):
        for n_trajs, rows_per in ((5, 23), (12, 3)):
            df = spark.createDataFrame(_mk_points(spark, n_trajs, rows_per).toPandas().iloc[::-1])
            assert df.rdd.getNumPartitions() > 1
            got = sorted(map(tuple, grouped_apply_sorted(df, check, SCHEMA).collect()))
            # x rises with t in every trajectory, so first/last x are the time ends
            y_sum = float(sum(i % 5 for i in range(rows_per)))
            want = [(str(i), rows_per, i * 100.0, i * 100.0 + rows_per - 1, y_sum) for i in range(n_trajs)]
            assert got == sorted(want)


def test_empty_partitions_and_empty_input(spark):
    df = _mk_points(spark, n_trajs=2, rows_per=4)
    with conf(spark, "spark.sql.shuffle.partitions", "16"):
        got = _rows(grouped_apply_sorted(df, summarize, SCHEMA))
        assert [r[:2] for r in got] == [("0", 4), ("1", 4)]
        assert grouped_apply_sorted(df.limit(0), summarize, SCHEMA).collect() == []


def test_one_row_trajectories(spark):
    """One-row trajectories next to longer ones in one partition: Kalman
    leaves a one-row group as it is (no override) while the groups around
    it in the same batch replace x and y."""
    df = _mk_points(spark, n_trajs=9, rows_per=1).union(_mk_points(spark, n_trajs=3, rows_per=5))
    expected = _rows(df.groupBy("traj_id").applyInPandas(summarize_pandas, SCHEMA))
    kalman = _rows(df.groupBy("traj_id").applyInPandas(oracles.by_time(oracles.kalman_pandas()), df.schema))
    with (
        conf(spark, "spark.sql.shuffle.partitions", "1"),
        conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "4"),
    ):
        assert _rows(grouped_apply_sorted(df, summarize, SCHEMA)) == expected
        assert _rows(smooth.kalman_smooth(df)) == kalman != _rows(df)


def test_null_traj_id_is_one_group_bounded_by_values(spark):
    """Null next to null is one group, null next to a value a boundary
    (Spark's groupBy groups nulls the same way); one partition holds all
    groups, and the null group spans batches, so the carry must compare
    null keys as equal too."""
    pdf = _mk_points(spark, n_trajs=3, rows_per=6).toPandas()
    pdf.loc[pdf["traj_id"] == "1", "traj_id"] = None
    df = spark.createDataFrame(pdf, "traj_id string, t timestamp, x double, y double")
    expected = _rows(df.groupBy("traj_id").applyInPandas(summarize_pandas, SCHEMA))
    assert sorted(r[1] for r in expected) == [6, 6, 6]
    for batch in ("2", "4", "10000"):
        with (
            conf(spark, "spark.sql.shuffle.partitions", "1"),
            conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", batch),
        ):
            assert _rows(grouped_apply_sorted(df, summarize, SCHEMA)) == expected


def test_list_matrix_reads_a_sliced_array():
    import pyarrow as pa

    arr = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], pa.list_(pa.float32())).slice(1, 2)
    got = gmap.list_matrix(arr)
    assert got.dtype == np.float64 and np.array_equal(got, [[1.0, 2.0], [3.0, 4.0]])
    assert gmap.list_matrix(arr.slice(0, 0)).shape[0] == 0


@pytest.mark.parametrize("rows", [[[1.0, 2.0], [3.0]], [[1.0, 2.0], None]], ids=["ragged", "null"])
def test_list_matrix_rejects_ragged_and_null_rows(rows):
    import pyarrow as pa

    with pytest.raises(ValueError):
        gmap.list_matrix(pa.array(rows))


def test_seconds_is_ns_over_1e9_not_us_over_1e6():
    """ns counts exceed 2^53, so int64 ns -> float64 rounds before the
    division; the engine has always divided the rounded ns by 1e9, and
    us / 1e6 differs from that in the last bit for some instants."""
    rng = np.random.default_rng(0)
    us = rng.integers(1_600_000_000_000_000, 1_800_000_000_000_000, 20_000)
    ns = us * 1000
    want = ns.astype(np.float64) / 1e9
    t = ns.view("datetime64[ns]")
    assert np.array_equal(gmap.seconds(t), want)
    assert np.array_equal(gmap.seconds(pd.Series(t)), want)
    assert np.array_equal(gmap.seconds(us.view("datetime64[us]")), want)
    assert (us / 1e6 != want).any()
    assert np.array_equal(gmap.timestamps(want).view(np.int64), ns)


# ---------------------------------------------------------------------------
# every ported operator == applyInPandas of its former pandas wrapper
# ---------------------------------------------------------------------------

POLYGON = [(150.0, 100.0), (900.0, 150.0), (800.0, 700.0), (300.0, 850.0), (120.0, 500.0)]


@pytest.fixture(scope="module")
def seeded_points(spark):
    """Random walks with dwells (stops), crossings of POLYGON (clip),
    one-row and two-row trajectories; distinct t within each trajectory."""
    rng = np.random.default_rng(11)
    rows = []
    for k in range(14):
        n = [1, 2, 3][k] if k < 3 else int(rng.integers(20, 140))
        t = 1_704_067_200.0 + np.cumsum(rng.uniform(5.0, 90.0, n))
        step = rng.normal(0.0, 25.0, (n, 2))
        dwell = rng.random(n) < 0.35
        step[dwell] = rng.normal(0.0, 1.0, (int(dwell.sum()), 2))
        xy = rng.uniform(0.0, 1000.0, 2) + np.cumsum(step, axis=0)
        rows += [(f"tr{k}", int(round(s * 1e6)), float(a), float(b)) for s, (a, b) in zip(t, xy)]
    pdf = pd.DataFrame(rows, columns=["traj_id", "t_us", "x", "y"])
    df = spark.createDataFrame(pdf).select("traj_id", F.timestamp_micros("t_us").alias("t"), "x", "y")
    return df.persist()


def _parent_schema(df):
    return T.StructType(df.schema.fields + [T.StructField("parent", T.StringType())])


def _by_time(df, fn, out_schema):
    return df.groupBy("traj_id").applyInPandas(oracles.by_time(fn), out_schema)


def test_ported_operators_equal_their_pandas_wrappers(spark, seeded_points, monkeypatch):
    pts = seeded_points
    masks = []
    real_filter = generalize._grouped_filter

    def spy(df, mask_fn):
        masks.append(mask_fn)
        return real_filter(df, mask_fn)

    monkeypatch.setattr(generalize, "_grouped_filter", spy)
    generalizers = [
        generalize.min_distance(pts, 30.0),
        generalize.min_timedelta(pts, 200.0),
        generalize.max_distance(pts, 20.0),
        generalize.douglas_peucker(pts, 25.0),
        generalize.top_down_time_ratio(pts, 25.0),
    ]
    d, (dircol, spcol) = split._own_columns(pts, [schema.DIRECTION, schema.SPEED], False)
    cases = {
        "stops": (
            stops.get_stop_time_ranges(pts, 40.0, 300.0),
            _by_time(pts, oracles.stops_pandas(40.0, 300.0), stops.RANGE_SCHEMA),
        ),
        "clip": (overlay.clip(pts, POLYGON), _by_time(pts, oracles.clip_pandas(POLYGON), _parent_schema(pts))),
        "clip_points": (
            overlay.clip(pts, POLYGON, point_based=True),
            _by_time(pts, oracles.clip_pandas(POLYGON, True), _parent_schema(pts)),
        ),
        "kalman": (smooth.kalman_smooth(pts), _by_time(pts, oracles.kalman_pandas(), pts.schema)),
        "outlier": (
            clean.outlier_clean(pts, alpha=1.0),
            _by_time(pts, oracles.outlier_clean_pandas(alpha=1.0), pts.schema),
        ),
        "angle_split": (
            split.split_by_angle_change(pts, 30.0),
            _by_time(d, oracles.angle_split_pandas(dircol, spcol, 30.0), _parent_schema(d)).drop(dircol, spcol),
        ),
        "mcp": (
            queries.get_mcp(pts),
            _by_time(pts, oracles.hull_pandas, "traj_id string, vertex int, x double, y double"),
        ),
        "significant": (
            aggregate.extract_significant_points(pts, 120.0, 40.0, 300.0),
            _by_time(
                pts,
                oracles.significant_points_pandas(120.0, 40.0, 300.0),
                "traj_id string, seq long, x double, y double",
            ),
        ),
    }
    for i, (got, mask_fn) in enumerate(zip(generalizers, masks)):
        cases[f"generalize{i}"] = (got, _by_time(pts, oracles.grouped_filter_pandas(mask_fn), pts.schema))
    with conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "50"):
        for name, (got, want) in cases.items():
            assert got.schema == want.schema, name
            g, w = _rows(got), _rows(want)
            assert g == w, name
            assert g or name == "clip_points", name


def test_stops_and_clip_instants_do_not_depend_on_the_session_zone(spark, seeded_points):
    def instants():
        ranges = stops.get_stop_time_ranges(seeded_points, 40.0, 300.0)
        clipped = overlay.clip(seeded_points, POLYGON)
        return (
            _rows(ranges.select("traj_id", F.unix_micros("start_t"), F.unix_micros("end_t"))),
            _rows(clipped.select("traj_id", F.unix_micros("t"), "x", "y")),
        )

    utc = instants()
    assert utc[0] and utc[1]
    for zone in ("America/New_York", "Asia/Kolkata"):
        with conf(spark, "spark.sql.session.timeZone", zone):
            assert instants() == utc, zone


def test_bench_kernels_run_on_a_pandas_frame_of_one_trajectory(spark, seeded_points):
    """perfbench's traced mode times each grouped-map kernel by calling
    it on a pandas frame of one trajectory (TrajAnalytics.
    kernel_local_times); the rows each call keeps must add up to the
    Spark query's row count."""
    from perfbench.workloads import TrajAnalytics

    class Tracer:
        def __init__(self):
            self.counts = {}

        def count(self, name, value):
            self.counts[name] = value

    bench = TrajAnalytics()
    bench.pts, bench.polygon = seeded_points, POLYGON
    tr = Tracer()
    bench.kernel_local_times(spark, tr)
    assert set(tr.counts) == set(TrajAnalytics.kernel_layers.values())
    assert all(v > 0 for v in tr.counts.values())

    real = gmap.grouped_apply_sorted
    pdf = seeded_points.toPandas().sort_values(["traj_id", "t"])
    for q in TrajAnalytics.kernel_layers:
        captured = []
        gmap.grouped_apply_sorted = lambda df, fn, schema: captured.append(fn) or real(df, fn, schema)
        try:
            n_spark = bench.build(spark, q).count()
        finally:
            gmap.grouped_apply_sorted = real
        n_local = sum(len(captured[0](g.reset_index(drop=True))[0]) for _, g in pdf.groupby("traj_id"))
        assert n_local == n_spark > 0, q


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
n_groups = grouped_apply_sorted(df, lambda g: ([0], {}), df.schema).count()
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
