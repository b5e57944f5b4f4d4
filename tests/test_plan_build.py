"""Plan building: generated expressions are one SQL text each, their
literals are exact, and driver-built frames are LocalRelations."""

import math
import struct
import threading
from unittest import mock

import numpy as np
import py4j.java_gateway as jg
import pytest

from movingspark import aggregate, cells, geofence, ingest, joins, pairs, raster, schema, similarity
from perfbench.gen import make_polygons


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_double_literals_round_trip_bit_identically(spark):
    rng = np.random.default_rng(11)
    raw = rng.integers(0, 2**64, 300, dtype=np.uint64).view(np.float64)
    scaled = rng.standard_normal(300) * 10.0 ** rng.integers(-320, 300, 300)
    special = [
        -0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1.7976931348623157e308,
        -1.7976931348623157e308, 0.1, -0.1, 1 / 3, -180.0, 1e16, 1e-12,
        math.nan, math.inf, -math.inf,
    ]
    vals = special + [float(v) for v in np.concatenate([raw, scaled]) if math.isfinite(v)]
    assert any(v < 0 for v in vals)
    text = ", ".join(f"{cells.sql_double(v)} AS c{i}" for i, v in enumerate(vals))
    got = list(spark.sql(f"SELECT {text}").collect()[0])
    for v, g in zip(vals, got):
        if math.isnan(v):
            assert math.isnan(g)
        else:
            assert _bits(g) == _bits(v), (v, g)


def _square(x0, y0, side=10.0):
    return np.array([(x0, y0), (x0 + side, y0), (x0 + side, y0 + side), (x0, y0 + side)])


def test_poly_id_with_quote_and_backslash_comes_back_unchanged(spark):
    """Points in boundary cells pass the generated refine predicate only
    if its poly_id literal equals the id in the cover frame."""
    ids = ["it's", "back\\slash", "\\'", "''", "plain"]
    polys = [(pid, _square(20.0 * i, 0.0)) for i, pid in enumerate(ids)]
    rows, want = [], set()
    for i, pid in enumerate(ids):
        x0 = 20.0 * i
        for k, (x, y, inside) in enumerate(
            [(x0 + 5, 5.0, True), (x0 + 0.1, 5.0, True), (x0, 2.0, True), (x0 - 0.1, 5.0, False)]
        ):
            rows.append((f"{i}-{k}", 0, x, y))
            if inside:
                want.add((f"{i}-{k}", pid))
    df = spark.createDataFrame(rows, "traj_id string, t long, x double, y double")
    got = {(r["traj_id"], r["poly_id"]) for r in joins.point_in_polygon_join(df, polys, res=8).collect()}
    assert got == want


def _py4j_calls(build) -> int:
    """Py4J commands the calling thread sends while `build()` runs (after
    one warm-up build, so one-time JVM class lookups do not count). py4j's
    FinalizerWorker thread sends the deletes of Java proxies freed earlier,
    by any test, on its own 1 s schedule; they are not the build's."""
    build()
    n = 0
    send = jg.GatewayClient.send_command
    caller = threading.current_thread()

    def counting(self, *args, **kwargs):
        nonlocal n
        n += threading.current_thread() is caller
        return send(self, *args, **kwargs)

    with mock.patch.object(jg.GatewayClient, "send_command", counting):
        build()
    return n


@pytest.fixture(scope="module")
def hexagons():
    rng = np.random.default_rng(1)
    centres = np.column_stack([rng.uniform(-150, 150, 4), rng.uniform(-60, 60, 4)])
    return [(pid, np.asarray(v, float)) for pid, v in make_polygons(rng, centres)]


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame([("a", 0, 1.0, 2.0)], "traj_id string, t long, x double, y double")


def test_py4j_calls_per_build_stay_within_budget(points, hexagons):
    """Building (not running) each plan costs a few dozen Py4J round
    trips, not one per Column operation (about 10 000 for the join)."""
    assert all(len(v) == 6 for _, v in hexagons)
    assert _py4j_calls(lambda: joins.point_in_polygon_join(points, hexagons)) <= 150
    assert _py4j_calls(lambda: joins.with_cell(points, 8)) <= 10
    assert _py4j_calls(lambda: geofence.geofence_events(points, hexagons[0][1])) <= 300
    assert _py4j_calls(lambda: joins.intersecting_traj_ids_line(points, hexagons[0][1])) <= 200


def test_doc_builders_stay_within_py4j_budget(spark):
    """The doc builders compose each plan level as SQL text: a few Py4J
    calls per level (204 for the explode and 619 for the span invariant
    when they were built one Column at a time)."""
    docs = ingest.synth_interleaved_docs(spark, 10)
    assert _py4j_calls(lambda: ingest.explode_doc_points(docs)) <= 20
    assert _py4j_calls(lambda: ingest.span_invariant_violations(docs)) <= 60


def _is_local_relation(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")


def test_cover_frame_is_a_local_relation(spark, hexagons):
    """The cover frame's first three columns hold the polygon cover; the
    rest are the clipped refine's NOT NULL `base` bit and edge slots."""
    cover = joins.cover_to_df(spark, hexagons, 8)
    rows = [
        (int(c), pid, bool(f))
        for pid, v in hexagons
        for c, f in zip(*cells.polygon_cover(v, 8))
    ]
    want = spark.createDataFrame(rows, "cell long, poly_id string, full boolean")
    k = joins._cover_table(hexagons, 8, cells.WORLD)[1]
    slots = [f"e{i}_{name}" for i in range(k) for name in joins._SLOT]
    assert _is_local_relation(cover) and k >= 1
    assert cover.columns == [*want.columns, "base", *slots]
    assert cover.schema.fields[:3] == want.schema.fields
    assert [f.dataType.simpleString() for f in cover.schema.fields[3:]] == ["boolean"] + ["double"] * len(slots)
    assert not any(f.nullable for f in cover.schema.fields[3:])
    assert cover.select(*want.columns).collect() == want.collect()
    empty = joins.cover_to_df(spark, [], 8)
    assert _is_local_relation(empty) and empty.columns == [*want.columns, "base"] and empty.collect() == []
    assert empty.schema.fields[:3] == want.schema.fields


def test_driver_built_frames_are_local_relations(spark, tmp_path, monkeypatch):
    """Every engine site that builds a frame from driver rows gets a
    LocalRelation with the rows and schema a tuple-list frame has."""
    built = []

    def recording(spark_, rows, ddl):
        rows = list(rows)
        df = schema.local_frame(spark_, rows, ddl)
        built.append((rows, ddl, df))
        return df

    for mod in (aggregate, pairs, raster, similarity):
        monkeypatch.setattr(mod, "local_frame", recording)

    rng = np.random.default_rng(5)
    xy = rng.uniform(0, 100, (80, 2))
    sig = spark.createDataFrame(
        [(str(i % 4), i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "traj_id string, seq long, x double, y double",
    )
    aggregate.cluster_significant_points(sig, max_distance=10.0)
    pts = sig.withColumnRenamed("seq", "t")
    pairs.trajectory_pair_metrics(pts, [(0, 1), ("2", "3")])
    raster.raster_regions(pts, 4, 1, (0.0, 0.0, 100.0, 100.0))
    X = rng.standard_normal((60, 4))
    corpus = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(60)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, path, n_centroids=4)
    similarity.ivf_topk_indexed(spark, path, {0: X[0], 7: X[7]}, k=3, nprobe=2)

    assert [ddl for _, ddl, _ in built] == [
        "cluster_id string, cx double, cy double, n long",
        "traj_a string, traj_b string",
        "region_id long, n_cells long, n_points long, "
        "x_min double, y_min double, x_max double, y_max double",
        "bucket int, centroid array<double>",
        "query_id int, bucket int",
    ]
    for rows, ddl, df in built:
        assert rows, ddl
        want = spark.createDataFrame(rows, ddl)
        assert _is_local_relation(df), ddl
        assert df.schema == want.schema, ddl
        assert df.collect() == want.collect(), ddl
