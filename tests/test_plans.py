"""Physical-plan regression tests: the scale properties the engine
guarantees are asserted on the EXPLAIN output so a refactor cannot
silently reintroduce a shuffle, a Python stage, or a sort-exchange.
"""

import contextlib
import io
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from movingspark import cells, derive, joins
from tests.conftest import rows_to_points


def _no_python_exec(plan: str) -> bool:
    """True when no PYTHON WORKER executes in the plan (a local
    createDataFrame scan mentions Python harmlessly)."""
    return not re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    return len([ln for ln in plan.splitlines() if re.match(r"^\(\d+\) Exchange", ln)])


def _pts(spark, n=50):
    rows = [(i % 5, f"2020-01-01T00:{i // 5:02d}:00", float(i), float(i % 7)) for i in range(n)]
    return rows_to_points(spark, rows)


def test_pip_join_no_point_shuffle_no_python(spark):
    """Point-in-polygon never shuffles the point table and never leaves
    the JVM for driver-known polygons <= 256 verts: broadcast cell cover
    + codegen'd ray-cast refine."""
    df = _pts(spark)
    poly = [(3, 1), (40, 1), (40, 6), (3, 6)]
    plan = plan_of(joins.point_in_polygon_join(df, [("p", poly)], res=5, bounds=(0.0, 0.0, 64.0, 8.0)))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only exchange allowed is the broadcast itself
    assert n_exchanges(plan) == 0
    assert _no_python_exec(plan)


# HotSpot's fixed HugeMethodLimit: a method with more bytecode than this
# is never JIT-compiled and runs in the bytecode interpreter
HUGE_METHOD_BYTES = 8000


def max_method_bytecode(df) -> int:
    """Bytecode size of the largest generated method over every
    whole-stage-codegen subtree of `df`'s executed plan, planned with AQE
    off (an adaptive plan shows its stages only once they run)."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    stages = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    return max(stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size()))


@pytest.fixture(scope="module")
def doc_table(spark, tmp_path_factory):
    """A small perfbench doc table read from parquet, and its four
    hexagons."""
    from movingspark import catalog
    from perfbench import gen

    table, polygons = gen.gen_docs(gen.DocParams(n_docs=200), 1)
    path = str(tmp_path_factory.mktemp("docs"))
    gen.write_parts(table, path, n_files=2)
    return catalog.read_table(spark, path), polygons


@pytest.fixture(scope="module")
def doc_points(doc_table):
    """Exploded points of the doc table (the doc pass's join stage:
    scan, explode, parse, cell id, probe) and its four hexagons."""
    from movingspark import ingest

    docs, polygons = doc_table
    return ingest.explode_doc_points(docs), polygons


def _hexagons(n, seed):
    from perfbench.gen import make_polygons

    rng = np.random.default_rng(seed)
    return make_polygons(rng, np.column_stack([rng.uniform(-150, 150, n), rng.uniform(-60, 60, n)]))


def test_pip_join_stage_is_jit_compilable(doc_points):
    """The doc join stage's consume method stays under the JIT's method
    limit: four bench hexagons at res 8 (23 948 bytes as one OR over
    every polygon's unrolled ray cast), 40 hexagons, and a polygon set
    whose boundary rows need exactly joins._PIP_SLOT_CAP edge slots."""
    pts, hexagons = doc_points
    cap = joins._PIP_SLOT_CAP
    ang = np.linspace(0.0, 2 * np.pi, cap, endpoint=False)
    # a cap-gon in the clamped border column keeps all its edges there
    border = ("border", np.column_stack([-177.5 + 3.0 * np.cos(ang), 3.0 * np.sin(ang)]))
    cases = {"bench": hexagons, "40 hexagons": _hexagons(40, 2), "at the cap": [*hexagons, border]}
    assert joins._cover_table(cases["at the cap"], 8, cells.WORLD)[1] == cap
    for name, polygons in cases.items():
        joined = joins.point_in_polygon_join(pts, polygons, res=8)
        assert _no_python_exec(plan_of(joined)), name
        assert max_method_bytecode(joined) <= HUGE_METHOD_BYTES, name


def _star12(inner, seed):
    """A 12-vertex star of radius about 10: alternate vertices at radius
    `inner` x 10."""
    rng = np.random.default_rng(seed)
    ang = (np.arange(12) + rng.uniform(-0.2, 0.2, 12)) * (np.pi / 6)
    rad = np.where(np.arange(12) % 2 == 0, 1.0, inner) * rng.uniform(0.9, 1.1, 12)
    return np.column_stack([np.cos(ang), np.sin(ang)]) * (10.0 * rad[:, None])


@pytest.fixture(scope="module")
def track_points(spark, tmp_path_factory):
    """Random-walk points read back from parquet, as the registry's
    trajectory queries read them."""
    rng = np.random.default_rng(9)
    xy = np.cumsum(rng.normal(0.0, 2.0, (20, 50, 2)), axis=1)
    rows = [(i // 50, f"2020-01-01T00:00:{i % 50:02d}", x, y) for i, (x, y) in enumerate(xy.reshape(-1, 2))]
    path = str(tmp_path_factory.mktemp("tracks") / "points")
    rows_to_points(spark, rows).write.parquet(path)
    return spark.read.parquet(path)


def test_geofence_and_line_test_stages_are_jit_compilable(track_points):
    """geofence_events' flag stage with a fence whose cover rows need
    exactly joins._PIP_SLOT_CAP slots (its left join makes every slot
    nullable, which costs bytecode), and the line test on a rectangle
    (17 828 bytes when every edge was unrolled into one predicate) and
    on that fence, stay under the JIT's method limit with no Python."""
    from movingspark import geofence

    star = _star12(0.1, 0)
    k = joins._cover_table([("f", star)], joins._POLY_RES, joins._poly_bounds(star))[1]
    assert k == joins._PIP_SLOT_CAP
    frames = {
        "geofence": geofence.geofence_events(track_points, star),
        "line, rectangle": joins.intersecting_traj_ids_line(track_points, [(-5, 5), (5, 5), (5, -5), (-5, -5)]),
        "line, star": joins.intersecting_traj_ids_line(track_points, star),
    }
    for name, df in frames.items():
        assert _no_python_exec(plan_of(df)), name
        assert max_method_bytecode(df) <= HUGE_METHOD_BYTES, name


def test_span_invariant_one_scan_one_exchange(doc_table):
    """The span invariant reads the docs once and shuffles once, on
    doc_id: both digests come out of the reassembly's own aggregate,
    with no join between them."""
    from movingspark import ingest

    bad = ingest.span_invariant_violations(doc_table[0])
    plan = plan_of(bad)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert n_exchanges(plan) == 1
    assert "SortMergeJoin" not in plan
    assert _no_python_exec(plan)
    assert max_method_bytecode(bad) <= HUGE_METHOD_BYTES


def test_knn_join_partial_min_by_no_sort_exchange(spark):
    """k=1 kNN aggregates map-side (partial_min_by) — the explain must
    show partial aggregation and NO exchange keyed by the near-unique
    point tuple (the round-1 row_number window shape)."""
    df = _pts(spark)
    cents = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 30.0, 5.0)], "cluster_id string, cx double, cy double"
    )
    plan = plan_of(joins.knn_join(df, cents, k=1))
    assert "partial_min_by" in plan
    assert "Window" not in plan


def test_canonical_ingest_single_exchange(spark):
    """Dedup + validity count + derived kinematics all reuse ONE
    (traj_id) hash partitioning — two exchanges would mean the dedup
    window regressed to a (traj_id, t) partitioning."""
    from movingspark import ingest

    df = _pts(spark)
    pts = ingest.make_traj_points(df, "traj_id", "t", "x", "y", tiebreak="x")
    plan = plan_of(derive.add_all_kinematics(pts))
    assert n_exchanges(plan) == 1, plan


def test_line_intersects_single_window_no_python(spark):
    """Line-based intersects: one per-traj window (segments), codegen'd
    segment tests, no Python for small polygons."""
    df = _pts(spark)
    poly = [(3, 1), (40, 1), (40, 6), (3, 6)]
    plan = plan_of(joins.intersecting_traj_ids_line(df, poly))
    assert _no_python_exec(plan)
    assert len([ln for ln in plan.splitlines() if re.match(r"^\(\d+\) Window", ln)]) == 1


def test_add_simhash_single_exchange_partial_agg_no_python(spark):
    """SimHash scale path: explode + one md5/token + vote sums must stay
    a codegen'd partial+final hash aggregate with exactly ONE exchange
    (the doc_id hash) — no join-back, no Python stage."""
    from movingspark.text import add_simhash

    docs = spark.createDataFrame(
        [(i, f"word{i} the and of common text here") for i in range(20)],
        "doc_id long, text string",
    )
    plan = plan_of(add_simhash(docs, "doc_id", "text"))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan
    assert _no_python_exec(plan)


def test_ann_topk_partial_window_group_limit_before_exchange(spark):
    """ANN final top-k must be two-phase: Catalyst's WindowGroupLimit
    (Partial) prunes each map partition to its local top-k per query
    BEFORE the (query_id) exchange, so the shuffle carries
    <= n_partitions * k rows per query — never the full scored corpus."""
    import numpy as np

    from movingspark import similarity

    corpus = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(similarity.brute_force_topk(corpus, {0: np.array([1.0, 0.0, 0.0])}, k=3))
    lines = plan.splitlines()
    # operator numbering follows execution order (leaves first): the
    # Partial WindowGroupLimit must execute BEFORE the query_id exchange
    partial_no = None
    exch_no = None
    for i, ln in enumerate(lines):
        m = re.match(r"^\((\d+)\) WindowGroupLimit", ln)
        if m and any("Partial" in x for x in lines[i:i + 3]):
            partial_no = int(m.group(1))
        m = re.match(r"^\((\d+)\) Exchange", ln)
        if m and any("query_id" in x for x in lines[i:i + 3]):
            exch_no = int(m.group(1))
    assert partial_no is not None, plan
    assert exch_no is not None, plan
    assert partial_no < exch_no, plan


def test_winnow_fingerprints_single_exchange_arrow_kernel(spark):
    """Winnowing plans as ONE exchange (the doc repartition for
    parallelism/skew) feeding a single Arrow-batched mapInArrow kernel:
    gram rows never materialize as Spark rows, so there is no Sort, no
    Window, and no distinct aggregate in the plan at all. (The previous
    all-JVM explode+window formulation spent ~85% of its time sorting
    and shuffling O(chars) gram rows — see text.winnow_fingerprints.)"""
    from movingspark import text

    docs = spark.createDataFrame(
        [("d1", "some document text to fingerprint with enough length"),
         ("d2", "another sufficiently long text body for the window")],
        "doc_id string, text string",
    )
    plan = plan_of(text.winnow_fingerprints(docs, k=8, w=16))
    assert "MapInArrow" in plan
    assert "Window" not in plan and "Sort" not in plan
    assert "HashAggregate" not in plan  # per-doc unique, no distinct agg
    assert n_exchanges(plan) == 1


def test_kinematics_chain_one_exchange_one_sort(spark):
    """D1-D6 all declare Window.partitionBy(traj_id).orderBy(t):
    Catalyst must plan the WHOLE chain (timedelta, distance, speed,
    direction, angular difference, acceleration) as ONE exchange + ONE
    sort shared by every window column — a second sort or exchange
    means an operator broke the shared window spec."""
    df = _pts(spark)
    out = derive.add_acceleration(
        derive.add_angular_difference(
            derive.add_direction(derive.add_speed(derive.add_distance(derive.add_timedelta(df))))
        )
    )
    plan = plan_of(out)
    assert n_exchanges(plan) == 1
    n_sorts = len([ln for ln in plan.splitlines() if re.match(r"^\(\d+\) Sort", ln)])
    assert n_sorts == 1
    assert _no_python_exec(plan)


def test_gopher_rules_zero_exchange_jvm_only(spark):
    """The Gopher quality filter is a pure per-row projection: no
    exchange at all, no Python worker (the higher-order array ops are
    JVM Catalyst expressions)."""
    from movingspark import text

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox and the lazy dog have fun with that")],
        "doc_id string, text string",
    )
    plan = plan_of(docs.select("doc_id", text.gopher_flags_expr(F.col("text")).alias("f")))
    assert _no_python_exec(plan)
    assert n_exchanges(plan) == 0


def test_connected_components_output_plan_truncated(spark):
    """The components loop must hand downstream consumers a TRUNCATED
    plan: a scan of the checkpointed edge RDD + one exchange for the
    final per-node min — NOT the unrolled union/join tower of every
    iteration (which OOMs Catalyst on long chains)."""
    from movingspark.components import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "src string, dst string"
    )
    plan = plan_of(connected_components(edges))
    assert "ExistingRDD" in plan
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_contamination_no_corpus_exchange_before_semi_join(spark):
    """Decontamination must broadcast the benchmark gram set and
    semi-join the corpus grams map-side: the only exchange in the plan
    is the final per-doc count over colliding grams — never the corpus
    gram explosion."""
    from movingspark import text

    docs = spark.createDataFrame(
        [(f"d{i}", "one two three four five six seven eight nine ten eleven twelve thirteen fourteen")
         for i in range(4)],
        "doc_id string, text string",
    )
    bench = docs.limit(1)
    plan = plan_of(text.contamination_hits(docs, bench, n=13))
    assert _no_python_exec(plan)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the corpus branch (the join's streamed left side, rendered with
    # ":-"/":  " prefixes in the tree) must contain no Exchange: corpus
    # grams flow scan -> explode -> hash straight into the semi-join.
    # Post-join exchanges carry only colliding grams and are fine.
    left_branch = [ln for ln in plan.splitlines() if ln.lstrip().startswith(":")]
    assert left_branch and not any("Exchange" in ln for ln in left_branch)


def n_nodes(plan: str, op: str) -> int:
    return len([ln for ln in plan.splitlines() if re.match(rf"^\(\d+\) {op}\b", ln)])


def test_all_kinematics_planar_two_windows_one_sort(spark):
    """D1-D6 read one window of raw neighbours (lag/lead of x, y, t and
    row_number) plus one window for the previous row's direction and
    speed — never one window per derived column."""
    plan = plan_of(derive.add_all_kinematics(_pts(spark)))
    assert n_nodes(plan, "Window") <= 2, plan
    assert n_exchanges(plan) == 1 and n_nodes(plan, "Sort") == 1, plan
    assert _no_python_exec(plan)


def test_all_kinematics_latlon_one_geodesic_evaluation(spark):
    """The geodesic UDF runs once per row (one ArrowEvalPython holding
    one call), so only the second window re-shuffles after it."""
    plan = plan_of(derive.add_all_kinematics(_pts(spark), latlon=True))
    assert n_nodes(plan, "ArrowEvalPython") == 1, plan
    evals = [ln for ln in plan.splitlines() if "_geodesic_udf(" in ln and ln.startswith("Arguments")]
    assert len(evals) == 1 and evals[0].count("_geodesic_udf(") == 1, evals
    assert n_exchanges(plan) <= 2, plan


def test_speed_and_angle_splits_derive_in_one_window(spark):
    """split_by_speed / split_by_angle_change derive speed and direction
    in the one neighbour window (5 and 4 Window nodes when each column
    was patched by its own further window)."""
    from movingspark import split

    df = _pts(spark)
    assert n_nodes(plan_of(split.split_by_speed(df, 0.1, 60.0)), "Window") < 5
    assert n_nodes(plan_of(split.split_by_angle_change(df, 30.0)), "Window") < 4
