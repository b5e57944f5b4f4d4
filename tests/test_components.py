"""Connected components + dedup survivor selection (movingspark.components)."""

import random

from pyspark.sql import functions as F

from movingspark import components
from movingspark.components import connected_components, dedup_survivors


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(df, **kw)
    return {r["node"]: r["component"] for r in out.collect()}


def _reference_components(edges):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_single_pair(spark):
    assert _cc(spark, [("b", "a")]) == {"a": "a", "b": "a"}


def test_clique_and_separate_component(spark):
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y")]
    assert _cc(spark, edges) == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_reversed_and_self_loop_edges(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")]
    got = _cc(spark, edges)
    # self-loop-only node never appears (no real edge)
    assert got == {"a": "a", "b": "a"}


def test_long_chain_converges_in_log_rounds(spark):
    # a 40-node path is the worst case for min-label propagation
    # (O(diameter) rounds); large-star/small-star must finish well inside
    # max_iter=8 ~ O(log^2 n) rounds.
    n = 40
    ids = [f"n{i:03d}" for i in range(n)]
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    got = _cc(spark, edges, max_iter=8)
    assert got == {i: ids[0] for i in ids}


def test_rounds_free_the_checkpoints_they_replace(spark):
    """Every round's eager localCheckpoint frees the one before it, so a
    call leaves at most one new persisted RDD: the final round's, which
    the result reads. Compared by RDD id, as in
    test_ngram_jaccard_pairs_leaves_no_cache: the context holds persisted
    RDDs weakly, and other tests' dropped checkpoints can vanish mid-call."""
    n = 200
    ids = [f"n{i:03d}" for i in range(n)]
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert _cc(spark, edges) == {i: ids[0] for i in ids}
    assert components.LAST_ROUNDS > 2
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        ids = [f"d{trial}{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(ids), rng.choice(ids))
            for _ in range(rng.randint(20, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc(spark, edges) == _reference_components(edges)


def test_dedup_survivors_keeps_min_per_cluster_and_singletons(spark):
    docs = spark.createDataFrame(
        [(f"doc{i}", f"text {i}") for i in range(6)], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("doc1", "doc3"), ("doc3", "doc5"), ("doc2", "doc4")],
        "doc_a string, doc_b string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, pairs).select("doc_id").collect()
    )
    # cluster {1,3,5} -> doc1 survives; {2,4} -> doc2; 0 untouched
    assert kept == ["doc0", "doc1", "doc2"]


def test_survivors_broadcastable_no_doc_shuffle(spark):
    """The docs-side join must be a broadcast anti-join: the full document
    table is never shuffled on the dedup path."""
    docs = spark.createDataFrame(
        [(f"doc{i}", "t") for i in range(20)], "doc_id string, text string"
    )
    pairs = spark.createDataFrame([("doc1", "doc2")], "doc_a string, doc_b string")
    plan = dedup_survivors(docs, pairs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
