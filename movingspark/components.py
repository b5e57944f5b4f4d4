"""Distributed connected components + dedup-cluster survivor selection.

Near-dup detection emits PAIRS: `text.minhash_band_pairs` candidates
(exact-checked by `text.verify_pairs_jaccard` in the CLI dedup job),
`text.ngram_jaccard_pairs`, `text.winnow_near_dup_pairs` and
`similarity.embedding_near_dups`. A production dedup pipeline must turn
those pairs into duplicate CLUSTERS and keep one canonical survivor per
cluster. That is a connected-components problem on
a graph whose nodes are doc ids and whose edges are the near-dup pairs.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-friendly formulation:

- large-star: every node links its strictly-larger neighbors to the
  minimum of its closed neighborhood;
- small-star: every node (edges kept pointing larger->smaller) links its
  smaller-or-equal neighbors and itself to the neighborhood minimum.

Both steps are one groupBy(min) + one join per round, strictly
edge-linear, and the pair converges in O(log^2 n) rounds even on
adversarial chain graphs (plain min-label propagation needs
O(diameter) rounds — fine for LSH dup cliques, catastrophic on chains,
and the chain-diversion path of `minhash_band_pairs` produces exactly
chains for oversized buckets). Convergence is detected with an 8-byte
order-insensitive digest (count + bit_xor of xxhash64), the same trick
as the span-sequence invariant — one cheap agg per round instead of a
full exceptAll anti-join. Each round ends in an eager localCheckpoint
that truncates lineage AND the logical plan (persist alone lets the
plan grow exponentially across rounds until Catalyst/AQE OOMs on plan
compilation — the classic iterative-algorithm failure mode on Spark).

At 100 TB scale every round is a shuffle on the node id — AQE handles
the skewed high-degree nodes (a boilerplate doc matched by thousands of
pairs becomes one hot reduce key; large-star is exactly the step that
splinters such stars).

No counterpart in the reference (movingpandas has no graph ops); this
belongs to the training-data-pipeline extension surface (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_survivors"]

# observability: rounds taken by the most recent connected_components
# call in this process (the O(log^2 n) bound is the op's core scale
# claim — benchmarks and tests read this back).
LAST_ROUNDS = 0


def _digest(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive (count, bit_xor(xxhash64)) digest of an edge set."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of an eager localCheckpoint. They are not in the
    cache manager, so `df.unpersist()` cannot reach them; the RDD behind
    the checkpoint's LogicalRDD plan can."""
    df._jdf.logicalPlan().rdd().unpersist(True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Return (node, component) for every node that appears in `edges`,
    where component = the minimum node id reachable from it. Undirected;
    self-loops and duplicate/reversed pairs are tolerated. Nodes may be
    any orderable type (string doc ids work). Isolated nodes never appear
    in `edges`, so callers wanting singletons join the result back to the
    node table with a coalesce-to-self (see `dedup_survivors`).
    """
    # canonical direction larger -> smaller, dedup'd; drop self-loops.
    # Every round ends in an EAGER localCheckpoint: persist() alone keeps
    # the logical plan growing (each round embeds the whole previous
    # plan — union+join+distinct — and by ~8 rounds Catalyst/AQE OOM on
    # plan compilation, the classic iterative-algorithm failure mode).
    # The checkpoint truncates the plan to a LogicalRDD scan, exactly
    # like GraphX/Pregel does between supersteps. On a real cluster with
    # dynamic allocation, swap localCheckpoint for a reliable
    # checkpoint dir; the loop structure is unchanged.
    prev = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"),
            F.least("a", "b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_digest = _digest(prev)

    for it in range(max_iter):
        # -- large-star: symmetric neighborhoods; link larger neighbors to
        #    min(closed neighborhood). Edges (x, m) with x > m by construction.
        sym = prev.unionByName(prev.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

        # -- small-star: edges already point larger -> smaller; link self and
        #    all smaller neighbors to the neighborhood min.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

        digest = _digest(small)
        _free_checkpoint(prev)
        prev = small
        global LAST_ROUNDS
        LAST_ROUNDS = it + 1
        if digest == prev_digest:
            break
        prev_digest = digest
    else:
        # O(log^2 n) convergence means max_iter=50 covers any physical
        # graph; hitting it signals a bug or a wrong input, and silently
        # returning unconverged labels would corrupt downstream dedup.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # converged: every remaining edge is (node, component-min). A node that
    # is itself a component min appears only on the v side.
    comp = prev.select(F.col("u").alias("node"), F.col("v").alias("component")).unionByName(
        prev.select(F.col("v").alias("node"), F.col("v").alias("component"))
    )
    out = comp.groupBy("node").agg(F.min("component").alias("component"))
    return out


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keep one canonical document per duplicate cluster: the member with
    the minimum id survives; docs in no pair survive unchanged. Returns
    `docs` filtered to survivors (all original columns).

    Scale shape: components over the (small) pair set, then ONE left join
    from docs to the non-survivor member list — broadcastable whenever the
    duplicate set is a small fraction of the corpus (the usual case), so
    the full document table is never shuffled.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # the components output is a checkpointed RDD scan with no stats, so
    # the optimizer cannot see it is small — hint the broadcast explicitly
    # (duplicate members are a small fraction of any real corpus)
    return docs.join(F.broadcast(losers), id_col, "left_anti")
