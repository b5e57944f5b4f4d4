"""Grouped-map execution without per-group dispatch overhead.

The sequential per-trajectory kernels (stop detector, generalizers,
Kalman, angle split, overlay clip, hulls...) are all "one pandas
function per traj_id group". Spark's groupBy().applyInPandas pays
per-GROUP machinery (plan node per group invocation, Arrow slice,
schema coercion) that dominates wall time when groups are small
(~70-row groups at sf0.1: ~2/3 of the overlay clip's time was
dispatch, not kernel).

`grouped_apply_sorted` runs the same per-group function as ONE
mapInPandas pass over partitions hash-partitioned and sorted by
(traj_id, t): group boundaries are found with a numpy scan, the last
(possibly incomplete) group of each Arrow batch is carried into the
next batch, and each batch yields a single concatenated frame. The
shuffle cost is identical to applyInPandas (same hash exchange); only
the Python-side dispatch changes. At 100 TB this matters more, not
less: group count grows with data while per-group size stays bounded,
so per-group overhead scales with the dominant term.

One level up sit two fixed costs per TASK, one on each side of it.
Before every task pyspark's worker calls importlib.invalidate_caches(),
which on Python 3.11/3.12 re-reads the directory of every zip on the
worker path (16 zipimporters over the pyspark and py4j zips): 0.24 s of
CPU per call, more than a bench-scale task's kernel work. After every
task the daemon runs gc.collect() in the reused worker, which walks the
~73 000 objects that importing pyspark, pandas, pyarrow and movingspark
left tracked: 30-45 ms of CPU, after the task has reported done, so no
Spark task metric shows it. `per_batch` therefore calls
`pyworker.prepare()` first. Once per worker it makes the re-read
stat-checked (0.1 ms per call) and freezes the import-time heap, so the
collect walks only the objects created since (under 1 000, ~1 ms).
Measured on a 4-vCPU VM at local[4]: the stat check took an identity
grouped map over 15k points (4 tasks, median of 5) from 1.24 to 0.24 s
of Python-worker CPU; the freeze then took the bench's traj_analytics
queries (Python-worker CPU per query, median of 7) from stops 0.72 to
0.59 s, overlay clip 0.48 to 0.39 s, Douglas-Peucker 0.44 to 0.35 s and
Kalman 0.34 to 0.26 s.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from movingspark import pyworker


def grouped_apply_sorted(df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame], schema) -> DataFrame:
    """Semantically equivalent to
    ``df.groupBy("traj_id").applyInPandas(fn, schema)`` for a per-group
    pure function, executed as mapInPandas over (traj_id, t)-sorted hash
    partitions with a batch-boundary carry. Contract: `fn` receives one
    whole trajectory per call, its rows in ascending `t` order, with a
    fresh RangeIndex (0..n-1), so `fn` needs no sort of its own
    (pinned in tests/test_gmap.py).

    Known trade-offs vs applyInPandas (both acceptable here): the
    explicit repartition is not elided when the input is already
    hash-partitioned on traj_id (FlatMapGroupsInPandas declares a
    ClusteredDistribution that Catalyst can satisfy without a shuffle;
    RepartitionByExpression is unconditional) — none of this engine's
    pipelines chain two grouped-map kernels without an intervening
    exchange, so nothing regresses; and one pathological giant group
    still lands on a single task, exactly as it does with
    applyInPandas (inherent to per-group sequential semantics)."""

    def per_batch(batches):
        pyworker.prepare()
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            keys = pdf["traj_id"].to_numpy()
            boundary = np.nonzero(keys[1:] != keys[:-1])[0] + 1
            starts = np.concatenate([[0], boundary])
            # hold back the final group — it may continue in the next batch
            carry = pdf.iloc[starts[-1]:]
            outs = [
                fn(pdf.iloc[s:e].reset_index(drop=True))
                for s, e in zip(starts[:-1], starts[1:])
            ]
            outs = [o for o in outs if len(o)]
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if carry is not None and len(carry):
            out = fn(carry.reset_index(drop=True))
            if len(out):
                yield out

    # Explicit partition count: repartition(traj_id) alone lets AQE coalesce
    # by SHUFFLE BYTES, which is miscalibrated for a CPU-bound Python
    # stage — at sf0.1 it folded 1500 trajectory groups onto 3 tasks and
    # tripled overlay-clip wall time. Passing N pins the exchange to the
    # configured shuffle parallelism (the operator's unit of CPU, not
    # bytes); on a real cluster shuffle.partitions is sized to the job,
    # so this keeps the configured intent at every scale.
    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = spark.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, "traj_id")
        .sortWithinPartitions("traj_id", "t")
        .mapInPandas(per_batch, schema=schema)
    )
