"""Shared SparkSession tuning for every entrypoint (bench, tests,
oracle checks, cluster CLI).

The single most important setting is the JIT code cache. Whole-stage
codegen emits one generated class per plan stage; with the JVM default
``ReservedCodeCacheSize`` (240-256 MB) a session that runs tens of
distinct plans (a bench suite, the oracle harness, a long-lived
notebook/job server — or one 100 TB job with many stages) fills the
code cache, at which point HotSpot STOPS JIT-compiling and the whole
engine silently degrades 10-100x (measured in this sandbox: the same
point-in-polygon join ran 1.5 s with a warm JIT and 31-300 s once the
cache filled; run-over-run times *degraded* 15 s -> 33 s -> 75 s).
``UseCodeCacheFlushing`` lets HotSpot evict cold generated methods
instead of giving up. Round 3 measured the pathology RECURRING at 1 GB
once the suite grew past ~15 distinct plans: the last queries of a
17-query suite ran 10-20x slow (winnow 90 s vs 4.6 s, loadavg ~3 on a
32-thread job — threads parked on compile stalls, not computing) and
recovered completely at 2 GB with ``SegmentedCodeCache`` (separate
segments for profiled/non-profiled nmethods cut the flushing-induced
fragmentation that stalls compilation).

The collector is the throughput collector (``-XX:+UseParallelGC``), not
JDK 17's default G1. A batch engine wants the most work per CPU second,
and G1 spends CPU on work that only shortens pauses. Spark's Tungsten
memory pages are power-of-two ``long[]``s of 0.5-4 MB plus a 16-byte
header, so each is a humongous object in G1's 1 MB regions (a 1 GB
heap): in a GC log of one benchmark doc run, 88 of 162 young pauses
were ``Concurrent Start (G1 Humongous Allocation)``, and the concurrent
marking cycles they start ran back to back. Per doc operation, G1's
concurrent-mark and GC-worker threads took 0.15-0.22 s of 0.7-1.1 s of
CPU, and how often G1 fell into those cycles made the run-to-run spread
(larger regions, ``G1HeapRegionSize=16m``, did not help). The
throughput collector has no concurrent marking and no humongous
regions. Nine alternating doc-pipeline pairs (4 vCPU, local[4], 1 GB
driver heap) measured CPU per pass 2.85 -> 2.57 s, lower in 8 of 9. Of
the collectors JDK 17 ships, the serial one was also tried: over three
seeds its single GC thread took 0.34-0.47 s per pass, against 0.12-0.27
s for the throughput collector's threads (0.09-0.69 s for G1's).

The trade-off on a cluster: no concurrent marking and fewer GC threads,
in exchange for longer stop-the-world pauses, which grow with the heap.
Executors with tens of GB of heap that must keep pauses short
(streaming, interactive serving) should set their own
``spark.executor.extraJavaOptions`` after ``tune_builder``: the code
cache flags above with the collector of their choice.

These are JVM-launch-time options: they must be passed to
``SparkSession.builder`` before the first ``getOrCreate()`` (and via
``spark.executor.extraJavaOptions`` / ``--conf`` on a real cluster,
where executors are separate JVMs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JVM_CODEGEN_OPTS = (
    "-XX:+UseParallelGC -XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing -XX:+SegmentedCodeCache"
)


def _scratch_dir() -> str | None:
    """RAM-backed scratch for shuffle/spill files — BENCH/TEST ONLY.

    The sandbox host shows multi-second uninterruptible-sleep I/O stalls
    (loadavg >> busy CPUs with ~97% idle); shuffle scratch on tmpfs takes
    the disk out of the measurement. This is wrong for production:
    shuffle spill exists precisely when memory is short, and tmpfs caps
    at ~50% of RAM — so only `local_session` (bench, tests, tools)
    applies it, never the cluster CLI, and an explicitly configured
    SPARK_LOCAL_DIRS always wins."""
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/movingspark-scratch"
        os.makedirs(d, exist_ok=True)
        return d
    return None


def tune_builder(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine-wide physical-execution settings to a builder.

    - big JIT code cache and the throughput collector (see module
      docstring) on driver AND executor
    - AQE on (runtime coalesce, broadcast conversion, skew-join split)
    - Arrow transfer for the Python kernels
    - UTC session timezone (timestamp determinism across engines)
    """
    return (
        builder.config("spark.driver.extraJavaOptions", JVM_CODEGEN_OPTS)
        .config("spark.executor.extraJavaOptions", JVM_CODEGEN_OPTS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES (minPartitionSize
        # default 1 MiB). That sizing is calibrated for JVM operators; the
        # grouped-map Python kernels (overlay clip, stop detector, Kalman)
        # are CPU-bound at ~100 bytes/row, so byte-based coalescing starved
        # them to 3 tasks on 32 cores at sf0.1 (3.4x wall on overlay_clip).
        # A 64 KiB floor keeps parallelismFirst in charge (partitions ~
        # cores) while still merging genuinely tiny fragments; at cluster
        # scale partitions are far above every floor and nothing changes.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )


def local_session(cores: int, app: str, memory: str | None = None) -> SparkSession:
    """A tuned local[cores] session for bench, tests and tools: one
    shuffle partition per core, no UI, shuffle scratch on tmpfs
    (_scratch_dir), log level ERROR; `memory` sets the driver heap."""
    b = (
        tune_builder(SparkSession.builder.master(f"local[{cores}]").appName(app))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
    )
    if memory:
        b = b.config("spark.driver.memory", memory)
    scratch = _scratch_dir()
    if scratch:
        b = b.config("spark.local.dir", scratch)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
