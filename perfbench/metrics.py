"""The benchmark's metrics, name -> (unit, which direction is better):
the `end_to_end` and `per_layer` lists of BENCHMARK.json.

An untraced run reports END_TO_END for its workload:

- setup_s: median over three session starts (each after stopping the
  previous session, in the same JVM) of session start plus input load,
  plus the workload's untimed warm-up units;
- unit_cpu_s: the sum over the workload's operations of each one's
  median CPU seconds (user + system, every thread of the Python driver
  program, the JVM and the Python workers except the JIT compiler's) in
  the timed window: one doc pass, the seven trajectory queries, or (run
  by hand) both CLI jobs cold and then resumed. It is the work a unit
  costs. Wall time per unit is printed beside it (unit_s, per-operation
  p50s) but not gated: on a 4-vCPU virtual machine shared with other
  tenants, ten doc_pipeline runs in a row spread (quartile distance over
  median) 0.27 in wall time and 0.065 in CPU time.

A traced run reports every one of LAYERS; a layer the workload never
calls reads 0. The checkpointed CLI jobs are not a workload of
BENCHMARK.json (one of their runs takes as long as the two others
together); a traced traj_analytics run measures their checkpoint, text
and components layers after its own. Output counts (rows, tiles, pairs)
are marked "lower" only because a direction is required: an
optimisation should leave them unchanged.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": ("s", "lower"),
    "unit_cpu_s": ("s", "lower"),
}

LAYERS = {
    # doc pipeline layers
    "catalog.read_s": ("s", "lower"),
    "ingest.explode_s": ("s", "lower"),
    "ingest.points": ("count", "lower"),
    "cells.cover_s": ("s", "lower"),
    "cells.cover_cells": ("count", "lower"),
    "joins.pip_s": ("s", "lower"),
    "joins.pip_rows": ("count", "lower"),
    "joins.pip_match_frac": ("ratio", "higher"),
    "joins.tile_rollup_s": ("s", "lower"),
    "joins.tiles": ("count", "lower"),
    "ingest.span_invariant_s": ("s", "lower"),
    # trajectory queries
    "ingest.make_points_s": ("s", "lower"),
    "derive.kinematics_s": ("s", "lower"),
    "stops.detect_s": ("s", "lower"),
    "overlay.clip_s": ("s", "lower"),
    "generalize.dp_s": ("s", "lower"),
    "generalize.dp_keep_frac": ("ratio", "lower"),
    "split.gap_s": ("s", "lower"),
    "smooth.kalman_s": ("s", "lower"),
    "kernels.stops_local_s": ("s", "lower"),
    "kernels.clip_local_s": ("s", "lower"),
    "kernels.dp_local_s": ("s", "lower"),
    "kernels.kalman_local_s": ("s", "lower"),
    # checkpointed jobs
    "checkpoint.stage_s.points": ("s", "lower"),
    "checkpoint.stage_s.spatial_join": ("s", "lower"),
    "checkpoint.stage_s.tiles": ("s", "lower"),
    "checkpoint.stage_s.pairs": ("s", "lower"),
    "checkpoint.stage_s.verify": ("s", "lower"),
    "checkpoint.stage_s.components": ("s", "lower"),
    "checkpoint.bytes_written": ("bytes", "lower"),
    "checkpoint.files": ("count", "lower"),
    "checkpoint.max_skew_factor": ("ratio", "lower"),
    "checkpoint.cold_s": ("s", "lower"),
    "checkpoint.resume_s": ("s", "lower"),
    "checkpoint.stored_bytes_per_input_byte": ("ratio", "lower"),
    "text.band_pairs_s": ("s", "lower"),
    "text.candidate_pairs": ("count", "lower"),
    "text.verified_pairs": ("count", "lower"),
    "text.verify_pass_frac": ("ratio", "higher"),
    "components.cc_s": ("s", "lower"),
    # Spark's own meters, from the event log
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_fetch_wait_s": ("s", "lower"),
    "spark.python_run_s": ("s", "lower"),
    "spark.arrow_bytes_sent": ("bytes", "lower"),
    "spark.arrow_bytes_returned": ("bytes", "lower"),
    "spark.codegen_s": ("s", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.driver_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    # the trace itself, scaling and the host
    "trace.untraced_unit_s": ("s", "lower"),
    "trace.traced_unit_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "scaling.single_core_pass_s": ("s", "lower"),
    "scaling.efficiency": ("ratio", "higher"),
    "host.peak_rss_mb": ("MB", "lower"),
    "host.steal_frac": ("ratio", "lower"),
    "host.sys_frac": ("ratio", "lower"),
}
