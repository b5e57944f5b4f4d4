"""The three benchmark workloads.

Each workload is a closed loop with one client: the next operation
starts when the previous one has finished. A workload provides

- `generate(ctx)`: write its seeded inputs (untimed) and the expected
  results the checks compare against;
- `load(spark)`: the input-load part of set-up;
- `warmup_units`, `min_units`: how many untimed units run after
  set-up, and the fewest units the timed window may hold;
- `ops()`: the operations of one unit, each `(name, fn)` where
  `fn(spark) -> bool` runs the operation to completion and returns
  whether its output was correct;
- `verify(spark, out)`: the full output checks, run once per run;
- `traced_unit(spark, tracer)`: one unit with every engine layer forced
  and timed separately;
- `layers(tracer, units)`: per-layer numbers from the recorded spans.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.harness import force, median


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    setup_reps: int


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _observe(df, *aggs):
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *aggs), obs


def _digest_aggs(df):
    """Row count and an order-free XOR of per-row hashes over all columns."""
    from pyspark.sql import functions as F

    return (F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h"))


# ---------------------------------------------------------------------------
# doc_pipeline
# ---------------------------------------------------------------------------


class DocPipeline:
    """North-rule document job: read -> explode -> point-in-polygon join
    and tile rollup -> span-invariant check, over generated docs."""

    name = "doc_pipeline"
    # the first pass compiles the plans (~4x a warm pass); the second
    # still runs ~20% slow while the JIT catches up
    warmup_units = 2
    # a pass's CPU time moves ~10% with the host's load; four passes keep
    # each operation's median off a single slow one
    min_units = 4
    res = 8
    params = gen.DocParams(n_docs=25_000, hot_frac=0.2, edge_frac=0.1)

    def generate(self, ctx: Ctx) -> None:
        from perfbench import oracle

        table, self.polygons = gen.gen_docs(self.params, ctx.seed)
        self.path = os.path.join(ctx.work, "inputs", "docs")
        gen.write_parts(table, self.path, n_files=8)
        self.n_docs = table.num_rows
        self.exp_join, self.exp_tiles = oracle.doc_checks(self.path, self.polygons, self.res)

    def load(self, spark) -> None:
        from movingspark import catalog

        catalog.read_table(spark, self.path).count()

    # the pass's three outputs, each observed with its checksums
    def _join(self, pts):
        from movingspark import joins
        from perfbench.oracle import JOIN_CHECKS, spark_checks

        return _observe(joins.point_in_polygon_join(pts, self.polygons, res=self.res), *spark_checks(JOIN_CHECKS))

    def _tiles(self, pts):
        from movingspark import joins
        from perfbench.oracle import TILE_CHECKS, spark_checks

        return _observe(joins.tile_rollup(pts, res=self.res), *spark_checks(TILE_CHECKS))

    def _invariant(self, docs):
        from pyspark.sql import functions as F

        from movingspark import ingest

        return _observe(ingest.span_invariant_violations(docs), F.count(F.lit(1)).alias("n"))

    def _correct(self, oj, ot, ov) -> bool:
        """Join rows and tile assignments match the DuckDB recomputation
        and no doc breaks the span invariant."""
        return oj.get == self.exp_join and ot.get == self.exp_tiles and ov.get["n"] == 0

    def _read(self, spark):
        from movingspark import catalog

        return catalog.read_table(spark, self.path)

    def _points(self, spark):
        from movingspark import ingest

        return ingest.explode_doc_points(self._read(spark))

    # A pass is its three outputs, each read from the input files: one
    # operation each, so a burst of host noise that slows one output in
    # one pass leaves the other outputs' medians alone.
    def _join_op(self, spark) -> bool:
        df, obs = self._join(self._points(spark))
        force(df)
        return obs.get == self.exp_join

    def _tiles_op(self, spark) -> bool:
        df, obs = self._tiles(self._points(spark))
        force(df)
        return obs.get == self.exp_tiles

    def _invariant_op(self, spark) -> bool:
        df, obs = self._invariant(self._read(spark))
        force(df)
        return obs.get["n"] == 0

    def ops(self):
        return [("join", self._join_op), ("tiles", self._tiles_op), ("invariant", self._invariant_op)]

    def verify(self, spark, out: Outcome) -> None:
        """Every pass checks its outputs against DuckDB; nothing more to do once."""

    def traced_unit(self, spark, tr) -> bool:
        """One pass with each layer's output forced (and, for the read and
        explode, cached) separately; joins.pip_s includes the cover the
        join builds for itself, cells.cover_s times that cover alone."""
        from pyspark.sql import functions as F

        from movingspark import catalog, ingest, joins

        with tr.span("unit"):
            with tr.span("catalog.read"):
                docs = catalog.read_table(spark, self.path).persist()
                docs.count()
            with tr.span("ingest.explode"):
                pts = ingest.explode_doc_points(docs).persist()
                tr.count("ingest.points", pts.count())
            with tr.span("cells.cover"):
                cover = joins.cover_to_df(spark, self.polygons, self.res).persist()
                tr.count("cells.cover_cells", cover.count())
            with tr.span("joins.candidates"):
                cand = joins.with_cell(pts, self.res, name="__cell").join(
                    F.broadcast(cover), F.col("__cell") == cover["cell"]
                )
                tr.count("joins.candidate_rows", cand.count())
            with tr.span("joins.pip"):
                j, oj = self._join(pts)
                force(j)
            with tr.span("joins.tile_rollup"):
                t, ot = self._tiles(pts)
                force(t)
            with tr.span("ingest.span_invariant"):
                v, ov = self._invariant(docs)
                force(v)
            tr.count("joins.pip_rows", oj.get["n"])
            tr.count("joins.tiles", ot.get["n"])
            for df in (cover, pts, docs):
                df.unpersist()
        return self._correct(oj, ot, ov)

    def layers(self, tr, units: int) -> dict:
        out = {
            "catalog.read_s": tr.total_s("catalog.read") / units,
            "ingest.explode_s": tr.total_s("ingest.explode") / units,
            "ingest.points": tr.counts["ingest.points"] / units,
            "cells.cover_s": tr.total_s("cells.cover") / units,
            "cells.cover_cells": tr.counts["cells.cover_cells"] / units,
            "joins.pip_s": tr.total_s("joins.pip") / units,
            "joins.pip_rows": tr.counts["joins.pip_rows"] / units,
            "joins.pip_match_frac": tr.counts["joins.pip_rows"] / max(tr.counts["joins.candidate_rows"], 1),
            "joins.tile_rollup_s": tr.total_s("joins.tile_rollup") / units,
            "joins.tiles": tr.counts["joins.tiles"] / units,
            "ingest.span_invariant_s": tr.total_s("ingest.span_invariant") / units,
        }
        return out

    def named(self, op_times: dict) -> dict:
        pass_s = sum(median(v) for v in op_times.values())
        n = min(len(v) for v in op_times.values())
        return {"docs_per_s": {"value": self.n_docs / pass_s, "unit": "1/s", "n": n}}


# ---------------------------------------------------------------------------
# traj_analytics
# ---------------------------------------------------------------------------


def _clip_polygon(extent: float):
    e = extent
    return [(0.2 * e, 0.25 * e), (0.75 * e, 0.2 * e), (0.8 * e, 0.7 * e), (0.5 * e, 0.85 * e), (0.25 * e, 0.7 * e)]


class TrajAnalytics:
    """MovingPandas-surface queries over a generated trajectory table."""

    name = "traj_analytics"
    warmup_units = 1
    min_units = 3
    params = gen.TrajParams(n_trajs=150, mean_len=60.0, long_len=600)
    stop_diameter_m = 50.0
    stop_min_s = 600.0
    dp_tolerance_m = 25.0
    gap_s = 3600.0
    queries = (
        "ingest.make_points",
        "derive.kinematics",
        "stops.detect",
        "overlay.clip",
        "generalize.dp",
        "split.gap",
        "smooth.kalman",
    )
    # grouped-map queries and the local kernel-timing layer of each
    kernel_layers = {
        "stops.detect": "kernels.stops_local_s",
        "overlay.clip": "kernels.clip_local_s",
        "generalize.dp": "kernels.dp_local_s",
        "smooth.kalman": "kernels.kalman_local_s",
    }

    def generate(self, ctx: Ctx) -> None:
        table, self.dwells = gen.gen_trajs(self.params, ctx.seed)
        self.path = os.path.join(ctx.work, "inputs", "trajs")
        gen.write_parts(table, self.path, n_files=8)
        keys = table.select(["traj_id", "t"]).to_pandas()
        self.exp_points = int(len(keys.drop_duplicates()))
        self.polygon = _clip_polygon(self.params.extent_m)
        self.digests: dict[str, tuple] = {}

    def load(self, spark) -> None:
        from movingspark import ingest

        raw = spark.read.parquet(self.path)
        self.pts = ingest.make_traj_points(raw, "traj_id", "t", "x", "y", tiebreak="seq").persist()
        self.pts.count()

    def build(self, spark, name: str):
        from movingspark import derive, generalize, ingest, overlay, smooth, split, stops

        if name == "ingest.make_points":
            raw = spark.read.parquet(self.path)
            return ingest.make_traj_points(raw, "traj_id", "t", "x", "y", tiebreak="seq")
        if name == "derive.kinematics":
            return derive.add_all_kinematics(self.pts)
        if name == "stops.detect":
            return stops.get_stop_time_ranges(self.pts, self.stop_diameter_m, self.stop_min_s)
        if name == "overlay.clip":
            return overlay.clip(self.pts, self.polygon)
        if name == "generalize.dp":
            return generalize.douglas_peucker(self.pts, self.dp_tolerance_m)
        if name == "split.gap":
            return split.split_by_observation_gap(self.pts, self.gap_s)
        if name == "smooth.kalman":
            return smooth.kalman_smooth(self.pts)
        raise KeyError(name)

    def _query(self, spark, name: str) -> bool:
        df = self.build(spark, name)
        df, obs = _observe(df, *_digest_aggs(df))
        force(df)
        got = (obs.get["n"], obs.get["h"])
        # the first run of a query (the warm-up) fixes the digest every
        # later run must reproduce; verify() checks the first run's counts
        return self.digests.setdefault(name, got) == got

    def ops(self):
        return [(q, lambda spark, q=q: self._query(spark, q)) for q in self.queries]

    def verify(self, spark, out: Outcome) -> None:
        n = {q: d[0] for q, d in self.digests.items()}
        out.check(n["ingest.make_points"] == self.exp_points, "make_traj_points kept the wrong rows")
        out.check(n["derive.kinematics"] == self.exp_points, "kinematics changed the row count")
        out.check(n["smooth.kalman"] == self.exp_points, "kalman changed the row count")
        out.check(0 < n["generalize.dp"] < self.exp_points, "douglas-peucker kept nothing or everything")
        out.check(0 < n["overlay.clip"], "clip produced no rows")
        ranges = self.build(spark, "stops.detect").toPandas()
        found = 0
        for d in self.dwells:
            r = ranges[ranges["traj_id"] == d.traj_id]
            s = r["start_t"].astype("int64").to_numpy() / 1e9
            e = r["end_t"].astype("int64").to_numpy() / 1e9
            overlap = np.minimum(e, d.end_s) - np.maximum(s, d.start_s)
            found += bool((overlap >= 0.5 * (d.end_s - d.start_s)).any())
        out.check(found == len(self.dwells), f"planted dwells found {found}/{len(self.dwells)}")
        out.check(len(ranges) == len(self.dwells), f"{len(ranges)} stops for {len(self.dwells)} planted dwells")

    def traced_unit(self, spark, tr) -> bool:
        ok = True
        with tr.span("unit"):
            for q in self.queries:
                with tr.span(q):
                    ok &= self._query(spark, q)
                if q == "generalize.dp":
                    tr.count("generalize.dp_rows", self.digests[q][0])
        return ok

    def kernel_local_times(self, spark, tr) -> None:
        """Run the per-trajectory function behind each grouped-map query
        single-process over the same rows: the compute share of the
        query, against which spark.python_run_s shows transfer cost."""
        from movingspark import gmap

        pdf = self.pts.toPandas()
        groups = [g.reset_index(drop=True) for _, g in pdf.sort_values(["traj_id", "t"]).groupby("traj_id", sort=False)]
        captured = {}
        real = gmap.grouped_apply_sorted

        def spy(df, fn, schema, *a, **kw):
            captured["fn"] = fn
            return real(df, fn, schema, *a, **kw)

        gmap.grouped_apply_sorted = spy
        try:
            for q, layer in self.kernel_layers.items():
                self.build(spark, q)
                fn = captured.pop("fn")
                t0 = time.perf_counter()
                for g in groups:
                    fn(g.copy())
                tr.count(layer, time.perf_counter() - t0)
        finally:
            gmap.grouped_apply_sorted = real

    def layers(self, tr, units: int) -> dict:
        out = {
            "ingest.make_points_s": tr.total_s("ingest.make_points") / units,
            "derive.kinematics_s": tr.total_s("derive.kinematics") / units,
            "stops.detect_s": tr.total_s("stops.detect") / units,
            "overlay.clip_s": tr.total_s("overlay.clip") / units,
            "generalize.dp_s": tr.total_s("generalize.dp") / units,
            "generalize.dp_keep_frac": tr.counts["generalize.dp_rows"] / units / self.exp_points,
            "split.gap_s": tr.total_s("split.gap") / units,
            "smooth.kalman_s": tr.total_s("smooth.kalman") / units,
        }
        for layer in self.kernel_layers.values():
            out[layer] = tr.counts.get(layer, 0.0)
        return out

    def named(self, op_times: dict) -> dict:
        from perfbench.harness import tail

        lat = [v for q in self.queries for v in op_times[q]]
        pct, val, n = tail(lat)
        return {
            "query_p50_s": {"value": median(lat), "unit": "s", "n": len(lat)},
            "query_tail_s": {"value": val, "unit": "s", "n": n, "percentile": pct},
        }


# ---------------------------------------------------------------------------
# checkpointed_jobs
# ---------------------------------------------------------------------------


def run_cli(argv: list[str]) -> tuple[int, dict]:
    """movingspark.cli.main in-process; returns (exit code, its JSON summary)."""
    from movingspark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return rc, (json.loads(lines[-1]) if lines else {})


class CheckpointedJobs:
    """The two spark-submit jobs, cold from an empty checkpoint dir and
    then resumed from it: `pipeline --input` and `dedup --input`."""

    name = "checkpointed_jobs"
    # the first round after one warm-up round still runs ~20% above the
    # steady state (JIT of the write and read paths); after two, ~5%
    warmup_units = 2
    min_units = 1  # a round is ~8 s; three would not fit a run
    doc_params = gen.DocParams(n_docs=8_000, hot_frac=0.2, hotspot=(-0.5, -0.5), edge_frac=0.0)
    text_params = gen.TextParams(n_docs=1_000, near_dup_frac=0.05, words_min=30, words_max=60)
    # the cover of the AOI is built driver-side cell by cell: the CLI's
    # default AOI (-60..60) is ~14k res-8 cells and seconds of driver time
    aoi = "-10,-10,10,10"
    pipeline_stages = ("points", "spatial_join", "tiles")
    dedup_stages = ("pairs", "verify", "components")

    def generate(self, ctx: Ctx) -> None:
        docs, _ = gen.gen_docs(self.doc_params, ctx.seed)
        text, self.pairs = gen.gen_text(self.text_params, ctx.seed + 1)
        self.docs_path = os.path.join(ctx.work, "inputs", "docs")
        self.text_path = os.path.join(ctx.work, "inputs", "text")
        self.input_bytes = gen.write_parts(docs, self.docs_path, 8) + gen.write_parts(text, self.text_path, 8)
        self.n_text = text.num_rows
        self.jobs_dir = os.path.join(ctx.work, "jobs")
        self.round = 0
        self.cold_s: list[float] = []
        self.resume_s: list[float] = []
        self.stored_ratio: list[float] = []
        self.manifests: list[dict] = []

    def load(self, spark) -> None:
        spark.read.parquet(self.docs_path).count()
        spark.read.parquet(self.text_path).count()

    def _jobs(self, base: str):
        return (
            [
                "pipeline", "--input", self.docs_path, "--checkpoints", f"{base}/ck_pipeline",
                "--res", "8", f"--aoi={self.aoi}",
            ],
            [
                "dedup", "--input", self.text_path, "--checkpoints", f"{base}/ck_dedup",
                "--output", f"{base}/out_dedup",
            ],
        )

    def _round(self, spark, tr=None) -> bool:
        self.round += 1
        base = os.path.join(self.jobs_dir, f"round{self.round}")
        shutil.rmtree(base, ignore_errors=True)
        span = tr.span if tr is not None else (lambda name: contextlib.nullcontext())
        ok = True
        summaries, survivors = [], []
        with span("unit"):
            for phase in ("cold", "resume"):
                t0 = time.perf_counter()
                with span(f"checkpoint.{phase}"):
                    for argv in self._jobs(base):
                        rc, summary = run_cli(argv)
                        ok &= rc == 0
                        summaries.append(summary)
                (self.cold_s if phase == "cold" else self.resume_s).append(time.perf_counter() - t0)
                survivors.append(self._survivors(base))
        ok &= survivors[0] == survivors[1]
        ok &= self._check(base, summaries)
        self.stored_ratio.append(gen.dir_bytes(base) / self.input_bytes)
        self.manifests.append(self._read_manifests(base))
        shutil.rmtree(base, ignore_errors=True)
        return ok

    @staticmethod
    def _survivors(base: str) -> list[str]:
        import pyarrow.parquet as pq

        return sorted(pq.read_table(f"{base}/out_dedup", columns=["doc_id"]).column(0).to_pylist())

    def _check(self, base: str, s: list[dict]) -> bool:
        """Cold and resumed runs report the same results, every stage was
        computed cold and resumed after, the span invariant holds, and
        each planted near-duplicate pair ends in one component with one
        of its two docs dropped."""
        import pyarrow.parquet as pq

        pipe_cold, dedup_cold, pipe_res, dedup_res = s

        def strip(d):
            return {k: v for k, v in d.items() if k != "stages"}

        ok = strip(pipe_cold) == strip(pipe_res) and strip(dedup_cold) == strip(dedup_res)
        ok &= pipe_cold.get("span_invariant_violations") == 0 and pipe_cold.get("join_rows", 0) > 0
        ok &= all(st["action"] == "resumed" for st in pipe_res["stages"] + dedup_res["stages"])
        ok &= all(st["action"] == "computed" for st in pipe_cold["stages"] + dedup_cold["stages"])
        comp = pq.read_table(f"{base}/ck_dedup/components").to_pandas()
        root = dict(zip(comp["node"], comp["component"]))
        ok &= all(a in root and root.get(a) == root.get(b) for a, b in self.pairs)
        ok &= dedup_cold.get("docs_kept") == self.n_text - len(self.pairs)
        return bool(ok)

    def _read_manifests(self, base: str) -> dict:
        out = {}
        for job, stages in (("ck_pipeline", self.pipeline_stages), ("ck_dedup", self.dedup_stages)):
            for st in stages:
                with open(f"{base}/{job}/{st}/_manifest.json") as f:
                    m = json.load(f)
                m["bytes"] = gen.dir_bytes(f"{base}/{job}/{st}")
                out[st] = m
        return out

    def ops(self):
        return [("round", self._round)]

    def verify(self, spark, out: Outcome) -> None:
        """Every round checks its own outputs; nothing more to do once."""

    def traced_unit(self, spark, tr) -> bool:
        from movingspark.checkpoint import Checkpointer

        real = Checkpointer.stage

        def stage(ck, name, df_thunk, partition_by=None):
            action = "resume" if ck.is_complete(name) else "stage"
            with tr.span(f"checkpoint.{action}.{name}"):
                return real(ck, name, df_thunk, partition_by)

        Checkpointer.stage = stage
        try:
            return self._round(spark, tr)
        finally:
            Checkpointer.stage = real

    def layers(self, tr, units: int) -> dict:
        out = {}
        for st in self.pipeline_stages + self.dedup_stages:
            out[f"checkpoint.stage_s.{st}"] = tr.total_s(f"checkpoint.stage.{st}") / units
        ms = self.manifests[-units:]
        out["checkpoint.bytes_written"] = median([sum(m[st]["bytes"] for st in m) for m in ms])
        out["checkpoint.files"] = median([sum(m[st]["n_files"] for st in m) for m in ms])
        out["checkpoint.max_skew_factor"] = max(m[st]["skew"]["skew_factor"] for m in ms for st in m)
        out["checkpoint.cold_s"] = tr.total_s("checkpoint.cold") / units
        out["checkpoint.resume_s"] = tr.total_s("checkpoint.resume") / units
        out["checkpoint.stored_bytes_per_input_byte"] = median(self.stored_ratio[-units:])
        out["text.band_pairs_s"] = out["checkpoint.stage_s.pairs"]
        out["components.cc_s"] = out["checkpoint.stage_s.components"]
        cand = median([m["pairs"]["rows"] for m in ms])
        ver = median([m["verify"]["rows"] for m in ms])
        out["text.candidate_pairs"] = cand
        out["text.verified_pairs"] = ver
        out["text.verify_pass_frac"] = ver / max(cand, 1)
        return out

    def named(self, op_times: dict) -> dict:
        n = len(op_times["round"])  # the timed rounds are the last n
        return {
            "cold_s": {"value": median(self.cold_s[-n:]), "unit": "s", "n": n},
            "resume_s": {"value": median(self.resume_s[-n:]), "unit": "s", "n": n},
            "stored_bytes_per_input_byte": {"value": median(self.stored_ratio[-n:]), "unit": "ratio", "n": n},
        }


WORKLOADS = {w.name: w for w in (DocPipeline, TrajAnalytics, CheckpointedJobs)}
