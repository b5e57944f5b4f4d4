"""Checkpoint / lineage layer (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Each pipeline stage materializes to Parquet (Iceberg in production — the
API only assumes a path-addressable table format) together with a
`_manifest.json` recording schema, row counts, per-file (per-partition)
row counts, and user metrics. Re-running the pipeline skips any stage
whose manifest is complete and reads the checkpoint instead — mid-job
resume costs only the unfinished stages. The manifest doubles as the
skew observability hook: per-partition row counts expose hot cells.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from movingspark.catalog import read_table


class Checkpointer:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.log: list[dict] = []

    def _stage_path(self, name: str) -> str:
        return f"{self.base_path}/{name}"

    def _manifest_path(self, name: str) -> str:
        return f"{self._stage_path(name)}/_manifest.json"

    def is_complete(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def manifest(self, name: str) -> dict | None:
        if not self.is_complete(name):
            return None
        with open(self._manifest_path(name)) as f:
            return json.load(f)

    def stage(self, name: str, df_thunk, partition_by: list[str] | None = None) -> DataFrame:
        """Run (or resume) a stage. df_thunk: () -> DataFrame, evaluated
        only when the checkpoint is missing."""
        path = self._stage_path(name)
        if self.is_complete(name):
            self.log.append({"stage": name, "action": "resumed", "path": path})
            return read_table(self.spark, path)

        t0 = time.time()
        df = df_thunk()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

        # lineage: per-file (per-output-partition) row counts straight
        # from the parquet FOOTERS (pyarrow metadata, driver-side file
        # listing) — a footer is a few KB regardless of file size, so
        # this never re-scans the checkpoint data pages. (The previous
        # read.parquet().groupBy(input_file_name()).count() re-read the
        # whole checkpoint — doubling every stage's I/O at scale.)
        back = read_table(self.spark, path)
        files = _footer_row_counts(path)
        manifest = {
            "stage": name,
            "rows": int(sum(files.values())),
            "n_files": len(files),
            "per_partition_rows": files,
            "schema": back.schema.simpleString(),
            "elapsed_s": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "skew": _skew_stats(list(files.values())),
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f, indent=1)
        self.log.append({"stage": name, "action": "computed", "path": path, **{k: manifest[k] for k in ("rows", "n_files", "elapsed_s")}})
        return back

    def invalidate(self, name: str):
        mp = self._manifest_path(name)
        if os.path.exists(mp):
            os.remove(mp)


def _footer_row_counts(path: str) -> dict[str, int]:
    """Per-file row counts from parquet footer metadata (recursive walk,
    so partitionBy subdirectories are covered). Keys are paths relative
    to the stage root so partition values stay visible in the manifest."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for root, _dirs, names in os.walk(path):
        for fn in sorted(names):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, path)
            counts[rel] = pq.ParquetFile(full).metadata.num_rows
    return counts


def _skew_stats(counts: list[int]) -> dict:
    if not counts:
        return {"max": 0, "mean": 0.0, "skew_factor": 0.0}
    mean = sum(counts) / len(counts)
    return {
        "max": max(counts),
        "mean": round(mean, 1),
        "skew_factor": round(max(counts) / mean, 2) if mean else 0.0,
    }
