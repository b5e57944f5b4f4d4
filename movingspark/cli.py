"""spark-submit entrypoints (north rule: 'ships via spark-submit
--py-files to a multi-executor cluster').

Usage on a cluster:

    python tools/package.py
    spark-submit --py-files dist/movingspark.zip -m movingspark.cli \\
        pipeline --input <iceberg-or-parquet docs table> \\
                 --checkpoints <path> --res 8 --aoi "x0,y0,x1,y1"

Subcommands:
- pipeline: the north-rule job — docs -> explode -> spatial join +
  tiling -> reassembly invariant, checkpointed per stage with
  per-partition lineage (resume by re-running with the same
  --checkpoints path).
- dedup: training-data dedup — [gopher filter] -> banded LSH pairs ->
  exact-Jaccard verification -> connected components -> survivors
  parquet, checkpointed per stage.
- kinematics: derive D1-D6 columns for a point table, normalized
  first as the reference's Trajectory constructor does.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_session(app: str) -> SparkSession:
    from movingspark.session import tune_builder

    return tune_builder(SparkSession.builder.appName(app)).getOrCreate()


def cmd_pipeline(args) -> int:
    from movingspark import ingest, joins
    from movingspark.checkpoint import Checkpointer

    spark = build_session("movingspark-pipeline")
    ck = Checkpointer(spark, args.checkpoints)

    if args.input:
        from movingspark.catalog import read_table
        docs = read_table(spark, args.input)
    else:
        docs = ingest.synth_interleaved_docs(spark, args.synth_docs)

    x0, y0, x1, y1 = (float(v) for v in args.aoi.split(","))
    aoi = [(x0, y1), (x1, y1), (x1, y0), (x0, y0)]

    pts = ck.stage("points", lambda: ingest.explode_doc_points(docs))
    joined = ck.stage(
        "spatial_join",
        lambda: joins.point_in_polygon_join(pts, [("aoi", aoi)], res=args.res),
    )
    tiles = ck.stage("tiles", lambda: joins.tile_rollup(pts, res=args.res))
    bad = ingest.span_invariant_violations(docs)
    n_bad = bad.count()
    summary = {
        "join_rows": joined.count(),
        "tiles": tiles.count(),
        "span_invariant_violations": n_bad,
        "stages": ck.log,
    }
    print(json.dumps(summary))
    return 1 if n_bad else 0


def cmd_dedup(args) -> int:
    """Training-data dedup job: [gopher quality filter] -> banded
    MinHash LSH pairs -> exact-Jaccard verification -> connected
    components -> survivors, each stage checkpointed with lineage
    (resume by re-running with the same --checkpoints path). Survivors
    land at --output as parquet.

    The verification stage is what makes deletion safe: banded LSH
    pairs are CANDIDATES (a J~0.3 pair collides in some band with ~50%
    probability at b=8/r=2, and over-cap band buckets are chain-linked
    by key alone), so each candidate's n-gram Jaccard is recomputed
    exactly and only pairs >= --threshold feed the components stage."""
    from movingspark import components, ingest
    from movingspark.checkpoint import Checkpointer
    from movingspark.text import gopher_filter, minhash_band_pairs, verify_pairs_jaccard

    spark = build_session("movingspark-dedup")
    ck = Checkpointer(spark, args.checkpoints)

    if args.input:
        from movingspark.catalog import read_table
        docs = read_table(spark, args.input)
    else:
        docs = ingest.synth_interleaved_docs(spark, args.synth_docs).select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("spans", lambda s: F.coalesce(s["text"], s["media_ref"]))
            ).alias("text"),
        )
        # plant duplicates of every 100th doc so the demo job has
        # something to find (real corpora bring their own)
        docs = docs.unionByName(
            docs.filter(F.col("doc_id").endswith("00")).select(
                F.concat(F.lit("dup-"), "doc_id").alias("doc_id"), "text"
            )
        )
    n_in = docs.count()

    if args.gopher:
        docs = ck.stage("quality", lambda: gopher_filter(docs))
    cand = ck.stage("pairs", lambda: minhash_band_pairs(docs, "doc_id", "text"))
    pairs = ck.stage(
        "verify",
        lambda: verify_pairs_jaccard(
            docs, cand, "doc_id", "text", threshold=args.threshold
        ).select("doc_a", "doc_b"),
    )
    comp = ck.stage("components", lambda: components.connected_components(
        pairs, src="doc_a", dst="doc_b"))
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"))
    kept = docs.join(F.broadcast(losers), "doc_id", "left_anti")
    kept.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    print(json.dumps({
        "docs_in": n_in,
        "docs_kept": n_kept,
        "pair_count": pairs.count(),
        "clusters": comp.select("component").distinct().count(),
        "stages": ck.log,
    }))
    return 0


def cmd_kinematics(args) -> int:
    """D1-D6 columns for a (traj_id, t, x, y) table. The input goes
    through `ingest.make_traj_points` first, as the reference's
    Trajectory constructor does: t becomes TIMESTAMP (a pandas-written
    parquet reads back as TIMESTAMP_NTZ), a repeated (traj_id, t) keeps
    its first row (a zero Δt would divide by zero), and one-point
    trajectories are dropped."""
    from movingspark import derive, ingest
    from movingspark.catalog import read_table

    spark = build_session("movingspark-kinematics")
    raw = read_table(spark, args.input)
    df = ingest.make_traj_points(raw, "traj_id", "t", "x", "y")
    out = derive.add_all_kinematics(df, latlon=args.latlon)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows_in": raw.count(), "rows": spark.read.parquet(args.output).count()}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="movingspark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pipeline")
    p.add_argument("--input", default=None, help="docs table path (parquet/iceberg)")
    p.add_argument("--synth-docs", type=int, default=100_000, help="synthesize docs when no --input")
    p.add_argument("--checkpoints", required=True)
    p.add_argument("--res", type=int, default=8)
    p.add_argument("--aoi", default="-60,-60,60,60")
    p.set_defaults(fn=cmd_pipeline)

    d = sub.add_parser("dedup")
    d.add_argument("--input", default=None, help="docs table path (parquet/iceberg)")
    d.add_argument("--synth-docs", type=int, default=100_000)
    d.add_argument("--checkpoints", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--gopher", action="store_true", help="apply the Gopher quality filter first")
    d.add_argument("--threshold", type=float, default=0.8,
                   help="exact n-gram Jaccard a candidate pair must reach before its docs dedup")
    d.set_defaults(fn=cmd_dedup)

    k = sub.add_parser("kinematics")
    k.add_argument("--input", required=True)
    k.add_argument("--output", required=True)
    k.add_argument("--latlon", action="store_true")
    k.set_defaults(fn=cmd_kinematics)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
