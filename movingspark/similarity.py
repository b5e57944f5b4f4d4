"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k; broadcast the query set, keep
  the corpus distributed — the correctness baseline.
- write_ivf_index + ivf_topk_indexed: IVF scale path — the corpus is
  written partitioned by nearest coarse centroid (a few deterministic
  k-means iterations on a sample), queries probe the `nprobe` nearest
  bucket directories; the scan shrinks to ~nprobe/n_centroids.
- embedding_near_dups: multi-band sign-random-projection LSH bucket
  join + exact cosine refinement.
- quantize_int8 (int8_scale / int8_code): symmetric int8 scalar
  quantization as Catalyst array expressions.

Vector math runs in numpy over each Arrow batch (gmap.map_batches: the
list column read as one matrix by gmap.list_matrix, one matmul per
batch), ~50x faster per batch than a built-in aggregate/zip_with dot
product. Each pass emits its output rows directly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import gmap
from movingspark.schema import local_frame


def _unit_rows(M: np.ndarray) -> np.ndarray:
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)


def _query_matrix(queries: dict[int, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(sorted query ids, their unit-length vectors as rows)."""
    qids = sorted(queries)
    return np.array(qids, dtype=np.int64), _unit_rows(np.vstack([queries[i] for i in qids]).astype(np.float64))


def _scored_schema(query_type, vec_type) -> T.StructType:
    return T.StructType([
        T.StructField("query_id", query_type),
        T.StructField("vec_id", vec_type),
        T.StructField("sim", T.DoubleType()),
    ])


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Distributed final top-k over (query_id, vec_id, sim) rows, sim
    rounded to 6 places in Spark and self-matches dropped first.

    Written as the declarative row_number-window + filter so Catalyst
    rewrites it into a TWO-PHASE top-k: the physical plan contains
    WindowGroupLimit(Partial) BELOW the (query_id) exchange — each map
    task prunes its partition to its local top-k per query BEFORE the
    shuffle, so the exchange carries <= n_partitions * k rows per query,
    never the full scored corpus (the naive interpretation — every
    scored row of a query on one reducer — would be a straggler by
    construction at scale). This JVM-side rewrite beats a hand-rolled
    local-heap reduction in Python, which pays a second Arrow
    round-trip for the same pruning.
    tests/test_plans.py pins the WindowGroupLimit-before-Exchange shape."""
    scored = scored.withColumn("sim", F.round("sim", 6)).filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def brute_force_topk(corpus: DataFrame, queries: dict[int, np.ndarray], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query over the whole corpus. One scan, one
    matmul per Arrow batch emitting a (query_id, vec_id, sim) row per
    vector and query, two-phase distributed top-k."""
    qids, Q = _query_matrix(queries)

    def score(batch):
        S = _unit_rows(gmap.list_matrix(batch.column(vec_col))) @ Q.T
        # S is row-major: each vector's sims against every query in turn
        return [
            np.tile(qids, batch.num_rows),
            batch.column(id_col).take(np.repeat(np.arange(batch.num_rows), len(qids))),
            S.ravel(),
        ]

    # the type a literal of each id takes in Spark
    qtype = T.IntegerType() if all(-(2**31) <= q < 2**31 for q in qids) else T.LongType()
    schema = _scored_schema(qtype, corpus.schema[id_col].dataType)
    return _topk_per_query(gmap.map_batches(corpus.select(id_col, vec_col), score, schema), k)


def train_centroids(corpus: DataFrame, n_centroids: int, iters: int = 5,
                    vec_col: str = "embedding", sample: int = 4096) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (coarse
    quantizer only — n_centroids * dim floats, trivially broadcastable)."""
    rows = corpus.select(vec_col).limit(sample).collect()
    X = np.vstack([np.asarray(r[0], dtype=np.float64) for r in rows])
    # deterministic init: evenly strided sample points
    idx = np.linspace(0, len(X) - 1, n_centroids).astype(int)
    C = X[idx].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(n_centroids):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def write_ivf_index(corpus: DataFrame, path: str, n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Materialize the IVF index on disk: the corpus written
    partitionBy('bucket') (one directory per coarse-quantizer cell —
    with Iceberg this is an identity partition transform and the same
    pruning applies) plus a tiny centroids table. At probe time the
    bucket IN-list lands in the scan's PartitionFilters, so a query
    physically reads only nprobe/n_centroids of the corpus files."""
    C = train_centroids(corpus, n_centroids, vec_col=vec_col)

    def bucket(batch):
        M = gmap.list_matrix(batch.column(vec_col))
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return [*batch.columns, d.argmin(axis=1)]

    schema = T.StructType([*corpus.schema.fields, T.StructField("bucket", T.IntegerType())])
    gmap.map_batches(corpus, bucket, schema).write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/corpus")
    spark = corpus.sparkSession
    cdf = local_frame(
        spark,
        [(i, [float(v) for v in C[i]]) for i in range(len(C))],
        "bucket int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return C


def ivf_topk_indexed(spark, path: str, queries: dict[int, np.ndarray], k: int = 10,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Probe an on-disk IVF index written by write_ivf_index. The probed
    bucket list is pushed as a partition filter — the scan's file
    listing prunes to the nprobe directories (PartitionFilters in the
    explain; tests assert the touched-file count), which is the whole
    point of IVF at 100 TB: the index turns a full-corpus scan into
    nprobe/n_centroids of it."""
    crows = spark.read.parquet(f"{path}/centroids").collect()
    dim = len(crows[0]["centroid"])
    C = np.zeros((len(crows), dim), dtype=np.float64)
    for r in crows:
        C[r["bucket"]] = np.asarray(r["centroid"], dtype=np.float64)
    probe_rows = []
    for qid, qv in queries.items():
        d = ((C - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
        for b in np.argsort(d)[:nprobe]:
            probe_rows.append((int(qid), int(b)))
    buckets = sorted({b for _, b in probe_rows})
    corpus = spark.read.parquet(f"{path}/corpus").filter(F.col("bucket").isin(buckets))
    probes = local_frame(spark, probe_rows, "query_id int, bucket int")
    cand = corpus.join(F.broadcast(probes), "bucket")
    qids, Q = _query_matrix(queries)

    def score(batch):
        # one dot product per candidate, against its own probing query
        M = _unit_rows(gmap.list_matrix(batch.column(vec_col)))
        q = Q[np.searchsorted(qids, batch.column("query_id").to_numpy())]
        return [batch.column("query_id"), batch.column(id_col), (M * q).sum(axis=1)]

    schema = _scored_schema(cand.schema["query_id"].dataType, cand.schema[id_col].dataType)
    return _topk_per_query(gmap.map_batches(cand.select("query_id", id_col, vec_col), score, schema), k)


def _band_keys(signs: np.ndarray, n_bands: int, n_planes: int) -> np.ndarray:
    """(n, n_bands) int64 LSH bucket keys from an (n, n_bands*n_planes)
    sign matrix: each band's bits read most-significant first, with the
    band index above them (disjoint key spaces per band). One numpy
    pass — no per-row, per-band or per-bit Python."""
    weights = np.left_shift(1, np.arange(n_planes - 1, -1, -1), dtype=np.int64)
    bits = signs.reshape(len(signs), n_bands, n_planes).astype(np.int64)
    return (bits @ weights) | (np.arange(n_bands, dtype=np.int64) << n_planes)


def embedding_near_dups(corpus: DataFrame, threshold: float = 0.95, n_planes: int = 16,
                        n_bands: int = 4, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-band sign-LSH bucket join +
    exact cosine refinement — no O(n^2) cross join.

    b bands x r planes: more planes per band shrink each bucket
    (2^r buckets per band, so the in-bucket self-join is O((n/2^r)^2)
    instead of the old single-band O((n/256)^2) quadratic blowup), and
    multiple bands restore the recall that extra planes cost — at
    cos=0.999 (angle 2.6 deg) one 16-plane band catches ~0.8 of pairs,
    4 bands catch 1-(1-0.8)^4 ~ 0.998; exact duplicates always collide
    in every band. Candidates = pairs sharing ANY band bucket."""
    first = corpus.select(F.size(vec_col).alias("d")).first()
    if first is None:  # empty corpus: no dimension to draw planes for
        return corpus.select(
            F.col(id_col).alias("doc_a"), F.col(id_col).alias("doc_b"),
            F.lit(0.0).alias("cosine"),
        )
    d = first["d"]
    # deterministic planes, distinct per band: sin-hash over a global
    # plane index (band * n_planes + plane)
    P = np.sin(
        (np.arange(n_bands * n_planes)[:, None]) * 7919 + np.arange(d)[None, :] * 104729
    ).astype(np.float64)

    def band_buckets(batch):
        signs = (gmap.list_matrix(batch.column("v")) @ P.T) > 0  # (n, n_bands*n_planes)
        rows = np.repeat(np.arange(batch.num_rows), n_bands)
        return [batch.column("doc").take(rows), batch.column("v").take(rows), _band_keys(signs, n_bands, n_planes).ravel()]

    docs = corpus.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
    keyed = gmap.map_batches(docs, band_buckets, T.StructType([*docs.schema.fields, T.StructField("bucket", T.LongType())]))
    a = keyed.alias("a")
    c = keyed.alias("c")
    pairs = (
        a.join(c, (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.doc") < F.col("c.doc")))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("c.doc").alias("doc_b"),
            F.col("a.v").alias("va"), F.col("c.v").alias("vb"),
        )
        # dedup across bands on the id pair (va/vb identical per pair,
        # so first() is deterministic — cheaper than distinct on arrays)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("va").alias("va"), F.first("vb").alias("vb"))
    )

    def cosine(batch):
        A = gmap.list_matrix(batch.column("va"))
        B = gmap.list_matrix(batch.column("vb"))
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return [batch.column("doc_a"), batch.column("doc_b"), num / np.maximum(den, 1e-30)]

    schema = T.StructType([pairs.schema["doc_a"], pairs.schema["doc_b"], T.StructField("cosine", T.DoubleType())])
    return (
        gmap.map_batches(pairs, cosine, schema)
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
    )


def int8_scale(v: Column) -> Column:
    """Symmetric int8 scale of an array<double> vector: max|v| / 127
    (1.0 for the zero vector)."""
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return F.when(amax == F.lit(0.0), F.lit(1.0)).otherwise(amax / F.lit(127.0))


def int8_code(x: Column, scale: Column) -> Column:
    """int8 code of one element: clamp(floor(x/scale + 0.5), -127, 127),
    as a double. floor(x + 0.5) instead of round() keeps quantization
    engine-neutral (same correctly-rounded IEEE ops everywhere — see the
    resample oracle note on BigDecimal-vs-binary ROUND divergence)."""
    return F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0), F.floor(x / scale + F.lit(0.5)).cast("double")),
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4x vector-compression step before an ANN index at scale
    (100 TB of float32 embeddings -> 25 TB of int8 + one scale per
    vector; recall cost is the reconstruction error reported here).

    Per vector: scale = int8_scale(v), code_i = int8_code(v_i, scale).
    Everything is a Catalyst array expression (transform/aggregate) —
    zero Python, one scan, no shuffle; emits per-vector quality stats
    instead of the codes so the output is audit-sized:

      scale       the dequantization factor
      checksum    sum of codes (exact integer; engine-order-free)
      n_saturated codes clamped at +-127
      l2_err      || v - dequant(quant(v)) ||_2"""
    v = F.col(vec_col).cast("array<double>")
    # materialize the code array ONCE, then derive every stat from it:
    # higher-order functions are interpreted (not codegen'd), so inlining
    # the clamp/floor chain into each of the four downstream aggregates
    # re-evaluated it ~4x per element — measured 5.3 s vs 0.24 s for the
    # same 2000x64 input (22x) with identical output values.
    base = df.select(F.col(id_col), v.alias("__v"), int8_scale(v).alias("scale"))
    base = base.withColumn(
        "__c", F.transform(F.col("__v"), lambda x: int8_code(x, F.col("scale")))
    )
    z = F.arrays_zip(F.col("__v"), F.col("__c"))
    err2 = F.aggregate(
        z,
        F.lit(0.0),
        lambda a, p: a
        + (p["__v"] - p["__c"] * F.col("scale")) * (p["__v"] - p["__c"] * F.col("scale")),
    )
    return base.select(
        F.col(id_col),
        F.col("scale"),
        F.aggregate(F.col("__c"), F.lit(0.0), lambda a, x: a + x).cast("long").alias("checksum"),
        F.size(F.filter(F.col("__c"), lambda x: F.abs(x) == F.lit(127.0))).cast("long").alias("n_saturated"),
        (F.floor(F.sqrt(err2) * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)).alias("l2_err"),
    )
