"""Table IO boundary: path-addressable parquet today, Iceberg-ready.

The north rule targets Iceberg tables of interleaved documents; every
engine operator takes/returns DataFrames, so table format is strictly a
boundary concern. `read_table`/`write_table` resolve either

- a CATALOG IDENTIFIER (`catalog.db.table`) via `spark.read.table` /
  `DataFrameWriterV2` — exactly how Iceberg tables appear once a
  catalog is configured (public Iceberg runtime config:
  `spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`
  plus the `iceberg-spark-runtime` jar on the cluster classpath); or
- a FILESYSTEM PATH via `spark.read.parquet` (this sandbox ships no
  Iceberg jar, so tests exercise the identifier branch against Spark's
  built-in session catalog — the same calls Iceberg intercepts).

A path read hands Spark the data schema, so building the read runs no
Spark job. Left to infer it, `spark.read.parquet` runs one job per call
to read a footer on an executor: 80 ms of wall per read of an 8-file
table on 4 vCPUs, against 14 ms for the read below, footer included.
`_footer_schema` reads the footer of the table's first data file on the
driver with pyarrow and converts it as Spark's own inference would:

- a file Spark wrote carries its schema as JSON under the
  `org.apache.spark.sql.parquet.row.metadata` footer key, which Spark's
  inference also prefers;
- any other file's Arrow schema converts through pyspark's
  `from_arrow_schema`, with timezone-less timestamps read as
  TIMESTAMP_NTZ exactly when the session's
  `spark.sql.parquet.inferTimestampNTZ.enabled` says so.

Spark still lists the files and infers hive-style partition columns
from the directory names, as it does for an inferred read. Spark infers
the data schema itself wherever one local footer cannot stand in for
it: no local
data file (a URI, a glob, an empty directory, which then fails with
Spark's own error), a first file pyarrow cannot read as parquet (Spark
then fails as it would, or skips it under
`spark.sql.files.ignoreCorruptFiles`), `spark.sql.parquet.mergeSchema` or
`spark.sql.parquet.binaryAsString` set, and Arrow types outside the
shared set (`_same_in_spark`): INT96 and nanosecond timestamps, unsigned
integers, times, durations.

Writes use the V2 writer for identifiers (`createOrReplace` /
`append`), which maps onto Iceberg's atomic snapshot commits, and the
classic parquet writer for paths.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def is_table_identifier(ref: str) -> bool:
    """Heuristic boundary: a filesystem path contains '/' (or a URI
    scheme); a table identifier is dot-separated names."""
    return "/" not in ref and "\\" not in ref and ":" not in ref


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    if is_table_identifier(ref):
        return spark.read.table(ref)
    schema = _footer_schema(spark, ref)
    if schema is None:
        return spark.read.parquet(ref)
    return spark.read.schema(schema).parquet(ref)


def _first_data_file(ref: str) -> str | None:
    """The first data file of a local table in name order: `ref` itself,
    or the first file under it that Spark's file index does not hide
    (names starting with '.', or with '_' except partition directories
    such as `_day=1`)."""
    if os.path.isfile(ref):
        return ref
    for root, dirs, names in os.walk(ref):
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and (not d.startswith("_") or "=" in d))
        for name in sorted(names):
            if not name.startswith((".", "_")) and not name.endswith("._COPYING_"):
                return os.path.join(root, name)
    return None


def _same_in_spark(t, binary: bool) -> bool:
    """Whether Spark's parquet schema converter maps the column that
    pyarrow reads as Arrow type `t` to what `from_arrow_schema` does."""
    import pyarrow.types as pat

    if pat.is_struct(t):
        return all(_same_in_spark(f.type, binary) for f in t)
    if pat.is_list(t) or pat.is_large_list(t):
        return _same_in_spark(t.value_type, binary)
    if pat.is_map(t):
        return _same_in_spark(t.key_type, binary) and _same_in_spark(t.item_type, binary)
    if pat.is_timestamp(t):
        return t.unit in ("ms", "us")
    if pat.is_binary(t) or pat.is_large_binary(t) or pat.is_fixed_size_binary(t):
        return binary
    return any(
        check(t)
        for check in (pat.is_boolean, pat.is_signed_integer, pat.is_float32, pat.is_float64, pat.is_decimal,
                      pat.is_string, pat.is_large_string, pat.is_date32)
    )


def _footer_schema(spark: SparkSession, ref: str) -> StructType | None:
    """The data schema Spark would infer for the parquet table at `ref`,
    read from one footer on the driver; None where only Spark's own
    inference is sure (module docstring)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = _first_data_file(ref)
    if path is None or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    try:
        arrow = pq.read_schema(path)  # its metadata is the footer's key-value map
    except (OSError, ValueError):  # not a parquet file: Spark reports it, or skips it
        return None
    saved = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if saved is not None:
        return StructType.fromJson(json.loads(saved))
    binary = spark.conf.get("spark.sql.parquet.binaryAsString") != "true"
    if not all(_same_in_spark(f.type, binary) for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def write_table(
    df: DataFrame,
    ref: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """mode: 'append' | 'overwrite'. Identifier writes go through the
    DataFrameWriterV2 (atomic replace / append — Iceberg snapshot
    semantics); path writes through the parquet writer."""
    if is_table_identifier(ref):
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode {mode!r}")
        w = df.writeTo(ref)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        try:
            if mode == "overwrite":
                w.createOrReplace()
            else:
                try:
                    w.append()
                except Exception:
                    # first write to a not-yet-existing table
                    w.create()
        except Exception:
            # V2 writer path (what Iceberg catalogs implement); the
            # built-in V1 session catalog lacks REPLACE TABLE AS SELECT
            # -> fall back to the classic saveAsTable
            writer = df.write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.saveAsTable(ref)
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a table hash-BUCKETED by `bucket_cols` (optionally
    sorted within buckets): every downstream join or aggregation keyed
    on the bucket columns reads pre-co-located data and skips its
    exchange entirely — the 100 TB answer to 'this pipeline groups by
    traj_id/doc_id at every stage'. Bucket count is a physical layout
    choice: pick ~(total size / target partition size), NOT the
    cluster's current core count.

    Uses the V1 `bucketBy().saveAsTable()` API (bucketing requires a
    table identifier — raw parquet paths carry no bucket metadata). On
    an Iceberg catalog the equivalent layout is the `bucket(n, col)`
    partition transform via write_table(partition_by=...)."""
    if not is_table_identifier(table):
        raise ValueError("bucketed writes need a table identifier, not a path")
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def replace_partitions(df: DataFrame, table: str) -> None:
    """Partition-scoped overwrite: only the partitions PRESENT in `df`
    are replaced; every other partition's data survives untouched. This
    is the session-catalog twin of an Iceberg partition-level replace
    commit (REPLACE WHERE / dynamic overwrite) — the idiom a 100 TB
    pipeline uses to re-run one day/one region without rewriting the
    table. Implemented with Spark's dynamic partitionOverwriteMode so
    the same call works unchanged when the identifier resolves to an
    Iceberg catalog (which honors dynamic overwrite natively)."""
    if not is_table_identifier(table):
        raise ValueError("partition replace needs a table identifier, not a path")
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
