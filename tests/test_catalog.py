"""Table IO boundary (catalog.py): identifier vs path resolution; the
identifier branch is the call surface Iceberg catalogs intercept."""

import datetime as dt
import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from movingspark import catalog
from perfbench import gen

SF = "/root/testdata/sf0.01"


def test_path_roundtrip(spark, tmp_path):
    df = spark.range(10).withColumnRenamed("id", "v")
    p = str(tmp_path / "t1")
    catalog.write_table(df, p, mode="overwrite")
    back = catalog.read_table(spark, p)
    assert back.count() == 10


def test_identifier_roundtrip_v2_writer(spark):
    df = spark.range(5).withColumnRenamed("id", "v")
    spark.sql("DROP TABLE IF EXISTS ms_cat_test")
    catalog.write_table(df, "ms_cat_test", mode="overwrite")
    assert catalog.read_table(spark, "ms_cat_test").count() == 5
    catalog.write_table(df, "ms_cat_test", mode="append")
    assert catalog.read_table(spark, "ms_cat_test").count() == 10
    spark.sql("DROP TABLE IF EXISTS ms_cat_test")


def test_is_table_identifier():
    assert catalog.is_table_identifier("iceberg.db.docs")
    assert not catalog.is_table_identifier("/data/docs.parquet")
    assert not catalog.is_table_identifier("s3://bucket/docs")


def test_bucketed_table_groupby_needs_no_exchange(spark, tmp_path):
    """Co-located layout evidence: an aggregation keyed on the bucket
    column over a bucketed table must run WITHOUT a shuffle exchange
    (the scan itself reports the hash partitioning)."""
    import re

    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 50).cast("string").alias("traj_id"),
        F.col("id").cast("double").alias("x"),
    )
    spark.sql("DROP TABLE IF EXISTS bucketed_pts")
    catalog.write_bucketed(df, "bucketed_pts", ["traj_id"], n_buckets=8)
    agg = catalog.read_table(spark, "bucketed_pts").groupBy("traj_id").agg(
        F.sum("x").alias("sx"), F.count("*").alias("n")
    )
    plan_buf = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_buf, plan_buf[:800]
    assert agg.count() == 50
    # identical unbucketed aggregation DOES shuffle (sanity of the assert)
    plain = df.groupBy("traj_id").agg(F.sum("x").alias("sx"))
    assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()
    spark.sql("DROP TABLE IF EXISTS bucketed_pts")


def test_bucketed_plan_survives_append(spark):
    """Appending a snapshot to the bucketed table (write_bucketed with
    mode='append', matching bucket spec) must keep BOTH properties: the
    appended rows are visible, and the aggregation keyed on the bucket
    column still plans with zero exchanges."""
    from pyspark.sql import functions as F

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 50).cast("string").alias("traj_id"),
            F.col("id").cast("double").alias("x"),
        )

    spark.sql("DROP TABLE IF EXISTS bucketed_append")
    catalog.write_bucketed(mk(0, 1000), "bucketed_append", ["traj_id"], n_buckets=8)
    catalog.write_bucketed(
        mk(1000, 1500), "bucketed_append", ["traj_id"], n_buckets=8, mode="append"
    )
    t = catalog.read_table(spark, "bucketed_append")
    assert t.count() == 1500  # appended snapshot visible
    agg = t.groupBy("traj_id").agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    assert agg.count() == 50
    spark.sql("DROP TABLE IF EXISTS bucketed_append")


def test_replace_partitions_scoped_overwrite(spark, tmp_path):
    """replace_partitions rewrites ONLY the partitions present in the
    incoming frame — the session-catalog twin of an Iceberg
    partition-level replace commit."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS part_replace")
    base = spark.createDataFrame(
        [("d1", 1.0), ("d1", 2.0), ("d2", 3.0), ("d3", 4.0)],
        "day string, v double",
    ).select("v", "day")  # partition col LAST for insertInto ordering
    catalog.write_table(base, "part_replace", mode="overwrite", partition_by=["day"])

    patch = spark.createDataFrame([(99.0, "d2")], "v double, day string")
    catalog.replace_partitions(patch, "part_replace")

    rows = {
        (r["day"], r["v"])
        for r in catalog.read_table(spark, "part_replace").collect()
    }
    # d2 fully replaced; d1 and d3 untouched
    assert rows == {("d1", 1.0), ("d1", 2.0), ("d2", 99.0), ("d3", 4.0)}
    spark.sql("DROP TABLE IF EXISTS part_replace")


def _same_schema_as_spark(spark, path):
    """read_table gives the schema Spark infers: names, types, nullability."""
    want = spark.read.parquet(path).schema
    got = catalog.read_table(spark, path).schema
    assert got == want, (got.simpleString(), want.simpleString())
    return got


def test_path_schema_perfbench_tables(spark, tmp_path):
    docs, _ = gen.gen_docs(gen.DocParams(n_docs=300, hot_frac=0.2, edge_frac=0.1), 3)
    trajs, _ = gen.gen_trajs(gen.TrajParams(n_trajs=10, mean_len=20.0, long_len=60), 3)
    for name, table in (("docs", docs), ("trajs", trajs)):
        gen.write_parts(table, str(tmp_path / name), n_files=3)
        _same_schema_as_spark(spark, str(tmp_path / name))


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.01 test data absent")
@pytest.mark.parametrize("table", sorted(os.path.basename(p) for p in glob.glob(f"{SF}/*.parquet")))
def test_path_schema_testdata_tables(spark, table):
    _same_schema_as_spark(spark, f"{SF}/{table}")


@pytest.mark.parametrize("ts_type", ["TIMESTAMP_MICROS", "INT96"])
def test_path_schema_spark_written_timestamps(spark, tmp_path, ts_type):
    """TIMESTAMP and TIMESTAMP_NTZ columns as Spark writes them, the
    TIMESTAMP column once as INT64 micros and once as INT96."""
    df = spark.sql(
        "SELECT TIMESTAMP '2021-03-04 05:06:07.123456' AS ts, "
        "TIMESTAMP_NTZ '2021-03-04 05:06:07.123456' AS ntz, 1 AS k"
    )
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, ts_type)
    try:
        df.write.mode("overwrite").parquet(str(tmp_path / "t"))
    finally:
        spark.conf.set(key, prev)
    got = _same_schema_as_spark(spark, str(tmp_path / "t"))
    assert [f.dataType.simpleString() for f in got] == ["timestamp", "timestamp_ntz", "int"]
    assert catalog.read_table(spark, str(tmp_path / "t")).collect() == df.collect()


def test_path_schema_foreign_int96_and_nanos(spark, tmp_path):
    """Files without Spark's schema key whose timestamps pyarrow and Spark
    read differently (INT96, nanoseconds) get Spark's schema."""
    t = pa.table({"ts": pa.array([dt.datetime(2021, 3, 4, 5, 6, 7)], pa.timestamp("us")), "v": [1.5]})
    pq.write_table(t, str(tmp_path / "int96.parquet"), use_deprecated_int96_timestamps=True)
    got = _same_schema_as_spark(spark, str(tmp_path / "int96.parquet"))
    assert got["ts"].dataType.simpleString() == "timestamp"
    pq.write_table(t.cast(pa.schema([("ts", pa.timestamp("ns")), ("v", pa.float64())])), str(tmp_path / "ns.parquet"))
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(str(tmp_path / "ns.parquet")).schema
    with pytest.raises(type(spark_err.value)):
        catalog.read_table(spark, str(tmp_path / "ns.parquet"))


def test_path_schema_pandas_naive_timestamps(spark, tmp_path):
    pdf = pd.DataFrame({
        "traj_id": ["a", "b", None],
        "t": pd.to_datetime(["2021-01-01 00:00:00", "2021-01-01 00:00:10", None]),
        "x": [1.0, None, 3.0],
        "n": pd.array([1, None, 3], dtype="Int64"),
    })
    p = str(tmp_path / "pandas")
    os.makedirs(p)
    pdf.to_parquet(f"{p}/part-0.parquet", coerce_timestamps="us")
    got = _same_schema_as_spark(spark, p)
    assert got["t"].dataType.simpleString() == "timestamp_ntz"


def test_path_schema_hive_partitioned(spark, tmp_path):
    """Spark still infers the partition columns from the directory names
    when the data schema comes from a footer."""
    df = spark.sql("SELECT id, CAST(id % 3 AS INT) AS day, CAST(id % 2 AS STRING) AS part FROM range(12)")
    df.write.partitionBy("day", "part").parquet(str(tmp_path / "spark"))
    got = _same_schema_as_spark(spark, str(tmp_path / "spark"))
    assert got.names == ["id", "day", "part"]
    pq.write_to_dataset(
        pa.table({"v": [1.0, 2.0, 3.0], "day": [1, 2, 2]}), str(tmp_path / "arrow"), partition_cols=["day"]
    )
    got = _same_schema_as_spark(spark, str(tmp_path / "arrow"))
    assert got.names == ["v", "day"]
    assert catalog.read_table(spark, str(tmp_path / "arrow")).count() == 3


def test_path_schema_nested_spans_with_null_element(spark, tmp_path):
    span = pa.struct([("kind", pa.string()), ("text", pa.string()), ("offset", pa.int32())])
    t = pa.table({
        "doc_id": ["d0", "d1"],
        "spans": pa.array([[{"kind": "text", "text": "1;2;3", "offset": 0}, None], None], pa.list_(span)),
    })
    gen.write_parts(t, str(tmp_path / "arrow"), n_files=1)
    _same_schema_as_spark(spark, str(tmp_path / "arrow"))
    spark.read.parquet(str(tmp_path / "arrow")).write.parquet(str(tmp_path / "spark"))
    _same_schema_as_spark(spark, str(tmp_path / "spark"))


def test_path_schema_empty_directory_fails_as_spark_does(spark, tmp_path):
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        catalog.read_table(spark, str(tmp_path))


def test_path_schema_unreadable_file_fails_as_spark_does(spark, tmp_path):
    (tmp_path / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(str(tmp_path)).schema
    with pytest.raises(type(spark_err.value)):
        catalog.read_table(spark, str(tmp_path))


def test_path_read_runs_no_spark_job(spark, tmp_path):
    """Building a path read runs no Spark job (an inferred schema costs
    one job per read), counted with the status tracker."""
    p = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s").repartition(4).write.parquet(p)
    sc = spark.sparkContext

    def jobs(read, group):
        sc.setJobGroup(group, group)
        try:
            read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(lambda: catalog.read_table(spark, p), "read_table_schema") == 0
    assert jobs(lambda: spark.read.parquet(p), "read_parquet_schema") == 1
