"""Checkpoint/lineage layer: resume skips completed stages."""

import json

from movingspark.checkpoint import Checkpointer
from tests.conftest import rows_to_points


def test_stage_writes_manifest_and_resumes(spark, tmp_path):
    df = rows_to_points(
        spark,
        [(1, "2020-01-01T00:00:00", 0, 0), (1, "2020-01-01T00:00:10", 1, 1)],
    )
    ck = Checkpointer(spark, str(tmp_path))

    calls = {"n": 0}

    def thunk():
        calls["n"] += 1
        return df

    out1 = ck.stage("s1", thunk)
    assert out1.count() == 2
    assert calls["n"] == 1
    m = ck.manifest("s1")
    assert m["rows"] == 2
    assert m["n_files"] >= 1
    assert sum(m["per_partition_rows"].values()) == 2
    assert "skew" in m

    # resume: thunk must NOT re-run
    ck2 = Checkpointer(spark, str(tmp_path))
    out2 = ck2.stage("s1", thunk)
    assert out2.count() == 2
    assert calls["n"] == 1
    assert ck2.log[-1]["action"] == "resumed"

    # invalidate forces recompute
    ck2.invalidate("s1")
    ck2.stage("s1", thunk)
    assert calls["n"] == 2


def test_manifest_schema_of_plain_and_partitioned_stages(spark, tmp_path):
    """A stage's read-back (cold and resumed) and its manifest's schema
    string are what Spark infers from the written files, partition
    columns included."""
    df = rows_to_points(
        spark,
        [(1, "2020-01-01T00:00:00", 0, 0, "a"), (2, "2020-01-01T00:00:10", 1, 1, "b")],
        extra_cols=("tag",),
    )
    ck = Checkpointer(spark, str(tmp_path))
    for name, part in (("plain", None), ("parted", ["tag"])):
        back = ck.stage(name, lambda: df, partition_by=part)
        want = spark.read.parquet(str(tmp_path / name)).schema
        assert back.schema == want
        assert ck.manifest(name)["schema"] == want.simpleString()
        resumed = Checkpointer(spark, str(tmp_path)).stage(name, lambda: df, partition_by=part)
        assert resumed.schema == want
        assert sorted(resumed.collect()) == sorted(back.collect())
