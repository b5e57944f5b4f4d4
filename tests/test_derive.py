"""Derived-column parity with reference test_trajectory.py pinned values."""

import datetime as _dt
import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from movingspark import derive, ingest, queries, schema
from tests import oracles
from tests.conftest import rows_to_points


def _vals(df, col, order=("traj_id", "t")):
    return [r[col] for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def grid5(spark):
    # default_traj_metric_5 (test_trajectory.py:85-96)
    return rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:00:10", 6, 0),
            (1, "1970-01-01T00:00:20", 10, 0),
            (1, "1970-01-01T00:00:30", 10, 10),
            (1, "1970-01-01T00:00:40", 0, 10),
        ],
    )


@pytest.fixture(scope="module")
def square4(spark):
    # add_direction fixture (test_trajectory.py:339-344)
    return rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-02T00:00:00", 6, 0),
            (1, "1970-01-03T00:00:00", 6, -6),
            (1, "1970-01-04T00:00:00", -6, -6),
        ],
    )


def test_add_timedelta_first_null(spark, grid5):
    out = derive.add_timedelta(grid5)
    vals = _vals(out, schema.TIMEDELTA)
    assert vals[0] is None
    assert vals[1:] == [10.0, 10.0, 10.0, 10.0]


def test_add_distance_first_zero(spark, grid5):
    out = derive.add_distance(grid5)
    assert _vals(out, schema.DISTANCE) == [0.0, 6.0, 4.0, 10.0, 10.0]


def test_add_distance_km(spark, grid5):
    out = derive.add_distance(grid5, units="km")
    assert _vals(out, schema.DISTANCE) == [0.0, 0.006, 0.004, 0.01, 0.01]


def test_add_speed(spark):
    # test_trajectory.py:443-446: 6 m in 1 s -> [6, 6]
    df = rows_to_points(
        spark,
        [(1, "1970-01-01T00:00:00", 0, 0), (1, "1970-01-01T00:00:01", 6, 0)],
    )
    assert _vals(derive.add_speed(df), schema.SPEED) == [6.0, 6.0]
    # with units ("km","h") -> 21.6 (test_trajectory.py:448-451)
    assert _vals(derive.add_speed(df, units=("km", "h")), schema.SPEED) == [21.6, 21.6]


def test_add_acceleration(spark):
    # test_trajectory.py:541-559
    df = rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:00:01", 6, 0),
            (1, "1970-01-01T00:00:02", 18, 0),
        ],
    )
    assert _vals(derive.add_acceleration(df), schema.ACCELERATION) == [0.0, 0.0, 6.0]
    assert _vals(derive.add_acceleration(df, units="km"), schema.ACCELERATION) == [
        0.0,
        0.0,
        0.006,
    ]
    out = _vals(derive.add_acceleration(df, units=("km", "h")), schema.ACCELERATION)
    assert out == pytest.approx([0.0, 0.0, 21.6])
    out = _vals(derive.add_acceleration(df, units=("km", "h", "min")), schema.ACCELERATION)
    assert out == pytest.approx([0.0, 0.0, 1296.0])


def test_add_direction(spark, square4):
    # test_trajectory.py:339-344: [90, 90, 180, 270]
    assert _vals(derive.add_direction(square4), schema.DIRECTION) == [90.0, 90.0, 180.0, 270.0]


def test_add_direction_latlon(spark):
    df = rows_to_points(
        spark,
        [(1, "1970-01-01T00:00:00", 0, 0), (1, "1970-01-02T00:00:00", 10, 10)],
    )
    out = _vals(derive.add_direction(df, latlon=True), schema.DIRECTION)
    assert out[0] == pytest.approx(44.561451413257714, abs=1e-4)
    assert out[1] == pytest.approx(44.561451413257714, abs=1e-4)


def test_add_angular_difference(spark, square4):
    # test_trajectory.py:389-394: [0, 0, 90, 90]
    out = derive.add_angular_difference(square4)
    assert _vals(out, schema.ANGULAR_DIFFERENCE) == [0.0, 0.0, 90.0, 90.0]
    # temp direction column dropped again
    assert schema.DIRECTION not in out.columns


def test_add_distance_latlon(spark):
    # test_trajectory.py:712-723
    df = rows_to_points(
        spark,
        [(1, "1970-01-01T00:00:00", 0, 1), (1, "1970-01-01T00:00:01", 6, 0)],
    )
    out = _vals(derive.add_distance(df, latlon=True), schema.DISTANCE)
    assert out[1] / 1000 == pytest.approx(676.3, abs=1)
    out = _vals(derive.add_distance(df, latlon=True, units="nm"), schema.DISTANCE)
    assert out[1] == pytest.approx(365, abs=1)


def test_add_speed_latlon(spark):
    # test_trajectory.py:503-506: speed/1000 ~ 676.3 (approx abs=1)
    df = rows_to_points(
        spark,
        [(1, "1970-01-01T00:00:00", 0, 1), (1, "1970-01-01T00:00:01", 6, 0)],
    )
    out = _vals(derive.add_speed(df, latlon=True), schema.SPEED)
    assert out[0] / 1000 == pytest.approx(676.3, abs=1)


def test_multi_trajectory_independence(spark):
    df = rows_to_points(
        spark,
        [
            (1, "1970-01-01T00:00:00", 0, 0),
            (1, "1970-01-01T00:00:01", 6, 0),
            (2, "1970-01-01T00:00:00", 0, 0),
            (2, "1970-01-01T00:00:02", 4, 0),
        ],
    )
    out = derive.add_speed(df)
    got = {(r["traj_id"], r["t"].second): r[schema.SPEED] for r in out.collect()}
    assert got[("1", 0)] == 6.0 and got[("1", 1)] == 6.0
    assert got[("2", 0)] == 2.0 and got[("2", 2)] == 2.0


def test_apply_offset_seconds(spark, grid5):
    out = derive.apply_offset_seconds(grid5.withColumn("v", F.col("x")), "v", 10)
    vals = _vals(out, "v")
    assert vals == [6.0, 10.0, 10.0, 0.0, None]


# ---------------------------------------------------------------------------
# one-builder outputs == the chained formulation (tests/oracles.py), exactly
# ---------------------------------------------------------------------------


def _seeded(spark, seed, latlon=False, dup_t=False):
    """Trajectories of 1, 2, 3, 6 and 40 points: repeated positions,
    one NaN coordinate, and (dup_t) Δt = 0 steps."""
    rng = np.random.default_rng(seed)
    rows = []
    for tid, n in enumerate([1, 2, 3, 6, 40]):
        steps = rng.integers(0 if dup_t else 1, 4 if dup_t else 90, n)
        t0 = _dt.datetime(2020, 1, 1) + _dt.timedelta(hours=int(tid))
        x, y = (rng.uniform(-170, 170), rng.uniform(-70, 70)) if latlon else rng.uniform(-500, 500, 2)
        for i in range(n):
            if rng.random() > 0.2:  # else: repeat the previous position
                scale = 0.05 if latlon else 40.0
                x, y = x + rng.normal(0, scale), y + rng.normal(0, scale)
            us = 0 if dup_t else int(rng.integers(0, 4)) * 250_000
            t = t0 + _dt.timedelta(seconds=int(steps[: i + 1].sum()), microseconds=us)
            rows.append((f"tr{tid}", t, float("nan") if (n == 40 and i == 17) else float(x), float(y)))
    return spark.createDataFrame(rows, "traj_id string, t timestamp, x double, y double")


def _same(u, v) -> bool:
    if isinstance(u, float) and isinstance(v, float):
        return (math.isnan(u) and math.isnan(v)) or struct.pack("<d", u) == struct.pack("<d", v)
    return u == v


def assert_rows_identical(got, want):
    assert got.columns == want.columns
    order = [c for c in ("traj_id", "t", "x", "y") if c in got.columns]
    g, e = got.orderBy(*order).collect(), want.orderBy(*order).collect()
    assert len(g) == len(e)
    for rg, re_ in zip(g, e):
        assert all(_same(a, b) for a, b in zip(rg, re_)), (rg, re_)


@pytest.mark.parametrize("latlon", [False, True])
def test_all_kinematics_bit_identical_to_chained(spark, latlon):
    for seed in (1, 2):
        df = _seeded(spark, seed, latlon=latlon)
        assert_rows_identical(
            derive.add_all_kinematics(df, latlon=latlon),
            oracles.chained_kinematics(df, latlon),
        )


@pytest.mark.parametrize("latlon", [False, True])
def test_each_kinematic_with_units_and_names_bit_identical(spark, latlon):
    df = _seeded(spark, 3, latlon=latlon)
    for units in (None, ("km", "h"), ("km", "h", "min")):
        assert_rows_identical(
            derive.add_distance(df, "d", units=units, latlon=latlon),
            oracles.chained_distance(df, "d", units, latlon, None),
        )
        assert_rows_identical(
            derive.add_speed(df, "v", units=units, latlon=latlon),
            oracles.chained_speed(df, "v", units, latlon, None),
        )
        assert_rows_identical(
            derive.add_acceleration(df, "a", units=units, latlon=latlon),
            oracles.chained_acceleration(df, "a", units, latlon, None),
        )
    assert_rows_identical(
        derive.add_direction(df, "b", latlon=latlon), oracles.chained_direction(df, "b", latlon)
    )
    assert_rows_identical(
        derive.add_angular_difference(df, "ad", latlon=latlon),
        oracles.chained_angular_difference(df, "ad", latlon),
    )


def test_existing_speed_and_direction_columns_are_reused(spark):
    """The input's own `speed`/`direction` (here arbitrary values with
    nulls) feed acceleration and angular difference; `add_speed` /
    `add_direction` still overwrite them."""
    base = _seeded(spark, 4)
    h = F.abs(F.hash("traj_id", "t"))
    df = base.withColumn(schema.SPEED, F.when(h % 7 == 0, None).otherwise(h % 13 / 3.0)).withColumn(
        schema.DIRECTION, F.when(h % 5 == 0, None).otherwise(h % 360 * 1.0)
    )
    cases = [
        (derive.add_acceleration(df, "acc", units=("km", "h")),
         oracles.chained_acceleration(df, "acc", ("km", "h"), False, None)),
        (derive.add_angular_difference(df, "ang"), oracles.chained_angular_difference(df, "ang", False)),
        (derive.add_speed(df), oracles.chained_speed(df, schema.SPEED, None, False, None)),
        (derive.add_direction(df), oracles.chained_direction(df, schema.DIRECTION, False)),
        (derive.add_all_kinematics(df), oracles.chained_kinematics(df, False)),
    ]
    for got, want in cases:
        assert_rows_identical(got, want)


def test_duplicate_timestamps_bit_identical(spark):
    """Δt = 0: the division-free columns match everywhere; speed and
    acceleration raise DIVIDE_BY_ZERO under ANSI on both formulations
    and are null at the same rows with ANSI off."""
    from pyspark.errors import ArithmeticException

    df = _seeded(spark, 5, dup_t=True)
    assert_rows_identical(derive.add_timedelta(df), oracles.chained_timedelta(df, schema.TIMEDELTA))
    assert_rows_identical(derive.add_distance(df), oracles.chained_distance(df, schema.DISTANCE, None, False, None))
    assert_rows_identical(derive.add_direction(df), oracles.chained_direction(df, schema.DIRECTION, False))
    assert_rows_identical(
        derive.add_angular_difference(df), oracles.chained_angular_difference(df, schema.ANGULAR_DIFFERENCE, False)
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for f in (derive.add_speed, oracles.chained_speed):
            with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
                (f(df) if f is derive.add_speed else f(df, schema.SPEED, None, False, None)).collect()
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert_rows_identical(derive.add_all_kinematics(df), oracles.chained_kinematics(df, False))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


@pytest.mark.parametrize("latlon", [False, True])
def test_length_consumers_match_lag_segment_sum(spark, latlon):
    """get_length, traj_summary and filter_min_length sum the same
    per-row distance the lag-only segment formulation gave."""
    df = _seeded(spark, 6, latlon=latlon)
    want = df.withColumn("s", oracles.seg_dist_lag(latlon)).groupBy("traj_id").agg(
        F.sum("s").alias("length")
    )
    assert_rows_identical(queries.get_length(df, latlon=latlon), want)
    summ = queries.traj_summary(df, latlon=latlon).select("traj_id", "length")
    assert_rows_identical(summ, want)
    # keep trajectories strictly longer than the median length
    lens = sorted(r["length"] for r in want.collect() if not math.isnan(r["length"]))
    cut = lens[len(lens) // 2]
    kept = {r["traj_id"] for r in ingest.filter_min_length(df, cut, latlon=latlon).collect()}
    assert kept == {r["traj_id"] for r in want.filter(F.col("length") > cut).collect()}


def test_cli_kinematics_normalizes_a_pandas_parquet(spark, tmp_path):
    """A pandas-written parquet reads back with t as TIMESTAMP_NTZ and
    here repeats one (traj_id, t): the CLI job normalizes it as the
    reference constructor does instead of failing on unix_micros(t) or
    dividing by a zero Δt, and writes one row per distinct (traj_id, t)."""
    import contextlib
    import io
    import json

    import pandas as pd

    from movingspark.cli import main

    pdf = pd.DataFrame({
        "traj_id": ["a"] * 4 + ["b"] * 3,
        "t": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:00:10", "2024-01-01 00:00:10",
            "2024-01-01 00:00:30", "2024-01-01 01:00:00", "2024-01-01 01:00:05",
            "2024-01-01 01:00:20",
        ]).astype("datetime64[us]"),
        "x": [0.0, 10.0, 11.0, 30.0, 5.0, 6.0, 9.0],
        "y": [0.0, 0.0, 1.0, 0.0, 5.0, 5.0, 7.0],
    })
    src, dst = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    pdf.to_parquet(src)
    assert dict(spark.read.parquet(src).dtypes)["t"] == "timestamp_ntz"

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["kinematics", "--input", src, "--output", dst])
    assert rc == 0
    assert json.loads(buf.getvalue().splitlines()[-1]) == {"rows_in": 7, "rows": 6}
    rows = spark.read.parquet(dst).collect()
    keys = [(r["traj_id"], r["t"]) for r in rows]
    assert len(keys) == len(set(keys)) == len(pdf.drop_duplicates(["traj_id", "t"]))
    assert all(math.isfinite(r["speed"]) for r in rows)
