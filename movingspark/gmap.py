"""Grouped-map execution on Arrow arrays, one pass per batch.

The sequential per-trajectory kernels (stop detector, generalizers,
Kalman, angle split, overlay clip, hulls, significant points) are "one
function per traj_id group". groupBy().applyInPandas pays per-GROUP
dispatch, which dominates when groups are small (~70-row groups at
sf0.1: ~2/3 of the overlay clip's time). `grouped_apply_sorted` runs
the function in ONE mapInArrow pass over partitions hash-partitioned
and sorted by (traj_id, t). Per Arrow batch it:

- finds the trajectory boundaries with `pyarrow.compute.not_equal` on
  `traj_id` (null next to null is one group, null next to a value a
  boundary) and holds the last group back: it may go on in the next batch;
- converts a column to numpy when a kernel first reads it, once per
  batch (`t` as datetime64[ns]; `seconds` makes float seconds of it);
- calls ``fn(g)`` once per trajectory: ``g[name]`` is the numpy slice of
  column ``name``, ``len(g)`` the row count. It returns ``(take,
  overrides)``: row indices into the group (``np.zeros(k)`` makes k rows
  that carry the group's columns) and a dict of arrays of len(take) that
  replace a column or add one;
- builds one RecordBatch: a column no call overrides is taken with
  `RecordBatch.take` and never leaves Arrow. An output column named like
  an input column keeps its Arrow type; a new timestamp column takes the
  input `t`'s (unit and zone).

Kernels read columns through ``np.asarray`` (``t`` through `seconds`), so
the same function also runs on a pandas frame of one trajectory
(perfbench's local kernel timing calls it that way).

This replaced a pass that turned each batch into a pandas frame and
sliced one per trajectory. On the bench's traj_analytics points (seed 3, local[4],
median of 7, Python-worker CPU per process) its four grouped-map queries
used 1.45 s per unit (stops 0.58, clip 0.38, Douglas-Peucker 0.27, Kalman
0.22) around 0.41 s of numpy kernel time; the rest was pandas glue per
trajectory (iloc/reset_index slices, the DataFrame, Series and Timestamp
objects each kernel built, pd.concat, Arrow-pandas conversion). The
clip's wrapper alone took 0.265 s around a 0.039 s core.

`map_batches` is the same contract for the row-wise operators (vector
math, pair metrics, media, fingerprints, the join's refine past its slot
cap): ``fn(batch)`` per Arrow batch returns the output columns, carried
columns pass through as Arrow arrays, and no pandas object is built.
`list_matrix` reads a list column of one length per row as a numpy
matrix with no per-row Python.

Both passes call `pyworker.prepare()` first, which removes two fixed
costs of every task in a reused worker (its docstring has the numbers).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from movingspark import pyworker


def seconds(t) -> np.ndarray:
    """Float seconds since the epoch: int64 ns -> float64 -> / 1e9.
    Not us / 1e6: ns counts exceed 2^53, so the float64 rounds before the
    division, and the two can differ in the last bit."""
    return np.asarray(t, "datetime64[ns]").view(np.int64) / 1e9


def timestamps(s) -> np.ndarray:
    """datetime64[ns] of float seconds rounded to the microsecond."""
    return (np.rint(np.asarray(s, float) * 1e6).astype(np.int64) * 1000).view("datetime64[ns]")


class _Columns(dict):
    """numpy arrays of one batch's columns, each made on its first read."""

    def __init__(self, batch: pa.RecordBatch):
        super().__init__()
        self.batch = batch

    def __missing__(self, name):
        col = self.batch.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("ns", col.type.tz))
        self[name] = arr = col.to_numpy(zero_copy_only=False)
        return arr


class _Rows:
    """One trajectory's rows of a batch: ``g[name]`` is a numpy slice."""

    __slots__ = ("cols", "start", "stop")

    def __init__(self, cols: _Columns, start: int, stop: int):
        self.cols, self.start, self.stop = cols, start, stop

    def __getitem__(self, name):
        return self.cols[name][self.start : self.stop]

    def __len__(self):
        return self.stop - self.start


def _group_starts(keys: pa.Array) -> np.ndarray:
    a, b = keys.slice(1), keys.slice(0, len(keys) - 1)
    # not_equal is null where either side is: then a boundary iff one side is
    differ = pc.coalesce(pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b)))
    return np.concatenate([[0], np.flatnonzero(differ.to_numpy(zero_copy_only=False)) + 1])


def _concat(batches: list) -> pa.RecordBatch:
    return batches[0] if len(batches) == 1 else pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def list_matrix(arr: pa.Array) -> np.ndarray:
    """(n, d) float64 matrix of a list array whose n rows all hold d
    values. Raises ValueError on a null or ragged row."""
    if arr.null_count:
        raise ValueError("null row in a list column")
    lengths = pc.list_value_length(arr).to_numpy()
    d = int(lengths[0]) if len(arr) else 0
    if (lengths != d).any():
        raise ValueError("list rows of different lengths")
    return arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(arr), d)


def map_batches(df: DataFrame, fn: Callable, schema) -> DataFrame:
    """One mapInArrow pass: ``fn(batch)`` per non-empty Arrow batch of
    `df` returns the columns of `schema` in order, of any one length.
    An Arrow array is kept as it is (a carried input column keeps its
    type); anything else becomes the field's Arrow type with NaN read
    as null, as the pandas conversion it replaced did."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    fields = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

    def per_batch(batches):
        pyworker.prepare()
        for batch in batches:
            if batch.num_rows:
                cols = [
                    c if isinstance(c, pa.Array) else pa.array(c, typ, from_pandas=True)
                    for c, (_, typ) in zip(fn(batch), fields)
                ]
                yield pa.RecordBatch.from_arrays(cols, names=[name for name, _ in fields])

    return df.mapInArrow(per_batch, schema=schema)


def grouped_apply_sorted(df: DataFrame, fn: Callable, schema) -> DataFrame:
    """``df.groupBy("traj_id")`` with a pure ``fn(g) -> (take, overrides)``
    applied per group (module docstring). `fn` sees one whole trajectory
    per call, its rows in ascending `t` order, so it needs no sort of its
    own (pinned in tests/test_gmap.py, as is row equality with
    applyInPandas of each kernel's former pandas form).

    Known trade-offs vs applyInPandas: the repartition is not elided when
    the input is already hash-partitioned on traj_id (no pipeline here
    chains two grouped maps without an exchange between), and one giant
    group still lands on a single task, as it does there."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    spark_fields = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

    def out_schema(inp: pa.Schema) -> pa.Schema:
        def arrow_type(name, typ):
            if name in inp.names:
                return inp.field(name).type
            return inp.field("t").type if pa.types.is_timestamp(typ) else typ

        return pa.schema([(name, arrow_type(name, typ)) for name, typ in spark_fields])

    def apply(batch, starts, stops, target):
        cols = _Columns(batch)
        takes, overrides = [], []
        for start, stop in zip(starts, stops):
            take, over = fn(_Rows(cols, start, stop))
            if len(take):
                takes.append(np.asarray(take, np.int64) + start)
                overrides.append(over)
        if not takes:
            return
        index = pa.array(np.concatenate(takes))
        arrays = []
        for field in target:
            if any(field.name in o for o in overrides):
                parts = [o[field.name] if field.name in o else cols[field.name][t] for t, o in zip(takes, overrides)]
                arrays.append(pa.array(np.concatenate(parts)).cast(field.type))
            else:
                arrays.append(batch.column(field.name).take(index))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)

    def per_batch(batches):
        pyworker.prepare()
        held, target = [], None  # held: the rows of the last group seen so far
        for batch in batches:
            if batch.num_rows == 0:
                continue
            target = target or out_schema(batch.schema)
            keys = batch.column("traj_id")
            # rows are sorted by traj_id: equal ends mean one group throughout
            if held and held[0].column("traj_id")[0].as_py() == keys[-1].as_py():
                held.append(batch)
                continue
            batch = _concat(held + [batch])
            starts = _group_starts(batch.column("traj_id"))
            held = [batch.slice(starts[-1])]
            yield from apply(batch, starts[:-1], starts[1:], target)
        if held:
            batch = _concat(held)
            yield from apply(batch, [0], [batch.num_rows], target)

    # Explicit partition count: repartition(traj_id) alone lets AQE coalesce
    # by SHUFFLE BYTES, which is miscalibrated for a CPU-bound Python
    # stage — at sf0.1 it folded 1500 trajectory groups onto 3 tasks and
    # tripled overlay-clip wall time. Passing N pins the exchange to the
    # configured shuffle parallelism (the operator's unit of CPU, not
    # bytes); on a real cluster shuffle.partitions is sized to the job,
    # so this keeps the configured intent at every scale.
    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = spark.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, "traj_id")
        .sortWithinPartitions("traj_id", "t")
        .mapInArrow(per_batch, schema=schema)
    )
