"""Canonical schemas and column-name constants.

Mirrors the reference's derived-column name registry
(reference trajectory.py:43-49) and the north-rule interleaved
document schema (BASELINE.json:15 / FIXTURES.md §3).

Every operator reads the point table by its fixed column names
(traj_id, t, x, y[, obj_id]); `ingest.make_traj_points` binds the
caller's names to them once, as the reference's Trajectory
constructor does.
"""

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Derived-column names (reference trajectory.py:43-49)
ACCELERATION = "acceleration"
ANGULAR_DIFFERENCE = "angular_difference"
DIRECTION = "direction"
DISTANCE = "distance"
SPEED = "speed"
TIMEDELTA = "timedelta_s"  # seconds as double (reference uses timedelta64)

# Earth constants (reference geometry_utils.py:18-19)
R_EARTH = 6371000.0  # spherical radius, meters
C_EARTH = 40075016.6856  # equatorial circumference, meters

# WGS84 ellipsoid (public constants; used by the geodesic kernel)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

# Canonical point schema (SURVEY.md §1.2)
POINT_SCHEMA = T.StructType(
    [
        T.StructField("traj_id", T.StringType(), False),
        T.StructField("obj_id", T.StringType(), True),
        T.StructField("t", T.TimestampType(), False),
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.DoubleType(), False),
    ]
)

# North-rule interleaved document schema (BASELINE.json:15)
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
    ]
)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-built frame of row tuples with the DDL schema
    `ddl`, passed to Spark as an Arrow table. Spark plans it as a
    LocalRelation, so reading it runs no job and no Python worker; a
    tuple list would become a parallelized RDD that every execution
    re-reads through the Python workers."""
    schema = T.StructType.fromDDL(ddl)
    rows = list(rows)
    table = pa.table({name: [r[i] for r in rows] for i, name in enumerate(schema.names)})
    return spark.createDataFrame(table, schema)
