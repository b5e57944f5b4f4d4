import pytest

from movingspark.session import local_session


@pytest.fixture(scope="session")
def spark():
    s = local_session(4, "movingspark-tests", "8g")
    yield s
    s.stop()


def rows_to_points(spark, rows, extra_cols=()):
    """rows: list of (traj_id, t_iso, x, y, *extras)."""
    cols = ["traj_id", "t", "x", "y", *extra_cols]
    import datetime as dt

    data = []
    for r in rows:
        t = dt.datetime.fromisoformat(r[1]) if isinstance(r[1], str) else r[1]
        data.append((str(r[0]), t, float(r[2]), float(r[3]), *r[4:]))
    schema_parts = ["traj_id string", "t timestamp", "x double", "y double"]
    for c in extra_cols:
        schema_parts.append(f"{c} string")
    return spark.createDataFrame(data, ", ".join(schema_parts))
