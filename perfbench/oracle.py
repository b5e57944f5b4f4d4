"""DuckDB recomputation of the doc pipeline's outputs from the generated
parquet: the point-in-polygon join rows and the tile rollup, reduced to
exact integer checksums that the engine's outputs are held to.

The join is computed without the engine's cell cover: every point in a
polygon's bounding box is tested against every edge with the even-odd
ray cast (boundary counts as inside), in the same IEEE operation order
as the engine's generated predicate, so verdicts agree bit for bit.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from movingspark import cells

_POINTS = """
    SELECT doc_id AS traj_id, s."offset" AS "offset",
           CAST(split_part(s.text, ';', 2) AS DOUBLE) AS x,
           CAST(split_part(s.text, ';', 3) AS DOUBLE) AS y
    FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{glob}'))
    WHERE s.kind = 'text'
"""


# checksums over the join rows (traj_id, offset, poly_id) and the tile rows
# (cell, n_points, n_trajs); SQL that Spark and DuckDB evaluate alike, with
# {o} standing for the quoted `offset` column name
_KEY = "(CAST(substr(traj_id, 4) AS BIGINT) * 64 + {o})"
_POLY = "CAST(substr(poly_id, 5) AS BIGINT)"
JOIN_CHECKS = {
    "n": "count(*)",
    "s": f"sum({_KEY} * ({_POLY} + 1))",
    "x": f"bit_xor({_KEY} * 31 + {_POLY})",
}
TILE_CHECKS = {
    "n": "count(*)",
    "p": "sum(n_points)",
    "cp": "sum(cell * n_points)",
    "ct": "sum(cell * n_trajs)",
}


def _checks_sql(checks: dict, quote: str) -> str:
    return ", ".join(f"{sql.format(o=quote + 'offset' + quote)} AS {name}" for name, sql in checks.items())


def spark_checks(checks: dict) -> list:
    """The checksum aggregates as Spark columns (for DataFrame.observe)."""
    from pyspark.sql import functions as F

    return [F.expr(sql.format(o="`offset`")).alias(name) for name, sql in checks.items()]


def _edges_frame(polygons) -> pd.DataFrame:
    rows = []
    for pid, verts in polygons:
        k = len(verts)
        for i in range(k):
            xa, ya = verts[i]
            xb, yb = verts[(i + 1) % k]
            rows.append(
                {
                    "poly_id": pid,
                    "xa": xa,
                    "ya": ya,
                    "dx": xb - xa,
                    "dy": yb - ya,
                    "denom": (yb - ya) if yb != ya else 1.0,
                    "yb": yb,
                    "exlo": min(xa, xb) - 1e-12,
                    "exhi": max(xa, xb) + 1e-12,
                    "eylo": min(ya, yb) - 1e-12,
                    "eyhi": max(ya, yb) + 1e-12,
                }
            )
    return pd.DataFrame(rows)


def doc_checks(docs_dir: str, polygons, res: int) -> tuple[dict, dict]:
    """JOIN_CHECKS over the rows (traj_id, offset, poly_id) of every
    text-span point inside a polygon, and TILE_CHECKS over the rollup
    (cell, n_points, n_trajs) of all text-span points at `res`."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("edges", _edges_frame(polygons))
        con.execute(f"CREATE TABLE pts AS {_POINTS.format(glob=docs_dir + '/*.parquet')}")
        join = con.execute(
            f"""
            WITH join_rows AS (
            WITH bbox AS (
                SELECT poly_id, min(xa) AS minx, max(xa) AS maxx, min(ya) AS miny, max(ya) AS maxy
                FROM edges GROUP BY poly_id),
            cand AS (
                SELECT p.traj_id, p."offset", p.x, p.y, b.poly_id FROM pts p JOIN bbox b
                ON p.x BETWEEN b.minx - 1e-9 AND b.maxx + 1e-9
               AND p.y BETWEEN b.miny - 1e-9 AND b.maxy + 1e-9)
            SELECT traj_id, "offset", poly_id FROM (
                SELECT c.traj_id, c."offset", c.poly_id,
                       bit_xor(CASE WHEN ((e.ya > c.y) != (e.yb > c.y))
                                     AND c.x < e.xa + ((c.y - e.ya) * e.dx) / e.denom
                                    THEN 1 ELSE 0 END) AS inside,
                       max(CASE WHEN abs(e.dx * (c.y - e.ya) - e.dy * (c.x - e.xa)) < 1e-12
                                     AND c.x >= e.exlo AND c.x <= e.exhi
                                     AND c.y >= e.eylo AND c.y <= e.eyhi
                                THEN 1 ELSE 0 END) AS on_edge
                FROM cand c JOIN edges e USING (poly_id)
                GROUP BY c.traj_id, c."offset", c.poly_id)
            WHERE inside = 1 OR on_edge = 1)
            SELECT {_checks_sql(JOIN_CHECKS, '"')} FROM join_rows
            """
        ).df()
        cell = cells.cell_id_sql("x", "y", res)
        tiles = con.execute(
            f"""WITH tiles AS (
                    SELECT {cell} AS cell, count(*) AS n_points, count(DISTINCT traj_id) AS n_trajs
                    FROM pts GROUP BY 1)
                SELECT {_checks_sql(TILE_CHECKS, '"')} FROM tiles"""
        ).df()
    finally:
        con.close()
    return (
        {k: int(v) for k, v in join.iloc[0].items()},
        {k: int(v) for k, v in tiles.iloc[0].items()},
    )
