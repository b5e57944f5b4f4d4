"""Self-check: run every __spark_entry__ query against its DuckDB oracle
at a given sf dir and compare row count / schema / sorted values,
approximating the driver's CORRECTNESS gate.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
Set MOVINGSPARK_EXACT=1 to compare floats exactly (the driver's value
hash is exact; the default atol=1e-9 only approximates it).
"""

from __future__ import annotations

import os
import sys

ATOL = 0.0 if os.environ.get("MOVINGSPARK_EXACT") == "1" else 1e-9

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        problems.append(f"rowcount spark={len(a)} oracle={len(b)}")
        return problems
    a, b = norm(a), norm(b)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns spark={list(a.columns)} oracle={list(b.columns)}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = np.isclose(av.fillna(-9e99), bv.fillna(-9e99), rtol=0, atol=ATOL).all()
        else:
            ok = (av.fillna("<null>") == bv.fillna("<null>")).all() if av.dtype == object else av.equals(bv)
        if not ok:
            bad = None
            try:
                if pd.api.types.is_float_dtype(av):
                    m = ~np.isclose(av.fillna(-9e99), bv.fillna(-9e99), rtol=0, atol=ATOL)
                else:
                    m = ~(av.fillna("<null>") == bv.fillna("<null>"))
                i = int(np.flatnonzero(m)[0])
                bad = f"row {i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
            except Exception:
                pass
            problems.append(f"col {c} values differ ({bad})")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from movingspark.session import local_session

    spark = local_session(8, "check-correctness", "16g")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    # the sequential-op oracles are pinned per sf dir; swap in the set
    # matching this run's sf (the driver always runs the sf0.01 set)
    from movingspark.pinned_oracles_sf001 import PINNED_SQL_BY_SF

    key = sf_dir.rstrip("/")
    matched = {d.rstrip("/"): v for d, v in PINNED_SQL_BY_SF.items()}.get(key)
    if matched:
        oracles.update(matched)
    else:
        for name in PINNED_SQL_BY_SF[next(iter(PINNED_SQL_BY_SF))]:
            oracles.pop(name, None)
        print(f"note: no pinned oracles for {sf_dir}; mcp/stop_points/generalize_dp run rows-only")
    n_ok = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_bad += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"MISMATCH {name}: {'; '.join(problems)}")
            n_bad += 1
        else:
            print(f"OK {name}: {len(sdf)} rows")
            n_ok += 1

    # smoke entry()
    if not only:
        try:
            edf = E.entry(spark)
            n = edf.count()
            print(f"OK entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}")
        except Exception as e:
            print(f"FAIL entry(): {str(e)[:300]}")
            n_bad += 1

    print(f"\n{n_ok} ok, {n_bad} bad")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
