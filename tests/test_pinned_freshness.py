"""The pinned expected-value oracles are only valid for the exact
parquet bytes they were generated from. The driver regenerates
/root/testdata between rounds; if the bytes move (even float-noise
that flips one stop boundary), this test fails IMMEDIATELY with the
regeneration command instead of letting the correctness gate produce
confusing off-by-a-few row mismatches."""

import hashlib
import os
import sys

import pytest

from movingspark.pinned_oracles_sf001 import (
    DATA_FINGERPRINT,
    PINNED_SQL,
    PINNED_SQL_BY_SF,
)
from movingspark.pinned_params import DRIVER_SF


@pytest.mark.parametrize("sf_dir", sorted(DATA_FINGERPRINT))
def test_pinned_oracles_match_current_testdata(sf_dir):
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    with open(path, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()
    assert digest == DATA_FINGERPRINT[sf_dir], (
        f"{path} changed since the pinned oracles were generated — "
        "run `python tools/gen_pinned_oracles.py` to regenerate "
        "movingspark/pinned_oracles_sf001.py"
    )


def test_pinned_primary_is_the_driver_sf_set():
    """Round-4 regression guard: the driver evaluates correctness at
    DRIVER_SF (sf0.01); PINNED_SQL — what __spark_entry__.oracle_sql()
    exports — must be that sf's pin set, object-identically. A
    regeneration of the artifact with any sf-dir argument order must not
    be able to repoint it (r4 cost: 15/50 red driver rows from comparing
    sf0.01 Spark output against sf0.001 expected values)."""
    assert DRIVER_SF == "/root/testdata/sf0.01"
    assert DRIVER_SF in PINNED_SQL_BY_SF
    assert PINNED_SQL is PINNED_SQL_BY_SF[DRIVER_SF]


def test_oracle_sql_exports_the_driver_sf_pins():
    """The driver contract surface itself: __spark_entry__.oracle_sql()
    must hand the driver the DRIVER_SF pinned oracles, value-distinct
    from every other sf's set (so identity bugs can't hide behind
    accidentally-equal SQL)."""
    import __spark_entry__ as entry_mod

    osql = entry_mod.oracle_sql()
    for name, sql in PINNED_SQL_BY_SF[DRIVER_SF].items():
        assert osql[name] == sql, f"{name}: oracle_sql() != DRIVER_SF pin"
    for sf_dir, sqls in PINNED_SQL_BY_SF.items():
        if sf_dir == DRIVER_SF:
            continue
        # mcp pins hull-vertex ordinals — guaranteed sf-distinct
        assert osql["mcp"] != sqls["mcp"], (
            f"oracle_sql()['mcp'] equals the {sf_dir} set — the primary "
            "pin selection has been repointed off DRIVER_SF"
        )


def test_driver_window_covers_the_unevidenced_queries():
    """The correctness driver samples the FIRST 50 registry entries.
    Round 5's window must cover the 15 queries that went red in r4 via
    the pin mis-pointing plus the 4 entries that have never had a
    driver row (r4 positions 51-54). Guards against an accidental
    registry reorder rotating them back out before the driver runs."""
    import __spark_entry__ as entry_mod

    window = list(entry_mod.queries())[:50]
    priority = [
        "overlay_clip", "overlay_intersection", "split_angle",
        "split_stop", "kalman_smooth", "sig_points", "cluster_centroids",
        "generalize_min_distance", "generalize_min_timedelta",
        "generalize_max_distance", "generalize_tdtr", "outlier_clean",
        "mcp", "stop_points", "generalize_dp",
        "corridor_cells", "pipeline_tile_speed", "cell_visits",
        "hotspot_gi",
    ]
    missing = [n for n in priority if n not in window]
    assert not missing, f"priority queries outside the 50-entry window: {missing}"


def test_registry_and_oracles_are_bijective():
    import __spark_entry__ as entry_mod

    qnames = set(entry_mod.queries())
    onames = set(entry_mod.oracle_sql())
    assert qnames == onames, (
        f"queries-without-oracle: {sorted(qnames - onames)}; "
        f"oracles-without-query: {sorted(onames - qnames)}"
    )
    assert set(entry_mod.BENCH) <= qnames


def test_oracle_sql_raises_when_the_pinned_oracles_cannot_import(monkeypatch):
    """A failed import of the shipped pin module must not turn the 15
    sequential-op queries into unchecked rows-only runs."""
    import __spark_entry__ as entry_mod

    monkeypatch.setitem(sys.modules, "movingspark.pinned_oracles_sf001", None)
    with pytest.raises(ImportError):
        entry_mod.oracle_sql()
