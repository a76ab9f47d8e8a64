"""Driver-contract smoke: entry() yields rows; queries()/oracle_sql() align."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from feasibility_etl_spark.driver_queries import (
    ALL_ORACLES,
    ALL_QUERIES,
    DRIVER_WINDOW,
    ENGINE_DISK_BOUNDS,
    ORACLE_COMPUTE_BOUNDS,
    ORACLE_REGIMES,
)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_every_oracle_has_a_query():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    # rows-only exceptions are the documented hash-free ops
    assert set(q) - set(o) == {
        "DEDUP-CANDIDATES",
        "SIM-ANN",
        "EMB-NEARDUP",
    }
    # the driver records a bounded registry prefix (50 rows in round 1):
    # every operator must fit
    assert len(q) <= 50, f"registry has {len(q)} entries; driver cap is 50"


def test_operator_ids_cover_survey_families():
    keys = set(entrymod.queries())
    for prefix in ("S-", "P-", "J-", "A-", "F-", "E-"):
        assert any(k.startswith(prefix) for k in keys), f"missing family {prefix}"


def test_driver_window_keys_are_distinct():
    # a repeated id or driver key would collapse silently into one entry
    assert len(entrymod.queries()) == len(DRIVER_WINDOW)


def test_declared_bounds_name_registry_ids():
    # a stale key would be skipped silently by tools/check_correctness.py
    assert set(ORACLE_REGIMES) <= set(ALL_ORACLES)
    assert set(ORACLE_COMPUTE_BOUNDS) <= set(ALL_ORACLES)
    assert set(ENGINE_DISK_BOUNDS) <= set(ALL_QUERIES)


def test_bench_queries_are_registry_ids():
    from bench import BENCH_QUERIES

    assert [q for q in BENCH_QUERIES if q != "FLAGSHIP" and q not in ALL_QUERIES] == []


def test_perfbench_ids_have_query_and_oracle():
    from workloads import MIX_IDS

    ids = [q for q in MIX_IDS if q != "FLAGSHIP"] + ["PIPE-CORPUS"]
    assert [q for q in ids if q not in ALL_QUERIES or q not in ALL_ORACLES] == []
