"""Every registry op at sf0.001 against its DuckDB oracle.

An op with an oracle must match it in row count, column names and the
order-insensitive value hash that ``tools/check_correctness.py`` computes;
a rows-only op must return rows. DuckDB runs in-process over the same
parquet files."""

from __future__ import annotations

import gc
import importlib.util
from pathlib import Path

import duckdb
import pytest
from conftest import SF0001 as SF

from feasibility_etl_spark.driver_queries import REGISTRY

_spec = importlib.util.spec_from_file_location(
    "check_correctness", Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py"
)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    check_correctness.create_views(con, SF)
    yield con
    con.close()


@pytest.mark.parametrize("qid", list(REGISTRY))
def test_registry_op_matches_its_oracle(spark, duck, qid):
    fn, oracle = REGISTRY[qid]
    df = fn(spark, SF)
    try:
        if oracle is None:
            assert df.count() > 0
        else:
            got = check_correctness.frame_fingerprint(
                list(df.columns), [tuple(r) for r in df.collect()]
            )
            cur = duck.execute(oracle)
            want = check_correctness.frame_fingerprint(
                [d[0] for d in cur.description], cur.fetchall()
            )
            assert got == want
            assert got[0] > 0
    finally:
        # compositions tie their stage caches to the frame's lifetime:
        # release them before the next case
        del df
        gc.collect()
        spark.catalog.clearCache()
