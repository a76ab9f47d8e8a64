"""Scalar layer (SURVEY §2.6) — semantics pinned against the reference's JS.

The quirks that matter (SURVEY §7.5 #2): F-DELTA's falsy-zero rule,
F-HRS2SEC's null→0, pct formulas' exact arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from feasibility_etl_spark.functions.scalar import (
    delta_pair,
    hrs_to_sec,
    jira_ts,
    pct_change_abs,
    pct_diff,
)


def one(spark, **cols):
    return spark.createDataFrame([Row(**cols)])


def test_pct_change_abs(spark):
    df = one(spark, old=100.0, new=80.0)
    [r] = df.select(pct_change_abs("old", "new").alias("p")).collect()
    assert r.p == 20.0


def test_pct_change_div_by_zero_is_infinity(spark):
    # JS yields Infinity for old=0 (helpers.js:234-240); double/double in
    # Spark matches — pinned as SURVEY §2.6 requires
    df = one(spark, old=0.0, new=5.0)
    [r] = df.select(pct_change_abs("old", "new").alias("p")).collect()
    assert math.isinf(r.p)


def test_pct_diff_symmetric_formula(spark):
    # helpers.js:296-302: ((v1-v2)/((v1+v2)/2))*100
    df = one(spark, a=29520.0, b=10800.0)
    [r] = df.select(pct_diff("a", "b").alias("p")).collect()
    assert abs(r.p - (29520 - 10800) / ((29520 + 10800) / 2) * 100) < 1e-12


def test_delta_pair_happy_path(spark):
    df = one(spark, est=300.0, act=100.0)
    d, p = delta_pair("est", "act")
    [r] = df.select(d.alias("d"), p.alias("p")).collect()
    assert r.d == 200.0  # positive = overestimate (helpers.js:318)
    assert r.p == 100.0


def test_delta_pair_zero_is_missing(spark):
    # THE load-bearing quirk: 0 is treated as missing, not just NULL
    # (helpers.js:314 falsy guard)
    for est, act in [(0.0, 100.0), (100.0, 0.0), (None, 100.0), (100.0, None)]:
        df = spark.createDataFrame([(est, act)], "est double, act double")
        d, p = delta_pair("est", "act")
        [r] = df.select(d.alias("d"), p.alias("p")).collect()
        assert r.d is None and r.p is None, (est, act)


def test_hrs_to_sec_null_coalesces_to_zero(spark):
    df = spark.createDataFrame([(None,), (2.0,), (0.0,)], "h double")
    rows = df.select(hrs_to_sec("h").alias("s")).collect()
    assert [r.s for r in rows] == [0.0, 7200.0, 0.0]



def test_jira_ts_parses_wire_format(spark):
    # sample from testing.sql:43
    df = one(spark, s="2015-06-12T17:16:51.263+0000")
    [r] = df.select(F.date_format(jira_ts("s"), "yyyy-MM-dd HH:mm:ss.SSS").alias("t")).collect()
    assert r.t == "2015-06-12 17:16:51.263"
