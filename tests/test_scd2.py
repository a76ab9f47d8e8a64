"""SCD2 history writer: interval maintenance, read back as of an instant."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from feasibility_etl_spark.writer.scd2 import scd2_apply


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _hist_rows(hist):
    return sorted(
        (r.k, str(r.tier), str(r.valid_from), str(r.valid_to), r.is_current)
        for r in hist.collect()
    )


def _as_of(hist, ts):
    """``{key: tier}`` of the versions whose half-open interval covers ``ts``."""
    return {
        r.k: r.tier for r in hist.collect()
        if r.valid_from <= ts and (r.valid_to is None or ts < r.valid_to)
    }


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k string, tier string, ts timestamp")


def test_scd2_update_closes_old_interval_and_opens_new(spark):
    # bootstrap: alice gold @08:00, bob silver @08:00
    h0 = scd2_apply(
        _changes(spark, [("alice", "gold", _ts(8)), ("bob", "silver", _ts(8))]),
        "k",
        ["tier"],
    )
    # alice changes to platinum @12:00; bob unchanged (no-op row)
    h1 = scd2_apply(
        _changes(spark, [("alice", "platinum", _ts(12)), ("bob", "silver", _ts(12))]),
        "k",
        ["tier"],
        hist=h0,
    )
    assert _hist_rows(h1) == [
        ("alice", "gold", "2024-01-01 08:00:00", "2024-01-01 12:00:00", False),
        ("alice", "platinum", "2024-01-01 12:00:00", "None", True),
        ("bob", "silver", "2024-01-01 08:00:00", "None", True),
    ]
    # as-of read at an old timestamp sees the old row
    assert _as_of(h1, _ts(10)) == {"alice": "gold", "bob": "silver"}
    assert _as_of(h1, _ts(13)) == {"alice": "platinum", "bob": "silver"}


def test_scd2_many_versions_per_batch_and_late_rows(spark):
    h0 = scd2_apply(_changes(spark, [("a", "t1", _ts(8))]), "k", ["tier"])
    # one batch: no-op @9, change @10, change @11, late row @7 (ignored)
    h1 = scd2_apply(
        _changes(
            spark,
            [("a", "t1", _ts(9)), ("a", "t2", _ts(10)), ("a", "t3", _ts(11)), ("a", "t0", _ts(7))],
        ),
        "k",
        ["tier"],
        hist=h0,
    )
    assert _hist_rows(h1) == [
        ("a", "t1", "2024-01-01 08:00:00", "2024-01-01 10:00:00", False),
        ("a", "t2", "2024-01-01 10:00:00", "2024-01-01 11:00:00", False),
        ("a", "t3", "2024-01-01 11:00:00", "None", True),
    ]


def test_scd2_apply_is_idempotent_with_stable_version_sks(spark):
    inc = _changes(spark, [("a", "t1", _ts(8)), ("a", "t2", _ts(10))])
    h1 = scd2_apply(inc, "k", ["tier"])
    sks1 = sorted(r.version_sk for r in h1.collect())
    # re-applying the identical batch on top changes nothing (every row is a
    # no-op or late) and version sks are content-derived, not sequential
    h2 = scd2_apply(inc, "k", ["tier"], hist=h1)
    assert _hist_rows(h2) == _hist_rows(h1)
    assert sorted(r.version_sk for r in h2.collect()) == sks1


def test_scd2_null_attrs_are_versioned_null_safely(spark):
    h = scd2_apply(
        _changes(spark, [("a", None, _ts(8)), ("a", None, _ts(9)), ("a", "t", _ts(10))]),
        "k",
        ["tier"],
    )
    # null==null is a no-op (no version at 9); null->t is a change
    assert _hist_rows(h) == [
        ("a", "None", "2024-01-01 08:00:00", "2024-01-01 10:00:00", False),
        ("a", "t", "2024-01-01 10:00:00", "None", True),
    ]
