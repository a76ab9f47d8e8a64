"""Edge ingest (S-SEARCH shape): explicit-schema JSON read + the 12-path
projection with null-safe nested access."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from conftest import SF0001, jobs_run_by
from feasibility_etl_spark.sources.readers import (
    ISSUE_SCHEMA,
    project_issues,
    read_search_results,
)

ISSUE = {
    "key": "PROJ-1",
    "fields": {
        "summary": "A feasibility",
        "created": "2015-06-12T17:16:51.263+0000",
        "resolutiondate": None,
        "reporter": {"name": "user2"},
        "project": {"key": "PROJ"},
        "customfield_12501": {"name": "user1"},
        "customfield_14600": 2.0,
        "customfield_14601": 1.0,
        "customfield_14602": 1.0,
        "customfield_14603": 1.2,
        "customfield_14604": 1.5,
        "customfield_14607": 1.5,
    },
}

ISSUE_NULL_REVIEWER = {
    "key": "PROJ-2",
    "fields": {"summary": "No reviewer", "customfield_14600": 3.0},
}


def write_jsonl(tmp_path, issues):
    p = tmp_path / "search.jsonl"
    p.write_text("\n".join(json.dumps(i) for i in issues))
    return str(p)


def test_explicit_schema_read_and_projection(spark, tmp_path):
    path = write_jsonl(tmp_path, [ISSUE, ISSUE_NULL_REVIEWER])
    raw = read_search_results(spark, path)
    assert raw.schema == ISSUE_SCHEMA
    out = {r.key: r for r in project_issues(raw).collect()}
    assert out["PROJ-1"].reviewer_name == "user1"
    assert out["PROJ-1"].development_estimate == 2.0
    # P-NULLSAFE: missing nested parent projects as null, no error
    assert out["PROJ-2"].reviewer_name is None
    assert out["PROJ-2"].project_name is None


def test_predicate_and_limit_push_into_read(spark, tmp_path):
    path = write_jsonl(tmp_path, [ISSUE, ISSUE_NULL_REVIEWER])
    df = read_search_results(
        spark,
        path,
        predicate=F.col("fields")["customfield_14600"] != 0,
        max_results=1,
    )
    assert df.count() == 1


def test_catalog_events_reads_both_ts_encodings(spark, tmp_path):
    # events.ts has shipped as INT64 TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    # across testdata generations; catalog.load must floor both to the
    # same microsecond timestamps (DuckDB floors ns→µs identically).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feasibility_etl_spark.sources.catalog import load

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    micros = [base, base + dt.timedelta(microseconds=123456)]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for enc, unit in [("micros", "us"), ("nanos", "ns")]:
        d = tmp_path / enc
        d.mkdir()
        ts = pa.array(micros).cast(pa.timestamp(unit))
        pq.write_table(
            pa.table({**cols, "ts": ts}), str(d / "events.parquet"),
            use_deprecated_int96_timestamps=False, coerce_timestamps=None,
        )
    got = {}
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    for enc in ("micros", "nanos"):
        before = spark.conf.get(conf, None)
        df, n_jobs = jobs_run_by(spark, lambda: load(spark, str(tmp_path / enc), "events"))
        # the encoding is read from the footer: no session conf, no Spark job
        assert spark.conf.get(conf, None) == before
        assert n_jobs == 0
        assert dict(df.dtypes)["ts"] == "timestamp"
        got[enc] = [r.ts for r in df.orderBy("event_id").collect()]
    assert got["micros"] == got["nanos"] == micros


def test_catalog_missing_declared_column_fails_loudly(spark, tmp_path):
    # a declared read would return nulls for a column the file lacks
    from feasibility_etl_spark.sources.catalog import load

    load(spark, SF0001, "documents").drop("n_chars").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    with pytest.raises(ValueError, match=r"'documents'.*n_chars"):
        load(spark, str(tmp_path), "documents")
