"""Cache lifetimes of the six foreachBatch sinks: once a query has
terminated, nothing it persisted — per-batch frames or frames built once
per sink — is left in the session's cache manager or as a persisted RDD."""

from __future__ import annotations

import json
import time

import pytest

from feasibility_etl_spark.operators.classifier import train_log_odds
from feasibility_etl_spark.streaming.bloom_gate import exact_dedup_gate_sink
from feasibility_etl_spark.streaming.decontam_gate import decontam_gate_sink
from feasibility_etl_spark.streaming.dedup_gate import near_dup_gate_sink
from feasibility_etl_spark.streaming.quality_gate import quality_gate_sink
from feasibility_etl_spark.streaming.scd2_sink import scd2_sink
from feasibility_etl_spark.streaming.stateful import denormalizing_sink
from feasibility_etl_spark.writer.denormalized import DimSpec

TEXT = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "birds fly south for winter and the river flows quietly past the old mill"
)
DOCS = [
    [(1, TEXT), (2, TEXT), (3, "prose about planners and codegen stages")],
    [(4, TEXT.replace("quietly", "silently")), (5, "cheap pills click prize now")],
]
DOCS_SCHEMA = "doc_id long, text string"


def _stage(spark, tmp_path, batches, schema):
    stage = str(tmp_path / "stage")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{stage}/f{i}")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage + "/f*")
    )


def _denormalizing(spark, tmp_path):
    src = tmp_path / "star_in"
    src.mkdir()
    for i, rows in enumerate([[("K-1", "alice")], [("K-2", "bob"), ("K-1", "alice")]]):
        (src / f"b{i}.json").write_text("\n".join(
            json.dumps({"key": k, "reviewer_name": r, "v": 1.0}) for k, r in rows
        ))
    stream = (
        spark.readStream.schema("key string, reviewer_name string, v double")
        .option("maxFilesPerTrigger", "1").json(str(src))
    )
    specs = [DimSpec(name="jira_user", natural_key="username",
                     roles={"reviewer_name": "fk_reviewer"})]
    return denormalizing_sink(
        stream, specs, str(tmp_path / "star"), str(tmp_path / "ck"),
        available_now=True, shuffle_partitions=4,
    )


def _scd2(spark, tmp_path):
    import datetime as dt

    t0, t1 = dt.datetime(2024, 1, 1, 8), dt.datetime(2024, 1, 1, 9)
    src = _stage(spark, tmp_path, [[("a", "gold", t0)], [("a", "silver", t1)]],
                 "k string, tier string, ts timestamp")
    return scd2_sink(src, str(tmp_path / "hist"), str(tmp_path / "ck"), "k", ["tier"],
                     shuffle_partitions=4)


def _exact(spark, tmp_path):
    src = _stage(spark, tmp_path, DOCS, DOCS_SCHEMA)
    return exact_dedup_gate_sink(
        src, str(tmp_path / "g"), str(tmp_path / "ck"), m_bits=1 << 14,
        shuffle_partitions=4, rejects_dir=str(tmp_path / "rej"),
    )


def _near_dup(spark, tmp_path):
    src = _stage(spark, tmp_path, DOCS, DOCS_SCHEMA)
    return near_dup_gate_sink(
        src, str(tmp_path / "g"), str(tmp_path / "ck"), shuffle_partitions=4,
        rejects_dir=str(tmp_path / "rej"),
    )


def _decontam(spark, tmp_path):
    src = _stage(spark, tmp_path, DOCS, DOCS_SCHEMA)
    ev = spark.createDataFrame([(9001, TEXT)], DOCS_SCHEMA)
    return decontam_gate_sink(
        src, ev, str(tmp_path / "g"), str(tmp_path / "ck"), m_bits=1 << 14,
        shuffle_partitions=4, rejects_dir=str(tmp_path / "rej"),
    )


def _quality(spark, tmp_path):
    src = _stage(spark, tmp_path, DOCS, DOCS_SCHEMA)
    ref = spark.createDataFrame(
        [(100, "clean prose about query engines and planners", 1),
         (101, "buy cheap pills now click here winner prize", 0)],
        "doc_id long, text string, label int",
    )
    model = train_log_odds(ref, "label", num_buckets=512)
    return quality_gate_sink(
        src, model, 0, str(tmp_path / "g"), str(tmp_path / "ck"), num_buckets=512,
        shuffle_partitions=4, rejects_dir=str(tmp_path / "rej"),
    )


def _caches_empty(spark) -> bool:
    return (
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
        and spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    )


def _clear(spark) -> None:
    # start from an empty cache: frames other tests left behind are not
    # the sink's
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    assert _caches_empty(spark)


def _released(spark) -> bool:
    # sink-lifetime frames are released by a query listener, which the
    # listener bus calls asynchronously
    deadline = time.time() + 10
    while not _caches_empty(spark) and time.time() < deadline:
        time.sleep(0.2)
    return _caches_empty(spark)


@pytest.mark.parametrize(
    "start",
    [_denormalizing, _scd2, _exact, _near_dup, _decontam, _quality],
    ids=["denormalizing", "scd2", "exact", "near_dup", "decontam", "quality"],
)
def test_sink_leaves_no_cached_frames(spark, tmp_path, start):
    _clear(spark)
    q = start(spark, tmp_path)
    q.awaitTermination()
    assert q.exception() is None
    assert _released(spark)


def test_sink_frames_released_on_stop_and_failure(spark, tmp_path):
    # the sink-scoped cache is released however the query ends, not only
    # after an availableNow drain
    from pyspark.errors import StreamingQueryException

    _clear(spark)
    src = _stage(spark, tmp_path, DOCS, DOCS_SCHEMA)
    ev = spark.createDataFrame([(9001, TEXT)], DOCS_SCHEMA)
    q = decontam_gate_sink(
        src, ev, str(tmp_path / "g"), str(tmp_path / "ck"), m_bits=1 << 14,
        trigger_available_now=False, shuffle_partitions=4,
    )
    q.processAllAvailable()
    assert not _caches_empty(spark)  # the eval frames serve every batch
    q.stop()
    assert _released(spark)

    # a batch that fails (no text column) terminates the query
    bad = spark.readStream.schema("doc_id long, body string").parquet(
        str(tmp_path / "stage") + "/f*"
    )
    q = decontam_gate_sink(
        bad, ev, str(tmp_path / "g2"), str(tmp_path / "ck2"), m_bits=1 << 14,
        shuffle_partitions=4,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert _released(spark)
