"""Opt-in reject quarantine for the four ingest gates: docs ∪ rejects
partition the input, reasons are correct, and the default leaves no
rejects directory (no extra per-batch action)."""

from __future__ import annotations

import os

from feasibility_etl_spark.operators.classifier import train_log_odds
from feasibility_etl_spark.streaming.bloom_gate import exact_dedup_gate_sink
from feasibility_etl_spark.streaming.decontam_gate import decontam_gate_sink
from feasibility_etl_spark.streaming.dedup_gate import near_dup_gate_sink
from feasibility_etl_spark.streaming.quality_gate import quality_gate_sink

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "birds fly south for winter and the river flows quietly past the old mill"
)
ALT = (
    "completely different content about database engines query optimization "
    "and distributed systems running on large clusters with many executors"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _stage(spark, tmp_path, batches):
    stage = str(tmp_path / "stage")
    for i, rows in enumerate(batches):
        _df(spark, rows).coalesce(1).write.parquet(f"{stage}/f{i}")
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage + "/f*")
    )


def _ids(spark, path):
    return sorted(r.doc_id for r in spark.read.parquet(path).collect())


def test_exact_gate_quarantine(spark, tmp_path):
    src = _stage(spark, tmp_path, [[(1, BASE), (2, BASE), (3, ALT)],
                                   [(4, "  " + BASE), (5, "fresh unique text")]])
    base, rej = str(tmp_path / "g"), str(tmp_path / "rej")
    exact_dedup_gate_sink(
        src, base, str(tmp_path / "ck"), m_bits=1 << 14,
        shuffle_partitions=4, rejects_dir=rej,
    ).awaitTermination()
    kept = _ids(spark, base + "/docs")
    dropped = spark.read.parquet(rej).collect()
    assert kept == [1, 3, 5]
    assert sorted(r.doc_id for r in dropped) == [2, 4]
    assert {r.reason for r in dropped} == {"duplicate"}
    # dropped rows keep their full original payload
    assert all(r.text for r in dropped)


def test_near_dup_gate_quarantine(spark, tmp_path):
    src = _stage(spark, tmp_path, [[(1, BASE), (2, ALT)],
                                   [(3, BASE.replace("quietly", "silently"))]])
    base, rej = str(tmp_path / "g"), str(tmp_path / "rej")
    near_dup_gate_sink(
        src, base, str(tmp_path / "ck"), shuffle_partitions=4, rejects_dir=rej,
    ).awaitTermination()
    assert _ids(spark, base + "/docs") == [1, 2]
    dropped = spark.read.parquet(rej).collect()
    assert [r.doc_id for r in dropped] == [3]
    assert dropped[0].reason == "near_duplicate"


def test_decontam_gate_quarantine(spark, tmp_path):
    ev = _df(spark, [(9001, BASE)])
    src = _stage(spark, tmp_path, [[(1, "she said " + BASE), (2, ALT)]])
    base, rej = str(tmp_path / "g"), str(tmp_path / "rej")
    decontam_gate_sink(
        src, ev, base, str(tmp_path / "ck"), m_bits=1 << 14,
        shuffle_partitions=4, rejects_dir=rej,
    ).awaitTermination()
    assert _ids(spark, base + "/docs") == [2]
    dropped = spark.read.parquet(rej).collect()
    assert [r.doc_id for r in dropped] == [1]
    assert dropped[0].reason == "contaminated"


def test_quality_gate_quarantine(spark, tmp_path):
    ref = spark.createDataFrame(
        [(100, "clean prose about query engines and planners", 1),
         (101, "careful prose describing shuffle exchange and partitions", 1),
         (102, "buy cheap pills now click here winner prize", 0),
         (103, "click now cheap winner prize pills offer offer", 0)],
        "doc_id long, text string, label int",
    )
    model = train_log_odds(ref, "label", num_buckets=512)
    src = _stage(spark, tmp_path, [[(1, "prose about planners and shuffle"),
                                    (2, "cheap pills click prize now")],
                                   [(3, "winner winner cheap offer click"),
                                    (4, "careful prose about query engines")]])
    base, rej = str(tmp_path / "g"), str(tmp_path / "rej")
    quality_gate_sink(
        src, model, 0, base, str(tmp_path / "ck"), num_buckets=512,
        shuffle_partitions=4, rejects_dir=rej,
    ).awaitTermination()
    kept = _ids(spark, base + "/docs")
    dropped = spark.read.parquet(rej).collect()
    assert kept == [1, 4]
    assert sorted(r.doc_id for r in dropped) == [2, 3]
    assert {r.reason for r in dropped} == {"low_quality"}
    assert all(r.text for r in dropped)


def test_quarantine_off_by_default(spark, tmp_path):
    src = _stage(spark, tmp_path, [[(1, BASE), (2, BASE)]])
    base = str(tmp_path / "g")
    exact_dedup_gate_sink(
        src, base, str(tmp_path / "ck"), m_bits=1 << 14, shuffle_partitions=4,
    ).awaitTermination()
    assert not os.path.exists(str(tmp_path / "rej"))
    assert sorted(os.listdir(base)) == ["bloom", "docs"]
