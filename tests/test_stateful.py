"""Custom stateful operator: state accumulates across micro-batches."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from feasibility_etl_spark.streaming.stateful import running_totals


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        import json

        (src_dir / name).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [{"key": "a", "value": 1.0}, {"key": "a", "value": 2.0},
                            {"key": "b", "value": 10.0}])

    stream = spark.readStream.schema("key string, value double").json(str(src_dir))
    out = running_totals(stream, "key", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.key: (r.n_events, r.total) for r in spark.table("running_totals").collect()}
        assert first == {"a": (2, 3.0), "b": (1, 10.0)}

        # second micro-batch: state must carry over, not reset
        write_batch("b2.json", [{"key": "a", "value": 4.0}, {"key": "c", "value": 7.0}])
        q.processAllAvailable()
        rows = spark.table("running_totals").collect()
        latest: dict[str, tuple] = {}
        for r in rows:  # memory sink appends updates; last write wins
            latest[r.key] = (r.n_events, r.total)
        assert latest["a"] == (3, 7.0)
        assert latest["b"] == (1, 10.0)
        assert latest["c"] == (1, 7.0)
    finally:
        q.stop()


def test_denormalizing_sink_across_microbatches(spark, tmp_path):
    import json
    import time

    from feasibility_etl_spark.streaming.stateful import denormalizing_sink
    from feasibility_etl_spark.writer.denormalized import DimSpec

    src = tmp_path / "wide_in"
    src.mkdir()
    root = str(tmp_path / "star")
    specs = [
        DimSpec(name="jira_user", natural_key="username",
                roles={"reviewer_name": "fk_reviewer"}),
    ]

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"key": "K-1", "reviewer_name": "alice", "v": 1.0},
        {"key": "K-2", "reviewer_name": "bob", "v": 2.0},
    ])
    stream = spark.readStream.schema(
        "key string, reviewer_name string, v double"
    ).json(str(src))
    q = denormalizing_sink(stream, specs, root, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # batch 2: one new user, one re-delivered key (must be dropped)
        write_batch("b2.json", [
            {"key": "K-2", "reviewer_name": "bob", "v": 99.0},   # dup key
            {"key": "K-3", "reviewer_name": "carol", "v": 3.0},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    users = {r.username: r.id for r in spark.read.parquet(f"{root}/jira_user").collect()}
    fact = {r.key: r for r in spark.read.parquet(f"{root}/fact").collect()}
    assert users == {"alice": 1, "bob": 2, "carol": 3}, users  # dense ACROSS batches
    assert set(fact) == {"K-1", "K-2", "K-3"}
    assert fact["K-2"].v == 2.0, "re-delivered key must not overwrite"
    assert fact["K-3"].fk_reviewer == 3


def test_denormalizing_sink_fails_loudly_on_corrupt_dim(spark, tmp_path):
    """Only a missing table means "first batch": a corrupt dim read as
    empty would restart dense ids at 1 under the stored fact's FKs."""
    import json

    import pytest
    from pyspark.errors import StreamingQueryException

    from feasibility_etl_spark.streaming.stateful import denormalizing_sink
    from feasibility_etl_spark.writer.denormalized import DimSpec

    src = tmp_path / "corrupt_in"
    src.mkdir()
    root = tmp_path / "corrupt_star"
    specs = [
        DimSpec(name="jira_user", natural_key="username",
                roles={"reviewer_name": "fk_reviewer"}),
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"key": "K-1", "reviewer_name": "alice", "v": 1.0},
        {"key": "K-2", "reviewer_name": "bob", "v": 2.0},
    ]))
    stream = spark.readStream.schema(
        "key string, reviewer_name string, v double"
    ).json(str(src))
    q = denormalizing_sink(stream, specs, str(root), str(tmp_path / "corrupt_ckpt"))

    def fact_files():
        return sorted((p.name, p.stat().st_size) for p in (root / "fact").iterdir())

    try:
        q.processAllAvailable()
        fact_before = fact_files()
        (dim_file,) = (root / "jira_user").glob("part-*.parquet")
        dim_file.write_bytes(b"not a parquet file" * 64)
        dim_file.with_name(f".{dim_file.name}.crc").unlink()  # garbage, not a checksum miss
        (src / "b2.json").write_text(json.dumps(
            {"key": "K-3", "reviewer_name": "carol", "v": 3.0}
        ))
        with pytest.raises(StreamingQueryException, match="FAILED_READ_FILE"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert fact_files() == fact_before


def test_denormalizing_sink_fact_partitions_sizing(spark, tmp_path):
    """r12 §6 output sizing: ``fact_partitions=1`` must bound the fact
    append to ONE data file per micro-batch (vs shuffle-width files of
    batch slivers) while storing identical rows."""
    import json

    from feasibility_etl_spark.streaming.stateful import denormalizing_sink
    from feasibility_etl_spark.writer.denormalized import DimSpec

    src = tmp_path / "sized_in"
    src.mkdir()
    root = str(tmp_path / "sized_star")
    specs = [
        DimSpec(name="jira_user", natural_key="username",
                roles={"reviewer_name": "fk_reviewer"}),
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"key": "K-1", "reviewer_name": "alice", "v": 1.0},
        {"key": "K-2", "reviewer_name": "bob", "v": 2.0},
    ]))
    stream = spark.readStream.schema(
        "key string, reviewer_name string, v double"
    ).json(str(src))
    q = denormalizing_sink(
        stream, specs, root, str(tmp_path / "sized_ckpt"),
        shuffle_partitions=4, fact_partitions=1,
    )
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(json.dumps(
            {"key": "K-3", "reviewer_name": "carol", "v": 3.0}
        ))
        q.processAllAvailable()
    finally:
        q.stop()

    fact_files = [
        p for p in (tmp_path / "sized_star" / "fact").iterdir()
        if p.name.endswith(".parquet")
    ]
    assert len(fact_files) == 2, fact_files  # one data file per micro-batch
    fact = {r.key: r.v for r in spark.read.parquet(f"{root}/fact").collect()}
    assert fact == {"K-1": 1.0, "K-2": 2.0, "K-3": 3.0}


def _run_sessionize(spark, tmp_path, factory):
    """Shared harness: sessions emit exactly when watermark passes end+gap."""
    import json

    src = tmp_path / "sess_in"
    src.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"key": "a", "ts": "2026-01-01 10:00:00"},
        {"key": "a", "ts": "2026-01-01 10:00:10"},
        {"key": "b", "ts": "2026-01-01 10:00:05"},
    ])
    stream = spark.readStream.schema("key string, ts timestamp").json(str(src))
    out = factory(stream)
    name = f"sessions_{abs(hash(str(tmp_path))) % 10**8}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # gap not yet passed

        # extend a's session; far-future key z drags the watermark forward
        write_batch("b2.json", [
            {"key": "a", "ts": "2026-01-01 10:00:20"},
            {"key": "z", "ts": "2026-01-01 11:00:00"},
        ])
        q.processAllAvailable()
        # watermark advances at the NEXT batch start; nudge once more
        write_batch("b3.json", [{"key": "z", "ts": "2026-01-01 11:00:01"}])
        q.processAllAvailable()
        rows = {r.key: r for r in spark.table(name).collect()}
        assert set(rows) == {"a", "b"}, rows  # z's session is still open
        assert rows["a"].n_events == 3
        assert rows["a"].session_start.isoformat().startswith("2026-01-01T10:00:00")
        assert rows["a"].session_end.isoformat().startswith("2026-01-01T10:00:20")
        assert rows["b"].n_events == 1
    finally:
        q.stop()


def test_sessionize_stream_timer_driven(spark, tmp_path):
    from feasibility_etl_spark.streaming.stateful import sessionize_stream

    _run_sessionize(
        spark, tmp_path, lambda s: sessionize_stream(s, "key", "ts", gap_seconds=60)
    )

