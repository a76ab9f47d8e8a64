"""JSONL source/sink: exact round-trip, corrupt-record isolation,
compression, partitioned layout."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF0001
from feasibility_etl_spark.sources.catalog import load
from feasibility_etl_spark.sources.jsonl import (
    CORRUPT_COL,
    read_jsonl,
    write_jsonl,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="jsonl_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_roundtrip_exact(spark, tmpdir):
    docs = load(spark, SF0001, "documents")
    path = os.path.join(tmpdir, "docs")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, DOC_SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_corrupt_isolation(spark, tmpdir):
    path = os.path.join(tmpdir, "mixed.jsonl")
    with open(path, "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        f.write("this is not json at all\n")
        f.write('{"doc_id": 2, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}\n')
    df = read_jsonl(spark, path, DOC_SCHEMA, keep_corrupt_col=True)
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    assert [r[0] for r in bad.collect()] == ["this is not json at all"]
    # DROPMALFORMED silently drops
    dropped = read_jsonl(spark, path, DOC_SCHEMA, mode="DROPMALFORMED")
    assert dropped.count() == 2
    # FAILFAST raises on materialization
    with pytest.raises(Exception):
        read_jsonl(spark, path, DOC_SCHEMA, mode="FAILFAST").collect()


def test_gzip_roundtrip(spark, tmpdir):
    docs = load(spark, SF0001, "documents").limit(50)
    path = os.path.join(tmpdir, "gz")
    write_jsonl(docs, path, compression="gzip")
    assert any(f.endswith(".gz") for f in os.listdir(path))
    back = read_jsonl(spark, path, DOC_SCHEMA)
    assert back.count() == 50


def test_partitioned_layout(spark, tmpdir):
    docs = load(spark, SF0001, "documents")
    path = os.path.join(tmpdir, "bylang")
    write_jsonl(docs, path, partition_by=["lang"], compression=None)
    subdirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert subdirs == {f"lang={l}" for l in langs}
    schema_nolang = T.StructType([f for f in DOC_SCHEMA.fields if f.name != "lang"])
    back = read_jsonl(spark, path, schema_nolang)
    assert back.count() == docs.count()
    assert "lang" in back.columns  # partition column recovered from dirs
