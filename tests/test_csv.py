"""CSV source/sink: exact round-trip (quoting included), corrupt-row
isolation, partitioned layout."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF0001
from feasibility_etl_spark.sources.catalog import load
from feasibility_etl_spark.sources.csv import CORRUPT_COL, read_csv, write_csv

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
    d = tempfile.mkdtemp(prefix="csv_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_roundtrip_exact_with_quoting(spark, tmpdir):
    # commas, quotes, and newline-free text exercise RFC-4180 quoting
    rows = [
        (1, 'plain text', "en", "s0", 10),
        (2, 'has, commas, here', "en", "s1", 17),
        (3, 'she said "hi" twice "hi"', "de", "s2", 24),
        (4, None, "fr", "s3", 0),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    path = os.path.join(tmpdir, "docs")
    write_csv(df, path)
    back = read_csv(spark, path, DOC_SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_documents_table_roundtrip(spark, tmpdir):
    docs = load(spark, SF0001, "documents")
    path = os.path.join(tmpdir, "docs")
    write_csv(docs, path)
    back = read_csv(spark, path, DOC_SCHEMA)
    assert back.count() == docs.count()
    a = {r.doc_id: r.n_chars for r in back.collect()}
    b = {r.doc_id: r.n_chars for r in docs.collect()}
    assert a == b


def test_corrupt_isolation(spark, tmpdir):
    path = os.path.join(tmpdir, "mixed.csv")
    with open(path, "w") as f:
        f.write("doc_id,text,lang,source,n_chars\n")
        f.write('1,ok,en,s,2\n')
        f.write('not-a-number,bad,en,s,3\n')  # doc_id fails the long cast
        f.write('2,fine,en,s,4\n')
    df = read_csv(spark, path, DOC_SCHEMA, keep_corrupt_col=True)
    clean = df.where(F.col(CORRUPT_COL).isNull())
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    assert bad.count() == 1 and "not-a-number" in bad.collect()[0][CORRUPT_COL]
    # DROPMALFORMED drops the bad row via the native reader
    dropped = read_csv(spark, path, DOC_SCHEMA, mode="DROPMALFORMED")
    assert sorted(r.doc_id for r in dropped.collect()) == [1, 2]


def test_partitioned_layout(spark, tmpdir):
    docs = load(spark, SF0001, "documents")
    path = os.path.join(tmpdir, "bylang")
    write_csv(docs, path, partition_by=["lang"])
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert {d for d in os.listdir(path) if d.startswith("lang=")} == {
        f"lang={l}" for l in langs
    }


def test_corrupt_path_drops_quoted_header_variant(spark, tmpdir):
    # a header written by a quoting writer ("a","b") must also be
    # recognized in the keep_corrupt_col text path, not land as corrupt
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    p = os.path.join(tmpdir, "quoted_header.csv")
    with open(p, "w") as f:
        f.write('"a","b"\n1,x\n2,y\n')
    out = read_csv(spark, p, schema, keep_corrupt_col=True).collect()
    assert sorted((r.a, r.b) for r in out) == [(1, "x"), (2, "y")]
    assert all(r[CORRUPT_COL] is None for r in out)
