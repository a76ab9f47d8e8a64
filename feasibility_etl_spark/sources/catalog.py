"""Table catalog: explicit schemas + loaders for the engine's test corpus.

Engine policy (SURVEY.md §1.3): sources always declare explicit StructType
schemas — never infer. The reference hardcodes its ingest schema as JSON
field paths (/root/reference/etl.js:127-148); we declare ours as Spark
StructTypes. A declared schema means building a frame runs no Spark job
(an inferring read runs one per table) and lets Catalyst prune parquet
columns from the scan (ReadSchema pushdown).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver's TPC-H-ish corpus (TESTDATA.md / FIXTURES.md §B) with types as
# verified from the parquet footers. Timestamps are INT64 micros
# (``timestamp[us]``, no zone), which Spark reads as the declared
# TimestampType; ``load`` converts the older INT64 nanos ``events.ts``.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def _footer(path: str) -> pa.Schema:
    """The arrow schema of the first data file at ``path``: the file itself,
    or, for a Spark-written directory, the first file outside the entries
    Spark's listing skips too (``_SUCCESS``, ``.crc`` files, ``_temporary/``).
    INT96 timestamps (Spark's default output) read as micros, so only an
    INT64 NANOS column shows up as ``timestamp[ns]``."""
    fs, root = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.Directory:
        entries = fs.get_file_info(pafs.FileSelector(root, recursive=True))
        files = sorted(
            e.path for e in entries
            if e.type == pafs.FileType.File
            and not any(
                part.startswith(("_", ".")) for part in os.path.relpath(e.path, root).split(os.sep)
            )
        )
    else:
        files = [root] if info.type == pafs.FileType.File else []
    if not files:
        raise FileNotFoundError(f"no parquet data file at {path}")
    with fs.open_input_file(files[0]) as f:
        return pq.ParquetFile(f, coerce_int96_timestamp_unit="us").schema_arrow


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``sf_dir`` as a DataFrame.

    The read declares ``TABLES[name]``, so building the frame runs no Spark
    job. One footer read on the driver checks that every declared column is
    in the file: a declared read would return nulls for a missing one, so it
    raises instead. Column pruning and filter pushdown happen at the scan;
    callers select and filter the returned frame rather than caching it.

    ``events.ts`` has shipped as INT64 TIMESTAMP(NANOS) in older testdata,
    which Spark refuses as a timestamp. The footer tells the encodings
    apart: nanos are read as the declared ``long`` and floor-converted with
    ``timestamp_micros(ts div 1000)`` (integer division: a double loses
    precision above 2^53), as DuckDB floors ns to µs.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLES)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, footer = TABLES[name], _footer(path)
    missing = [f.name for f in schema if f.name not in footer.names]
    if missing:
        raise ValueError(f"table {name!r}: {path} lacks declared column(s) {missing}")
    ts = footer.field("ts").type if name == "events" else None
    if isinstance(ts, pa.TimestampType) and ts.unit == "ns":
        read = T.StructType(
            [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in schema]
        )
        return spark.read.schema(read).parquet(path).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register catalog tables as temp views for Spark SQL plans."""
    for name in names or list(TABLES):
        load(spark, sf_dir, name).createOrReplaceTempView(name)
