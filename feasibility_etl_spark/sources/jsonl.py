"""JSONL source/sink — the lingua franca of LLM training corpora
(every public web-scale dataset ships as newline-delimited JSON).
Extends the S-* source family (SURVEY §2.1) beyond the reference's
REST/JDBC surface with the format a training-data pipeline actually
ingests and publishes.

Scale posture:

- **Explicit schema always** (the signature requires it): schema
  inference is a full extra pass over 100 TB before the first real
  read. `sources.catalog.TABLES` holds the testbed tables' schemas.
- **Malformed lines are data, not crashes**: the default PERMISSIVE
  mode lands bad lines in a corrupt-record column (the file-source twin
  of the E-ISOLATE validate-then-write gate) so one mangled crawl
  record cannot kill a day-long job; DROPMALFORMED and FAILFAST are
  opt-in.
- **Compression is a parallelism decision**: gzip is NOT splittable —
  one task per .gz file regardless of size. The writer defaults to
  gzip only because it is universally readable; at scale write many
  moderate files (the default — one per task) or use splittable
  codecs. The reader parallelizes across files either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    keep_corrupt_col: bool = False,
    **options: str,
) -> DataFrame:
    """Read newline-delimited JSON with an EXPLICIT schema.

    ``mode``: PERMISSIVE (default — malformed lines become a row with
    every schema field null and the raw line in ``_corrupt_record``),
    DROPMALFORMED (silently dropped), FAILFAST (raise on first bad
    line). With ``keep_corrupt_col`` the corrupt column stays in the
    output (otherwise rows are returned schema-shaped).
    """
    if keep_corrupt_col:
        # the native JSON source refuses plans that project ONLY the
        # corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD
        # _COLUMN — its docs say "cache first", a non-starter at corpus
        # scale), so the isolating path parses explicitly: text source →
        # from_json with an in-struct corrupt field. Same PERMISSIVE
        # semantics, fully prunable, one pass, no caching.
        full = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
        raw = spark.read.text(path)
        parsed = raw.where(F.trim("value") != "").select(
            F.from_json(
                "value",
                full,
                {"columnNameOfCorruptRecord": CORRUPT_COL, "mode": "PERMISSIVE"},
            ).alias("_r")
        )
        return parsed.select("_r.*")
    reader = (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write newline-delimited JSON (one file per task; hive-style
    directories with ``partition_by``). See the module docstring for
    the gzip-splittability caveat."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.json(path)
