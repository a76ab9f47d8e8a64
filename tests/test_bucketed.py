"""Small-file compaction of a parquet directory: a lossless rewrite into
fewer files, with and without a clustering sort."""

from __future__ import annotations


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from feasibility_etl_spark.writer.compact import compact_small_files

    path = str(tmp_path / "many")
    df = spark.range(20_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # simulate micro-batch litter
    import glob

    assert len(glob.glob(path + "/part-*")) == 64
    before = {(r.id, r.v) for r in spark.read.parquet(path).collect()}

    st = compact_small_files(spark, path, target_file_bytes=10 * 1024 * 1024)
    files = glob.glob(path + "/part-*")
    assert st["compacted"] and len(files) == st["files_after"] < 8
    after = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert after == before  # lossless rewrite

    # sorted variant restores clustering while compacting
    df.repartition(32).write.mode("overwrite").parquet(path)
    compact_small_files(
        spark, path, target_file_bytes=10 * 1024 * 1024, sort_cols=["id"]
    )
    assert {(r.id, r.v) for r in spark.read.parquet(path).collect()} == before
