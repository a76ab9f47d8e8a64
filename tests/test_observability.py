"""JobMetricsTracker: per-query metrics from the AppStatusStore match
the known shape of the tracked work (the reference's log-driven
verification, helpers.js:143-227, as a queryable DataFrame)."""

from __future__ import annotations

from pyspark.sql import functions as F

from feasibility_etl_spark.observability import JobMetricsTracker


def test_tracked_query_reports_real_metrics(spark, tmp_path):
    tracker = JobMetricsTracker(spark)
    src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    n_src = src.count()  # untracked

    with tracker.track("agg-write"):
        (
            src.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(str(tmp_path / "out"))
        )

    m = {r["query"]: r for r in tracker.metrics_df().collect()}
    assert set(m) == {"agg-write"}
    r = m["agg-write"]
    assert r["n_jobs"] >= 1 and r["n_stages"] >= 2  # scan+partial, final
    assert r["input_records"] == n_src  # every source row scanned
    # the groupBy shuffles the partial aggregates: some records crossed
    assert r["shuffle_write_records"] > 0
    assert r["shuffle_read_records"] == r["shuffle_write_records"]
    assert r["wall_ms"] > 0 and r["executor_run_ms"] > 0


def test_multiple_tracks_are_isolated(spark):
    tracker = JobMetricsTracker(spark)
    with tracker.track("small"):
        spark.range(10).count()
    with tracker.track("large"):
        spark.range(1000).selectExpr("sum(id)").collect()
    rows = {r["query"]: r for r in tracker.metrics_df().collect()}
    assert set(rows) == {"small", "large"}
    # an untracked action between tracks must not leak into either
    spark.range(5).count()
    assert tracker.metrics_df().count() == 2
    tracker.reset()
    assert tracker.metrics_df().count() == 0


def test_metrics_df_is_queryable_as_a_gate(spark, tmp_path):
    """The point of the module: health checks are ordinary queries."""
    tracker = JobMetricsTracker(spark)
    with tracker.track("stage1"):
        spark.range(100).write.mode("overwrite").parquet(str(tmp_path / "a"))
    with tracker.track("stage2"):
        # modulo is not pushdown-able, so the scan reads all 100 rows
        # and the filter halves them engine-side (a pushed predicate
        # would make the scan itself report post-filter counts)
        spark.read.parquet(str(tmp_path / "a")).where("id % 2 = 0").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "b"))
    loss = tracker.metrics_df().select(
        "query",
        (F.col("output_records") / F.greatest(F.col("input_records"), F.lit(1))).alias(
            "out_in_ratio"
        ),
    )
    ratios = {r["query"]: r["out_in_ratio"] for r in loss.collect()}
    assert ratios["stage2"] == 0.5  # 100 in -> 50 out, measured not logged


def test_codegen_compiles_counts_new_shapes_only(spark):
    tracker = JobMetricsTracker(spark)
    for name in ("first", "repeat"):
        with tracker.track(name):
            spark.range(4).selectExpr("id * 6700417 + 999331 AS x").collect()
    rows = {r["query"]: r["codegen_compiles"] for r in tracker.metrics_df().collect()}
    assert rows["first"] >= 1  # a shape this JVM has not compiled yet
    assert rows["repeat"] == 0  # served from the codegen cache
