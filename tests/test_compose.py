"""Persist-lifecycle primitive (plans/compose.py): shared stages are
cached only while a composition can still use them — the round-5
leaked-persist nit (PIPE-CORPUS persisted four stage outputs forever)
must stay closed."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from feasibility_etl_spark.plans.compose import (
    StageCache,
    materialize_shared,
    release_when_unreachable,
)


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_materialize_shared_releases_on_exit(spark):
    spark.catalog.clearCache()
    base = spark.range(100).withColumn("v", F.col("id") * 2)
    with materialize_shared() as shared:
        stage = shared(base.where(F.col("id") % 2 == 0))
        # two references — the composition shape the cache exists for
        n = stage.count() + stage.where(F.col("v") > 50).count()
        assert n == 50 + 37
        assert not _cache_empty(spark)
    assert _cache_empty(spark)


def test_materialize_shared_releases_on_error(spark):
    spark.catalog.clearCache()
    try:
        with materialize_shared() as shared:
            shared(spark.range(10)).count()
            raise RuntimeError("terminal action failed")
    except RuntimeError:
        pass
    assert _cache_empty(spark)


def test_release_when_unreachable_survives_actions_then_frees(spark):
    spark.catalog.clearCache()

    def build():
        cache = StageCache()
        stage = cache(spark.range(1000).withColumn("v", F.col("id") % 7))
        out = stage.groupBy("v").count().join(stage.select("v").distinct(), "v")
        return release_when_unreachable(out, cache)

    result = build()
    # several caller actions — the cache must survive all of them
    assert result.count() == 7
    assert len(result.collect()) == 7
    assert not _cache_empty(spark)
    del result
    gc.collect()
    assert _cache_empty(spark)


def test_release_is_idempotent(spark):
    cache = StageCache()
    cache(spark.range(5)).count()
    cache.release()
    cache.release()  # second release is a no-op, not an error
    assert _cache_empty(spark)


def test_pipe_corpus_leaves_nothing_cached(spark):
    """The actual round-5 nit: PIPE-CORPUS composes four shared stages;
    after the driver-style act-then-drop, the cache manager is empty."""
    from feasibility_etl_spark.driver_queries.pipelines_joins import q_pipe_corpus

    spark.catalog.clearCache()
    result = q_pipe_corpus(spark, "/root/testdata/sf0.001")
    assert result.count() > 0
    assert not _cache_empty(spark)  # shared stages serving the actions
    del result
    gc.collect()
    assert _cache_empty(spark)


def test_cut_collapses_plan_to_leaf_with_identical_values(spark):
    # r12 (VERDICT r11 item 2): cut() must freeze a subtree to a single
    # RDD-scan leaf — the plan-leaf boundary deep compositions place at
    # their fan-out root so k-fold references can't make the logical
    # tree exponential — while preserving values exactly
    cache = StageCache()
    try:
        base = (
            spark.range(200)
            .withColumn("v", F.col("id") * 3)
            .where(F.col("id") % 2 == 0)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("v").alias("s"))
        )
        expect = {(r.k, r.s) for r in base.collect()}
        leaf = cache.cut(base)
        got = {(r.k, r.s) for r in leaf.collect()}
        assert got == expect
        # the frozen logical plan is a leaf: no joins/aggregates survive,
        # and it prints orders of magnitude smaller than the original
        plan = leaf._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan and "Join" not in plan
        assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan
        # multi-reference: both consumers read the same checkpointed
        # blocks (values stay consistent, no re-derivation divergence)
        a = leaf.agg(F.sum("s")).collect()[0][0]
        b = leaf.agg(F.sum("s")).collect()[0][0]
        assert a == b == sum(s for _, s in expect)
    finally:
        cache.release()
