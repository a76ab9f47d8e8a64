"""build_session sizes Spark's generated-code cache to the engine's working
set, so a plan shape compiled once is not recompiled after other shapes
have run (Spark's default cache holds 100 classes)."""

from __future__ import annotations

from feasibility_etl_spark.observability import _codegen_compiles
from feasibility_etl_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def test_codegen_cache_outlives_more_shapes_than_the_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )

    def shape(i: int) -> None:
        # literals are inlined into the generated code: new classes per i
        spark.range(3).selectExpr(f"id * {i} + {i} AS x").collect()

    base = 7_000_001  # literals no other test uses
    for i in range(150):
        shape(base + i)
    before = _codegen_compiles(spark)
    shape(base)  # the oldest shape: evicted by a 100-entry LRU
    assert _codegen_compiles(spark) == before
