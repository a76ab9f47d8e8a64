"""SparkSession factory: the one place engine-wide Spark settings live.

Tests, the CLI, ``tools/check_correctness.py``, ``bench.py`` and perfbench
all build their session here. The settings:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion to broadcast);
- explicit ``spark.sql.shuffle.partitions`` (sized by the caller; the
  reference's only concurrency knob was a hardcoded request limit of 5,
  /root/reference/etl.js:206 — ours is a real parallelism control);
- Arrow enabled for any Pandas-UDF extension path;
- parquet filter pushdown / column pruning left on (Catalyst defaults);
- runtime bloom-filter join pruning left on (default): on fact-fact joins
  with a selective parent predicate and a ≥10 GB detail scan, Spark builds
  a bloom filter from the parent keys and pushes it into the detail scan —
  plan-asserted on the J-ATTACH shape in tests/test_runtime_filter.py;
- a generated-code cache sized to the engine's working set: Spark's
  100-entry default evicted classes every round, so repeated plan shapes
  recompiled. The 50 registered queries at sf0.1 compile 1,405 distinct
  classes; the cache holds ~2x that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_MAX_ENTRIES = 3000


def build_session(
    app_name: str = "feasibility-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster, pass ``master=None``
    and let spark-submit own it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static conf: only a new session's JVM picks it up (executors via
        # SparkConf); ~2x the measured working set, see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # NB: spark.sql.parquet.aggregatePushdown is deliberately NOT set —
        # it only takes effect on the V2 parquet read path, and moving the
        # whole engine off the (default) V1 source for a footer-stats COUNT
        # optimization trades a niche win for behavioral risk across every
        # scan (legacy nanos handling, streaming file source differences)
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode hygiene: keep the UI off for test/bench runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
