"""Engine-native job metrics — the reference's log-driven verification
as a queryable DataFrame instead of grep-able log lines.

The reference ships a logging layer whose output doubles as its
verification surface: per-stage record counts and timings are printed
and then read back by build automation (/root/reference/lib/helpers.js:143-227,
rotation at etl.js:42-54; "logs drive build automation",
/root/reference/README.md:72). SURVEY §2.1 scopes log TRANSPORT out of
the engine (observability, not dataflow), but the VERIFICATION use case
— "how many records did stage X read/write, and how long did it take" —
is dataflow-adjacent and belongs in-engine.

:class:`JobMetricsTracker` answers it from Spark's own bookkeeping: a
``track(name)`` context manager tags everything submitted inside it
with a job group, then reads the driver's ``AppStatusStore`` (the store
behind the UI/REST API — present even with ``spark.ui.enabled=false``)
and folds the group's stage metrics into one row: records/bytes
in/out, shuffle read/write, executor time, wall time, Janino compiles.
``metrics_df()`` returns the collected rows as a DataFrame, so pipeline
health checks are ordinary queries (loss-percentage gates over metrics
instead of logs).

Driver-side by design: metrics rows are one-per-tracked-query (bounded
by the program, not the data), and the status store read is a handful
of Py4J calls after the action completes — nothing rides on the hot
path. Works identically on a cluster: the status store lives on the
driver.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: metrics_df schema (all sums over the tracked group's stages, last
#: attempt per stage). ``codegen_compiles`` is the JVM-wide CodegenMetrics
#: delta over the window, so tracks that run concurrently overlap.
_SCHEMA = (
    "query string, n_jobs int, n_stages int, n_tasks long, "
    "input_records long, input_bytes long, "
    "output_records long, output_bytes long, "
    "shuffle_read_records long, shuffle_read_bytes long, "
    "shuffle_write_records long, shuffle_write_bytes long, "
    "executor_run_ms long, wall_ms long, codegen_compiles long"
)


def _codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (every generated class)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class JobMetricsTracker:
    """Collects per-query job/stage metrics from the AppStatusStore.

    Usage::

        tracker = JobMetricsTracker(spark)
        with tracker.track("nightly-load"):
            df.write.parquet(out)          # any number of actions
        tracker.metrics_df().show()        # one row per track() call
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._rows: list[tuple] = []

    @contextmanager
    def track(self, name: str):
        sc = self._spark.sparkContext
        group = f"jmt-{name}-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, name, False)
        compiles0 = _codegen_compiles(self._spark)
        t0 = time.time()
        try:
            yield self
        finally:
            wall_ms = int((time.time() - t0) * 1000)
            try:
                compiles = _codegen_compiles(self._spark) - compiles0
                self._rows.append(self._fold(group, name, wall_ms, compiles))
            finally:
                # clear the group so later, untracked jobs don't inherit it
                sc.setJobGroup(None, None, False)

    def _fold(self, group: str, name: str, wall_ms: int, compiles: int) -> tuple:
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        empty_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                n_jobs += 1
                sids = j.stageIds()
                for k in range(sids.size()):
                    stage_ids.add(int(sids.apply(k)))
        totals = [0] * 11  # tasks, inRec, inB, outRec, outB, srR, srB, swR, swB, runMs
        n_stages = 0
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, empty_quantiles)
            if attempts.size() == 0:
                continue  # skipped stage (reused exchange) — no metrics
            s = attempts.apply(attempts.size() - 1)  # last attempt
            n_stages += 1
            totals[0] += int(s.numTasks())
            totals[1] += int(s.inputRecords())
            totals[2] += int(s.inputBytes())
            totals[3] += int(s.outputRecords())
            totals[4] += int(s.outputBytes())
            totals[5] += int(s.shuffleReadRecords())
            totals[6] += int(s.shuffleReadBytes())
            totals[7] += int(s.shuffleWriteRecords())
            totals[8] += int(s.shuffleWriteBytes())
            totals[9] += int(s.executorRunTime())
        return (
            name, n_jobs, n_stages, totals[0],
            totals[1], totals[2], totals[3], totals[4],
            totals[5], totals[6], totals[7], totals[8],
            totals[9], wall_ms, compiles,
        )

    def metrics_df(self) -> DataFrame:
        """The collected metrics as a DataFrame (one row per track())."""
        return self._spark.createDataFrame(self._rows, _SCHEMA)

    def reset(self) -> None:
        self._rows.clear()
