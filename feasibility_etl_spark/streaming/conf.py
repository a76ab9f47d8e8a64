"""The one micro-batch skeleton every ``foreachBatch`` sink starts through.

:func:`start_micro_batches` owns what the sinks share: the
``writeStream.foreachBatch`` query, the checkpoint, the output mode, the
optional ``availableNow`` trigger, and two scopes around every batch body:

- ``shuffle_partitions``: AQE is disabled under streaming queries, so
  nothing coalesces a micro-batch's post-shuffle partitions; a sink whose
  joins run at the session's batch-sized ``spark.sql.shuffle.partitions``
  mostly schedules empty tasks. Each sink takes a ``shuffle_partitions``
  parameter (size it near the per-batch row count / target partition
  size; None keeps the session setting) and every batch plans under
  :func:`scoped_shuffle_partitions`, which restores the session value
  even when the body throws (foreachBatch retries the batch; a leaked
  override would re-plan every later query in the session at micro-batch
  parallelism).
- a batch-scoped ``plans.compose.StageCache`` from
  ``materialize_shared()``: the body persists its multi-consumer frames
  through it and they are released when the batch ends, success or not.

Frames built once per sink (an eval gram set, a model's weight table) go
in a sink-scoped ``StageCache`` the caller hands over as ``sink_cache``;
it is released when the query terminates (success, failure or
``stop()``), by a query listener registered only for such sinks.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..plans.compose import StageCache, materialize_shared

_KEY = "spark.sql.shuffle.partitions"


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the block; restore
    on exit. ``n=None`` is a no-op (keep the session setting)."""
    if n is None:
        yield
        return
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(n))
    try:
        yield
    finally:
        spark.conf.set(_KEY, prev)


class _ReleaseOnTermination(StreamingQueryListener):
    """Releases a sink-scoped cache once its query's run terminates.

    Registered before ``start()`` so no termination can be missed; the
    run id is only known once ``start()`` returns, so a termination seen
    before :meth:`bind` is remembered and honoured there."""

    def __init__(self, spark: SparkSession, cache: StageCache) -> None:
        self._spark, self._cache = spark, cache
        self._lock = threading.Lock()
        self._run_id: str | None = None
        self._early: set[str] = set()

    def bind(self, run_id: str | None) -> None:
        """Tie to ``run_id``; None (``start()`` failed) releases now."""
        with self._lock:
            self._run_id = run_id
            done = run_id is None or run_id in self._early
        if done:
            self._release()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        run_id = str(event.runId)
        with self._lock:
            if self._run_id is None:
                self._early.add(run_id)
            done = run_id == self._run_id
        if done:
            self._release()

    def _release(self) -> None:
        self._cache.release()
        self._spark.streams.removeListener(self)


def start_micro_batches(
    stream: DataFrame,
    body: Callable[[DataFrame, int, StageCache], None],
    checkpoint: str,
    output_mode: str,
    available_now: bool,
    shuffle_partitions: int | None,
    sink_cache: StageCache | None = None,
) -> StreamingQuery:
    """Start ``stream`` as a foreachBatch query running
    ``body(batch, batch_id, cache)`` per micro-batch (module docstring).
    ``output_mode`` is the sink's own, not a user option."""
    spark = stream.sparkSession

    def process(batch: DataFrame, batch_id: int) -> None:
        with scoped_shuffle_partitions(
            batch.sparkSession, shuffle_partitions
        ), materialize_shared() as cache:
            body(batch, batch_id, cache)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        # drain-everything-then-stop mode (bench / backfill runs)
        writer = writer.trigger(availableNow=True)
    if sink_cache is None:
        return writer.start()
    listener = _ReleaseOnTermination(spark, sink_cache)
    spark.streams.addListener(listener)
    query = None
    try:
        query = writer.start()
    finally:
        listener.bind(str(query.runId) if query is not None else None)
    return query


def spread(batch: DataFrame, shuffle_partitions: int | None) -> DataFrame:
    """A file-source micro-batch arrives with as many partitions as
    trigger FILES (often 1-2); spread it across the gate's shuffle width
    before the per-row gating work so it runs on every core."""
    spark = batch.sparkSession
    return batch.repartition(
        shuffle_partitions or spark.sparkContext.defaultParallelism
    )


def quarantine(
    rejects: DataFrame, reason: str, rejects_dir: str, batch_id: int
) -> None:
    """The gates' opt-in quarantine: write a batch's rejected rows with a
    ``reason`` column to ``rejects_dir/batch_id=N`` (overwrite, so a
    replayed batch replaces its rejects instead of duplicating them)."""
    rejects.withColumn("reason", F.lit(reason)).write.mode("overwrite").parquet(
        os.path.join(rejects_dir, f"batch_id={batch_id}")
    )
