"""Persist-lifecycle management for composed pipelines.

Spark shares NO common subplans across references: two branches of a
DAG that read the same upstream stage each re-execute that stage's
whole subtree (the documented exchange-reuse lesson — see
PERF-NOTES.md). Deep compositions like PIPE-CORPUS therefore persist
every stage output that downstream stages reference more than once.
Until round 5 that pattern was applied by hand at each composition
site, and the persists LEAKED: the composing function returned a lazy
frame, the caller ran the terminal action, and nobody ever called
``unpersist`` — in a long-lived session the survivor-sized cached
frames accumulate until LRU eviction.

This module makes the pattern an engine primitive with two lifecycle
modes, matching the two ways compositions are consumed:

- ``materialize_shared()`` — a context manager for programs that OWN
  their terminal action. Persist shared stages through the yielded
  :class:`StageCache`, run the action inside the block, and every
  tracked frame is unpersisted on exit (success or failure)::

      with materialize_shared() as shared:
          gated = shared(quality_gate(docs))
          deduped = exact_dedup(gated)          # ref 1
          dropped = gated.subtract(deduped)     # ref 2 — cache pays off
          dropped.write.parquet(out)            # terminal action HERE

- ``release_when_unreachable(result, cache)`` — for builders that
  RETURN a lazy frame and never see the action (the driver contract:
  ``queries()`` entries are built, then acted on — possibly several
  times — by the driver). Ties the cache's lifetime to the returned
  DataFrame object: a ``weakref.finalize`` releases every tracked
  frame once the result is unreachable. The caches therefore survive
  across ALL the caller's actions (count + collect + explain) and are
  released exactly when the result can no longer be acted on. CPython
  refcounting makes this prompt in the per-query driver loop; under
  delayed GC the bound is "until collection", which still cannot
  accumulate across queries the way the unbounded leak did.

Unpersist is always ``blocking=False``: release must never stall a
pipeline, and a stale async unpersist on a stopped session is
swallowed (the JVM is gone; there is nothing left to release).
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class StageCache:
    """Registry of persisted stage outputs with one release point.

    Calling the instance persists a frame and tracks it; ``release()``
    unpersists everything tracked (idempotent — safe to call from both
    a ``finally`` and a GC finalizer)."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def __call__(
        self, df: DataFrame, storage_level: StorageLevel | None = None
    ) -> DataFrame:
        """Persist ``df`` (default MEMORY_AND_DISK_DESER — the stock
        ``DataFrame.persist()`` level: survivor-sized stage outputs
        spill rather than evict) and track it for release. Returns the
        same frame for fluent composition."""
        df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK_DESER)
        self._frames.append(df)
        return df

    def cut(self, df: DataFrame) -> DataFrame:
        """PLAN-LEAF boundary at a composition's fan-out root: returns a
        frame whose logical plan is a single RDD scan
        (``localCheckpoint``), backed by executor-persisted blocks.

        Why this exists (VERDICT r11 item 2): deep compositions nest a
        stage's WHOLE logical subtree under every downstream reference —
        persist() gives physical reuse but leaves the logical tree
        intact, so a stage referenced k times whose own inputs are
        referenced j times contributes j×k subtree copies to every
        downstream compile. PIPE-CORPUS's pair stage made the composed
        plan exponential once connected_components went lazy: the
        analyzer walked it for minutes and the plan STRING alone
        overflowed the JVM heap. A ``cut()`` at the fan-out root
        collapses all of that to one leaf.

        The cut runs ONE job at construction to materialize the leaf.
        This is a measured trade: r12 prototyped a fully-lazy cut and
        the composed single-action run exploded to 1700+ stages / 133 s
        — with the leaf COLD, every downstream reference races to
        compute it and the persist hierarchy above it re-executes per
        reference (Spark's block-level locking dedups blocks, not stage
        DAGs). One construction job buys a warm leaf every consumer
        scans, which is also why it must sit at the fan-out ROOT:
        everything heavy above it then executes exactly once at action
        time.

        The checkpointed blocks live executor-local and release when
        the frame is collected (ContextCleaner), which the per-entry
        gc in bench/driver loops makes prompt; ``release()`` does not
        need to track them."""
        return df.localCheckpoint(eager=True)

    def release(self) -> None:
        frames, self._frames = self._frames, []
        for f in frames:
            try:
                f.unpersist(blocking=False)
            except Exception:
                # stopped session / torn-down JVM: nothing to release
                pass


@contextmanager
def materialize_shared():
    """Scope a :class:`StageCache` to a block that contains the
    pipeline's terminal action (module docstring, mode 1)."""
    cache = StageCache()
    try:
        yield cache
    finally:
        cache.release()


def release_when_unreachable(result: DataFrame, cache: StageCache) -> DataFrame:
    """Arrange for ``cache.release()`` when ``result`` becomes
    unreachable (module docstring, mode 2). Returns ``result``.

    The finalizer closes over the CACHE, never the result — holding
    the result would keep it reachable forever and turn the tie into
    exactly the leak it exists to prevent.

    Callers must keep the result referenced for as long as they plan or
    act on it: ``builder(...)._jdf.queryExecution()...`` drops the frame
    mid-expression, the finalizer releases the caches, and any LAZY
    derivation (``executedPlan`` is computed at first access) then plans
    without the InMemoryRelations. Bind to a local first."""
    weakref.finalize(result, cache.release)
    return result
