"""Streaming SCD2: a CDC change stream folded into a persisted
dimension history per micro-batch (foreachBatch → ``scd2_apply``).

Completes the streaming⟷writer bridge the way ``denormalizing_sink``
does for the star schema: the same set-oriented batch writer runs per
micro-batch, so streaming and batch loads share one code path and one
semantics (SURVEY §3.2's trigger replacement, extended to
history-tracked dims).

Storage layout — split by mutability so steady-state writes touch only
the open slice, and no write ever overwrites the only copy of history:

- ``hist_dir/closed/batch_id=N`` — closed interval rows, append-only.
  A closed SCD2 version is immutable (late rows at or before the open
  version's start are ignored; rewriting closed intervals is a backfill,
  not an append), so files written by earlier batches are never touched
  again. Per-batch cost here is the CHANGE delta, not the history.
  One partition per micro-batch accumulates unboundedly; run
  :func:`compact_scd2_closed` from a maintenance job (any cadence — it
  only touches partitions the reader's gate already made visible, and
  every crash window leaves byte-identical duplicates the reader
  heals) to fold the debris into one right-sized partition.
- ``hist_dir/open/v=N`` — the full open slice (one row per live key)
  after batch N. Versioned: batch N reads the latest *complete* version
  other than its own (``_SUCCESS``-gated), writes ``v=N``, then retires
  everything except its predecessor and itself. The predecessor is kept
  deliberately: a replayed batch N can always recover the exact state it
  first ran against.

Durability/replay posture:

- Spark serializes foreachBatch calls → single-writer read-modify-write.
- foreachBatch is at-least-once; a replayed batch is harmless because
  (a) the open slice it reads excludes its own ``v=N`` output, so it
  recomputes from the same predecessor and overwrites ``v=N`` with
  byte-identical rows (version ids are ``xxhash64(key, valid_from)``),
  and (b) its closed-row re-append lands duplicate *identical* rows,
  which :func:`read_scd2_history` collapses with ``dropDuplicates``.
- A crash between the closed append and the open-slice commit leaves a
  ``batch_id=N`` closed delta with no ``open/v=N``: the reader gates
  closed partitions to ``batch_id <= max complete open version``, so
  the half-written batch is invisible until the replay completes. The
  previous failure mode (``overwrite`` of ``hist_dir`` in place, which
  deleted the only copy of history before the new files committed) is
  structurally impossible here — nothing ever overwrites a committed
  directory it did not itself write.
- Unlike the previous staged-swap, there is no staging directory at all
  (and no underscore-prefixed paths for Spark's file index to warn
  about): ``scd2_apply`` reads the predecessor version and writes a new
  directory, so the plan never reads the files it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..writer.scd2 import scd2_apply
from .conf import start_micro_batches


def _hadoop_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _complete_versions(spark: SparkSession, open_dir: str) -> list[int]:
    """Version numbers under ``open_dir`` whose write committed (``_SUCCESS``
    present). Listed via the Hadoop FileSystem API — not ``os.path``, which
    only sees the driver's local disk and would break s3://, hdfs:// or any
    remote ``hist_dir`` (same rule as the dedup gate's index probe)."""
    fs, root = _hadoop_path(spark, open_dir)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                n = int(name[2:])
            except ValueError:
                continue
            if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                out.append(n)
    return sorted(out)


def _retire_versions(spark: SparkSession, open_dir: str, keep: set[int]) -> None:
    fs, _ = _hadoop_path(spark, open_dir)
    for v in _complete_versions(spark, open_dir):
        if v not in keep:
            _, jpath = _hadoop_path(spark, f"{open_dir}/v={v}")
            fs.delete(jpath, True)


def read_scd2_history(spark: SparkSession, hist_dir: str) -> DataFrame | None:
    """The current consistent history: closed rows ∪ the latest complete
    open slice. Returns None when no batch has committed yet.

    Closed partitions are gated to ``batch_id <=`` the latest complete
    open version — a crashed batch's half-written closed delta stays
    invisible until its replay commits the matching open slice — and
    ``dropDuplicates`` collapses the identical rows an at-least-once
    re-append can land. Both are dimension-history-sized operations (one
    shuffle), never stream-sized.
    """
    open_dir = f"{hist_dir.rstrip('/')}/open"
    versions = _complete_versions(spark, open_dir)
    if not versions:
        return None
    open_df = spark.read.parquet(f"{open_dir}/v={max(versions)}")
    try:
        closed = spark.read.parquet(f"{hist_dir.rstrip('/')}/closed")
    except AnalysisException:
        return open_df
    closed = (
        closed.where(F.col("batch_id") <= F.lit(max(versions)))
        .drop("batch_id")
        .dropDuplicates()
    )
    return closed.unionByName(open_df)


def scd2_sink(
    changes: DataFrame,
    hist_dir: str,
    checkpoint_dir: str,
    natural_key: str,
    tracked: list[str],
    ts_col: str = "ts",
    trigger_available_now: bool = True,
    shuffle_partitions: int | None = None,
):
    """Start the history-folding sink; returns the StreamingQuery.

    ``changes``: streaming frame of (natural_key, *tracked, ts_col)
    observations. ``hist_dir``: the history root (layout in the module
    docstring; read it back with :func:`read_scd2_history`).
    ``shuffle_partitions``: the scoped micro-batch override every sink
    takes (rationale in ``streaming/conf.py``).

    Per-batch plan shape: ``scd2_apply`` folds the batch into the
    predecessor OPEN slice only (closed rows are pass-through by
    construction, so they are never read — per-batch cost is independent
    of history depth). The fold is persisted once and split into its
    newly-closed rows (appended under ``closed/batch_id=N``) and the new
    open slice (``open/v=N``), closed first so the reader's gate covers
    every crash window.
    """
    root = hist_dir.rstrip("/")
    closed_dir = f"{root}/closed"
    open_dir = f"{root}/open"

    def _process(batch: DataFrame, batch_id: int, cache) -> None:
        spark = batch.sparkSession
        versions = _complete_versions(spark, open_dir)
        prev = max((v for v in versions if v != batch_id), default=None)
        prev_open = (
            spark.read.parquet(f"{open_dir}/v={prev}") if prev is not None else None
        )
        folded = cache(
            scd2_apply(batch, natural_key, tracked, ts_col=ts_col, hist=prev_open)
        )
        # closed delta first (append-only; duplicates from replay are
        # identical rows, healed on read), then the open-slice commit
        # that makes it visible.
        folded.where(~F.col("is_current")).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").partitionBy("batch_id").parquet(closed_dir)
        folded.where(F.col("is_current")).write.mode("overwrite").parquet(
            f"{open_dir}/v={batch_id}"
        )
        keep = {batch_id} if prev is None else {prev, batch_id}
        _retire_versions(spark, open_dir, keep)

    return start_micro_batches(
        changes, _process, checkpoint_dir, "update", trigger_available_now,
        shuffle_partitions,
    )


def compact_scd2_closed(
    spark: SparkSession,
    hist_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_partitions: int = 2,
) -> dict:
    """Bound the closed store's per-batch partition debris: merge every
    VISIBLE ``closed/batch_id=N`` partition (N <= the latest complete
    open version — the same gate :func:`read_scd2_history` applies) into
    the smallest such partition, rewritten at ``target_file_bytes``
    sizing. Run it from a maintenance job on whatever cadence keeps the
    file count acceptable; the reader needs no coordination with it.

    Crash-safety by duplicate-tolerance, not atomicity: a multi-
    directory swap cannot be atomic on a generic filesystem, so every
    step keeps the closed store a SUPERSET of the true rows with only
    byte-identical duplicates — exactly what ``read_scd2_history``
    already heals with its ``dropDuplicates`` (the at-least-once replay
    path). Order: (1) write the deduplicated union of the gated
    partitions to a ``__compact_tmp`` sibling; (2) move its data files
    INTO the destination partition (new files alongside old — dup rows,
    healed); (3) delete the destination's pre-compaction files, then
    the other merged partitions (each deletion removes rows that
    already exist in the compacted files); (4) drop the tmp dir.
    Re-running after a crash at ANY step converges (the gated read
    dedups whatever state it finds). Invisible partitions
    (``batch_id > gate``: a half-committed batch's delta) are never
    touched, so a concurrent replay of that batch is unaffected.

    Returns ``{"partitions_before", "partitions_after", "files_before",
    "files_after", "compacted"}``.
    """
    import math

    from ..writer.compact import _data_files, _fs_path

    root = hist_dir.rstrip("/")
    closed_dir = f"{root}/closed"
    versions = _complete_versions(spark, f"{root}/open")
    fs, jclosed = _fs_path(spark, closed_dir)
    if not versions or not fs.exists(jclosed):
        return {"partitions_before": 0, "partitions_after": 0,
                "files_before": 0, "files_after": 0, "compacted": False}
    gate = max(versions)
    parts = []
    for st in fs.listStatus(jclosed):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                n = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if n <= gate:
                parts.append(n)
    parts.sort()
    files_before = {
        n: _data_files(spark, f"{closed_dir}/batch_id={n}") for n in parts
    }
    n_files_before = sum(len(v) for v in files_before.values())
    if len(parts) < min_partitions:
        return {"partitions_before": len(parts), "partitions_after": len(parts),
                "files_before": n_files_before, "files_after": n_files_before,
                "compacted": False}

    dest = parts[0]
    dest_dir = f"{closed_dir}/batch_id={dest}"
    tmp = f"{root}/closed__compact_tmp"
    _, jtmp = _fs_path(spark, tmp)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)

    merged = (
        spark.read.parquet(closed_dir)
        .where(F.col("batch_id") <= F.lit(gate))
        .drop("batch_id")
        .dropDuplicates()
    )
    total = sum(sz for fl in files_before.values() for _, sz in fl)
    n_target = max(1, math.ceil(total / target_file_bytes))
    merged.coalesce(n_target).write.mode("overwrite").parquet(tmp)

    jpath = spark._jvm.org.apache.hadoop.fs.Path
    dest_old = [p for p, _ in files_before[dest]]
    for p, _ in _data_files(spark, tmp):
        fs.rename(jpath(p), jpath(dest_dir + "/" + p.rsplit("/", 1)[1]))
    for p in dest_old:
        fs.delete(jpath(p), False)
    for n in parts[1:]:
        fs.delete(jpath(f"{closed_dir}/batch_id={n}"), True)
    fs.delete(jtmp, True)
    return {
        "partitions_before": len(parts),
        "partitions_after": 1,
        "files_before": n_files_before,
        "files_after": len(_data_files(spark, dest_dir)),
        "compacted": True,
    }
