"""Small-file compaction — table maintenance for long-lived parquet
directories.

Why it's first-class at 100 TB: streaming sinks (dedup gate, denorm
sink, SCD2 closed deltas) and frequent incremental batch appends each
leave one-file-per-task debris. A table of 10M × 1 MB files is slow to
even LIST on object stores, plans 10M scan splits, and loses file-level
statistics pruning (per-file min/max ranges cover everything when every
file is a random sliver). Periodic compaction to ~``target_file_bytes``
restores scan efficiency without touching table semantics.

Design:

- **Sizing by bytes, not file count**: the output file count is
  ``ceil(total_bytes / target_file_bytes)`` from the real listing, so
  compaction converges to the target layout regardless of how lopsided
  the input debris is.
- **``coalesce`` by default** — merging small files needs no shuffle
  (narrow dependency: tasks just read several files each).
  ``rebalance=True`` switches to ``repartition`` (one round-robin
  shuffle) when input files are so skewed that merged outputs would be
  too; the data is rewritten either way, so the shuffle only buys
  evenness.
- **Crash-safe swap**: the compacted copy is fully written (and
  ``_SUCCESS``-gated) to a sibling ``<dir>__compact_tmp`` before the
  live directory is touched; the live directory is then renamed aside,
  the new one renamed in, and the old copy deleted last. Every crash
  window leaves a complete copy on disk, and :func:`compact_small_files`
  repairs an interrupted swap on its next invocation (the SCD2 sink's
  never-overwrite-the-only-copy rule, applied to maintenance).
- **Remote-FS correct**: listing and renames go through the Hadoop
  FileSystem API, so ``s3a://``/``hdfs://`` paths work identically to
  local ones (the dedup-gate index-probe rule). Note object stores
  rename by copy — on S3 prefer running compaction per partition
  directory so each swap moves one partition, not the table.

Partitioned tables: call :func:`compact_partitions`, which lists
``k=v`` child directories and compacts each independently — steady-state
maintenance touches only partitions that accumulated debris (a
files-per-partition threshold skips the rest).

Reference parity: the reference engine delegates storage maintenance to
PostgreSQL (autovacuum); a file-based engine must own it explicitly.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every committed data file directly under ``path``
    (hidden/_-prefixed entries excluded, as Spark's file index does)."""
    fs, root = _fs_path(spark, path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def _repair_interrupted_swap(spark: SparkSession, path: str) -> bool:
    """If a previous compaction crashed mid-swap (live dir renamed aside
    but the compacted copy not yet renamed in), restore the previous live
    copy. Returns True if a repair happened."""
    fs, live = _fs_path(spark, path)
    _, aside = _fs_path(spark, path + "__compact_old")
    if not fs.exists(live) and fs.exists(aside):
        fs.rename(aside, live)
        return True
    return False


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    rebalance: bool = False,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(total_bytes / target_file_bytes)`` files (at least 1), using a
    crash-safe sibling-and-swap. No-op when the directory already has
    fewer than ``min_files`` files or fewer files than the target count.

    ``sort_cols`` restores a clustering order while rewriting (e.g. the
    z-order key of a z-ordered table, so compaction preserves
    its file-level data skipping): range-repartition + sort-within, one
    shuffle instead of ``coalesce``'s none.

    Returns ``{"files_before", "files_after", "bytes", "compacted"}``.
    """
    _repair_interrupted_swap(spark, path)
    files = _data_files(spark, path)
    total = sum(sz for _, sz in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(files) < min_files or len(files) <= n_target:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
            "compacted": False,
        }

    tmp, old = path + "__compact_tmp", path + "__compact_old"
    fs, live = _fs_path(spark, path)
    _, jtmp = _fs_path(spark, tmp)
    _, jold = _fs_path(spark, old)
    for leftover in (jtmp, jold):
        if fs.exists(leftover):
            fs.delete(leftover, True)

    df = spark.read.parquet(path)
    if sort_cols:
        sized = df.repartitionByRange(n_target, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif rebalance:
        sized = df.repartition(n_target)
    else:
        sized = df.coalesce(n_target)
    sized.write.mode("overwrite").parquet(tmp)

    # Swap: every window leaves a complete committed copy on disk —
    # tmp is complete before live moves; live survives at __compact_old
    # until tmp is in place; the repair hook covers the gap between the
    # two renames.
    fs.rename(live, jold)
    fs.rename(jtmp, live)
    fs.delete(jold, True)
    return {
        "files_before": len(files),
        "files_after": len(_data_files(spark, path)),
        "bytes": total,
        "compacted": True,
    }


def compact_partitions(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    rebalance: bool = False,
) -> dict:
    """Compact every ``k=v`` partition directory under ``root``
    independently (recursing through nested partition levels). Partitions
    under ``min_files`` are skipped, so steady-state maintenance cost
    scales with debris, not table size. Returns per-partition stats keyed
    by partition path plus a ``"_total"`` rollup."""
    fs, jroot = _fs_path(spark, root)
    stats: dict = {}
    todo = [jroot]
    leaves = []
    while todo:
        cur = todo.pop()
        kids = [
            st.getPath()
            for st in fs.listStatus(cur)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if kids:
            todo.extend(kids)
        elif cur is not jroot:
            leaves.append(cur.toString())
    for leaf in sorted(leaves):
        st = compact_small_files(
            spark, leaf, target_file_bytes, min_files, rebalance
        )
        stats[leaf] = st
    stats["_total"] = {
        "files_before": sum(s["files_before"] for s in stats.values() if isinstance(s, dict)),
        "files_after": sum(s["files_after"] for s in stats.values() if isinstance(s, dict)),
        "partitions_compacted": sum(1 for s in stats.values() if isinstance(s, dict) and s.get("compacted")),
    }
    return stats
