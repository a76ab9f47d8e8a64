"""Streaming near-duplicate gate — incremental MinHash dedup at ingest.

The streaming completion of ``operators.dedup.incremental_near_dups``: a
``foreachBatch`` sink where every micro-batch of new documents is checked
against the persisted MinHash index, near-dups are discarded, and the
survivors are appended — WITH their index columns riding in the same
state files — so the next batch (and the next job) dedups against
everything accepted so far.

This is the ingest shape of a training-data pipeline: documents arrive
continuously, and the corpus downstream must stay near-dup-free without
ever recomputing it.

Scale/durability posture (same rules as ``denormalizing_sink``):

- Nothing is collected to the driver. The batch is gated with the same
  bucketed LSH joins as the batch operator; survivors land via a normal
  executor-side parquet write.
- Writes are idempotent under micro-batch replay: each batch overwrites
  its OWN partition directory (``.../batch_id=N``), so a retried batch
  replaces — never duplicates — its output. The corpus and index are the
  partition-discovered unions of those directories.
- The index read per batch is pruned to ``band_hashes`` until the
  estimation join needs ``sig`` for candidate ids only (column pruning).

Drop policy (deterministic, conservative): a new document is discarded if
it near-dups ANY already-accepted document, or any batch-mate with a
smaller id. Chains inside one batch (a~b~c, a<b<c, no a~c pair) drop both
b and c — the same sequential-discard closure CCNet applies; use the batch
``connected_components`` + ``prune_components`` pass instead when
keep-one-per-component semantics matter more than ingest latency.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_near_dups, minhash_index
from .conf import quarantine, spread, start_micro_batches


def _read_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    id_type: str = "bigint",
    before_batch: int | None = None,
) -> DataFrame:
    """The accepted-so-far index: union of every batch's partition dir,
    column-pruned to ``(id, sig, band_hashes)`` — works on a dedicated
    index layout AND on the sink's combined docs+index state (where the
    document columns ride in the same files and parquet pruning skips
    them).

    ``before_batch`` excludes partitions with ``batch_id >= before_batch``.
    A replayed micro-batch N (foreachBatch is at-least-once) may find its
    OWN index partition from a prior attempt; gating against it would make
    every previously-accepted doc self-match at est_jaccard=1.0 and the
    overwrite would replace the prior survivors with a near-empty set. The
    sink therefore always reads with ``before_batch=batch_id``.

    Probing is done by attempting the read and catching AnalysisException
    (path missing or no files yet) — not via ``os.path``, which only sees
    the driver's local filesystem and would silently disable cross-batch
    dedup for s3://, hdfs:// or any remote ``index_dir``.
    """
    try:
        idx = spark.read.parquet(index_dir)
    except AnalysisException:
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, sig array<bigint>, band_hashes array<bigint>"
        )
    if before_batch is not None:
        idx = idx.where(F.col("batch_id") < F.lit(before_batch))
    return idx.select(id_col, "sig", "band_hashes")


def drop_ids(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    new_index: DataFrame | None = None,
    small_increment: bool = True,
) -> DataFrame:
    """The batch ids the near-dup gate rejects (one column, ``id_col``):
    docs matching the accepted index, plus the greater id of each
    batch-internal pair. ``gate_batch`` anti-joins these against the
    batch; the streaming sink also anti-joins them against the batch's
    prebuilt MinHash index so accepted index rows need no recompute.

    Which side of a pair is new comes TAGGED from the candidate build
    (``tag_new=True``) — the previous formulation reconstructed it with
    two membership joins against the batch's id set, two extra jobs per
    micro-batch for information the join branches already knew.

    ``small_increment``: forwarded to :func:`incremental_near_dups` —
    True (micro-batch serve path) forces broadcasts because AQE is off
    under foreachBatch; False (large batch backfills) lets every join
    plan a shuffle that degrades gracefully instead of
    force-broadcasting an arbitrarily large increment."""
    pairs = incremental_near_dups(
        batch, index, text_col, id_col, threshold, num_hashes, bands, shingle_n,
        new_index=new_index, dedupe=False, small_increment=small_increment,
        tag_new=True,
    )
    # both new -> drop the greater id; one new -> drop the new side
    return pairs.select(
        F.when(F.col("a_new") & F.col("b_new"), F.col("id_b"))
        .when(F.col("a_new") & ~F.col("b_new"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()


def gate_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    new_index: DataFrame | None = None,
    small_increment: bool = True,
) -> DataFrame:
    """Pure gating step: the subset of ``batch`` that survives near-dup
    checks against ``index`` and smaller-id batch-mates. Usable directly
    for batch backfills; the streaming sink wraps it per micro-batch.
    For backfills whose increment is not broadcast-sized, pass
    ``small_increment=False`` (see :func:`drop_ids`)."""
    drops = drop_ids(
        batch, index, text_col, id_col, threshold, num_hashes, bands, shingle_n,
        new_index=new_index, small_increment=small_increment,
    )
    return batch.join(drops, id_col, "left_anti")


def near_dup_gate_sink(
    docs_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    trigger_available_now: bool = True,
    shuffle_partitions: int | None = None,
    rejects_dir: str | None = None,
):
    """Start the gate as a ``foreachBatch`` streaming query.

    ``rejects_dir``: opt-in quarantine — each batch ALSO writes its
    dropped rows (``reason='near_duplicate'``) to
    ``rejects_dir/batch_id=N`` (overwrite → replay-idempotent) so drop
    decisions stay auditable. Off by default: the single-action batch
    commit (below) is the throughput discipline, and the quarantine
    adds one action per batch when enabled.

    Layout under ``base_dir``: ``docs/batch_id=N`` — accepted documents
    WITH their MinHash index columns (``sig``, ``band_hashes``) in the
    same files. Per-batch partition debris is bounded by running
    ``writer.compact.compact_partitions`` over ``docs/`` from a
    maintenance job (idle stream; the per-partition crash-safe swap
    keeps any reader consistent). One state write per batch instead of a docs write plus
    an index write; later batches read the index as a column-pruned
    scan of the same state (``_read_index``), and text+signature are
    each stored once, not split across two trees.

    Per-batch plan shape: the batch's MinHash index is built ONCE and
    ``persist()``-ed — the gating joins reference it four times and the
    combined write attaches the cached rows by an id broadcast join, so
    the shingle+minhash expression (the dominant per-batch CPU)
    evaluates exactly once per document instead of ~5×. The whole batch
    commits through a SINGLE Python-sequenced action (the combined
    write): the drop set is consumed once inside it, so nothing else is
    eagerly materialized or broadcast from the driver between jobs.
    The batch is spread across the shuffle width before the signature
    stage (a file-source micro-batch arrives with as many partitions as
    trigger files — often 1-2 cores' worth of CPU otherwise).

    ``shuffle_partitions``: the scoped micro-batch override every sink
    takes (rationale in ``streaming/conf.py``).
    """
    docs_dir = os.path.join(base_dir, "docs")

    def _process(batch: DataFrame, batch_id: int, cache) -> None:
        spark = batch.sparkSession
        # cached: every downstream reference — signatures, drop set,
        # survivor write — reuses the spread
        rb = cache(spread(batch, shuffle_partitions))
        index = _read_index(
            spark,
            docs_dir,
            id_col=id_col,
            id_type=batch.schema[id_col].dataType.simpleString(),
            before_batch=batch_id,
        )
        new_idx = cache(
            minhash_index(rb, text_col, id_col, num_hashes, bands, shingle_n)
        )
        # drops is consumed exactly once (below), so it is neither
        # persisted nor pre-materialized: the batch runs as ONE
        # Python-sequenced action — the combined write — and every
        # broadcast inside it builds without a driver round-trip
        # between jobs. The round-4 two-write layout cost 2 writes +
        # 2 eager drop broadcasts + a drops materialization, each a
        # Python-side action with its own scheduling latency.
        drops = drop_ids(
            rb, index, text_col, id_col, threshold, num_hashes, bands,
            shingle_n, new_index=new_idx,
        )
        if rejects_dir is not None:
            # quarantine makes drops a two-consumer frame again
            drops = cache(drops)
        combined = (
            rb.join(F.broadcast(new_idx), id_col)
            .join(F.broadcast(drops), id_col, "left_anti")
        )
        combined.write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"batch_id={batch_id}")
        )
        if rejects_dir is not None:
            quarantine(
                rb.join(F.broadcast(drops), id_col, "left_semi"),
                "near_duplicate", rejects_dir, batch_id,
            )

    return start_micro_batches(
        docs_stream, _process, checkpoint_dir, "append", trigger_available_now,
        shuffle_partitions,
    )
