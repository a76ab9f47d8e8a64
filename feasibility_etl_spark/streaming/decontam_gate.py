"""Streaming benchmark-decontamination gate — the third member of the
ingest-gate trio (exact dedup ``bloom_gate``, near-dup ``dedup_gate``,
contamination ``decontam_gate``).

A ``foreachBatch`` sink where every micro-batch of arriving documents is
scrubbed against a FIXED evaluation set: any doc sharing a word
``ngram``-gram with the eval corpus is dropped before it ever lands in
training storage (``operators.corpus.decontaminate`` semantics, the
``sketches.bloom_decontaminate`` two-tier plan).

Unlike the dedup gates this one is STATELESS across batches — whether a
document is contaminated depends only on the document and the eval set,
so there is no per-batch index read, no cross-batch replay coupling,
and the steady-state cost is pure per-row work:

1. **Build once, per sink**: the eval set's distinct grams (persisted —
   benchmark-sized, the exact tier's semi-join side) and their Bloom
   filter (persisted one-row frame). No per-batch eval pass ever runs.
2. **Per batch, ONE action** (the accepted-docs write; the round-5
   fixed-cost discipline): batch grams stream through the broadcast
   Bloom probe inside whole-stage codegen; only flagged suspects reach
   the exact gram semi-join; contaminated ids anti-join the batch.
   False positives only ever send extra grams to the exact tier —
   acceptance is EXACTLY the batch operator's
   (``corpus.decontaminate``, including its drop of the eval docs'
   own ids; pinned in tests/test_decontam_gate.py).

Replay: each batch overwrites its OWN ``docs/batch_id=N`` directory —
idempotent under at-least-once foreachBatch, and with no cross-batch
state there is nothing else to reconcile.

100 TB posture: the eval corpus is read ONCE for the lifetime of the
stream; per batch the corpus-side grams never shuffle (explode → probe
→ broadcast semi-join), and the batch is spread across the gate width
before the shingle+hash stage (file-source micro-batches arrive with
one partition per trigger file).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import shingles
from ..operators.sketches import (
    _bloom_maybe_contains_md5,
    bloom_build,
)
from ..plans.compose import StageCache
from .conf import quarantine, spread, start_micro_batches


def decontam_gate_batch(
    batch: DataFrame,
    eval_grams: DataFrame,
    bloom_row: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
    eval_ids: DataFrame | None = None,
) -> DataFrame:
    """One gating step: the subset of ``batch`` sharing no ``ngram``-gram
    with ``eval_grams`` (a frame of distinct gram strings, column
    ``_g``). ``bloom_row`` is the eval grams' filter (one row, column
    ``bloom``); None skips the fast path (every gram takes the exact
    tier — correctness unchanged).

    ``eval_ids`` (a one-column ``id_col`` frame of the eval docs' own
    ids) makes acceptance UNCONDITIONALLY equal to
    ``corpus.decontaminate``, which also drops the eval docs themselves
    should they arrive in the stream. Without it, equality holds only
    when stream ids are disjoint from eval ids (an eval doc's grams
    always overlap the eval set, so the gram tier catches any eval doc
    with ≥1 gram — the id anti-join only matters for degenerate
    empty-text eval rows or id collisions)."""
    sh = F.array_distinct(shingles(F.col(text_col), n=ngram))
    gram_rows = batch.select(F.col(id_col), F.explode(sh).alias("_g"))
    if bloom_row is not None:
        gram_rows = (
            gram_rows.crossJoin(F.broadcast(bloom_row))
            .where(
                _bloom_maybe_contains_md5(
                    F.md5("_g"), F.col("bloom"), m_bits, n_hashes
                )
            )
            .drop("bloom")
        )
    contaminated = (
        gram_rows.join(F.broadcast(eval_grams), "_g", "left_semi")
        .select(id_col)
        .distinct()
    )
    out = batch.join(F.broadcast(contaminated), id_col, "left_anti")
    if eval_ids is not None:
        out = out.join(F.broadcast(eval_ids), id_col, "left_anti")
    return out


def decontam_gate_sink(
    docs_stream: DataFrame,
    eval_docs: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
    trigger_available_now: bool = True,
    shuffle_partitions: int | None = None,
    rejects_dir: str | None = None,
):
    """Start the decontamination gate as a ``foreachBatch`` streaming
    query (tiers, layout and posture in the module docstring).
    ``eval_docs`` is a STATIC frame (the benchmark corpus); its gram set
    and Bloom filter are built and persisted once here, reused by every
    micro-batch and released when the query ends. ``m_bits`` sizes the filter for the EVAL gram
    count (~10 bits per gram for ~1% FPR).

    ``rejects_dir``: opt-in quarantine (the E-ISOLATE pattern at the
    stream boundary) — each batch ALSO writes its rejected rows with a
    ``reason`` column to ``rejects_dir/batch_id=N`` (overwrite →
    replay-idempotent), so dropped data stays auditable instead of
    vanishing. Off by default: it costs one extra action per batch."""
    docs_dir = os.path.join(base_dir, "docs")
    sh = F.array_distinct(shingles(F.col(text_col), n=ngram))
    sink_cache = StageCache()
    eval_grams = sink_cache(eval_docs.select(F.explode(sh).alias("_g")).distinct())
    bloom_row = sink_cache(
        bloom_build(eval_grams, "_g", m_bits=m_bits, n_hashes=n_hashes)
    )
    eval_ids = sink_cache(eval_docs.select(id_col).distinct())

    def _process(batch: DataFrame, batch_id: int, cache) -> None:
        rb = spread(batch, shuffle_partitions)
        if rejects_dir is not None:
            rb = cache(rb)
        survivors = decontam_gate_batch(
            rb, eval_grams, bloom_row,
            text_col, id_col, ngram, m_bits, n_hashes,
            eval_ids=eval_ids,
        )
        if rejects_dir is not None:
            survivors = cache(survivors)
        survivors.write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"batch_id={batch_id}")
        )
        if rejects_dir is not None:
            quarantine(
                rb.join(F.broadcast(survivors.select(id_col)), id_col, "left_anti"),
                "contaminated", rejects_dir, batch_id,
            )

    return start_micro_batches(
        docs_stream, _process, checkpoint_dir, "append", trigger_available_now,
        shuffle_partitions, sink_cache,
    )
