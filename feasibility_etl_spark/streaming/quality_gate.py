"""Streaming model-based quality gate — the fourth ingest gate (exact
dedup ``bloom_gate``, near-dup ``dedup_gate``, contamination
``decontam_gate``, model quality ``quality_gate``).

A ``foreachBatch`` sink where every arriving document is scored by a
PRE-TRAINED hashed-n-gram linear classifier (operators/classifier.py —
the CCNet/GPT-3 "looks like the reference corpus" filter) and only
documents whose exact nano-logit clears a FIXED cut land in training
storage. The cut is typically the reference corpus's own score quantile
(``score_cut`` — the KLL-gate pattern, never a global sort), decided
ONCE before the stream starts: gating is then stateless per batch, the
same discipline as ``decontam_gate``:

1. **Build once, per sink**: the model's weight table (≤ num_buckets
   rows) and 1-row constants are persisted; no per-batch training pass
   ever runs. The threshold is a plain Python int (a bounded scalar,
   not corpus state).
2. **Per batch, ONE action** (the accepted-docs write): scoring is
   explode → broadcast-hash-join → exact BIGINT per-doc fold, all
   JVM-side; survivors semi-join the batch by id.

Replay: each batch overwrites its OWN ``docs/batch_id=N`` directory —
idempotent under at-least-once foreachBatch; with no cross-batch state
there is nothing else to reconcile. Acceptance is EXACTLY the batch
composition ``classifier_score(...).where(logit_e9 > threshold)``
(pinned in tests/test_quality_gate_stream.py), so a stream restart, a
backfill, and the batch operator agree bit for bit.

100 TB posture: the labeled reference corpus is read only at fit time;
per batch the only shuffle is the per-doc fold keyed by id, the weight
table rides one broadcast, and the threshold rides in the plan as a
literal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classifier import LinearTextModel, classifier_score
from ..plans.compose import StageCache
from .conf import quarantine, spread, start_micro_batches


def score_cut(
    scored_ref: DataFrame,
    keep_frac: float,
    score_col: str = "logit_e9",
    k: int = 65535,
) -> int:
    """The cut ``threshold_filter`` would apply, as a bounded driver
    scalar: the ``1 - keep_frac`` KLL quantile of ``score_col`` over a
    scored REFERENCE frame (inclusive rank rule — exact while the frame
    has ≤ k rows, ~0.01% rank error past it). One sketch aggregate, one
    1-row collect (bounded-scalar policy, not a corpus collect)."""
    from ..operators.sketches import quantile_sketches

    row = (
        quantile_sketches(scored_ref, [], score_col, k=k, sketch_col="_kll")
        .select(
            F.kll_sketch_get_quantile_bigint(
                F.col("_kll"), F.lit(1.0 - keep_frac)
            ).alias("thr")
        )
        .collect()[0]
    )
    return int(row["thr"])


def quality_gate_batch(
    batch: DataFrame,
    model: LinearTextModel,
    threshold_e9: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    word_ngrams: int | None = None,
) -> DataFrame:
    """One gating step: the subset of ``batch`` whose exact nano-logit
    under ``model`` is STRICTLY ABOVE ``threshold_e9`` — the same
    strictly-above rule as ``sketches.threshold_filter``, so the gate
    composes with batch selection without an off-by-one at the cut."""
    keep = (
        classifier_score(
            batch, model, text_col, id_col, num_buckets, word_ngrams
        )
        .where(F.col("logit_e9") > F.lit(int(threshold_e9)))
        .select(id_col)
    )
    return batch.join(F.broadcast(keep), id_col, "left_semi")


def quality_gate_sink(
    docs_stream: DataFrame,
    model: LinearTextModel,
    threshold_e9: int,
    base_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    word_ngrams: int | None = None,
    trigger_available_now: bool = True,
    shuffle_partitions: int | None = None,
    rejects_dir: str | None = None,
):
    """Start the quality gate as a ``foreachBatch`` streaming query
    (tiers, layout and posture in the module docstring). ``model`` is a
    TRAINED :class:`LinearTextModel`; its frames are persisted here,
    reused by every micro-batch and released (unpersisted, also for the
    caller) when the query ends. The feature space resolves from the
    MODEL (explicit ``num_buckets``/``word_ngrams`` must agree with
    training — ``classifier_score`` raises on a mismatch).

    ``rejects_dir``: opt-in quarantine (the E-ISOLATE pattern at the
    stream boundary) — each batch ALSO writes its rejected rows with a
    ``reason`` column to ``rejects_dir/batch_id=N`` (overwrite →
    replay-idempotent). Off by default: it costs one extra action per
    batch."""
    docs_dir = os.path.join(base_dir, "docs")
    sink_cache = StageCache()
    model = model._replace(
        weights=sink_cache(model.weights), consts=sink_cache(model.consts)
    )

    def _process(batch: DataFrame, batch_id: int, cache) -> None:
        rb = spread(batch, shuffle_partitions)
        if rejects_dir is not None:
            rb = cache(rb)
        survivors = quality_gate_batch(
            rb, model, threshold_e9, text_col, id_col, num_buckets, word_ngrams,
        )
        if rejects_dir is not None:
            survivors = cache(survivors)
        survivors.write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"batch_id={batch_id}")
        )
        if rejects_dir is not None:
            quarantine(
                rb.join(F.broadcast(survivors.select(id_col)), id_col, "left_anti"),
                "low_quality", rejects_dir, batch_id,
            )

    return start_micro_batches(
        docs_stream, _process, checkpoint_dir, "append", trigger_available_now,
        shuffle_partitions, sink_cache,
    )
