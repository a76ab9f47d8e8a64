"""Custom stateful streaming operators (applyInPandasWithState).

Where built-in windows don't fit — running per-key totals that never reset,
custom eviction rules — the engine drops to Spark's arbitrary-state API:
state lives per key in the state store, arrives/leaves as Arrow batches, and
watermark-driven timeouts bound it. This is the engine's only stateful
Python tier, mirroring the Pandas-UDF-only policy of the batch side.

Scale shape: state is partitioned by key across executors; each micro-batch
touches only keys present in the batch (plus timed-out keys). The state
schema is a tiny fixed struct, so state-store size is O(distinct keys).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

_RUNNING_TOTALS_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def running_totals(
    df: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Never-resetting per-key running (count, sum) over a stream.

    Unlike a windowed aggregation, totals accumulate for the key's lifetime
    — the state is the pair (n, total), updated per micro-batch and emitted
    in update mode. Batch frames can't host this operator (state needs a
    stream); use a plain groupBy there.
    """

    def update(
        key: tuple, batches: Iterator, state: GroupState
    ) -> Iterator:
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total": [total]})

    return (
        df.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_OUTPUT,
            stateStructType=_RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSIONIZE_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessionize_stream(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    gap_seconds: float = 60.0,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Timer-driven sessionizer: one summary row per closed session,
    emitted exactly when the event-time watermark passes ``last_event +
    gap`` — not re-emitted per micro-batch, not approximated by a window.

    Why not ``session_window``: the built-in session-window aggregation can
    only emit whole-window aggregates; a sessionizer that carries custom
    per-session state (here a (start, end, n) struct; in production,
    anything — a token budget, a dedup sketch) needs the arbitrary-state
    tier. Each input batch folds into the key's state and re-arms its
    event-time timeout at ``end + gap``; when the watermark crosses it the
    key is invoked with no input (``state.hasTimedOut``), emits the
    summary, and removes the state.

    Scale shape: state is O(open sessions) × a 24-byte struct, partitioned
    by key; an executor only touches keys present in the batch plus keys
    whose timeouts expired. Watermark-driven timeouts bound state life.

    Reference parity note: the reference engine has no streaming tier at
    all (BASELINE.md); this extends the engine's streaming surface the way
    a training-data ingest pipeline needs (bounded-state sessionization of
    event logs).
    """
    gap_ms = int(gap_seconds * 1000)

    def update(key: tuple, batches: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="ms")],
                    "session_end": [pd.Timestamp(end, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        start, end, n = state.get if state.exists else (None, None, 0)
        for pdf in batches:
            # pandas datetime64[ns] → epoch ms (session tz is UTC)
            ts_ms = pdf[ts_col].astype("int64") // 1_000_000
            lo, hi = int(ts_ms.min()), int(ts_ms.max())
            start = lo if start is None else min(start, lo)
            end = hi if end is None else max(end, hi)
            n += len(pdf)
        state.update((start, end, n))
        # re-arm: fires once the watermark passes last_event + gap. If that
        # moment is already behind the watermark (bulk replay / very late
        # key), the session is closed per event time — clamp to the first
        # legal instant so it emits at the next micro-batch instead of
        # throwing INVALID_TIMEOUT_TIMESTAMP.
        state.setTimeoutTimestamp(max(end + gap_ms, state.getCurrentWatermarkMs() + 1))

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSIONIZE_OUTPUT,
            stateStructType="start_ms long, end_ms long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def denormalizing_sink(
    stream,
    specs,
    parquet_root: str,
    checkpoint: str,
    fact_key: str = "key",
    required=None,
    available_now: bool = False,
    shuffle_partitions: int | None = None,
    fact_partitions: int | None = None,
):
    """Stream → denormalized star schema: foreachBatch bridges Structured
    Streaming to the batch writer (SURVEY §3.2's trigger replacement).

    Each micro-batch goes through :func:`commit_denormalized`, the commit
    the ``etl`` CLI uses: dim increments appended first, the fact resolved
    against the committed dims and appended last, rejects under
    ``_rejected``. Surrogate keys keep their dense SERIAL-like sequence
    ACROSS batches and re-delivered keys are dropped by the idempotency
    anti-join (exactly-once effect on the fact under at-least-once
    delivery; Spark serializes foreachBatch calls, so read-modify-write per
    batch is single-writer). Returns the StreamingQuery.

    ``shuffle_partitions``: the scoped micro-batch override every sink
    takes (rationale in ``streaming/conf.py``).

    ``fact_partitions``: output-file sizing for the fact append (guide
    §6 — small files hurt twice: driver listing/planning and per-file
    open cost for every later reader). Left None, each micro-batch
    appends ``shuffle_partitions`` fact files of whatever sliver the
    batch carried — a week of 1-minute batches is 10k+ tiny files.
    Set it to bound files-per-batch (an extra exchange of the
    micro-batch-sized increment, then one file per partition); like
    ``shuffle_partitions``, size it to expected per-batch volume — AQE
    is off under foreachBatch, so nothing coalesces this adaptively,
    and a fixed 1 would serialize an arbitrarily large catch-up batch's
    write. Dim increments are new-keys-only (far smaller than the
    fact's) and always land as one file per batch.
    """
    from ..writer.denormalized import commit_denormalized
    from .conf import start_micro_batches

    def process(batch_df, batch_id: int, cache) -> None:
        # every write is executor-side: a catch-up micro-batch after
        # downtime can be arbitrarily large, so nothing collects to the
        # driver
        commit_denormalized(
            batch_df, specs, parquet_root, fact_key=fact_key,
            required=required, fact_partitions=fact_partitions,
        )

    return start_micro_batches(
        stream, process, checkpoint, "update", available_now, shuffle_partitions
    )
