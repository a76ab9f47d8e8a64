"""SCD2 dimension history: validity-interval versions.

The reference's dimensions are overwrite-in-place (schema.sql:105-134 keeps
exactly one row per natural key), so a fact row joined later sees the dim's
*latest* attributes — history is lost. SCD Type 2 keeps every version as a
``[valid_from, valid_to)`` interval row; the writer closes the open interval
when a tracked attribute changes and opens a new one, so a read can resolve a
dimension *as of a timestamp* instead of "current".

The fold is set-oriented and single-shuffle-per-key:

- :func:`scd2_apply` folds a batch of (key, attrs, effective_ts) changes
  into an existing history. It handles **many versions per key per batch**
  (a window sequences them by effective time), drops no-op changes
  (attributes equal to the immediately preceding version, null-safely), and
  ignores late rows at or before the open version's start. One shuffle on
  the natural key for the sequencing window, one broadcast-sized join
  against the current rows; never a driver loop.

Version surrogate ids are ``xxhash64(natural_key, valid_from)``: stateless
and deterministic (same posture as ``lookup_or_insert(id_strategy='hash')``),
so re-applying the same batch yields byte-identical history (idempotent).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_META = ("valid_from", "valid_to", "is_current")


def scd2_apply(
    incoming: DataFrame,
    natural_key: str,
    tracked: Sequence[str],
    ts_col: str = "ts",
    hist: DataFrame | None = None,
    id_col: str = "version_sk",
) -> DataFrame:
    """Fold a change batch into an SCD2 history; returns the new history.

    ``incoming``: one row per observed state — (natural_key, *tracked,
    ts_col). ``hist``: the existing history (schema of this function's
    output) or None to bootstrap from scratch.

    Semantics per key, in effective-time order: a row opens a new version
    iff its tracked attributes differ (null-safely) from the version in
    effect just before it; each new version's ``valid_to`` is the next
    version's ``valid_from`` (half-open intervals, no gaps); the last
    version is open (``valid_to`` null, ``is_current`` true) and the
    previously-open version is closed at the first new ``valid_from``.
    Ties on (key, ts) are broken deterministically by the tracked values
    (lowest first) — pre-dedupe upstream if ties are meaningful. Rows at or
    before the open version's ``valid_from`` are ignored as late arrivals:
    rewriting closed intervals is a backfill, not an append, and needs a
    fresh ``scd2_apply`` over the full event log.
    """
    tracked = list(tracked)
    key = natural_key
    # tie-dedupe on the KEY-partitioned window (not (key, ts)) so it shares
    # one hash partitioning — and therefore one Exchange — with the
    # sequencing window below: keep the first row of each ts group
    w_tie = Window.partitionBy(key).orderBy(
        ts_col, *[F.col(c).asc_nulls_first() for c in tracked]
    )
    inc = (
        incoming.select(key, *tracked, ts_col)
        .withColumn("_prev_ts", F.lag(ts_col).over(w_tie))
        .where(F.col("_prev_ts").isNull() | (F.col(ts_col) != F.col("_prev_ts")))
        .drop("_prev_ts")
        .withColumnRenamed(ts_col, "valid_from")
    )

    if hist is not None:
        cur = hist.where(F.col("is_current")).select(
            F.col(key),
            F.struct(*[F.col(c) for c in tracked]).alias("_cur_attrs"),
            F.col("valid_from").alias("_cur_from"),
        )
        inc = inc.join(cur, key, "left").where(
            F.col("_cur_from").isNull() | (F.col("valid_from") > F.col("_cur_from"))
        )
    else:
        # typed null struct so the coalesce below stays well-typed
        inc = inc.withColumn(
            "_cur_attrs", F.when(F.lit(False), F.struct(*[F.col(c) for c in tracked]))
        )

    # a row is a real change iff its attrs differ from the version in effect
    # just before it: the previous batch row for the key, else the open
    # history row. lag() runs before the filter, but a dropped (no-op) row
    # equals its own predecessor, so comparing against it is transitively
    # comparing against the last kept version.
    w_seq = Window.partitionBy(key).orderBy("valid_from")
    inc = inc.withColumn("_attrs", F.struct(*[F.col(c) for c in tracked]))
    changed = inc.withColumn(
        "_base", F.coalesce(F.lag("_attrs").over(w_seq), F.col("_cur_attrs"))
    ).where(~F.col("_attrs").eqNullSafe(F.col("_base")))

    new_rows = (
        changed.select(key, *tracked, "valid_from")
        .withColumn("valid_to", F.lead("valid_from").over(w_seq))
        .withColumn("is_current", F.col("valid_to").isNull())
    )

    if hist is not None:
        first_new = changed.groupBy(key).agg(F.min("valid_from").alias("_close_at"))
        still = hist.where(~F.col("is_current")).drop(id_col)
        closed = (
            hist.where(F.col("is_current"))
            .drop(id_col)
            .join(first_new, key, "left")
            .withColumn("valid_to", F.coalesce(F.col("_close_at"), F.col("valid_to")))
            .withColumn("is_current", F.col("_close_at").isNull())
            .drop("_close_at")
        )
        new_rows = still.unionByName(closed).unionByName(new_rows)

    return new_rows.select(
        F.xxhash64(F.col(key), F.col("valid_from")).alias(id_col),
        key,
        *tracked,
        *_META,
    )
