"""Data-quality operators (SURVEY.md §2.8) — genuine dataflow semantics.

- ``validate_not_null`` (E-ISOLATE replacement): Spark writes are not
  row-transactional, so per-row error swallowing (helpers.js:100-104)
  becomes validate-then-write — split conforming from violating rows up
  front.
- ``filter_by_quantile``: keep rows at or above a per-key score quantile,
  the threshold computed by one aggregate and attached by broadcast.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_not_null(
    df: DataFrame, required: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Split (conforming, violating) on NOT NULL constraints.

    Replaces PostgreSQL constraint enforcement (schema.sql:35-40,52-54) +
    per-row insert error isolation: violating rows are returned for logging
    instead of failing the batch.
    """
    cond = None
    for c in required:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else cond & nn
    if cond is None:
        return df, df.limit(0)
    return df.where(cond), df.where(~cond)


def filter_by_quantile(
    df: DataFrame,
    score_col: str,
    q: float,
    keys: Sequence[str] | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the (per-``keys``)
    exact ``q``-quantile — the relative quality gate a corpus pipeline
    uses ("drop the worst 25% per language") where a fixed threshold
    would mis-cut as score distributions drift.

    Exact ``percentile`` by default so results are deterministic and
    engine-portable. Scale shape: the quantile is ONE aggregate — per-key
    partial aggregation map-side, a keys-cardinality-sized result — then a
    broadcast join feeds the threshold back to the full scan; the data
    never shuffles, only its tiny summary does. Exact percentile buffers
    each group's scores in the aggregate, so at extreme per-key cardinality
    (billions of rows per key) pass ``exact=False``: ``percentile_approx``
    keeps a bounded sketch (``accuracy`` relative-error knob) at the cost
    of a threshold that is approximate — and no longer bit-matched by an
    exact SQL oracle.
    """
    keys = list(keys or [])
    if exact:
        thr = F.percentile(F.col(score_col), F.lit(q)).alias("_thr")
    else:
        thr = F.percentile_approx(
            F.col(score_col), F.lit(q), F.lit(accuracy)
        ).alias("_thr")
    if keys:
        joined = df.join(F.broadcast(df.groupBy(*keys).agg(thr)), keys)
    else:
        joined = df.crossJoin(F.broadcast(df.agg(thr)))
    return joined.where(F.col(score_col) >= F.col("_thr")).drop("_thr")
