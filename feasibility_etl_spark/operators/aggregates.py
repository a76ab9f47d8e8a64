"""Aggregation operators (SURVEY.md §2.4).

All reference aggregations are sums/counts computed imperatively in JS; here
they are native Spark aggregations with the reference's null-semantics
preserved exactly:

- ``worklog_rollup`` — null (NOT zero/empty) when the input array is empty
  (/root/reference/lib/helpers.js:115-117);
- ``linked_total`` — 0 (NOT null) when nothing contributes
  (helpers.js:247-256);
- ``horizontal_sum`` — null→0 coalescing + hours→seconds conversion that
  also rewrites the source columns in the same pass (helpers.js:264-289:
  the in-place mutation at :281 is visible in the output table).

Two routes exist for the nested rollup: the **nested route** (higher-order
functions over an array column — no shuffle at all, the rollup happens
row-local inside codegen) and the **relational route** (explode → groupBy —
shuffles on the group key but combines map-side). At 100 TB, prefer the
nested route when data already arrives nested; the relational route when the
detail lives in its own table (it then fuses with the J-ATTACH shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def worklog_rollup(entries: Column | str, timespent_field: str = "timespent") -> Column:
    """Nested-route A-WORKLOG: array<struct> → struct{worklog, total}.

    ``total = sum(entry.timespent)``; the whole struct is **null when the
    array is null or empty** (helpers.js:115-117), not ``{worklog: [],
    total: 0}`` — callers downstream (F-DELTA) rely on the null.
    """
    c = F.col(entries) if isinstance(entries, str) else entries
    total = F.aggregate(
        c, F.lit(0).cast("long"), lambda acc, x: acc + F.coalesce(x[timespent_field], F.lit(0))
    )
    return F.when(c.isNull() | (F.size(c) == 0), F.lit(None)).otherwise(
        F.struct(c.alias("worklog"), total.alias("total"))
    )


def linked_total(links: Column | str, total_path: str = "worklog.total") -> Column:
    """A-LINKED: sum of ``link.worklog.total`` over a map's values, null-skipped.

    0 (not null) when the map is null/empty or no link contributes —
    helpers.js:247-256 starts from ``total = 0`` and only adds non-null
    worklogs. Pure HOF: no shuffle, runs row-local.
    """
    c = F.col(links) if isinstance(links, str) else links
    field = total_path.split(".")
    def get(x: Column) -> Column:
        out = x
        for p in field:
            out = out[p]
        return out
    return F.aggregate(
        F.map_values(F.coalesce(c, F.create_map())),
        F.lit(0).cast("double"),
        lambda acc, x: acc + F.coalesce(get(x).cast("double"), F.lit(0.0)),
    )


def horizontal_sum(
    df: DataFrame,
    cols: Sequence[str],
    total_col: str,
    convert: bool = True,
) -> DataFrame:
    """A-HSUM: total = Σ coalesce(col, 0) [× 3600], rewriting each source col.

    Faithful to helpers.js:264-289 including the visible in-place mutation:
    the estimate columns come out converted to seconds (testing.sql inserts
    confirm callers see converted values). One projection, no shuffle.
    """
    factor = F.lit(3600.0) if convert else F.lit(1.0)
    converted = {c: F.coalesce(F.col(c).cast("double"), F.lit(0.0)) * factor for c in cols}
    total = None
    for c in cols:
        total = converted[c] if total is None else total + converted[c]
    # one simultaneous projection: every expression resolves against the
    # ORIGINAL columns (a sequential withColumn chain would convert twice)
    return df.withColumns({**converted, total_col: total})


def multilevel_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    mode: str = "rollup",
    gid_col: str = "gid",
) -> DataFrame:
    """OLAP multi-level aggregation: ROLLUP / CUBE / plain GROUPING SETS
    levels in ONE pass, tagged with ``grouping_id``.

    ``mode='rollup'`` produces the hierarchy prefixes (k1,k2), (k1), ();
    ``mode='cube'`` every key subset. ``gid_col`` carries
    ``F.grouping_id()`` (bitmask, first key = MSB — the same convention as
    DuckDB/Postgres ``GROUPING(...)``) so subtotal rows are
    distinguishable from genuine-NULL key rows.

    Scale shape: Catalyst plans one scan + one Expand (one branch per
    grouping set) + ONE partial/final hash aggregate — the shuffle carries
    (#groups × #sets) pre-combined rows, not input×sets; vs running N
    separate groupBys this reads and shuffles the fact exactly once. For
    high-cardinality leaf keys at 100 TB prefer ``mode='rollup'`` (N+1
    sets) over cube's 2^N.
    """
    if mode == "rollup":
        grouped = df.rollup(*keys)
    elif mode == "cube":
        grouped = df.cube(*keys)
    else:
        raise ValueError(f"mode must be 'rollup' or 'cube', got {mode!r}")
    return grouped.agg(F.grouping_id().cast("long").alias(gid_col), *aggs)


def pivot_agg(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Wide pivot with EXPLICIT pivot values — the 100 TB form.

    ``df.groupBy().pivot(col)`` without a value list first runs a full
    distinct scan just to learn the column headers; passing
    ``pivot_values`` makes the pivot a single conditional-aggregation
    pass (one shuffle, map-side partials), and fixes the output schema
    regardless of which values a given partition of data happens to
    contain. Cells with no contributing rows are NULL (not 0) — the
    SQL FILTER-aggregate convention."""
    return df.groupBy(*keys).pivot(pivot_col, list(pivot_values)).agg(*aggs)


def unpivot_groups(
    df: DataFrame,
    ids: Sequence[str],
    groups: dict[str, Sequence[str]],
    var_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Unpivot grouped wide columns back to long rows via ``stack`` —
    the multi-measure melt (``DataFrame.unpivot`` handles one measure
    per variable; a pivot built with k aggs needs k values per emitted
    row). ``groups`` maps each output label to its wide columns, in
    ``value_cols`` order::

        unpivot_groups(piv, ["k"], {"F": ["F_n", "F_c"],
                                    "O": ["O_n", "O_c"]},
                       "status", ["n", "cents"])

    Pure per-row projection — zero shuffle; rows where every measure is
    NULL (a pivot cell no data reached) are dropped, restoring GROUP BY
    semantics on the round trip."""
    parts = []
    for label, cols in groups.items():
        quoted = "'" + label.replace("'", "\\'") + "'"
        parts.append(", ".join([quoted, *cols]))
    expr = (
        f"stack({len(groups)}, "
        + ", ".join(parts)
        + f") as ({var_col}, "
        + ", ".join(value_cols)
        + ")"
    )
    out = df.select(*ids, F.expr(expr))
    keep = None
    for c in value_cols:
        cond = F.col(c).isNotNull()
        keep = cond if keep is None else keep | cond
    return out.where(keep) if keep is not None else out
