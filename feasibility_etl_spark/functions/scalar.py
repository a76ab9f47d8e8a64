"""Scalar function layer (SURVEY.md §2.6) — pure Column expressions.

Every helper the reference implements as a JS function
(/root/reference/lib/helpers.js:13-22 export list) maps to a native Column
expression here. Zero Python UDFs: these all stay inside Catalyst and
whole-stage codegen, so they vectorize and fold like built-ins.

Semantic quirks preserved on purpose (SURVEY.md §7.5):
- ``delta_pair`` treats **0 as missing** — the reference's falsy guard
  (helpers.js:314) nulls both outputs when either operand is null OR zero.
- ``hrs_to_sec`` coalesces null→0 before converting (helpers.js:278).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


NAN = float("nan")
INF = float("inf")


def pct_change_abs(old: Column | str, new: Column | str) -> Column:
    """Absolute percent change: ``abs((new - old) / abs(old) * 100)``.

    Mirrors helpers.js:234-240 (F-PCTCHG) including the JS IEEE edge: old=0
    yields Infinity (NaN when both are 0). The edge is encoded explicitly
    because Spark 4 runs ANSI mode by default, where a bare ``/ 0`` throws —
    the guard keeps the operator correct under any session config.
    """
    old_d, new_d = _c(old).cast("double"), _c(new).cast("double")
    return F.when(
        old_d == 0, F.when(new_d == 0, F.lit(NAN)).otherwise(F.lit(INF))
    ).otherwise(F.abs((new_d - old_d) / F.abs(old_d) * F.lit(100.0)))


def pct_diff(v1: Column | str, v2: Column | str) -> Column:
    """Symmetric percent difference: ``((v1 - v2) / ((v1 + v2) / 2)) * 100``.

    Mirrors helpers.js:296-302 (F-PCTDIFF; private helper used by F-DELTA),
    including the JS IEEE edges at v1+v2=0 (±Infinity by numerator sign, NaN
    at 0/0) — explicit for ANSI-mode safety, as above.
    """
    a, b = _c(v1).cast("double"), _c(v2).cast("double")
    return F.when(
        a + b == 0,
        F.when(a == b, F.lit(NAN)).when(a > b, F.lit(INF)).otherwise(F.lit(-INF)),
    ).otherwise((a - b) / ((a + b) / F.lit(2.0)) * F.lit(100.0))


def delta_pair(estimate: Column | str, actual: Column | str) -> tuple[Column, Column]:
    """(delta, delta_percentage) with the reference's falsy-zero rule.

    Mirrors helpers.js:309-321 (F-DELTA): both outputs are NULL when either
    operand is NULL **or 0** (JS falsy check at helpers.js:314 — the ``== 0``
    arms are load-bearing, not an accident). Positive delta = overestimate
    (helpers.js:318).
    """
    est, act = _c(estimate).cast("double"), _c(actual).cast("double")
    missing = est.isNull() | (est == 0) | act.isNull() | (act == 0)
    delta = F.when(missing, F.lit(None).cast("double")).otherwise(est - act)
    delta_pct = F.when(missing, F.lit(None).cast("double")).otherwise(pct_diff(est, act))
    return delta, delta_pct


def hrs_to_sec(col: Column | str) -> Column:
    """Hours → seconds with null→0 coalescing: ``coalesce(x, 0) * 3600``.

    Mirrors helpers.js:278 (F-HRS2SEC, part of the A-HSUM pass). JS ``|| 0``
    also maps 0→0, so plain COALESCE is semantically identical here.
    """
    return F.coalesce(_c(col).cast("double"), F.lit(0.0)) * F.lit(3600.0)


#: JIRA ISO-8601 timestamp format with 4-digit offset, e.g.
#: ``2015-06-12T17:16:51.263+0000`` (reference sample: testing.sql:43).
JIRA_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSZ"


def jira_ts(col: Column | str) -> Column:
    """Parse a JIRA ISO-8601 string into a session-TZ timestamp (F-TS-PARSE).

    Matches the ingest at etl.js:135-136 landing in ``timestamptz`` columns
    (schema.sql:37-38).
    """
    return F.to_timestamp(_c(col), JIRA_TS_FORMAT)
