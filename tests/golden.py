"""The reference's 5 golden wide rows (testing.sql:39-80), as Spark fixtures.

These are the exact denormalized rows the reference inserts through
``v_feasibility`` to exercise the trigger decomposition — values verbatim
(they are arbitrary test values, not derived metrics). 4 distinct users
role-played as reviewer/reporter + 4 distinct projects pin the
lookup-or-insert and double role-play behavior.

Also the pure-Python reference models that more than one test compares
the engine's Python-stage operators against.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

WIDE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("summary", T.StringType(), False),
        T.StructField("reviewer_name", T.StringType(), False),
        T.StructField("reporter_name", T.StringType(), False),
        T.StructField("project_name", T.StringType(), False),
        T.StructField("created", T.TimestampType(), False),
        T.StructField("resolution_date", T.TimestampType()),
        T.StructField("design_estimate", T.DoubleType()),
        T.StructField("development_estimate", T.DoubleType(), False),
        T.StructField("development_pad_estimate", T.DoubleType()),
        T.StructField("pe_estimate", T.DoubleType()),
        T.StructField("pm_estimate", T.DoubleType()),
        T.StructField("qa_estimate", T.DoubleType()),
        T.StructField("issue_links", T.StringType()),
        T.StructField("worklog", T.StringType()),
        T.StructField("feasibility_timespent", T.DoubleType()),
        T.StructField("issue_links_timespent", T.DoubleType()),
        T.StructField("feasibility_estimate_total", T.DoubleType()),
        T.StructField("delta_percentage", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
    ]
)

_EST = (1.2, 2.0, 1.0, 1.5, 1.0, 1.5)

INSERT1_LINKS = (
    '{"PROJECT1-1254":{"summary":"Test Task A","status":"To Do","issuetype":"Task",'
    '"worklog":{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"111111"},'
    '{"author":"user1","timespent":60,"unit":"seconds","id":"111112"},'
    '{"author":"user1","timespent":60,"unit":"seconds","id":"111113"}],"total":180},'
    '"reporter":"user2","project":"PROJECT1","created":"2015-06-12T17:16:51.263+0000",'
    '"resolution":null,"resolution date":null}}'
)
INSERT1_WORKLOG = (
    '{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"111114"}],"total":60}'
)
INSERT4_WORKLOG = (
    '{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"11115"}],"total":60}'
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


GOLDEN_ROWS = [
    # Insert 1 (testing.sql:39-44): full nested case
    ("PROJECT1-1090", "Test Feasibility A", "user1", "user1", "PROJECT1",
     _ts("1999-01-08 04:05:06"), _ts("1999-02-08 04:05:06"), *_EST,
     INSERT1_LINKS, INSERT1_WORKLOG, 3600.0, 10800.0, 29520.0, 198.02, 234.0),
    # Insert 2 (testing.sql:49-53): null nested fields
    ("PROJECT2-123", "Test Feasibility B", "user2", "user1", "PROJECT2",
     _ts("2014-01-08 04:05:06"), _ts("2014-02-08 04:05:06"), *_EST,
     None, None, 29520.0, 10800.0, 3600.0, 98.2454, 12453.0),
    # Insert 3 (testing.sql:58-62): null nested + null delta pair
    ("PROJECT5-1999", "Test Feasibility C", "user4", "user3", "PROJECT5",
     _ts("2014-01-08 04:05:06"), _ts("2014-02-08 04:05:06"), *_EST,
     None, None, 29520.0, 10800.0, 3600.0, None, None),
    # Insert 4 (testing.sql:67-71): worklog without links
    ("PROJECT5-2000", "Test Feasibility D", "user2", "user4", "PROJECT5",
     _ts("2014-01-08 04:05:06"), _ts("2014-02-08 04:05:06"), *_EST,
     None, INSERT4_WORKLOG, 13213.0, 2515.0, 57415.0, 124.2454, 777.0),
    # Insert 5 (testing.sql:76-80): second null-delta variant
    ("PROJECT4-342", "Test Feasibility E", "user1", "user2", "PROJECT4",
     _ts("2014-01-08 04:05:06"), _ts("2014-02-08 04:05:06"), *_EST,
     None, None, 9879.0, 987842.0, 121.0, None, None),
]


def golden_wide_df(spark):
    return spark.createDataFrame(GOLDEN_ROWS, WIDE_SCHEMA)


def py_winnow(text: str, k: int = 8, w: int = 4) -> set[int]:
    """Direct Python model of SWA winnowing with the engine's constants
    (text.py WINNOW_BASE/WINNOW_MOD, rolling hash Σ code·B^j mod M)."""
    B, M = 31, 1_000_000_007
    s = text.lower()
    if len(s) < k:
        return set()
    pows = [pow(B, j, M) for j in range(k)]
    hashes = [
        sum(ord(s[i + j]) * pows[j] for j in range(k)) % M
        for i in range(len(s) - k + 1)
    ]
    if len(hashes) < w:
        return {min(hashes)}
    return {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}


def py_winnow_rows(rows) -> set[tuple[int, int]]:
    """``(doc_id, fp)`` set of :func:`py_winnow` over ``(doc_id, text)``
    rows; null text has no fingerprints."""
    return {(i, fp) for i, t in rows if t is not None for fp in py_winnow(t)}


def encode_text_model(docs, encode_word) -> dict[int, tuple[str, int]]:
    """Text-grain tokenizer reference: ``{doc_id: (pieces joined by ' ',
    n_pieces)}``. Words come from Spark's own ``tokens(lower(trim(text)))``
    (JVM lowering, Java's ASCII ``\\s``), each encoded on the driver by
    ``encode_word`` — the per-word encoder the Arrow stage applies after
    its Python-side whitespace split."""
    from feasibility_etl_spark.operators.text import tokens

    out = {}
    for r in docs.select(
        "doc_id", tokens(F.lower(F.trim("text"))).alias("words")
    ).collect():
        pieces = [p for w in r.words or [] for p in encode_word(w)]
        out[r.doc_id] = (" ".join(pieces), len(pieces))
    return out
