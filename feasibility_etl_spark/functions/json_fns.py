"""Typed nested-JSON schemas for F-FROMJSON/F-TOJSON.

The reference keeps two nested shapes in flight and stringifies them only at
the sink (/root/reference/etl.js:296-297). The engine keeps them as typed
Spark structs internally (columnar, prunable, HOF-addressable) and converts
with ``to_json``/``from_json`` only at string boundaries.

Shapes from etl.js:127-190 + helpers.js:114-136, concrete sample
testing.sql:43-44 (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: ``{worklog: [{author, timespent, unit, id}...], total}`` — null (not
#: empty) when the issue has no worklog entries (helpers.js:115-117).
WORKLOG_TYPE = T.StructType(
    [
        T.StructField(
            "worklog",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("author", T.StringType()),
                        T.StructField("timespent", T.LongType()),
                        T.StructField("unit", T.StringType()),
                        T.StructField("id", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("total", T.LongType()),
    ]
)

#: ``{linkedKey: {summary, status, issuetype, worklog, reviewer, reporter,
#: project, created, resolution, resolution date}}`` — null when the issue
#: has no type-10211 links (etl.js:147).
ISSUE_LINKS_TYPE = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField("summary", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("issuetype", T.StringType()),
            T.StructField("worklog", WORKLOG_TYPE),
            T.StructField("reviewer", T.StringType()),
            T.StructField("reporter", T.StringType()),
            T.StructField("project", T.StringType()),
            T.StructField("created", T.StringType()),
            T.StructField("resolution", T.StringType()),
            T.StructField("resolution date", T.StringType()),
        ]
    ),
)
