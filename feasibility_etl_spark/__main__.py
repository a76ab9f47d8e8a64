"""CLI — the reference's one-command job surface, re-expressed.

The reference runs as a single command (``node etl.js``: fetch → decompose
into dims + fact → load). A reference user switches by running::

    python -m feasibility_etl_spark etl   --sf-dir ... --out /path/star
    python -m feasibility_etl_spark query A-WORKLOG --sf-dir ...
    python -m feasibility_etl_spark sql "SELECT count(*) FROM orders" --sf-dir ...
    python -m feasibility_etl_spark list

``etl`` is the §3.2 write path. It derives the wide frame from ``events``
and hands it to :func:`~.writer.denormalized.commit_denormalized`, the
commit the streaming sink uses too: rows with a null required column go to
``_rejected``, the dims' new keys are appended first and the FK-resolved
fact last, so every state a run leaves is FK-consistent. A re-run, after
success or a crash, loads only keys not yet in the fact and keeps the dense
SERIAL-like surrogates, as the reference's INSTEAD OF view insert does
(schema.sql:141-173). The star's tables are read with known schemas, so
none of those reads runs a schema-inference job. It prints the batch's
reject count and the star's cumulative row counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(name: str):
    """build_session, remembering whether we created or joined a session —
    a CLI run owns (and stops) its session; embedded calls (tests, notebooks
    with a live session) must not stop their host's."""
    from pyspark.sql import SparkSession

    from .session import build_session

    reused = SparkSession.getActiveSession() is not None
    return build_session(name), reused


def cmd_etl(args) -> int:
    from pyspark.sql import functions as F

    from .sources.catalog import load
    from .writer.denormalized import DimSpec, commit_denormalized, star_totals

    spark, reused = _session("feasibility-etl")
    ev = load(spark, args.sf_dir, "events")
    # the wide (denormalized) surface — the engine-side analogue of the
    # reference's joined JIRA payload: role-played user columns + a dim name
    wide = ev.select(
        F.col("event_id").alias("key"),
        F.concat(F.lit("user_"), F.col("user_id") % 500).alias("reviewer_name"),
        F.concat(F.lit("user_"), F.col("user_id") % 499).alias("reporter_name"),
        F.upper("event_type").alias("project_name"),
        "ts",
        "value",
    )
    specs = [
        DimSpec(
            name="jira_user",
            natural_key="username",
            roles={"reviewer_name": "fk_reviewer", "reporter_name": "fk_reporter"},
            id_strategy=args.id_strategy,
        ),
        DimSpec(
            name="project",
            natural_key="name",
            roles={"project_name": "fk_project"},
            id_strategy=args.id_strategy,
        ),
    ]
    n_rejected = commit_denormalized(
        wide, specs, args.out, required=["key", "reviewer_name", "project_name"]
    )
    totals = star_totals(wide, specs, args.out)
    summary = {"fact_rows": totals.pop("fact"), "rejected": n_rejected, **totals}
    print(json.dumps(summary))
    if not reused:
        spark.stop()
    return 0


def cmd_query(args) -> int:
    from .driver_queries import ALL_QUERIES

    if args.id not in ALL_QUERIES:
        print(f"unknown query id {args.id!r}; see `list`", file=sys.stderr)
        return 2
    spark, reused = _session(f"query-{args.id}")
    df = ALL_QUERIES[args.id](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        df.show(args.limit, truncate=False)
    if not reused:
        spark.stop()
    return 0


def cmd_sql(args) -> int:
    from .sources.catalog import register_views

    spark, reused = _session("sql")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.sql)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        df.show(args.limit, truncate=False)
    if not reused:
        spark.stop()
    return 0


def cmd_list(args) -> int:
    from .driver_queries import ALL_ORACLES, ALL_QUERIES

    for name in ALL_QUERIES:
        tier = "oracle" if name in ALL_ORACLES else "rows-only"
        print(f"{name}\t{tier}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="feasibility_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("etl", help="full denormalizing write path -> parquet star")
    pe.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    pe.add_argument("--out", required=True)
    pe.add_argument("--id-strategy", choices=["dense", "hash"], default="dense")
    pe.set_defaults(fn=cmd_etl)

    pq = sub.add_parser("query", help="run one registered query")
    pq.add_argument("id")
    pq.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    pq.add_argument("--limit", type=int, default=20)
    pq.add_argument("--out", default=None)
    pq.set_defaults(fn=cmd_query)

    ps = sub.add_parser("sql", help="ad-hoc Spark SQL over the catalog views")
    ps.add_argument("sql")
    ps.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ps.add_argument("--limit", type=int, default=20)
    ps.add_argument("--out", default=None)
    ps.set_defaults(fn=cmd_sql)

    pl = sub.add_parser("list", help="list registered query ids")
    pl.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
