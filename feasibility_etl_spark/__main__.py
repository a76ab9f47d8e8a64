"""CLI — the reference's one-command job surface, re-expressed.

The reference runs as a single command (``node etl.js``: fetch → decompose
into dims + fact → load). A reference user switches by running::

    python -m feasibility_etl_spark etl   --sf-dir ... --out /path/star
    python -m feasibility_etl_spark query A-WORKLOG --sf-dir ...
    python -m feasibility_etl_spark sql "SELECT count(*) FROM orders" --sf-dir ...
    python -m feasibility_etl_spark list

``etl`` is the full §3.2 write path: wide frame → role-played dim
lookup-or-insert + FK-resolved fact increment + NOT-NULL reject isolation
(E-ISOLATE) → parquet star. It is idempotent and incremental: re-runs
anti-join already-loaded fact keys and extend dims in place (dense
SERIAL-like surrogates across runs), exactly the trigger-replacement
semantics the reference's INSTEAD OF view insert has (schema.sql:141-173).
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


def _read_parquet_or_none(spark, path: str):
    """The table at ``path``, or None on a first run (nothing landed yet).

    Only PATH_NOT_FOUND means "first run". Any other failure (a corrupt or
    unreadable table) raises: read as empty, it would restart dense ids at 1
    under an existing fact."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def _read_or_empty(spark, path: str, schema: str):
    df = _read_parquet_or_none(spark, path)
    return spark.createDataFrame([], schema) if df is None else df


def cmd_etl(args) -> int:
    from pyspark.sql import functions as F

    from .sources.catalog import load
    from .writer.denormalized import DimSpec, write_denormalized

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
    dims = {
        "jira_user": _read_or_empty(
            spark, os.path.join(args.out, "jira_user"), "id long, username string"
        ),
        "project": _read_or_empty(
            spark, os.path.join(args.out, "project"), "id long, name string"
        ),
    }
    fact_path = os.path.join(args.out, "fact")
    res = write_denormalized(
        wide, specs, dims, existing_fact=_read_parquet_or_none(spark, fact_path),
        fact_key="key", required=["key", "reviewer_name", "project_name"],
    )
    # fact: plain append (input listing pinned at read; idempotency anti-join
    # keeps re-runs exactly-once). dims: their plans read the files being
    # replaced, so stage → read back → swap (same rule as denormalizing_sink).
    res.fact.write.mode("append").parquet(fact_path)
    n_rej = res.rejected.count()
    if n_rej:
        res.rejected.write.mode("append").parquet(os.path.join(args.out, "_rejected"))
    staging = os.path.join(args.out, "_staging_etl")
    for spec in specs:
        # repartition(1), not coalesce(1): the dim plan is broadcast-join
        # only (no shuffle boundary), so coalesce would serialize it into
        # the single output task
        res.dims[spec.name].repartition(1).write.mode("overwrite").parquet(
            os.path.join(staging, spec.name)
        )
    for spec in specs:
        spark.read.parquet(os.path.join(staging, spec.name)).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.out, spec.name))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(staging)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)

    summary = {
        "fact_rows": spark.read.parquet(fact_path).count(),
        "rejected": n_rej,
        **{
            spec.name: spark.read.parquet(os.path.join(args.out, spec.name)).count()
            for spec in specs
        },
    }
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
