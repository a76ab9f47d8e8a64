"""CLI: the one-command ETL job is idempotent and incremental."""

from __future__ import annotations

import json
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from feasibility_etl_spark.__main__ import main
from feasibility_etl_spark.sources.catalog import load
from feasibility_etl_spark.writer.denormalized import audit_dim_collisions

from conftest import SF0001


def test_etl_cli_idempotent_rerun(spark, tmp_path, capsys):
    out = str(tmp_path / "star")
    assert main(["etl", "--sf-dir", SF0001, "--out", out]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["fact_rows"] > 0
    assert first["jira_user"] > 0 and first["project"] > 0

    # re-run: same input -> no new fact rows, dims unchanged (exactly-once)
    assert main(["etl", "--sf-dir", SF0001, "--out", out]) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second == first

    # FK integrity: every fact FK resolves in its dim
    fact = spark.read.parquet(out + "/fact")
    users = spark.read.parquet(out + "/jira_user")
    n_bad = (
        fact.join(users, fact["fk_reviewer"] == users["id"], "left_anti").count()
    )
    assert n_bad == 0


def test_query_and_list_commands(tmp_path, capsys):
    assert main(["list"]) == 0
    ids = [l.split("\t")[0] for l in capsys.readouterr().out.splitlines()]
    assert "A-WORKLOG" in ids

    outp = str(tmp_path / "q")
    assert main(["query", "A-COUNT", "--sf-dir", SF0001, "--out", outp]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == 1


def test_sql_command(spark, tmp_path, capsys):
    outp = str(tmp_path / "sqlout")
    assert main([
        "sql",
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1",
        "--sf-dir", SF0001, "--out", outp,
    ]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == 3


def test_etl_cli_fails_loudly_on_corrupt_dim(spark, tmp_path):
    """Only a missing table means "first run": a corrupt dim read as empty
    would restart dense ids at 1 under the existing fact's FKs."""
    out = tmp_path / "star"
    assert main(["etl", "--sf-dir", SF0001, "--out", str(out)]) == 0

    def fact_files():
        return sorted((p.name, p.stat().st_size) for p in (out / "fact").iterdir())

    fact_before = fact_files()
    (dim_file,) = (out / "jira_user").glob("part-*.parquet")
    dim_file.write_bytes(b"not a parquet file" * 64)
    dim_file.with_name(f".{dim_file.name}.crc").unlink()  # garbage, not a checksum miss

    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        main(["etl", "--sf-dir", SF0001, "--out", str(out)])
    assert fact_files() == fact_before


def valid_keys(spark, sf_dir):
    """Distinct event ids whose star columns (key, users, event type) are
    all non-null: what the fact must hold after every batch of ``sf_dir``."""
    ev = load(spark, sf_dir, "events")
    ok = F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    ok &= F.col("event_type").isNotNull()
    return ev.where(ok).select("event_id").distinct().count()


def assert_star_consistent(spark, out, expect_rows):
    """Fact rows = distinct valid keys, each key once, every FK resolves to
    a dim row, and neither dim holds a colliding id or key."""
    fact = spark.read.parquet(f"{out}/fact")
    users = spark.read.parquet(f"{out}/jira_user")
    projects = spark.read.parquet(f"{out}/project")
    got = fact.agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("key").alias("keys")).first()
    assert (got["rows"], got["keys"]) == (expect_rows, expect_rows)
    for fk, dim in (("fk_reviewer", users), ("fk_reporter", users), ("fk_project", projects)):
        assert fact.where(F.col(fk).isNull()).count() == 0, fk
        assert fact.join(dim, fact[fk] == dim["id"], "left_anti").count() == 0, fk
    audit_dim_collisions(users, "username")
    audit_dim_collisions(projects, "name")


def test_etl_cli_rerun_repairs_crash_before_fact_append(spark, tmp_path, monkeypatch):
    """Dims commit before the fact: a batch that dies after its dim appends
    leaves a star whose FKs all resolve, and re-running it loads each key
    once against the ids the dims already hold."""
    first_half = str(tmp_path / "b0")
    load(spark, SF0001, "events").where(F.col("user_id") % 2 == 0).write.parquet(
        os.path.join(first_half, "events.parquet")
    )
    out = tmp_path / "star"
    assert main(["etl", "--sf-dir", first_half, "--out", str(out)]) == 0
    before = {d: spark.read.parquet(str(out / d)).count() for d in ("fact", "jira_user")}

    write_parquet = DataFrameWriter.parquet

    def crash_on_fact(self, path, *args, **kwargs):
        if os.path.basename(path) == "fact":
            raise RuntimeError("injected crash before the fact append")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_fact)
    with pytest.raises(RuntimeError, match="injected crash"):
        main(["etl", "--sf-dir", SF0001, "--out", str(out)])
    monkeypatch.undo()
    # the dims took the whole batch's new keys; the fact is the first half's
    assert spark.read.parquet(str(out / "jira_user")).count() > before["jira_user"]
    assert_star_consistent(spark, str(out), before["fact"])

    assert main(["etl", "--sf-dir", SF0001, "--out", str(out)]) == 0
    assert_star_consistent(spark, str(out), valid_keys(spark, SF0001))


def test_etl_cli_repairs_first_run_left_in_temporary(spark, tmp_path, capsys):
    """A first run that died inside the fact append leaves ``fact/``
    holding only the committer's ``_temporary/``: the re-run loads the
    batch instead of failing to infer the fact's schema."""
    out = tmp_path / "star"
    attempt = out / "fact" / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.snappy.parquet").write_bytes(b"half a parquet file")

    assert main(["etl", "--sf-dir", SF0001, "--out", str(out)]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = valid_keys(spark, SF0001)
    assert summary["fact_rows"] == n
    assert_star_consistent(spark, str(out), n)
