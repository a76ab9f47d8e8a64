"""CLI: the one-command ETL job is idempotent and incremental."""

from __future__ import annotations

import json

import pytest
from py4j.protocol import Py4JJavaError

from feasibility_etl_spark.__main__ import main

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
