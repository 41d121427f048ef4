"""Iceberg deployment config (jobs/iceberg.py): the parquet->Iceberg swap
artifacts are code, so they parse and carry the layout SURVEY §1.3/§4
demands — validated here without an Iceberg runtime (none in the sandbox)."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from textractssmlprocessor_spark.jobs.iceberg import (
    chunks_table_ddl,
    iceberg_submit_args,
    iceberg_submit_args_shell,
    iceberg_submit_conf,
    pages_table_ddl,
)


def test_submit_conf_registers_catalog_and_extensions():
    conf = iceberg_submit_conf("lake", "s3://bucket/wh")
    assert conf["spark.sql.extensions"].endswith("IcebergSparkSessionExtensions")
    assert conf["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.lake.type"] == "hadoop"
    assert conf["spark.sql.catalog.lake.warehouse"] == "s3://bucket/wh"
    # rest catalogs take a URI, not a warehouse path
    rest = iceberg_submit_conf("lake", "https://cat.example/api", "rest")
    assert rest["spark.sql.catalog.lake.uri"] == "https://cat.example/api"
    assert "spark.sql.catalog.lake.warehouse" not in rest
    with pytest.raises(ValueError):
        iceberg_submit_conf("lake", "x", "glue-typo")


def test_submit_args_parse_back_to_the_conf():
    """The argv form must round-trip: every pair is ('--conf', 'k=v') and
    the parsed map equals the dict form — the config-parse gate."""
    args = iceberg_submit_args("lake", "/warehouse")
    assert len(args) % 2 == 0
    parsed = {}
    for flag, kv in zip(args[::2], args[1::2]):
        assert flag == "--conf"
        k, _, v = kv.partition("=")
        assert v, kv
        parsed[k] = v
    assert parsed == iceberg_submit_conf("lake", "/warehouse")
    # shell rendering contains exactly the same pairs
    shell = iceberg_submit_args_shell("lake", "/warehouse")
    assert shell.split(" ") == args


def test_pages_ddl_carries_hidden_partitioning():
    ddl = pages_table_ddl("lake.crawl.pages", url_buckets=512)
    assert "USING iceberg" in ddl
    # the input_hint schema, all five columns
    for col in ("url", "warc_ts", "html", "text", "lang"):
        assert re.search(rf"^\s+{col}\s", ddl, re.M), col
    # hidden partitioning: crawl-day pruning + url bucketing
    assert "PARTITIONED BY (days(warc_ts), bucket(512, url))" in ddl
    # chunks sink aligns on the SAME bucket function for SPJ lineage joins
    cddl = chunks_table_ddl("lake.crawl.chunks", url_buckets=512)
    assert "bucket(512, url)" in cddl
    assert "chunk_index" in cddl


def test_extract_job_flag_injects_conf(tmp_path):
    """--iceberg-catalog/--iceberg-warehouse on extract_job must inject
    exactly iceberg_submit_conf into the builder (checked by parsing the
    job source — the job runs spark-submit-side, not importable here
    without building a session)."""
    import inspect

    from textractssmlprocessor_spark.jobs import extract_job

    src = inspect.getsource(extract_job.main)
    assert "--iceberg-catalog" in src and "--iceberg-warehouse" in src
    assert "iceberg_submit_conf" in src


@pytest.mark.parametrize("flag", ["--output", "--lineage"])
def test_extract_job_rejects_table_identifier_sinks(tmp_path, flag):
    """run_with_lineage writes parquet directories, so a catalog table name
    as a sink must stop the job with a clear error before any Spark work,
    not become a relative directory named after the table."""
    from textractssmlprocessor_spark.jobs import extract_job

    args = {
        "--input": str(tmp_path / "pages.parquet"),
        "--output": str(tmp_path / "chunks"),
        "--lineage": str(tmp_path / "lineage.parquet"),
        flag: "lake.crawl.sink",
    }
    proc = subprocess.run(
        [sys.executable, extract_job.__file__, *[x for kv in args.items() for x in kv]],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert f"{flag} 'lake.crawl.sink' is not a filesystem path" in proc.stderr
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize(
    "given, missing",
    [
        (("--iceberg-catalog", "lake"), "--iceberg-warehouse"),
        (("--iceberg-warehouse", "s3://bucket/wh"), "--iceberg-catalog"),
    ],
)
def test_extract_job_rejects_half_configured_iceberg_catalog(
    tmp_path, given, missing
):
    """The catalog is registered only with both Iceberg flags, so one flag
    alone must stop the job naming the missing one, before any Spark work,
    instead of being silently ignored."""
    from textractssmlprocessor_spark.jobs import extract_job

    proc = subprocess.run(
        [
            sys.executable, extract_job.__file__,
            "--input", str(tmp_path / "pages.parquet"),
            "--output", str(tmp_path / "chunks"),
            "--lineage", str(tmp_path / "lineage.parquet"),
            *given,
        ],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert f"{given[0]} needs {missing}" in proc.stderr
    assert os.listdir(tmp_path) == []


GOLDENS = "goldens/iceberg"


def _golden(name: str) -> str:
    with open(f"{GOLDENS}/{name}", encoding="utf-8") as f:
        return f.read()


def test_ddl_and_conf_byte_goldens():
    """The deployment artifacts are byte-pinned: a regression in DDL/conf
    generation (lost bucket transform, drifted table property) fails here
    even though no Iceberg runtime exists to execute them. Regenerate the
    goldens/iceberg/ files deliberately when the spec changes."""
    assert pages_table_ddl("lake.crawl.pages") == _golden("pages_ddl.sql")
    assert chunks_table_ddl("lake.crawl.chunks") == _golden("chunks_ddl.sql")
    assert iceberg_submit_args_shell("lake", "s3://bucket/wh") == _golden(
        "submit_hadoop.conf"
    )
    assert iceberg_submit_args_shell(
        "lake", "https://cat.example/api", "rest"
    ) == _golden("submit_rest.conf")


def test_ddl_parses_as_spark_sql(spark):
    """Stronger than a byte pin: Spark's own SQL parser accepts both DDLs
    (DataSource-v2 partition-transform syntax — days()/bucket() — parses
    without the Iceberg extension; only execution needs the catalog). A
    typo that still matches the golden regenerator would die here."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    for ddl in (
        pages_table_ddl("lake.crawl.pages"),
        chunks_table_ddl("lake.crawl.chunks"),
    ):
        parser.parsePlan(ddl)  # raises ParseException on invalid SQL
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
        parser.parsePlan("CREATE TABLE broken ( USING iceberg")
