"""spark-submit entrypoint for the extraction pipeline.

    spark-submit --py-files textractssmlprocessor_spark.zip \
        textractssmlprocessor_spark/jobs/extract_job.py \
        --input  <pages parquet/iceberg path> \
        --output <chunks output path> \
        --lineage <lineage table path> \
        [--languages en,la] [--buckets 4096] [--partitions 16384]

``--output`` and ``--lineage`` are filesystem paths (parquet directories;
a name with no '/' that does not end in .parquet is rejected): the input
may be an Iceberg table, the sinks may not.

Resumable: reruns skip buckets recorded as done in the lineage table. The
done set is read once onto the driver, and the input is filtered to the
remaining buckets before the salted shuffle; a first run (no lineage table)
goes straight from the scan to the extraction and its write. Designed for multi-executor clusters; the same code runs unchanged
on local[N].

A full run writes at most lcm(--buckets, --partitions) output files (the
salt and the bucket are the same url hash; see
``operators.extract.salted_repartition``). Make one a multiple of the
other: --partitions unset means 256 salt partitions, and 4096 buckets
then get one writer each (4096 files).
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _setup_paths() -> None:
    """Direct `python .../jobs/extract_job.py` puts jobs/ (not the repo root)
    on sys.path; spark-submit --py-files provides the package zip instead.
    Make both work — and export PYTHONPATH so the JVM-spawned Python WORKERS
    (which do not inherit driver sys.path mutations) can unpickle the pandas
    UDFs. Called only from script entry, never at import time: importing this
    module for tests/tools must not mutate process-global state."""
    sys.path.insert(0, _REPO_ROOT)
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def main() -> None:
    _setup_paths()
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--languages", default=None)
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument(
        "--input-format", default=None, choices=["iceberg", "parquet", "warc"],
        help="inferred from --input when omitted (existing path or "
        "*.parquet -> parquet, identifier -> iceberg table); 'warc' reads "
        "raw Common Crawl segments via sources.read_warc",
    )
    p.add_argument(
        "--iceberg-catalog", default=None,
        help="register this Iceberg catalog name on the session (with "
        "--iceberg-warehouse) — the parquet->Iceberg swap as a flag; "
        "equivalent to passing jobs.iceberg.iceberg_submit_args to "
        "spark-submit",
    )
    p.add_argument("--iceberg-warehouse", default=None,
                   help="warehouse path (hadoop/hive) or URI (rest)")
    p.add_argument("--iceberg-catalog-impl", default="hadoop",
                   choices=["hadoop", "hive", "rest"])
    args = p.parse_args()
    if bool(args.iceberg_catalog) != bool(args.iceberg_warehouse):
        given, missing = (
            ("--iceberg-catalog", "--iceberg-warehouse")
            if args.iceberg_catalog
            else ("--iceberg-warehouse", "--iceberg-catalog")
        )
        p.error(f"{given} needs {missing}: the catalog is registered only "
                "with both set")
    from textractssmlprocessor_spark.sources import is_path

    for flag, value in (("--output", args.output), ("--lineage", args.lineage)):
        if not is_path(value):
            p.error(
                f"{flag} {value!r} is not a filesystem path: the chunks and "
                "lineage tables are parquet directories, so give a path "
                "containing '/' or ending in .parquet (a catalog table "
                "identifier is not supported here)"
            )
    # bare relative dirs (no '/' or suffix) are still parquet if they exist
    # on the local filesystem — don't surprise users with an Iceberg error
    input_format = args.input_format
    if input_format is None and os.path.exists(args.input):
        input_format = "parquet"

    from pyspark.sql import SparkSession

    from textractssmlprocessor_spark import lineage as L
    from textractssmlprocessor_spark.session import ENGINE_CONF
    from textractssmlprocessor_spark.sources import read_pages, read_warc

    builder = SparkSession.builder.appName("extract-webtext").config(
        map=ENGINE_CONF
    )
    if args.partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.partitions))
    if args.iceberg_catalog:
        from textractssmlprocessor_spark.jobs.iceberg import iceberg_submit_conf

        for k, v in iceberg_submit_conf(
            args.iceberg_catalog, args.iceberg_warehouse,
            args.iceberg_catalog_impl,
        ).items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()

    if input_format == "warc":
        pages = read_warc(spark, args.input)
    else:
        pages = read_pages(spark, args.input, format=input_format)
    langs = args.languages.split(",") if args.languages else None
    metrics: dict = {}
    L.run_with_lineage(
        pages,
        spark,
        output_path=args.output,
        lineage_path=args.lineage,
        n_buckets=args.buckets,
        languages=langs,
        num_partitions=args.partitions,
        metrics_out=metrics,
    )
    # observed during the write action itself — no post-hoc count() pass
    print(f"extract_run metrics: {metrics}")
    spark.stop()


if __name__ == "__main__":
    main()
