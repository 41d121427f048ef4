"""Iceberg deployment config: the parquet -> Iceberg swap as pure config.

This sandbox has no Iceberg catalog, so the engine's tests and benches
read parquet and SIMULATE the bucketed layout (BENCH/BASELINE.md
"prebucketed" series). On a real lakehouse nothing in the operator code
changes — ``sources.read_pages`` / ``write_pages`` already dispatch on
``format="iceberg"`` — the swap is exactly three deployment artifacts,
all defined here so they are testable instead of living in a wiki:

1. ``iceberg_submit_args(...)``: the ``--conf`` stanza registering the
   catalog and the Iceberg SQL extensions on spark-submit.
2. ``pages_table_ddl(...)``: the source-table spec with HIDDEN
   partitioning — ``days(warc_ts)`` for time-range pruning of crawl
   snapshots and ``bucket(N, url)`` so url-keyed joins/dedup co-locate
   without a repartition (SURVEY §1.3/§4 target layout).
3. ``chunks_table_ddl(...)``: the sink spec, same bucket function so the
   chunks align with their source pages for lineage joins.

Typical launch (the documented stanza, also in jobs/README.md). The
engine needs Spark 4.1+ (``DataFrame.repartitionById``), so ``--packages``
must name an ``iceberg-spark-runtime`` built for that Spark line and
Scala 2.13; a Spark 3.5 / Scala 2.12 runtime does not load:

    spark-submit \\
      --packages org.apache.iceberg:iceberg-spark-runtime-<spark>_<scala>:<version> \\
      $(python -c "from textractssmlprocessor_spark.jobs.iceberg import \\
                   iceberg_submit_args_shell; \\
                   print(iceberg_submit_args_shell('lake', 's3://bucket/wh'))") \\
      --py-files textractssmlprocessor_spark.zip \\
      textractssmlprocessor_spark/jobs/extract_job.py \\
      --input lake.crawl.pages --input-format iceberg \\
      --output s3://bucket/crawl/chunks --lineage s3://bucket/crawl/lineage

Only the INPUT may be an Iceberg table. ``--output`` and ``--lineage`` are
filesystem paths: ``run_with_lineage`` writes both as parquet directories
(chunks by dynamic per-bucket overwrite, lineage rows by append), and
``extract_job`` rejects a sink name that is not a path (no '/' and no
``.parquet`` suffix) rather than let a table identifier become a relative
directory. ``chunks_table_ddl`` specifies an Iceberg sink table; nothing in
the extraction writes to it yet.
"""

from __future__ import annotations

DEFAULT_URL_BUCKETS = 1024


def iceberg_submit_conf(
    catalog: str, warehouse: str, catalog_impl: str = "hadoop"
) -> dict[str, str]:
    """The spark conf map that turns a stock Spark session into one that
    resolves ``<catalog>.<db>.<table>`` identifiers against an Iceberg
    catalog. ``catalog_impl``: 'hadoop' (warehouse = filesystem/objstore
    path), 'hive', or 'rest' (warehouse = catalog URI)."""
    if catalog_impl not in ("hadoop", "hive", "rest"):
        raise ValueError(f"unknown catalog_impl: {catalog_impl!r}")
    conf = {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": catalog_impl,
    }
    if catalog_impl == "rest":
        conf[f"spark.sql.catalog.{catalog}.uri"] = warehouse
    else:
        conf[f"spark.sql.catalog.{catalog}.warehouse"] = warehouse
    return conf


def iceberg_submit_args(
    catalog: str, warehouse: str, catalog_impl: str = "hadoop"
) -> list[str]:
    """``["--conf", "k=v", ...]`` form of :func:`iceberg_submit_conf` for
    argv assembly."""
    out: list[str] = []
    for k, v in iceberg_submit_conf(catalog, warehouse, catalog_impl).items():
        out += ["--conf", f"{k}={v}"]
    return out


def iceberg_submit_args_shell(
    catalog: str, warehouse: str, catalog_impl: str = "hadoop"
) -> str:
    """One-line shell rendering of the stanza (see module docstring)."""
    return " ".join(iceberg_submit_args(catalog, warehouse, catalog_impl))


def pages_table_ddl(
    table: str, url_buckets: int = DEFAULT_URL_BUCKETS
) -> str:
    """CREATE TABLE spec for the Common-Crawl-style pages source
    (BASELINE.json input_hint columns) with hidden partitioning:
    ``days(warc_ts)`` prunes crawl-time ranges at the scan,
    ``bucket(N, url)`` co-locates url-keyed work (dedup fingerprints,
    canonical-link joins, per-host caps) without an explicit shuffle."""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
    url      string NOT NULL,
    warc_ts  timestamp,
    html     binary,
    text     string,
    lang     string
)
USING iceberg
PARTITIONED BY (days(warc_ts), bucket({int(url_buckets)}, url))
TBLPROPERTIES (
    'write.distribution-mode' = 'hash',
    'write.target-file-size-bytes' = '536870912'
)"""


def chunks_table_ddl(
    table: str, url_buckets: int = DEFAULT_URL_BUCKETS
) -> str:
    """CREATE TABLE spec for the extraction sink: the SAME url bucket
    function as the pages table, so chunk<->page lineage joins are
    storage-partitioned (no shuffle on either side under SPJ)."""
    return f"""CREATE TABLE IF NOT EXISTS {table} (
    url         string NOT NULL,
    chunk_index int    NOT NULL,
    text        string,
    ssml        string,
    spans       string,
    bucket      int
)
USING iceberg
PARTITIONED BY (bucket({int(url_buckets)}, url))
TBLPROPERTIES (
    'write.distribution-mode' = 'hash',
    'write.target-file-size-bytes' = '536870912'
)"""
