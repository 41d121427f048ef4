"""Per-partition lineage + checkpoint-resume (north-rule requirement).

The reference's resume semantic is a global part counter skipping
already-produced outputs (reference ssml_processing.py:106-110). At cluster
scale that becomes: deterministically bucket documents by url hash, record a
lineage row per completed bucket (counts + checksum), and on rerun filter the
input to the buckets not yet done, so only missing work re-executes. Writes
are idempotent at bucket granularity (partitionBy(bucket) parquet overwrite
per bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import fs_exists
from .operators import extract
from .schema import LINEAGE_SCHEMA

N_BUCKETS_DEFAULT = 64


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """Stable url-hash bucket: pmod(xxhash64(url), n), the same url hash
    the salted shuffle routes by (``extract.url_slot``). After a salted
    shuffle into P partitions, bucket b sits only in partitions
    p = b (mod gcd(n, P)): in exactly one partition when n is a multiple
    of P, and a bucketed write makes at most lcm(n, P) files."""
    return df.withColumn("bucket", extract.url_slot(n_buckets))


def lineage_rows(chunks: DataFrame) -> DataFrame:
    """Aggregate one lineage row per bucket: doc/chunk counts + an
    order-insensitive checksum (bit_xor of per-row xxhash64 — stable under
    partitioning/row order, immune to overflow). Rows are hashed first and
    shuffled once, by bucket: the distinct url count then needs no second
    Exchange on (bucket, url)."""
    return (
        chunks.select(
            "bucket", "url",
            F.xxhash64(F.col("url"), F.col("chunk_number"), F.col("ssml")).alias("h"),
        )
        .repartition("bucket")
        .groupBy("bucket")
        .agg(
            F.lit("done").alias("status"),
            F.countDistinct("url").cast("int").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.hex(F.bit_xor("h")).alias("checksum"),
        )
    )


def done_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    """The buckets the lineage table records done; empty when there is no
    table yet. The known schema spares the read a schema-inference job, and
    the set absorbs a bucket recorded twice (e.g. a rerun that raced its own
    lineage append)."""
    if not fs_exists(spark, lineage_path):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
        .filter(F.col("status") == "done")
        .select("bucket")
        .collect()
    )
    return {r["bucket"] for r in rows}


def run_with_lineage(
    pages: DataFrame,
    spark: SparkSession,
    output_path: str,
    lineage_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    languages: list[str] | None = None,
    num_partitions: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Checkpoint-resumable extraction: skip completed buckets, extract the
    rest, append output partitioned by bucket, then append lineage rows.
    Returns the chunks written in this run. When every bucket is already
    done, nothing is scanned or written and the returned frame is empty.

    ``metrics_out``: pass a dict to receive run counters (n_chunks,
    n_docs_approx, ssml_bytes) observed DURING the write action itself
    (Spark's Observation API — accumulator-backed, zero extra passes over
    the data; distinct aggregates aren't allowed there, hence the approx
    doc count). These are the job-level metrics; the durable per-bucket
    counts/checksums live in the lineage rows."""
    # The buckets this run owns are knowable BEFORE any scan: every bucket
    # not yet recorded done in the (tiny) lineage table. Computing them
    # driver-side keeps the post-write read-back partition-PRUNED to this
    # run's buckets — re-reading the whole accumulated output and
    # anti-joining would scan 100 TB of prior runs to find this run's rows.
    # The same list filters the input before the salted shuffle, so skipped
    # pages never cross it; a first run has no done bucket and no filter.
    done = done_buckets(spark, lineage_path)
    todo_buckets = [b for b in range(n_buckets) if b not in done]
    todo = pages.filter(extract.url_slot(n_buckets).isin(todo_buckets)) if done else pages
    chunks = with_bucket(
        extract.extract_chunks(
            todo,
            languages=languages,
            num_partitions=num_partitions or extract.DEFAULT_SALT_PARTITIONS,
        ),
        n_buckets,
    )
    # Lineage rows come from the files written (the durable truth, not a
    # recompute of the UDF pipeline); the isin filter prunes the read to
    # this run's bucket partitions only, and the known schema spares the
    # read a parquet schema-inference job. Built after the write: a file
    # read lists its files when it is created.
    schema = chunks.schema

    def read_back() -> DataFrame:
        return spark.read.schema(schema).parquet(output_path).filter(
            F.col("bucket").isin(todo_buckets)
        )

    if not todo_buckets:
        # pure-resume rerun: every bucket is done, so neither scan the input
        # nor write anything
        if metrics_out is not None:
            metrics_out.update(n_chunks=0, n_docs_approx=0, ssml_bytes=0)
        return read_back()
    obs = None
    if metrics_out is not None:
        from pyspark.sql import Observation

        obs = Observation("extract_run")
        chunks = chunks.observe(
            obs,
            F.count(F.lit(1)).alias("n_chunks"),
            F.approx_count_distinct("url").alias("n_docs_approx"),
            # coalesce: sum over an empty run is NULL, and the metrics
            # contract is integers (a rerun over no new pages writes 0 rows)
            F.coalesce(F.sum(F.octet_length("ssml")), F.lit(0)).alias(
                "ssml_bytes"
            ),
        )
    # Dynamic partition overwrite makes bucket writes idempotent: a rerun of
    # a bucket that crashed between its data write and its lineage append
    # REPLACES the partial partition instead of appending duplicates.
    chunks.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(output_path)
    if obs is not None:
        metrics_out.update(obs.get)  # ready: the write action completed
    written = read_back()
    lineage_rows(written).write.mode("append").parquet(lineage_path)
    return written
