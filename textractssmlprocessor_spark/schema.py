"""Engine schemas (SURVEY.md §1.3, FIXTURES.md §1-3).

The primary input is the Common-Crawl-style pages table from BASELINE.json's
input_hint: (url, warc_ts, html, text, lang). Outputs carry explicit
StructTypes everywhere — no schema inference in the pipeline.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
        StructField("kind", StringType(), True),
    ]
)

CHUNKS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("chunk_number", IntegerType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("ssml", StringType(), True),
        StructField("spans", ArrayType(SPAN_TYPE), True),
    ]
)

SUBTITLE_TYPE = StructType(
    [
        StructField("variant", StringType(), True),
        StructField("text", StringType(), True),
        StructField("start", DoubleType(), True),
        StructField("end", DoubleType(), True),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("n_chunks", IntegerType(), False),
        StructField("checksum", StringType(), True),
    ]
)
