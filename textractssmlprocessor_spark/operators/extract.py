"""Flagship extraction pipeline: pages -> (url, chunk_number, extracted_text,
ssml, spans).

Spark-first restatement of the reference's process_text_file lifecycle
(reference utils.py:278-319, SURVEY.md §3.1):

    scan -> filter/prune -> salted repartition -> clean (T1/F2) ->
    chunk+spans (X1) -> posexplode -> normalize SSML (T8 + T2/T3)

Scale properties (the parts that must survive 1000 executors / 100 TB):
- ``html`` binary is charset-sniff decoded (WHATWG BOM/meta-prescan/utf-8/
  cp1252 chain, operators/charset.py) INSIDE the one fused pandas UDF the
  payload was already crossing into — the binary crosses Arrow instead of
  the decoded string, so the legacy-encoding tail of a real crawl decodes
  correctly at zero additional transfer, plan nodes, or scans. Decode is
  errors='replace' throughout: one mis-encoded page degrades to U+FFFD
  instead of failing the job (strict decode is fatal at 10^12 documents);
- the only shuffle in the whole plan is the explicit salted repartition by
  url hash (host-level skew defusal per the north rule); everything after is
  narrow: UDF projections + posexplode pipeline in one stage;
- all Python work is Arrow-batched pandas UDFs, fused by Spark into a single
  ArrowEvalPython node per stage chain; batch size capped in session.py so a
  100 MB outlier document cannot OOM an executor;
- lang/null filters sit BEFORE any UDF so they push into the parquet/Iceberg
  scan (UDFs would block pushdown, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ordering import ordered_values
from .udfs import clean_document_udf, extract_full_udf, split_ssml_udf

DEFAULT_SALT_PARTITIONS = 256


def url_slot(n: int, key: str = "url") -> Column:
    """pmod(xxhash64(url), n): the one url hash, read modulo ``n``. The
    salted shuffle routes by it (n = partitions) and the lineage bucket is
    it (n = buckets), so the two layouts line up."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int")


def salted_repartition(df: DataFrame, num_partitions: int, key: str = "url") -> DataFrame:
    """Explicit skew defusal: row goes to partition pmod(xxhash64(url), P),
    so documents from one hot host spread uniformly across partitions
    regardless of the source file layout (north_rule requirement).

    The partition id IS the url hash mod P, with no second hash on top
    (``repartitionById``, Spark 4.1+). A lineage bucket b = h mod B then
    lands only in partitions p = b (mod gcd(B, P)) (Chinese remainder
    theorem), so a bucketed write makes at most lcm(B, P) files instead
    of B * P; with B a multiple of P each bucket sits in exactly one
    partition. Trade-off: a partition always holds the same buckets (those
    = p mod gcd(B, P)), so a resume over a subset of buckets spreads only
    as evenly as the subset falls on those residues, and partitions whose
    buckets are all done sit idle. No partition gets more than the
    B / gcd(B, P) buckets it holds on a first run, so no resume task is
    larger than the same partition's first-run task."""
    return df.repartitionById(num_partitions, url_slot(num_partitions, key))


def _salted_payloads(
    df: DataFrame, languages: list[str] | None, num_partitions: int, *carry: str
) -> DataFrame:
    """The extract prelude: lang and null filters (pushed into the scan),
    then (url, *carry, html, text) through the salted shuffle. The
    charset-sniffed decode happens after it, inside the UDF (module
    docstring)."""
    if languages:
        df = df.filter(F.col("lang").isin(languages))
    df = df.filter(F.col("html").isNotNull() | F.col("text").isNotNull())
    return salted_repartition(df.select("url", *carry, "html", "text"), num_partitions)


def clean_pages(
    df: DataFrame,
    languages: list[str] | None = None,
    num_partitions: int = DEFAULT_SALT_PARTITIONS,
) -> DataFrame:
    """pages -> (url, warc_ts, lang, extracted_text).

    ``extracted_text`` is the reference's latin-correlate content
    (utils.py:289-291): HTML payloads pass through convert_html_to_ssml,
    plain text passes through unchanged."""
    df = _salted_payloads(df, languages, num_partitions, "warc_ts", "lang")
    cleaned = clean_document_udf(F.col("html"), F.col("text"))
    return df.select("url", "warc_ts", "lang", cleaned.alias("extracted_text"))


def extract_chunks(
    df: DataFrame,
    languages: list[str] | None = None,
    num_partitions: int = DEFAULT_SALT_PARTITIONS,
) -> DataFrame:
    """pages -> (url, chunk_number, extracted_text, ssml, spans): the full
    reference pipeline output table (FIXTURES.md §2). chunk_number is 1-based
    (reference utils.py:309).

    The entire Python path (clean -> chunk -> substitute -> normalize) is ONE
    fused pandas UDF (`extract_full_udf`): one Arrow round trip per batch,
    then a native posexplode — no chunk text re-enters Python."""
    df = _salted_payloads(df, languages, num_partitions)
    chunked = df.select(
        "url",
        F.posexplode(
            extract_full_udf(F.col("html"), F.col("text"))
        ).alias("pos", "c"),
    )
    return chunked.select(
        "url",
        (F.col("pos") + 1).cast("int").alias("chunk_number"),
        F.col("c.chunk").alias("extracted_text"),
        F.col("c.ssml").alias("ssml"),
        F.array(
            F.struct(
                F.col("c.start").alias("start"),
                F.col("c.end").alias("end"),
                F.lit("chunk").alias("kind"),
            )
        ).alias("spans"),
    )


def synchronized_texts(
    chunks: DataFrame,
    original_col: str = "extracted_text",
    translated_col: str = "ssml",
    project_col: str = "url",
    order_col: str = "chunk_number",
) -> DataFrame:
    """Translation-log read-back (reference utils.py:226-234
    get_synchronized_texts): pair the original and annotated text streams
    back up per project as two '\\n\\n'-joined documents in chunk order.

    The reference reads its JSONL translation log; in this engine the chunk
    table IS the log (original=extracted_text, translated=ssml — the T14
    write side), so the read-back is one groupBy with order-stable array
    concat (collect_list alone has no post-shuffle order guarantee).

    NULL discipline (ANSI string_agg semantics, fuzz seed 6): NULL chunks
    are skipped from the join, and a project whose chunks are ALL NULL
    yields a NULL document, not '' — Spark's bare array_join would render
    "no content" and "empty content" identically, where every SQL engine's
    string_agg keeps them distinct."""
    pair = F.struct(F.col(original_col).alias("o"), F.col(translated_col).alias("t"))
    ordered = ordered_values(pair, order_col)

    def _agg(field: str, src: str) -> Column:
        joined = F.array_join(F.transform(ordered, lambda s: s[field]), "\n\n")
        return F.when(F.count(F.col(src)) > 0, joined)

    return chunks.groupBy(project_col).agg(
        _agg("o", original_col).alias("original_text"),
        _agg("t", translated_col).alias("translated_text"),
    )


def split_ssml_chunks(df: DataFrame, ssml_col: str = "ssml") -> DataFrame:
    """Tag-aware ≤2500-char re-split of normalized SSML (reference
    ssml_processing.py:9-56) -> adds (part_number, ssml_part)."""
    return df.select(
        "*", F.posexplode(split_ssml_udf(F.col(ssml_col))).alias("part_pos", "ssml_part")
    ).withColumn("part_number", (F.col("part_pos") + 1).cast("int")).drop("part_pos")
