"""Pages-table source abstraction: Iceberg catalog table or parquet path.

The north rule's production input is an Iceberg table of Common-Crawl-style
pages (url, warc_ts, html, text, lang) with hidden partitioning on
days(warc_ts)/bucket(url) — partition pruning and column pruning then happen
inside the Iceberg scan (SURVEY.md §4). This sandbox has no Iceberg runtime
jar, so the local path is parquet with identical schema; the format seam is
this one function, and everything downstream (extract, lineage, streaming)
is source-agnostic DataFrame code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .operators.udfs import map_rows
from .schema import PAGES_SCHEMA

PAGES_COLUMNS = [f.name for f in PAGES_SCHEMA.fields]


def is_path(source: str) -> bool:
    """A path separator or a ``.parquet`` suffix marks a filesystem path;
    any other name is an Iceberg table identifier."""
    return "/" in source or source.endswith(".parquet")


def read_pages(
    spark: SparkSession, source: str, format: str | None = None
) -> DataFrame:
    """Load the pages table.

    ``format``: "iceberg" (catalog table name), "parquet" (path),
    "snapshot" (a snapshots.py table root — manifest-listed files, read
    isolation and time travel without a catalog), or None to infer — a
    source containing a path separator reads as parquet, otherwise as an
    Iceberg table identifier. Column pruning to the pages schema is
    applied so accidental extra columns never flow downstream.
    """
    fmt = format or ("parquet" if is_path(source) else "iceberg")
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(source)
    elif fmt == "snapshot":
        from . import snapshots

        df = snapshots.read_snapshot(spark, source)
    elif fmt == "parquet":
        df = spark.read.parquet(source)
    else:
        raise ValueError(f"unsupported pages source format: {fmt!r}")
    missing = [c for c in PAGES_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"pages source {source!r} is missing columns {missing}; "
            f"expected {PAGES_COLUMNS}"
        )
    return df.select(*PAGES_COLUMNS)


def _parse_warc_date(raw_ts: str):
    """WARC-Date -> aware UTC datetime, None when unparseable. WARC/1.0's
    second-precision 'Z' form first; WARC/1.1 permits fractional seconds
    and offsets (fromisoformat covers those). A naive result would be
    re-interpreted in the session timezone and shift the instant, so tz
    is always pinned, and an offset is converted to UTC: the Arrow
    conversion keeps an aware datetime's wall clock, not its instant.
    ONE definition shared by read_warc/read_wet/read_wat — a fallback fix
    must not be appliable to one reader and not the others."""
    from datetime import datetime, timezone

    try:
        return datetime.strptime(raw_ts, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        try:
            ts = datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
            if ts.tzinfo is None:
                return ts.replace(tzinfo=timezone.utc)
            return ts.astimezone(timezone.utc)
        except (ValueError, OverflowError):  # overflow: year 1 shifted back
            return None


def _record_stream(data: bytes):
    """Binary segment -> byte stream for the record walker. Common Crawl
    ships .warc.gz (multi-member gzip, one member per record); GzipFile
    streams across members, so decompressed bytes are consumed
    record-by-record instead of inflating the whole segment."""
    import gzip
    import io

    if data[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(data))
    return io.BytesIO(data)


def _safe_records(data: bytes):
    """Record iteration with compressed-stream containment: a corrupt or
    truncated gzip member raises BadGzipFile/EOFError (OSError family) or
    zlib.error out of the walker's readline/read — without this guard ONE
    bad .warc.gz segment fails its task, and after Spark's retries the
    whole 100 TB job. Records decoded before the corruption point are
    kept; the walk stops at the first undecodable byte (same policy as
    the walker's truncated-tail rule, one layer down)."""
    import zlib

    try:
        yield from _iter_warc_records(_record_stream(data))
    except (OSError, EOFError, zlib.error):
        return


def _iter_warc_records(stream):
    """Minimal WARC/1.0-1.1 record walker (public ISO 28500 format) over a
    binary STREAM: 'WARC/…' header block terminated by a blank line,
    Content-Length bytes of body, CRLFCRLF record separator. Streaming
    keeps per-task memory at one record, not one decompressed segment — a
    ~1 GB .warc.gz inflates ~4x, and holding it whole next to the Arrow
    batch's compressed copy would blow the executor budget. Malformed
    tails stop the walk instead of raising — one truncated record must not
    fail a segment."""
    while True:
        line = stream.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            continue
        headers: dict[str, str] = {}
        while True:
            h = stream.readline()
            if not h:
                return  # truncated header block
            if h in (b"\r\n", b"\n"):
                break
            if b":" in h:
                k, v = h.split(b":", 1)
                headers[
                    k.strip().lower().decode("utf-8", "replace")
                ] = v.strip().decode("utf-8", "replace")
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            # unparseable Content-Length: skip just this record — resume
            # scanning for the next 'WARC/' header instead of aborting the
            # generator, which would drop every well-formed record after a
            # single corrupt header mid-segment
            continue
        if length < 0:
            # negative lengths parse via int() but stream.read(-n) would
            # slurp the REST of the segment as one body and silently drop
            # every later record — same resync rule as unparseable
            continue
        body = stream.read(length)
        if len(body) < length:
            return  # truncated body
        yield headers, body


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response", "resource"),
    payload_as_text: bool = False,
) -> DataFrame:
    """WARC scan (S1 alternate source): Common Crawl's native archive format
    -> the standard pages table (url, warc_ts, html, text=NULL, lang=NULL).

    Only 'response'/'resource' records yield pages; the HTTP envelope in
    response bodies is stripped to the payload. Parsing is one ``map_rows``
    pass (``mapInArrow``) over binaryFile rows — one Python pass per segment
    file, no per-record round trips.

    Scale note: binaryFile materializes a whole (compressed) segment per
    row (CC segments are ~1 GB), so executor memory must cover one
    compressed segment per task plus ONE in-flight record — decompression
    and record walking are streaming, never the inflated segment — the
    standard approach for CC-scale Spark jobs without a custom datasource.
    Filter pushdown doesn't apply here; land WARC -> Iceberg once with this
    reader, then run everything downstream off the columnar table
    (read_pages), which is where the 10^12-doc pipeline should live."""
    files = spark.read.format("binaryFile").load(path)

    def pages(content):
        for headers, body in _safe_records(content):
            kind = headers.get("warc-type")
            url = headers.get("warc-target-uri")
            if kind not in record_types or not url:
                continue
            ts = _parse_warc_date(headers.get("warc-date", ""))
            if kind == "response" and body[:5] == b"HTTP/":
                sep = body.find(b"\r\n\r\n")
                if sep >= 0:
                    body = body[sep + 4 :]
            if payload_as_text:
                yield (url, ts, None, body.decode("utf-8", errors="replace"), None)
            else:
                yield (url, ts, body, None, None)

    return map_rows(files.select("content"), pages, PAGES_SCHEMA)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET scan (Common Crawl's extracted-text sibling of WARC): the same
    record walker, but only 'conversion' records — whose payload IS the
    extracted plain text — populating the pages table's ``text`` column
    (html NULL). Use when the pipeline starts from CC's own extraction
    rather than raw html."""
    return read_warc(
        spark, path, record_types=("conversion",), payload_as_text=True
    )


def write_pages_output(
    chunks: DataFrame, target: str, format: str | None = None
) -> None:
    """Write the extraction output table (url, chunk_number, extracted_text,
    ssml, spans). Iceberg targets get an overwritePartitions-style dynamic
    overwrite (idempotent reruns); "snapshot:<id>" targets an atomic
    idempotent snapshots.py commit (pass the run id after the colon);
    parquet targets partition by url bucket via the lineage module instead
    (lineage.run_with_lineage)."""
    fmt = format or ("parquet" if is_path(target) else "iceberg")
    if fmt == "iceberg":
        chunks.writeTo(target).overwritePartitions()
    elif fmt.startswith("snapshot"):
        from . import snapshots

        _, _, run_id = fmt.partition(":")
        snapshots.commit(
            chunks, target, run_id or "write_pages_output", mode="overwrite"
        )
    elif fmt == "parquet":
        chunks.write.mode("overwrite").parquet(target)
    else:
        raise ValueError(f"unsupported output format: {fmt!r}")


WAT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("title", StringType()),
        StructField("n_links", LongType()),
        StructField("links", ArrayType(StringType())),
    ]
)


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """WAT scan — the third Common Crawl sibling: 'metadata' records whose
    payload is a JSON envelope describing the crawled page (headers, title,
    outlinks). Returns the link-graph staging table
    (url, warc_ts, title, n_links, links: array<string of href>) — the
    columnar input extract_links/pagerank-style graph jobs consume when
    the pipeline starts from CC's own metadata instead of raw html.

    Same streaming record walker and ``map_rows`` shape as read_warc (one
    Python pass per segment, one in-flight record); the JSON payload is
    parsed with the stdlib parser and reduced to the graph-relevant fields
    IN the task, so only narrow rows reach Arrow — never the raw JSON
    envelopes. Unparseable payloads yield a row with NULL title/links
    rather than failing the segment (mirrors the walker's malformed-record
    policy)."""
    import json

    files = spark.read.format("binaryFile").load(path)

    def link_rows(content):
        for headers, body in _safe_records(content):
            url = headers.get("warc-target-uri")
            if headers.get("warc-type") != "metadata" or not url:
                continue
            title = None
            links: list | None = None
            try:
                env = json.loads(body.decode("utf-8", errors="replace"))
                # CC-WAT layout: Envelope -> Payload-Metadata ->
                # HTTP-Response-Metadata -> HTML-Metadata
                html_md = (
                    env.get("Envelope", {})
                    .get("Payload-Metadata", {})
                    .get("HTTP-Response-Metadata", {})
                    .get("HTML-Metadata", {})
                )
                head = html_md.get("Head", {})
                # type containment: the envelope is UNTRUSTED JSON — a
                # numeric Title or Links[].url would reach the Arrow cast
                # and fail the TASK (string column, int cell). Non-string
                # values drop, not crash.
                title = head.get("Title")
                if not isinstance(title, str):
                    title = None
                raw_links = html_md.get("Links", [])
                if not isinstance(raw_links, list):
                    raw_links = []
                links = [
                    l["url"] for l in raw_links
                    if isinstance(l, dict)
                    and isinstance(l.get("url"), str)
                    and l["url"]
                ]
            except (ValueError, AttributeError, TypeError):
                pass
            ts = _parse_warc_date(headers.get("warc-date", ""))
            n_links = len(links) if links is not None else None
            yield (url, ts, title, n_links, links)

    return map_rows(files.select("content"), link_rows, WAT_SCHEMA)


def write_jsonl(
    df: DataFrame, target: str, compression: str = "gzip"
) -> None:
    """Training-data export sink: newline-delimited JSON, compressed —
    the interchange format LLM data pipelines emit (Dolma/RedPajama ship
    jsonl.gz/zst shards; every tokenizer/trainer stack reads it).

    Thin by design: Spark's native JSON datasource already does the right
    distributed thing (one file per partition, records are the rows,
    codec applied per file) — size shards UPSTREAM with repartition()
    to the target docs-per-shard (shards.pack_shards computes
    token-budgeted assignments when budgets matter more than counts).
    Complex columns (arrays/structs) serialize as nested JSON natively."""
    df.write.mode("overwrite").option("compression", compression).json(target)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read the sink's output back (schema optional but ALWAYS pass one in
    production — schema inference scans the data twice and types drift)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX(J) index scan — the fourth Common Crawl artifact family (after
    WARC/WET/WAT): one line per capture,

        <surt-key> <timestamp14> {"url": ..., "mime": ..., "status": ...,
                                  "digest": ..., "length": ..., "offset": ...,
                                  "filename": ...}

    the random-access index crawl tooling uses to locate records inside
    WARC segments without scanning them. Returns
    (surt, warc_ts, url, mime, status, digest, length, offset,
    warc_filename) — the staging table for frontier planning, crawl-delta
    joins (delta.crawl_delta on digest), and targeted WARC fetches.

    Fully NATIVE: text scan -> one regexp split -> from_json -> try_casts;
    zero Python, whole-stage codegen end to end, and .gz shards decompress
    inside the text scan (Hadoop codec), so a 100 TB index reads at scan
    parallelism with only a map phase. Malformed lines (including the
    classic space-delimited CDX-11 header ' CDX N b a m s k r M S V g')
    parse to NULL fields rather than failing the scan — filter on
    ``url IS NOT NULL`` for the strict view. try_to_timestamp/try_cast
    keep ANSI mode non-fatal on garbage numerics."""
    from pyspark.sql import functions as F

    line = F.col("value")
    split_re = r"^(\S+) (\d{14}) (\{.*\})\s*$"
    j = F.from_json(
        F.regexp_extract(line, split_re, 3),
        "url string, mime string, status string, digest string, "
        "length string, offset string, filename string",
    )
    return spark.read.text(path).select(
        F.nullif(F.regexp_extract(line, split_re, 1), F.lit("")).alias("surt"),
        F.try_to_timestamp(
            F.nullif(F.regexp_extract(line, split_re, 2), F.lit("")),
            F.lit("yyyyMMddHHmmss"),
        ).alias("warc_ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].try_cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["length"].try_cast("bigint").alias("length"),
        j["offset"].try_cast("bigint").alias("offset"),
        j["filename"].alias("warc_filename"),
    )
