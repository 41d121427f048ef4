"""WARC source roundtrip: a spec-conformant WARC file (warcinfo + response
with HTTP envelope + resource + request-to-skip + truncated tail) parses to
the pages table and flows through the flagship extraction unchanged."""

from __future__ import annotations

import pytest


def _record(warc_type: str, body: bytes, url: str | None = None,
            date: str = "2024-05-01T12:30:00Z") -> bytes:
    headers = [
        b"WARC/1.0",
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Date: {date}".encode(),
    ]
    if url:
        headers.append(f"WARC-Target-URI: {url}".encode())
    headers.append(f"Content-Length: {len(body)}".encode())
    return b"\r\n".join(headers) + b"\r\n\r\n" + body + b"\r\n\r\n"


@pytest.fixture(scope="module")
def warc_path(tmp_path_factory):
    http_payload = "<h4>Chapter One</h4><p>Body from a crawl.</p>".encode()
    http_body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + http_payload
    )
    resource_body = "<p>Resource record page.</p>".encode()
    data = (
        _record("warcinfo", b"software: test\r\n")
        + _record("response", http_body, url="https://a.example.org/page/1")
        + _record("request", b"GET / HTTP/1.1\r\n", url="https://a.example.org/page/1")
        + _record("resource", resource_body, url="https://b.example.org/page/2")
        + b"WARC/1.0\r\ntruncated-garbage"  # malformed tail must not raise
    )
    d = tmp_path_factory.mktemp("warc")
    p = d / "segment-00000.warc"
    p.write_bytes(data)
    return str(d)


def test_warc_gz_multi_member(spark, tmp_path):
    """Real Common Crawl layout: .warc.gz with one gzip MEMBER per record."""
    import gzip

    members = [
        _record("warcinfo", b"software: test\r\n"),
        _record(
            "response",
            b"HTTP/1.1 200 OK\r\n\r\n<p>gz page one</p>",
            url="https://gz.example.org/1",
        ),
        _record("resource", b"<p>gz page two</p>", url="https://gz.example.org/2"),
    ]
    p = tmp_path / "seg.warc.gz"
    p.write_bytes(b"".join(gzip.compress(m) for m in members))

    from textractssmlprocessor_spark.sources import read_warc

    pages = {r["url"]: bytes(r["html"]) for r in read_warc(spark, str(p)).collect()}
    assert pages == {
        "https://gz.example.org/1": b"<p>gz page one</p>",
        "https://gz.example.org/2": b"<p>gz page two</p>",
    }


def test_warc_parses_to_pages(spark, warc_path):
    from textractssmlprocessor_spark.sources import read_warc

    pages = {r["url"]: r for r in read_warc(spark, warc_path).collect()}
    assert set(pages) == {
        "https://a.example.org/page/1", "https://b.example.org/page/2",
    }
    a = pages["https://a.example.org/page/1"]
    assert bytes(a["html"]) == "<h4>Chapter One</h4><p>Body from a crawl.</p>".encode()
    assert a["warc_ts"].year == 2024 and a["warc_ts"].month == 5
    assert a["text"] is None and a["lang"] is None
    b = pages["https://b.example.org/page/2"]
    assert bytes(b["html"]) == "<p>Resource record page.</p>".encode()


def test_warc_fractional_second_dates_and_corrupt_length(spark, tmp_path):
    """WARC/1.1 fractional-second WARC-Date must parse (not null the
    timestamp), and a malformed Content-Length mid-segment must skip just
    that record, not abort the rest of the segment."""
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example.org/x\r\n"
        b"Content-Length: notanumber\r\n\r\n"
    )
    records = (
        _record(
            "response",
            b"HTTP/1.1 200 OK\r\n\r\n<p>frac</p>",
            url="https://frac.example.org/1",
            date="2024-05-01T12:30:00.123456Z",
        )
        + bad
        + _record(
            "resource", b"<p>after corrupt</p>", url="https://frac.example.org/2"
        )
    )
    p = tmp_path / "frac.warc"
    p.write_bytes(records)

    from textractssmlprocessor_spark.sources import read_warc

    pages = {r["url"]: r for r in read_warc(spark, str(p)).collect()}
    # the record AFTER the corrupt header still parses
    assert set(pages) == {
        "https://frac.example.org/1", "https://frac.example.org/2",
    }
    ts = pages["https://frac.example.org/1"]["warc_ts"]
    assert ts is not None and ts.microsecond == 123456


def test_warc_pages_flow_through_extraction(spark, warc_path):
    from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.sources import read_warc

    chunks = {
        r["url"]: r
        for r in extract_chunks(read_warc(spark, warc_path), num_partitions=2).collect()
    }
    expected = convert_html_to_ssml("<h4>Chapter One</h4><p>Body from a crawl.</p>")
    assert chunks["https://a.example.org/page/1"]["extracted_text"] == expected


def test_wet_conversion_records_to_text(spark, tmp_path):
    from textractssmlprocessor_spark.sources import read_warc, read_wet

    wet = (
        _record("warcinfo", b"software: wet-test\r\n")
        + _record(
            "conversion",
            "Extracted plain text.\nSecond line — naïve café.".encode("utf-8"),
            url="https://a.example.org/page/1",
        )
        + _record("response", b"HTTP/1.1 200 OK\r\n\r\n<p>html</p>",
                  url="https://a.example.org/page/1")
    )
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg.warc.wet").write_bytes(wet)

    rows = read_wet(spark, str(d)).collect()
    assert len(rows) == 1                      # response records excluded
    r = rows[0]
    assert r["url"] == "https://a.example.org/page/1"
    assert r["html"] is None
    assert r["text"] == "Extracted plain text.\nSecond line — naïve café."
    # the WARC reader on the same file still sees only the response record
    warc_rows = read_warc(spark, str(d)).collect()
    assert len(warc_rows) == 1 and warc_rows[0]["text"] is None


def test_wat_metadata_records_to_link_table(spark, tmp_path):
    """WAT scan: CC-layout JSON envelopes parse to (url, title, links);
    non-metadata records are skipped; a garbage payload yields NULLs
    instead of failing the segment."""
    import json

    env = {
        "Envelope": {
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Head": {"Title": "Page One"},
                        "Links": [
                            {"path": "A@/href", "url": "https://out.org/a"},
                            {"path": "IMG@/src", "url": "https://cdn.org/i.png"},
                            {"path": "A@/href"},  # no url -> skipped
                        ],
                    }
                }
            }
        }
    }
    data = (
        _record("warcinfo", b"software: test\r\n")
        + _record("metadata", json.dumps(env).encode(),
                  url="https://wat.example.org/1")
        + _record("response", b"HTTP/1.1 200 OK\r\n\r\n<p>not metadata</p>",
                  url="https://wat.example.org/skip")
        + _record("metadata", b"{ not json",
                  url="https://wat.example.org/2")
    )
    p = tmp_path / "seg.wat"
    p.write_bytes(data)

    from textractssmlprocessor_spark.sources import read_wat

    rows = {r["url"]: r for r in read_wat(spark, str(p)).collect()}
    assert set(rows) == {"https://wat.example.org/1", "https://wat.example.org/2"}
    good = rows["https://wat.example.org/1"]
    assert good["title"] == "Page One"
    assert good["links"] == ["https://out.org/a", "https://cdn.org/i.png"]
    assert good["n_links"] == 2
    bad = rows["https://wat.example.org/2"]
    assert bad["title"] is None and bad["links"] is None and bad["n_links"] is None


def test_jsonl_sink_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.sources import read_jsonl, write_jsonl

    docs = spark.createDataFrame(
        [(i, f"doc {i} body", ["a", "b"][: i % 3]) for i in range(20)],
        "doc_id bigint, text string, tags array<string>",
    )
    target = str(tmp_path / "corpus.jsonl")
    write_jsonl(docs, target, compression="gzip")
    import glob

    assert glob.glob(f"{target}/*.json.gz")  # compressed shard files
    back = read_jsonl(
        spark, target, schema="doc_id bigint, text string, tags array<string>"
    )
    assert back.count() == 20
    orig = {r["doc_id"]: (r["text"], r["tags"]) for r in docs.collect()}
    got = {r["doc_id"]: (r["text"], r["tags"]) for r in back.collect()}
    assert got == orig


def test_warc_negative_content_length_resyncs(spark, tmp_path):
    """'Content-Length: -1' parses via int() but must be skipped like an
    unparseable length — read(-1) would slurp the rest of the segment and
    drop every later record."""
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example.org/neg\r\n"
        b"Content-Length: -1\r\n\r\n"
    )
    records = bad + _record(
        "resource", b"<p>after negative</p>", url="https://ok.example.org/1"
    )
    p = tmp_path / "neg.warc"
    p.write_bytes(records)

    from textractssmlprocessor_spark.sources import read_warc

    urls = {r["url"] for r in read_warc(spark, str(p)).collect()}
    assert urls == {"https://ok.example.org/1"}


def test_warc_gz_corrupt_member_contained(spark, tmp_path):
    """Compressed-stream containment (_safe_records): a .warc.gz whose
    gzip stream goes bad mid-segment (truncated member, then flipped
    bytes inside a member's deflate data) must yield the records decoded
    BEFORE the corruption and never raise — one bad segment byte must not
    fail the task (and, after Spark's 4 retries, the 100 TB job)."""
    import gzip

    good = gzip.compress(
        _record(
            "response",
            b"HTTP/1.1 200 OK\r\n\r\n<p>before corruption</p>",
            url="https://ok.example.org/1",
        )
    )
    trailing = gzip.compress(
        _record("resource", b"<p>never reached</p>", url="https://lost.example.org/2")
    )
    from textractssmlprocessor_spark.sources import read_warc

    # (a) truncated second member: EOFError path
    p1 = tmp_path / "trunc.warc.gz"
    p1.write_bytes(good + trailing[: len(trailing) // 2])
    rows = read_warc(spark, str(p1)).collect()
    assert [r["url"] for r in rows] == ["https://ok.example.org/1"]

    # (b) corrupt deflate bytes inside the second member: zlib.error/
    # BadGzipFile path (header intact, payload garbage)
    corrupt = bytearray(trailing)
    for i in range(12, min(len(corrupt), 40)):
        corrupt[i] ^= 0xFF
    p2 = tmp_path / "flip.warc.gz"
    p2.write_bytes(good + bytes(corrupt))
    rows = read_warc(spark, str(p2)).collect()
    assert [r["url"] for r in rows] == ["https://ok.example.org/1"]


def test_wat_hostile_payload_types_contained(spark, tmp_path):
    """WAT envelopes are UNTRUSTED JSON: a numeric Title, a dict Links,
    or a numeric Links[].url must drop to NULL/skip — not reach the
    pandas->Arrow cast as an int cell in a string column and fail the
    task."""
    import json

    def env(title, links):
        return json.dumps(
            {
                "Envelope": {
                    "Payload-Metadata": {
                        "HTTP-Response-Metadata": {
                            "HTML-Metadata": {
                                "Head": {"Title": title},
                                "Links": links,
                            }
                        }
                    }
                }
            }
        ).encode()

    data = (
        _record(
            "metadata",
            env(12345, [{"url": 999}, {"url": "https://kept.example.org/"}]),
            url="https://wat.example.org/1",
        )
        + _record(
            "metadata",
            env("Good Title", {"not": "a list"}),
            url="https://wat.example.org/2",
        )
    )
    p = tmp_path / "seg.wat"
    p.write_bytes(data)

    from textractssmlprocessor_spark.sources import read_wat

    rows = {r["url"]: r for r in read_wat(spark, str(p)).collect()}
    r1 = rows["https://wat.example.org/1"]
    assert r1["title"] is None  # numeric title dropped
    assert r1["links"] == ["https://kept.example.org/"]  # numeric url skipped
    assert r1["n_links"] == 1
    r2 = rows["https://wat.example.org/2"]
    assert r2["title"] == "Good Title"
    assert r2["links"] == []  # dict Links treated as absent-list


def test_warc_offset_dates_are_utc_instants(spark, tmp_path):
    """A WARC/1.1 date with a UTC offset lands as its UTC instant (the
    session runs in UTC); a date whose UTC instant falls outside the
    calendar is NULL rather than a failed task."""
    import datetime as dt

    p = tmp_path / "offset.warc"
    p.write_bytes(
        _record("resource", b"<p>a</p>", url="https://o.example.org/1",
                date="2024-05-01T12:30:00.5+02:00")
        + _record("resource", b"<p>b</p>", url="https://o.example.org/2",
                  date="0001-01-01T00:00:00+05:00")
    )
    from textractssmlprocessor_spark.sources import read_warc

    ts = {r["url"]: r["warc_ts"] for r in read_warc(spark, str(p)).collect()}
    assert ts == {
        "https://o.example.org/1": dt.datetime(2024, 5, 1, 10, 30, 0, 500000),
        "https://o.example.org/2": None,
    }


def test_segments_without_matching_records_yield_no_rows(spark, tmp_path):
    """A segment with no record of the requested type is an empty batch,
    not a failed task: WET over a WARC-only segment, WAT over a segment
    with no metadata record."""
    p = tmp_path / "html-only.warc"
    p.write_bytes(
        _record("response", b"HTTP/1.1 200 OK\r\n\r\n<p>x</p>",
                url="https://h.example.org/1")
    )
    from textractssmlprocessor_spark.sources import read_wat, read_wet

    assert read_wet(spark, str(p)).collect() == []
    assert read_wat(spark, str(p)).collect() == []
