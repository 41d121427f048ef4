"""Tier-2/3/4: end-to-end Spark pipeline vs single-process oracle, validator
invariants, and checkpoint-resume (SURVEY.md §5)."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from reference_oracle import frozen_reference, needs_reference

from textractssmlprocessor_spark.corpus import pages_from_documents
from textractssmlprocessor_spark.functions.chunking import chunk_text_with_spans
from textractssmlprocessor_spark.functions.cleaning import is_html
from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
from textractssmlprocessor_spark.functions.ssml import normalize_ssml
from textractssmlprocessor_spark.functions.subs import expand_substitutions
from textractssmlprocessor_spark.operators.extract import clean_pages, extract_chunks


def oracle_extract(payload: str) -> list[tuple[int, str, str, int, int]]:
    """Single-process composition mirroring the Spark plan: the byte-level
    oracle for tier-2 (reference lifecycle utils.py:278-319 with the
    deterministic substitution path)."""
    cleaned = convert_html_to_ssml(payload) if is_html(payload) else payload
    out = []
    for i, (chunk, s, e) in enumerate(chunk_text_with_spans(cleaned), 1):
        out.append((i, chunk, normalize_ssml(expand_substitutions(chunk)), s, e))
    return out


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_from_documents(spark, sf_dir).cache()


def test_extracted_text_byte_identity(spark, pages):
    """Per-url byte identity of extracted_text vs the in-process oracle."""
    raw = {
        r["url"]: (bytes(r["html"]).decode("utf-8") if r["html"] is not None else r["text"])
        for r in pages.collect()
    }
    got = {
        r["url"]: r["extracted_text"]
        for r in clean_pages(pages, num_partitions=8).collect()
    }
    assert set(got) == set(raw)
    for url, payload in raw.items():
        expected = convert_html_to_ssml(payload) if is_html(payload) else payload
        assert got[url] == expected, url


def test_chunks_and_ssml_byte_identity(spark, pages):
    """Per-(url, chunk_number) byte identity of chunk text AND normalized
    SSML vs the oracle, including span offsets."""
    raw = {
        r["url"]: (bytes(r["html"]).decode("utf-8") if r["html"] is not None else r["text"])
        for r in pages.collect()
    }
    rows = extract_chunks(pages, num_partitions=8).collect()
    got = {}
    for r in rows:
        got.setdefault(r["url"], {})[r["chunk_number"]] = r

    for url, payload in raw.items():
        expected = oracle_extract(payload)
        assert len(got.get(url, {})) == len(expected), url
        for (i, chunk, ssml, s, e) in expected:
            row = got[url][i]
            assert row["extracted_text"] == chunk, (url, i)
            assert row["ssml"] == ssml, (url, i)
            span = row["spans"][0]
            assert (span["start"], span["end"], span["kind"]) == (s, e, "chunk")


def test_all_ssml_speak_wrapped(spark, pages):
    chunks = extract_chunks(pages, num_partitions=8)
    bad = chunks.filter(
        ~(F.col("ssml").startswith("<speak>") & F.col("ssml").endswith("</speak>"))
    ).count()
    assert bad == 0


def test_validator_on_clean_corpus(spark):
    """Tier-3: hand-built clean chunks yield zero findings; seeded-dirty rows
    trigger exactly the expected rules."""
    from textractssmlprocessor_spark.operators.validate import validate

    clean = [
        ("u1", 1, "<speak>A clean sentence here.</speak>", "original one"),
        ("u2", 1, "<speak>Another unique line entirely.</speak>", "original two"),
    ]
    dirty = [
        # punctuation after closing tag + unbalanced + stray letter
        ("u3", 1, "<speak>bad</s>. tail q here<p></speak>", "original three"),
        # double speak
        ("u4", 1, "<speak><speak>x</speak>", "original four"),
    ]
    df = spark.createDataFrame(
        clean + dirty, ["url", "chunk_number", "ssml", "extracted_text"]
    )
    findings = validate(df).collect()
    by_url = {}
    for f in findings:
        by_url.setdefault(f["url"], set()).add(f["rule"])
    assert "u1" not in by_url and "u2" not in by_url
    assert "punctuation" in by_url["u3"]
    assert "misplaced_closing_tags" in by_url["u3"]
    assert "random_single_letters" in by_url["u3"]
    assert "balanced_tags" in by_url["u3"]
    assert "speak_tags" in by_url["u4"]


def _validator_counts(spark, ssml_list) -> dict:
    """Findings per rule from validate(), the one path that runs every rule
    (the automaton rules only exist inside its fused UDF)."""
    from textractssmlprocessor_spark.operators.validate import validate

    df = spark.createDataFrame(
        [(f"u{i}", i + 1, s) for i, s in enumerate(ssml_list)],
        "url string, chunk_number int, ssml string",
    )
    return {r["rule"]: r["count"] for r in validate(df).groupBy("rule").count().collect()}


def test_validator_matches_frozen_reference_counts(spark):
    """Rule-level parity without the reference checkout: finding counts per
    rule equal the frozen reference-verified counts."""
    case = frozen_reference("validator")
    got = _validator_counts(spark, case["ssml"])
    for rule, expected in case["expected_counts"].items():
        assert got.get(rule, 0) == expected, rule


@needs_reference
def test_validator_matches_reference_rules(spark):
    """Rule-level parity: Spark findings counts == reference validator counts
    on the same ssml list."""
    from reference_oracle import ref_ssml_validator

    ssml_list = frozen_reference("validator")["ssml"]
    ref = ref_ssml_validator()
    got = _validator_counts(spark, ssml_list)
    checks = {
        "punctuation": ref.test_punctuation,
        "speak_tags": ref.test_speak_tags,
        "non_standard_characters": ref.test_non_standard_characters_outside_tags,
        "misplaced_closing_tags": ref.test_misplaced_closing_tags,
        "random_single_letters": ref.test_random_single_letters_outside_tags,
        "english_word": ref.test_english_word,
        "balanced_tags": ref.test_balanced_tags,
        "nested_tags": ref.test_nested_tags,
        "duplicates": ref.test_duplicates,
    }
    for rule, ref_rule in checks.items():
        assert got.get(rule, 0) == len(ref_rule(ssml_list)), rule


def _not_done(pages, done, n_buckets):
    """The pages a resume still has to extract, each with its bucket."""
    from textractssmlprocessor_spark import lineage

    return lineage.with_bucket(pages, n_buckets).filter(
        ~F.col("bucket").isin(sorted(done))
    )


def test_lineage_resume(spark, pages, tmp_path):
    """Tier-4: run on a subset, then rerun on the full corpus; completed
    buckets are skipped and the final output equals a fresh full run."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks")
    lin = str(tmp_path / "lineage")

    # first (partial) run: only a slice of pages, as if the job died early
    part = pages.limit(120)
    first = lineage.run_with_lineage(part, spark, out, lin, n_buckets=8)
    n_first = first.count()
    assert n_first > 0
    done_before = lineage.done_buckets(spark, lin)
    assert len(done_before) == 8  # every bucket got at least a lineage row

    # resume over the FULL corpus: everything is skipped (all buckets done)
    assert _not_done(pages, done_before, 8).count() == 0


def test_lineage_partial_resume(spark, pages, tmp_path):
    """Buckets missing from lineage re-run; completed ones don't."""
    from textractssmlprocessor_spark import lineage

    lin = str(tmp_path / "lineage2")
    out = str(tmp_path / "chunks2")

    bucketed = lineage.with_bucket(pages, 8)
    half = bucketed.filter(F.col("bucket") < 4).drop("bucket")
    lineage.run_with_lineage(half, spark, out, lin, n_buckets=8)

    todo = _not_done(pages, lineage.done_buckets(spark, lin), 8)
    remaining_buckets = {r["bucket"] for r in todo.select("bucket").distinct().collect()}
    assert remaining_buckets == {4, 5, 6, 7}

    # finish the job; now nothing remains
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8)
    assert _not_done(pages, lineage.done_buckets(spark, lin), 8).count() == 0


def test_lineage_crash_between_write_and_lineage_is_idempotent(spark, pages, tmp_path):
    """Crash window: bucket data written but lineage row missing -> the
    rerun must REPLACE the partition, not append duplicates."""
    from textractssmlprocessor_spark import lineage
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    out = str(tmp_path / "chunks3")
    lin = str(tmp_path / "lineage3")

    # simulate the crashed first run: chunks written for some buckets, but
    # NO lineage rows recorded
    partial = lineage.with_bucket(
        extract_chunks(pages.limit(100), num_partitions=8), 8
    )
    partial.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(out)

    # full rerun: every bucket reprocesses (lineage empty) and overwrites
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8)
    final = spark.read.parquet(out)
    total = final.count()
    distinct = final.select("url", "chunk_number").distinct().count()
    assert total == distinct, "duplicate (url, chunk_number) rows after resume"
    # and the rerun covered the whole corpus
    n_urls = final.select("url").distinct().count()
    assert n_urls == pages.count()


@contextmanager
def job_ids(spark):
    """Collect into the yielded list the ids of the Spark jobs the block
    submits (its own job group)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))


def _files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path) for f in fs
    )


def _spelled_lineage(chunks):
    """The lineage definition spelled out in one plain aggregate."""
    return chunks.groupBy("bucket").agg(
        F.lit("done").alias("status"),
        F.countDistinct("url").cast("int").alias("n_docs"),
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.hex(F.bit_xor(F.xxhash64("url", "chunk_number", "ssml"))).alias("checksum"),
    )


def test_lineage_first_run_jobs_and_rows(spark, pages, tmp_path):
    """A first run (no lineage table yet) reads no lineage and filters
    nothing: scan, UDF and write, then the read-back lineage tail. Its
    lineage rows equal an independent recompute, checksums included."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks_f")
    lin = str(tmp_path / "lineage_f")
    pages.count()  # the cached input is ready before the measured call
    with job_ids(spark) as ids:
        lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8, num_partitions=8)
    assert 0 < len(ids) <= 5, ids

    chunks = lineage.with_bucket(extract_chunks(pages, num_partitions=8), 8)
    cols = ["bucket", "status", "n_docs", "n_chunks", "checksum"]
    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    got = rows(spark.read.parquet(lin))
    assert got == rows(lineage.lineage_rows(chunks)) == rows(_spelled_lineage(chunks))
    assert len(got) == 8 and all(r[4] for r in got)


@pytest.mark.parametrize(
    "n_buckets, n_partitions, files_per_bucket",
    # B a multiple of P: one writer per bucket; P a multiple of B: lcm = P
    # files. A salt unaligned with the bucket writes B * P = 32 in both.
    [(8, 4, [1] * 8), (4, 8, [2] * 4)],
)
def test_lineage_write_makes_lcm_files(spark, pages, tmp_path, n_buckets, n_partitions, files_per_bucket):
    """The salt routes by the bucket's own url hash, so a run writes at most
    lcm(buckets, partitions) parquet files. Output and lineage rows equal
    an independent recompute, checksums included."""
    from textractssmlprocessor_spark import lineage

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    lineage.run_with_lineage(
        pages, spark, out, lin, n_buckets=n_buckets, num_partitions=n_partitions
    )
    per_bucket = sorted(
        (d, sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out, d))))
        for d in os.listdir(out) if d.startswith("bucket=")
    )
    assert [n for _, n in per_bucket] == files_per_bucket, per_bucket

    # recomputed through a one-partition extract: no salt alignment involved
    chunks = lineage.with_bucket(extract_chunks(pages, num_partitions=1), n_buckets)
    chunk_cols = ["bucket", "url", "chunk_number", "extracted_text", "ssml", "spans"]
    lin_cols = ["bucket", "status", "n_docs", "n_chunks", "checksum"]
    def rows(df, cols):
        return sorted(tuple(str(v) for v in r) for r in df.select(cols).collect())

    assert rows(spark.read.parquet(out), chunk_cols) == rows(chunks, chunk_cols)
    assert rows(spark.read.parquet(lin), lin_cols) == rows(_spelled_lineage(chunks), lin_cols)


def test_lineage_partial_resume_jobs(spark, pages, tmp_path, monkeypatch):
    """Half-then-full: the resume reads the done set once and filters the
    input by bucket, so it submits at most one job more than a first run
    and its extract input has no join. Output and lineage tables equal a
    fresh full run's."""
    from textractssmlprocessor_spark import lineage
    from textractssmlprocessor_spark.operators import extract

    pages.count()  # the cached input is ready before the measured calls
    fresh_out, fresh_lin = str(tmp_path / "fresh_out"), str(tmp_path / "fresh_lin")
    with job_ids(spark) as first_ids:
        lineage.run_with_lineage(
            pages, spark, fresh_out, fresh_lin, n_buckets=8, num_partitions=8
        )

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    half = lineage.with_bucket(pages, 8).filter(F.col("bucket") < 4).drop("bucket")
    lineage.run_with_lineage(half, spark, out, lin, n_buckets=8, num_partitions=8)
    inputs = []

    def spy(df, *args, **kwargs):
        inputs.append(df)
        return extract_chunks(df, *args, **kwargs)

    monkeypatch.setattr(extract, "extract_chunks", spy)
    with job_ids(spark) as resume_ids:
        lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8, num_partitions=8)
    assert 0 < len(resume_ids) <= len(first_ids) + 1, (resume_ids, first_ids)
    (todo,) = inputs
    plan = todo._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan

    def rows(path, cols):
        return sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(path).select(cols).collect()
        )

    chunk_cols = ["bucket", "url", "chunk_number", "extracted_text", "ssml", "spans"]
    assert rows(out, chunk_cols) == rows(fresh_out, chunk_cols)
    lin_cols = ["bucket", "status", "n_docs", "n_chunks", "checksum"]
    assert rows(lin, lin_cols) == rows(fresh_lin, lin_cols)


def test_lineage_pure_resume_scans_nothing(spark, pages, tmp_path):
    """Every bucket done: the rerun reads only the lineage table. It never
    evaluates an input row and writes no output file."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks_p")
    lin = str(tmp_path / "lineage_p")
    lineage.run_with_lineage(pages, spark, out, lin, n_buckets=8, num_partitions=8)
    before = _files(out)
    # any job that scans the input fails on this column
    poisoned = pages.withColumn("text", F.raise_error(F.lit("input scanned")).cast("string"))
    metrics = {}
    with job_ids(spark) as ids:
        again = lineage.run_with_lineage(
            poisoned, spark, out, lin, n_buckets=8, num_partitions=8,
            metrics_out=metrics,
        )
    assert metrics == {"n_chunks": 0, "n_docs_approx": 0, "ssml_bytes": 0}
    assert again.count() == 0
    assert _files(out) == before
    # the only Spark work is reading the done set off the lineage table
    with job_ids(spark) as done_set_ids:
        lineage.done_buckets(spark, lin)
    assert len(ids) == len(done_set_ids), (ids, done_set_ids)


def test_malformed_utf8_html_degrades_not_fails(spark):
    """A mis-encoded crawl page must never kill the job (strict decode
    raises MALFORMED_CHARACTER_CODING since Spark 3.5 — fatal at web
    scale). With charset sniffing fused into the extract UDF the legacy
    tail now DECODES instead of degrading: undeclared non-UTF-8 bytes get
    the windows-1252 browser fallback (u1, u4), and only bytes undefined
    in the sniffed codec degrade to U+FFFD (u1's 0x81)."""
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    rows = [
        # 0x81 is invalid UTF-8 AND undefined in cp1252 -> one replacement
        # char, rest of the page survives
        ("u1", b"\x81<p>after invalid bytes</p>", None, "en"),
        ("u2", "<p>clean page</p>".encode(), None, "en"),
        ("u3", None, "plain text row", "en"),
        # undeclared cp1252 page: E9 + space is invalid UTF-8, the cp1252
        # fallback recovers the intended accent end-to-end
        ("u4", b"caf\xe9 plain legacy row", None, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    got = {r["url"]: r["ssml"] for r in extract_chunks(df, num_partitions=2).collect()}
    assert "�" in got["u1"] and got["u1"].endswith("after invalid bytes</speak>")
    assert got["u2"] == "<speak>clean page</speak>"
    assert got["u3"] == "<speak>plain text row</speak>"
    assert got["u4"] == "<speak>café plain legacy row</speak>"


def test_run_with_lineage_observed_metrics(spark, pages, tmp_path):
    """metrics_out counters are observed during the write action (no
    extra pass) and must agree with the durable outputs."""
    from textractssmlprocessor_spark import lineage

    out = str(tmp_path / "chunks_m")
    lin = str(tmp_path / "lineage_m")
    metrics = {}
    written = lineage.run_with_lineage(
        pages.limit(60), spark, out, lin, n_buckets=8, metrics_out=metrics
    )
    assert metrics["n_chunks"] == written.count() > 0
    # approx distinct (observe forbids exact distinct aggs): sanity band
    n_docs = written.select("url").distinct().count()
    assert 0.8 * n_docs <= metrics["n_docs_approx"] <= 1.2 * n_docs
    assert metrics["ssml_bytes"] > 0
