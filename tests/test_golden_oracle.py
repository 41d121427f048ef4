"""Lockstep tests for the fixture-golden oracle mirrors (tools/golden_oracle):
each pure-Python mirror must produce EXACTLY the rows the Spark operator
produces, on adversarial inputs exercising the Java-vs-Python regex edges
(unicode whitespace, trim-is-space-only, even-segment quirk, first-wins
multiplicity). If a mirror drifts, the driver's golden-backed correctness
gate would silently compare against a wrong expectation — these tests fail
first."""

from __future__ import annotations

import os
import random
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import golden_oracle as G  # noqa: E402

ADVERSARIAL_SSML = [
    # tag+punct, excluded tags, misplaced+malformed closing
    "<speak><phoneme>x</phoneme>. tail</s>, mid</sp.eak>done</speak>",
    # double speak + out-of-position
    "  <speak>body</speak> trailer",
    "<speak><speak>x</speak>",
    # non-ascii inside and outside tags (even-segment quirk), nbsp
    "<speak>café <lang xml:lang=\"fr\">déjà</lang> résumé q</speak>",
    # stray single letters incl. segments that are whitespace-but-not-space
    "<speak>q here</speak>\n\t<w>b</w> z end",
    # duplicates: repeated sentences across and within rows
    "<speak>Same line here. Same line here. Other bit.</speak>",
    "<speak>Same line here. Unique tail two.</speak>",
    # english-word rule + balanced/nested automata
    "<speak>the english word <lang xml:lang=\"en\">english</lang></speak>",
    "<speak><p><p>nested</p></p><s>unclosed</speak>",
]


# one row that fires all six native rules and the english_word automaton:
# stray text before <speak>, '</s>,' (punctuation + misplaced), '</b.>'
# (malformed), café in an even segment, single letters x and q
ALL_RULES_SSML = "x <speak></s>, café q </b.> english</speak>"
ALL_RULES_FIRED = {
    "punctuation", "speak_tags", "non_standard_characters",
    "misplaced_closing_tags", "malformed_closing_tags",
    "random_single_letters", "english_word",
}
# the tags, punctuation, non-ASCII runs, letters and whitespace that
# ADVERSARIAL_SSML uses, as the alphabet of a seeded random sample
_ALPHABET = sorted(
    {
        tok
        for s in ADVERSARIAL_SSML
        for tok in re.findall(r"<[^>]+>|[^\x00-\x7F]+|\w+|\s|[^\w\s<]", s)
    }
)


def _sampled_ssml(seed: int = 10, n: int = 200):
    rng = random.Random(seed)
    return [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(1, 14)))
        for _ in range(n)
    ]


VALIDATE_SSML = ADVERSARIAL_SSML + [None, "", ALL_RULES_SSML] + _sampled_ssml()
VALIDATE_ROWS = [(f"u{i}", i + 1, s) for i, s in enumerate(VALIDATE_SSML)]


@pytest.fixture(scope="module")
def chunk_table(spark):
    return spark.createDataFrame(
        VALIDATE_ROWS, "url string, chunk_number int, ssml string"
    )


def _sorted_tuples(rows):
    return sorted(tuple(r[k] for k in ("url", "chunk_number", "rule", "message")) for r in rows)


def test_validate_mirror_matches_spark(spark, chunk_table):
    """Adversarial rows, a NULL and an '' row, one row firing seven rules,
    and a seeded sample over the adversarial alphabet, in one collect."""
    from textractssmlprocessor_spark.operators.validate import validate

    got = _sorted_tuples(r.asDict() for r in validate(chunk_table).collect())
    exp = _sorted_tuples(G.validate_rows(VALIDATE_ROWS))
    assert got == exp
    all_rules_url = VALIDATE_ROWS[VALIDATE_SSML.index(ALL_RULES_SSML)][0]
    assert ALL_RULES_FIRED <= {r for u, _, r, _ in got if u == all_rules_url}


def test_duplicates_mirror_multiplicity(spark):
    from textractssmlprocessor_spark.operators.validate import rule_duplicates

    # physically duplicated input rows must flag their extra copies too
    rows = [
        ("a", 1, "<speak>Dup line. Dup line.</speak>"),
        ("a", 1, "<speak>Dup line. Dup line.</speak>"),
        ("b", 2, "<speak>Dup line. Fresh one.</speak>"),
        ("c", 3, None),
    ]
    df = spark.createDataFrame(rows, "url string, chunk_number int, ssml string")
    got = _sorted_tuples(r.asDict() for r in rule_duplicates(df).collect())
    exp = _sorted_tuples(G.duplicates_rows(rows))
    assert got == exp


def test_srt_mirror_matches_spark(spark):
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.align import generate_srt

    rows = [
        ("u1", 1, "First chunk sentence. And another one!",
         "<speak>First chunk sentence. And another one!</speak>"),
        ("u1", 2, "Second chunk (with a parenthetical sentence marker?) here.",
         "<speak>Second chunk (with a parenthetical sentence marker?) here.</speak>"),
        ("u2", 1, "Solo chunk.", "<speak>Solo chunk.</speak>"),
    ]
    chunks = spark.createDataFrame(
        rows, "url string, chunk_number int, extracted_text string, ssml string"
    )
    manifest = chunks.select(
        "url",
        F.col("chunk_number").alias("part_no"),
        (F.length("extracted_text") * 0.06).alias("duration"),
    )
    got = {
        r["url"]: r["srt"]
        for r in generate_srt(chunks, manifest, "english", True).collect()
    }
    chunk_rows = [
        {"url": u, "chunk_number": n, "extracted_text": t, "ssml": s}
        for u, n, t, s in rows
    ]
    exp = {r["url"]: r["srt"] for r in G.srt_rows(chunk_rows)}
    assert got == exp


def test_extract_mirror_matches_spark(spark):
    """Spans-JSON + chunk mirror vs the fused-UDF pipeline on mixed payloads."""
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.extract import extract_chunks

    pages = [
        ("p1", None, "Plain text. " * 300, "en"),
        ("p2", "<h4>T</h4><p>Body &amp; more.</p>".encode(), None, "en"),
    ]
    df = spark.createDataFrame(
        pages, "url string, html binary, text string, lang string"
    )
    got = sorted(
        (r["url"], r["chunk_number"], r["extracted_text"], r["ssml"], r["spans"])
        for r in extract_chunks(df, num_partitions=2)
        .withColumn("spans", F.to_json("spans"))
        .collect()
    )
    mirror_pages = [
        (u, (bytes(h).decode() if h else t), lang) for u, h, t, lang in pages
    ]
    exp = sorted(
        (r["url"], r["chunk_number"], r["extracted_text"], r["ssml"], r["spans"])
        for r in G.extract_chunks_rows(mirror_pages)
    )
    assert got == exp


def test_oracle_sql_shares_nonascii_literals_with_modules():
    """Drift lock for hand-written non-ASCII in oracle SQL (CLAUDE.md
    convention): the ellipsis/bullet/em-dash codepoints the Spark
    operators use must appear byte-identically in the DuckDB replicas."""
    import __spark_entry__ as e
    from textractssmlprocessor_spark.operators.ocr import FOLIO_RE
    from textractssmlprocessor_spark.operators.textstats import GOPHER_BULLETS

    sqls = e.oracle_sql()
    g = sqls["gopher_quality"]
    assert "…" in g  # … in the symbol regex and ellipsis-end rule
    for b in GOPHER_BULLETS:
        assert f"'{b}'" in g
    # the folio regex reaches the ocr oracle via the SHARED constant
    assert FOLIO_RE in sqls["ocr_reconstruct"]
    assert "—" in FOLIO_RE  # em dash lives in ONE place
