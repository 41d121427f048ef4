"""SSML validation rule suite -> findings DataFrame (url, chunk_number,
rule, message).

Spark restatement of reference pipeline_support/ssml_validator.py (SURVEY.md
§2.7). Rules that are pure regex run as native JVM expressions (whole-stage
codegen, zero Python); the two stack-automaton rules and the positional
rfind rule run together in one Arrow-batched pandas UDF (rules_udf_fused)
over the pure functions.

Reference quirks replicated on purpose:
- test_non_standard_characters checks only EVEN-indexed tag-split segments
  (ssml_validator.py:64-65 splits with a non-capturing pattern, so the
  ``j % 2 == 0`` guard silently skips every other text segment);
- duplicate detection is order-dependent first-wins across the whole corpus
  (ssml_validator.py:47 a single ``seen_lines`` set) -> window by first
  (url, chunk_number) occurrence.
"""

from __future__ import annotations

from functools import reduce
from typing import List

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType


_EXCLUDED_PUNCT_TAGS = ["<phoneme>", "</phoneme>", "<lang>", "</lang>"]

# [B-HJ-NP-Zb-hj-np-ru-z] == reference's [B-HJ-NP-Zb-hj-np-z] minus the
# s/t lookahead exclusions (ssml_validator.py:168) — no lookahead needed, so
# the same pattern runs in Java regex, RE2 (DuckDB oracle), and Python.
SINGLE_LETTER_RE = r"\b[B-HJ-NP-Zb-hj-np-ru-z]\b"
_TAG_RE = r"<[^>]+>"
# shared with dedup.drop_duplicate_sentences (the write side): detection and
# removal must split sentences identically
SENTENCE_SPLIT_RE = r"(?<=\.|\?|!)\s+"


def _finding(df: DataFrame, rule: str, message: Column) -> DataFrame:
    return df.select(
        "url", "chunk_number", F.lit(rule).alias("rule"), message.alias("message")
    )


def rule_punctuation(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Tag immediately followed by .,:; except phoneme/lang
    (ssml_validator.py:32-41)."""
    matches = F.regexp_extract_all(F.col(col), F.lit(r"(</?[^>]+>)\s*([.,:;])"), F.lit(0))
    df = chunks.select(
        "url", "chunk_number", F.explode(matches).alias("m")
    ).withColumn("tag", F.regexp_extract("m", r"^(</?[^>]+>)", 1))
    df = df.filter(~F.col("tag").isin(_EXCLUDED_PUNCT_TAGS))
    return _finding(
        df,
        "punctuation",
        F.concat(
            F.lit("Suspicious punctuation: '"), F.col("tag"),
            F.lit("' followed by '"), F.substring(F.col("m"), -1, 1), F.lit("'"),
        ),
    )


def rule_speak_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Exactly one <speak>...</speak>, at start and end
    (ssml_validator.py:71-84)."""
    opens = F.size(F.split(F.col(col), "<speak>", -1)) - 1
    closes = F.size(F.split(F.col(col), "</speak>", -1)) - 1
    stripped = F.trim(F.col(col))
    df = chunks.withColumn("opens", opens).withColumn("closes", closes)
    bad_count = df.filter((F.col("opens") != 1) | (F.col("closes") != 1))
    f1 = _finding(
        bad_count,
        "speak_tags",
        F.concat(
            F.lit("Incorrect number of <speak> tags. Found "),
            F.col("opens").cast("string"), F.lit(" opening and "),
            F.col("closes").cast("string"), F.lit(" closing tags."),
        ),
    )
    ok_count = df.filter((F.col("opens") == 1) & (F.col("closes") == 1))
    bad_order = ok_count.filter(
        F.instr(F.col(col), "<speak>") > F.instr(F.col(col), "</speak>")
    )
    f2 = _finding(
        bad_order, "speak_tags",
        F.lit("Closing </speak> tag appears before opening <speak> tag."),
    )
    bad_pos = ok_count.filter(
        (F.instr(F.col(col), "<speak>") <= F.instr(F.col(col), "</speak>"))
        & (
            ~stripped.startswith("<speak>") | ~stripped.endswith("</speak>")
        )
    )
    f3 = _finding(
        bad_pos, "speak_tags",
        F.lit("<speak> tags are not at the start and end of the SSML."),
    )
    return f1.unionByName(f2).unionByName(f3)


def rule_non_standard_characters(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Non-ASCII outside tags — EVEN tag-split segments only
    (ssml_validator.py:57-69, quirk preserved)."""
    parts = F.split(F.col(col), _TAG_RE, -1)
    df = chunks.select(
        "url", "chunk_number", F.posexplode(parts).alias("j", "part")
    ).filter(F.col("j") % 2 == 0)
    runs = F.regexp_extract_all(F.col("part"), F.lit(r"[^\x00-\x7F]+"), F.lit(0))
    df = df.select("url", "chunk_number", F.explode(runs).alias("run"))
    return _finding(
        df,
        "non_standard_characters",
        F.concat(
            F.lit("Non-standard character(s) found outside tags: '"),
            F.col("run"), F.lit("'"),
        ),
    )


def rule_misplaced_closing_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Closing tag followed by punctuation/paren (ssml_validator.py:151-163)."""
    matches = F.regexp_extract_all(
        F.col(col), F.lit(r"</[^>]+>\s*[(.,:;!?)]"), F.lit(0)
    )
    df = chunks.select("url", "chunk_number", F.explode(matches).alias("m"))
    return _finding(
        df, "misplaced_closing_tags",
        F.concat(F.lit("Misplaced closing tag detected: '"), F.col("m"), F.lit("'")),
    )


def rule_malformed_closing_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Punctuation inside a closing tag (ssml_validator.py:131-149)."""
    matches = F.regexp_extract_all(
        F.col(col), F.lit(r"</\s*(\w+)[^>]*[.,:;!?][^>]*>"), F.lit(0)
    )
    df = chunks.select("url", "chunk_number", F.explode(matches).alias("m"))
    return _finding(
        df, "malformed_closing_tags",
        F.concat(F.lit("Malformed closing tag detected: '"), F.col("m"), F.lit("'")),
    )


def rule_random_single_letters(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Stray single letters outside tags (ssml_validator.py:165-183); checks
    every non-empty tag-split segment."""
    parts = F.split(F.col(col), _TAG_RE, -1)
    df = chunks.select(
        "url", "chunk_number", F.explode(parts).alias("part")
    ).filter(F.trim(F.col("part")) != "")
    hits = F.regexp_extract_all(F.col("part"), F.lit(SINGLE_LETTER_RE), F.lit(0))
    df = df.select("url", "chunk_number", F.explode(hits).alias("m"))
    return _finding(
        df, "random_single_letters",
        F.concat(F.lit("Random single letter detected: '"), F.col("m"), F.lit("'")),
    )


def rule_duplicates(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Corpus-wide first-wins duplicate sentences (ssml_validator.py:44-55):
    explode sentences, keep every occurrence of a cleaned line after its
    first (url, chunk_number, position) appearance."""
    sentences = F.split(F.col(col), SENTENCE_SPLIT_RE, -1)
    df = chunks.select(
        "url", "chunk_number", F.posexplode(sentences).alias("pos", "line")
    ).withColumn(
        "clean_line", F.trim(F.regexp_replace("line", _TAG_RE, ""))
    )
    # first-wins WITHOUT a per-line window: a boilerplate line repeated 10^9
    # times would funnel one window partition through one task; min-struct
    # aggregation gets map-side partial aggs, and the join back is AQE
    # skew-splittable. Multiplicity-exact vs row_number > 1: occurrences are
    # pre-aggregated per (line, occurrence key) with a count, and the first
    # occurrence key re-emits count-1 findings (physically-duplicated input
    # rows still flag their extra copies).
    occ = F.struct("url", "chunk_number", "pos")
    grouped = df.groupBy("clean_line", "url", "chunk_number", "pos").agg(
        F.count(F.lit(1)).alias("_m")
    )
    firsts = (
        grouped.groupBy("clean_line")
        .agg(F.min(occ).alias("_first"), F.sum("_m").alias("_cnt"))
        .filter(F.col("_cnt") > 1)  # unique lines never produce findings
        .select("clean_line", "_first")
    )
    n_emit = F.when(occ == F.col("_first"), F.col("_m") - 1).otherwise(F.col("_m"))
    df = (
        grouped.join(firsts, "clean_line")
        .withColumn("_k", n_emit)
        .filter(F.col("_k") > 0)
        .select(
            "url",
            "chunk_number",
            "clean_line",
            F.explode(F.sequence(F.lit(1), F.col("_k"))).alias("_i"),
        )
        .drop("_i")
    )
    return _finding(
        df, "duplicates",
        F.concat(F.lit("Possible duplicate: '"), F.col("clean_line"), F.lit("'")),
    )


def rule_translation_length(
    chunks: DataFrame,
    original_col: str = "extracted_text",
    ssml_col: str = "ssml",
    low: float = 0.95,
    high: float = 3.0,
) -> DataFrame:
    """EN/LA word-count ratio outside [low, high]
    (ssml_validator.py:105-129). Word counting = \\b[\\w-]+\\b, and SSML is
    stripped (<sub> with content removed first) before counting."""
    word_re = r"\b[\w-]+\b"
    clean_en = F.regexp_replace(
        F.regexp_replace(F.col(ssml_col), r"(?s)<\s*sub\s+[^>]*>.*?</\s*sub\s*>", ""),
        _TAG_RE, "",
    )
    latin_words = F.size(F.regexp_extract_all(F.col(original_col), F.lit(word_re), F.lit(0)))
    english_words = F.size(F.regexp_extract_all(clean_en, F.lit(word_re), F.lit(0)))
    df = (
        chunks.withColumn("latin_words", latin_words)
        .withColumn("english_words", english_words)
        .withColumn(
            "ratio",
            F.when(
                F.col("latin_words") > 0,
                F.col("english_words") / F.col("latin_words"),
            ).otherwise(F.lit(float("inf"))),
        )
        .filter((F.col("ratio") > high) | (F.col("ratio") < low))
    )
    return _finding(
        df, "translation_length",
        F.concat(
            F.lit("Translation length issue detected. Ratio: "),
            F.round("ratio", 2).cast("string"),
        ),
    )


# --- UDF-backed rules (stack automata / positional logic) --------------------


def _english_word_findings(ssml: str) -> List[str]:
    """rfind-based containment (ssml_validator.py:17-29)."""
    import re

    out = []
    for m in re.finditer(r"\b(?:E|e)nglish\b", ssml, re.IGNORECASE):
        open_tag = ssml.rfind("<lang", 0, m.start())
        close_tag = ssml.rfind("</lang>", 0, m.start())
        if not (open_tag > close_tag):
            out.append(f"Found '{m.group()}' outside language tags")
    return out


def _balanced_findings(ssml: str) -> List[str]:
    """Stack-based open/close matching (ssml_validator.py:185-219)."""
    import re

    allowed = {"break", "lang", "p", "phoneme", "s", "speak", "w"}
    out: List[str] = []
    stack: List[str] = []
    for m in re.finditer(r"<(/?)(\w+)([^>]*?)(/?)>", ssml):
        closing, name, self_closing = m.group(1) == "/", m.group(2), m.group(4) == "/"
        if name not in allowed:
            continue
        if closing:
            if stack and stack[-1] == name:
                stack.pop()
            else:
                out.append(f"Unmatched closing tag: </{name}>")
        elif not self_closing:
            stack.append(name)
    while stack:
        out.append(f"Unmatched opening tag: <{stack.pop()}>")
    return out


def _nested_findings(ssml: str) -> List[str]:
    """Same-tag nesting detection (ssml_validator.py:221-251)."""
    import re

    tags = {"lang", "p", "phoneme", "s", "speak", "w"}
    out: List[str] = []
    stack: List[str] = []
    for m in re.finditer(r"<(/?)(\w+)[^>]*?>", ssml):
        closing, name = m.group(1) == "/", m.group(2)
        if name not in tags:
            continue
        if closing:
            if stack and stack[-1] == name:
                stack.pop()
            else:
                out.append(f"Unmatched closing tag: </{name}>")
        else:
            if stack and stack[-1] == name:
                out.append(f"Nested <{name}> tag detected.")
            stack.append(name)
    return out


def rules_udf_fused(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """The three Python-automaton rules in ONE Arrow round trip (each value
    crosses the JVM<->Python boundary once instead of three times)."""
    schema = ArrayType(
        StructType(
            [StructField("rule", StringType()), StructField("message", StringType())]
        )
    )

    @F.pandas_udf(schema)
    def fused(s: pd.Series) -> pd.Series:
        def run(t):
            if t is None:
                return []
            return (
                [{"rule": "english_word", "message": m} for m in _english_word_findings(t)]
                + [{"rule": "balanced_tags", "message": m} for m in _balanced_findings(t)]
                + [{"rule": "nested_tags", "message": m} for m in _nested_findings(t)]
            )

        return s.map(run)

    df = chunks.select("url", "chunk_number", F.explode(fused(F.col(col))).alias("f"))
    return df.select("url", "chunk_number", F.col("f.rule").alias("rule"), F.col("f.message").alias("message"))


ALL_RULES = [
    rule_punctuation,
    rule_speak_tags,
    rule_non_standard_characters,
    rule_misplaced_closing_tags,
    rule_malformed_closing_tags,
    rule_random_single_letters,
    rule_duplicates,
    rules_udf_fused,
]


def validate(chunks: DataFrame) -> DataFrame:
    """Union of all rule findings (ssml_validator.py:255-270): the native
    rules as codegen'd branches, the three automaton rules as the one fused
    Arrow pass. rule_translation_length (A4) also needs the source text and
    runs as its own operator."""
    return reduce(DataFrame.unionByName, (rule(chunks) for rule in ALL_RULES))
