"""SSML validation rule suite -> findings DataFrame (url, chunk_number,
rule, message).

Spark restatement of reference pipeline_support/ssml_validator.py (SURVEY.md
§2.7), which runs every rule over a chunk in one loop
(ssml_validator.py:255-270). ``validate`` keeps that shape: each per-chunk
rule is a Column function (ssml -> array of message strings), and one
projection concatenates the nine rules' findings and explodes them, so one
pass over the chunk table serves them all. The six pure-regex rules are
native JVM expressions (regexp_extract_all and higher-order functions,
whole-stage codegen, zero Python); the two stack-automaton rules and the
positional rfind rule run together in one Arrow-batched pandas UDF
(``automaton_rules``) over the pure functions. Only the corpus-wide
duplicates rule, which needs every chunk, is a second branch.

Reference quirks replicated on purpose:
- test_non_standard_characters checks only EVEN-indexed tag-split segments
  (ssml_validator.py:64-65 splits with a non-capturing pattern, so the
  ``j % 2 == 0`` guard silently skips every other text segment);
- duplicate detection is order-dependent first-wins across the whole corpus
  (ssml_validator.py:47 a single ``seen_lines`` set) -> the first
  (url, chunk_number, position) occurrence of a line is not a finding.
"""

from __future__ import annotations

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

_FINDINGS_TYPE = ArrayType(
    StructType([StructField("rule", StringType()), StructField("message", StringType())])
)


def _matches(s: Column, pattern: str) -> Column:
    return F.regexp_extract_all(s, F.lit(pattern), F.lit(0))


def _quoted(prefix: str, matches: Column) -> Column:
    return F.transform(matches, lambda m: F.concat(F.lit(prefix), m, F.lit("'")))


# --- native rules: ssml Column -> array<string> of messages ------------------
# Each function is named after the rule it reports as (validate tags its
# messages with the function's __name__).


def punctuation(ssml: Column) -> Column:
    """Tag immediately followed by .,:; except phoneme/lang
    (ssml_validator.py:32-41)."""

    def tag(m: Column) -> Column:
        return F.regexp_extract(m, r"^(</?[^>]+>)", 1)

    kept = F.filter(
        _matches(ssml, r"(</?[^>]+>)\s*([.,:;])"),
        lambda m: ~tag(m).isin(_EXCLUDED_PUNCT_TAGS),
    )
    return F.transform(
        kept,
        lambda m: F.concat(
            F.lit("Suspicious punctuation: '"), tag(m),
            F.lit("' followed by '"), F.substring(m, -1, 1), F.lit("'"),
        ),
    )


def speak_tags(ssml: Column) -> Column:
    """Exactly one <speak>...</speak>, at start and end
    (ssml_validator.py:71-84)."""
    opens = F.size(F.split(ssml, "<speak>", -1)) - 1
    closes = F.size(F.split(ssml, "</speak>", -1)) - 1
    stripped = F.trim(ssml)
    message = (
        F.when(
            (opens != 1) | (closes != 1),
            F.concat(
                F.lit("Incorrect number of <speak> tags. Found "),
                opens.cast("string"), F.lit(" opening and "),
                closes.cast("string"), F.lit(" closing tags."),
            ),
        )
        .when(
            F.instr(ssml, "<speak>") > F.instr(ssml, "</speak>"),
            F.lit("Closing </speak> tag appears before opening <speak> tag."),
        )
        .when(
            ~stripped.startswith("<speak>") | ~stripped.endswith("</speak>"),
            F.lit("<speak> tags are not at the start and end of the SSML."),
        )
    )
    return F.array_compact(F.array(message))


def non_standard_characters(ssml: Column) -> Column:
    """Non-ASCII outside tags — EVEN tag-split segments only
    (ssml_validator.py:57-69, quirk preserved)."""
    even = F.filter(F.split(ssml, _TAG_RE, -1), lambda p, j: j % 2 == 0)
    runs = F.flatten(F.transform(even, lambda p: _matches(p, r"[^\x00-\x7F]+")))
    return _quoted("Non-standard character(s) found outside tags: '", runs)


def misplaced_closing_tags(ssml: Column) -> Column:
    """Closing tag followed by punctuation/paren (ssml_validator.py:151-163)."""
    return _quoted(
        "Misplaced closing tag detected: '", _matches(ssml, r"</[^>]+>\s*[(.,:;!?)]")
    )


def malformed_closing_tags(ssml: Column) -> Column:
    """Punctuation inside a closing tag (ssml_validator.py:131-149)."""
    return _quoted(
        "Malformed closing tag detected: '",
        _matches(ssml, r"</\s*(\w+)[^>]*[.,:;!?][^>]*>"),
    )


def random_single_letters(ssml: Column) -> Column:
    """Stray single letters outside tags (ssml_validator.py:165-183); checks
    every non-empty tag-split segment."""
    parts = F.filter(F.split(ssml, _TAG_RE, -1), lambda p: F.trim(p) != "")
    hits = F.flatten(F.transform(parts, lambda p: _matches(p, SINGLE_LETTER_RE)))
    return _quoted("Random single letter detected: '", hits)


NATIVE_RULES = (
    punctuation,
    speak_tags,
    non_standard_characters,
    misplaced_closing_tags,
    malformed_closing_tags,
    random_single_letters,
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
    return (
        grouped.join(firsts, "clean_line")
        .withColumn("_k", n_emit)
        .filter(F.col("_k") > 0)
        .select(
            "url",
            "chunk_number",
            F.lit("duplicates").alias("rule"),
            F.concat(
                F.lit("Possible duplicate: '"), F.col("clean_line"), F.lit("'")
            ).alias("message"),
            F.explode(F.sequence(F.lit(1), F.col("_k"))).alias("_i"),
        )
        .drop("_i")
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
    latin_words = F.size(_matches(F.col(original_col), word_re))
    english_words = F.size(_matches(clean_en, word_re))
    ratio = F.when(latin_words > 0, english_words / latin_words).otherwise(
        F.lit(float("inf"))
    )
    return (
        chunks.withColumn("ratio", ratio)
        .filter((F.col("ratio") > high) | (F.col("ratio") < low))
        .select(
            "url",
            "chunk_number",
            F.lit("translation_length").alias("rule"),
            F.concat(
                F.lit("Translation length issue detected. Ratio: "),
                F.round("ratio", 2).cast("string"),
            ).alias("message"),
        )
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


@F.pandas_udf(_FINDINGS_TYPE)
def automaton_rules(s: pd.Series) -> pd.Series:
    """The three Python-automaton rules in ONE Arrow round trip (each value
    crosses the JVM<->Python boundary once instead of three times)."""

    def run(t):
        if t is None:
            return []
        return (
            [{"rule": "english_word", "message": m} for m in _english_word_findings(t)]
            + [{"rule": "balanced_tags", "message": m} for m in _balanced_findings(t)]
            + [{"rule": "nested_tags", "message": m} for m in _nested_findings(t)]
        )

    return s.map(run)


def _tagged(rule: str, messages: Column) -> Column:
    findings = F.transform(
        messages, lambda m: F.struct(F.lit(rule).alias("rule"), m.alias("message"))
    )
    return F.coalesce(findings, F.array().cast(_FINDINGS_TYPE))


def validate(chunks: DataFrame) -> DataFrame:
    """All rule findings (ssml_validator.py:255-270): the nine per-chunk
    rules in one projection of finding arrays and one explode, unioned with
    the corpus-wide rule_duplicates. rule_translation_length (A4) also needs
    the source text and runs as its own operator."""
    ssml = F.col("ssml")
    findings = F.concat(
        *(_tagged(rule.__name__, rule(ssml)) for rule in NATIVE_RULES),
        automaton_rules(ssml),
    )
    per_chunk = chunks.select(
        "url", "chunk_number", F.explode(findings).alias("f")
    ).select("url", "chunk_number", "f.rule", "f.message")
    return per_chunk.unionByName(rule_duplicates(chunks))
