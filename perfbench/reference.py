"""In-process recomputation of pass outputs through the public pure
functions, used to check a seeded sample of each pass against Spark.

These calls never touch Spark: they are the single-thread reference for
the fused extraction UDF (charset decode -> DOM clean -> chunk+spans ->
substitutions -> SSML normalize) and for the annotate stages (SSML
re-split, subtitle packing, SRT blocks).
"""

from __future__ import annotations

from textractssmlprocessor_spark.functions.chunking import (
    chunk_text_with_spans,
    split_ssml,
)
from textractssmlprocessor_spark.functions.cleaning import is_html
from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
from textractssmlprocessor_spark.functions.ssml import normalize_ssml
from textractssmlprocessor_spark.functions.subs import expand_substitutions
from textractssmlprocessor_spark.functions.subtitles import chunk_subtitles, srt_block
from textractssmlprocessor_spark.operators.charset import decode_payload

SRT_VARIANTS = (
    ("english_original", "english", False),
    ("english_shorter", "english", True),
    ("latin_original", "latin", False),
    ("latin_shorter", "latin", True),
)


def page_payload(html: bytes | None, text: str | None) -> str | None:
    return decode_payload(html)[0] if html is not None else text


def extract_page(html: bytes | None, text: str | None) -> list[tuple[str, str, int, int]]:
    """One page -> [(chunk, ssml, start, end)], in chunk order."""
    payload = page_payload(html, text)
    if payload is None:
        return []
    cleaned = convert_html_to_ssml(payload) if is_html(payload) else payload
    return [
        (c, normalize_ssml(expand_substitutions(c)), s, e)
        for c, s, e in chunk_text_with_spans(cleaned)
    ]


def split_parts(ssml: str | None) -> list[str] | None:
    return None if ssml is None else split_ssml(ssml)


def srt_documents(chunks: list[tuple[str, str, float]]) -> dict[str, str | None]:
    """One project's chunks ``[(extracted_text, ssml, duration)]`` in
    chunk order -> its four SRT documents (None where no subtitle)."""
    aligned, end = [], 0.0
    for text, ssml, duration in chunks:
        end += duration
        aligned.append((text, ssml, end - duration, end))
    out: dict[str, str | None] = {}
    for name, language, shorter in SRT_VARIANTS:
        blocks, index = [], 0
        for text, ssml, start, stop in aligned:
            body = ssml if language == "english" else text
            if not body:
                continue
            for sub in chunk_subtitles(body, start, stop, language, shorter):
                index += 1
                blocks.append(srt_block(index, sub["start"], sub["end"], sub["text"]))
        out[name] = "".join(blocks) if blocks else None
    return out
