"""Sentence-packed text chunking and tag-aware SSML splitting.

Parity targets:
- ``chunk_text``  -> reference utils.py:60-84 (greedy ≤2000-char packing)
- ``split_ssml``  -> reference ssml_processing.py:9-56 (tag-stack splitter)

Both are pure functions of a single string so they vectorize cleanly inside
pandas UDFs (one Python call per value, no cross-row state).
"""

from __future__ import annotations

import re
from typing import List, Tuple

from .sentencize import sentencize

DEFAULT_TEXT_CHUNK = 2000
DEFAULT_SSML_CHUNK = 2500


def chunk_text(text: str, max_chunk_size: int = DEFAULT_TEXT_CHUNK) -> List[str]:
    """Greedy sentence packing, byte-compatible with reference utils.py:60-84
    given the same sentence splitter (see functions/sentencize.py): the
    chunk strings of :func:`chunk_text_with_spans`, the one packer."""
    return [c for c, _, _ in chunk_text_with_spans(text, max_chunk_size)]


def chunk_text_with_spans(
    text: str, max_chunk_size: int = DEFAULT_TEXT_CHUNK
) -> List[Tuple[str, int, int]]:
    """Greedy sentence packing (reference utils.py:60-84) with each chunk's
    ``(chunk, start, end)`` character offsets into the *input* text covering
    its first..last sentence.

    Packing rule (order matters): if adding the next sentence would overflow a
    non-empty chunk, flush first; after appending ``sentence + " "``, flush
    again if the chunk is already >= max. Chunks are stripped.

    ``text[start:end]`` contains the chunk's sentences with their original
    inter-sentence whitespace (the chunk string itself normalizes separators
    to single spaces, matching the reference's ``sentence + " "`` join).
    """
    sentences = sentencize(text)
    index = text.index  # local binds: this loop runs per sentence per doc
    out: List[Tuple[str, int, int]] = []
    parts: List[str] = []  # sentences of the open chunk (joined on flush)
    cur_len = 0
    cursor = 0
    span_start = -1
    span_end = -1

    def flush() -> None:
        # " ".join(...)  + .strip() is byte-equal to the reference's
        # `current += s + " "` accumulation followed by .strip(): interiors
        # are identical, and strip() normalizes both variants' ends
        # (sentencize sentences may carry leading/trailing whitespace)
        out.append((" ".join(parts).strip(), span_start, span_end))

    for s in sentences:
        b = index(s, cursor)
        e = cursor = b + len(s)
        if cur_len + len(s) > max_chunk_size and parts:
            flush()
            parts, cur_len, span_start = [], 0, -1
        if span_start < 0:
            span_start = b
        parts.append(s)
        cur_len += len(s) + 1
        span_end = e
        if cur_len >= max_chunk_size:
            flush()
            parts, cur_len, span_start = [], 0, -1
    if parts:
        flush()
    return out


# --- split_ssml (reference ssml_processing.py:9-56) --------------------------

_TAG_TOKEN = re.compile(r"(<[^>]+>)")
_OPEN_TAG = re.compile(r"<[^/]+>")
_CLOSE_TAG = re.compile(r"</[^>]+>")


def _tag_name(tag: str) -> str:
    return tag[1:-1].split()[0]


def split_ssml(ssml_text: str, max_chunk_size: int = DEFAULT_SSML_CHUNK) -> List[str]:
    """Split SSML into ≤max_chunk_size pieces, closing open tags at each cut
    and reopening them in the next piece; every piece is <speak>-wrapped.

    Matches reference ssml_processing.py:9-56 exactly, including its
    artifact-fixup pass (`<p></p>` removal, double-speak collapse) and its
    quirk that `<speak ...>` openers are never tracked on the tag stack.
    """
    parts = _TAG_TOKEN.split(ssml_text)
    chunks: List[str] = []
    current = ""
    current_len = 0
    open_tags: List[str] = []

    def closing_for(tags: List[str]) -> str:
        return "".join(
            f"</{_tag_name(t)}>" for t in reversed(tags) if not t.startswith("</")
        )

    def opening_for(tags: List[str]) -> str:
        return "".join(t for t in tags if not t.startswith("</"))

    def track(part: str) -> None:
        if _OPEN_TAG.match(part) and not part.startswith("<speak"):
            open_tags.append(part)
        elif _CLOSE_TAG.match(part):
            name = part[2:-1]
            if open_tags and _tag_name(open_tags[-1]) == name:
                open_tags.pop()

    for part in parts:
        part_len = len(part)
        if current_len + part_len <= max_chunk_size:
            current += part
            current_len += part_len
            track(part)
        else:
            current += closing_for(open_tags)
            chunks.append(f"<speak>{current.strip()}</speak>")
            current = opening_for(open_tags) + part
            current_len = len(current)
            open_tags[:] = [t for t in open_tags if not t.startswith("</")]
            track(part)

    if current:
        current += closing_for(open_tags)
        chunks.append(f"<speak>{current}</speak>")

    return [
        c.replace("<p></p>", "")
        .replace("<speak><speak>", "<speak>")
        .replace("</speak></speak>", "</speak>")
        for c in chunks
    ]
