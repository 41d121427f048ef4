"""Line/regex cleaning semantics (reference parity).

Each function reimplements one deterministic transform of the reference,
cited by file:line into /root/reference. All are pure ``str -> str`` (or
scalar) functions so they can be wrapped into vectorized pandas UDFs and be
unit-tested against the reference functions directly.
"""

from __future__ import annotations

import re
from typing import List

# --- F1: header/page-title removal (reference utils.py:52-58) ---------------
# Python str.isupper() semantics matter: a line with no cased characters is
# NOT "upper", so "123 456" is kept; "CHAPTER I" (2 words, cased+upper) drops.


def remove_headers(text: str) -> str:
    """Drop lines that are ALL-CAPS (str.isupper) with fewer than 5 words."""
    kept = [
        line
        for line in text.split("\n")
        if not (line.isupper() and len(line.split()) < 5)
    ]
    return "\n".join(kept)


# --- F2: HTML detection (reference utils.py:334-336) ------------------------

_HTML_TAG = re.compile(r"<.*?>")


def is_html(text: str) -> bool:
    return bool(_HTML_TAG.search(text))


# --- F3: note removal (reference text_processing.py:6-16) -------------------
# The nested-bracket pattern supports 3 levels of nesting inside [Note: ...].

_NOTE = re.compile(
    r"\[Note:(?:[^\[\]]|\[(?:[^\[\]]|\[(?:[^\[\]]|\[[^\[\]]*\])*\])*\])*\]",
    re.DOTALL | re.IGNORECASE,
)
_EMPTY_P = re.compile(r"<p>\s*</p>")
_BR = re.compile(r"<br>\s*")
_EMPTY_SMALL = re.compile(r"<small>\s*</small>")


def remove_notes(text: str) -> str:
    text = _NOTE.sub("", text)
    text = _EMPTY_P.sub("", text)
    text = _BR.sub("", text)
    text = _EMPTY_SMALL.sub("", text)
    return text


# --- F4: residual bracket removal (reference text_processing.py:18-19) ------

_SQUARE = re.compile(r"\[.*?\]", re.DOTALL)


def remove_square_brackets(text: str) -> str:
    return _SQUARE.sub("", text)


# --- F5: subtitle text prep (reference timestamp.py:15-23) ------------------

_ANY_TAG = re.compile(r"<[^>]+>")
_MULTISPACE = re.compile(r" +")


def clean_text(text: str) -> str:
    """Strip tags, collapse runs of spaces, drop blank lines."""
    text = _ANY_TAG.sub("", text)
    text = _MULTISPACE.sub(" ", text)
    lines = [line.strip() for line in text.split("\n") if line.strip()]
    return "\n".join(lines)


# --- F6: validator tag strip (reference ssml_validator.py:86-92) ------------

_SUB_WITH_CONTENT = re.compile(r"<\s*sub\s+[^>]*>.*?</\s*sub\s*>", re.DOTALL)
_WS_RUN = re.compile(r"\s+")


def remove_ssml_tags_keep_words(text: str) -> str:
    """Drop <sub>...</sub> including content, then all tags, then squeeze ws."""
    text = _SUB_WITH_CONTENT.sub("", text)
    text = _ANY_TAG.sub("", text)
    return _WS_RUN.sub(" ", text).strip()


# --- F7: audio-side tag strip (reference audio_processing.py:52-53) ---------


def remove_ssml_tags(text: str) -> str:
    return _ANY_TAG.sub("", text).strip()


# --- X2: section split (reference text_processing.py:21-23) -----------------


def split_into_sections(text: str) -> List[str]:
    sections = re.split(r"<h4><center>", text)
    return [s.strip() for s in sections if s.strip() and s.strip() != "<br>"]


# --- T5: SRT time formatting (reference timestamp.py:227-231) --------------


def format_time(seconds: float) -> str:
    """Float seconds -> ``HH:MM:SS,mmm`` with millisecond TRUNCATION."""
    hours, remainder = divmod(seconds, 3600)
    minutes, secs = divmod(remainder, 60)
    milliseconds = int((secs % 1) * 1000)
    return f"{int(hours):02d}:{int(minutes):02d}:{int(secs):02d},{milliseconds:03d}"


# --- T7: natural sort key (reference timestamp.py:233-234) ------------------


def natural_sort_key(s: str):
    return [int(c) if c.isdigit() else c.lower() for c in re.split(r"(\d+)", s)]


def natural_sort_rank_key(s: str) -> str:
    """Total-order string key equivalent to natural_sort_key for typical
    filenames: digit runs are zero-padded to 12, letters lowercased. Usable
    as a plain ORDER BY column in both Spark and SQL oracles."""
    return "".join(
        c.zfill(12) if c.isdigit() else c.lower() for c in re.split(r"(\d+)", s)
    )


# --- K6: title-file stub (reference utils.py:321-331) -----------------------
# The template is reproduced verbatim, including the reference's odd literal
# "[TITLE </speak>]" placeholder line.


def title_file_content() -> str:
    return (
        "<speak>\n"
        '<break time="1s"/>[TITLE </speak>]\n'
        '<break time="2s"/>\n'
        "</speak>"
    )


def title_file_name(base_name: str, chunk_num: int) -> str:
    return f"{base_name}_Title_voice_Ruth_chunk_{chunk_num}.txt"
