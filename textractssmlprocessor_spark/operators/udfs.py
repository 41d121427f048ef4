"""Vectorized pandas UDF wrappers (Arrow batch transfer, no per-row Python
in the Spark plan — each UDF is one Python call per Arrow batch, applying the
pure functions from ``textractssmlprocessor_spark.functions``).

Chained pandas UDF projections fuse into a single ArrowEvalPython node, so
clean -> chunk -> normalize costs one Python round-trip per batch.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.chunking import chunk_text_with_spans
from ..functions.cleaning import (
    is_html,
    remove_headers,
    remove_notes,
    remove_square_brackets,
)
from ..functions.dom import convert_html_to_ssml
from ..functions.ssml import normalize_ssml
from ..functions.subs import expand_substitutions
from pyspark.sql.types import IntegerType, StructField, StructType

from ..schema import SUBTITLE_TYPE
from ..functions.subtitles import chunk_subtitles

EXTRACTED_CHUNK_TYPE = StructType(
    [
        StructField("chunk", StringType(), True),
        StructField("ssml", StringType(), True),
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
    ]
)


def _page_payload(html: Optional[bytes], text: Optional[str]) -> Optional[str]:
    """Raw page -> payload string: charset-sniffed decode of the html bytes
    (WHATWG BOM/meta-prescan/utf-8/cp1252 chain, operators/charset.py) with
    the text column as fallback. Decoding in-batch here costs nothing extra:
    the payload already crossed Arrow into this UDF — the binary crosses
    instead of the decoded string (for valid UTF-8, the overwhelming
    majority, the decode attempt is one C-level call per row and the result
    is byte-identical to the previous JVM make_valid_utf8(cast) path)."""
    from .charset import decode_payload

    if html is not None:
        return decode_payload(html)[0]
    return text


def _full_extract(t: Optional[str]):
    if t is None:
        return None
    cleaned = convert_html_to_ssml(t) if is_html(t) else t
    return [
        {
            "chunk": c,
            "ssml": normalize_ssml(expand_substitutions(c)),
            "start": s,
            "end": e,
        }
        for c, s, e in chunk_text_with_spans(cleaned)
    ]


@F.pandas_udf(ArrayType(EXTRACTED_CHUNK_TYPE))
def extract_full_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """FUSED extraction: charset-sniff decode -> clean -> chunk+spans ->
    substitutions -> SSML normalize in ONE Arrow round trip (the whole
    reference lifecycle utils.py:278-319 per batch). Halves JVM<->Python
    traffic vs chaining separate UDFs across the posexplode."""
    return pd.Series(
        [_full_extract(_page_payload(h, t)) for h, t in zip(html, text)]
    )


@F.pandas_udf(StringType())
def clean_document_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """Charset-sniffed decode + HTML branch of the reference's
    process_text_file (utils.py:284-287): HTML payloads run the DOM
    heuristics, plain text passes through. The result is the byte-identity
    anchor (the reference's latin-correlate write, utils.py:289-291)."""

    def clean(t: Optional[str]) -> Optional[str]:
        if t is None:
            return None
        return convert_html_to_ssml(t) if is_html(t) else t

    return pd.Series(
        [clean(_page_payload(h, t)) for h, t in zip(html, text)]
    )


@F.pandas_udf(StringType())
def clean_plaintext_udf(payload: pd.Series) -> pd.Series:
    """Plain-text boilerplate strip (reference text_processing.py:6-19 +
    utils.py:52-58): notes, stray brackets, ALL-CAPS headers."""

    def clean(t: Optional[str]) -> Optional[str]:
        if t is None:
            return None
        return remove_headers(remove_square_brackets(remove_notes(t)))

    return payload.map(clean)


@F.pandas_udf(ArrayType(StringType()))
def split_ssml_udf(s: pd.Series) -> pd.Series:
    """Tag-aware ≤2500-char SSML re-split (reference ssml_processing.py:9-56)."""
    from ..functions.chunking import split_ssml

    return s.map(lambda t: None if t is None else split_ssml(t))


@F.pandas_udf(ArrayType(SUBTITLE_TYPE))
def subtitles_udf(
    text: pd.Series, start: pd.Series, end: pd.Series, language: pd.Series,
    shorter: pd.Series,
) -> pd.Series:
    """Per-chunk subtitle records (reference timestamp.py:182-199)."""

    out = []
    for t, s, e, lang, sh in zip(text, start, end, language, shorter):
        if t is None or not t:
            out.append([])
            continue
        out.append(chunk_subtitles(t, float(s), float(e), lang, bool(sh)))
    return pd.Series(out)
