"""Vectorized pandas UDF wrappers (Arrow batch transfer, no per-row Python
in the Spark plan — each UDF is one Python call per Arrow batch, applying the
pure functions from ``textractssmlprocessor_spark.functions``).

Chained pandas UDF projections fuse into a single ArrowEvalPython node, so
clean -> chunk -> normalize costs one Python round-trip per batch.

``map_rows`` is the one way to turn a payload column into rows (0, 1 or N
output rows per input row): a row function over one ``mapInArrow`` pass.

Every Python UDF task pays a fixed worker cost before its first batch.
pyspark's per-task ``importlib.invalidate_caches()`` would re-read
pyspark.zip's central directory once per zipimporter (~0.15 s); a worker
that unpickles any function here has imported the package, whose
``_zipgate`` re-reads an archive only when it changed.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from ..functions.chunking import chunk_text_with_spans
from ..functions.cleaning import is_html
from ..functions.dom import convert_html_to_ssml
from ..functions.ssml import normalize_ssml
from ..functions.subs import expand_substitutions
from ..functions.subtitles import chunk_subtitles
from ..schema import SUBTITLE_TYPE

EXTRACTED_CHUNK_TYPE = StructType(
    [
        StructField("chunk", StringType(), True),
        StructField("ssml", StringType(), True),
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
    ]
)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: StructType
) -> DataFrame:
    """Row map over one ``mapInArrow`` pass: ``fn(*row)`` gets the values
    of one input row (bytes, str, int, datetime or None, in ``df``'s
    column order) and returns an iterable of output tuples in ``schema``
    order, 0, 1 or N per input row. Each Arrow batch becomes one record
    batch built column by column with the schema's Arrow types, with no
    pandas step, so NULLs and 64-bit ints keep their values. A timestamp
    must be an aware UTC datetime: Arrow keeps the wall clock of any
    other offset. Nothing is caught here: containment belongs to
    ``fn``."""
    arrow_schema = to_arrow_schema(schema)

    def gen(batches):
        for batch in batches:
            rows = [
                out
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*row)
            ]
            columns = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(gen, schema)


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


def _clean(t: Optional[str]) -> Optional[str]:
    """HTML branch of the reference's process_text_file (utils.py:284-287):
    HTML payloads run the DOM heuristics, plain text passes through."""
    if t is None:
        return None
    return convert_html_to_ssml(t) if is_html(t) else t


def _full_extract(t: Optional[str]):
    if t is None:
        return None
    return [
        {
            "chunk": c,
            "ssml": normalize_ssml(expand_substitutions(c)),
            "start": s,
            "end": e,
        }
        for c, s, e in chunk_text_with_spans(_clean(t))
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
    """Charset-sniffed decode + the clean step of ``extract_full_udf``
    (``_clean``). The result is the byte-identity anchor (the reference's
    latin-correlate write, utils.py:289-291)."""
    return pd.Series([_clean(_page_payload(h, t)) for h, t in zip(html, text)])


@F.pandas_udf(ArrayType(StringType()))
def split_ssml_udf(s: pd.Series) -> pd.Series:
    """Tag-aware ≤2500-char SSML re-split (reference ssml_processing.py:9-56)."""
    from ..functions.chunking import split_ssml

    return s.map(lambda t: None if t is None else split_ssml(t))


@F.pandas_udf(ArrayType(SUBTITLE_TYPE))
def subtitles_udf(
    ssml: pd.Series, extracted_text: pd.Series, start: pd.Series, end: pd.Series,
    variants: pd.Series,
) -> pd.Series:
    """Per-chunk subtitle records of every requested variant in one Arrow
    round trip (reference timestamp.py:182-199). ``variants`` holds
    ``<language>_<original|shorter>`` names; english reads the ssml, any
    other language the extracted text. Records come out grouped by variant,
    in the order of ``variants``."""
    out = []
    for en, la, s, e, names in zip(ssml, extracted_text, start, end, variants):
        subs = []
        for name in names:
            language, kind = name.rsplit("_", 1)
            text = en if language == "english" else la
            if text:
                subs += [
                    {"variant": name, **r}
                    for r in chunk_subtitles(
                        text, float(s), float(e), language, kind == "shorter"
                    )
                ]
        out.append(subs)
    return pd.Series(out)
