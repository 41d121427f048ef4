"""HTML5-style charset sniffing + decode for raw web-page payloads.

The extraction pipeline's input is ``html: binary`` (the north-rule input
hint — raw Common-Crawl page bytes). A real crawl is only ~95% UTF-8: the
tail is windows-125x, shift_jis, euc-kr, gb18030, big5, koi8, utf-16 …
declared (when declared at all) by a BOM or a ``<meta charset=…>`` tag.
Decoding everything as UTF-8-with-replacement (the engine's previous
behavior, extract.py round 1-4a) silently turns that tail into U+FFFD
soup that then poisons dedup fingerprints and quality scores downstream.

This module implements the byte-payload half of the WHATWG HTML
"determining the character encoding" algorithm (the public spec at
https://html.spec.whatwg.org/multipage/parsing.html#determining-the-character-encoding
— steps 1 BOM, 5 prescan-for-meta-charset, and the windows-1252 legacy
fallback; the in-parser re-decode step does not apply to a batch engine):

1. **BOM** (highest precedence, overrides any meta): UTF-8 / UTF-16LE /
   UTF-16BE byte-order marks.
2. **Meta prescan**: scan the first ``PRESCAN_BYTES`` (1024, per spec) for
   a ``<meta … charset=…>`` declaration; labels resolve through a subset of
   the WHATWG encoding-label table (``ENCODING_LABELS``). Per spec quirks
   kept: a meta-declared UTF-16 is *treated as UTF-8* (bytes that survived
   an ASCII prescan cannot be UTF-16), and legacy labels alias to their
   windows superset (iso-8859-1 → windows-1252, us-ascii → windows-1252,
   euc-kr → windows-949, shift_jis → windows-31j/cp932, gbk → gb18030).
3. **Content sniff**: strict UTF-8 trial decode.
4. **Legacy fallback**: windows-1252 (what browsers do for undeclared
   non-UTF-8 bytes in the default locale).

Scale design: ``decode_payload`` is a pure function used two ways —

- **fused into the flagship extract UDF** (operators/extract.py): the page
  payload already crosses Arrow exactly once into ``extract_full_udf``, so
  sniff-decoding inside that same batch costs zero additional transfer
  (the binary crosses instead of the decoded string) and zero extra plan
  nodes. The fast path per row is one C-level ``bytes.decode`` attempt.
- **standalone** (:func:`sniffed_decode`) for plans that consume the page
  natively (main_content, extract_links): a NATIVE routing predicate
  (``is_valid_utf8`` + BOM prefix check + prescan regexp, all codegen)
  splits rows filter+union style (the textnorm.repair_mojibake pattern —
  a when()-gated pandas UDF would still be hoisted into ArrowEvalPython
  and evaluated on every row), so the valid-UTF-8 majority never leaves
  the JVM and only the declared/invalid tail pays an Arrow trip. The two
  branches each scan the input: callers feeding anything deeper than a
  bare scan should ``materialize.cut()`` upstream first.

The split is a pure performance routing: fast-branch output is provably
identical to what ``decode_payload`` returns on fast-routed rows (valid
UTF-8, no BOM, no non-UTF-8 meta declaration → step 3 decode), so the
operator has ONE semantic definition regardless of branch.
"""

from __future__ import annotations

import codecs
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PRESCAN_BYTES = 1024

# --- WHATWG encoding-label table (subset) -----------------------------------
# label (lowercased) -> Python codec name. Rows are the labels that appear at
# non-negligible rates in web crawls; unknown labels are IGNORED per spec
# (prescan continues to the content sniff). Aliasing follows the public
# WHATWG table: legacy labels map to the superset encoding browsers actually
# use (e.g. every iso-8859-1/ascii spelling -> windows-1252).

_W = {
    "cp1252": (
        "ansi_x3.4-1968 ascii cp1252 cp819 csisolatin1 ibm819 iso-8859-1 "
        "iso-ir-100 iso8859-1 iso88591 iso_8859-1 iso_8859-1:1987 l1 latin1 "
        "us-ascii windows-1252 x-cp1252"
    ),
    "cp1250": "cp1250 windows-1250 x-cp1250",
    "cp1251": "cp1251 windows-1251 x-cp1251",
    "cp1253": "cp1253 windows-1253 x-cp1253",
    "cp1254": (
        "cp1254 csisolatin5 iso-8859-9 iso-ir-148 iso8859-9 iso88599 "
        "iso_8859-9 iso_8859-9:1989 l5 latin5 windows-1254 x-cp1254"
    ),
    "cp1255": "cp1255 windows-1255 x-cp1255",
    "cp1256": "cp1256 windows-1256 x-cp1256",
    "cp1257": "cp1257 windows-1257 x-cp1257",
    "cp1258": "cp1258 windows-1258 x-cp1258",
    "iso8859-2": (
        "csisolatin2 iso-8859-2 iso-ir-101 iso8859-2 iso88592 iso_8859-2 "
        "iso_8859-2:1987 l2 latin2"
    ),
    "iso8859-7": (
        "csisolatingreek ecma-118 elot_928 greek greek8 iso-8859-7 "
        "iso-ir-126 iso8859-7 iso88597 iso_8859-7 iso_8859-7:1987 sun_eu_greek"
    ),
    "iso8859-8": (
        "csiso88598e csisolatinhebrew hebrew iso-8859-8 iso-8859-8-e "
        "iso-8859-8-i iso-ir-138 iso8859-8 iso88598 iso_8859-8 "
        "iso_8859-8:1988 logical visual"
    ),
    "iso8859-15": "csisolatin9 iso-8859-15 iso8859-15 iso885915 iso_8859-15 l9 latin9",
    "cp874": (
        "dos-874 iso-8859-11 iso8859-11 iso885911 tis-620 windows-874"
    ),
    "koi8-r": "cskoi8r koi koi8 koi8-r koi8_r",
    "koi8-u": "koi8-ru koi8-u",
    "cp866": "866 cp866 csibm866 ibm866",
    "mac_roman": "csmacintosh mac macintosh x-mac-roman",
    "mac_cyrillic": "x-mac-cyrillic x-mac-ukrainian",
    # WHATWG Shift_JIS is windows-31j (cp932), not vanilla shift_jis
    "cp932": "csshiftjis ms932 ms_kanji shift-jis shift_jis sjis windows-31j x-sjis",
    "euc_jp": "cseucpkdfmtjapanese euc-jp x-euc-jp",
    "iso2022_jp": "csiso2022jp iso-2022-jp",
    # WHATWG gbk/gb2312 labels all decode with the gb18030 decoder
    "gb18030": (
        "chinese csgb2312 csiso58gb231280 gb18030 gb2312 gb_2312 gb_2312-80 "
        "gbk iso-ir-58 x-gbk"
    ),
    # WHATWG Big5 includes the HKSCS extension rows
    "big5hkscs": "big5 big5-hkscs cn-big5 csbig5 x-x-big5",
    # WHATWG EUC-KR is windows-949
    "cp949": (
        "csksc56011987 euc-kr iso-ir-149 korean ks_c_5601-1987 ks_c_5601-1989 "
        "ksc5601 ksc_5601 windows-949"
    ),
    "utf-8": (
        "unicode-1-1-utf-8 unicode11utf8 unicode20utf8 utf-8 utf8 "
        "x-unicode20utf8"
    ),
    "utf-16-le": "csunicode iso-10646-ucs-2 ucs-2 unicode unicodefeff utf-16 utf-16le",
    "utf-16-be": "unicodefffe utf-16be",
    "x-user-defined": "x-user-defined",
}
ENCODING_LABELS: dict[str, str] = {
    label: codec for codec, labels in _W.items() for label in labels.split()
}

# Labels that keep a payload on the NATIVE fast path: utf-8 spellings plus
# the utf-16 family (meta-declared utf-16 means utf-8 per spec step 5).
FAST_PATH_LABELS = tuple(
    sorted(
        label
        for label, codec in ENCODING_LABELS.items()
        if codec in ("utf-8", "utf-16-le", "utf-16-be")
    )
)

# Prescan regexp: ASCII-only token classes so Java (Spark native) and Python
# (pure mirror) agree; the {0,512} attribute-window bound keeps the scan
# linear on attribute-bombed tags. Matches both <meta charset=...> and
# <meta http-equiv=Content-Type content="...; charset=...">.
META_CHARSET_RE = (
    "(?i)<meta[^>]{0,512}?charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9._:-]+)"
)
_META_RE_BYTES = re.compile(META_CHARSET_RE.encode("ascii"))

_BOMS = (
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)


def sniff_encoding(payload: bytes) -> str:
    """Pure WHATWG-subset sniff: payload bytes -> Python codec name."""
    for bom, codec in _BOMS:
        if payload.startswith(bom):
            return codec
    m = _META_RE_BYTES.search(payload[:PRESCAN_BYTES])
    if m:
        label = m.group(1).decode("ascii", "replace").strip().lower()
        codec = ENCODING_LABELS.get(label)
        if codec in ("utf-16-le", "utf-16-be"):
            # spec: bytes that survived an ASCII meta prescan are not UTF-16;
            # a declared utf-16 is treated as utf-8
            return "utf-8"
        if codec:
            return codec
    try:
        payload.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        return "cp1252"


# WHATWG x-user-defined: ASCII bytes pass through, 0x80-0xFF map to the
# private-use plane U+F780..U+F7FF. Applied as a C-level str.translate
# (via latin-1) — a per-byte Python loop would let one hostile 100 MB
# payload declaring this label stall an executor task.
_X_USER_DEFINED_TABLE = {
    b: 0xF780 + b - 0x80 for b in range(0x80, 0x100)
}


def _decode_x_user_defined(payload: bytes) -> str:
    return payload.decode("latin-1").translate(_X_USER_DEFINED_TABLE)


def decode_payload(payload: bytes | None) -> tuple[str | None, str | None]:
    """bytes -> (text, codec). The single semantic definition of page
    decode; every Spark path (fused UDF, split operator fast branch) must
    agree with it. ``errors='replace'`` everywhere: one mis-encoded page
    degrades to U+FFFD instead of failing the job (fatal at 10^12 docs).
    A leading U+FEFF (the decoded BOM) is stripped from the text."""
    if payload is None:
        return None, None
    codec = sniff_encoding(payload)
    if codec == "x-user-defined":
        text = _decode_x_user_defined(payload)
    else:
        text = payload.decode(codec, "replace")
    if text[:1] == "\ufeff":
        text = text[1:]
    return text, codec


# --- Spark side --------------------------------------------------------------


def fast_utf8_flag(bin_col: Column) -> Column:
    """NATIVE (codegen, no Python) predicate: True for payloads the fast
    branch may decode as a plain cast-to-string — valid UTF-8 bytes, no
    BOM, and no prescan charset declaration outside the utf-8/utf-16
    family. Provably equivalent to ``decode_payload`` returning the
    step-3 utf-8 decode with no BOM strip."""
    # byte-slice equality instead of Column.startswith (binary support for
    # the latter is version-dependent); a valid-UTF-8 payload can only ever
    # start with the UTF-8 BOM (FF/FE lead bytes are invalid UTF-8), the
    # UTF-16 checks are documentation-grade belt and braces
    no_bom = ~(
        (F.substring(bin_col, 1, 3) == F.lit(codecs.BOM_UTF8))
        | (F.substring(bin_col, 1, 2) == F.lit(codecs.BOM_UTF16_LE))
        | (F.substring(bin_col, 1, 2) == F.lit(codecs.BOM_UTF16_BE))
    )
    # byte-slice the prescan window, then decode as ISO-8859-1: one byte =
    # one char, so the Java regex's {0,512} attribute window counts BYTES —
    # exactly what decode_payload's byte-compiled _META_RE_BYTES counts.
    # (A utf-8 repair-cast would count CHARS: a meta tag whose multibyte
    # attribute span fits 512 chars but exceeds 512 bytes would match here,
    # miss in the Python prescan, and fast-route a page the slow path
    # would decode differently. Latin-1 maps bytes >= 0x80 to chars that
    # are never '>' or label chars, so matches are bit-identical.)
    prefix = F.decode(F.substring(bin_col, 1, PRESCAN_BYTES), "ISO-8859-1")
    declared = F.lower(F.regexp_extract(prefix, META_CHARSET_RE, 1))
    fast_label = declared.isin("", *FAST_PATH_LABELS)
    return F.is_valid_utf8(bin_col) & no_bom & fast_label


def decode_page_udf():
    """Arrow-batched pandas UDF: binary payload -> struct<text, charset>.
    Signature deliberately unannotated (future-annotations + pandas_udf)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<text: string, charset: string>")
    def _decode(payload):
        import pandas as pd

        rows = [decode_payload(p) for p in payload]
        return pd.DataFrame(rows, columns=["text", "charset"])

    return _decode


def sniffed_decode(
    df: DataFrame,
    bin_col: str = "html",
    text_col: str = "page_text",
    charset_col: str = "charset",
) -> DataFrame:
    """Adds (``text_col``, ``charset_col``) decoded from ``bin_col``.

    Filter + unionByName split on the native fast flag (see module
    docstring): the valid-UTF-8 majority decodes as a JVM cast and never
    crosses Arrow; only the BOM/declared/invalid tail runs the pandas UDF.
    NULL payloads ride the fast branch with NULL outputs."""
    flag = F.col(bin_col).isNull() | fast_utf8_flag(F.col(bin_col))
    fast = df.filter(flag).select(
        "*",
        F.col(bin_col).cast("string").alias(text_col),
        F.when(F.col(bin_col).isNotNull(), F.lit("utf-8")).alias(charset_col),
    )
    # project the UDF struct ONCE, then its fields — two field projections
    # of separate UDF call expressions would be two Arrow evaluations
    slow = (
        df.filter(~F.coalesce(flag, F.lit(False)))
        .select("*", decode_page_udf()(F.col(bin_col)).alias("_decoded"))
        .select(
            *df.columns,
            F.col("_decoded.text").alias(text_col),
            F.col("_decoded.charset").alias(charset_col),
        )
    )
    return fast.unionByName(slow)
