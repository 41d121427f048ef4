"""PDF layout parse: content-stream text extraction into positioned blocks.

The north star names "PDF/layout parse" as part of the main-content
extraction pipeline (the reference corpus is scanned/typeset books that
arrive as PDFs before OCR; reference README.md:3 frames the input as
Textract output of uploaded documents). This module closes that step
Spark-native and pure-stdlib (zlib only):

    binary PDF -> (url, page_no, block_id, left, top, width, height, text)

i.e. exactly the blocks schema :mod:`ocr` consumes, so
``reconstruct_documents(pdf_blocks(df))`` runs the full layout path:
PDF -> positioned text blocks -> banded line reconstruction -> running-
head/folio boilerplate strip -> document text.

Parser scope (honest subset, same convention as the GIF/JPEG decoders):

- Tolerant object scan (`N G obj ... endobj`) — no xref table required,
  so linearized/appended-update files parse as long as objects are
  intact; the page order comes from walking /Root -> /Pages -> /Kids.
- Content streams: plain or /FlateDecode (zlib). Other filters
  (DCT, LZW, CCITT) never carry page text and are skipped.
- Text operators: BT/ET, Tf, TL, Td, TD, Tm, T*, Tj, TJ, ' and ";
  the graphics-state operators q/Q/cm maintain the CTM so translated/
  scaled pages keep correct positions.
- Strings: literal `(...)` with escapes (\\\\ \\( \\) \\n \\r \\t \\b \\f
  \\ooo and line continuations) and hex `<...>`; bytes decode as
  Latin-1 (the identity range of WinAnsi/Standard encodings). CID/Type0
  multi-byte fonts are NOT decoded — their strings would need the font's
  CMap; such text comes out garbled rather than crashing, and real
  deployments plug a font-aware decoder into `_decode_string`.

Block geometry: positions emit as page fractions matching the OCR blocks
convention — ``left = x / page_width``, ``top = 1 - y / page_height``
(PDF's origin is bottom-left), width estimated from the string length at
the current font size, height = font size / page height.

Scale: parsing is one ``map_rows`` pass (``mapInArrow``) — one Arrow batch
transfer, no shuffle, no driver involvement; a 100 TB PDF corpus parses at scan
parallelism. The downstream line/boilerplate windows key on
(url, page_no): high-cardinality by construction.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .udfs import map_rows

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# --------------------------------------------------------------------------
# low-level object model
# --------------------------------------------------------------------------


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover
        return f"_Ref({self.num})"


class _Name(str):
    pass


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in b"\x00\t\n\x0c\r ":
            i += 1
        elif c == b"%":  # comment to end of line
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


def _parse_object(data: bytes, i: int):
    """Parse one PDF object starting at i; returns (value, next_index)."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if c == b"<" and data[i : i + 2] == b"<<":
        return _parse_dict(data, i)
    if c == b"<":
        j = data.index(b">", i + 1)
        hexs = re.sub(rb"\s", b"", data[i + 1 : j])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")), j + 1
    if c == b"(":
        return _parse_literal_string(data, i)
    if c == b"[":
        out = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return out, i + 1
            v, i = _parse_object(data, i)
            out.append(v)
    if c == b"/":
        j = i + 1
        while j < len(data) and data[j : j + 1] not in _WS + _DELIM:
            j += 1
        return _Name(data[i + 1 : j].decode("latin-1")), j
    m = re.match(rb"(\d+)\s+(\d+)\s+R\b", data[i : i + 64])
    if m:
        return _Ref(int(m.group(1))), i + m.end()
    m = re.match(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", data[i : i + 64])
    if m:
        tok = m.group(0)
        val = float(tok) if b"." in tok else int(tok)
        return val, i + m.end()
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data[i : i + len(kw)] == kw:
            return val, i + len(kw)
    raise ValueError(f"unparseable PDF object at byte {i}")


def _parse_literal_string(data: bytes, i: int):
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            nxt = data[i + 1 : i + 2]
            esc = {
                b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\",
            }
            if nxt in esc:
                out += esc[nxt]
                i += 2
            # nxt may be b"" at EOF — and b"" is "in" every bytes, so the
            # emptiness check must come first or the octal branch matches
            # nothing and crashes on a truncated file ending in backslash
            elif nxt and nxt in b"01234567":
                m = re.match(rb"[0-7]{1,3}", data[i + 1 : i + 4])
                out.append(int(m.group(0), 8) & 0xFF)
                i += 1 + m.end()
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 1  # lone backslash: drop
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated PDF string")


def _parse_dict(data: bytes, i: int):
    assert data[i : i + 2] == b"<<"
    i += 2
    out: dict[str, object] = {}
    while True:
        i = _skip_ws(data, i)
        if data[i : i + 2] == b">>":
            return out, i + 2
        key, i = _parse_object(data, i)
        val, i = _parse_object(data, i)
        out[str(key)] = val


def _scan_objects(data: bytes) -> dict[int, tuple[dict, bytes | None]]:
    """num -> (dict, stream_bytes|None) for every `N G obj` in the file.
    Tolerant: objects that fail to parse are skipped, not fatal."""
    objs: dict[int, tuple[dict, bytes | None]] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        i = _skip_ws(data, m.end())
        try:
            if data[i : i + 1] == b"[":
                # top-level ARRAY object: /Contents may be an indirect
                # reference to an array of stream refs (spec-valid) —
                # store it so _page_content can resolve through it
                arr, _ = _parse_object(data, i)
                objs[num] = (arr, None)
                continue
            if data[i : i + 2] != b"<<":
                continue  # other scalar objects carry no page structure
            d, j = _parse_dict(data, i)
        except (ValueError, IndexError, RecursionError):
            # RecursionError: a hostile object nesting arrays/dicts
            # thousands deep ('[[[[…') would otherwise escape the
            # tolerant scan and kill the task — by the time the except
            # runs the recursive frames have unwound, so skipping the
            # object is safe
            continue
        stream = None
        j = _skip_ws(data, j)
        if data[j : j + 6] == b"stream":
            j += 6
            if data[j : j + 2] == b"\r\n":
                j += 2
            elif data[j : j + 1] == b"\n":
                j += 1
            ln = d.get("Length")
            if isinstance(ln, int):
                stream = data[j : j + ln]
            else:  # Length as a _Ref or missing: fall back to endstream scan
                e = data.find(b"endstream", j)
                stream = data[j:e].rstrip(b"\r\n")
        objs[num] = (d, stream)
    return objs


def _deref(objs, v):
    if isinstance(v, _Ref):
        got = objs.get(v.num)
        return got[0] if got else None
    return v


_MAX_STREAM_BYTES = 1 << 26  # 64 MiB decompressed cap per content stream


def _page_content(objs, page_dict) -> bytes:
    """Concatenated, decompressed content stream(s) of one page."""
    contents = page_dict.get("Contents")
    if isinstance(contents, _Ref):
        got = objs.get(contents.num)
        if got is not None and isinstance(got[0], list):
            contents = got[0]  # indirect array of stream refs
    refs = contents if isinstance(contents, list) else [contents]
    out = b""
    for r in refs:
        if not isinstance(r, _Ref) or r.num not in objs:
            continue
        d, stream = objs[r.num]
        if stream is None:
            continue
        filt = d.get("Filter")
        filts = filt if isinstance(filt, list) else ([filt] if filt else [])
        if any(str(f) == "FlateDecode" for f in filts):
            try:
                # bounded decompress: a kilobyte-sized zlib bomb otherwise
                # inflates without limit into executor memory (the text
                # content of a real page is nowhere near the cap; an
                # over-cap stream is hostile by construction and drops,
                # mirroring the image decoder's 64 MP containment)
                dec = zlib.decompressobj()
                stream = dec.decompress(stream, _MAX_STREAM_BYTES)
                if dec.unconsumed_tail:
                    continue
            except zlib.error:
                continue
        elif filts:
            continue  # image/other filters never carry page text
        out += stream + b"\n"
    return out


def _pages_in_order(objs) -> list[dict]:
    """Walk /Root -> /Pages -> /Kids depth-first (the document's page
    order), carrying the INHERITED /MediaBox down (a page attribute
    commonly defined once on the /Pages root; without inheritance an A4
    file would silently get US-Letter geometry). A visited set breaks
    /Kids cycles — a corrupt/adversarial file listing an ancestor as its
    own kid must not wedge the Spark task in an infinite walk. Fallback
    when no catalog parses: every /Type /Page dict in object-number
    order."""
    root = None
    for d, _ in objs.values():
        if isinstance(d, dict) and str(d.get("Type")) == "Catalog" and "Pages" in d:
            root = _deref(objs, d["Pages"])
            break
    pages: list[dict] = []
    if isinstance(root, dict):
        seen: set[int] = set()
        stack: list[tuple[dict, object]] = [(root, root.get("MediaBox"))]
        while stack:
            node, box = stack.pop(0)
            if not isinstance(node, dict) or id(node) in seen:
                continue
            seen.add(id(node))
            if str(node.get("Type")) == "Page":
                if "MediaBox" not in node and box is not None:
                    node["MediaBox"] = box
                pages.append(node)
            else:
                inherited = node.get("MediaBox", box)
                kids = node.get("Kids") or []
                if isinstance(kids, list):
                    stack = [
                        (_deref(objs, k), inherited) for k in kids
                    ] + stack
    if not pages:
        pages = [
            d
            for _, (d, _s) in sorted(objs.items())
            if isinstance(d, dict) and str(d.get("Type")) == "Page"
        ]
    return pages


# --------------------------------------------------------------------------
# content-stream interpreter
# --------------------------------------------------------------------------

def _mat_mul(a, b):
    """3x3 affine as 6-tuple (a b c d e f): row-vector convention."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _decode_string(raw: bytes) -> str:
    """Latin-1 = the identity range of WinAnsi/Standard simple fonts.
    CID/Type0 strings need the font CMap and come out garbled (documented
    subset); a font-aware deployment swaps this single seam."""
    return raw.decode("latin-1")


def _interpret(content: bytes) -> list[tuple[float, float, float, str]]:
    """Run the text operators; returns [(x, y, font_size, text)] in device
    space. One tuple per Tj/'/" string or TJ array run."""
    out: list[tuple[float, float, float, str]] = []
    ctm = _ID
    gstack: list[tuple] = []
    tm = lm = _ID
    leading = 0.0
    size = 12.0
    stack: list[object] = []
    i = 0
    n = len(content)

    def emit(raw: bytes):
        m = _mat_mul(tm, ctm)
        # abs: a flipped CTM (the common top-down `1 0 0 -1 0 H cm`)
        # must not emit negative font sizes/heights into the block table
        out.append(
            (m[4], m[5], size * abs(m[3]) if m[3] else size, _decode_string(raw))
        )

    while i < n:
        c = content[i : i + 1]
        if c in _WS:
            i += 1
            continue
        try:
            if c == b"(":
                s, i = _parse_literal_string(content, i)
                stack.append(s)
                continue
            if c == b"<" and content[i : i + 2] != b"<<":
                j = content.index(b">", i + 1)
                hexs = re.sub(rb"\s", b"", content[i + 1 : j])
                if len(hexs) % 2:
                    hexs += b"0"
                stack.append(bytes.fromhex(hexs.decode("ascii")))
                i = j + 1
                continue
            if c == b"[":
                arr, i = _parse_object(content, i)
                stack.append(arr)
                continue
            if c == b"<":  # inline dict (BDC etc.) — parse and ignore
                _, i = _parse_dict(content, i)
                continue
            if c == b"/":
                v, i = _parse_object(content, i)
                stack.append(v)
                continue
        except (ValueError, IndexError, AttributeError):
            # tokenizer-level damage (unterminated string/hex, stray
            # binary): keep the text emitted so far rather than dropping
            # the whole document — the per-operator guard below cannot
            # catch errors raised while TOKENIZING
            break
        m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)", content[i:])
        if m:
            tok = m.group(0)
            stack.append(float(tok))
            i += m.end()
            continue
        m = re.match(rb"[A-Za-z'\"*]+", content[i:])
        if not m:
            i += 1
            continue
        op = m.group(0)
        i += m.end()
        if op == b"BI":
            # inline image: raw binary until EI — skip it entirely, or
            # its bytes would be tokenized as (garbage) operators
            j = content.find(b"EI", i)
            i = n if j < 0 else j + 2
            stack = []
            continue
        try:
            if op == b"q":
                gstack.append(ctm)
            elif op == b"Q":
                ctm = gstack.pop() if gstack else _ID
            elif op == b"cm":
                cm = tuple(float(v) for v in stack[-6:])
                ctm = _mat_mul(cm, ctm)
            elif op == b"BT":
                tm = lm = _ID
            elif op == b"Tf":
                size = float(stack[-1])
            elif op == b"TL":
                leading = float(stack[-1])
            elif op == b"Td":
                ty, tx = float(stack[-1]), float(stack[-2])
                lm = _mat_mul((1, 0, 0, 1, tx, ty), lm)
                tm = lm
            elif op == b"TD":
                ty, tx = float(stack[-1]), float(stack[-2])
                leading = -ty
                lm = _mat_mul((1, 0, 0, 1, tx, ty), lm)
                tm = lm
            elif op == b"Tm":
                lm = tm = tuple(float(v) for v in stack[-6:])
            elif op == b"T*":
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
            elif op == b"Tj":
                raw = stack[-1]
                if isinstance(raw, bytes):
                    emit(raw)
            elif op == b"'":
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
                raw = stack[-1]
                if isinstance(raw, bytes):
                    emit(raw)
            elif op == b'"':
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
                raw = stack[-1]
                if isinstance(raw, bytes):
                    emit(raw)
            elif op == b"TJ":
                arr = stack[-1]
                if isinstance(arr, list):
                    pieces = [p for p in arr if isinstance(p, bytes)]
                    if pieces:
                        emit(b"".join(pieces))
        except (IndexError, TypeError, ValueError):
            pass  # malformed operand run: skip the operator, keep scanning
        if op not in (b"q", b"Q"):
            stack = []
    return out


def parse_pdf_blocks(data: bytes) -> list[tuple]:
    """Pure-Python core: PDF bytes ->
    [(page_no, block_id, left, top, width, height, text)] with positions
    as page fractions (top measured from the page's top edge)."""
    objs = _scan_objects(data)
    blocks: list[tuple] = []
    for page_no, page in enumerate(_pages_in_order(objs)):
        box = page.get("MediaBox") or [0, 0, 612, 792]
        if isinstance(box, _Ref):
            box = _deref(objs, box) or [0, 0, 612, 792]
        pw = float(box[2]) - float(box[0]) or 612.0
        ph = float(box[3]) - float(box[1]) or 792.0
        content = _page_content(objs, page)
        for k, (x, y, size, text) in enumerate(_interpret(content)):
            if not text.strip():
                continue
            blocks.append(
                (
                    page_no,
                    k,
                    round(x / pw, 6),
                    round(1.0 - (y + size) / ph, 6),
                    round(min(0.5 * size * len(text), pw) / pw, 6),
                    round(size / ph, 6),
                    text,
                )
            )
    return blocks


_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.LongType()),
        T.StructField("block_id", T.LongType()),
        T.StructField("left", T.DoubleType()),
        T.StructField("top", T.DoubleType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("text", T.StringType()),
    ]
)


def pdf_blocks(
    df: DataFrame, url_col: str = "url", payload_col: str = "payload"
) -> DataFrame:
    """(url, page_no, block_id, left, top, width, height, text) — the
    :mod:`ocr` blocks schema, extracted from a binary PDF column. One
    ``map_rows`` pass (Arrow-batched, zero shuffle); unparseable or
    text-free PDFs simply emit no rows."""

    def row(url, payload):
        if payload is None:
            return []
        try:
            parsed = parse_pdf_blocks(payload)
        except Exception:
            return []  # corrupt file: drop, never kill the task
        return [(url, *block) for block in parsed]

    return map_rows(df.select(url_col, payload_col), row, _BLOCK_SCHEMA)


# --------------------------------------------------------------------------
# deterministic PDF writer (fixtures + roundtrip tests + sink)
# --------------------------------------------------------------------------


def build_simple_pdf(
    pages: list[list[tuple[float, float, float, str]]],
    compress: bool = True,
    page_size: tuple[float, float] = (612.0, 792.0),
) -> bytes:
    """Assemble a minimal single-font PDF. ``pages`` is a list of pages,
    each a list of (x, y, font_size, text) with y measured from the page
    BOTTOM (PDF convention). Deterministic bytes for fixed input — usable
    as a golden fixture generator and as a per-partition document sink."""
    w, h = page_size

    def esc(s: str) -> bytes:
        # 'replace': the single-font writer can only carry Latin-1; a
        # curly quote or em dash becomes '?' instead of aborting the sink
        return (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ).encode("latin-1", "replace")

    objs: list[bytes] = []  # 1-indexed by position
    page_count = len(pages)
    # obj 1: catalog, obj 2: pages, obj 3: font; pages start at 4
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(page_count))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Count {page_count} /Kids [{kids}] >>".encode()
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i, page in enumerate(pages):
        content = bytearray()
        for x, y, size, text in page:
            content += b"BT /F1 %.2f Tf %.2f %.2f Td (" % (size, x, y)
            content += esc(text)
            content += b") Tj ET\n"
        body = bytes(content)
        filt = b""
        if compress:
            body = zlib.compress(body)
            filt = b"/Filter /FlateDecode "
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w:g} {h:g}] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {5 + 2 * i} 0 R >>"
            ).encode()
        )
        objs.append(
            b"<< %s/Length %d >>\nstream\n%s\nendstream"
            % (filt, len(body), body)
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)
