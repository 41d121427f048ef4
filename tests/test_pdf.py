"""PDF layout parse (operators/pdf.py): pure-Python parser unit tests +
the Spark blocks -> ocr reconstruction end-to-end path."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from textractssmlprocessor_spark.operators.pdf import (
    build_simple_pdf,
    parse_pdf_blocks,
    pdf_blocks,
)


def _pdf_with_content(content: bytes, compress: bool = False) -> bytes:
    """Minimal one-page PDF around a raw content stream."""
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< %s/Length %d >>\nstream\n%s\nendstream" % (filt, len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for num, obj in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def test_roundtrip_writer_parser():
    pages = [
        [(72, 720, 12, "Hello World"), (72, 700, 12, "Second (line) \\ done")],
        [(72, 720, 18, "Page two")],
    ]
    for compress in (True, False):
        blocks = parse_pdf_blocks(build_simple_pdf(pages, compress=compress))
        assert [(b[0], b[6]) for b in blocks] == [
            (0, "Hello World"),
            (0, "Second (line) \\ done"),
            (1, "Page two"),
        ]
        # left fraction of x=72 on a 612pt page
        assert blocks[0][2] == round(72 / 612, 6)


def test_writer_is_deterministic():
    pages = [[(72, 720, 12, "same input")]]
    assert build_simple_pdf(pages) == build_simple_pdf(pages)


def test_text_operators_tm_tstar_tj_quote_hex():
    content = (
        b"BT /F1 10 Tf 14 TL 100 700 Td (first) Tj T* (second) Tj "
        b"(third via quote) ' "
        b"1 0 0 1 50 600 Tm [(fourth) -250 ( and kerned)] TJ "
        b"<48656C6C6F> Tj ET"
    )
    blocks = parse_pdf_blocks(_pdf_with_content(content))
    texts = [b[6] for b in blocks]
    assert texts == [
        "first",
        "second",
        "third via quote",
        "fourth and kerned",
        "Hello",
    ]
    tops = [b[3] for b in blocks]
    assert tops[0] < tops[1] < tops[2]  # T* / ' walk DOWN the page
    assert blocks[3][2] == round(50 / 612, 6)  # Tm repositioned


def test_escapes_and_continuation():
    content = (
        b"BT /F1 12 Tf 72 700 Td "
        b"(octal \\101\\102 tab\\there paren\\) back\\\\slash cont\\\ninued) Tj ET"
    )
    blocks = parse_pdf_blocks(_pdf_with_content(content, compress=True))
    assert blocks[0][6] == "octal AB tab\there paren) back\\slash continued"


def test_cm_translation_and_qQ():
    content = (
        b"q 1 0 0 1 100 -50 cm BT /F1 12 Tf 72 700 Td (moved) Tj ET Q "
        b"BT /F1 12 Tf 72 700 Td (back) Tj ET"
    )
    blocks = parse_pdf_blocks(_pdf_with_content(content))
    moved, back = blocks
    assert moved[6] == "moved" and back[6] == "back"
    assert moved[2] == round((72 + 100) / 612, 6)
    assert back[2] == round(72 / 612, 6)
    assert moved[3] > back[3]  # y dropped 50pt => larger top fraction


def test_corrupt_and_textless_inputs():
    assert parse_pdf_blocks(b"not a pdf at all") == []
    assert parse_pdf_blocks(b"%PDF-1.4\ngarbage obj << broken") == []
    # valid structure, no text operators
    assert parse_pdf_blocks(_pdf_with_content(b"0 0 100 100 re f")) == []


def test_spark_pdf_to_document_reconstruction(spark):
    """The north-star layout path end-to-end: binary PDFs -> positioned
    blocks (map_rows over mapInArrow) -> line banding -> running-head/folio
    strip -> document text."""
    from textractssmlprocessor_spark.operators.ocr import reconstruct_documents

    def book(urlseed: str) -> bytes:
        pages = []
        for p in range(3):
            pages.append(
                [
                    (200, 760, 10, "THE RUNNING HEAD"),  # top band, every page
                    (72, 700, 12, f"Body {urlseed} page {p} line one"),
                    (72, 680, 12, f"and line two of page {p}"),
                    (300, 30, 10, str(p + 1)),  # folio
                ]
            )
        return build_simple_pdf(pages)

    df = spark.createDataFrame(
        [("pdf://a", bytearray(book("a"))), ("pdf://b", bytearray(book("b")))],
        "url string, payload binary",
    )
    blocks = pdf_blocks(df)
    assert blocks.count() == 2 * 3 * 4
    docs = {
        r["url"]: r["text"]
        for r in reconstruct_documents(blocks).collect()
    }
    for seed in ("a", "b"):
        expected = "\n".join(
            f"Body {seed} page {p} line one\nand line two of page {p}"
            for p in range(3)
        )
        assert docs[f"pdf://{seed}"] == expected


def test_spark_null_and_corrupt_payloads(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", bytearray(b"broken bytes"))],
        "url string, payload binary",
    )
    assert pdf_blocks(df).count() == 0


# --- property: writer -> parser roundtrip over randomized content ----------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# Latin-1-encodable text incl. the chars that need escaping in literal
# strings, plus accented WinAnsi-range letters
_PDF_TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ0189 ()\\\t") + ["é", "ü", "ß", "ñ"]
    ),
    min_size=1,
    max_size=40,
).filter(lambda s: s.strip())

_BLOCK = st.tuples(
    st.integers(min_value=0, max_value=500),   # x
    st.integers(min_value=20, max_value=770),  # y
    st.sampled_from([8.0, 10.5, 12.0, 24.0]),  # font size
    _PDF_TEXT,
)

_PAGES = st.lists(
    st.lists(_BLOCK, min_size=1, max_size=6), min_size=1, max_size=4
)


@settings(max_examples=120, deadline=None)
@given(_PAGES, st.booleans())
def test_roundtrip_property(pages, compress):
    """Every written block comes back on the right page, in emit order,
    with byte-identical text and exact left fraction — under arbitrary
    escapes (parens, backslash, tab) and Latin-1 accents."""
    pdf = build_simple_pdf(
        [[(float(x), float(y), s, t) for x, y, s, t in page] for page in pages],
        compress=compress,
    )
    blocks = parse_pdf_blocks(pdf)
    expected = [
        (pno, t) for pno, page in enumerate(pages) for (_x, _y, _s, t) in page
    ]
    assert [(b[0], b[6]) for b in blocks] == expected
    # left fraction of the first block on each page
    k = 0
    for pno, page in enumerate(pages):
        x = page[0][0]
        assert blocks[k][2] == round(x / 612, 6)
        k += len(page)


def test_cyclic_pages_tree_terminates():
    """A /Pages node listing itself (or an ancestor) as a kid must not
    wedge the task in an infinite walk."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [2 0 R 3 0 R] >>",  # self-cycle
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length 29 >>\nstream\nBT /F1 12 Tf 72 720 Td (x) Tj\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for num, obj in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"
    blocks = parse_pdf_blocks(bytes(out))
    assert [b[6] for b in blocks] == ["x"]


def test_truncated_trailing_backslash_is_tolerated():
    # a literal string cut off right after a backslash: the file drops,
    # never an uncaught AttributeError out of the scanner
    assert parse_pdf_blocks(b"%PDF-1.4\n1 0 obj\n<< /X (abc\\") == []


def test_tokenizer_damage_keeps_earlier_text():
    """Stray binary / unterminated hex AFTER real text: keep the text
    emitted so far instead of dropping the document."""
    content = b"BT /F1 12 Tf 72 720 Td (kept) Tj ET\n<dead beef"  # no '>'
    blocks = parse_pdf_blocks(_pdf_with_content(content))
    assert [b[6] for b in blocks] == ["kept"]


def test_inline_image_bytes_are_skipped():
    content = (
        b"BT /F1 12 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 ID \x00\xff(\x29\\ EI\n"
        b"BT /F1 12 Tf 72 700 Td (after) Tj ET\n"
    )
    blocks = parse_pdf_blocks(_pdf_with_content(content))
    assert [b[6] for b in blocks] == ["before", "after"]


def test_contents_as_indirect_array_object():
    """/Contents -> ref to an ARRAY object of stream refs (spec-valid)."""
    stream = b"BT /F1 12 Tf 72 720 Td (via array) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"[5 0 R]",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for num, obj in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"
    blocks = parse_pdf_blocks(bytes(out))
    assert [b[6] for b in blocks] == ["via array"]


def test_mediabox_inherited_from_pages_root():
    """A4 defined once on /Pages; the page dict carries no own MediaBox —
    fractions must use 595x842, not the US-Letter default."""
    stream = b"BT /F1 12 Tf 119 720 Td (a4) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 595 842] >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for num, obj in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"
    blocks = parse_pdf_blocks(bytes(out))
    assert blocks[0][2] == round(119 / 595, 6)
    assert blocks[0][5] == round(12 / 842, 6)


def test_flipped_ctm_emits_positive_size():
    content = b"1 0 0 -1 0 792 cm BT /F1 12 Tf 72 72 Td (flip) Tj ET"
    blocks = parse_pdf_blocks(_pdf_with_content(content))
    assert [b[6] for b in blocks] == ["flip"]
    assert blocks[0][5] == round(12 / 792, 6)  # height positive
    assert blocks[0][4] > 0  # width positive


def test_writer_replaces_non_latin1_instead_of_crashing():
    pdf = build_simple_pdf([[(72, 720, 12, "em—dash “quoted”")]])
    blocks = parse_pdf_blocks(pdf)
    assert blocks[0][6] == "em?dash ?quoted?"


def test_deeply_nested_object_is_skipped_not_fatal():
    """A hostile object nesting arrays thousands deep would RecursionError
    out of the recursive-descent parser; the tolerant scan must skip that
    OBJECT and still parse every well-formed page in the file."""
    import sys

    from textractssmlprocessor_spark.operators.pdf import (
        build_simple_pdf,
        parse_pdf_blocks,
    )

    depth = sys.getrecursionlimit() * 4
    bomb = b"99 0 obj\n" + b"[" * depth + b"]" * depth + b"\nendobj\n"
    pdf = build_simple_pdf([[(72.0, 700.0, 12.0, "survives")]], compress=False)
    # splice the hostile object ahead of the document body
    data = pdf.replace(b"%PDF-1.4\n", b"%PDF-1.4\n" + bomb, 1)
    blocks = parse_pdf_blocks(data)
    assert [b[-1] for b in blocks] == ["survives"]


def test_flate_bomb_stream_is_dropped():
    """A kilobyte-scale zlib bomb in a /FlateDecode content stream must not
    inflate without bound into executor memory: streams that exceed the
    64 MiB decompressed cap drop (hostile by construction), and the rest
    of the document still parses."""
    import zlib

    from textractssmlprocessor_spark.operators.pdf import (
        build_simple_pdf,
        parse_pdf_blocks,
    )

    bomb_body = zlib.compress(b" " * (200 * (1 << 20)))  # 200 MiB of spaces
    assert len(bomb_body) < (1 << 20)
    bomb_obj = (
        b"98 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(bomb_body), bomb_body)
    )
    pdf = build_simple_pdf([[(72.0, 700.0, 12.0, "kept page")]], compress=True)
    data = pdf.replace(b"%PDF-1.4\n", b"%PDF-1.4\n" + bomb_obj, 1)
    blocks = parse_pdf_blocks(data)
    assert [b[-1] for b in blocks] == ["kept page"]

    # and when the bomb IS a page's /Contents, the page text drops but
    # parsing still terminates quickly with no inflation
    pdf2 = build_simple_pdf([[(72.0, 700.0, 12.0, "shadowed")]], compress=True)
    # find the page's stream object (5 0 obj) and replace its body wholesale
    import re as _re

    m = _re.search(rb"5 0 obj\n.*?endobj\n", pdf2, _re.S)
    assert m
    repl = (
        b"5 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(bomb_body), bomb_body)
    )
    data2 = pdf2[: m.start()] + repl + pdf2[m.end() :]
    assert parse_pdf_blocks(data2) == []
