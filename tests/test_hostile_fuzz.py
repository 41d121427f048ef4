"""Totality fuzz locks for the untrusted-payload surfaces.

These pin the containment CONTRACTS the operators rely on:
- convert_html_to_ssml is TOTAL on arbitrary tag soup (the fused UDF has
  no per-row catch — by design, totality is proven, not masked);
- the media parsers either return a value/None or raise an Exception
  subclass that the image_pixels/media dispatch layer catches — never a
  BaseException, never a hang.

Deterministic seeds (repo convention: no wall-clock/RNG in oracles; a
fixed seed keeps failures reproducible).
"""

from __future__ import annotations

import random

from hypothesis import example, given, settings
from hypothesis import strategies as st

TAGS = ["h4", "em", "strong", "p", "span", "script", "style", "br",
        "sub", "w", "s", "speak", "div", "center", "small"]

_soup_bits = st.lists(
    st.one_of(
        st.sampled_from([f"<{t}>" for t in TAGS]),
        st.sampled_from([f"</{t}>" for t in TAGS]),
        st.sampled_from(
            ["<!-- c -->", "<!DOCTYPE html>", "<![CDATA[x]]>", "<?php ?>",
             "<em", "</", ">", "<", "&", "&amp;", "&#x41;", "&#999999999;",
             '<em class="a" id=b>', "<br/>", "<em/>"]
        ),
        st.text(min_size=0, max_size=12),
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(_soup_bits)
# "<![" without a marked-section keyword: the stdlib scanner raises here
@example(["<![0"])
@example(["<![foo[x]]>", "y"])
def test_convert_html_to_ssml_total_on_tag_soup(bits):
    from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml

    out = convert_html_to_ssml("".join(bits))
    assert out.startswith("<speak>") and out.endswith("</speak>")


@settings(max_examples=300, deadline=None)
@given(_soup_bits)
def test_clean_ssml_tags_total_on_tag_soup(bits):
    from textractssmlprocessor_spark.functions.ssml import clean_ssml_tags

    out = clean_ssml_tags("".join(bits))
    assert isinstance(out, str)


def _hostile_payloads():
    rng = random.Random(0xC0FFEE)
    magics = [
        b"",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8\xff\xe0",
        b"\xff\xd8\xff\xe1",  # EXIF APP1
        b"GIF87a",
        b"GIF89a",
        b"RIFF\x24\x00\x00\x00WEBPVP8L",
        b"RIFF\x24\x00\x00\x00WEBPVP8 ",
        b"ID3",
        b"RIFF\x24\x00\x00\x00WAVEfmt ",
        b"%PDF-1.4\n",
    ]
    out = []
    for magic in magics:
        for n in (0, 1, 7, 64, 512):
            out.append(magic + bytes(rng.randrange(256) for _ in range(n)))
    return out


def test_media_parsers_contained_on_garbage():
    """Every parser returns a value/None or raises an Exception subclass
    (what the dispatch layer catches); BaseException escapes would kill
    the task through image_pixels' `except Exception`."""
    from textractssmlprocessor_spark.operators import multimodal as mm
    from textractssmlprocessor_spark.operators import pdf as pdfmod

    parsers = [
        mm.decode_png_pixels,
        mm.decode_jpeg_pixels,
        mm.decode_gif_pixels,
        mm.decode_vp8l_pixels,
        mm.audio_metadata,
        mm.exif_metadata,
        mm.redact_exif_gps,
        pdfmod.parse_pdf_blocks,
    ]
    for payload in _hostile_payloads():
        for fn in parsers:
            try:
                fn(payload)
            except Exception:
                pass  # contained by the dispatch layer's catch


def test_charset_decode_total_on_garbage():
    """decode_payload (the fused UDF's first step) must return
    (str, str) for ANY byte string — BOM fragments, truncated meta
    declarations, random binary."""
    rng = random.Random(7)
    magics = [b"", b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff",
              b"<meta charset=", b'<meta http-equiv="Content-Type"',
              b"\x00\x00\xfe\xff"]
    from textractssmlprocessor_spark.operators.charset import decode_payload

    for _ in range(2000):
        p = rng.choice(magics) + bytes(
            rng.randrange(256) for _ in range(rng.randrange(0, 300))
        )
        t, cs = decode_payload(p)
        assert isinstance(t, str) and isinstance(cs, str)
