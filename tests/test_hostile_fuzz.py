"""Totality fuzz locks for the untrusted-payload surfaces.

These pin the containment CONTRACTS the operators rely on:
- convert_html_to_ssml is TOTAL on arbitrary tag soup (the fused UDF has
  no per-row catch — by design, totality is proven, not masked);
- the pixel decoders behind decode_pixels either return a value/None or
  raise an Exception subclass that decode_pixels catches — never a
  BaseException, never a hang;
- the container parsers whose callers have no catch (media_metadata,
  image_exif, redact_media_gps, image_pixels' codec label and
  audio_pcm_features) are TOTAL: they return on any payload.

Deterministic seeds (repo convention: no wall-clock/RNG in oracles; a
fixed seed keeps failures reproducible).
"""

from __future__ import annotations

import random
import struct

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


def _structured_payloads(seed: int, n: int) -> list[bytes]:
    """Seeded near-valid containers, where a parser's bounds rules matter
    more than on random bytes: WAV with every ``fmt `` size 0-40, zero
    byte rates and 0-16 bits; a two-scan JPEG with one segment's declared
    length set to 0-3 or within 3 of the truth, cut before or after SOS;
    APP1 Exif segments over random TIFF bodies (random IFD entries,
    offsets and next pointers in and around the segment)."""
    rng = random.Random(seed)

    def rnd(k: int) -> bytes:
        return bytes(rng.randrange(256) for _ in range(k))

    def chunk(tag: bytes, body: bytes, size: int | None = None) -> bytes:
        size = len(body) if size is None else size
        return tag + struct.pack("<I", size) + body + bytes(len(body) & 1)

    def wav() -> bytes:
        fields = struct.pack(
            "<HHIIHH",
            rng.choice([1, 1, 3, rng.randrange(65536)]),
            rng.randrange(4),
            rng.choice([0, 1, 7, 8000, 44100, rng.randrange(1 << 32)]),
            rng.choice([0, 0, 1, rng.randrange(1 << 32)]),
            rng.randrange(5),
            rng.randrange(17),
        )
        fmt = (fields + rnd(24))[: rng.randrange(41)]
        data = rnd(rng.randrange(65))
        size = rng.choice([len(data), len(data), len(data) + rng.randrange(-3, 64)])
        chunks = [chunk(b"fmt ", fmt), chunk(b"data", data, max(size, 0))]
        if rng.random() < 0.2:
            chunks.reverse()
        if rng.random() < 0.2:
            chunks.insert(rng.randrange(3), chunk(b"LIST", rnd(rng.randrange(9))))
        body = b"WAVE" + b"".join(chunks)
        out = b"RIFF" + struct.pack("<I", len(body)) + body
        return out[: rng.randrange(12, len(out) + 1)] if rng.random() < 0.2 else out

    def tiff() -> bytes:
        order = rng.choice(["II", "MM"])
        e = "<" if order == "II" else ">"
        ifd0 = rng.choice([8, 8, 8, rng.randrange(64)])
        tags = [0x0112, 0x010F, 0x0110, 0x8769, 0x8825, 0x8825, 0x9003, 0]
        body = bytearray(order.encode() + struct.pack(e + "HI", 42, ifd0))
        body += rnd(max(ifd0 - len(body), 0))
        count = rng.randrange(7)
        body += struct.pack(e + "H", count)
        for _ in range(count):
            body += struct.pack(
                e + "HHII",
                rng.choice(tags + [rng.randrange(65536)]),
                rng.randrange(13),
                rng.choice([0, 1, 2, 4, 5, 20, rng.randrange(1 << 32)]),
                rng.choice([rng.randrange(96), rng.randrange(1 << 32)]),
            )
        body += struct.pack(e + "I", rng.choice([0, 0, rng.randrange(96)]))
        # a tail of small values: counts and pointers that land in range
        body += bytes(rng.choice([0, 1, 2, 8, rng.randrange(256)])
                      for _ in range(rng.randrange(64)))
        return bytes(body[: rng.randrange(len(body) + 1)]
                     if rng.random() < 0.1 else body)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def entropy() -> bytes:
        out = bytearray()
        for byte in rnd(rng.randrange(1, 24)):
            out += b"\xff\x00" if byte == 0xFF else bytes([byte])
            if rng.random() < 0.05:
                out += bytes([0xFF, 0xD0 + rng.randrange(8)])  # RSTn
        return bytes(out)

    def jpeg() -> bytes:
        segs = [
            seg(0xE0, b"JFIF\x00" + rnd(9)),
            seg(0xDB, bytes([0]) + bytes(rng.randrange(1, 9) for _ in range(64))),
            seg(rng.choice([0xC0, 0xC2]), bytes([8]) + struct.pack(">HH", 8, 8)
                + bytes([1, 1, 0x11, 0])),
            seg(0xC4, bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12)
                + bytes(range(12))),
            seg(0xC4, bytes([0x10]) + bytes([0, 1] + [0] * 14) + bytes([0])),
        ]
        if rng.random() < 0.5:
            segs.insert(rng.randrange(len(segs) + 1),
                        seg(0xE1, b"Exif\x00\x00" + tiff()))
        head = len(segs)
        segs += [seg(0xDA, bytes([1, 1, 0, 0, 63, 0])), entropy(),
                 seg(0xDA, bytes([1, 1, 0, 1, 63, 0])), entropy()]
        k = rng.choice([i for i in range(len(segs)) if segs[i][:1] == b"\xff"])
        if rng.random() < 0.7:  # declared length 0-3 or within 3 of true
            true = len(segs[k]) - 2
            bad = rng.choice([0, 1, 2, 3, true + rng.randrange(-3, 4)])
            segs[k] = segs[k][:2] + struct.pack(">H", max(bad, 0)) + segs[k][4:]
        out = b"\xff\xd8" + b"".join(segs) + b"\xff\xd9"
        if rng.random() < 0.3:  # cut before or after the first SOS
            sos = 2 + sum(len(x) for x in segs[:head])
            cut = rng.choice([rng.randrange(2, sos + 1),
                              rng.randrange(sos, len(out) + 1)])
            out = out[:cut]
        return out

    def exif() -> bytes:
        app1 = [seg(0xE1, b"Exif\x00\x00" + tiff())
                for _ in range(rng.choice([1, 1, 2]))]
        return b"\xff\xd8" + b"".join(app1) + seg(0xDA, bytes(6)) + b"\xff\xd9"

    return [rng.choice([wav, jpeg, exif])() for _ in range(n)]


# PCM, 1 channel, 7 Hz, byte rate 0, block align 1, 1 bit: the fallback
# byte rate 7 * 1 * 1 // 8 is 0
_ZERO_BYTE_RATE_WAV = (
    b"RIFF" + struct.pack("<I", 40) + b"WAVE"
    + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 7, 0, 1, 1)
    + b"data" + struct.pack("<I", 4) + bytes(4)
)


def test_media_parsers_contained_on_garbage():
    """Every pixel decoder returns a value/None or raises an Exception
    subclass (what decode_pixels catches); BaseException escapes would
    kill the task through image_pixels."""
    from textractssmlprocessor_spark.operators import multimodal as mm
    from textractssmlprocessor_spark.operators import pdf as pdfmod

    parsers = [
        mm.decode_png_pixels,
        mm.decode_jpeg_pixels,
        mm.decode_gif_pixels,
        mm.decode_vp8l_pixels,
        pdfmod.parse_pdf_blocks,
    ]
    for payload in _hostile_payloads():
        for fn in parsers:
            try:
                fn(payload)
            except Exception:
                pass  # contained by the dispatch layer's catch


def test_uncaught_media_parsers_are_total():
    """The parsers that map_rows operators and the audio_pcm_features
    pandas UDF call without a catch raise nothing, on the random corpus
    and on the structured one (one exception there fails a whole task)."""
    from textractssmlprocessor_spark.operators import multimodal as mm

    parsers = [
        mm.image_dimensions,
        mm.audio_metadata,
        mm.undecodable_codec,
        mm.exif_metadata,
        mm.redact_exif_gps,
        mm._pcm_feature_row,
    ]
    corpus = (_hostile_payloads() + _structured_payloads(1, 3000)
              + [_ZERO_BYTE_RATE_WAV])
    raised = []
    for payload in corpus:
        for fn in parsers:
            try:
                fn(payload)
            except Exception as exc:
                raised.append((fn.__name__, repr(exc), payload))
    assert not raised, (len(raised), raised[:3])
    assert mm.audio_metadata(_ZERO_BYTE_RATE_WAV) is None


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
