"""WebP-lossless (VP8L) pixel decode (operators/multimodal.py).

Fixtures are hand-assembled with a minimal independent encoder below
(the GIF/JPEG fixture pattern: spec-driven byte/bit construction, no
image library). Cross-checks: the same pixels encoded two ways must
decode identically (literals vs LZ77, plain vs subtract-green, plane
code vs direct distance), and a PNG sibling of the same RGBA decodes to
the same bytes through the independently-validated PNG path.
"""

from __future__ import annotations

import heapq
import struct
import zlib
from collections import Counter

from textractssmlprocessor_spark.operators.multimodal import (
    _VP8L_DIST_MAP,
    _vp8l_predict,
    decode_png_pixels,
    decode_vp8l_pixels,
)

# --- minimal VP8L encoder (tests only) ----------------------------------------

_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _BW:
    """LSB-first bit writer."""

    def __init__(self):
        self.bits = []

    def w(self, v: int, n: int):
        for k in range(n):
            self.bits.append((v >> k) & 1)

    def tobytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, bit in enumerate(self.bits):
            out[i >> 3] |= bit << (i & 7)
        return bytes(out)


def _huff_lengths(counts: dict) -> dict:
    """Plain Huffman code lengths; a single symbol gets length 1 (which
    both sides treat as a zero-bit code)."""
    if len(counts) == 1:
        return {next(iter(counts)): 1}
    heap = [(c, i, (s,)) for i, (s, c) in enumerate(sorted(counts.items()))]
    heapq.heapify(heap)
    lengths = dict.fromkeys(counts, 0)
    while len(heap) > 1:
        c1, _, s1 = heapq.heappop(heap)
        c2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (c1 + c2, len(lengths) + len(heap), s1 + s2))
    return lengths


def _canon(lengths: dict) -> dict:
    """sym -> (code, len), canonical by (len, sym); single symbol -> 0 bits."""
    nz = sorted((ln, s) for s, ln in lengths.items() if ln > 0)
    if len(nz) == 1:
        return {nz[0][1]: (0, 0)}
    out, code, prev = {}, 0, nz[0][0]
    for ln, s in nz:
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


def _emit(bw: _BW, canon: dict, sym: int):
    code, ln = canon[sym]
    for k in range(ln - 1, -1, -1):
        bw.w((code >> k) & 1, 1)


def _write_prefix_code(bw: _BW, lengths: dict, alphabet_size: int) -> dict:
    """Write one prefix-code definition; returns the canonical table for
    emitting symbols."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.w(1, 1)  # simple
        bw.w(len(syms) - 1, 1)
        f8 = 0 if syms[0] <= 1 else 1
        bw.w(f8, 1)
        bw.w(syms[0], 8 if f8 else 1)
        if len(syms) == 2:
            bw.w(syms[1], 8)
        return _canon(dict.fromkeys(syms, 1) if len(syms) == 2 else {syms[0]: 1})
    bw.w(0, 1)  # normal: code-length coding
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    seq = []  # (clc_symbol, extra_val, extra_bits)
    i = 0
    while i < alphabet_size:
        if full[i] == 0:
            j = i
            while j < alphabet_size and full[j] == 0:
                j += 1
            run = j - i
            while run:
                if run < 3:
                    seq.extend([(0, 0, 0)] * run)
                    run = 0
                elif run <= 10:
                    seq.append((17, run - 3, 3))
                    run = 0
                else:
                    take = min(run, 138)
                    seq.append((18, take - 11, 7))
                    run -= take
            i = j
        else:
            seq.append((full[i], 0, 0))
            i += 1
    clc_lengths = _huff_lengths(Counter(t[0] for t in seq))
    maxpos = max(i for i, s in enumerate(_CLC_ORDER) if s in clc_lengths)
    num = max(4, maxpos + 1)
    bw.w(num - 4, 4)
    for k in range(num):
        bw.w(clc_lengths.get(_CLC_ORDER[k], 0), 3)
    bw.w(0, 1)  # no max_symbol cap: the sequence covers the full alphabet
    clc_canon = _canon(clc_lengths)
    for sym, extra_val, extra_bits in seq:
        _emit(bw, clc_canon, sym)
        if extra_bits:
            bw.w(extra_val, extra_bits)
    return _canon(lengths)


def _copy_code(v: int):
    """Inverse of the LZ77 prefix-value coding: value -> (code, bits, extra)."""
    if v <= 4:
        return v - 1, 0, 0
    code = 4
    while True:
        ebits = (code - 2) >> 1
        offset = (2 + (code & 1)) << ebits
        if offset + 1 <= v <= offset + (1 << ebits):
            return code, ebits, v - offset - 1
        code += 1


def _encode_image(bw: _BW, tokens: list, cache_bits: int = 0, level0: bool = False):
    """Entropy-coded image: color-cache bit, (level0: no meta bit), the five
    prefix codes, then the token stream. tokens: ('lit', argb) |
    ('copy', length, dist_value) | ('cache', idx)."""
    if cache_bits:
        bw.w(1, 1)
        bw.w(cache_bits, 4)
    else:
        bw.w(0, 1)
    if level0:
        bw.w(0, 1)  # no meta prefix image
    counts = [Counter() for _ in range(5)]
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            counts[0][(px >> 8) & 255] += 1
            counts[1][(px >> 16) & 255] += 1
            counts[2][px & 255] += 1
            counts[3][(px >> 24) & 255] += 1
        elif t[0] == "copy":
            counts[0][256 + _copy_code(t[1])[0]] += 1
            counts[4][_copy_code(t[2])[0]] += 1
        else:
            counts[0][280 + t[1]] += 1
    for c in counts[1:]:
        if not c:
            c[0] = 1  # decoder reads all five definitions regardless
    cache_size = (1 << cache_bits) if cache_bits else 0
    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    canons = [
        _write_prefix_code(bw, _huff_lengths(c), a)
        for c, a in zip(counts, alphabets)
    ]
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            _emit(bw, canons[0], (px >> 8) & 255)
            _emit(bw, canons[1], (px >> 16) & 255)
            _emit(bw, canons[2], px & 255)
            _emit(bw, canons[3], (px >> 24) & 255)
        elif t[0] == "copy":
            code, ebits, extra = _copy_code(t[1])
            _emit(bw, canons[0], 256 + code)
            if ebits:
                bw.w(extra, ebits)
            code, ebits, extra = _copy_code(t[2])
            _emit(bw, canons[4], code)
            if ebits:
                bw.w(extra, ebits)
        else:
            _emit(bw, canons[0], 280 + t[1])


def _container(stream_bits: _BW, w: int, h: int) -> bytes:
    head = _BW()
    head.w(w - 1, 14)
    head.w(h - 1, 14)
    head.w(0, 1)  # alpha hint
    head.w(0, 3)  # version
    head.bits.extend(stream_bits.bits)
    payload = b"\x2f" + head.tobytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _encode_literals(pixels: list, w: int, h: int, pre=None) -> bytes:
    bw = _BW()
    if pre is None:
        bw.w(0, 1)  # no transforms
    else:
        pre(bw)
    _encode_image(bw, [("lit", p) for p in pixels], level0=True)
    return _container(bw, w, h)


def _rgba(argb_pixels: list) -> bytes:
    out = bytearray()
    for p in argb_pixels:
        out += bytes([(p >> 16) & 255, (p >> 8) & 255, p & 255, (p >> 24) & 255])
    return bytes(out)


def _png_sibling(argb_pixels: list, w: int, h: int) -> bytes:
    raw = b""
    for y in range(h):
        raw += b"\x00" + _rgba(argb_pixels[y * w : (y + 1) * w])

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


C1, C2, C3 = 0xFF204060, 0xFF80A0C0, 0xFF112233
GRID = [C1, C2, C1, C2, C2, C1, C2, C1, C1, C1, C2, C2]  # 4x3


# --- tests --------------------------------------------------------------------


def test_literals_simple_codes():
    got = decode_vp8l_pixels(_encode_literals(GRID, 4, 3))
    assert got == (4, 3, 4, _rgba(GRID))


def test_png_sibling_agrees():
    assert decode_png_pixels(_png_sibling(GRID, 4, 3)) == (4, 3, 4, _rgba(GRID))
    assert decode_vp8l_pixels(_encode_literals(GRID, 4, 3))[3] == _rgba(GRID)


def test_lz77_plane_code_equals_direct_distance():
    """Row 2 copies row 1: once via plane code (0,1) -> distance = width,
    once via the direct code (120 + 8). Identical output pins the first
    plane-map entry and the distance prefix coding."""
    row = [C1, C1, C2, C2, C1, C2, C1, C2]
    pixels = row + row

    def enc(dist_value):
        bw = _BW()
        bw.w(0, 1)
        _encode_image(
            bw, [("lit", p) for p in row] + [("copy", 8, dist_value)],
            level0=True,
        )
        return _container(bw, 8, 2)

    direct = decode_vp8l_pixels(enc(120 + 8))
    plane = decode_vp8l_pixels(enc(1))  # map entry 1 = (0, 1) -> dy*w = 8
    assert direct == plane == (8, 2, 4, _rgba(pixels))


def test_lz77_run_via_plane_code_two():
    """Plane code 2 = (1, 0) -> distance 1: a run fill (overlapping copy)."""
    pixels = [C3] + [C3] * 7
    bw = _BW()
    bw.w(0, 1)
    _encode_image(bw, [("lit", C3), ("copy", 7, 2)], level0=True)
    assert decode_vp8l_pixels(_container(bw, 8, 1)) == (8, 1, 4, _rgba(pixels))


def test_color_cache_hits():
    cache_bits = 4

    def idx(px):
        return ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)

    assert idx(C1) != idx(C2), "fixture colors must not collide in the cache"
    pixels = [C1, C2, C1, C2, C2, C1]
    tokens = [("lit", C1), ("lit", C2)] + [
        ("cache", idx(p)) for p in pixels[2:]
    ]
    bw = _BW()
    bw.w(0, 1)
    _encode_image(bw, tokens, cache_bits=cache_bits, level0=True)
    assert decode_vp8l_pixels(_container(bw, 6, 1)) == (6, 1, 4, _rgba(pixels))


def test_subtract_green_transform():
    def sub_green(p):
        g = (p >> 8) & 255
        r = (((p >> 16) & 255) - g) & 255
        b = ((p & 255) - g) & 255
        return (p & 0xFF00FF00) | (r << 16) | b

    def pre(bw):
        bw.w(1, 1)
        bw.w(2, 2)  # transform type 2: subtract green
        bw.w(0, 1)  # no more transforms

    got = decode_vp8l_pixels(
        _encode_literals([sub_green(p) for p in GRID], 4, 3, pre=pre)
    )
    assert got == (4, 3, 4, _rgba(GRID))


def _forward_predict_residuals(pixels, w, h, mode):
    """Mirror of the decoder's edge rules: (0,0) black, row 0 left,
    col 0 top, else the block's mode; residual = pixel - pred mod 256."""
    res = []
    for pos, p in enumerate(pixels):
        x, y = pos % w, pos // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = pixels[pos - 1]
        elif x == 0:
            pred = pixels[pos - w]
        else:
            pred = _vp8l_predict(
                mode, pixels[pos - 1], pixels[pos - w],
                pixels[pos - w - 1], pixels[pos - w + 1],
            )
        r = 0
        for shift in (24, 16, 8, 0):
            r |= (((p >> shift) - (pred >> shift)) & 255) << shift
        res.append(r)
    return res


def test_predictor_transform_modes():
    """Predictor transform with a 1x1 mode sub-image, several modes; the
    same pixels also encoded as plain literals must decode identically."""
    pixels = [
        0xFF000000 + 0x010203 * k + ((k * 37) % 200) for k in range(16)
    ]
    plain = decode_vp8l_pixels(_encode_literals(pixels, 4, 4))
    assert plain == (4, 4, 4, _rgba(pixels))
    for mode in (1, 2, 5, 7, 11, 12, 13):
        res = _forward_predict_residuals(pixels, 4, 4, mode)

        def pre(bw, mode=mode, res=res):
            bw.w(1, 1)
            bw.w(0, 2)  # transform type 0: predictor
            bw.w(0, 3)  # size_bits = 2 -> one 4x4 block
            _encode_image(bw, [("lit", mode << 8)])  # sub-image: 1 pixel
            bw.w(0, 1)  # no more transforms

        got = decode_vp8l_pixels(_encode_literals(res, 4, 4, pre=pre))
        assert got == plain, f"predictor mode {mode}"


def test_color_transform_roundtrip():
    """Color transform with one 4x4 block; forward computed by inverting
    the decoder's signed >>5 delta math step by step."""
    g2r, g2b, r2b = 0x40, 0xE0, 0x10  # one positive, one negative, one small

    def s8(v):
        return v - 256 if v > 127 else v

    def forward(p):
        green = (p >> 8) & 255
        red = (p >> 16) & 255
        blue = p & 255
        new_red = (red - ((s8(g2r) * s8(green)) >> 5)) & 255
        tmp = (blue - ((s8(r2b) * s8(red)) >> 5)) & 255
        new_blue = (tmp - ((s8(g2b) * s8(green)) >> 5)) & 255
        return (p & 0xFF00FF00) | (new_red << 16) | new_blue

    pixels = [0xFF000000 | ((p * 2654435761) & 0xFFFFFF) for p in range(16)]

    def pre(bw):
        bw.w(1, 1)
        bw.w(1, 2)  # transform type 1: color
        bw.w(0, 3)  # size_bits = 2 -> one block
        cte = (r2b << 16) | (g2b << 8) | g2r
        _encode_image(bw, [("lit", cte)])
        bw.w(0, 1)

    got = decode_vp8l_pixels(
        _encode_literals([forward(p) for p in pixels], 4, 4, pre=pre)
    )
    assert got == (4, 4, 4, _rgba(pixels))


def test_color_indexing_with_bundling():
    """3-color palette -> width_bits 2 (4 pixels per packed byte), palette
    entries delta-coded, out-of-range index resolves transparent black."""
    palette = [C1, C2, C3]
    idxs = [0, 1, 2, 1, 2, 0, 1, 0, 2, 2, 1, 0, 0, 1, 2, 1]  # 8x2
    pixels = [palette[i] for i in idxs]
    deltas = []
    prev = 0
    for c in palette:
        d = 0
        for shift in (24, 16, 8, 0):
            d |= (((c >> shift) - (prev >> shift)) & 255) << shift
        deltas.append(d)
        prev = c
    packed = []
    for y in range(2):
        for xb in range(2):  # packed width = ceil(8 / 4) = 2
            v = 0
            for k in range(4):
                v |= idxs[y * 8 + xb * 4 + k] << (k * 2)
            packed.append(v << 8)  # indices ride the green channel

    def pre(bw):
        bw.w(1, 1)
        bw.w(3, 2)  # transform type 3: color indexing
        bw.w(len(palette) - 1, 8)
        _encode_image(bw, [("lit", d) for d in deltas])
        bw.w(0, 1)

    bw = _BW()
    pre(bw)
    _encode_image(bw, [("lit", p) for p in packed], level0=True)
    assert decode_vp8l_pixels(_container(bw, 8, 2)) == (8, 2, 4, _rgba(pixels))


def test_alpha_channel_survives():
    pixels = [0x80FF0000, 0x00112233, 0xFF445566, 0x7F000000]
    got = decode_vp8l_pixels(_encode_literals(pixels, 2, 2))
    assert got == (2, 2, 4, _rgba(pixels))
    assert got[3][3] == 0x80  # first pixel's alpha


def test_dist_map_shape():
    assert len(_VP8L_DIST_MAP) == 120
    assert _VP8L_DIST_MAP[0] == (0, 1) and _VP8L_DIST_MAP[1] == (1, 0)
    assert _VP8L_DIST_MAP[2] == (1, 1) and _VP8L_DIST_MAP[3] == (-1, 1)
    assert _VP8L_DIST_MAP[119] == (8, 7)
    # non-decreasing squared distance, no (0,0), dy in 0..7
    d2 = [dx * dx + dy * dy for dx, dy in _VP8L_DIST_MAP]
    assert d2 == sorted(d2) and (0, 0) not in _VP8L_DIST_MAP


def test_containment_truncation_and_garbage():
    full = _encode_literals(GRID, 4, 3)
    assert decode_vp8l_pixels(full) is not None
    for cut in (10, 21, 25, len(full) - 2):
        assert decode_vp8l_pixels(full[:cut]) is None
    assert decode_vp8l_pixels(b"RIFF\x00\x00\x00\x00WEBPVP8 ") is None
    assert decode_vp8l_pixels(b"not webp") is None
    assert decode_vp8l_pixels(None) is None
    # header-declared dims past the decode cap: refused before allocation
    bw = _BW()
    bw.w(0, 1)
    _encode_image(bw, [("lit", C1)], level0=True)
    assert decode_vp8l_pixels(_container(bw, 16384, 16384)) is None


def test_dispatch_and_dhash_bridge():
    """decode_pixels + image_dhash route VP8L; the dHash equals the
    PNG sibling's (same pixels -> identical hash, the format bridge)."""
    from textractssmlprocessor_spark.operators.multimodal import (
        decode_pixels,
        dhash64,
    )

    pixels = [
        0xFF000000 | (((x * 29) % 256) << 16) | (((y * 83) % 256) << 8)
        | ((x * y) % 256)
        for y in range(8)
        for x in range(8)
    ]
    webp = _encode_literals(pixels, 8, 8)
    assert decode_pixels(webp)[:3] == (8, 8, 4)
    assert dhash64(webp) == dhash64(_png_sibling(pixels, 8, 8))


def test_meta_prefix_groups():
    """Two prefix-code groups selected by a 2x1 entropy image (precision
    4x4 blocks over an 8x4 canvas): left half decodes with group 0's
    codes, right half with group 1's — pixel values prove which group
    served each position."""
    w, h, prec = 8, 4, 2  # 1<<2 = 4-pixel blocks -> meta image is 2x1
    left, right = 0xFF101010, 0xFF505050
    pixels = [left if x < 4 else right for _ in range(h) for x in range(8)]

    bw = _BW()
    bw.w(0, 1)  # no transforms
    bw.w(0, 1)  # no color cache
    bw.w(1, 1)  # use meta prefix codes
    bw.w(prec - 2, 3)
    # entropy image 2x1: group index rides (pixel >> 8) & 0xffff, so green
    # holds the low 8 bits: group 0 then group 1
    _encode_image(bw, [("lit", 0 << 8), ("lit", 1 << 8)])
    # two groups, each knowing ONLY its half's color: a group mixup makes
    # the decoder read a symbol the other group's code cannot express
    for px in (left, right):
        canons = []
        for vals, alphabet in (
            ([(px >> 8) & 255], 280),
            ([(px >> 16) & 255], 256),
            ([px & 255], 256),
            ([(px >> 24) & 255], 256),
            ([0], 40),
        ):
            canons.append(
                _write_prefix_code(bw, dict.fromkeys(vals, 1), alphabet)
            )
    # every pixel is its group's single literal: zero bits per pixel
    got = decode_vp8l_pixels(_container(bw, w, h))
    assert got == (w, h, 4, _rgba(pixels))
