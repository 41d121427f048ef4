"""Spark-level operator tests: dedup, similarity, OCR reconstruction, SRT
round-trip, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from reference_oracle import frozen_reference, needs_reference


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_dedup_exact_finds_normalized_copies(spark, docs):
    from textractssmlprocessor_spark.operators.dedup import dedup_exact

    d = docs.select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text")).alias("text"),
    )
    groups = dedup_exact(d.unionByName(copies)).collect()
    dup_groups = [g for g in groups if g["n_dupes"] > 1]
    assert len(dup_groups) == d.count()
    # survivor is always the original (min id)
    assert all(g["keep_id"] < 10000 for g in dup_groups)


def test_minhash_lsh_finds_near_dupes(spark, docs):
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    d = docs.select("doc_id", "text").limit(100)
    near = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny suffix")).alias("text"),
    )
    pairs = minhash_lsh_pairs(d.unionByName(near), threshold=0.5).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    hits = sum(1 for r in d.collect() if (r["doc_id"], r["doc_id"] + 10000) in found)
    # banded MinHash at s~0.9 catches nearly every planted pair
    assert hits >= 90


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    from textractssmlprocessor_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    q = rows[0]
    sims = sorted(
        (
            (-float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), vid)
            for vid, v in rows.items()
            if vid != 0
        )
    )
    expected = [(vid, round(-s, 6)) for s, vid in sims[:10]]
    got = [(r["vec_id"], r["cosine_sim"]) for r in cosine_topk(emb, 0, 10).collect()]
    assert {v for v, _ in got} == {v for v, _ in expected}
    for (gv, gs), (ev, es) in zip(
        sorted(got, key=lambda x: x[0]), sorted(expected, key=lambda x: x[0])
    ):
        assert math.isclose(gs, es, abs_tol=1e-5), (gv, gs, es)


def test_ocr_reconstruction_drops_boilerplate(spark):
    from textractssmlprocessor_spark.operators.ocr import reconstruct_documents

    # two pages, 2 content lines each, running head + folio on both pages
    blocks = []
    for page in (0, 1):
        blocks.append(("u1", page, 900 + page, 0.0, 0.02, "RUNNING HEAD"))
        blocks.append(("u1", page, 910 + page, 0.45, 0.95, str(page + 1)))
        for line in (0, 1):
            top = 0.2 + line * 0.2
            for i, w in enumerate(["alpha", "beta", "gamma"]):
                blocks.append(
                    ("u1", page, page * 100 + line * 10 + i, i * 0.2, top,
                     f"{w}{page}{line}")
                )
    df = spark.createDataFrame(
        blocks, ["url", "page_no", "block_id", "left", "top", "text"]
    )
    out = reconstruct_documents(df).collect()
    assert len(out) == 1
    text = out[0]["text"]
    assert "RUNNING HEAD" not in text
    assert text.split("\n") == [
        "alpha00 beta00 gamma00",
        "alpha01 beta01 gamma01",
        "alpha10 beta10 gamma10",
        "alpha11 beta11 gamma11",
    ]


def test_ocr_keeps_non_repeating_edge_lines(spark):
    from textractssmlprocessor_spark.operators.ocr import reconstruct_documents

    # an edge line that appears on only 1 of 3 pages is NOT boilerplate
    blocks = []
    for page in range(3):
        blocks.append(("u1", page, page * 10, 0.0, 0.5, f"body{page}"))
    blocks.append(("u1", 0, 99, 0.0, 0.02, "unique chapter opening"))
    df = spark.createDataFrame(
        blocks, ["url", "page_no", "block_id", "left", "top", "text"]
    )
    text = reconstruct_documents(df).collect()[0]["text"]
    assert "unique chapter opening" in text


def test_srt_roundtrip(spark):
    """generate_srt -> parse_srt recovers every subtitle with exact times
    (ms truncation is the only loss, bounded by 1ms)."""
    from textractssmlprocessor_spark.operators.align import generate_srt, parse_srt

    chunks = spark.createDataFrame(
        [
            ("u1", 1, "First sentence here. Second one now.", "x"),
            ("u1", 2, "Third sentence arrives. Fourth closes.", "x"),
        ],
        ["url", "chunk_number", "ssml", "extracted_text"],
    )
    manifest = spark.createDataFrame(
        [("u1", 1, 4.0), ("u1", 2, 6.5)], ["url", "part_no", "duration"]
    )
    srt = generate_srt(chunks, manifest, "english", use_shorter_subtitles=False)
    parsed = parse_srt(srt).orderBy("index").collect()
    assert [r["index"] for r in parsed] == [1, 2]
    assert parsed[0]["text"] == "First sentence here. Second one now."
    assert abs(parsed[0]["start"] - 0.0) < 0.002
    assert abs(parsed[0]["end"] - 4.0) < 0.002
    assert abs(parsed[1]["start"] - 4.0) < 0.002
    assert abs(parsed[1]["end"] - 10.5) < 0.002


def _srt_from_spark(spark, case: dict, shorter: bool) -> str:
    from textractssmlprocessor_spark.operators.align import generate_srt

    chunks = spark.createDataFrame(
        [tuple(r) for r in case["chunks"]],
        "url string, chunk_number int, ssml string, extracted_text string",
    )
    manifest = spark.createDataFrame(
        [("u1", i + 1, d) for i, d in enumerate(case["durations"])],
        "url string, part_no int, duration double",
    )
    return generate_srt(chunks, manifest, case["language"], shorter).collect()[0]["srt"]


def test_srt_matches_frozen_reference(spark):
    """SRT content parity without the reference checkout: generate_srt
    equals the frozen reference-verified documents byte for byte."""
    case = frozen_reference("srt")
    for shorter in (False, True):
        expected = case["expected"]["shorter" if shorter else "original"]
        assert _srt_from_spark(spark, case, shorter) == expected, f"shorter={shorter}"


@needs_reference
def test_srt_against_reference_generator(spark):
    """SRT content parity: Spark generate_srt output == reference
    generate_srt_content given the same aligned chunks."""
    from reference_oracle import ref_timestamp

    case = frozen_reference("srt")
    all_chunks = []
    cum = 0.0
    for (_, _, ssml, latin), dur in zip(case["chunks"], case["durations"]):
        c = {
            "cleaned_english_translation": ssml,
            "original_latin": latin,
            "start_time": cum,
        }
        cum += dur
        c["end_time"] = cum
        all_chunks.append(c)

    for shorter in (False, True):
        expected = ref_timestamp().generate_srt_content(all_chunks, case["language"], shorter)
        assert _srt_from_spark(spark, case, shorter) == expected, f"shorter={shorter}"


def test_multimodal_metadata_and_frames(spark):
    from textractssmlprocessor_spark.operators.multimodal import (
        media_metadata,
        sample_frames,
    )

    df = spark.createDataFrame(
        [("u1", bytearray(b"x" * 3000)), ("u2", bytearray(b"y" * 100)), ("u3", None)],
        ["url", "payload"],
    )
    meta = {r["url"]: r for r in media_metadata(df).collect()}
    assert meta["u1"]["n_bytes"] == 3000
    assert meta["u2"]["n_bytes"] == 100
    assert meta["u1"]["content_hash"] != meta["u2"]["content_hash"]
    # non-image payloads get NULL dimensions — never fabricated
    assert meta["u1"]["width"] is None and meta["u1"]["media_type"] == "binary"

    frames = sample_frames(df, every_n_bytes=1024).collect()
    _check_frames(frames)


def _png_bytes(w: int, h: int) -> bytes:
    """A real, minimal, valid PNG built with stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))  # filter 0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_dimensions_real_headers(spark):
    """REAL dimension parsing from real container bytes — PNG (full valid
    file), JPEG (SOF0 walk past APP0/comment), GIF, BMP — plus graceful
    None on garbage and truncation."""
    import struct

    from textractssmlprocessor_spark.operators.multimodal import (
        image_dimensions,
        media_metadata,
    )

    png = _png_bytes(320, 200)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(8)  # APP0
        + b"\xff\xfe" + struct.pack(">H", 5) + b"cmt"                   # COM
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 240, 424) + b"\x01" + bytes(3)             # SOF0
        + b"\xff\xd9"
    )
    gif = b"GIF89a" + struct.pack("<HH", 99, 44) + bytes(4)
    bmp = (
        b"BM" + bytes(12) + struct.pack("<I", 40)
        + struct.pack("<ii", 77, -55) + bytes(20)  # negative h = top-down
    )
    assert image_dimensions(png) == ("png", 320, 200)
    assert image_dimensions(jpeg) == ("jpeg", 424, 240)
    assert image_dimensions(gif) == ("gif", 99, 44)
    assert image_dimensions(bmp) == ("bmp", 77, 55)
    assert image_dimensions(b"not an image at all") is None
    assert image_dimensions(png[:20]) is None

    # WebP: all three container flavors (lossy VP8, lossless VP8L,
    # extended VP8X), and a non-WEBP RIFF (WAV) must NOT match
    vp8 = b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 320, 240) + bytes(4)
    webp_lossy = (
        b"RIFF" + struct.pack("<I", 12 + len(vp8)) + b"WEBP"
        + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    )
    vp8l = b"\x2f" + struct.pack("<I", 639 | (479 << 14))
    webp_lossless = (
        b"RIFF" + struct.pack("<I", 12 + len(vp8l)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l + bytes(4)
    )
    vp8x = bytes(4) + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
    webp_ext = (
        b"RIFF" + struct.pack("<I", 12 + len(vp8x)) + b"WEBP"
        + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    )
    assert image_dimensions(webp_lossy) == ("webp", 320, 240)
    assert image_dimensions(webp_lossless) == ("webp", 640, 480)
    assert image_dimensions(webp_ext) == ("webp", 100, 50)
    assert image_dimensions(b"RIFF\x00\x00\x00\x00WAVEfmt ") is None

    # spec-legal 0xFF fill bytes before markers (JPEG B.1.1.2) must not
    # desync the walker, and a scan header before any SOFn stops it
    filled = (
        b"\xff\xd8" + b"\xff\xff\xff"                                  # fills
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(8)
        + b"\xff\xff"                                                  # fill
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 12, 34) + b"\x01" + bytes(3)
        + b"\xff\xd9"
    )
    assert image_dimensions(filled) == ("jpeg", 34, 12)
    sos_first = (
        b"\xff\xd8"
        + b"\xff\xda" + struct.pack(">H", 4) + bytes(2)  # SOS, no SOFn
        + bytes(32)
    )
    assert image_dimensions(sos_first) is None

    df = spark.createDataFrame(
        [("png://1", bytearray(png)), ("jpg://2", bytearray(jpeg)),
         ("txt://3", bytearray(b"hello"))],
        ["url", "payload"],
    )
    meta = {r["url"]: r for r in media_metadata(df).collect()}
    assert (meta["png://1"]["media_type"], meta["png://1"]["width"],
            meta["png://1"]["height"]) == ("png", 320, 200)
    assert (meta["jpg://2"]["width"], meta["jpg://2"]["height"]) == (424, 240)
    assert meta["txt://3"]["width"] is None


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else b if pb <= pc else c


def test_png_pixel_decode_real(spark):
    """REAL PNG pixel decode: all five scanline filters, palette expansion,
    multi-IDAT concatenation, and the distributed image_pixels operator —
    exact pixel recovery from independently-encoded spec bytes."""
    import struct
    import zlib

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_pixels,
        decode_png_pixels,
        image_pixels,
    )

    def encode(width, height, pixels, color_type=2, filters=None,
               palette=None, split_idat=False):
        chans = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        stride = width * chans
        filters = filters if filters is not None else [0] * height
        raw = bytearray()
        prev = bytes(stride)
        for y in range(height):
            line = pixels[y * stride : (y + 1) * stride]
            raw.append(filters[y])
            for x in range(stride):
                a = line[x - chans] if x >= chans else 0
                c = prev[x - chans] if x >= chans else 0
                pred = {0: 0, 1: a, 2: prev[x], 3: (a + prev[x]) >> 1,
                        4: _paeth(a, prev[x], c)}[filters[y]]
                raw.append((line[x] - pred) & 0xFF)
            prev = line

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body)))

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            out += chunk(b"PLTE", palette)
        z = zlib.compress(bytes(raw))
        if split_idat:
            out += chunk(b"IDAT", z[: len(z) // 2]) + chunk(b"IDAT", z[len(z) // 2 :])
        else:
            out += chunk(b"IDAT", z)
        return out + chunk(b"IEND", b"")

    w, h = 9, 5
    rgb = bytes((x * 7 + 13 * (x // 3) + 31 * (x % 5)) % 256 for x in range(w * h * 3))
    # one row per filter type, split across two IDAT chunks
    png = encode(w, h, rgb, color_type=2, filters=[0, 1, 2, 3, 4], split_idat=True)
    assert decode_png_pixels(png) == (w, h, 3, rgb)
    assert decode_pixels(png) == (w, h, 3, rgb)

    gray = bytes((x * 11) % 256 for x in range(w * h))
    assert decode_png_pixels(encode(w, h, gray, color_type=0, filters=[4, 3, 2, 1, 0])) \
        == (w, h, 1, gray)
    rgba = bytes((x * 3 + 1) % 256 for x in range(4 * 2 * 4))
    assert decode_png_pixels(encode(4, 2, rgba, color_type=6, filters=[1, 4])) \
        == (4, 2, 4, rgba)

    # palette: indices expand to RGB triples through PLTE
    palette = bytes(range(12))  # 4 entries
    idx = bytes([0, 1, 2, 3, 3, 2])
    expected = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert decode_png_pixels(encode(3, 2, idx, color_type=3, palette=palette)) \
        == (3, 2, 3, expected)

    # unsupported/broken shapes are None, also through the decode chain
    assert decode_png_pixels(b"not a png") is None
    assert decode_png_pixels(png[:40]) is None
    depth16 = bytearray(encode(2, 2, bytes(12)))
    depth16[24] = 16  # IHDR bit-depth byte
    assert decode_png_pixels(bytes(depth16)) is None
    assert decode_pixels(b"\xff\xd8 jpeg-ish") is None

    df = spark.createDataFrame(
        [("png://1", bytearray(png)), ("txt://2", bytearray(b"nope"))],
        ["url", "payload"],
    )
    rows = {r["url"]: r for r in image_pixels(df).collect()}
    assert (rows["png://1"]["width"], rows["png://1"]["height"],
            rows["png://1"]["channels"]) == (w, h, 3)
    assert bytes(rows["png://1"]["pixels"]) == rgb
    assert rows["txt://2"]["pixels"] is None


def _wav_bytes(sample_rate=16000, channels=1, bits=16, n_data=64000) -> bytes:
    import struct

    byte_rate = sample_rate * channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, channels * bits // 8, bits
    )
    data = bytes(n_data)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp3_frame(bitrate_idx=9, sr_idx=0, padding=0, mono=True) -> bytes:
    """One valid MPEG-1 Layer III frame (zeroed payload): 0xFFFB sync,
    header fields packed by hand, length from the public frame formula."""
    rates = (44100, 48000, 32000)
    kbps = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    b2 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    b3 = 0xC0 if mono else 0x00
    frame_len = 144 * kbps[bitrate_idx] * 1000 // rates[sr_idx] + padding
    return bytes([0xFF, 0xFB, b2, b3]) + bytes(frame_len - 4)


def test_audio_metadata_real_headers(spark):
    """REAL audio parsing from real container bytes — WAV RIFF chunk walk
    and an MPEG frame walk with exact per-frame duration math (VBR mix,
    ID3v2 skip, truncated-final-frame drop)."""
    from textractssmlprocessor_spark.operators.multimodal import (
        audio_metadata,
        media_metadata,
    )

    # 64000 bytes at 32000 B/s -> exactly 2000 ms
    wav = _wav_bytes(sample_rate=16000, channels=1, bits=16, n_data=64000)
    assert audio_metadata(wav) == ("wav", 2000, 16000, 1)
    stereo = _wav_bytes(sample_rate=44100, channels=2, bits=16, n_data=176400)
    assert audio_metadata(stereo) == ("wav", 1000, 44100, 2)

    # 38 CBR frames at 44100 Hz -> 38 * 1152 / 44100 = 0.99265 s
    cbr = b"".join(_mp3_frame() for _ in range(38))
    assert audio_metadata(cbr) == ("mp3", int(38 * 1152 / 44100 * 1000), 44100, 1)
    # ID3v2 tag (syncsafe size 100) before the frames must be skipped
    id3 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + bytes(100)
    assert audio_metadata(id3 + cbr) == audio_metadata(cbr)
    # VBR: frames at different bitrates still sum exactly (same spf/rate)
    vbr = _mp3_frame(9) + _mp3_frame(11) + _mp3_frame(14, padding=1)
    assert audio_metadata(vbr) == ("mp3", int(3 * 1152 / 44100 * 1000), 44100, 1)
    # truncated final frame: only complete frames count
    assert audio_metadata(cbr + _mp3_frame()[:-40])[1] == audio_metadata(cbr)[1]
    assert audio_metadata(b"not audio at all, but long enough bytes") is None
    assert audio_metadata(wav[:16]) is None

    df = spark.createDataFrame(
        [("wav://1", bytearray(wav)), ("mp3://2", bytearray(cbr)),
         ("txt://3", bytearray(b"hello"))],
        ["url", "payload"],
    )
    meta = {r["url"]: r for r in media_metadata(df).collect()}
    assert (meta["wav://1"]["media_type"], meta["wav://1"]["duration_ms"],
            meta["wav://1"]["sample_rate"], meta["wav://1"]["channels"]) == (
        "wav", 2000, 16000, 1)
    assert meta["mp3://2"]["media_type"] == "mp3"
    assert meta["wav://1"]["width"] is None  # audio: no fabricated dims
    assert meta["txt://3"]["duration_ms"] is None


def test_media_metadata_out_of_int32_headers(spark):
    """A header value above 2^31-1 does not fit its IntegerType column,
    and a WAV without a byte rate whose fallback rate * channels * bits / 8
    is 0 has no duration: the row keeps the default media_type with NULL
    fields instead of failing the task."""
    import struct

    from textractssmlprocessor_spark.operators.multimodal import media_metadata

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">IIBBBBB", 0xFFFFFFFF, 1, 8, 0, 0, 0, 0) + bytes(4))
    bmp = (b"BM" + bytes(12) + struct.pack("<Iii", 40, 1, -(2**31)) + bytes(28))
    fmt = struct.pack("<HHIIHH", 1, 1, 0xFFFFFFF0, 32000, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 64) + bytes(64))
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    # PCM, 1 channel, 7 Hz, byte rate 0, 1 bit: fallback 7 * 1 * 1 // 8 is 0
    fmt = struct.pack("<HHIIHH", 1, 1, 7, 0, 1, 1)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 4) + bytes(4))
    wav0 = b"RIFF" + struct.pack("<I", len(body)) + body
    payloads = (("png", png), ("bmp", bmp), ("wav", wav), ("wav0", wav0))
    df = spark.createDataFrame(
        [(u, bytearray(p)) for u, p in payloads], ["url", "payload"],
    )
    rows = {r["url"]: r for r in media_metadata(df).collect()}
    for url, p in payloads:
        r = rows[url]
        assert (r["media_type"], r["n_bytes"]) == ("binary", len(p))
        assert (r["width"], r["height"], r["duration_ms"], r["sample_rate"],
                r["channels"]) == (None,) * 5


def _wav_pcm(samples, rate=8000, channels=1) -> bytes:
    """PCM16-LE WAV with explicit sample values (interleaved if stereo)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_pcm_features_known_signal(spark):
    """Signal features from REAL decoded PCM samples — hand-checked on a
    tiny known signal, stereo averaging, honest rejections."""
    import math

    from textractssmlprocessor_spark.operators.multimodal import (
        _pcm_feature_row,
        audio_pcm_features,
        pcm_samples,
    )

    s = [0, 1000, -1000, 32767, -32768, 0, 328, -327]
    row = _pcm_feature_row(_wav_pcm(s))
    n, rate, dur, rms, peak, zerox, clip, silence = row
    assert (n, rate) == (8, 8000)
    assert dur == 8 / 8000
    assert math.isclose(rms, math.sqrt(sum(v * v for v in s) / 8))
    assert peak == 32768.0
    assert zerox == 4  # 1000/-1000, -1000/32767, 32767/-32768, 328/-327
    assert clip == 2 / 8  # |s| >= 32256: the two rail-adjacent samples
    assert silence == 3 / 8  # |s| < 328: 0, 0, -327

    # stereo frames average to one signal: L=1000,R=3000 -> 2000
    st = _wav_pcm([1000, 3000, -1000, -3000], channels=2)
    sig, rate = pcm_samples(st)
    assert list(sig) == [2000.0, -2000.0] and rate == 8000

    # honest Nones: 8-bit PCM, float format code, non-RIFF, truncated fmt
    import struct

    pcm8 = _wav_pcm(s).replace(struct.pack("<H", 16), struct.pack("<H", 8))
    assert pcm_samples(pcm8) is None
    float_fmt = bytearray(_wav_pcm(s))
    float_fmt[20:22] = struct.pack("<H", 3)  # fmt code 3 = IEEE float
    assert pcm_samples(bytes(float_fmt)) is None
    assert pcm_samples(b"not a wav file at all") is None

    # truncated data chunk: only complete frames decode
    cut = _wav_pcm(s)[:-3]
    sig, _ = pcm_samples(cut)
    assert list(sig) == [float(v) for v in s[:6]]

    # empty data chunk: zero-sample row, not a crash
    empty = _pcm_feature_row(_wav_pcm([]))
    assert empty[0] == 0 and empty[1] == 8000 and empty[3] is None

    # Spark operator end-to-end, NULL fields for non-PCM payloads
    df = spark.createDataFrame(
        [("a", bytearray(_wav_pcm(s))), ("b", bytearray(b"text bytes"))],
        ["url", "payload"],
    )
    got = {r["url"]: r["pcm"] for r in audio_pcm_features(df).collect()}
    assert got["a"]["n_samples"] == 8 and got["a"]["zero_crossings"] == 4
    assert math.isclose(got["a"]["rms"], rms)
    assert got["b"]["n_samples"] is None and got["b"]["rms"] is None


def _check_frames(frames):
    by_url = {}
    for f in frames:
        by_url.setdefault(f["url"], []).append(f)
    assert len(by_url["u1"]) == 3  # 3000 bytes / 1024 -> 3 slices
    assert len(by_url["u2"]) == 1
    assert "u3" not in by_url


def test_salted_repartition_spreads_hot_host(spark):
    """North-rule skew defusal: a corpus where 30% of docs share one host
    must still spread ~uniformly across partitions after salting."""
    from textractssmlprocessor_spark.corpus import synthesize_pages
    from textractssmlprocessor_spark.operators.extract import salted_repartition

    pages = synthesize_pages(spark, 4000, n_hosts=3, sentences_per_doc=4)
    parts = 16
    sizes = (
        salted_repartition(pages, parts)
        .rdd.glom()
        .map(len)
        .collect()
    )
    assert len(sizes) == parts
    mean = sum(sizes) / parts
    assert max(sizes) < mean * 1.3, sizes  # no partition >30% above mean


def test_salted_repartition_aligns_with_lineage_buckets(spark):
    """The salt is the lineage bucket's own url hash: with B a multiple of
    P, each bucket pmod(xxhash64(url), B) lands in exactly one partition,
    and on any todo subset of buckets (a resume) no partition holds more
    than the B / P buckets it holds on a first run."""
    from textractssmlprocessor_spark.corpus import synthesize_pages
    from textractssmlprocessor_spark.operators.extract import (
        salted_repartition,
        url_slot,
    )

    pages = synthesize_pages(spark, 2000, n_hosts=3, sentences_per_doc=2)
    parts = 4
    for n_buckets in (4, 16, 64):
        for todo in (range(n_buckets), range(0, n_buckets, parts), [1, 2, 3, n_buckets - 1]):
            pairs = (
                salted_repartition(pages.filter(url_slot(n_buckets).isin(list(todo))), parts)
                .select(F.spark_partition_id().alias("p"), url_slot(n_buckets).alias("b"))
                .distinct()
                .collect()
            )
            owner = {}
            for r in pairs:
                assert owner.setdefault(r["b"], r["p"]) == r["p"], (n_buckets, r)
            assert set(owner) == set(todo)
            held = [sum(1 for p in owner.values() if p == q) for q in range(parts)]
            assert max(held) <= n_buckets // parts, (n_buckets, list(todo), held)


def test_ann_ivf_is_subset_of_exact_ranking(spark, sf_dir):
    """IVF results are a valid approximate subset: every returned neighbor's
    similarity matches the exact computation for that id."""
    from textractssmlprocessor_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {r["vec_id"]: r["cosine_sim"] for r in cosine_topk(emb, 0, 500).collect()}
    approx = ann_ivf_topk(emb, 0, 10).collect()
    assert 0 < len(approx) <= 10
    for r in approx:
        assert abs(exact[r["vec_id"]] - r["cosine_sim"]) < 1e-6


def test_align_truncates_when_more_chunks_than_audio(spark):
    """FIXTURES §3 truncation guard (timestamp.py:266-268): chunks beyond
    the last audio part drop via the inner join."""
    from textractssmlprocessor_spark.operators.align import align_chunks_to_audio

    chunks = spark.createDataFrame(
        [("u1", i, f"Chunk {i} text.", "x") for i in range(1, 6)],
        ["url", "chunk_number", "ssml", "extracted_text"],
    )
    manifest = spark.createDataFrame(
        [("u1", 1, 2.0), ("u1", 2, 3.0)], ["url", "part_no", "duration"]
    )
    aligned = align_chunks_to_audio(chunks, manifest).orderBy("chunk_number").collect()
    assert [r["chunk_number"] for r in aligned] == [1, 2]
    assert aligned[0]["start_time"] == 0.0 and aligned[0]["end_time"] == 2.0
    assert aligned[1]["start_time"] == 2.0 and aligned[1]["end_time"] == 5.0


def test_byte_histogram_features_numpy_parity(spark):
    import numpy as np

    from textractssmlprocessor_spark.operators.multimodal import (
        byte_histogram_features,
    )

    payloads = [b"hello world", bytes(range(256)) * 3, b"", None, b"\x00" * 100]
    df = spark.createDataFrame(
        [(f"u{i}", p) for i, p in enumerate(payloads)],
        "url string, payload binary",
    )
    got = {r["url"]: r["features"] for r in byte_histogram_features(df).collect()}
    for i, p in enumerate(payloads):
        if p is None:
            assert got[f"u{i}"] is None
            continue
        arr = np.frombuffer(p, dtype=np.uint8)
        hist = np.bincount(arr >> 2, minlength=64).astype("float64")
        norm = np.sqrt((hist * hist).sum())
        exp = (hist / norm if norm else hist).tolist()
        assert got[f"u{i}"] == exp, f"u{i}"
    # unit norm for non-empty payloads
    assert abs(sum(v * v for v in got["u0"]) - 1.0) < 1e-12


def test_resize_media_stub_deterministic(spark):
    from textractssmlprocessor_spark.operators.multimodal import resize_media_stub

    df = spark.createDataFrame(
        [("a", b"0123456789"), ("b", b"x"), ("c", None)],
        "url string, payload binary",
    )
    out = {r["url"]: r for r in resize_media_stub(df, 4, 2).collect()}
    # 8 bytes resampled from 10 via (k*9)//7
    assert bytes(out["a"]["payload"]) == bytes(b"0123456789"[(k * 9) // 7] for k in range(8))
    assert bytes(out["b"]["payload"]) == b"x" * 8  # single byte broadcast
    assert out["c"]["payload"] is None
    assert out["a"]["width"] == 4 and out["a"]["height"] == 2


def test_minhash_max_bucket_cap_semantics(spark):
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "identical content words repeated for shingles here") for i in range(4)]
        + [(99, "totally different text with other tokens entirely")],
        "doc_id long, text string",
    )
    # default: uncapped -> all C(4,2)=6 identical pairs survive
    assert minhash_lsh_pairs(docs).count() == 6
    # cap below the group size silently skips the bucket (documented)
    assert minhash_lsh_pairs(docs, max_bucket=3).count() == 0


def test_minhash_max_bucket_skips_only_degenerate_bucket(spark):
    """Adversarial cap semantics: a degenerate over-cap bucket is dropped
    WITHOUT suppressing pairs from other, under-cap buckets."""
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    boiler = "identical content words repeated for shingles here"
    pair = "a second distinct duplicate family with its own tokens"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(5)]  # degenerate cluster, C(5,2)=10
        + [(100, pair), (101, pair)]     # small legit duplicate pair
        + [(999, "totally different text with other tokens entirely")],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_pairs(docs)
    assert uncapped.count() == 11  # 10 + 1
    capped = minhash_lsh_pairs(docs, max_bucket=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}


@pytest.mark.parametrize("checkpoint_dir", [True, False], indirect=True)
def test_minhash_materialize_modes_identical(spark, checkpoint_dir):
    """The signature cut's two storage paths — a reliable checkpoint (a
    checkpoint dir is set: the executor-loss-recoverable cluster path) and
    a local checkpoint (no dir) — must produce identical pairs."""
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "identical content words repeated for shingles here") for i in range(3)]
        + [(50, "some other document body entirely unrelated tokens")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs).collect()
    )
    assert got == [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)]


def test_pairwise_near_dupes_bits_and_cap(spark):
    from textractssmlprocessor_spark.operators.similarity import (
        lsh_dims,
        pairwise_near_duplicates,
    )

    import pytest as _pytest

    # three identical vectors + one orthogonal-ish one
    v = [1.0, -1.0] * 32
    rows = [(i, v) for i in range(3)] + [(9, [-1.0, 1.0] * 32)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert pairwise_near_duplicates(emb).count() == 3  # C(3,2)
    # wider bucket hash: identical vectors still collide
    assert pairwise_near_duplicates(emb, n_bits=16).count() == 3
    # cap below the bucket size skips the degenerate bucket (documented)
    assert pairwise_near_duplicates(emb, max_bucket=2).count() == 0
    assert lsh_dims(8) == [1, 9, 17, 25, 33, 41, 49, 57]
    with _pytest.raises(ValueError):
        lsh_dims(65)


def test_url_dedup_collapses_canonical_variants(spark):
    """The same page via tracking params / host case / default port /
    fragment collapses onto one canonical key; distinct pages survive."""
    from textractssmlprocessor_spark.operators.weburl import url_dedup

    rows = [
        (1, "https://Example.org/a?b=2&a=1"),
        (2, "HTTPS://example.org:443/a?a=1&utm_source=feed&b=2#frag"),
        (3, "https://example.org/a?b=2&a=1&fbclid=zzz"),
        (4, "https://example.org/a?b=2"),  # different query: distinct page
        (5, "http://example.org:80/a?b=2&a=1"),  # http != https
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["canonical_url"]: (r["keep_id"], r["n_dupes"])
        for r in url_dedup(df).collect()
    }
    assert got == {
        "https://example.org/a?a=1&b=2": (1, 3),
        "https://example.org/a?b=2": (4, 1),
        "http://example.org/a?a=1&b=2": (5, 1),
    }


def test_semdedup_hand_computed(spark):
    """SemDeDup on vectors small enough to verify by hand: two k-means
    cells, transitive grouping within a cell (0-2 and 2-3 edge but no 0-3
    edge), farthest-from-centroid survivor, total singleton coverage."""
    from textractssmlprocessor_spark.operators.similarity import semdedup

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 2

    rows = [
        (0, v(1, 0)),     # cell A seed
        (1, v(0, 1)),     # cell B seed
        (2, v(1, 0.1)),   # cos(0,2)=.995 >= .99
        (3, v(1, 0.2)),   # cos(2,3)=.99537 >= .99, cos(0,3)=.9806 < .99
        (4, v(0.1, 1)),   # cos(1,4)=.995
        (5, v(0.5, 1)),   # lands in cell B, pairs with nothing: singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["id"]: r
        for r in semdedup(emb, threshold=0.99, n_cells=2, train_iters=1).collect()
    }
    assert len(out) == 6  # total over the corpus
    # transitive closure: {0,2,3} one group despite no direct 0-3 edge
    assert [out[i]["group_rep"] for i in range(6)] == [0, 1, 0, 0, 1, 5]
    # survivor = farthest from centroid (lowest cosine): after one Lloyd
    # iteration cell A's centroid is mean([1,0],[1,.1],[1,.2]) = [1,.1], so
    # id 2 sits ON the centroid (sim 1.0) and id 0 is farthest (0.995037)
    assert [out[i]["keep"] for i in range(6)] == [True, True, False, False, False, True]
    assert abs(out[2]["centroid_sim"] - 1.0) < 1e-9
    assert abs(out[0]["centroid_sim"] - 0.995037) < 1e-6
    # cells: {0,2,3} together, {1,4} together, disjoint
    assert out[0]["cell"] == out[2]["cell"] == out[3]["cell"]
    assert out[1]["cell"] == out[4]["cell"] != out[0]["cell"]


def test_polly_sink_writes_files(spark, tmp_path):
    from textractssmlprocessor_spark.operators.polly import (
        assign_voices,
        polly_sink,
        synthesize_fake,
    )

    chunks = spark.createDataFrame(
        [("bookA", 1, "<speak>one</speak>", "Ruth"),
         ("bookA", 2, "<speak>two</speak>", "Gregory"),
         ("bookB", 1, "<speak>tres</speak>", None)],
        "url string, chunk_number int, ssml string, voice string",
    )
    assigned = assign_voices(chunks)
    out = str(tmp_path / "audio")
    polly_sink(assigned, out)
    rows = assigned.collect()
    import os

    assert len(os.listdir(out)) == 3
    for r in rows:
        with open(os.path.join(out, r["output_file"]), "rb") as f:
            assert f.read() == synthesize_fake(r["ssml"], r["voice_id"], r["engine"])


def test_combine_audio_sink_orders_parts(spark, tmp_path):
    """Per-book byte concat in part order, independent of input row order."""
    import os

    from textractssmlprocessor_spark.operators.polly import combine_audio_sink

    rows = [
        ("bookA", 2, b"BBB"), ("bookA", 1, b"AAA"), ("bookA", 3, b"CC"),
        ("bookB", 1, b"solo"),
    ]
    df = spark.createDataFrame(
        rows, "url string, book_part_number int, payload binary"
    ).repartition(4)  # scatter rows so ordering must come from the sort
    out = str(tmp_path / "audio")
    combine_audio_sink(df, out)
    with open(os.path.join(out, "bookA.mp3"), "rb") as f:
        assert f.read() == b"AAABBBCC"
    with open(os.path.join(out, "bookB.mp3"), "rb") as f:
        assert f.read() == b"solo"


def test_srt_file_sink_roundtrip(spark, tmp_path):
    """K4 4-file layout: write via foreachPartition, re-read byte-identical
    to the per-variant generate_srt output. A project with empty ssml but
    non-empty source text keeps its latin files: its english columns are
    NULL and no english file is written for it."""
    import os
    from urllib.parse import quote

    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.align import (
        SRT_VARIANTS,
        generate_srt,
        save_srt_files,
        srt_variants,
    )

    chunks = spark.createDataFrame(
        [("u/1", 1, "Prima pars longa satis. Altera sententia!",
          "<speak>First long enough part. Second sentence!</speak>"),
         ("u/1", 2, "Tertia pars hic est.", "<speak>Third part is here.</speak>"),
         ("u2", 1, "Sola pars.", "<speak>A lonely part.</speak>"),
         ("u3", 1, "Lingua Latina sola manet.", "")],
        "url string, chunk_number int, extracted_text string, ssml string",
    )
    manifest = chunks.select(
        "url", F.col("chunk_number").alias("part_no"),
        (F.length("extracted_text") * 0.06).alias("duration"),
    )
    variants = srt_variants(chunks, manifest)
    [u3] = variants.filter(F.col("url") == "u3").collect()
    assert u3["english_original"] is None and u3["english_shorter"] is None
    out = str(tmp_path / "srt")
    save_srt_files(variants, out)
    for name in SRT_VARIANTS:
        language, shorter = name.split("_")
        expected = {
            r["url"]: r["srt"]
            for r in generate_srt(
                chunks, manifest, language, shorter == "shorter"
            ).collect()
        }
        assert ("u3" in expected) == (language == "latin"), name
        if language == "latin":
            assert u3[name] == expected["u3"], name
        for url, srt in expected.items():
            path = os.path.join(out, quote(url, safe=""), f"{name}.srt")
            with open(path, encoding="utf-8") as f:
                assert f.read() == srt, (name, url)
    assert sorted(os.listdir(os.path.join(out, "u3"))) == [
        "latin_original.srt", "latin_shorter.srt",
    ]


URL_EDGE_CASES = [
    "HTTPS://Example.ORG:443/A/B?b=2&a=1&utm_source=x#frag",
    "http://example.org:80/",
    "http://example.org:8080/keep-port?z=1",  # non-default port preserved
    "https://example.org/path?utm_source=a&utm_medium=b&fbclid=c",  # only tracking
    "https://example.org/path?",  # empty query
    "https://example.org/Path/Case?B=2&a=1",  # path/query case significant
    "relative/path?a=1#x",  # no scheme://host
    "ftp://Other.Scheme:21/file",
    "https://example.org/a?x=1&x=0",  # repeated param sorts bytewise
    "https://example.org/#only-fragment",
    "https://example.org/p?a=1?b=2",  # literal '?' inside a query value
]


def test_normalize_url_idempotent_and_edges(spark):
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.weburl import normalize_url

    df = spark.createDataFrame([(u,) for u in URL_EDGE_CASES], "url string")
    out = df.select(
        "url",
        normalize_url(F.col("url")).alias("c1"),
    ).select("url", "c1", normalize_url(F.col("c1")).alias("c2")).collect()
    got = {r["url"]: r["c1"] for r in out}
    for r in out:
        assert r["c1"] == r["c2"], f"not idempotent: {r['url']!r} -> {r['c1']!r} -> {r['c2']!r}"
    assert got["HTTPS://Example.ORG:443/A/B?b=2&a=1&utm_source=x#frag"] == (
        "https://example.org/A/B?a=1&b=2"
    )
    assert got["http://example.org:80/"] == "http://example.org/"
    assert got["http://example.org:8080/keep-port?z=1"] == (
        "http://example.org:8080/keep-port?z=1"
    )
    assert got["https://example.org/path?utm_source=a&utm_medium=b&fbclid=c"] == (
        "https://example.org/path"
    )
    assert got["https://example.org/Path/Case?B=2&a=1"] == (
        "https://example.org/Path/Case?B=2&a=1"
    )
    assert got["https://example.org/a?x=1&x=0"] == "https://example.org/a?x=0&x=1"
    assert got["https://example.org/#only-fragment"] == "https://example.org/"
    # split at the FIRST '?': 'a=1?b=2' is ONE param with a literal '?'
    assert got["https://example.org/p?a=1?b=2"] == "https://example.org/p?a=1?b=2"


def test_read_pages_parquet_and_validation(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from textractssmlprocessor_spark.corpus import pages_from_documents
    from textractssmlprocessor_spark.sources import PAGES_COLUMNS, read_pages

    p = str(tmp_path / "pages")
    pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(p)
    got = read_pages(spark, p)  # format inferred from the path separator
    assert got.columns == PAGES_COLUMNS
    assert got.count() == pages_from_documents(spark, sf_dir).count()

    # extra columns are pruned, missing columns rejected loudly
    spark.range(3).selectExpr("'u' AS url").write.mode("overwrite").parquet(
        str(tmp_path / "bad")
    )
    with _pytest.raises(ValueError, match="missing columns"):
        read_pages(spark, str(tmp_path / "bad"))
    with _pytest.raises(ValueError, match="unsupported"):
        read_pages(spark, p, format="csvish")


def test_assign_voices_keeps_null_book_rows(spark):
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.polly import assign_voices

    df = spark.createDataFrame(
        [("book_a", 1), (None, 2), ("book_a", 3), (None, 4)],
        "url string, chunk_number int",
    )
    out = assign_voices(df)
    assert out.count() == 4  # NULL book keys must survive the offsets join
    nums = sorted(r["global_part_number"] for r in out.collect())
    assert nums == [1, 2, 3, 4]  # NULLS FIRST ordering, contiguous numbering


def test_rule_duplicates_flags_physically_duplicated_rows(spark):
    from textractssmlprocessor_spark.operators.validate import rule_duplicates

    # the same (url, chunk_number) row twice: the second physical copy is a
    # duplicate even though its occurrence key is identical to the first
    df = spark.createDataFrame(
        [("u", 1, "Same sentence here."), ("u", 1, "Same sentence here.")],
        "url string, chunk_number int, ssml string",
    )
    assert rule_duplicates(df).count() == 1


def test_translation_length_hand_computed(spark):
    """A4: english/latin word-count ratio outside [0.95, 3.0] is flagged,
    with <sub> content and tags stripped before counting."""
    from textractssmlprocessor_spark.operators.validate import rule_translation_length

    df = spark.createDataFrame(
        [
            # 4 / 4 = 1.0 (hyphenated word counts once): inside
            ("in", 1, "Gallia est omnis divisa", "<speak>All Gaul is well-known</speak>"),
            # 3 / 4 = 0.75: below
            ("low", 1, "arma virumque cano Troiae", "<speak>I sing arms</speak>"),
            # 10 / 3 = 3.33 once the <sub> body is dropped: above
            ("high", 1, "unus duo tres",
             '<speak><sub alias="x">skip these words</sub> a b c d e f g h i j</speak>'),
        ],
        "url string, chunk_number int, extracted_text string, ssml string",
    )
    got = sorted((r["url"], r["message"]) for r in rule_translation_length(df).collect())
    assert got == [
        ("high", "Translation length issue detected. Ratio: 3.33"),
        ("low", "Translation length issue detected. Ratio: 0.75"),
    ]


def test_exact_substring_spans_hand_computed(spark):
    """Lee et al. exact-substring dedup on a corpus small enough to verify
    by hand: cross-doc shared runs, a within-doc repeat, first-occurrence
    exemption, island merging of overlapping/adjacent k-grams."""
    from textractssmlprocessor_spark.operators.dedup import (
        drop_duplicate_spans,
        exact_substring_spans,
    )

    docs = spark.createDataFrame(
        [
            ("A", "a b c d e f"),
            ("B", "x  a b c d y"),  # shares 'a b c d' with A (double space collapses)
            ("C", "c d e f q r s q r s"),  # shares 'c d e f' with A; repeats 'q r s'
            ("N", None),  # NULL text is not spannable
            ("S", "too short"),  # < k tokens: cannot contain a duplicate
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r["id"], r["span_start"]): (r["span_end"], r["n_tokens"])
        for r in exact_substring_spans(docs, k=3).collect()
    }
    # first occurrences all live in A (min (id, pos) struct) -> A has no spans
    assert spans == {
        ("B", 1): (5, 4),   # tokens 1-4 'a b c d'
        ("C", 0): (4, 4),   # tokens 0-3 'c d e f'
        ("C", 7): (10, 3),  # the second 'q r s'
    }
    # keep_first=False marks every occurrence, and chained overlapping
    # grams merge into whole-doc spans
    all_spans = {
        (r["id"], r["span_start"]): r["span_end"]
        for r in exact_substring_spans(docs, k=3, keep_first=False).collect()
    }
    assert all_spans == {("A", 0): 6, ("B", 1): 5, ("C", 0): 10}

    cleaned = {
        r["id"]: r["text"] for r in drop_duplicate_spans(docs, k=3).collect()
    }
    assert cleaned == {
        "A": "a b c d e f",  # holds every first occurrence: untouched
        "B": "x y",
        "C": "q r s",  # the FIRST 'q r s' (pos 4) survives
        "N": "",
        "S": "too short",
    }


def test_winnowing_guarantee_shared_substring_shared_fingerprint(spark):
    """The winnowing invariant: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; disjoint documents
    (different alphabets) share none."""
    from textractssmlprocessor_spark.operators.dedup import winnow_fingerprint_table

    shared = "the identical passage lives inside both documents here"
    docs = [
        (1, "alpha prefix text. " + shared + " omega suffix."),
        (2, "completely different opening. " + shared + " and closing."),
        (3, "zzzz qqqq xxxx jjjj kkkk vvvv wwww yyyy zzzz qqqq xxxx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = winnow_fingerprint_table(df, k=8, window=4).collect()
    by_id: dict = {1: set(), 2: set(), 3: set()}
    for r in rows:  # one job, grouped driver-side
        by_id[r["id"]].add(r["fingerprint"])
    assert by_id[1] & by_id[2], "shared substring must share a fingerprint"
    assert not (by_id[1] & by_id[3]) and not (by_id[2] & by_id[3])


def test_winnowing_skips_null_text(spark):
    from textractssmlprocessor_spark.operators.dedup import winnow_fingerprint_table

    df = spark.createDataFrame(
        [(1, "some real content for fingerprinting here"), (2, None)],
        "doc_id long, text string",
    )
    rows = winnow_fingerprint_table(df).collect()
    assert rows and all(r["id"] == 1 and r["fingerprint"] is not None for r in rows)


def test_curate_null_lang_and_missing_column(spark):
    import pytest as _pytest
    from textractssmlprocessor_spark.operators.curate import curate_corpus

    rows = [(1, "The cat and the dog of the house is that with us. " * 10, "en"),
            (2, "The cat and the dog of the house is that with us. " * 10, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["id"]: r for r in curate_corpus(df, languages=["en"]).collect()}
    assert out[1]["kept"] is True and out[1]["drop_reason"] is None
    # NULL lang fails the allowlist with a definite verdict, never NULL/NULL
    assert out[2]["kept"] is False and out[2]["drop_reason"] == "language"
    with _pytest.raises(ValueError):
        curate_corpus(df.drop("lang"), languages=["en"])


def test_redact_pii_national_and_international_formats(spark):
    """Independent of the oracle (which shares the module constants): the
    formats that must redact, asserted against hand-written expectations."""
    from textractssmlprocessor_spark.operators.privacy import with_pii_redaction

    rows = [
        (1, "call 555-123-4567 now"),
        (2, "call (555) 123-4567 now"),
        (3, "call +1-555-123-4567 now"),
        (4, "mail a.b+c@ex-ample.org please"),
        (5, "host 10.0.255.7 down"),
        (6, "clean text, no identifiers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    assert out[1]["redacted_text"] == "call <PHONE> now" and out[1]["n_phone"] == 1
    assert out[2]["redacted_text"] == "call <PHONE> now" and out[2]["n_phone"] == 1
    assert out[3]["redacted_text"] == "call <PHONE> now" and out[3]["n_phone"] == 1
    assert out[4]["redacted_text"] == "mail <EMAIL> please" and out[4]["n_email"] == 1
    assert out[5]["redacted_text"] == "host <IP> down" and out[5]["n_ip"] == 1
    assert out[6]["redacted_text"] == rows[5][1]
    assert out[6]["n_email"] == out[6]["n_phone"] == out[6]["n_ip"] == 0


def test_combine_audio_sink_null_book(spark, tmp_path):
    import os

    from textractssmlprocessor_spark.operators.polly import combine_audio_sink

    rows = [(None, 1, b"NB1"), (None, 2, b"NB2"), ("bookC", 1, b"c")]
    df = spark.createDataFrame(
        rows, "url string, book_part_number int, payload binary"
    )
    out = str(tmp_path / "audio")
    combine_audio_sink(df, out)
    with open(os.path.join(out, "NULL.mp3"), "rb") as f:
        assert f.read() == b"NB1NB2"
    with open(os.path.join(out, "bookC.mp3"), "rb") as f:
        assert f.read() == b"c"


def test_curate_null_text_gets_definite_verdict(spark):
    from textractssmlprocessor_spark.operators.curate import curate_corpus

    rows = [(1, "The cat and the dog of the house is that with us. " * 10, "en"),
            (2, None, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["id"]: r for r in curate_corpus(df, languages=["en"]).collect()}
    assert out[1]["kept"] is True
    assert out[2]["kept"] is False and out[2]["drop_reason"] == "quality"


def test_drop_duplicate_sentences_semantics(spark):
    """Write side of rule_duplicates: first occurrence survives corpus-wide,
    all-duplicate chunks survive as empty text, physically duplicated rows
    collapse instead of doubling sentences, empty-clean sentences are kept."""
    from textractssmlprocessor_spark.operators.dedup import (
        drop_duplicate_sentences,
    )

    rows = [
        ("a", 1, "Shared line. Unique alpha."),
        ("b", 1, "Shared line. Unique beta."),   # loses 'Shared line.'
        ("c", 1, "Shared line."),                # loses everything -> ''
        ("d", 1, None),                          # NULL text -> ''
        # split runs BEFORE tag-strip (same as rule_duplicates): the first
        # sentence's tag-stripped form matches 'Shared line.' and drops
        ("e", 1, "Shared line. <b>Tail e.</b>"),
        ("f", 1, "Doubled row. Extra f."),
        ("f", 1, "Doubled row. Extra f."),       # physical dup collapses
    ]
    df = spark.createDataFrame(rows, "url string, chunk_number int, ssml string")
    out = {r["url"]: r["ssml"] for r in drop_duplicate_sentences(df).collect()}
    assert out["a"] == "Shared line. Unique alpha."
    assert out["b"] == "Unique beta."
    assert out["c"] == ""
    assert out["d"] == ""
    assert out["e"] == "<b>Tail e.</b>"
    assert out["f"] == "Doubled row. Extra f."
    assert len(out) == 6  # one row per distinct (url, chunk_number)

    # lockstep with the golden mirror on the same input
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import golden_oracle as G

    exp = {r["url"]: r["ssml"] for r in G.drop_duplicate_sentences_rows(rows)}
    assert out == exp


def test_remove_boilerplate_lines(spark):
    from textractssmlprocessor_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    nav = "HOME | ABOUT"
    rows = [
        (f"https://a.org/p{i}", f"{nav}\nbody {i}\nfooter a") for i in range(4)
    ] + [
        ("https://a.org/bare", "body bare"),          # no boilerplate
        ("https://b.org/p0", f"{nav}\nbody b0"),      # different host: nav
        ("https://b.org/p1", "other body"),           # only 1/2 docs -> kept
        ("https://a.org/all-boiler", f"{nav}\nfooter a"),
    ]
    d = spark.createDataFrame(rows, "url string, text string")
    out = {r["url"]: r for r in remove_boilerplate_lines(d).collect()}
    assert len(out) == len(rows)  # totality: every url survives
    # host a (6 docs): nav on 5/6, footer on 5/6 -> both dropped
    assert out["https://a.org/p0"]["cleaned_text"] == "body 0"
    assert out["https://a.org/p0"]["n_dropped"] == 2
    assert out["https://a.org/bare"]["cleaned_text"] == "body bare"
    assert out["https://a.org/all-boiler"]["cleaned_text"] == ""
    # host b: nav in 1/2 docs -> 0.5 frac, min_docs=2 not met -> kept
    assert out["https://b.org/p0"]["cleaned_text"] == f"{nav}\nbody b0"


def test_remove_boilerplate_null_text_total(spark):
    """NULL text behaves as empty: the url keeps its verdict row with
    cleaned_text='' and n_dropped=0 (not NULL), and does not perturb the
    host's frequency counts."""
    from textractssmlprocessor_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    rows = [
        ("https://a.org/p0", "NAV\nbody 0"),
        ("https://a.org/p1", "NAV\nbody 1"),
        ("https://a.org/null", None),
    ]
    d = spark.createDataFrame(rows, "url string, text string")
    out = {r["url"]: r for r in remove_boilerplate_lines(d).collect()}
    assert len(out) == 3
    assert out["https://a.org/null"]["cleaned_text"] == ""
    assert out["https://a.org/null"]["n_dropped"] == 0
    # NAV is on 2/3 of the host's docs (>= 0.5, >= 2 docs) -> dropped
    assert out["https://a.org/p0"]["cleaned_text"] == "body 0"


def test_extract_links(spark):
    from textractssmlprocessor_spark.operators.weburl import extract_links

    html = (
        '<p>pre</p><A HREF="https://x.org/1">One</A>'
        "<a class='k' href='/rel/2'> <b>Two</b> words </a>"
        '<a name="no-href">not a link</a>'
        '<a href="https://x.org/3"><img src="i.png"></a>'
    )
    d = spark.createDataFrame(
        [("u1", html), ("u2", "<p>no links at all</p>"), ("u3", None)],
        "url string, html string",
    )
    rows = extract_links(d).orderBy("url", "link_no").collect()
    got = [(r["url"], r["link_no"], r["href"], r["anchor"]) for r in rows]
    assert got == [
        ("u1", 0, "https://x.org/1", "One"),
        ("u1", 1, "/rel/2", "Two words"),
        ("u1", 2, "https://x.org/3", ""),
    ]


def test_spread_plan_side_estimate(spark, tmp_path, sf_dir):
    """_spread decides via source metadata only (no .rdd, no job): a small
    single-file input repartitions to defaultParallelism; an input whose
    byte-size estimate already covers the parallelism is returned AS-IS
    (object identity — no added shuffle).

    Reads a tmp_path COPY of the parquet: other tests .cache() the
    sf_dir path, and Spark's cache manager substitutes the cached
    relation for any later read of the same path — inputFiles() then
    returns [] and _spread takes its (documented, safe) repartition
    fallback, which is correct but not what this test asserts."""
    import shutil

    from textractssmlprocessor_spark.operators.dedup import _spread

    local = str(tmp_path / "docs.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", local)

    small = spark.read.parquet(local)
    spread = _spread(small, "doc_id")
    assert spread is not small
    assert "repartition" in spread._jdf.queryExecution().logical().toString().lower()

    # shrink maxPartitionBytes so the same file estimates to >= parallelism
    # splits -> _spread must return the input unchanged
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        big_est = spark.read.parquet(local)
        assert _spread(big_est, "doc_id") is big_est
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    # a CACHED same-path read loses its file provenance (inputFiles == [])
    # and must take the safe repartition fallback, never crash
    cached_read = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if not cached_read.inputFiles():
        assert _spread(cached_read, "doc_id") is not cached_read


def test_connected_components_chains_islands_selfloops(spark):
    """Multi-hop chains collapse to the component min; reversed/duplicate
    edges and self-loops are harmless; separate islands stay separate."""
    from textractssmlprocessor_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (9, 8), (8, 9), (5, 5),
         (10, 11), (11, 12), (12, 13), (13, 14)],
        "src bigint, dst bigint",
    )
    got = sorted((r["id"], r["rep"]) for r in connected_components(edges).collect())
    assert got == [
        (1, 1), (2, 1), (3, 1), (4, 1), (8, 8), (9, 8),
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10),
    ]
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(empty).count() == 0


def test_connected_components_hub_and_path_converge(spark):
    """A 200-leaf hub (celebrity node) and a 64-node path both converge
    well inside max_iter — the O(log^2 n) star-contraction bound — with no
    neighborhood ever collected into one array."""
    from textractssmlprocessor_spark.operators.graph import connected_components

    hub = [(0, i) for i in range(1, 201)]
    path = [(1000 + i, 1000 + i + 1) for i in range(64)]
    edges = spark.createDataFrame(hub + path, "src bigint, dst bigint")
    labels = {r["id"]: r["rep"] for r in connected_components(edges).collect()}
    assert all(labels[i] == 0 for i in range(201))
    assert all(labels[1000 + i] == 1000 for i in range(65))


def test_dedup_clusters_transitive_and_total(spark):
    """A~B and B~C near-dup pairs put {A,B,C} in ONE cluster even when A~C
    is below threshold as a pair; output is total over the corpus with
    singleton clusters for unpaired docs."""
    from textractssmlprocessor_spark.operators.graph import dedup_clusters

    base = " ".join(f"w{i}" for i in range(60))
    drift1 = " ".join(f"w{i}" for i in range(6, 66))    # shares 54/60 words
    drift2 = " ".join(f"w{i}" for i in range(12, 72))   # chains via drift1
    docs = spark.createDataFrame(
        [(1, base), (2, drift1), (3, drift2), (9, "completely unrelated text here")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[1]["cluster_rep"] == 1 and rows[1]["is_survivor"]
    assert rows[2]["cluster_rep"] == 1 and not rows[2]["is_survivor"]
    assert rows[3]["cluster_rep"] == 1 and not rows[3]["is_survivor"]
    assert rows[1]["cluster_size"] == 3
    assert rows[9]["cluster_rep"] == 9 and rows[9]["cluster_size"] == 1
    assert rows[9]["is_survivor"]


def test_main_content_density_classifier(spark):
    """Nav/promo/aside/footer chrome is dropped (linky or short), article
    paragraphs are kept in order; NULL html behaves as empty (totality)."""
    from textractssmlprocessor_spark.operators.content import main_content

    html = (
        '<header><h1>Example Site</h1><nav><ul>'
        '<li><a href="/">Home</a></li><li><a href="/about">About us</a></li>'
        '</ul></nav></header>'
        '<div class="promo">Subscribe to our newsletter today</div>'
        "<article><p>This is the long main body of the page with many genuine "
        "words of actual content that a reader came here to read.</p>"
        "<p>A second solid paragraph continues the main content with enough "
        "words to clear the classifier threshold easily.</p></article>"
        '<footer><p><a href="/privacy">Privacy policy</a> '
        '<a href="/terms">Terms of use</a> <a href="/sitemap">Site map</a> '
        "(c) 2024 Example Corp</p></footer>"
    )
    df = spark.createDataFrame(
        [("u1", html), ("u2", "<p>short</p>"), ("u3", None)],
        "url string, html string",
    )
    rows = {r["url"]: r for r in main_content(df).collect()}
    paras = rows["u1"]["main_text"].split("\n\n")
    assert len(paras) == 2
    assert paras[0].startswith("This is the long main body")
    assert paras[1].startswith("A second solid paragraph")
    assert "Privacy policy" not in rows["u1"]["main_text"]
    assert "newsletter" not in rows["u1"]["main_text"]
    assert rows["u1"]["n_kept"] == 2
    assert rows["u2"]["main_text"] == "" and rows["u2"]["n_blocks"] == 1
    assert rows["u3"]["main_text"] == "" and rows["u3"]["n_blocks"] == 0
    assert rows["u3"]["link_density"] == 0.0


def test_main_content_link_density_boundary(spark):
    """A 10-word block passes at exactly max_link_density and fails just
    above it; nested tags inside anchors count as anchor text chars only
    once (tags stripped before measuring)."""
    from textractssmlprocessor_spark.operators.content import main_content

    # words w1..w10, one anchor whose visible text is w1 w2 (5 chars of 59)
    body = '<p><a href="/x"><b>w1</b> w2</a> w3 w4 w5 w6 w7 w8 w9 w10</p>'
    df = spark.createDataFrame([("ok", body)], "url string, html string")
    loose = main_content(df, min_words=10, max_link_density=0.5).collect()[0]
    assert loose["n_kept"] == 1
    tight = main_content(df, min_words=10, max_link_density=0.05).collect()[0]
    assert tight["n_kept"] == 0
    eleven = main_content(df, min_words=11, max_link_density=0.5).collect()[0]
    assert eleven["n_kept"] == 0  # word-count gate


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Adversarial cross-check: seeded pseudo-random graphs (dense pockets,
    long chains, isolated pairs) against an independent driver-side
    union-find. Deterministic (fixed LCG), no hypothesis/network libs."""
    from textractssmlprocessor_spark.operators.graph import connected_components

    def lcg(seed):
        x = seed
        while True:
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            yield x

    for seed, n_nodes, n_edges in [(7, 60, 40), (11, 120, 150), (13, 30, 80)]:
        g = lcg(seed)
        edges = [
            (next(g) % n_nodes, next(g) % n_nodes) for _ in range(n_edges)
        ]
        # independent union-find with path compression
        parent = list(range(n_nodes))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        # min-root union makes every final root the component minimum;
        # CC labels exactly the nodes that appear in a non-loop edge
        in_graph = {v for a, b in edges if a != b for v in (a, b)}
        expected = {v: find(v) for v in in_graph}

        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {
            r["id"]: r["rep"] for r in connected_components(df).collect()
        }
        assert got == expected, f"seed {seed}"


def test_paragraph_dedup_keeps_first_occurrence_and_order(spark):
    from textractssmlprocessor_spark.operators.dedup import (
        dedup_paragraphs,
        paragraph_fingerprints,
    )

    rows = [
        (1, "alpha one\n\nSHARED BOILER\n\nunique a"),
        (2, "beta two\n\nshared  boiler\n\nunique b"),   # case/ws variant dies
        (3, "SHARED BOILER\n\ngamma three\n\n \n\nunique c"),  # short para kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["text"] for r in dedup_paragraphs(df).collect()}
    assert out[1] == "alpha one\n\nSHARED BOILER\n\nunique a"
    assert out[2] == "beta two\n\nunique b"
    # doc 3's copy of the boilerplate dies (first occurrence is doc 1's),
    # the whitespace-only paragraph survives untouched, order preserved
    assert out[3] == "gamma three\n\n \n\nunique c"

    fps = paragraph_fingerprints(df).collect()
    shared = [r for r in fps if r["n_dupes"] == 3]
    assert len(shared) == 1 and shared[0]["keep_id"] == 1 and shared[0]["keep_idx"] == 1
    # whitespace-only paragraph never enters the fingerprint table
    assert all(r["n_dupes"] >= 1 for r in fps)
    assert len(fps) == 1 + 6  # 1 shared group + six unique paragraphs


def test_paragraph_dedup_doc_losing_all_paragraphs_survives_empty(spark):
    from textractssmlprocessor_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "same para"), (2, "same para")], "doc_id long, text string"
    )
    out = {r["id"]: r["text"] for r in dedup_paragraphs(df).collect()}
    assert out == {1: "same para", 2: ""}


def test_host_suffixes_and_blocklist_subdomain_match(spark):
    from textractssmlprocessor_spark.operators.weburl import (
        blocklist_flags,
        host_suffixes,
    )

    sfx = (
        spark.range(1)
        .select(host_suffixes(F.lit("a.b.example.org")).alias("s"))
        .first()["s"]
    )
    assert sfx == ["a.b.example.org", "b.example.org", "example.org", "org"]

    docs = spark.createDataFrame(
        [
            (1, "https://ads.tracker.net/x"),        # exact entry
            (2, "https://deep.sub.tracker.net/y"),   # subdomain of entry
            (3, "https://nottracker.net/z"),         # suffix WITHOUT dot boundary
            (4, "https://clean.example.com/w"),
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame(
        [("tracker.net",), ("ads.tracker.net",)], "host string"
    )
    out = {r["id"]: r for r in blocklist_flags(docs, bl).collect()}
    assert out[1]["blocked"] and out[1]["matched_host"] == "ads.tracker.net"
    assert out[2]["blocked"] and out[2]["matched_host"] == "tracker.net"
    assert not out[3]["blocked"] and out[3]["matched_host"] is None
    assert not out[4]["blocked"]


def test_domain_stats_counts_distinct_canonical_pages(spark):
    from textractssmlprocessor_spark.operators.weburl import domain_stats

    docs = spark.createDataFrame(
        [
            (1, "https://Example.org/a?utm_source=x"),
            (2, "https://example.org/a"),              # same canonical page
            (3, "https://example.org/b"),
            (4, "https://other.net/c"),
        ],
        "doc_id long, url string",
    )
    out = {r["host"]: r for r in domain_stats(docs).collect()}
    assert out["example.org"]["n_docs"] == 3 and out["example.org"]["n_pages"] == 2
    assert out["other.net"]["n_docs"] == 1 and out["other.net"]["n_pages"] == 1


def test_cap_per_host_window_only_for_overcap_hosts(spark):
    from textractssmlprocessor_spark.operators.weburl import cap_per_host

    rows = [(i, f"https://big.example.org/p/{i}") for i in range(20)] + [
        (100 + i, f"https://small.example.org/p/{i}") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = cap_per_host(df, max_docs=5).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["big.example.org"]) == 5
    assert sorted(r["host_rank"] for r in by_host["big.example.org"]) == [1, 2, 3, 4, 5]
    # under-cap host: all rows kept, never ranked (no window touched them)
    assert len(by_host["small.example.org"]) == 3
    assert all(r["host_rank"] is None for r in by_host["small.example.org"])
    # determinism: same input, same survivors
    again = {r["doc_id"] for r in cap_per_host(df, max_docs=5).collect()}
    assert again == {r["doc_id"] for r in out}


def test_subsample_by_group_fractions_and_stability(spark):
    from textractssmlprocessor_spark.operators.sampling import subsample_by_group

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    out = subsample_by_group(df, {"g0": 0.25}, default=1.0).collect()
    kept = [r for r in out if r["keep"]]
    g0 = [r for r in kept if r["source"] == "g0"]
    g1 = [r for r in kept if r["source"] == "g1"]
    assert len(g1) == 2000                       # default 1.0 keeps everything
    assert 380 <= len(g0) <= 620                 # ~25% of 2000, hash-uniform
    # deterministic: rerun keeps the identical membership
    again = {r["doc_id"] for r in subsample_by_group(df, {"g0": 0.25}).collect() if r["keep"]}
    assert again == {r["doc_id"] for r in kept}
    with pytest.raises(ValueError):
        subsample_by_group(df, {"g0": 1.5})


def test_crawl_delta_statuses(spark):
    from textractssmlprocessor_spark.operators.delta import crawl_delta

    old = spark.createDataFrame(
        [("u1", "same text"), ("u2", "old text"), ("u3", "gone")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "Same   TEXT"),      # normalized-equal -> unchanged
         ("u2", "new text"),          # changed
         ("u4", "fresh page")],       # added
        "url string, text string",
    )
    out = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert out == {
        "u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"
    }


def test_new_against_history_filters_seen_content(spark):
    from textractssmlprocessor_spark.operators.delta import new_against_history
    from textractssmlprocessor_spark.operators.textstats import fingerprint

    new = spark.createDataFrame(
        [(1, "seen before"), (2, "SEEN   BEFORE"), (3, "brand new")],
        "doc_id long, text string",
    )
    history = spark.createDataFrame([("seen before",)], "text string").select(
        fingerprint(F.col("text")).alias("fingerprint")
    )
    out = new_against_history(new, history).collect()
    assert [r["doc_id"] for r in out] == [3]
    assert "fingerprint" in out[0].asDict()


def _gradient_png(w: int, h: int, shift: int = 0, noise_at: int = -1) -> bytes:
    """Real grayscale PNG with 9 vertical stripes aligned to dHash's 9-col
    NN sample grid (cell value alternates 0/255), so the hash is identical
    at any resolution >= 9 px wide. shift raises the dark stripes
    (comparison-preserving); noise_at >= 0 flips one pixel — a 'small
    edit' for near-dup tests."""
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            v = 255 if (x * 9 // w) % 2 else min(255, 0 + shift)
            if y * w + x == noise_at:
                v = 255 - v
            row.append(v)
        rows.append(b"\x00" + bytes(row))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def test_dhash_scale_invariant_and_edit_tolerant():
    from textractssmlprocessor_spark.operators.multimodal import dhash64

    big = dhash64(_gradient_png(90, 80))
    small = dhash64(_gradient_png(18, 16))
    bright = dhash64(_gradient_png(90, 80, shift=20))
    assert big is not None and big == small          # resolution-invariant
    assert bin((big ^ bright) & ((1 << 64) - 1)).count("1") <= 3
    # alternating stripes -> per-row bit pattern 01010101, never all-zero
    assert big != 0
    assert dhash64(b"not a png") is None
    assert dhash64(_png_bytes(50, 50)) == 0          # flat image: no edges


def test_image_dhash_and_near_dupes(spark):
    from textractssmlprocessor_spark.operators.multimodal import (
        dhash_near_dupes,
        image_dhash,
    )

    rows = [
        ("u-big", _gradient_png(90, 80)),
        ("u-small", _gradient_png(18, 16)),          # same content, resized
        ("u-noise", _gradient_png(90, 80, noise_at=40 * 90 + 30)),  # tiny edit
        ("u-flat", _png_bytes(50, 50)),              # all-black: distinct
        ("u-bad", b"garbage"),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    hashed = image_dhash(df)
    got = {r["url"]: r["dhash"] for r in hashed.collect()}
    assert got["u-bad"] is None
    assert got["u-big"] == got["u-small"]

    pairs = dhash_near_dupes(hashed, max_hamming=3).collect()
    keys = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs}
    assert ("u-big", "u-small") in keys
    assert ("u-big", "u-noise") in keys or ("u-noise", "u-small") in keys
    assert all("u-flat" not in k for k in keys)
    assert all(r["hamming"] <= 3 for r in pairs)


def test_make_training_sequences_partitions_token_stream_exactly(spark):
    from textractssmlprocessor_spark.operators.shards import (
        make_training_sequences,
        token_count,
    )

    rows = [
        (1, "a b c d e"),            # 5 tokens
        (2, ""),                     # zero tokens: contributes nothing
        (3, "f g h i j k l m"),      # 8 tokens
        (4, "n o p"),                # 3 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        make_training_sequences(df, seq_len=4).collect(),
        key=lambda r: (r["seq_id"], r["seq_offset"]),
    )
    # stream: doc1 [0,5) doc3 [5,13) doc4 [13,16) -> 4 sequences of 4
    got = [
        (r["id"], r["seq_id"], r["frag_start"], r["frag_len"], r["seq_offset"])
        for r in out
    ]
    assert got == [
        (1, 0, 0, 4, 0),
        (1, 1, 4, 1, 0),
        (3, 1, 0, 3, 1),
        (3, 2, 3, 4, 0),
        (3, 3, 7, 1, 0),
        (4, 3, 0, 3, 1),
    ]
    # invariants: fragments tile each sequence with no gaps or overlap,
    # and per-doc fragment lengths sum to the doc's token count
    from collections import defaultdict

    per_seq = defaultdict(list)
    for g in got:
        per_seq[g[1]].append((g[4], g[3]))
    for seq_id, frags in per_seq.items():
        frags.sort()
        pos = frags[0][0] if seq_id == max(per_seq) or seq_id == 0 else 0
        pos = frags[0][0]
        for off, ln in frags:
            assert off == pos
            pos += ln


def test_pagerank_ring_uniform_and_dangling_mass(spark):
    from textractssmlprocessor_spark.operators.graph import pagerank

    ring = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = {r["node"]: r["rank"] for r in pagerank(ring, iterations=4).collect()}
    assert out == {"a": 0.333333, "b": 0.333333, "c": 0.333333}

    # star: hub links to 3 leaves (all dangling) -> leaves equal, hub lowest
    star = spark.createDataFrame(
        [("hub", "l1"), ("hub", "l2"), ("hub", "l3")], "src string, dst string"
    )
    pr = {r["node"]: r["rank"] for r in pagerank(star, iterations=3).collect()}
    assert pr["l1"] == pr["l2"] == pr["l3"] > pr["hub"]
    assert abs(sum(pr.values()) - 1.0) < 1e-4      # mass conserved
    # duplicate edges must not double-count (distinct applied)
    dup = star.unionByName(star)
    pr2 = {r["node"]: r["rank"] for r in pagerank(dup, iterations=3).collect()}
    assert pr2 == pr


def test_near_dupes_against_history(spark, docs):
    """Band-table history gate: exact/near copies of history docs are
    dropped; novel docs survive; output ⊆ input with no dupes added."""
    from textractssmlprocessor_spark.operators.dedup import (
        minhash_band_table,
        near_dupes_against_history,
    )

    d = docs.select("doc_id", "text").limit(60)
    history_docs = d.filter(F.col("doc_id") % 2 == 0)
    hist = minhash_band_table(history_docs)
    new = d.filter(F.col("doc_id") % 2 == 1).unionByName(
        # near-copies of history docs (tiny suffix: shingle overlap stays
        # high enough that at least one of 4 bands collides for most docs)
        history_docs.select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text")).alias("text"),  # exact-normalized copy
        )
    )
    kept = {r["doc_id"] for r in near_dupes_against_history(new, hist).collect()}
    # normalized exact copies share ALL shingles -> all bands collide -> all dropped
    assert not any(k >= 50000 for k in kept)
    # genuinely novel docs (odd slice, not in history) survive unless they
    # near-duplicate an even doc; on this corpus the odd docs are distinct
    odd = {r["doc_id"] for r in d.filter(F.col("doc_id") % 2 == 1).collect()}
    assert kept <= odd
    assert len(kept) > 0


def test_hits_known_graph(spark):
    """HITS on the classic 2-hub/2-authority graph, checked against a
    pure-Python replay of the same sum-normalized round-6 iteration."""
    from textractssmlprocessor_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("u1", "a1"), ("u1", "a2"), ("u2", "a1"), ("u2", "a2"), ("a1", "x")],
        "src string, dst string",
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, iterations=3).collect()}

    e = [("u1", "a1"), ("u1", "a2"), ("u2", "a1"), ("u2", "a2"), ("a1", "x")]
    nodes = sorted({n for p in e for n in p})
    hub = {n: 1.0 for n in nodes}
    for _ in range(3):
        raw_a = {n: sum(hub[s] for s, t in e if t == n) for n in nodes}
        tot = sum(raw_a.values())
        auth = {n: round(raw_a[n] / tot, 6) for n in nodes}
        raw_h = {n: sum(auth[t] for s, t in e if s == n) for n in nodes}
        tot = sum(raw_h.values())
        hub = {n: round(raw_h[n] / tot, 6) for n in nodes}
    for n in nodes:
        assert got[n][0] == pytest.approx(hub[n], abs=2e-6), n
        assert got[n][1] == pytest.approx(auth[n], abs=2e-6), n
    # hubs are the pure out-linkers, authorities the pure targets
    assert got["u1"][0] > got["a1"][0] and got["a2"][1] > got["u1"][1]


@pytest.mark.parametrize("checkpoint_dir", [True, False], indirect=True)
def test_pagerank_and_hits_materialize_modes_identical(spark, checkpoint_dir):
    """The per-iteration cut must be a pure plan optimization: scores
    bit-identical whether it stores reliable checkpoints (a checkpoint
    dir is set) or local ones."""
    from textractssmlprocessor_spark.operators.graph import hits, pagerank

    edges = spark.createDataFrame(
        [(f"h{i % 7}", f"h{i % 11}") for i in range(60)],
        "src string, dst string",
    )
    pr = {r["node"]: r["rank"] for r in
          pagerank(edges, iterations=3).collect()}
    hs = {r["node"]: (r["hub"], r["auth"]) for r in
          hits(edges, iterations=3).collect()}
    if not hasattr(test_pagerank_and_hits_materialize_modes_identical, "_ref"):
        test_pagerank_and_hits_materialize_modes_identical._ref = (pr, hs)
    else:
        ref_pr, ref_hs = test_pagerank_and_hits_materialize_modes_identical._ref
        assert pr == ref_pr
        assert hs == ref_hs


def _build_flat_jpeg(width, height, gray=160):
    """Hand-assembled baseline JPEG: one grayscale component, unit quant
    table, custom canonical Huffman tables, flat DC-only blocks — exact
    expected output = every pixel == gray (spec-level ground truth with no
    encoder library)."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", height, width)
              + bytes([1, 0x01, 0x11, 0x00]))
    # DC table: symbols 0..11 at code length 4; AC table: EOB at length 2
    dc_counts = bytes([0, 0, 0, 12] + [0] * 12)
    dht_dc = seg(0xC4, bytes([0x00]) + dc_counts + bytes(range(12)))
    ac_counts = bytes([0, 1] + [0] * 14)
    dht_ac = seg(0xC4, bytes([0x10]) + ac_counts + bytes([0x00]))
    sos = seg(0xDA, bytes([1, 0x01, 0x00, 0, 63, 0]))

    bits = []

    def put(value, n):
        for k in range(n - 1, -1, -1):
            bits.append((value >> k) & 1)

    d = (gray - 128) * 8  # DC coefficient for a flat level-shifted block
    s = d.bit_length()
    n_blocks = ((width + 7) // 8) * ((height + 7) // 8)
    # canonical codes: symbol k of 0..11 at length 4 gets code k
    for blk in range(n_blocks):
        if blk == 0:
            put(s, 4)           # huffman code for DC size symbol s == s
            put(d, s)           # positive magnitude: raw bits
        else:
            put(0, 4)           # diff 0: symbol 0, no magnitude bits
        put(0b00, 2)            # AC EOB
    while len(bits) % 8:
        bits.append(1)
    payload = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for bt in bits[i : i + 8]:
            byte = (byte << 1) | bt
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)  # byte stuffing
    return (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
            + bytes(payload) + b"\xff\xd9")


def test_decode_jpeg_flat_exact():
    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
        image_dimensions,
    )

    for w, h in [(8, 8), (16, 8), (8, 24)]:
        data = _build_flat_jpeg(w, h, gray=160)
        assert image_dimensions(data) == ("jpeg", w, h)
        got = decode_jpeg_pixels(data)
        assert got is not None
        gw, gh, ch, px = got
        assert (gw, gh, ch) == (w, h, 1)
        assert set(px) == {160}, f"expected flat 160, got {set(px)}"

    # an SOF declaring length 1: its dimensions would come from bytes
    # outside the segment, so neither parser reads them
    short_sof = b"\xff\xd8\xff\xc0\x00\x01" + bytes(20)
    assert image_dimensions(short_sof) is None
    assert decode_jpeg_pixels(short_sof) is None


def test_decode_jpeg_real_fixture():
    """Real-world smoke: a color JPEG from the Python stdlib test data
    decodes to the right shape and to pinned pixels, deterministically."""
    import hashlib
    import os

    p = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
         "python3.11/test/imghdrdata/python.jpg")
    if not os.path.exists(p):
        import pytest as _pytest

        _pytest.skip("system JPEG fixture not present")
    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )

    data = open(p, "rb").read()
    a = decode_jpeg_pixels(data)
    b2 = decode_jpeg_pixels(data)
    assert a is not None and a[:3] == (16, 16, 3) and len(a[3]) == 16 * 16 * 3
    assert a == b2
    assert hashlib.md5(a[3]).hexdigest() == "dbb5d9878836c7edc21cfc2ce6115416"


def _build_flat_jpeg_color_420(ycbcr=(120, 140, 100), interleaved=True):
    """16x16 baseline JPEG, 3 components with 4:2:0 subsampling (Y 2x2,
    Cb/Cr 1x1 — one interleaved MCU of 4 Y blocks + Cb + Cr), every
    component flat: exact expected RGB from the same BT.601 arithmetic.
    With ``interleaved=False`` the same image is coded as three
    non-interleaved scans, one SOS per component (T.81 A.2.2)."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    y0, cb0, cr0 = ycbcr
    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", 16, 16)
              + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    dc_counts = bytes([0, 0, 0, 12] + [0] * 12)
    dht_dc = seg(0xC4, bytes([0x00]) + dc_counts + bytes(range(12)))
    ac_counts = bytes([0, 1] + [0] * 14)
    dht_ac = seg(0xC4, bytes([0x10]) + ac_counts + bytes([0x00]))

    def scan(comp_ids, diffs):
        bits = []

        def put(value, n):
            for k in range(n - 1, -1, -1):
                bits.append((value >> k) & 1)

        for diff in diffs:
            s = abs(diff).bit_length()
            put(s, 4)
            if s:
                # T.81 signed magnitude: negatives as ones'-complement bits
                put(diff if diff >= 0 else diff + (1 << s) - 1, s)
            put(0b00, 2)  # EOB
        header = bytes([len(comp_ids)])
        for cid in comp_ids:
            header += bytes([cid, 0x00])
        return seg(0xDA, header + bytes([0, 63, 0])) + _prog_jpeg_bits(bits)

    # each component's first block carries its DC, the rest diff 0
    y = [(y0 - 128) * 8, 0, 0, 0]
    cb, cr = [(cb0 - 128) * 8], [(cr0 - 128) * 8]
    if interleaved:  # MCU: the 4 Y blocks, then Cb, then Cr
        scans = scan([1, 2, 3], y + cb + cr)
    else:
        scans = scan([1], y) + scan([2], cb) + scan([3], cr)
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + scans + b"\xff\xd9"


def test_decode_jpeg_color_420_exact():
    """Exact BT.601 colour from one interleaved scan, and from three
    non-interleaved scans (one SOS per component) of the same image."""
    import numpy as np

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )

    y0, cb0, cr0 = 120, 140, 100
    exp_r = int(np.round(y0 + 1.402 * (cr0 - 128)))
    exp_g = int(np.round(y0 - 0.344136 * (cb0 - 128) - 0.714136 * (cr0 - 128)))
    exp_b = int(np.round(y0 + 1.772 * (cb0 - 128)))
    assert (exp_r, exp_g, exp_b) == (81, 136, 141)
    for interleaved in (True, False):
        data = _build_flat_jpeg_color_420((y0, cb0, cr0), interleaved)
        assert data.count(b"\xff\xda") == (1 if interleaved else 3)
        got = decode_jpeg_pixels(data)
        assert got is not None and got[:3] == (16, 16, 3)
        px = np.frombuffer(got[3], dtype=np.uint8).reshape(16, 16, 3)
        assert (px[:, :, 0] == exp_r).all(), interleaved
        assert (px[:, :, 1] == exp_g).all(), interleaved
        assert (px[:, :, 2] == exp_b).all(), interleaved


def test_decode_jpeg_four_components_declined():
    """A 4-component (CMYK / YCCK) frame is outside the decoder: None,
    not RGB built from its first three components."""
    import struct

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
        image_dimensions,
    )

    data = _build_flat_jpeg_color_420()
    at = data.index(b"\xff\xc0")
    sof = (b"\xff\xc0" + struct.pack(">H", 20) + bytes([8])
           + struct.pack(">HH", 8, 8) + bytes([4])
           + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]))
    # one interleaved MCU: four flat DC-only blocks (DC size 0, EOB)
    sos = (b"\xff\xda" + struct.pack(">H", 14)
           + bytes([4, 1, 0, 2, 0, 3, 0, 4, 0, 0, 63, 0])
           + _prog_jpeg_bits([0, 0, 0, 0, 0, 0] * 4))
    # the builder's 3-component SOF is followed by its DHTs, then its SOS
    dhts = data[data.index(b"\xff\xc4") : data.index(b"\xff\xda")]
    cmyk = data[:at] + sof + dhts + sos + b"\xff\xd9"
    assert image_dimensions(cmyk) == ("jpeg", 8, 8)
    assert decode_jpeg_pixels(cmyk) is None


# --- GIF pixel decode (multimodal.decode_gif_pixels) -------------------------


def _gif_lzw_encode(indices, min_code):
    """Textbook GIF LZW encoder (GIF89a Appendix F): emits CLEAR, then
    greedy longest-match codes with the table growing per emit, code
    width bumping when the largest assigned code no longer fits."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code + 1
    out = [(clear, code_size)]
    w = bytes([indices[0]])
    for k in indices[1:]:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        out.append((table[w], code_size))
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        w = bytes([k])
    out.append((table[w], code_size))
    out.append((end, code_size))
    return _gif_pack_codes(out)


def _gif_pack_codes(codes):
    acc = nacc = 0
    data = bytearray()
    for c, s in codes:
        acc |= c << nacc
        nacc += s
        while nacc >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        data.append(acc & 0xFF)
    return bytes(data)


def _build_gif(w, h, indices, palette, min_code=2, interlace=False,
               extension=False, local_ct=False, spam_clear=False):
    """Hand-assembled GIF89a: logical screen + color table (global or
    local), optional Graphic Control Extension, image descriptor
    (optionally interlaced — rows emitted in the 8/8/4/2 pass order),
    LZW data in 255-byte sub-blocks, trailer."""
    n = len(palette) // 3
    ct_bits = max(1, (n - 1).bit_length())
    ct = bytes(palette) + b"\x00" * (3 * ((1 << ct_bits) - n))
    hdr = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local_ct:
        hdr += bytes([0x00, 0, 0])
    else:
        hdr += bytes([0x80 | (ct_bits - 1), 0, 0]) + ct
    body = b""
    if extension:  # GCE with transparency flag: must be walked over
        body += bytes([0x21, 0xF9, 4, 0x01, 0, 0, 0, 0])
    rows = [indices[r * w:(r + 1) * w] for r in range(h)]
    if interlace:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        stream = [i for r in order for i in rows[r]]
    else:
        stream = list(indices)
    ipacked = 0x40 if interlace else 0
    idesc = (bytes([0x2C]) + b"\x00\x00\x00\x00"
             + w.to_bytes(2, "little") + h.to_bytes(2, "little"))
    if local_ct:
        idesc += bytes([0x80 | (ct_bits - 1) | ipacked]) + ct
    else:
        idesc += bytes([ipacked])
    if spam_clear:
        # alternate encoding: CLEAR before every literal (table never
        # grows) — a second, independently-correct stream for the same
        # pixels, cross-checking the decoder's clear-code path
        cs = min_code + 1
        codes = [(1 << min_code, cs)]
        for i in stream:
            codes += [(i, cs), (1 << min_code, cs)]
        codes[-1] = ((1 << min_code) + 1, cs)
        lzw = _gif_pack_codes(codes)
    else:
        lzw = _gif_lzw_encode(stream, min_code)
    sub = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        for i in range(0, len(lzw), 255)
    )
    return hdr + body + idesc + bytes([min_code]) + sub + b"\x00" + b"\x3B"


def test_decode_gif_exact():
    from textractssmlprocessor_spark.operators.multimodal import (
        decode_gif_pixels,
        image_dimensions,
    )

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    # 16x16 varied pattern: LZW table grows past 8 entries, so the code
    # width bumps 3 -> 4 -> 5 bits mid-stream (the growth path)
    idx = bytes([(r * 7 + c * 3) % 4 for r in range(16) for c in range(16)])
    expected = b"".join(palette[i * 3:i * 3 + 3] for i in idx)

    data = _build_gif(16, 16, idx, palette)
    assert image_dimensions(data) == ("gif", 16, 16)
    assert decode_gif_pixels(data) == (16, 16, 3, expected)

    # same pixels through four container variants
    assert decode_gif_pixels(
        _build_gif(16, 16, idx, palette, spam_clear=True)
    ) == (16, 16, 3, expected)
    assert decode_gif_pixels(
        _build_gif(16, 16, idx, palette, interlace=True)
    ) == (16, 16, 3, expected)
    assert decode_gif_pixels(
        _build_gif(16, 16, idx, palette, local_ct=True)
    ) == (16, 16, 3, expected)
    assert decode_gif_pixels(
        _build_gif(16, 16, idx, palette, extension=True)
    ) == (16, 16, 3, expected)

    # degenerate / corrupt inputs: None, never an exception
    assert decode_gif_pixels(b"not a gif") is None
    assert decode_gif_pixels(data[:20]) is None
    assert decode_gif_pixels(b"GIF89a" + b"\x00" * 7 + b"\x3B") is None
    truncated = data[:len(data) - len(data) // 3]
    assert decode_gif_pixels(truncated) is None


def test_decode_gif_real_fixtures():
    """Ground truth from a real encoder: the stdlib test-suite GIF is the
    same 16x16 logo as its PNG sibling — pixels must agree except for the
    palettization/transparency tail, and the cross-format dHash must land
    within the near-dup radius (the property dhash_near_dupes sells)."""
    import os

    base = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "python3.11/test/imghdrdata/")
    if not os.path.exists(base + "python.gif"):
        import pytest as _pytest

        _pytest.skip("system GIF fixture not present")
    import numpy as np

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
        dhash64,
    )

    g = open(base + "python.gif", "rb").read()
    p = open(base + "python.png", "rb").read()
    dg = decode_gif_pixels(g)
    dp = decode_png_pixels(p)
    assert dg is not None and dg[:3] == (16, 16, 3)
    assert dg == decode_gif_pixels(g)  # deterministic
    a = np.frombuffer(dg[3], dtype=np.uint8).reshape(16, 16, 3).astype(int)
    b = np.frombuffer(dp[3], dtype=np.uint8).reshape(16, 16, 3).astype(int)
    exact = (np.abs(a - b).max(axis=2) == 0).sum()
    assert exact >= 150, exact  # measured 177/256 (palette + transparency)
    ham = bin((dhash64(g) ^ dhash64(p)) & ((1 << 64) - 1)).count("1")
    assert ham <= 6, ham  # measured 2


def test_gif_rides_image_pixels_and_dhash(spark):
    from textractssmlprocessor_spark.operators.multimodal import (
        image_dhash,
        image_pixels,
    )

    palette = bytes([0, 0, 0, 255, 255, 255])
    idx = bytes([(r + c) % 2 for r in range(8) for c in range(8)])
    gif = _build_gif(8, 8, idx, palette)
    df = spark.createDataFrame(
        [("g1", bytearray(gif)), ("bad", bytearray(b"JUNK"))],
        "url string, payload binary",
    )
    px = {r["url"]: r for r in image_pixels(df).collect()}
    assert (px["g1"]["width"], px["g1"]["height"], px["g1"]["channels"]) == (8, 8, 3)
    assert len(px["g1"]["pixels"]) == 8 * 8 * 3
    assert px["bad"]["width"] is None and px["bad"]["pixels"] is None
    dh = {r["url"]: r["dhash"] for r in image_dhash(df).collect()}
    assert dh["g1"] is not None and dh["bad"] is None


# --- progressive JPEG decode (multimodal.decode_jpeg_pixels, SOF2) ----------


def _prog_jpeg_bits(bits):
    """Pack a bit list MSB-first with 0xFF byte stuffing and 1-padding."""
    bits = list(bits)
    while len(bits) % 8:
        bits.append(1)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for bt in bits[i:i + 8]:
            byte = (byte << 1) | bt
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    return bytes(out)


def _build_prog_jpeg_gray8(dc_val, ac1_val):
    """8x8 grayscale PROGRESSIVE JPEG (SOF2), quant table all 1s, coded in
    four scans exercising every scan kind: DC first (Al=1), DC refine
    (Ah=1, Al=0), AC first (Al=1) placing one coefficient at zigzag k=1,
    AC refine (Ah=1, Al=0) sending its low bit via an EOB correction run.
    dc_val / ac1_val are the FINAL (full-precision) coefficients."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 8)
              + bytes([1, 1, 0x11, 0]))
    dc_counts = bytes([0, 0, 0, 12] + [0] * 12)
    dht_dc = seg(0xC4, bytes([0x00]) + dc_counts + bytes(range(12)))
    # AC table: two length-2 codes: 00 -> 0x00 (EOB), 01 -> 0x02 (r=0,s=2)
    ac_counts = bytes([0, 2] + [0] * 14)
    dht_ac = seg(0xC4, bytes([0x10]) + ac_counts + bytes([0x00, 0x02]))

    def sos(comps_tabs, ss, se, ah, al, bits):
        body = bytes([len(comps_tabs)])
        for cid, tabs in comps_tabs:
            body += bytes([cid, tabs])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body) + _prog_jpeg_bits(bits)

    def put(v, n, bits):
        for k in range(n - 1, -1, -1):
            bits.append((v >> k) & 1)

    # scan 1: DC first, Al=1 -> send diff = dc_val >> 1 (arithmetic)
    b1 = []
    d = dc_val >> 1
    s = abs(d).bit_length()
    put(s, 4, b1)
    if s:
        put(d if d >= 0 else d + (1 << s) - 1, s, b1)
    # scan 2: DC refine, Al=0 -> one raw bit = bit 0 of dc_val
    b2 = [dc_val & 1]
    # scan 3: AC first, Al=1 -> coefficient at k=1, then EOB. The AC
    # point transform truncates the MAGNITUDE toward zero (T.81 G.1.2.1,
    # sign-magnitude), unlike DC's arithmetic shift
    b3 = []
    a = (abs(ac1_val) >> 1) * (1 if ac1_val >= 0 else -1)
    if a:
        put(0b01, 2, b3)       # symbol 0x02: r=0, s=2 (|a| must be 2..3)
        put(a if a >= 0 else a + 3, 2, b3)
    put(0b00, 2, b3)           # EOB
    # scan 4: AC refine, Al=0 -> EOB symbol, then the correction bit for
    # the (now nonzero-history) coefficient at k=1
    b4 = []
    put(0b00, 2, b4)           # EOB (r=0): rest of block is correction bits
    if a:
        b4.append(abs(ac1_val) & 1)
    return (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac
            + sos([(1, 0x00)], 0, 0, 0, 1, b1)
            + sos([(1, 0x00)], 0, 0, 1, 0, b2)
            + sos([(1, 0x00)], 1, 63, 0, 1, b3)
            + sos([(1, 0x00)], 1, 63, 1, 0, b4)
            + b"\xff\xd9")


def test_decode_jpeg_progressive_exact():
    """Exact pixels through all four progressive scan kinds, expected
    output computed independently from the IDCT definition."""
    import math

    import numpy as np

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
    )

    A = np.array([[ (math.sqrt(0.5) if u == 0 else 1.0) / 2.0
                    * math.cos((2 * x + 1) * u * math.pi / 16.0)
                    for x in range(8)] for u in range(8)])
    for dc, ac in [(256, 7), (-96, 6), (80, -5), (0, 0)]:
        data = _build_prog_jpeg_gray8(dc, ac)
        got = decode_jpeg_pixels(data)
        assert got is not None and got[:3] == (8, 8, 1), (dc, ac)
        C = np.zeros((8, 8))
        C[0, 0] = dc
        C[0, 1] = ac  # zigzag index 1 = natural (row 0, col 1)
        exp = np.clip(np.round(A.T @ C @ A + 128.0), 0, 255).astype(np.uint8)
        px = np.frombuffer(got[3], dtype=np.uint8).reshape(8, 8)
        assert (px == exp).all(), (dc, ac, px[0], exp[0])

    # a progressive frame cut before its first scan has no pixels: no
    # uniform 128-gray image from all-zero coefficients
    data = _build_prog_jpeg_gray8(256, 7)
    assert decode_jpeg_pixels(data[: data.index(b"\xff\xda")]) is None


def test_jpeg_bit_reader_end_of_data_is_eof_error():
    """The entropy reader signals the end of its data as EOFError: after
    the 8 bits of a 1-byte payload, and at a marker."""
    import pytest as _pytest

    from textractssmlprocessor_spark.operators.multimodal import _JpegBitReader

    r = _JpegBitReader(b"\xa5", 0)
    assert r.read_bits(8) == 0xA5
    with _pytest.raises(EOFError):
        r.read_bit()
    with _pytest.raises(EOFError):
        _JpegBitReader(b"\xff", 0).read_bit()
    with _pytest.raises(EOFError):
        _JpegBitReader(b"\xff\xd9", 0).read_bit()
    assert _JpegBitReader(b"\xff\x00", 0).read_bits(8) == 0xFF  # stuffed


def test_progressive_scan_bug_is_not_read_as_truncation(monkeypatch):
    """A progressive stream keeps the scans decoded before the end of its
    data (EOFError) or a corrupt code (ValueError), but any other error
    inside a scan is a decoder bug and must raise, not come back as a
    coarse image."""
    import pytest as _pytest

    from textractssmlprocessor_spark.operators import multimodal

    data = _build_prog_jpeg_gray8(256, 7)
    assert multimodal.decode_jpeg_pixels(data) is not None

    def broken_scan(*args, **kwargs):
        raise IndexError("decoder bug")

    monkeypatch.setattr(multimodal, "_jpeg_scan", broken_scan)
    with _pytest.raises(IndexError):
        multimodal.decode_jpeg_pixels(data)


def test_decode_jpeg_progressive_real_fixtures():
    """Real encoder output: SOF2 files shipped with system packages decode
    deterministically with correct header dimensions, sane content (the
    nodejs doc images are white stripes on white) and pinned pixels."""
    import hashlib
    import os

    import numpy as np

    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
        image_dimensions,
    )

    fixtures = [
        ("/usr/share/doc/nodejs/full-white-stripe.jpg", 240,
         "85b122593b02b705b60a049d13266fd9"),
        ("/usr/share/doc/nodejs/thin-white-stripe.jpg", 200,
         "d7aa174819b83b65669174931574910b"),
    ]
    ran = False
    for path, min_mean, md5 in fixtures:
        if not os.path.exists(path):
            continue
        ran = True
        b = open(path, "rb").read()
        fmt, w, h = image_dimensions(b)
        d = decode_jpeg_pixels(b)
        assert d is not None and d[:2] == (w, h) and d[2] == 3
        assert d == decode_jpeg_pixels(b)  # deterministic
        mean = np.frombuffer(d[3], dtype=np.uint8).mean()
        assert mean > min_mean, (path, mean)
        assert hashlib.md5(d[3]).hexdigest() == md5, path
    if not ran:
        import pytest as _pytest

        _pytest.skip("no system progressive-JPEG fixtures present")


def test_url_host_userinfo_ipv6_and_tracking_case(spark):
    """url_host strips userinfo before the port split (a blocklist must
    not be evadable via an '@'-spelling) and keeps bracketed IPv6 hosts
    whole; normalize_url strips tracking params case-insensitively and
    in valueless form."""
    from textractssmlprocessor_spark.operators.weburl import (
        normalize_url,
        url_host,
        url_quality_columns,
    )

    rows = spark.createDataFrame(
        [
            ("http://admin:pw@evil.example.org/x",),
            ("http://user@plain.example.org:8080/y",),
            ("http://[2001:db8::1]:8080/z",),
            ("https://Ex.org/p?UTM_SOURCE=mail&fbclid&b=2",),
            ("http://h.org/p#frag?x=1&y=2",),  # fragment, NOT a query
            ("http://h.org/p?a=1&b=2?c=3",),  # literal '?' in a value
        ],
        "url string",
    )
    cols = url_quality_columns(F.col("url"))
    got = rows.select(
        "url",
        url_host(F.col("url")).alias("host"),
        normalize_url(F.col("url")).alias("canon"),
        cols["query_param_count"].alias("qpc"),
        cols["path_depth"].alias("depth"),
    ).collect()
    by = {r["url"]: r for r in got}
    assert by["http://admin:pw@evil.example.org/x"]["host"] == "evil.example.org"
    assert by["http://user@plain.example.org:8080/y"]["host"] == "plain.example.org"
    assert by["http://[2001:db8::1]:8080/z"]["host"] == "[2001:db8::1]"
    assert by["https://Ex.org/p?UTM_SOURCE=mail&fbclid&b=2"]["canon"] == (
        "https://ex.org/p?b=2"
    )
    assert by["http://h.org/p#frag?x=1&y=2"]["qpc"] == 0
    assert by["http://h.org/p#frag?x=1&y=2"]["depth"] == 1
    assert by["http://h.org/p?a=1&b=2?c=3"]["qpc"] == 2


def test_multimodal_hostile_inputs_contained(spark):
    """Untrusted-corpus containment: spurious MP3 syncs are not audio,
    out-of-order JPEG markers return None (never UnboundLocal/TypeError),
    a PNG decompression bomb stops at the declared geometry, and absurd
    GIF header dims are rejected before allocation."""
    import struct
    import zlib

    from textractssmlprocessor_spark.operators import multimodal as mm

    junk = (
        b"PK\x03\x04" + b"\x00" * 100 + b"\xff\xfb\x90\x00"
        + b"\x00" * 500 + b"junk"
    )
    assert mm.audio_metadata(junk) is None

    sof = (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 8) + bytes([1, 0x11, 0])
    )
    assert mm.decode_jpeg_pixels(b"\xff\xd8" + sof + b"\xff\xd9tail") is None
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0, 0, 63, 0])
    assert mm.decode_jpeg_pixels(b"\xff\xd8" + sos + b"\xff\xd9") is None

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + b"\x00" * 4

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (50 << 20))  # inflates to 50 MB
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    r = mm.decode_png_pixels(png)
    assert r is not None and (r[0], r[1]) == (4, 4) and len(r[3]) == 16

    gif = (
        b"GIF89a" + struct.pack("<HH", 65535, 65535)
        + bytes([0xF0, 0, 0]) + b"\x00" * 6
        + b"," + struct.pack("<HHHH", 0, 0, 65535, 65535)
        + bytes([0, 8]) + b"\x01\x00\x00;"
    )
    assert mm.decode_gif_pixels(gif) is None

    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        mm.dhash_near_dupes(
            spark.createDataFrame([("u", 1)], "url string, dhash long"),
            max_hamming=4,
        )


def test_main_content_strips_script_and_style(spark):
    """JS/CSS source must not count as visible text: a long script body
    inside a block cannot carry the block past the word-count gate."""
    from textractssmlprocessor_spark.operators.content import main_content

    js = "var config = { " + "key: 1, " * 30 + "};"
    html = (
        f"<div><script>{js}</script>Short caption</div>"
        "<p>This paragraph has enough real words to be kept as the main"
        " content of the page today.</p>"
    )
    row = main_content(
        spark.createDataFrame([("u", html)], "url string, html string")
    ).collect()[0]
    assert "var config" not in row["main_text"]
    assert "Short caption" not in row["main_text"]  # 2 words: dropped
    assert row["main_text"].startswith("This paragraph")


def test_c4_lines_crlf_documents(spark):
    """CRLF text must behave exactly like LF text (the '\\r' would
    otherwise defeat the terminal-punctuation rule differently per
    engine)."""
    from textractssmlprocessor_spark.operators.content import c4_line_columns

    text = "One good sentence is here.\r\nshort\r\nAnother full line ends well.\r\n"
    cols = c4_line_columns(F.col("t"))
    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(*[v.alias(k) for k, v in cols.items()])
        .collect()[0]
    )
    assert row["c4_n_lines_kept"] == 2
    assert "\r" not in row["c4_text"]


def test_ocr_short_docs_and_roman_word_body_lines_survive(spark):
    """Two data-loss guards: (1) on a 1-2 page document the repeat
    threshold n_pages*0.5 <= 1 must not strip every unique edge line;
    (2) a BODY line that happens to be a valid roman-numeral word
    ('mix') must survive — folio stripping applies only in the edge
    bands (where a real folio like 'IV' still dies)."""
    from textractssmlprocessor_spark.operators.ocr import (
        strip_page_boilerplate,
    )

    rows = [
        # 2-page doc: unique titles in the header band on each page
        ("u1", 0, 1, "Unique Title Alpha", 0.05),
        ("u1", 0, 2, "Body text of page one.", 0.5),
        ("u1", 1, 1, "Unique Title Beta", 0.05),
        ("u1", 1, 2, "Body text of page two.", 0.5),
        # body line that is a roman-numeral word, plus a real edge folio
        ("u2", 0, 1, "mix", 0.5),
        ("u2", 0, 2, "IV", 0.95),
        ("u2", 1, 1, "more body text here", 0.5),
        ("u2", 1, 2, "V", 0.95),
    ]
    lines = spark.createDataFrame(
        rows, "url string, page_no long, line_no long, line_text string, top double"
    )
    kept = {
        (r["url"], r["line_text"])
        for r in strip_page_boilerplate(lines).collect()
    }
    assert ("u1", "Unique Title Alpha") in kept
    assert ("u1", "Unique Title Beta") in kept
    assert ("u2", "mix") in kept  # body roman word survives
    assert ("u2", "IV") not in kept  # edge folio dies
    assert ("u2", "V") not in kept


def test_undecodable_codec_audit(spark):
    """The decode blind-spot audit: image_pixels tags rows whose container
    is recognized but whose pixels no decoder covers (VP8-lossy WebP — the
    documented codec boundary; corrupt PNG streams), and leaves non-image
    payloads untagged so corpus rollups separate 'not an image' from
    'image we could not decode'."""
    import struct
    import zlib

    from textractssmlprocessor_spark.operators.multimodal import (
        image_pixels,
        undecodable_codec,
    )

    # minimal VP8-lossy container: sync code at 23, 14-bit LE dims
    vp8 = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 10)
        + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<HH", 20, 16)
    )
    assert undecodable_codec(vp8) == "webp-vp8-lossy"

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    good_png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00ab\x00cd"))
        + chunk(b"IEND", b"")
    )
    corrupt_png = good_png[:40]  # header parses, stream truncated
    assert undecodable_codec(corrupt_png) == "png"
    assert undecodable_codec(b"plain text payload") is None

    df = spark.createDataFrame(
        [
            ("webp://1", bytearray(vp8)),
            ("png://ok", bytearray(good_png)),
            ("png://bad", bytearray(corrupt_png)),
            ("txt://1", bytearray(b"plain text payload")),
        ],
        ["url", "payload"],
    )
    rows = {r["url"]: r for r in image_pixels(df).collect()}
    assert rows["webp://1"]["pixels"] is None
    assert rows["webp://1"]["undecodable_codec"] == "webp-vp8-lossy"
    assert rows["png://ok"]["pixels"] is not None
    assert rows["png://ok"]["undecodable_codec"] is None
    assert rows["png://bad"]["undecodable_codec"] == "png"
    assert rows["txt://1"]["undecodable_codec"] is None


def test_blank_docs_never_form_nearup_cliques(spark):
    """NULL/blank text shares the single md5('') shingle: without the
    _shingleable guard, m blank docs emit ~m^2/2 jaccard=1.0 pairs and a
    blank history doc rejects every future blank doc. Blank docs must be
    invisible to the shingle family (exact dedup owns them)."""
    from textractssmlprocessor_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        near_dupes_against_history,
        ngram_jaccard_pairs,
    )

    rows = [(1, None), (2, ""), (3, "   \t  "), (4, "")]
    real = [(10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy cat")]
    docs = spark.createDataFrame(rows + real, "doc_id bigint, text string")
    # no pair involves a blank doc; real near-dupes still pair
    for pairs in (
        ngram_jaccard_pairs(docs, n=3, threshold=0.1),
        minhash_lsh_pairs(docs, n=3, threshold=0.1),
    ):
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == {(10, 11)}
    # a blank doc in history must not gate future blank docs
    hist = minhash_band_table(docs, n=3)
    assert hist.filter(F.col("id") < 10).count() == 0
    survivors = near_dupes_against_history(docs, hist, n=3)
    assert {r["doc_id"] for r in survivors.collect()} == {1, 2, 3, 4}


def test_band_count_must_divide_num_hashes(spark, docs):
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5).collect()


def test_redact_pii_null_text_is_total(spark):
    from textractssmlprocessor_spark.operators.privacy import with_pii_redaction

    df = spark.createDataFrame(
        [(1, "mail a@b.com"), (2, None)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    assert out[1]["n_email"] == 1
    # NULL text counts 0 (not NULL) so audit-counter sums stay non-NULL
    assert out[2]["n_email"] == 0 and out[2]["n_phone"] == 0 and out[2]["n_ip"] == 0
    assert out[2]["redacted_text"] == ""


def test_boilerplate_handles_duplicate_urls(spark):
    """Re-crawled pages (duplicate url rows) must rebuild independently:
    a url-only rebuild key interleaves the copies' lines and emits
    negative n_dropped."""
    from textractssmlprocessor_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    nav = "HOME | ABOUT"
    rows = [
        ("https://h.org/p1", f"{nav}\nbody one"),
        ("https://h.org/p2", f"{nav}\nbody two"),
        ("https://h.org/p3", f"{nav}\nbody three"),
        # p1 re-crawled with DIFFERENT text
        ("https://h.org/p1", f"{nav}\nbody one updated"),
        # p2 re-crawled with IDENTICAL text
        ("https://h.org/p2", f"{nav}\nbody two"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = remove_boilerplate_lines(df).collect()
    assert len(out) == len(rows)  # one row per input row
    assert all(r["n_dropped"] == 1 for r in out)  # exactly the nav line
    texts = sorted(r["cleaned_text"] for r in out)
    assert texts == sorted(
        ["body one", "body two", "body three", "body one updated", "body two"]
    )


def test_pagerank_round_to_none_survives_large_n(spark):
    """round_to=None keeps full doubles: at 6dp, 1/N underflows to 0 for
    N past ~2M nodes and every score stays 0. Proxy check on a small
    graph: unrounded ranks still sum to ~1 and rounding-off matches the
    rounded trajectory to ~1e-6."""
    from textractssmlprocessor_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src bigint, dst bigint"
    )
    r6 = {r["node"]: r["rank"] for r in pagerank(edges, iterations=2).collect()}
    rn = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=2, round_to=None).collect()
    }
    assert set(r6) == set(rn)
    assert abs(sum(rn.values()) - 1.0) < 1e-9
    assert all(abs(r6[n] - rn[n]) < 5e-6 for n in rn)


def test_crawl_delta_null_text_is_presence_not_absence(spark):
    """fingerprint(NULL text) is NULL; presence must come from explicit
    markers, or a failed extraction masquerades as added/removed."""
    from textractssmlprocessor_spark.operators.delta import crawl_delta

    old = spark.createDataFrame(
        [("u1", None), ("u2", "same"), ("u3", "bye"), ("u4", None)],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "hello"), ("u2", "same"), ("u4", None), ("u5", "new")],
        "url string, text string",
    )
    got = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert got == {
        "u1": "changed",    # present in both; NULL -> text is a change
        "u2": "unchanged",
        "u3": "removed",
        "u4": "unchanged",  # NULL -> NULL: identically absent content
        "u5": "added",
    }


def test_synchronized_texts_null_discipline(spark):
    """ANSI string_agg semantics (fuzz seed 6): NULL chunks drop from the
    join; a project whose chunks are ALL NULL yields NULL documents, not
    '' — distinct from a project whose one chunk is the empty string."""
    from textractssmlprocessor_spark.operators.extract import (
        synchronized_texts,
    )

    chunks = spark.createDataFrame(
        [
            ("mixed", 1, "a", "<speak>a</speak>"),
            ("mixed", 2, None, None),
            ("mixed", 3, "c", "<speak>c</speak>"),
            ("allnull", 1, None, None),
            ("allnull", 2, None, None),
            ("empty", 1, "", "<speak></speak>"),
        ],
        "url string, chunk_number int, extracted_text string, ssml string",
    )
    rows = {r["url"]: r for r in synchronized_texts(chunks).collect()}
    assert rows["mixed"]["original_text"] == "a\n\nc"
    assert rows["mixed"]["translated_text"] == "<speak>a</speak>\n\n<speak>c</speak>"
    assert rows["allnull"]["original_text"] is None
    assert rows["allnull"]["translated_text"] is None
    assert rows["empty"]["original_text"] == ""
    assert rows["empty"]["translated_text"] == "<speak></speak>"
