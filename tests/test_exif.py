"""EXIF metadata (multimodal.exif_metadata / image_exif): hand-built
APP1 fixtures in both byte orders, privacy GPS flag, hostile payloads."""

from __future__ import annotations

import struct


def _tiff(endian: str = "II", gps: bool = True, orient: int = 6) -> bytes:
    e = "<" if endian == "II" else ">"
    make = b"CanonX\x00"  # 7 bytes, offset-stored
    dt = b"2023:05:01 10:00:00\x00"  # 20 bytes
    n = 5 if gps else 4
    ifd0_end = 8 + 2 + n * 12 + 4
    make_off = ifd0_end
    exif_off = make_off + len(make) + 1  # +1 keeps offsets even
    dt_off = exif_off + 2 + 12 + 4
    gps_off = dt_off + len(dt)

    def entry(tag, typ, cnt, val4: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, cnt) + val4

    ent = [
        entry(0x010F, 2, len(make), struct.pack(e + "I", make_off)),
        entry(0x0110, 2, 3, b"D5\x00\x00"),
        entry(0x0112, 3, 1, struct.pack(e + "H", orient) + b"\x00\x00"),
        entry(0x8769, 4, 1, struct.pack(e + "I", exif_off)),
    ]
    if gps:
        ent.append(entry(0x8825, 4, 1, struct.pack(e + "I", gps_off)))
    ifd0 = struct.pack(e + "H", n) + b"".join(ent) + struct.pack(e + "I", 0)
    exif_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x9003, 2, len(dt), struct.pack(e + "I", dt_off))
        + struct.pack(e + "I", 0)
    )
    gps_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x0000, 1, 4, b"\x02\x03\x00\x00")
        + struct.pack(e + "I", 0)
    )
    body = bytearray(
        endian.encode() + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
    )
    body += ifd0
    assert len(body) == make_off
    body += make + b"\x00"
    assert len(body) == exif_off
    body += exif_ifd
    assert len(body) == dt_off
    body += dt
    assert len(body) == gps_off
    body += gps_ifd
    return bytes(body)


def _jpeg(tiff: bytes) -> bytes:
    app1 = b"Exif\x00\x00" + tiff
    return (
        b"\xff\xd8"
        + b"\xff\xe1"
        + struct.pack(">H", 2 + len(app1))
        + app1
        + b"\xff\xd9"
    )


FULL = (6, "CanonX", "D5", "2023:05:01 10:00:00", 1)


def test_both_byte_orders_parse_identically():
    from textractssmlprocessor_spark.operators.multimodal import exif_metadata

    assert exif_metadata(_jpeg(_tiff("II"))) == FULL
    assert exif_metadata(_jpeg(_tiff("MM"))) == FULL


def test_gps_flag_and_missing_segment():
    from textractssmlprocessor_spark.operators.multimodal import exif_metadata

    assert exif_metadata(_jpeg(_tiff(gps=False)))[4] == 0
    assert exif_metadata(b"\xff\xd8\xff\xd9") is None  # no APP1
    assert exif_metadata(b"\x89PNG\r\n\x1a\n") is None  # not JPEG


def test_hostile_payloads_are_contained():
    from textractssmlprocessor_spark.operators.multimodal import exif_metadata

    good = _tiff()
    # GPS pointer outside the segment: flag stays 0, rest still parses
    bad_gps = bytearray(good)
    gps_entry_val = 8 + 2 + 4 * 12 + 8  # 5th entry's value field
    bad_gps[gps_entry_val : gps_entry_val + 4] = struct.pack("<I", 1 << 30)
    assert exif_metadata(_jpeg(bytes(bad_gps)))[4] == 0
    # absurd IFD0 entry count: treated as EXIF-free, never a loop/scan
    bad_count = bytearray(good)
    bad_count[8:10] = struct.pack("<H", 65535)
    assert exif_metadata(_jpeg(bytes(bad_count))) is None
    # truncated APP1 length field
    j = bytearray(_jpeg(good))
    j[4:6] = struct.pack(">H", 60000)
    assert exif_metadata(bytes(j)) is None


def test_image_exif_distributed(spark):
    from textractssmlprocessor_spark.operators.multimodal import image_exif

    rows = [
        ("u1", bytearray(_jpeg(_tiff()))),
        ("u2", bytearray(_jpeg(_tiff(gps=False, orient=1)))),
        ("u3", bytearray(b"not an image")),
        ("u4", None),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {
        r["url"]: (
            r["exif_present"],
            r["exif_orientation"],
            r["exif_has_gps"],
            r["exif_make"],
        )
        for r in image_exif(df).collect()
    }
    assert got == {
        "u1": (1, 6, 1, "CanonX"),
        "u2": (1, 1, 0, "CanonX"),
        "u3": (0, None, None, None),
        "u4": (0, None, None, None),
    }


# ---- orientation normalization (apply_exif_orientation + dhash64) ----


def test_apply_exif_orientation_all_eight_cases():
    from textractssmlprocessor_spark.operators.multimodal import (
        apply_exif_orientation,
    )

    # 2 rows x 3 cols, 1 channel, samples = position labels
    w, h, ch = 3, 2, 1
    pix = bytes([1, 2, 3, 4, 5, 6])  # rows: [1,2,3] / [4,5,6]
    out = {
        o: apply_exif_orientation(w, h, ch, pix, o) for o in range(1, 9)
    }
    assert out[1] == (3, 2, 1, bytes([1, 2, 3, 4, 5, 6]))
    assert out[2] == (3, 2, 1, bytes([3, 2, 1, 6, 5, 4]))
    assert out[3] == (3, 2, 1, bytes([6, 5, 4, 3, 2, 1]))
    assert out[4] == (3, 2, 1, bytes([4, 5, 6, 1, 2, 3]))
    assert out[5] == (2, 3, 1, bytes([1, 4, 2, 5, 3, 6]))
    assert out[6] == (2, 3, 1, bytes([4, 1, 5, 2, 6, 3]))
    assert out[7] == (2, 3, 1, bytes([6, 3, 5, 2, 4, 1]))
    assert out[8] == (2, 3, 1, bytes([3, 6, 2, 5, 1, 4]))


def test_dhash_normalizes_tagged_jpeg_rotation():
    from textractssmlprocessor_spark.operators.multimodal import (
        _dhash_bits,
        apply_exif_orientation,
        decode_jpeg_pixels,
        dhash64,
    )
    from tests.test_operators_spark import _build_prog_jpeg_gray8

    j = _build_prog_jpeg_gray8(320, 200)  # non-flat 8x8 gray content

    def tagged(o: int) -> bytes:
        app1 = b"Exif\x00\x00" + _tiff("II", gps=False, orient=o)
        return (
            j[:2] + b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1 + j[2:]
        )

    # identity tag hashes like the untagged payload
    assert dhash64(tagged(1)) == dhash64(j)
    # rotation tag hashes like the ROTATED pixels (white-box equality)
    dec = decode_jpeg_pixels(j)
    for o in (3, 6, 8):
        assert dhash64(tagged(o)) == _dhash_bits(
            *apply_exif_orientation(*dec, o)
        ), o


# ---- GPS redaction (redact_exif_gps / redact_media_gps) ----


def _tiff_with_rational_gps() -> bytes:
    # GPS IFD carrying an offset-stored RATIONAL latitude (type 5, cnt 2
    # -> 16 bytes outside the entry table) so redaction must chase it
    e = "<"
    ifd0_off = 8
    n = 1
    gps_off = ifd0_off + 2 + n * 12 + 4
    lat_off = gps_off + 2 + 12 + 4

    def entry(tag, typ, cnt, val4):
        return struct.pack(e + "HHI", tag, typ, cnt) + val4

    ifd0 = (
        struct.pack(e + "H", n)
        + entry(0x8825, 4, 1, struct.pack(e + "I", gps_off))
        + struct.pack(e + "I", 0)
    )
    gps_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x0002, 5, 2, struct.pack(e + "I", lat_off))  # GPSLatitude
        + struct.pack(e + "I", 0)
    )
    lat = struct.pack(e + "IIII", 37, 1, 4626, 100)  # 37 deg 46.26 min
    return (
        b"II" + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd0_off)
        + ifd0
        + gps_ifd
        + lat
    )


def test_redaction_zeroes_offset_stored_coordinates():
    from textractssmlprocessor_spark.operators.multimodal import (
        exif_metadata,
        redact_exif_gps,
    )

    j = _jpeg(_tiff_with_rational_gps())
    red, flag = redact_exif_gps(j)
    assert flag == 1 and len(red) == len(j)
    # the packed 37/1/4626/100 rationals are gone from the byte stream
    assert struct.pack("<IIII", 37, 1, 4626, 100) in j
    assert struct.pack("<IIII", 37, 1, 4626, 100) not in red
    assert exif_metadata(red) is None or exif_metadata(red)[4] == 0
    # idempotent: second pass is a no-op
    assert redact_exif_gps(red) == (red, 0)


def test_redaction_preserves_other_metadata_and_pixels():
    from textractssmlprocessor_spark.operators.multimodal import (
        decode_jpeg_pixels,
        exif_metadata,
        redact_exif_gps,
    )
    from tests.test_operators_spark import _build_prog_jpeg_gray8

    j = _build_prog_jpeg_gray8(320, 200)
    app1 = b"Exif\x00\x00" + _tiff("II", gps=True, orient=6)
    tagged = (
        j[:2] + b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1 + j[2:]
    )
    red, flag = redact_exif_gps(tagged)
    assert flag == 1
    assert exif_metadata(red) == (6, "CanonX", "D5", "2023:05:01 10:00:00", 0)
    # pixels decode byte-identically
    assert decode_jpeg_pixels(red) == (
        decode_jpeg_pixels(tagged)
    )
    # non-GPS payloads pass through unchanged
    assert redact_exif_gps(j) == (j, 0)
    assert redact_exif_gps(b"not a jpeg") == (b"not a jpeg", 0)


def test_redact_media_gps_distributed(spark):
    from textractssmlprocessor_spark.operators.multimodal import (
        image_exif,
        redact_media_gps,
    )

    rows = [
        ("u1", bytearray(_jpeg(_tiff(gps=True)))),
        ("u2", bytearray(_jpeg(_tiff(gps=False)))),
        ("u3", None),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    red = redact_media_gps(df)
    flags = {r["url"]: r["gps_redacted"] for r in red.collect()}
    assert flags == {"u1": 1, "u2": 0, "u3": 0}
    # re-audit of the redacted corpus shows zero GPS carriers
    assert (
        image_exif(red).agg({"exif_has_gps": "sum"}).first()[0] == 0
    )

# ---- IFD1-chain and multi-APP1 GPS (audit + redaction completeness) ----


def _tiff_ifd1_gps(loop: bool = False) -> bytes:
    # IFD0 carries only orientation; the GPS pointer lives in IFD1,
    # reached via IFD0's trailing next-IFD pointer (thumbnail metadata
    # can carry its own GPS IFD). loop=True points IFD1's next pointer
    # back at IFD0 — the hostile cycle the visited-set must break.
    e = "<"
    ifd0_off = 8
    ifd1_off = ifd0_off + 2 + 12 + 4
    gps_off = ifd1_off + 2 + 12 + 4

    def entry(tag, typ, cnt, val4):
        return struct.pack(e + "HHI", tag, typ, cnt) + val4

    ifd0 = (
        struct.pack(e + "H", 1)
        + entry(0x0112, 3, 1, struct.pack(e + "H", 6) + b"\x00\x00")
        + struct.pack(e + "I", ifd1_off)  # next-IFD pointer -> IFD1
    )
    ifd1 = (
        struct.pack(e + "H", 1)
        + entry(0x8825, 4, 1, struct.pack(e + "I", gps_off))
        + struct.pack(e + "I", ifd0_off if loop else 0)
    )
    gps_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x0000, 1, 4, b"\x02\x03\x00\x00")
        + struct.pack(e + "I", 0)
    )
    return (
        b"II" + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd0_off)
        + ifd0
        + ifd1
        + gps_ifd
    )


def _jpeg_two_app1(tiff_a: bytes, tiff_b: bytes) -> bytes:
    def seg(t: bytes) -> bytes:
        app1 = b"Exif\x00\x00" + t
        return b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1

    return b"\xff\xd8" + seg(tiff_a) + seg(tiff_b) + b"\xff\xd9"


def test_gps_in_ifd1_is_audited_and_redacted():
    from textractssmlprocessor_spark.operators.multimodal import (
        exif_metadata,
        redact_exif_gps,
    )

    j = _jpeg(_tiff_ifd1_gps())
    meta = exif_metadata(j)
    assert meta is not None and meta[4] == 1  # audit sees IFD1's GPS
    assert meta[0] == 6  # IFD0 descriptive fields still parse
    red, flag = redact_exif_gps(j)
    assert flag == 1 and len(red) == len(j)
    re_audit = exif_metadata(red)
    assert re_audit is not None and re_audit[4] == 0
    assert re_audit[0] == 6  # orientation survives redaction
    assert redact_exif_gps(red) == (red, 0)  # idempotent


def test_gps_in_second_app1_segment_is_audited_and_redacted():
    from textractssmlprocessor_spark.operators.multimodal import (
        exif_metadata,
        redact_exif_gps,
    )

    j = _jpeg_two_app1(_tiff("II", gps=False), _tiff("MM", gps=True))
    meta = exif_metadata(j)
    assert meta == FULL  # descriptive fields from segment 1, GPS from 2
    red, flag = redact_exif_gps(j)
    assert flag == 1 and len(red) == len(j)
    assert exif_metadata(red) == (6, "CanonX", "D5", "2023:05:01 10:00:00", 0)
    assert redact_exif_gps(red) == (red, 0)


def _tiff_duplicate_gps_tags() -> bytes:
    # Hostile entry table: TWO 0x8825 entries in IFD0 — the first points
    # out of the segment (unreadable), the second at a real GPS IFD.
    # exif_metadata's read_ifd dict keeps the LAST duplicate (audit sees
    # GPS); redaction must chase EVERY duplicate, not stop at the first.
    e = "<"
    ifd0_off = 8
    n = 2
    gps_off = ifd0_off + 2 + n * 12 + 4

    def entry(tag, typ, cnt, val4):
        return struct.pack(e + "HHI", tag, typ, cnt) + val4

    ifd0 = (
        struct.pack(e + "H", n)
        + entry(0x8825, 4, 1, struct.pack(e + "I", 1 << 30))  # decoy
        + entry(0x8825, 4, 1, struct.pack(e + "I", gps_off))  # real
        + struct.pack(e + "I", 0)
    )
    gps_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x0000, 1, 4, b"\x02\x03\x00\x00")
        + struct.pack(e + "I", 0)
    )
    return (
        b"II" + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd0_off)
        + ifd0
        + gps_ifd
    )


def test_duplicate_gps_tags_are_all_redacted():
    from textractssmlprocessor_spark.operators.multimodal import (
        exif_metadata,
        redact_exif_gps,
    )

    j = _jpeg(_tiff_duplicate_gps_tags())
    meta = exif_metadata(j)
    assert meta is not None and meta[4] == 1  # audit keeps last duplicate
    red, flag = redact_exif_gps(j)
    assert flag == 1 and len(red) == len(j)
    re_audit = exif_metadata(red)
    assert re_audit is None or re_audit[4] == 0  # converges to clean
    assert redact_exif_gps(red) == (red, 0)  # idempotent


def test_ifd_chain_cycle_is_contained():
    from textractssmlprocessor_spark.operators.multimodal import (
        exif_metadata,
        redact_exif_gps,
    )

    j = _jpeg(_tiff_ifd1_gps(loop=True))
    meta = exif_metadata(j)  # must terminate despite IFD1 -> IFD0 cycle
    assert meta is not None and meta[4] == 1
    red, flag = redact_exif_gps(j)
    assert flag == 1
    assert exif_metadata(red)[4] == 0
