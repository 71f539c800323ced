"""File-format coverage: the engine reads/writes parquet, ORC, JSON, CSV
with schema preservation — round-trip identity per format (the reference
has no file formats at all; this is the analytics-surface requirement)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dns_log_transformer_spark.session import read_table
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_round_trip(spark, tmp_path, fmt):
    src = read_table(spark, SF_SMOKE, "orders").limit(500)
    path = str(tmp_path / f"orders_{fmt}")
    writer = src.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(path)

    reader = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        # schema-on-read sources get the declared schema (never inferred
        # in the engine: inference is an extra full scan and can drift)
        reader = reader.schema(src.schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    back = reader.load(path)

    assert back.schema == src.schema
    assert back.count() == 500
    a = {tuple(r) for r in src.select("o_orderkey", "o_totalprice").collect()}
    b = {tuple(r) for r in back.select("o_orderkey", "o_totalprice").collect()}
    assert a == b


def test_sniff_image_meta_on_real_world_headers(spark):
    """The byte-level sniffer must parse REAL spec-laid-out headers, not
    just the synthetic census fixture: a JFIF JPEG whose SOF0 sits
    behind an APP0 and a 67-byte DQT segment (the marker walk has to
    actually walk), a PNG IHDR, a GIF89a logical screen, a BMP
    BITMAPINFOHEADER, and an unknown payload."""
    from dns_log_transformer_spark.operators.multimodal import (
        sniff_image_meta,
    )

    blobs = [
        # 640x480 PNG: signature + IHDR (8-bit RGB)
        (1, bytes.fromhex(
            "89504e470d0a1a0a0000000d4948445200000280000001e00802000000")),
        # 1920x1080 JPEG: SOI, APP0/JFIF(16), DQT(67), SOF0(17)
        (2, bytes.fromhex(
            "ffd8ffe000104a46494600010100004800480000ffdb0043"
            + "00" * 65
            + "ffc00011080438078003012200021101031101")),
        # 320x200 GIF89a logical screen (little-endian)
        (3, bytes.fromhex("4749463839614001c800f70000")),
        # 800x600 BMP BITMAPINFOHEADER (little-endian dims at 19/23)
        (4, bytes.fromhex(
            "424d000000000000000036000000280000002003000058020000"
            "01001800")),
        # not an image
        (5, b"plain text payload"),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["format"], r["width"], r["height"])
        for r in sniff_image_meta(df).collect()
    }
    assert got == {
        1: ("png", 640, 480),
        2: ("jpeg", 1920, 1080),
        3: ("gif", 320, 200),
        4: ("bmp", 800, 600),
        5: ("unknown", None, None),
    }


def test_jpeg_marker_walk_handles_variable_segment_layouts(spark):
    """The unrolled SOF walk must parse any header with up to
    JPEG_WALK_STEPS-1 leading segments of arbitrary lengths and marker
    types (APPn / COM / DQT / DRI), SOF0..SOF3 alike — seeded random
    layouts, built as real spec bytes, never via the synth fixture."""
    import random
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        JPEG_WALK_STEPS,
        sniff_image_meta,
    )

    rng = random.Random(0xD09)
    rows = []
    want = {}
    markers = [0xE0, 0xE1, 0xEE, 0xFE, 0xDB, 0xDD]  # APP0/1/14, COM, DQT, DRI
    for i in range(200):
        n_pre = rng.randrange(0, JPEG_WALK_STEPS)  # segments before SOF
        w, h = rng.randrange(1, 65536), rng.randrange(1, 65536)
        buf = b"\xff\xd8"
        for _ in range(n_pre):
            ln = rng.randrange(2, 300)  # len field includes itself
            buf += bytes([0xFF, rng.choice(markers)]) + struct.pack(">H", ln)
            buf += bytes(rng.randrange(256) for _ in range(ln - 2))
        sof = rng.choice([0xC0, 0xC1, 0xC2, 0xC3])
        buf += bytes([0xFF, sof]) + struct.pack(">H", 17) + b"\x08"
        buf += struct.pack(">HH", h, w) + b"\x03" + bytes(9)
        rows.append((i, buf))
        want[i] = ("jpeg", w, h)
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["format"], r["width"], r["height"])
        for r in sniff_image_meta(df).collect()
    }
    assert got == want


def test_jpeg_walk_exhaustion_is_loud_not_silent(spark):
    """A JPEG whose marker preface exceeds JPEG_WALK_STEPS (EXIF+ICC
    pile-ups deeper than the unrolled walk) must surface as the LOUD
    row — format='jpeg', null dims, dims_parsed=false — never a crash
    or a wrong dimension; one segment shallower must parse (the walk's
    guarantee boundary, pinned from both sides). Depths include the
    real-world 8+-segment EXIF/ICC-style prefaces (VERDICT r9 #3)."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        JPEG_WALK_STEPS,
        sniff_image_meta,
    )

    def jpeg_with_preface(n_pre: int, w: int, h: int) -> bytes:
        buf = b"\xff\xd8"
        for j in range(n_pre):
            ln = 2 + (j * 7) % 60  # varied lengths, incl. empty bodies
            buf += bytes([0xFF, 0xFE]) + struct.pack(">H", ln + 2)
            buf += bytes(ln)
        buf += b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        buf += struct.pack(">HH", h, w) + b"\x03" + bytes(9)
        return buf

    rows, want = [], {}
    # depths straddling the boundary: 8 (deep real-world preface),
    # STEPS-1 (last parseable), STEPS and STEPS+3 (exhausted)
    for i, n_pre in enumerate(
        [8, JPEG_WALK_STEPS - 1, JPEG_WALK_STEPS, JPEG_WALK_STEPS + 3]
    ):
        rows.append((i, jpeg_with_preface(n_pre, 100 + i, 200 + i)))
        if n_pre <= JPEG_WALK_STEPS - 1:
            want[i] = ("jpeg", 100 + i, 200 + i, True)
        else:
            want[i] = ("jpeg", None, None, False)
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (
            r["format"], r["width"], r["height"], r["dims_parsed"]
        )
        for r in sniff_image_meta(df).collect()
    }
    assert got == want


def test_sniff_image_meta_routes_overflow_dims_instead_of_crashing(spark):
    """A spec-legal top-down BMP stores biHeight as a NEGATIVE
    two's-complement le32 (reads as >= 2^31 unsigned) — under ANSI mode
    a plain int cast would crash the whole census job on one such
    payload; the sniffer must yield null dims for that row and keep
    every other row intact (code-review r9 finding, reproduced)."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        sniff_image_meta,
    )

    topdown_bmp = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
        + struct.pack("<Iii", 40, 800, -600)  # width 800, biHeight -600
        + struct.pack("<HH", 1, 24)
    )
    ok_gif = b"GIF89a" + struct.pack("<HH", 32, 16) + b"\x00"
    df = spark.createDataFrame(
        [(1, topdown_bmp), (2, ok_gif)], "doc_id long, blob binary"
    )
    got = {
        r["doc_id"]: (r["format"], r["width"], r["height"])
        for r in sniff_image_meta(df).collect()
    }
    assert got[1] == ("bmp", 800, None)
    assert got[2] == ("gif", 32, 16)


def test_sniff_container_meta_on_real_world_headers(spark):
    """The container sniffer must parse REAL spec-laid-out headers, not
    just the synthetic census fixture: a 44.1 kHz stereo PCM WAV with a
    JUNK preface chunk (the RIFF walk has to actually walk), all three
    WebP variants' dimension encodings, a well-formed MP4 (ftyp + free
    + moov + mdat), a TRUNCATED MP4 missing its mdat (structural flag
    must read 0, loudly parsed=false is wrong — d2=0 IS the signal),
    and an unknown payload."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        sniff_container_meta,
    )

    def wav(rate, ch, junk=0):
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate,
                                    rate * ch * 2, ch * 2, 16)
        data = b"data" + struct.pack("<I", 4) + b"\x00" * 4
        body = b"WAVE"
        if junk:
            # RIFF pads odd chunk bodies with one byte; the size field
            # records the UNPADDED length
            body += (
                b"JUNK" + struct.pack("<I", junk)
                + b"\x00" * (junk + junk % 2)
            )
        body += fmt + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def webp(chunk):
        body = b"WEBP" + chunk
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # VP8 lossy: frame tag + sync 9D012A + 14-bit le dims
    vp8 = b"VP8 " + struct.pack("<I", 10) + b"\x00\x00\x00\x9d\x01\x2a" \
        + struct.pack("<HH", 1920, 1080)
    # VP8L: 0x2F sig + (w-1) | (h-1)<<14 packed le32
    bits = (640 - 1) | ((480 - 1) << 14)
    vp8l = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    # VP8X: flags+reserved, then 24-bit le canvas dims minus one
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00" \
        + struct.pack("<I", 800 - 1)[:3] + struct.pack("<I", 600 - 1)[:3]

    def box(fourcc, body=b""):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    mp4_full = (
        box(b"ftyp", b"isom\x00\x00\x00\x00mp41")
        + box(b"free", b"\x00" * 6)
        + box(b"moov", b"\x00" * 8)
        + box(b"mdat", b"\x00" * 16)
    )
    mp4_truncated = (
        box(b"ftyp", b"isom\x00\x00\x00\x00")
        + box(b"moov", b"\x00" * 8)
    )

    # truncated VP8X: fourcc present but the canvas dims are cut off —
    # the lpad guard reads past-end bytes as 0, so WITHOUT a length
    # gate this parsed as a confidently-wrong 1x1 canvas with
    # parsed=true (code-review r10); it must surface as the loud
    # null-dims row instead
    vp8x_cut = b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"

    # spec corners of the ISO-BMFF size field (ISO 14496-12 §4.2):
    # size == 1 -> 64-bit largesize follows the fourcc (every > 4 GB
    # mdat in a real video corpus), size == 0 -> box extends to EOF
    body = b"\x00" * 16
    mdat_large = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(body))
        + body
    )
    mp4_largesize = (
        box(b"ftyp", b"isom\x00\x00\x00\x00")
        + box(b"moov", b"\x00" * 8)
        + mdat_large
    )
    mp4_to_eof = (
        box(b"ftyp", b"isom\x00\x00\x00\x00")
        + box(b"moov", b"\x00" * 8)
        + struct.pack(">I", 0) + b"mdat" + body  # size 0: to EOF
    )

    rows = [
        (1, wav(44100, 2, junk=12)),
        (2, webp(vp8)),
        (3, webp(vp8l)),
        (4, webp(vp8x)),
        (5, mp4_full),
        (6, mp4_truncated),
        (7, b"not a container at all"),
        (8, webp(vp8x_cut)),
        (9, mp4_largesize),
        (10, mp4_to_eof),
        # odd-size RIFF chunk: bodies pad to even, so the walk must
        # advance size + size%2 to land on 'fmt '
        (11, wav(22050, 1, junk=11)),
        # HOSTILE largesize: size == 1 with a >= 2^31 high dword — the
        # pre-clamp multiply by 2^32 overflowed long under ANSI and
        # killed the whole census job (ADVICE r10); the gated read must
        # clamp it to payload size, count the box, and end the walk
        (12, box(b"ftyp", b"isom\x00\x00\x00\x00")
             + box(b"moov", b"\x00" * 8)
             + struct.pack(">I", 1) + b"mdat"
             + struct.pack(">II", 0x80000000, 24) + b"\x00" * 16),
        # WAV truncated INSIDE its fmt chunk: the lpad guard reads
        # past-end bytes as 0, so without the body-fit gate this parsed
        # as a confidently-wrong rate=0/channels=0 with parsed=true
        # (ADVICE r10) — it must surface as the loud null row
        (13, b"RIFF" + struct.pack("<I", 14) + b"WAVEfmt "
             + struct.pack("<IHH", 16, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["container"], r["d1"], r["d2"], r["parsed"])
        for r in sniff_container_meta(df).collect()
    }
    assert got == {
        1: ("wav", 44100, 2, True),
        2: ("webp", 1920, 1080, True),
        3: ("webp", 640, 480, True),
        4: ("webp", 800, 600, True),
        5: ("mp4", 4, 1, True),
        6: ("mp4", 2, 0, True),
        7: ("unknown", None, None, False),
        8: ("webp", None, None, False),
        9: ("mp4", 3, 1, True),
        10: ("mp4", 3, 1, True),
        11: ("wav", 22050, 1, True),
        12: ("mp4", 3, 1, True),
        13: ("wav", None, None, False),
    }


def test_container_descent_on_real_world_headers(spark):
    """One level down (VERDICT r10 #5): the moov-child walk must read
    mvhd's timescale/duration (BOTH versions — v1 carries 64-bit times)
    and trak/tkhd's 16.16 canvas dims (both versions; the audio trak's
    zero dims must lose the cross-trak MAX to the video trak's), and
    the WAV path must turn the declared data size + fmt byte rate into
    a duration; every miss (opaque moov, 64-bit duration with a
    nonzero high dword) stays a loud NULL."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        sniff_container_meta,
    )

    def box(fourcc, body=b""):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)

    def mvhd(ts, dur, v=0):
        if v:
            body = (b"\x01\x00\x00\x00" + b"\x00" * 16
                    + struct.pack(">IQ", ts, dur))
        else:
            body = (b"\x00\x00\x00\x00" + b"\x00" * 8
                    + struct.pack(">II", ts, dur))
        body += (struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
                 + b"\x00" * 10 + matrix + b"\x00" * 24
                 + struct.pack(">I", 2))
        return box(b"mvhd", body)

    def tkhd(w, h, dur, v=0):
        if v:
            body = (b"\x01\x00\x00\x07" + b"\x00" * 16
                    + struct.pack(">II", 1, 0) + struct.pack(">Q", dur))
        else:
            body = (b"\x00\x00\x00\x07" + b"\x00" * 8
                    + struct.pack(">II", 1, 0) + struct.pack(">I", dur))
        body += (b"\x00" * 8 + b"\x00" * 8 + matrix
                 + struct.pack(">II", w << 16, h << 16))
        return box(b"tkhd", body)

    def mp4(children, mdat=b"\x00" * 16):
        return (box(b"ftyp", b"isom\x00\x00\x00\x00")
                + box(b"moov", children) + box(b"mdat", mdat))

    def wav(rate, ch, data_sz):
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate,
                                    rate * ch * 2, ch * 2, 16)
        body = b"WAVE" + fmt + b"data" + struct.pack("<I", data_sz) \
            + b"\x00" * data_sz
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rows = [
        # v0 everywhere: 90 s at timescale 600, 640x360 video trak
        (1, mp4(mvhd(600, 54000) + box(b"trak", tkhd(640, 360, 54000)))),
        # v1 mvhd + v1 tkhd; audio trak (0x0 dims) FIRST, video second —
        # the MAX across traks must pick the video dims
        (2, mp4(mvhd(90000, 123456, v=1)
                + box(b"trak", tkhd(0, 0, 123456, v=1))
                + box(b"trak", tkhd(1920, 800, 123456, v=1)))),
        # opaque legacy moov: no mvhd/tkhd in the children — loud NULLs
        (3, mp4(b"\x00" * 8)),
        # v1 mvhd whose 64-bit duration has a NONZERO high dword: the
        # no-multiply gate must leave duration (hence dur_us) NULL
        (4, mp4(mvhd(600, (1 << 32) + 5, v=1)
                + box(b"trak", tkhd(320, 240, 7, v=0)))),
        # WAV: 2 s of 8 kHz mono 16-bit = 32000 data bytes / 16000 Bps
        (5, wav(8000, 1, 32000)),
        # WAV with a data size that does NOT divide evenly: floor
        (6, wav(44100, 2, 100000)),  # 100000*1e6 // 176400 = 566893
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["dur_us"], r["v_w"], r["v_h"])
        for r in sniff_container_meta(df).collect()
    }
    assert got == {
        1: (90_000_000, 640, 360),
        2: (123456 * 1000000 // 90000, 1920, 800),
        3: (None, None, None),
        4: (None, 320, 240),
        5: (2_000_000, None, None),
        6: (100000 * 1000000 // 176400, None, None),
    }


def test_codec_descent_on_real_world_headers(spark):
    """Four levels below moov (VERDICT r11 #6): the codec descent must
    walk trak -> mdia -> minf -> stbl -> stsd on real spec bytes and
    decode the FIRST trak's leading sample-entry fourcc; every break in
    the chain — no mdia, zero sample entries, an undersized entry, a
    non-printable fourcc — stays a loud NULL, and registered fourccs
    with '-'/'.'/' ' (ac-3) decode."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        sniff_container_meta,
    )

    def box(fourcc, body=b""):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 600, 1200)
               + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
               + b"\x00" * 10 + matrix + b"\x00" * 24
               + struct.pack(">I", 2))
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 8
               + struct.pack(">III", 1, 0, 1200) + b"\x00" * 16 + matrix
               + struct.pack(">II", 640 << 16, 360 << 16))

    def stsd(fourcc, n_entries=1, entry_size=16):
        entry = struct.pack(">I", entry_size) + fourcc + b"\x00" * 8
        return box(b"stsd", b"\x00" * 4 + struct.pack(">I", n_entries)
                   + entry)

    def chain(codec_fourcc, head=b"vmhd", mid=b"", **stsd_kw):
        """mdia(mdhd hdlr minf(head [mid] stbl(stsd)))"""
        mdhd = box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 600, 0)
                   + b"\x55\xC4\x00\x00")
        hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 13)
        minf = box(b"minf", box(head, b"\x00" * 12)
                   + (box(b"dinf", b"\x00" * 8) if mid else b"")
                   + box(b"stbl", stsd(codec_fourcc, **stsd_kw)))
        return box(b"mdia", mdhd + hdlr + minf)

    def mp4(children):
        return (box(b"ftyp", b"isom\x00\x00\x00\x00")
                + box(b"moov", children) + box(b"mdat", b"\x00" * 8))

    rows = [
        # plain video chain
        (1, mp4(mvhd + box(b"trak", tkhd + chain(b"avc1")))),
        # edts between tkhd and mdia (real muxers); dinf inside minf
        (2, mp4(mvhd + box(b"trak", tkhd + box(b"edts", b"\x00" * 4)
                           + chain(b"hvc1", mid=b"dinf")))),
        # audio chain: smhd media header, dashed fourcc
        (3, mp4(mvhd + box(b"trak", tkhd + chain(b"ac-3", head=b"smhd")))),
        # FIRST trak wins: audio (mp4a) first, video (avc1) second
        (4, mp4(mvhd + box(b"trak", tkhd + chain(b"mp4a", head=b"smhd"))
                + box(b"trak", tkhd + chain(b"avc1")))),
        # tkhd-only trak (the r11 fixture shape): loud NULL codec
        (5, mp4(mvhd + box(b"trak", tkhd))),
        # zero sample entries declared
        (6, mp4(mvhd + box(b"trak", tkhd + chain(b"avc1", n_entries=0)))),
        # undersized first entry (< 16-byte sample-entry header)
        (7, mp4(mvhd + box(b"trak", tkhd + chain(b"avc1", entry_size=8)))),
        # non-printable fourcc bytes: gated, not mojibake
        (8, mp4(mvhd + box(b"trak", tkhd + chain(b"\x01\x02\x03\x04")))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r["codec"] for r in sniff_container_meta(df).collect()}
    assert got == {
        1: "avc1", 2: "hvc1", 3: "ac-3", 4: "mp4a",
        5: None, 6: None, 7: None, 8: None,
    }
    # the gated misses must not disturb the r11 columns
    dims = {
        r["doc_id"]: (r["dur_us"], r["v_w"], r["v_h"], r["d2"])
        for r in sniff_container_meta(df).collect()
    }
    assert all(v == (2_000_000, 640, 360, 1) for v in dims.values()), dims


def test_trak_walk_depth_boundary_and_override(spark):
    """The trak-child walk depth is pinned from both sides like the
    moov walk (VERDICT r10 #8 discipline): mdia at child index
    TRAK_WALK_STEPS - 1 parses a codec, one past it stays loud-NULL,
    and trak_steps is a real knob that recovers the deeper layout.
    The deeper mdia/minf/stbl walks ride the same _box_child_walk
    machinery, so one boundary pin covers the class."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        TRAK_WALK_STEPS,
        sniff_container_meta,
    )

    def box(fourcc, body=b""):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 600, 1200)
               + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
               + b"\x00" * 10 + matrix + b"\x00" * 24
               + struct.pack(">I", 2))
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 8
               + struct.pack(">III", 1, 0, 1200) + b"\x00" * 16 + matrix
               + struct.pack(">II", 320 << 16, 240 << 16))
    mdhd = box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 600, 0)
               + b"\x55\xC4\x00\x00")
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 13)
    entry = struct.pack(">I", 16) + b"avc1" + b"\x00" * 8
    stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    mdia = box(b"mdia", mdhd + hdlr
               + box(b"minf", box(b"vmhd", b"\x00" * 12)
                     + box(b"stbl", stsd)))

    def mp4(n_fillers):
        trak = box(b"trak", tkhd
                   + box(b"edts", b"\x00" * 4) * n_fillers + mdia)
        return (box(b"ftyp", b"isom\x00\x00\x00\x00")
                + box(b"moov", mvhd + trak) + box(b"mdat", b"\x00" * 8))

    at_edge = mp4(TRAK_WALK_STEPS - 2)   # mdia at index TRAK_WALK_STEPS-1
    past_edge = mp4(TRAK_WALK_STEPS - 1)  # one past: loud NULL
    df = spark.createDataFrame(
        [(1, at_edge), (2, past_edge)], "doc_id long, blob binary"
    )
    got = {r["doc_id"]: r["codec"] for r in sniff_container_meta(df).collect()}
    assert got == {1: "avc1", 2: None}
    deeper = {
        r["doc_id"]: r["codec"]
        for r in sniff_container_meta(
            df, trak_steps=TRAK_WALK_STEPS + 1
        ).collect()
    }
    assert deeper == {1: "avc1", 2: "avc1"}


def test_moov_walk_depth_boundary_and_override(spark):
    """Constants audit (VERDICT r10 #8): the moov-child walk depth is
    pinned from BOTH sides — a trak at child index MOOV_WALK_STEPS - 1
    parses dims, one past it stays loud-NULL — and the depth is a real
    parameter: re-sniffing the too-deep layout with moov_steps + 1
    parses it, so a future corpus with deeper moovs has a knob, not a
    code change."""
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        MOOV_WALK_STEPS,
        sniff_container_meta,
    )

    def box(fourcc, body=b""):
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 600, 1200)
               + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
               + b"\x00" * 10 + matrix + b"\x00" * 24
               + struct.pack(">I", 2))
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 8
               + struct.pack(">III", 1, 0, 1200) + b"\x00" * 16 + matrix
               + struct.pack(">II", 640 << 16, 480 << 16))
    trak = box(b"trak", tkhd)

    def mp4(n_fillers):
        children = mvhd + box(b"udta", b"\x00" * 4) * n_fillers + trak
        return (box(b"ftyp", b"isom\x00\x00\x00\x00")
                + box(b"moov", children) + box(b"mdat", b"\x00" * 8))

    # trak at child index MOOV_WALK_STEPS - 1: the LAST in-walk slot
    at_edge = mp4(MOOV_WALK_STEPS - 2)
    # one filler more pushes trak one past the walk: loud NULL dims
    past_edge = mp4(MOOV_WALK_STEPS - 1)
    df = spark.createDataFrame(
        [(1, at_edge), (2, past_edge)], "doc_id long, blob binary"
    )
    got = {
        r["doc_id"]: (r["dur_us"], r["v_w"], r["v_h"])
        for r in sniff_container_meta(df).collect()
    }
    assert got == {1: (2_000_000, 640, 480), 2: (2_000_000, None, None)}

    deeper = {
        r["doc_id"]: (r["v_w"], r["v_h"])
        for r in sniff_container_meta(
            df, moov_steps=MOOV_WALK_STEPS + 1
        ).collect()
    }
    assert deeper == {1: (640, 480), 2: (640, 480)}


def test_container_walks_handle_random_layouts(spark):
    """Seeded fuzz for the container walks (the JPEG-walk fuzz
    discipline): random RIFF preface chunks (odd and even bodies,
    arbitrary fourccs) before 'fmt ' — with the 'data' chunk landing
    in- or out-of-walk so BOTH duration regimes attest — and random
    ISO-BMFF top-level boxes (free/skip/uuid types, compact and 64-bit
    largesize forms) around moov/mdat, where moov randomly carries real
    mvhd + trak/tkhd children (random versions, random timescale/
    duration/dims) or a legacy opaque body (loud NULL descent) — built
    as real spec bytes, never via the synth fixture. Since r12 the
    fuzz traks randomly grow a full codec chain (random fourcc incl.
    dashed/space forms, optional edts and dinf detours) or stay
    tkhd-only (loud NULL codec)."""
    import random
    import struct

    from dns_log_transformer_spark.operators.multimodal import (
        MP4_WALK_STEPS,
        WAV_WALK_STEPS,
        sniff_container_meta,
    )

    rng = random.Random(0xCAFE)
    rows, want = [], {}
    doc = 0
    # --- WAV: up to WAV_WALK_STEPS-1 preface chunks, odd sizes included
    for _ in range(60):
        n_pre = rng.randrange(0, WAV_WALK_STEPS)
        rate = rng.randrange(8000, 192001)
        ch = rng.randrange(1, 9)
        data_sz = rng.randrange(0, 1 << 20)  # declared, body stays tiny
        body = b"WAVE"
        for _ in range(n_pre):
            ln = rng.randrange(0, 41)  # odd sizes exercise the pad rule
            fourcc = rng.choice([b"JUNK", b"LIST", b"bext", b"PAD "])
            body += fourcc + struct.pack("<I", ln)
            body += bytes(rng.randrange(256) for _ in range(ln + ln % 2))
        body += b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16
        )
        body += b"data" + struct.pack("<I", data_sz) + b"\x00" * 4
        rows.append((doc, b"RIFF" + struct.pack("<I", len(body)) + body))
        # fmt sits at walk step n_pre, data one step later: the
        # duration is read iff data is still inside the walk
        dur = (
            data_sz * 1000000 // (rate * ch * 2)
            if n_pre + 1 < WAV_WALK_STEPS else None
        )
        want[doc] = ("wav", rate, ch, True, dur, None, None, None)
        doc += 1

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)

    def box(fourcc, payload=b""):
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    def mvhd(ts, dur, v):
        head = (
            b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(">IQ", ts, dur)
            if v else
            b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(">II", ts, dur)
        )
        return box(b"mvhd", head + struct.pack(">I", 0x10000)
                   + struct.pack(">H", 0x100) + b"\x00" * 10 + matrix
                   + b"\x00" * 24 + struct.pack(">I", 2))

    def tkhd(w, h, dur, v):
        head = (
            b"\x01\x00\x00\x07" + b"\x00" * 16
            + struct.pack(">IIQ", 1, 0, dur)
            if v else
            b"\x00\x00\x00\x07" + b"\x00" * 8
            + struct.pack(">III", 1, 0, dur)
        )
        return box(b"tkhd", head + b"\x00" * 16 + matrix
                   + struct.pack(">II", w << 16, h << 16))

    # --- MP4: random box runs; moov+mdat present iff placed in-walk
    for _ in range(60):
        n_mid = rng.randrange(0, MP4_WALK_STEPS - 3)
        buf = struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00"
        n_boxes = 1
        for _ in range(n_mid):
            ln = rng.randrange(0, 33)
            fourcc = rng.choice([b"free", b"skip", b"uuid", b"meta"])
            if rng.random() < 0.3:  # 64-bit largesize form
                buf += (
                    struct.pack(">I", 1) + fourcc
                    + struct.pack(">Q", 16 + ln) + bytes(ln)
                )
            else:
                buf += struct.pack(">I", 8 + ln) + fourcc + bytes(ln)
            n_boxes += 1
        if rng.random() < 0.7:  # real moov children
            ts = rng.randrange(1, 1 << 20)
            mdur = rng.randrange(0, 1 << 31)
            w, h = rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16)
            trak_body = tkhd(w, h, mdur, rng.random() < 0.5)
            codec = None
            if rng.random() < 0.6:  # r12 codec chain, random shape
                fourcc = rng.choice(
                    [b"avc1", b"hvc1", b"mp4a", b"av01", b"ac-3", b"raw "]
                )
                if rng.random() < 0.4:  # edts between tkhd and mdia
                    trak_body += box(b"edts", bytes(rng.randrange(0, 17)))
                mdhd = box(b"mdhd", b"\x00" * 12
                           + struct.pack(">II", ts, 0) + b"\x55\xC4\x00\x00")
                hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 13)
                entry = struct.pack(">I", 16) + fourcc + b"\x00" * 8
                stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1)
                           + entry)
                minf_body = box(rng.choice([b"vmhd", b"smhd"]),
                                b"\x00" * 12)
                if rng.random() < 0.4:  # dinf between vmhd/smhd and stbl
                    minf_body += box(b"dinf", bytes(rng.randrange(0, 17)))
                minf_body += box(b"stbl", stsd)
                trak_body += box(b"mdia", mdhd + hdlr + box(b"minf",
                                                            minf_body))
                codec = fourcc.decode()
            children = (mvhd(ts, mdur, rng.random() < 0.5)
                        + box(b"trak", trak_body))
            dvals = (mdur * 1000000 // ts, w, h, codec)
        else:  # legacy opaque moov: descent stays NULL
            children = b"\x00" * 8
            dvals = (None, None, None, None)
        buf += box(b"moov", children)
        if rng.random() < 0.5:  # mdat as a to-EOF box half the time
            buf += struct.pack(">I", 0) + b"mdat" + bytes(8)
        else:
            buf += struct.pack(">I", 16) + b"mdat" + b"\x00" * 8
        n_boxes += 2
        rows.append((doc, buf))
        want[doc] = ("mp4", n_boxes, 1, True) + dvals
        doc += 1
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["container"], r["d1"], r["d2"], r["parsed"],
                      r["dur_us"], r["v_w"], r["v_h"], r["codec"])
        for r in sniff_container_meta(df).collect()
    }
    assert got == want


def test_hex_readers_match_struct_semantics(spark):
    """The one-conv readers (byte/be16/be32/le16/le32) must be
    bit-equal to Python int.from_bytes over random payloads at random
    positions INCLUDING reads that run past the payload end, where the
    contract is zero-fill at the TAIL (a missing trailing byte reads as
    0) — the lpad-guard semantics every walk clamp and truncation test
    was built on. Guards the reader-rewrite class: a future 'faster
    read' that flips to head-fill would corrupt every truncation
    regime at once."""
    import random

    from pyspark.sql import functions as F

    from dns_log_transformer_spark.operators.multimodal import (
        _sx_be16,
        _sx_be32,
        _sx_byte,
        _sx_le16,
        _sx_le32,
    )

    rng = random.Random(0x5EED)
    rows = []
    for i in range(40):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 24)))
        pos = rng.randrange(1, 28)  # 1-indexed, may run past the end
        rows.append((i, blob, pos))

    def py_read(blob, pos, n, order):
        # tail-zero-fill: take what exists from pos, pad with zeros
        chunk = blob[pos - 1 : pos - 1 + n]
        chunk = chunk + b"\x00" * (n - len(chunk))
        return int.from_bytes(chunk, order)

    df = spark.createDataFrame(rows, "i long, blob binary, pos int").select(
        "i", "pos", F.hex("blob").alias("_hx")
    )
    got = {
        r["i"]: (r["b8"], r["b16"], r["b32"], r["l16"], r["l32"])
        for r in df.select(
            "i",
            F.expr(_sx_byte("pos")).alias("b8"),
            F.expr(_sx_be16("pos")).alias("b16"),
            F.expr(_sx_be32("pos")).alias("b32"),
            F.expr(_sx_le16("pos")).alias("l16"),
            F.expr(_sx_le32("pos")).alias("l32"),
        ).collect()
    }
    for i, blob, pos in rows:
        want = (
            py_read(blob, pos, 1, "big"),
            py_read(blob, pos, 2, "big"),
            py_read(blob, pos, 4, "big"),
            py_read(blob, pos, 2, "little"),
            py_read(blob, pos, 4, "little"),
        )
        assert got[i] == want, (i, blob.hex(), pos, got[i], want)


def test_hex_writers_match_to_bytes(spark):
    """Every fixture payload is assembled by the _shex* writers, so a
    writer that truncates or swaps bytes would corrupt the fixtures
    both sniffers parse. For random values inside each field's width,
    including both ends of the range, each writer must equal Python
    ``v.to_bytes(n, order).hex().upper()``."""
    import random

    from pyspark.sql import functions as F

    from dns_log_transformer_spark.operators.multimodal import (
        _shex2,
        _shex_be16,
        _shex_be32,
        _shex_le16,
        _shex_le24,
        _shex_le32,
    )

    writers = {
        "h2": (_shex2, 1, "big"),
        "b16": (_shex_be16, 2, "big"),
        "b32": (_shex_be32, 4, "big"),
        "l16": (_shex_le16, 2, "little"),
        "l24": (_shex_le24, 3, "little"),
        "l32": (_shex_le32, 4, "little"),
    }
    rng = random.Random(0x5EED)
    rows = []
    for name, (_, n, _) in writers.items():
        top = 256**n - 1
        for v in [0, 1, top] + [rng.randrange(top + 1) for _ in range(30)]:
            rows.append((name, v))
    df = spark.createDataFrame(rows, "w string, v long")
    got = df.select(
        "w",
        "v",
        *[F.expr(fn("v")).alias(name) for name, (fn, _, _) in writers.items()],
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        _, n, order = writers[r["w"]]
        want = r["v"].to_bytes(n, order).hex().upper()
        assert r[r["w"]] == want, (r["w"], r["v"], r[r["w"]], want)
