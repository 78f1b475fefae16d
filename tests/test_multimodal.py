"""WAV codec seam tests (pipeline.multimodal): real RIFF parsing over the
mapInPandas plumbing — chunk-walk robustness and loud failure on garbage."""

from __future__ import annotations

import struct

import pytest

from talna_spark.pipeline.multimodal import wav_decode_payloads


def _wav(ch: int, sr: int, pcm: bytes, extra_chunk: bytes = b"") -> bytes:
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(extra_chunk) + len(pcm))
        + b"WAVE"
        + extra_chunk
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def _media_df(spark, payloads):
    return spark.createDataFrame(
        [(i, "audio/wav", p) for i, p in enumerate(payloads)],
        "doc_id long, media_type string, payload binary",
    )


def test_wav_decode_round_trip(spark):
    # 2 channels, 3 frames: samples 100, -100, 200, -200, 300, -300
    pcm = struct.pack("<6h", 100, -100, 200, -200, 300, -300)
    df = wav_decode_payloads(_media_df(spark, [_wav(2, 16000, pcm)]))
    r = df.collect()[0]
    assert (r["n_channels"], r["sample_rate"], r["bits"]) == (2, 16000, 16)
    assert r["n_frames"] == 3
    assert r["duration_s"] == 0.000188  # 3/16000 rounded to 6 dp
    assert r["mean_amp"] == 0.0


def test_wav_decode_skips_unknown_chunks_word_aligned(spark):
    # an odd-sized LIST chunk before fmt: the walk must skip it including
    # the RIFF word-alignment pad byte
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    pcm = struct.pack("<2h", 1000, 3000)
    df = wav_decode_payloads(_media_df(spark, [_wav(1, 8000, pcm, junk)]))
    r = df.collect()[0]
    assert r["n_frames"] == 2
    assert r["mean_amp"] == 2000.0


def test_wav_decode_rejects_garbage(spark):
    df = wav_decode_payloads(_media_df(spark, [b"\x00\x01\x02 not a wav"]))
    with pytest.raises(Exception, match="RIFF"):
        df.collect()


def test_bmp_decode_round_trip(spark):
    # decoded fields must equal the DuckDB twin's independent arithmetic
    # (doc_id -> expected stats, no BMP parsing in SQL): the writer's
    # bottom-up padded layout and the parser's undoing of it cross-check
    import duckdb

    from talna_spark.pipeline.multimodal import bmp_decode, bmp_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, bmp_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(map(tuple, con.sql(bmp_decode_sql()).fetchall()))
    con.close()
    assert len(got) == len(want) > 0
    assert got == want


def test_bmp_decode_handles_top_down_rows(spark):
    # negative height = top-down storage (valid BMP variant): the
    # order-sensitive checksum must come out identical either way
    import struct

    from pyspark.sql import functions as F

    from talna_spark.pipeline.multimodal import bmp_decode_payloads

    w, h = 3, 2
    row_raw, pad = 3 * w, (-(3 * w)) % 4
    logical = bytes((11 * i) % 256 for i in range(row_raw * h))

    def blob(top_down: bool) -> bytes:
        ys = range(h) if top_down else range(h - 1, -1, -1)
        px = b"".join(
            logical[y * row_raw : (y + 1) * row_raw] + b"\x00" * pad for y in ys
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
            len(px), 2835, 2835, 0, 0,
        )
        return struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54) + info + px

    media = spark.createDataFrame(
        [(1, "image/bmp", blob(False)), (2, "image/bmp", blob(True))],
        "doc_id long, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in bmp_decode_payloads(media).collect()}
    assert rows[1]["checksum"] == rows[2]["checksum"]
    assert rows[1]["mean_px"] == rows[2]["mean_px"]
    assert rows[1]["width"] == rows[2]["width"] == w


def test_bmp_decode_rejects_garbage(spark):
    import pytest as _pytest

    from talna_spark.pipeline.multimodal import bmp_decode_payloads

    media = spark.createDataFrame(
        [(1, "image/bmp", b"NOTABMP_________" * 8)],
        "doc_id long, media_type string, payload binary",
    )
    with _pytest.raises(Exception, match="BMP"):
        bmp_decode_payloads(media).collect()


def test_png_decode_round_trip(spark):
    # decoded fields must equal the DuckDB twin's independent arithmetic
    # (doc_id -> expected stats, no PNG parsing in SQL): the writer's
    # filter application + deflate and the decoder's inflate + unfilter
    # cross-check byte-for-byte via the order-sensitive checksum
    import duckdb

    from talna_spark.pipeline.multimodal import png_decode, png_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, png_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(map(tuple, con.sql(png_decode_sql()).fetchall()))
    con.close()
    assert len(got) == len(want) > 0
    assert got == want


def test_png_corpus_exercises_every_filter_type(spark):
    # the writer cycles filter (doc_id + y) % 5; the sf0.001 corpus must
    # hit all five so the round-trip test above actually covers them
    import zlib

    rows = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id").limit(20).collect()
    )
    seen = set()
    for r in rows:
        did = int(r["doc_id"])
        h = 2 + did % 5
        seen |= {(did + y) % 5 for y in range(h)}
    assert seen == {0, 1, 2, 3, 4}


def test_png_decode_rejects_bad_crc_and_garbage(spark):
    import struct
    import zlib

    import pandas as pd
    import pytest
    from pyspark.errors.exceptions.base import PythonException

    from talna_spark.pipeline.multimodal import png_decode_payloads

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"\x00\x01\x02\x03")
    good = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    # flip one IDAT payload byte WITHOUT fixing the CRC
    bad = bytearray(good)
    bad[8 + 12 + 13 + 8 + 2] ^= 0xFF
    for blob, msg in [(bytes(bad), "CRC"), (b"JFIF not a png", "not a PNG")]:
        media = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "media_type": ["image/png"], "payload": [blob]})
        )
        with pytest.raises(PythonException, match=msg):
            png_decode_payloads(media).collect()


# ------------------------------------------------------------------ JPEG
def _jpeg_coeff_blob(blocks, w, h):
    """Coefficient-level baseline grayscale JPEG writer: encodes the
    given per-block zigzag coefficient lists EXACTLY (standard tables,
    canonical huffman, DC prediction, run-length AC with ZRL/EOB, byte
    stuffing) — an independent implementation used to drive the
    decoder's AC path with known coefficients."""
    import struct

    from talna_spark.pipeline.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QT,
        _JPEG_ZZ,
    )

    def canonical(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_codes = canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    acc, nacc, out = 0, 0, bytearray()

    def emit(code, ln):
        nonlocal acc, nacc
        acc = (acc << ln) | (code & ((1 << ln) - 1))
        nacc += ln
        while nacc >= 8:
            nacc -= 8
            byte = (acc >> nacc) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)

    def emit_val(v, s):
        emit(v if v >= 0 else v + (1 << s) - 1, s)

    prev = 0
    for zzc in blocks:
        diff = zzc[0] - prev
        prev = zzc[0]
        s = abs(diff).bit_length()
        emit(*dc_codes[s])
        emit_val(diff, s)
        k, run = 1, 0
        while k < 64:
            if zzc[k] == 0:
                run += 1
            else:
                while run > 15:
                    emit(*ac_codes[0xF0])  # ZRL
                    run -= 16
                s = abs(zzc[k]).bit_length()
                emit(*ac_codes[(run << 4) | s])
                emit_val(zzc[k], s)
                run = 0
            k += 1
        if run:
            emit(*ac_codes[0x00])  # EOB
    if nacc:
        emit((1 << (8 - nacc)) - 1, 8 - nacc)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    qt_zz = bytes(_JPEG_QT[_JPEG_ZZ[i]] for i in range(64))
    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
        + seg(0xDB, b"\x00" + qt_zz)
        + seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00")
        + seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + bytes(out)
        + b"\xff\xd9"
    )


def _naive_idct_pixels(blocks, w, h):
    """Independent reference: per-block dequant + double-loop cosine IDCT
    in pure Python floats, then the decoder's pixel rule
    clip(floor(x + 128.5), 0, 255)."""
    import math

    from talna_spark.pipeline.multimodal import _JPEG_QT, _JPEG_ZZ

    def c(u):
        return 1 / math.sqrt(2) if u == 0 else 1.0

    img = [[0] * w for _ in range(h)]
    nbx = w // 8
    for bi, zzc in enumerate(blocks):
        deq = [0.0] * 64
        for i in range(64):
            deq[_JPEG_ZZ[i]] = zzc[i] * _JPEG_QT[_JPEG_ZZ[i]]
        by, bx = bi // nbx, bi % nbx
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        s += (
                            c(u) * c(v) / 4 * deq[u * 8 + v]
                            * math.cos((2 * y + 1) * u * math.pi / 16)
                            * math.cos((2 * x + 1) * v * math.pi / 16)
                        )
                px = min(255, max(0, math.floor(s + 128.5)))
                img[8 * by + y][8 * bx + x] = px
    return img


def test_jpeg_decode_round_trip(spark):
    """Spark decode over synthesized baseline JPEGs == the closed-form
    DuckDB oracle, every field (incl. the order-sensitive checksum)."""
    import duckdb

    from talna_spark.pipeline.multimodal import jpeg_decode, jpeg_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, jpeg_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.sql(jpeg_decode_sql()).fetchall()))
    assert got == want


def test_jpeg_ac_coefficients_and_zigzag(spark):
    """The AC path — run-length decode, ZRL, zigzag placement, full
    IDCT — against an independent coefficient-level encoder and a naive
    double-loop IDCT. Coefficients exercise: long zero runs (>16, needs
    ZRL), negative values, the last zigzag slot (no EOB), and multiple
    blocks with DC prediction across them."""
    from talna_spark.pipeline.multimodal import jpeg_decode_payloads

    b1 = [0] * 64
    b1[0], b1[1], b1[5] = -26, -3, 7  # DC + two low-frequency ACs
    b2 = [0] * 64
    b2[0], b2[30], b2[63] = 15, -2, 1  # ZRL runs + final slot, no EOB
    b3 = [0] * 64
    b3[0] = -80  # flat block after non-flat ones (DC prediction)
    blocks, w, h = [b1, b2, b3], 24, 8

    blob = _jpeg_coeff_blob(blocks, w, h)
    media = spark.createDataFrame(
        [(7, "image/jpeg", blob)],
        "doc_id long, media_type string, payload binary",
    )
    row = jpeg_decode_payloads(media).collect()[0]
    img = _naive_idct_pixels(blocks, w, h)
    flat = [px for line in img for px in line]
    assert (row["width"], row["height"], row["n_pixels"]) == (w, h, w * h)
    assert row["checksum"] == sum(px * (i + 1) for i, px in enumerate(flat))
    assert row["mean_px"] == pytest.approx(
        round(sum(flat) / len(flat), 6), abs=1e-9
    )


def test_jpeg_decode_rejects_garbage_and_progressive(spark):
    from talna_spark.pipeline.multimodal import jpeg_decode_payloads

    media = spark.createDataFrame(
        [(1, "image/jpeg", b"NOTAJPEG" * 16)],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="JPEG|SOI"):
        jpeg_decode_payloads(media).collect()

    # progressive (SOF2) must be rejected loudly, not mis-decoded
    blob = bytearray(_jpeg_coeff_blob([[0] * 64], 8, 8))
    idx = bytes(blob).find(b"\xff\xc0")
    blob[idx + 1] = 0xC2
    media2 = spark.createDataFrame(
        [(2, "image/jpeg", bytes(blob))],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="baseline"):
        jpeg_decode_payloads(media2).collect()


# ------------------------------------------------------------------- AVI
def test_avi_decode_round_trip(spark):
    import duckdb

    from talna_spark.pipeline.multimodal import avi_decode, avi_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, avi_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.sql(avi_decode_sql()).fetchall()))
    assert got == want


def test_avi_sampling_stride(spark):
    """sample_every=1 must decode ALL frames; the corpus includes frame
    counts that are odd and even, so stride arithmetic is exercised on
    both parities."""
    from talna_spark.pipeline.multimodal import (
        avi_decode_payloads,
        avi_media_table,
    )

    sf = "/root/testdata/sf0.001"
    media = avi_media_table(spark, sf).limit(20)
    all_frames = {
        r["doc_id"]: r
        for r in avi_decode_payloads(media, sample_every=1).collect()
    }
    strided = {
        r["doc_id"]: r
        for r in avi_decode_payloads(media, sample_every=2).collect()
    }
    assert {r["n_frames"] % 2 for r in all_frames.values()} == {0, 1}
    for did, r in all_frames.items():
        assert r["n_sampled"] == r["n_frames"]
        assert strided[did]["n_sampled"] == (r["n_frames"] - 1) // 2 + 1
        # frame 0 contributes to both decodes identically; a full decode
        # of MORE frames must differ in checksum whenever an odd frame
        # has nonzero content (always true for this corpus)
        assert r["checksum"] != strided[did]["checksum"]


def test_avi_decode_rejects_garbage_and_mismatch(spark):
    import struct

    from talna_spark.pipeline.multimodal import (
        avi_decode_payloads,
        avi_media_table,
    )

    media = spark.createDataFrame(
        [(1, "video/avi", b"RIFFxxxxNOPE" + b"\x00" * 64)],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="AVI"):
        avi_decode_payloads(media).collect()

    # corrupt a real payload: lie about the frame count in avih
    blob = bytearray(
        avi_media_table(spark, "/root/testdata/sf0.001").limit(1).collect()[0][
            "payload"
        ]
    )
    idx = bytes(blob).find(b"avih") + 8 + 16  # dwTotalFrames offset
    blob[idx : idx + 4] = struct.pack("<I", 99)
    media2 = spark.createDataFrame(
        [(2, "video/avi", bytes(blob))],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="frame count mismatch"):
        avi_decode_payloads(media2).collect()


# ------------------------------------------------------------------- PDF
def test_pdf_extract_round_trip(spark):
    """Full corpus round trip vs the DuckDB twin: structure counts by
    writer arithmetic, text length + 48-bit md5 prefix recomputed from
    the ORIGINAL text — extraction must reproduce it bit-exactly."""
    import duckdb

    from talna_spark.pipeline.multimodal import pdf_extract, pdf_extract_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, pdf_extract(spark, sf).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(map(tuple, con.sql(pdf_extract_sql()).fetchall()))
    con.close()
    assert len(got) == len(want) > 0
    assert got == want
    # both stream paths must be present in the corpus
    compressed = {r[5] for r in got}
    assert compressed == {0, 1}


def test_pdf_escapes_unicode_and_tj(spark):
    """Writer+parser handle delimiter escapes, octal-escaped utf-8
    bytes, newlines/tabs, the empty text, and texts long enough to
    exercise the TJ array path (every 3rd line)."""
    import hashlib

    from talna_spark.pipeline.multimodal import (
        make_pdf, pdf_extract_payloads,
    )

    texts = [
        "a(b)c\\d (nested (parens)) end",
        "héllo wörld 中文 text",
        "line1\nline2\ttabbed\r",
        "",
        "x" * 200,  # 5 chunks -> one TJ array line
    ]
    media = spark.createDataFrame(
        [
            (i, "application/pdf", make_pdf(t, i % 2 == 0))
            for i, t in enumerate(texts)
        ],
        "doc_id long, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in pdf_extract_payloads(media).collect()}
    for i, t in enumerate(texts):
        h48 = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:12], 16)
        assert rows[i]["text_len"] == len(t), t
        assert rows[i]["text_hash"] == h48, t
        nch = (len(t) + 47) // 48
        assert rows[i]["n_literals"] == nch + nch // 3
        assert rows[i]["n_pages"] == 1
        assert rows[i]["n_objects"] == 5


def test_pdf_rejects_garbage_and_bad_offsets(spark):
    import pytest as _pytest

    from talna_spark.pipeline.multimodal import (
        make_pdf, pdf_extract_payloads,
    )

    def df(payload):
        return spark.createDataFrame(
            [(0, "application/pdf", payload)],
            "doc_id long, media_type string, payload binary",
        )

    with _pytest.raises(Exception, match="PDF|pdf"):
        pdf_extract_payloads(df(b"not a pdf at all")).collect()

    # corrupt the startxref pointer: navigation must fail loudly, not
    # silently mis-parse
    good = make_pdf("hello world", True)
    sx = good.rfind(b"startxref")
    bad = good[: sx + 10] + b"7\n%%EOF\n"
    with _pytest.raises(Exception, match="xref"):
        pdf_extract_payloads(df(bad)).collect()


def test_pdf_show_operator_without_operand_fails_loudly(spark):
    """A content stream whose show operator has no fresh operand (legal-
    looking output from a non-make_pdf producer) must raise, never
    silently replay the previous string."""
    import zlib

    import pytest as _pytest

    from talna_spark.pipeline.multimodal import make_pdf, pdf_extract_payloads

    def with_stream(content: bytes) -> bytes:
        # splice a custom raw content stream into an otherwise-valid PDF
        good = make_pdf("seed", False)
        old = b"BT /F1 12 Tf 72 720 Td\n(seed) Tj\n0 -14 Td\nET"
        assert old in good
        blob = good.replace(old, content)
        # fix /Length and xref offsets by rebuilding the tail: easiest is
        # byte-size-preserving padding — instead just require same length
        return blob if len(blob) == len(good) else None

    # same-length malicious streams (pad with spaces to preserve offsets)
    bad1 = b"(a) Tj Tj"  # second Tj replays 'a'
    bad1 = bad1 + b" " * (len(b"BT /F1 12 Tf 72 720 Td\n(seed) Tj\n0 -14 Td\nET") - len(bad1))
    blob1 = with_stream(bad1)
    assert blob1 is not None
    df = spark.createDataFrame(
        [(0, "application/pdf", blob1)],
        "doc_id long, media_type string, payload binary",
    )
    with _pytest.raises(Exception, match="without operand"):
        pdf_extract_payloads(df).collect()

    bad2 = b"[(x)] TJ TJ"  # second TJ replays the array
    bad2 = bad2 + b" " * (len(b"BT /F1 12 Tf 72 720 Td\n(seed) Tj\n0 -14 Td\nET") - len(bad2))
    blob2 = with_stream(bad2)
    df2 = spark.createDataFrame(
        [(0, "application/pdf", blob2)],
        "doc_id long, media_type string, payload binary",
    )
    with _pytest.raises(Exception, match="TJ without array"):
        pdf_extract_payloads(df2).collect()


# ------------------------------------------------------------- MJPEG-AVI
def test_mjpeg_decode_round_trip(spark):
    """r6 entropy-coded video leg: huffman-coded JFIF frames inside the
    AVI container, every-2nd-frame stride, vs the flat-block closed-form
    oracle — container walk, frame sampling, entropy decode and IDCT
    must all be exact."""
    import duckdb

    from talna_spark.pipeline.multimodal import mjpeg_decode, mjpeg_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, mjpeg_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.sql(mjpeg_decode_sql()).fetchall()))
    assert got == want


def test_mjpeg_sampling_stride_and_frame_variation(spark):
    """Frames differ (the f*37 term), so a full decode must differ from
    the strided one in checksum; stride arithmetic covers odd and even
    frame counts."""
    from talna_spark.pipeline.multimodal import (
        mjpeg_decode_payloads,
        mjpeg_media_table,
    )

    sf = "/root/testdata/sf0.001"
    media = mjpeg_media_table(spark, sf).limit(20)
    all_frames = {
        r["doc_id"]: r
        for r in mjpeg_decode_payloads(media, sample_every=1).collect()
    }
    strided = {
        r["doc_id"]: r
        for r in mjpeg_decode_payloads(media, sample_every=2).collect()
    }
    assert {r["n_frames"] % 2 for r in all_frames.values()} == {0, 1}
    for did, r in all_frames.items():
        assert r["n_sampled"] == r["n_frames"]
        assert strided[did]["n_sampled"] == (r["n_frames"] - 1) // 2 + 1
        assert r["checksum"] != strided[did]["checksum"]


def test_mjpeg_rejects_uncompressed_avi_and_garbage(spark):
    """The MJPEG decoder must refuse a DIB (uncompressed) AVI loudly —
    and vice versa the DIB decoder already rejects MJPG via its bpp
    check path; cross-feeding payloads between the two legs is the
    classic silent-garbage risk."""
    from talna_spark.pipeline.multimodal import (
        avi_media_table,
        mjpeg_decode_payloads,
        mjpeg_media_table,
        avi_decode_payloads,
    )

    sf = "/root/testdata/sf0.001"
    dib = avi_media_table(spark, sf).limit(1)
    with pytest.raises(Exception, match="MJPEG"):
        mjpeg_decode_payloads(dib).collect()
    mj = mjpeg_media_table(spark, sf).limit(1)
    with pytest.raises(Exception, match="24-bit|MJPG|uncompressed"):
        avi_decode_payloads(mj).collect()
    garbage = spark.createDataFrame(
        [(1, "video/x-motion-jpeg", b"not avi at all" + b"\x00" * 32)],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="AVI"):
        mjpeg_decode_payloads(garbage).collect()


# ------------------------------------------------------------------ FLAC
def test_flac_decode_round_trip(spark):
    """r6 entropy-coded audio leg: Rice-coded fixed-prediction FLAC
    subset vs the closed-form oracle. The decoder verifies CRC-8,
    CRC-16 AND the STREAMINFO md5 of the reconstructed PCM, so bit
    packing, rice coding and prediction must all be exact."""
    import duckdb

    from talna_spark.pipeline.multimodal import flac_decode, flac_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, flac_decode(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.sql(flac_decode_sql()).fetchall()))
    assert got == want
    # all three fixed-predictor orders are exercised across the corpus
    assert {r[5] for r in got} == {0, 1, 2}


def test_flac_corruption_fails_loudly(spark):
    """One flipped bit anywhere must be caught by a CRC or the PCM md5,
    never silently decoded — flip a byte in three regions (frame
    header, residual stream, stored md5) and expect a loud error."""
    from talna_spark.pipeline.multimodal import (
        flac_decode_payloads,
        flac_media_table,
    )

    base = flac_media_table(spark, "/root/testdata/sf0.001").limit(1).collect()[0]
    blob = bytearray(base["payload"])
    # find the frame start (after fLaC + 4-byte block header + 34 bytes)
    frame_start = 4 + 4 + 34
    for label, idx, match in (
        # +5 = blocksize-1 low byte: a field the CRC-8 covers and no
        # subset check rejects first
        ("header", frame_start + 5, "CRC-8"),
        ("residuals", len(blob) - 8, "CRC-16|md5"),
        ("stored md5", frame_start - 4, "md5|CRC"),
    ):
        bad = bytearray(blob)
        bad[idx] ^= 0x40
        media = spark.createDataFrame(
            [(1, "audio/flac", bytes(bad))],
            "doc_id long, media_type string, payload binary",
        )
        with pytest.raises(Exception, match=match):
            flac_decode_payloads(media).collect()
    garbage = spark.createDataFrame(
        [(1, "audio/flac", b"not flac" + b"\x00" * 64)],
        "doc_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="fLaC"):
        flac_decode_payloads(garbage).collect()


def test_mp3_frame_walk_validates_sync_and_flags_vbr(spark):
    """The MP3 walker is a real parser: it hops frames by the spec
    length arithmetic, rejects corrupted sync, and VBR/CBR flags come
    from the actual per-frame bitrate set."""
    import pandas as pd
    import pytest as _pt

    from talna_spark.pipeline.multimodal import (
        mp3_media_table, mp3_meta_payloads,
    )

    SF = "/root/testdata/sf0.001"
    media = mp3_media_table(spark, SF)
    got = {r["doc_id"]: r for r in
           mp3_meta_payloads(media.filter("doc_id < 6")).collect()}
    # doc 0, 3: vbr (doc_id % 3 == 0); others CBR
    assert got[0]["is_vbr"] == 1 and got[3]["is_vbr"] == 1
    assert got[1]["is_vbr"] == 0 and got[2]["is_vbr"] == 0
    # duration = frames * 1152 / rate, frames = 3 + doc_id % 5
    assert got[1]["n_frames"] == 4
    assert got[1]["duration_s"] == round(4 * 1152 / 48000, 6)

    # corrupt one byte of the first header -> loud failure, not garbage
    blob = bytearray(media.filter("doc_id = 1").collect()[0]["payload"])
    blob[0] = 0x00
    bad = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1], "media_type": ["audio/mpeg"],
             "payload": [bytes(blob)]}
        )
    )
    with _pt.raises(Exception, match="lost sync"):
        mp3_meta_payloads(bad).collect()


def test_mp3_id3v2_tag_skipped(spark):
    """Docs whose stream leads with an ID3v2 tag (every 4th in the
    fixture — the real-world layout) parse to the same metadata as the
    untagged form: the walker skips the syncsafe-sized tag."""
    from talna_spark.pipeline.multimodal import mp3_media_table, mp3_meta

    SF = "/root/testdata/sf0.001"
    media = {r["doc_id"]: bytes(r["payload"])
             for r in mp3_media_table(spark, SF).filter("doc_id < 8").collect()}
    assert media[0][:3] == b"ID3" and media[4][:3] == b"ID3"
    assert media[1][:1] == b"\xff"
    got = {r["doc_id"]: r for r in mp3_meta(spark, SF).collect()}
    for did in range(8):
        assert got[did]["n_frames"] == 3 + did % 5, did


# --------------------------------------------------------------- GIF
def test_gif_decode_round_trip(spark):
    # writer layout + LZW packer vs decoder, cross-checked by the
    # oracle's independent doc_id arithmetic (no GIF parsing in SQL);
    # covers both palette sizes (4/8 colors -> 2/3-bit min code size)
    # and the interlaced storage path (doc_id % 3 == 0)
    import duckdb

    from talna_spark.pipeline.multimodal import gif_decode, gif_decode_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in gif_decode(spark, sf).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    exp = sorted(tuple(r) for r in con.execute(gif_decode_sql()).fetchall())
    assert got == exp and len(got) > 0
    ils = {r[5] for r in got}
    ncs = {r[4] for r in got}
    assert ils == {0, 1} and ncs == {4, 8}  # both paths exercised


def test_gif_interlace_differs_from_sequential(spark):
    # the same pixels stored interlaced vs sequential must decode to the
    # SAME logical stream — flip the interlace flag without reordering
    # rows and the order-sensitive checksum must change
    from pyspark.sql import functions as F

    from talna_spark.pipeline.multimodal import (
        gif_decode_payloads,
        gif_media_table,
    )

    media = gif_media_table(spark, "/root/testdata/sf0.001").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 30)
    )
    rows = media.collect()
    assert rows  # interlaced docs exist
    tampered = []
    for r in rows:
        b = bytearray(r["payload"])
        # image descriptor packed byte sits right before the mcs byte:
        # find 0x2C, its packed byte is at +9
        i = b.index(0x2C, 13)
        assert b[i + 9] & 0x40  # interlace flag set
        b[i + 9] &= ~0x40  # claim sequential storage
        tampered.append((r["doc_id"], r["media_type"], bytes(b)))
    tdf = spark.createDataFrame(
        tampered, "doc_id long, media_type string, payload binary"
    )
    orig = {r["doc_id"]: (r["height"], r["checksum"])
            for r in gif_decode_payloads(media).collect()}
    tamp = {r["doc_id"]: r["checksum"]
            for r in gif_decode_payloads(tdf).collect()}
    # interlace order is the identity for h <= 2 ([pass1 row 0, pass4
    # row 1]) and a real reorder for h >= 3
    for d, (h, cks) in orig.items():
        if h <= 2:
            assert tamp[d] == cks, d
        else:
            assert tamp[d] != cks, d
    assert any(h > 2 for h, _ in orig.values())


def test_gif_corrupt_lzw_fails_loudly(spark):
    import struct

    from talna_spark.pipeline.multimodal import gif_decode_payloads

    def gif_shell(lzw_data: bytes, mcs: int = 2, w: int = 2, h: int = 2):
        blob = bytearray(b"GIF89a")
        blob += struct.pack("<HHBBB", w, h, 0x80 | (7 << 4) | (mcs - 1), 0, 0)
        blob += bytes(range(3 * (1 << mcs)))  # palette
        blob += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        blob += bytes([mcs, len(lzw_data)]) + lzw_data + b"\x00\x3B"
        return bytes(blob)

    def media(payload):
        return spark.createDataFrame(
            [(0, "image/gif", payload)],
            "doc_id long, media_type string, payload binary",
        )

    # (a) out-of-range code: clear(100b) then 7 (111b) > next_code=6,
    # LSB-first -> 0b111100 = 0x3C
    with pytest.raises(Exception, match="corrupt LZW|invalid first"):
        gif_decode_payloads(media(gif_shell(b"\x3c\x3f"))).collect()
    # (b) truncated stream: clear code alone, then nothing
    with pytest.raises(Exception, match="truncated"):
        gif_decode_payloads(media(gif_shell(b"\x04"))).collect()
    # (c) pixel-count mismatch: a valid stream with too few pixels
    # clear=4(100), code 0(000), eoi=5(101) -> bits 100 000 101 ->
    # LSB-first bytes: 0b00000100, 0b00010100? build via int
    bits = [(4, 3), (0, 3), (5, 3)]
    acc = n = 0
    out = bytearray()
    for c, wd in bits:
        acc |= c << n
        n += wd
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    with pytest.raises(Exception, match="expected"):
        gif_decode_payloads(media(gif_shell(bytes(out)))).collect()
    # (d) missing trailer
    good = gif_shell(bytes(out), w=1, h=1)
    with pytest.raises(Exception, match="trailer"):
        gif_decode_payloads(media(good[:-1])).collect()
    # (e) control: the same 1-pixel stream decodes fine with the trailer
    r = gif_decode_payloads(media(good)).collect()[0]
    assert (r["width"], r["height"], r["n_colors"]) == (1, 1, 4)


# ------------------------------------------------- MPEG-1 Audio Layer I
def test_layer1_decode_round_trip(spark):
    # writer bitstream vs decoder vs the oracle's independent spec
    # arithmetic; all three frame counts and all three nb widths occur
    import duckdb

    from talna_spark.pipeline.multimodal import (
        layer1_decode, layer1_decode_sql,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in layer1_decode(spark, sf).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    exp = sorted(tuple(r) for r in con.execute(layer1_decode_sql()).fetchall())
    assert got == exp and len(got) > 0
    assert {r[2] for r in got} == {2, 3, 4}  # n_frames variants


def test_layer1_requantization_hand_value(spark):
    # hand-built single-frame stream: only subband 0 allocated, nb=2,
    # scalefactor idx 0 (sf=2.0), all 12 codes = 0:
    # s'' = (4/3)*((0+1)*1/2 - 1) = -2/3 -> sample = -4/3 everywhere
    # -> micro = -1333333, mean_amp = 1.333333,
    # checksum = -1333333 * sum(1..12) = -1333333*78
    from talna_spark.pipeline.multimodal import layer1_decode_payloads

    bits = []

    def put(v, n):
        bits.extend(((v >> (n - 1 - j)) & 1) for j in range(n))

    put(0xFFF, 12); put(1, 1); put(0b11, 2); put(1, 1)   # sync/id/layer/prot
    put(2, 4); put(0b10, 2); put(0, 2)                   # 64k, 32kHz
    put(0b11, 2); put(0, 2); put(0, 4)                   # mono
    put(1, 4)                                            # sb0: alloc code 1 -> nb 2
    for _ in range(31):
        put(0, 4)
    put(0, 6)                                            # scf idx 0
    for _ in range(12):
        put(0, 2)                                        # codes
    while len(bits) % 8:
        bits.append(0)
    blob = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    blob += b"\x00" * (96 - len(blob))
    df = spark.createDataFrame(
        [(0, "audio/mpeg-l1", blob)],
        "doc_id long, media_type string, payload binary",
    )
    r = layer1_decode_payloads(df).collect()[0]
    assert r["n_frames"] == 1 and r["n_alloc"] == 1
    assert r["mean_amp"] == 1.333333
    assert r["checksum"] == -1333333 * 78


def test_layer1_padded_frame_advances_one_extra_slot(spark):
    # padding bit set -> frame occupies (12*br/sr)+1 slots (ISO 11172-3
    # frame walk; 44.1 kHz streams alternate it). Regression: the
    # decoder read-and-discarded the bit, so a padded frame desynced
    # into 'bad sync word' at the phantom 25th slot.
    from talna_spark.pipeline.multimodal import layer1_decode_payloads

    bits = []

    def put(v, n):
        bits.extend(((v >> (n - 1 - j)) & 1) for j in range(n))

    put(0xFFF, 12); put(1, 1); put(0b11, 2); put(1, 1)
    put(2, 4); put(0b10, 2)                              # 64k, 32kHz
    put(0b10, 2)                                         # PADDING=1, private=0
    put(0b11, 2); put(0, 2); put(0, 4)                   # mono
    put(1, 4)                                            # sb0 alloc -> nb 2
    for _ in range(31):
        put(0, 4)
    put(0, 6)
    for _ in range(12):
        put(0, 2)
    while len(bits) % 8:
        bits.append(0)
    blob = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    # 24 slots (96 B) + the one padding slot = 100 B total
    blob += b"\x00" * (100 - len(blob))
    df = spark.createDataFrame(
        [(0, "audio/mpeg-l1", blob)],
        "doc_id long, media_type string, payload binary",
    )
    r = layer1_decode_payloads(df).collect()[0]
    assert r["n_frames"] == 1 and r["n_alloc"] == 1
    assert r["mean_amp"] == 1.333333


def test_layer1_corruption_fails_loudly(spark):
    from pyspark.sql import functions as F

    from talna_spark.pipeline.multimodal import (
        layer1_decode_payloads, layer1_media_table,
    )

    media = layer1_media_table(spark, "/root/testdata/sf0.001").filter(
        F.col("doc_id") == 0
    )
    blob = bytearray(media.collect()[0]["payload"])

    def decode(b):
        df = spark.createDataFrame(
            [(0, "audio/mpeg-l1", bytes(b))],
            "doc_id long, media_type string, payload binary",
        )
        return layer1_decode_payloads(df).collect()

    # bad sync
    bad = bytearray(blob); bad[0] = 0x00
    with pytest.raises(Exception, match="sync"):
        decode(bad)
    # allocation code 15 in subband 0: alloc bits start at bit 32
    bad = bytearray(blob); bad[4] |= 0xF0
    with pytest.raises(Exception, match="allocation"):
        decode(bad)
    # truncation mid-frame
    with pytest.raises(Exception, match="truncated|sync|garbage"):
        decode(blob[:40])
    # trailing garbage after the last frame
    with pytest.raises(Exception, match="garbage|sync"):
        decode(bytes(blob) + b"\x12")
    # control: the untampered stream decodes
    assert decode(blob)[0]["n_frames"] == 2


# ----------------------------- image resize (r10)
def test_bmp_resize_hand_case(spark):
    """Hand-built 3x2 BMP, factor 2: out dims 2x1; block (0,0) averages
    4 pixels, edge block (0,1) averages the 2 remaining — edge blocks
    must average ONLY in-bounds pixels, and rounding is half-away."""
    import struct

    from talna_spark.pipeline.multimodal import bmp_resize_payloads

    w, h = 3, 2
    # logical top-down BGR bytes: row0 = [10,20,30, 40,50,60, 70,80,90]
    #                             row1 = [11,21,31, 41,51,61, 71,81,91]
    rows_logical = [
        bytes([10, 20, 30, 40, 50, 60, 70, 80, 90]),
        bytes([11, 21, 31, 41, 51, 61, 71, 81, 91]),
    ]
    row_raw = 3 * w
    pad = (-row_raw) % 4
    px = b"".join(
        rows_logical[y] + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
    blob = hdr + info + px
    df = spark.createDataFrame(
        [(0, "image/bmp", blob)],
        "doc_id long, media_type string, payload binary",
    )
    r = bmp_resize_payloads(df, factor=2).collect()[0]
    assert (r["in_width"], r["in_height"]) == (3, 2)
    assert (r["out_width"], r["out_height"]) == (2, 1)
    # block (0,0): B=(10+40+11+41)/4=25.5->26, G=(20+50+21+51)/4=35.5->36,
    #              R=(30+60+31+61)/4=45.5->46
    # edge (0,1):  B=(70+71)/2=70.5->71, G=(80+81)/2=80.5->81, R=(90+91)/2=90.5->91
    want = [26, 36, 46, 71, 81, 91]
    assert r["checksum"] == sum(v * (j + 1) for j, v in enumerate(want))
    assert r["mean_px"] == round(sum(want) / 6, 6)


def test_bmp_resize_factor1_is_identity(spark):
    from talna_spark.pipeline.multimodal import (
        bmp_decode, bmp_resize, bmp_resize_payloads,
    )

    sf = "/root/testdata/sf0.001"
    dec = {r["doc_id"]: r for r in bmp_decode(spark, sf).collect()}
    rsz = {r["doc_id"]: r for r in bmp_resize(spark, sf, factor=1).collect()}
    assert set(dec) == set(rsz)
    for did, r in rsz.items():
        assert (r["out_width"], r["out_height"]) == (
            dec[did]["width"], dec[did]["height"]
        )
        assert r["checksum"] == dec[did]["checksum"]
        assert r["mean_px"] == dec[did]["mean_px"]

    import pytest

    with pytest.raises(ValueError, match="factor"):
        bmp_resize_payloads(None, factor=0)


def test_bmp_resize_matches_duckdb_oracle(spark):
    import duckdb

    from talna_spark.pipeline.multimodal import bmp_resize, bmp_resize_sql

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, bmp_resize(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(bmp_resize_sql()).fetchall()))
    assert got == want and len(got) == 500
    # the corpus exercises both divisible and edge-block dims
    dims = {(r[2], r[3]) for r in got}
    assert len(dims) > 3
