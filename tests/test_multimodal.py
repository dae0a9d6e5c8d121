"""Exact-value tests for the non-SQL multimodal operators (the
mapInPandas decode + frame-sample kernels)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
    decode_media,
    sample_frames,
    synthesize_media,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_media(table(spark, SF_DIR, "documents"))


def test_decode_metadata_deterministic(spark, media):
    docs = {r["doc_id"]: r["text"] for r in table(spark, SF_DIR, "documents").collect()}
    decoded = {r["media_id"]: r for r in decode_media(media).collect()}
    assert set(decoded) == set(docs)
    for mid, row in decoded.items():
        blob = docs[mid].encode("utf-8")
        assert row["n_bytes"] == len(blob)
        assert row["width"] == 16 + blob[0] % 64
        assert row["height"] == 16 + blob[1] % 64
        assert row["n_channels"] in (1, 3)


def test_frame_sampling_reassembles_prefix(spark, media):
    frames = sample_frames(media)
    got = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.octet_length("frame_bytes")).alias("nb")
    )
    rows = {r["media_id"]: r for r in got.collect()}
    videos = {r["media_id"]: r["payload"] for r in media.filter(F.col("kind") == "video").collect()}
    assert set(rows) == set(videos)
    for mid, r in rows.items():
        assert r["n"] == 4
        step = max(len(videos[mid]) // 4, 1)
        assert r["nb"] == 4 * step  # evenly spaced slices
    # frame bytes are the actual payload slices
    one = frames.filter(F.col("frame_no") == 0).first()
    assert bytes(one["frame_bytes"]) == bytes(videos[one["media_id"]])[: len(one["frame_bytes"])]


def _encode_png(pixels: list[list[tuple[int, int, int]]], filters: list[int]) -> bytes:
    """Independent PNG encoder (RGB8, one filter type per scanline) —
    exercises every defilter branch of the decoder under test."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])
    ch = 3

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytearray(w * ch)
    for y in range(h):
        line = bytearray(v for px in pixels[y] for v in px)
        f = filters[y % len(filters)]
        enc = bytearray(line)
        for i in range(w * ch - 1, -1, -1):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - (a + b) // 2) & 0xFF
            elif f == 4:
                enc[i] = (line[i] - paeth(a, b, c)) & 0xFF
        raw.append(f)
        raw.extend(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_decode_png_bmp_wav(spark):
    """The stdlib decode path REALLY decodes: PNG dimensions/channels
    and the exact pixel mean survive a full encode→Spark-decode
    round-trip (all five PNG filter types exercised), BMP headers
    parse, WAV sample rate/channels/frames and the PCM amplitude mean
    come back exact.  Unknown formats still raise where PIL/ffmpeg
    would go."""
    import io
    import struct
    import wave

    import pytest

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        real_decode_media,
    )

    # PNG: 5×5 RGB with a deterministic gradient, one row per filter
    # type — ALL five defilter branches (None/Sub/Up/Average/Paeth)
    pixels = [
        [((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 73) % 256) for x in range(5)]
        for y in range(5)
    ]
    png = _encode_png(pixels, filters=[0, 1, 2, 3, 4])
    png_mean = sum(v for row in pixels for px in row for v in px) / (5 * 5 * 3)

    # BMP: 2×2, 24bpp, spec-correct 4-byte row padding (stride 8 for
    # row_bytes 6) — the mean must be over pixel bytes only, padding
    # excluded
    row0 = bytes([10, 20, 30, 40, 50, 60]) + b"\x00\x00"
    row1 = bytes([70, 80, 90, 100, 110, 120]) + b"\x00\x00"
    px = row0 + row1
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
        + px
    )
    bmp_mean = sum([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]) / 12

    # WAV: 1 channel, 8 kHz, 16-bit, 100 samples of a known ramp
    samples = [(i * 300 - 15000) for i in range(100)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    wav = buf.getvalue()
    wav_mean = sum(abs(s) for s in samples) / len(samples) / 32768.0

    # palette PNG (color type 3), hand-built: 3×2 index plane with
    # filters 0 and 1 at bpp=1, a 4-entry PLTE — the decoder must
    # defilter the indices AND resolve them through PLTE
    import zlib

    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    pal = [(10, 20, 30), (40, 50, 60), (200, 210, 220), (5, 6, 7)]
    idx_rows = [[0, 2, 1], [3, 1, 2]]
    raw = bytearray()
    raw.append(0)
    raw.extend(idx_rows[0])  # filter None
    raw.append(1)  # filter Sub at bpp=1
    line = idx_rows[1]
    raw.extend([(line[i] - (line[i - 1] if i else 0)) & 0xFF for i in range(3)])
    png_pal = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", b"".join(bytes(c) for c in pal))
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    png_pal_mean = sum(sum(pal[i]) for row in idx_rows for i in row) / (3 * 6)

    # 8bpp BMP, hand-built: 2×2 indices into a 4-entry BGRA table,
    # stride padding present (row_bytes 2 → stride 4)
    bgra = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in pal)
    bmp8_px = bytes([0, 2]) + b"\x00\x00" + bytes([3, 1]) + b"\x00\x00"
    off8 = 14 + 40 + len(bgra)
    bmp8 = (
        b"BM" + struct.pack("<IHHI", off8 + len(bmp8_px), 0, 0, off8)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(bmp8_px), 0, 0, 4, 0)
        + bgra + bmp8_px
    )
    bmp8_mean = sum(sum(pal[i]) for i in [0, 2, 3, 1]) / (3 * 4)

    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "t"), (2, "image", bytearray(bmp), "t"),
         (3, "audio", bytearray(wav), "t"),
         (4, "image", bytearray(png_pal), "t"),
         (5, "image", bytearray(bmp8), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    p = got[1]
    assert (p["format"], p["width"], p["height"], p["n_channels"], p["bit_depth"]) == (
        "png", 5, 5, 3, 8,
    )
    assert abs(p["sample_mean"] - png_mean) < 1e-9
    b = got[2]
    assert (b["format"], b["width"], b["height"], b["n_channels"]) == ("bmp", 2, 2, 3)
    assert abs(b["sample_mean"] - bmp_mean) < 1e-9  # padding excluded
    w = got[3]
    assert (w["format"], w["width"], w["n_channels"], w["sample_rate"], w["bit_depth"]) == (
        "wav", 100, 1, 8000, 16,
    )
    assert abs(w["sample_mean"] - wav_mean) < 1e-9
    pp = got[4]
    assert (pp["format"], pp["width"], pp["height"], pp["n_channels"]) == ("png", 3, 2, 3)
    assert abs(pp["sample_mean"] - png_pal_mean) < 1e-9  # PLTE-resolved
    b8 = got[5]
    assert (b8["format"], b8["width"], b8["height"], b8["n_channels"]) == ("bmp", 2, 2, 3)
    assert abs(b8["sample_mean"] - bmp8_mean) < 1e-9  # palette-resolved, padding excluded

    # non-decodable format → honest NotImplementedError (round 6:
    # baseline JPEG is now a REAL decode path, so the honest boundary
    # is exercised with an unknown container instead)
    junk = spark.createDataFrame(
        [(9, "video", bytearray(b"\x00\x00\x00\x14ftypisom junk"), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    with pytest.raises(Exception) as ei:
        real_decode_media(junk).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )

    # baseline JPEG decodes for real through the sniffing path
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_jpeg_gray_bytes,
    )

    jb = _synth_jpeg_gray_bytes(16, 8, 7)
    jdf = spark.createDataFrame(
        [(10, "image", bytearray(jb), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    jr = real_decode_media(jdf).collect()[0]
    assert (jr["format"], jr["width"], jr["height"], jr["n_channels"]) == (
        "jpeg", 16, 8, 1,
    )
    want_mean = (
        sum((bx * 7 + 0 * 13 + 7) % 256 for bx in range(2)) * 64 / (16 * 8)
    )
    assert abs(jr["sample_mean"] - want_mean) < 1e-9


def _gif_bitpack(codes):
    """LSB-first variable-width code packer (independent of the
    decoder's reader): codes = [(code, width), ...]."""
    acc = bitlen = 0
    out = bytearray()
    for code, width in codes:
        acc |= code << bitlen
        bitlen += width
        while bitlen >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8
    if bitlen:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_wrap(w, h, palette, lzw_data, min_code_size=2, with_ext=False):
    import struct

    assert len(palette) == 4  # 4-entry global color table → size bits 1
    gct = b"".join(bytes(c) for c in palette)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
    out += gct
    if with_ext:  # graphics-control extension the decoder must skip
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([min_code_size])
    # split into sub-blocks of ≤255
    for i in range(0, len(lzw_data), 255):
        blk = lzw_data[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def test_real_decode_gif(spark):
    """GIF decode is REAL: (1) a literal-coded stream (clear codes
    keep the table flat — the classic 'uncompressed GIF' encoding, an
    independent encoding path from the decoder's table logic) decodes
    with the palette-resolved RGB mean exact; (2) a hand-packed
    compressed stream exercises the LZW table-growth path including
    the code==len(table) self-reference case; (3) interlaced GIFs
    de-interlace for real — the 4-pass row permutation is pinned
    against a brute-force reference, and an interlaced fixture decodes
    to the exact mean of its known content."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _gif_deinterlace,
        _lzw_decode_gif,
        real_decode_media,
    )

    palette = [(0, 0, 0), (30, 60, 90), (120, 150, 180), (210, 240, 255)]

    # fixture 1: 4×2 image, literal coding (clear before every code so
    # the table never grows and widths stay at 3 bits)
    indices = [0, 1, 2, 3, 3, 2, 1, 0]
    codes = []
    for i in indices:
        codes += [(4, 3), (i, 3)]  # clear, literal
    codes.append((5, 3))  # end
    gif1 = _gif_wrap(4, 2, palette, _gif_bitpack(codes), with_ext=True)
    mean1 = sum(sum(palette[i]) for i in indices) / (3 * 8)

    # fixture 2: 2×2 all-index-1 image as a REAL LZW stream
    # (clear, 1, 6, 1, end) — code 6 == len(table) is the prev+prev[0]
    # self-reference; after entry 7 the width bumps to 4 bits, so the
    # end code is 4 bits wide
    lzw2 = _gif_bitpack([(4, 3), (1, 3), (6, 3), (1, 3), (5, 4)])
    assert list(_lzw_decode_gif(lzw2, 2)) == [1, 1, 1, 1]
    gif2 = _gif_wrap(2, 2, palette, lzw2)
    mean2 = sum(palette[1]) / 3

    media = spark.createDataFrame(
        [(1, "image", bytearray(gif1), "t"), (2, "image", bytearray(gif2), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    g1 = got[1]
    assert (g1["format"], g1["width"], g1["height"], g1["n_channels"]) == (
        "gif", 4, 2, 3,
    )
    assert abs(g1["sample_mean"] - mean1) < 1e-9
    g2 = got[2]
    assert (g2["format"], g2["width"], g2["height"]) == ("gif", 2, 2)
    assert abs(g2["sample_mean"] - mean2) < 1e-9

    # interlaced: the 4-pass permutation, pinned against a brute-force
    # reference on every (w, h) up to 9×9 …
    for w in range(1, 10):
        for h in range(1, 10):
            seq = list(range(w * h))
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            stored = [seq[y * w + x] for y in order for x in range(w)]
            assert _gif_deinterlace(stored, w, h) == seq, (w, h)

    # … and end-to-end: an interlaced fixture whose stored rows are
    # written in pass order must decode through the same code path
    # (flag honored, no raise) with the exact palette-resolved mean
    h4 = 5  # rows 0..4 → pass order [0], [4], [2], [1, 3]
    seq_rows = [[(r + c) % 4 for c in range(3)] for r in range(h4)]
    pass_order = [0, 4, 2, 1, 3]
    stored_idx = [i for r in pass_order for i in seq_rows[r]]
    codes3 = []
    for i in stored_idx:
        codes3 += [(4, 3), (i, 3)]
    codes3.append((5, 3))
    gif3 = bytearray(_gif_wrap(3, h4, palette, _gif_bitpack(codes3)))
    idesc = 6 + 7 + 12
    assert gif3[idesc] == 0x2C
    gif3[idesc + 9] |= 0x40  # interlace flag
    mean3 = sum(sum(palette[i]) for row in seq_rows for i in row) / (3 * 3 * h4)
    inter = spark.createDataFrame(
        [(3, "image", gif3, "t")],
        "media_id long, kind string, payload binary, source string",
    )
    g3 = real_decode_media(inter).collect()[0]
    assert (g3["format"], g3["width"], g3["height"]) == ("gif", 3, h4)
    assert abs(g3["sample_mean"] - mean3) < 1e-9


def test_resize_images_nearest_neighbor_exact(spark):
    """Resize really decodes the PNG and samples exact source pixels:
    downsampling a known gradient picks the nearest-neighbor source
    pixel at each grid point (verified against an independent numpy
    resize of the original pixel array); upsampling replicates."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        resize_images,
    )

    pixels = [
        [((x * 41 + y * 7) % 256, (x * 3) % 256, (y * 29) % 256) for x in range(8)]
        for y in range(6)
    ]
    png = _encode_png(pixels, filters=[0, 1, 2, 3, 4])
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    img = np.array(pixels, dtype=np.uint8)  # 6×8×3

    for out_w, out_h in [(4, 3), (16, 12)]:
        r = resize_images(media, out_w, out_h).first()
        assert (r["out_width"], r["out_height"], r["n_channels"]) == (out_w, out_h, 3)
        got = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(out_h, out_w, 3)
        ys = (np.arange(out_h) * 6) // out_h
        xs = (np.arange(out_w) * 8) // out_w
        want = img[ys][:, xs]
        assert np.array_equal(got, want), (out_w, out_h)


# ----------------------------------------------------------- header probe


def _encode_jpeg_headers(w, h, ncomp=3, progressive=False):
    """Independent minimal JPEG: SOI + APP0(JFIF) + DQT stub + SOF +
    SOS stub + EOI.  Entropy data is empty — the probe must read
    dimensions from REAL segment structure without decoding pixels."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes(64))
    sof_marker = 0xC2 if progressive else 0xC0
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ncomp))
    sof = seg(sof_marker, struct.pack(">BHHB", 8, h, w, ncomp) + comps)
    sos = seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + sof + sos + b"\xff\xd9"


def _encode_mp4_headers(w, h, brand=b"isom"):
    """Independent minimal ISO-BMFF: ftyp + moov[trak[tkhd]] with the
    dimensions as 16.16 fixed-point in a v0 tkhd — the structure the
    box-walk probe must traverse."""
    import struct

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    tkhd_body = (
        b"\x00" + b"\x00\x00\x07"  # version 0, flags
        + bytes(4 * 4)  # ctime, mtime, track_id, reserved
        + bytes(4)  # duration
        + bytes(8)  # reserved
        + bytes(2 + 2 + 2 + 2)  # layer, alt_group, volume, reserved
        + bytes(36)  # matrix
        + struct.pack(">II", w << 16, h << 16)
    )
    trak = box(b"trak", box(b"tkhd", tkhd_body))
    return box(b"ftyp", brand + b"\x00\x00\x02\x00" + b"isomiso2") + box(
        b"moov", trak
    )


def test_probe_media_headers(spark):
    """Every sniffable format yields REAL header metadata without any
    pixel/sample decode: JPEG dims+progressive flag via SOF walk, MP4
    dims+brand via box traversal, PNG/BMP/GIF/WAV header fields;
    unknown and truncated payloads classify instead of failing."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        probe_media_headers,
    )

    png = _encode_png([[(10, 20, 30), (40, 50, 60)]], [0])  # 2×1 RGB
    jpeg = _encode_jpeg_headers(640, 480, 3, progressive=False)
    jpeg_p = _encode_jpeg_headers(31, 17, 1, progressive=True)
    mp4 = _encode_mp4_headers(1920, 1080)
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", 0)
    )
    # non-canonical layouts the fixed-offset reader silently misparsed:
    # an odd-sized LIST chunk (word-alignment padding) BEFORE fmt, and
    # a WAVE_FORMAT_EXTENSIBLE fmt (40-byte chunk, tag 0xFFFE) — the
    # RIFF walk must locate fmt and read the base fields either way
    wav_list = (
        b"RIFF" + struct.pack("<I", 53) + b"WAVE"
        + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad to even
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 0)
    )
    wav_ext = (
        b"RIFF" + struct.pack("<I", 60) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 40, 0xFFFE, 6, 48000, 576000, 12, 16)
        + struct.pack("<HHI", 22, 16, 0x3F) + bytes(12)  # extension
        + b"data" + struct.pack("<I", 0)
    )
    wav_nofmt = b"RIFF" + struct.pack("<I", 12) + b"WAVE" + b"data" + struct.pack("<I", 0)
    rows = [
        (1, "image", bytearray(png), "s"),
        (2, "image", bytearray(jpeg), "s"),
        (3, "image", bytearray(jpeg_p), "s"),
        (4, "video", bytearray(mp4), "s"),
        (5, "audio", bytearray(wav), "s"),
        (6, "image", bytearray(b"garbage-not-a-format"), "s"),
        (7, "image", bytearray(b"\xff\xd8\xff\xd9"), "s"),  # JPEG, no SOF
        (8, "audio", bytearray(wav_list), "s"),
        (9, "audio", bytearray(wav_ext), "s"),
        (10, "audio", bytearray(wav_nofmt), "s"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, source string"
    )
    got = {r["media_id"]: r for r in probe_media_headers(df).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"], got[1]["n_channels"]) == ("png", 2, 1, 3)
    assert (got[2]["format"], got[2]["width"], got[2]["height"], got[2]["n_channels"], got[2]["progressive"]) == ("jpeg", 640, 480, 3, 0)
    assert (got[3]["format"], got[3]["width"], got[3]["height"], got[3]["n_channels"], got[3]["progressive"]) == ("jpeg", 31, 17, 1, 1)
    assert (got[4]["format"], got[4]["width"], got[4]["height"]) == ("mp4/isom", 1920, 1080)
    assert (got[5]["format"], got[5]["n_channels"], got[5]["sample_rate"], got[5]["bit_depth"]) == ("wav", 2, 44100, 16)
    assert got[6]["format"] == "unknown"
    assert got[7]["format"] == "corrupt"
    assert (got[8]["format"], got[8]["n_channels"], got[8]["sample_rate"], got[8]["bit_depth"]) == ("wav", 1, 8000, 8)
    assert (got[9]["format"], got[9]["n_channels"], got[9]["sample_rate"], got[9]["bit_depth"]) == ("wav", 6, 48000, 16)
    assert got[10]["format"] == "corrupt"


def test_known_content_synthesis_inverts(spark):
    """The closed-form decode gates rest on synthesis↔decode inversion;
    pin it directly per format, including the hazards the plan's small
    sf0.01 ids may not reach: a 3600-pixel GIF forcing LZW code-width
    bumps, BMP widths whose strides carry real padding, and WAV with
    two interleaved channels."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _lzw_decode_gif,
        _png_pixels,
        _synth_bmp_bytes,
        _synth_gif_bytes,
        _synth_png_bytes,
        _synth_wav_bytes,
    )

    # PNG: every filter type reproduces the known content exactly
    for f in range(5):
        w, h = 7, 5
        ww, hh, ch, px = _png_pixels(_synth_png_bytes(w, h, f))
        assert (ww, hh, ch) == (w, h, 3)
        assert list(px) == [(i + y) % 251 for y in range(h) for i in range(3 * w)]

    # GIF: large image → LZW table growth crosses width boundaries
    b = _synth_gif_bytes(60, 60)
    _, _, flags, _, _ = struct.unpack("<HHBBB", b[6:13])
    pos = 13 + 3 * (2 << (flags & 7))
    assert b[pos] == 0x2C
    pos += 10
    mcs = b[pos]
    pos += 1
    data = bytearray()
    while b[pos] != 0:
        n = b[pos]
        data += b[pos + 1 : pos + 1 + n]
        pos += 1 + n
    idx = _lzw_decode_gif(bytes(data), mcs)[: 60 * 60]
    assert list(idx) == [k % 4 for k in range(3600)]

    # BMP: padded strides — decoded byte count excludes padding
    for w, h in [(2, 1), (3, 2), (5, 3)]:
        bb = _synth_bmp_bytes(w, h)
        (off,) = struct.unpack("<I", bb[10:14])
        stride = (w * 3 + 3) & ~3
        assert len(bb) == off + stride * h
        total = sum(
            bb[off + y * stride + i]
            for y in range(h)
            for i in range(w * 3)
        )
        assert total == sum((i * 5 + y * 11) % 256 for y in range(h) for i in range(3 * w))

    # WAV: stereo interleave order is part of the known function
    import array
    import io
    import wave

    wb = _synth_wav_bytes(2, 16000, 16, 21)
    with wave.open(io.BytesIO(wb)) as wf:
        assert (wf.getnchannels(), wf.getnframes()) == (2, 21)
        frames = wf.readframes(21)
    assert list(array.array("h", frames)) == [
        ((j * 37) % 2048) - 1024 for j in range(42)
    ]


def test_jpeg_baseline_decode_roundtrip():
    """Round-6 JPEG gate machinery: (1) the known-content encoder's
    block-constant fixtures decode back EXACTLY (DC-only blocks have
    exact integer DCT under unit quantization, and the float IDCT's
    ~1e-13 error vanishes in the 0.5 rounding margin); (2) a
    hand-built file with a NONZERO AC coefficient decodes to the same
    pixels as an independent dense IDCT — exercising run/size AC
    coding and EXTEND beyond what the fixtures reach; (3) the honest
    NotImplementedError boundaries hold."""
    import struct

    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _ZIGZAG,
        _decode_jpeg,
        _synth_jpeg_gray_bytes,
    )

    for mid in (0, 1, 5, 11, 254, 255):
        w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
        b = _synth_jpeg_gray_bytes(w, h, mid)
        dw, dh, planes, _ = _decode_jpeg(b)
        assert (dw, dh) == (w, h)
        got = planes[0].astype(np.int64)
        for by in range(h // 8):
            for bx in range(w // 8):
                v = (bx * 7 + by * 13 + mid) % 256
                blk = got[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == v).all(), (mid, bx, by, v, blk[0, 0])

    # nonzero-AC file: splice an AC symbol into a custom single-block
    # stream — DC cat 0, then (run=1, size=2) with magnitude bits 10
    # (EXTEND → +2) at zigzag position 2, then EOB.
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _BitWriter,
        _huff_canonical,
    )

    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_bits = [0, 3] + [0] * 14  # EOB, 0x12, 0xF0 as 2-bit codes
    ac_vals = [0x00, 0x12, 0xF0]

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    dc_tab = _huff_canonical(dc_bits, dc_vals)
    ac_tab = _huff_canonical(ac_bits, ac_vals)
    bw = _BitWriter()
    code, ln = dc_tab[0]
    bw.write(code, ln)  # DC diff 0
    code, ln = ac_tab[0x12]
    bw.write(code, ln)  # run 1, size 2
    bw.write(0b10, 2)  # EXTEND(2, 2) = +2 at zigzag k=2
    code, ln = ac_tab[0x00]
    bw.write(code, ln)  # EOB
    jpg = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
        + seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
        + seg(0xDA, bytes([1, 1, 0x00]) + bytes([0, 63, 0]))
        + bw.flush()
        + b"\xff\xd9"
    )
    _, _, planes, _ = _decode_jpeg(jpg)
    # independent dense IDCT of coef[zigzag 2] = 2 (natural (0,2))
    A = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            A[u, x] = cu / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    F8 = np.zeros((8, 8))
    F8[_ZIGZAG[2] // 8, _ZIGZAG[2] % 8] = 2.0
    want = A.T @ F8 @ A + 128.0
    want = np.clip(np.floor(np.abs(want) + 0.5) * np.sign(want), 0, 255)
    assert (planes[0].astype(np.float64) == want).all()

    # honest boundaries
    import pytest

    base = bytearray(_synth_jpeg_gray_bytes(8, 8, 3))
    # round 7: SOF2 dispatches to the REAL progressive decoder
    # (test_jpeg_progressive_decode_matches_baseline), so a baseline
    # file with its SOF marker flipped to 0xC2 is now a MALFORMED
    # progressive stream — its full-band Ss=0/Se=63 scan header must
    # be rejected loudly, not decoded as if sequential
    prog = bytearray(base)
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan"):
        _decode_jpeg(bytes(prog))
    sub = bytearray(base)
    i = sub.find(b"\xff\xc0")
    # round 7: factors ≤ 2 DECODE (single-component scans are
    # non-interleaved per spec, so a 0x22 factor on a grayscale file
    # decodes to the same pixels); the honest raise moved to factors > 2
    sub[i + 2 + 2 + 6 + 1] = 0x22  # sampling factor 2x2
    dw_s, dh_s, planes_s, _ = _decode_jpeg(bytes(sub))
    dw_b, dh_b, planes_b, _ = _decode_jpeg(bytes(base))
    assert (dw_s, dh_s) == (dw_b, dh_b)
    assert (planes_s[0] == planes_b[0]).all()
    # round 8: factors up to 4 decode (and single-component scans
    # ignore them per spec), so 0x33 grayscale decodes identically too
    sub3 = bytearray(base)
    sub3[i + 2 + 2 + 6 + 1] = 0x33
    _, _, planes_3, _ = _decode_jpeg(bytes(sub3))
    assert (planes_3[0] == planes_b[0]).all()
    # beyond the spec range (factor 5) is malformed input — typed loud
    sub5 = bytearray(base)
    sub5[i + 2 + 2 + 6 + 1] = 0x55
    with pytest.raises(ValueError, match="sampling factor"):
        _decode_jpeg(bytes(sub5))
    # round 8: Pq=1 16-bit quant tables DECODE for real (pinned in
    # test_jpeg12_extended_sequential_decode_exact) — but flipping the
    # Pq flag on an 8-bit-sized table leaves a 65-byte payload where
    # 129 bytes are declared, which is malformed input, typed loud
    qt16 = bytearray(base)
    qt16[qt16.find(b"\xff\xdb") + 4] = 0x10  # Pq=1 on an 8-bit table
    with pytest.raises(ValueError, match="DQT truncated"):
        _decode_jpeg(bytes(qt16))
    # round 7: DRI no longer raises — an interval longer than the scan
    # (4 > this file's 2 MCUs) decodes identically to the plain file,
    # while an interval the stream does not honor (DRI=1 injected into
    # a file with NO RST markers) must fail loudly at the first
    # boundary instead of desyncing (real restart decode is pinned in
    # test_jpeg_restart_intervals_decode_exact)
    def with_dri(interval: int) -> bytes:
        return (
            bytes(base[: base.find(b"\xff\xdb")])
            + seg(0xDD, struct.pack(">H", interval))
            + bytes(base[base.find(b"\xff\xdb") :])
        )

    dw_d, dh_d, planes_d, _ = _decode_jpeg(with_dri(4))
    assert (dw_d, dh_d) == (dw_b, dh_b)
    assert (planes_d[0] == planes_b[0]).all()
    two_mcu = bytearray(_synth_jpeg_gray_bytes(16, 8, 3))  # 2 one-block MCUs
    missing_rst = (
        bytes(two_mcu[: two_mcu.find(b"\xff\xdb")])
        + seg(0xDD, struct.pack(">H", 1))
        + bytes(two_mcu[two_mcu.find(b"\xff\xdb") :])
    )
    with pytest.raises(ValueError, match="restart boundary"):
        _decode_jpeg(missing_rst)


def test_jpeg_420_subsampled_decode_exact():
    """Round 7: 4:2:0 chroma-subsampled color JPEGs decode for real —
    the interleaved MCU walk must place all four Y blocks and both
    chroma blocks correctly (per-component DC prediction across MCUs),
    and nearest-neighbor upsampling must replicate each chroma block
    over its 16×16 output footprint.  Block-constant known content
    makes every decoded value exact."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_420_bytes,
    )

    for mid in (0, 1, 2, 3, 7, 254):
        w, h = 16 * (1 + mid % 2), 16 * (1 + mid % 3)
        dw, dh, planes, _ = _decode_jpeg(_synth_jpeg_420_bytes(w, h, mid))
        assert (dw, dh) == (w, h) and len(planes) == 3
        assert all(p.shape == (h, w) for p in planes)
        y, cb, cr = (p.astype(np.int64) for p in planes)
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == (bx * 7 + by * 13 + mid) % 256).all(), (mid, bx, by)
        for cy in range(h // 16):
            for cx in range(w // 16):
                cbb = cb[cy * 16 : cy * 16 + 16, cx * 16 : cx * 16 + 16]
                crb = cr[cy * 16 : cy * 16 + 16, cx * 16 : cx * 16 + 16]
                assert (cbb == (cx * 11 + cy * 3 + mid) % 256).all(), (mid, cx, cy)
                assert (crb == (cx * 5 + cy * 17 + 2 * mid) % 256).all(), (mid, cx, cy)


def test_png_adam7_and_16bit_decode():
    """The last two PNG raises, closed in round 6: (1) Adam7 images
    round-trip exactly at every dims combination that exercises
    empty/non-empty passes (1..13 × 1..11), with per-pass Up-filter
    state; (2) the 7-pass lattice partitions the 8×8 cell exactly once
    (the geometry constant cross-check); (3) 16-bit samples defilter
    at the 2-byte unit and fold to the high byte; (4) sub-8-bit depth
    still raises."""
    import struct

    import pytest

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _ADAM7,
        _png_pixels,
        _synth_png_adam7_bytes,
        _synth_png16_bytes,
    )

    for w in (1, 2, 3, 7, 8, 9, 13):
        for h in (1, 2, 5, 8, 11):
            dw, dh, ch, px = _png_pixels(_synth_png_adam7_bytes(w, h))
            assert (dw, dh, ch) == (w, h, 1)
            for y in range(h):
                for x in range(w):
                    assert px[y * w + x] == (x * 5 + y * 7) % 251, (w, h, x, y)

    cells = {}
    for x0, y0, dx, dy in _ADAM7:
        for x in range(x0, 8, dx):
            for y in range(y0, 8, dy):
                assert (x, y) not in cells
                cells[(x, y)] = True
    assert len(cells) == 64  # the passes PARTITION the lattice

    for w, h in ((1, 1), (4, 3), (8, 6)):
        dw, dh, ch, px = _png_pixels(_synth_png16_bytes(w, h))
        assert (dw, dh, ch) == (w, h, 1)
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == ((x * 301 + y * 517) % 65536) >> 8

    # sub-8-bit grayscale decodes since round 8 (test_png_sub8_decode_
    # exact) — the honest raise here is now a spec-ILLEGAL depth
    b = bytearray(_synth_png16_bytes(4, 3))
    import zlib

    ihdr = b.find(b"IHDR")
    b[ihdr + 4 + 8] = 3  # depth byte inside IHDR payload
    # re-seal the chunk CRC the decoder verifies since round 8 — the
    # point of this tamper is the depth gate, not CRC detection
    b[ihdr + 4 + 13 : ihdr + 4 + 17] = struct.pack(
        ">I", zlib.crc32(bytes(b[ihdr : ihdr + 4 + 13])) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError):
        _png_pixels(bytes(b))


def test_adam7_geometry_matches_spec_fixture():
    """Spec-conformance fixture for the Adam7 pass geometry (round-6
    ADVICE: the encoder twin ``_synth_png_adam7_bytes`` and the
    decoder share the ``_ADAM7`` constant, so a typo there would
    cancel out of every round-trip test).  This test hardcodes the
    PNG spec's 8×8 pass-number matrix and per-pass scan coordinates
    LITERALLY — nothing here is computed from ``_ADAM7`` — builds an
    8×8 grayscale Adam7 file whose stored samples are the sequential
    counter 0..63 in interlaced transmission order, and asserts the
    decoder places every counter at the spec's coordinates."""
    import struct
    import zlib

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
    )

    # PNG spec (ISO/IEC 15948 §8.2), the canonical 8×8 pass matrix:
    #   1 6 4 6 2 6 4 6
    #   7 7 7 7 7 7 7 7
    #   5 6 5 6 5 6 5 6
    #   7 7 7 7 7 7 7 7
    #   3 6 4 6 3 6 4 6
    #   7 7 7 7 7 7 7 7
    #   5 6 5 6 5 6 5 6
    #   7 7 7 7 7 7 7 7
    spec_matrix = [
        [1, 6, 4, 6, 2, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [3, 6, 4, 6, 3, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
    ]
    # per-pass scan order: row-major over that pass's cells
    coords = {p: [] for p in range(1, 8)}
    for y in range(8):
        for x in range(8):
            coords[spec_matrix[y][x]].append((x, y))
    # transmission order: passes 1..7, each row-major; sample = counter
    expected = {}
    counter = 0
    sub_images = []
    for p in range(1, 8):
        xs = sorted({x for x, _ in coords[p]})
        ys = sorted({y for _, y in coords[p]})
        rows = []
        for y in ys:
            row = bytearray([0])  # filter None
            for x in xs:
                expected[(x, y)] = counter
                row.append(counter)
                counter += 1
            rows.append(bytes(row))
        sub_images.append(b"".join(rows))
    assert counter == 64

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"".join(sub_images)))
        + chunk(b"IEND", b"")
    )
    dw, dh, ch, px = _png_pixels(png)
    assert (dw, dh, ch) == (8, 8, 1)
    for (x, y), want in expected.items():
        assert px[y * 8 + x] == want, (x, y, px[y * 8 + x], want)


def test_png_metadata_reports_source_depth(spark):
    """real_decode_media must report the SOURCE bit depth from IHDR
    (16 for 16-bit files, 8 for true 8-bit) while the mean stays on
    the folded 8-bit pixel scale — round-6 ADVICE: the folded depth
    made the two classes indistinguishable downstream."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_png16_bytes,
        _synth_png_adam7_bytes,
        real_decode_media,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(_synth_png16_bytes(4, 3)), "t"),
            (2, "image", bytearray(_synth_png_adam7_bytes(4, 3)), "t"),
        ],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    assert got[1]["bit_depth"] == 16
    assert got[2]["bit_depth"] == 8
    want16 = sum(
        ((x * 301 + y * 517) % 65536) >> 8 for x in range(4) for y in range(3)
    ) / 12.0
    assert abs(got[1]["sample_mean"] - want16) < 1e-9  # folded-scale mean


def test_jpeg_marker_walk_fill_bytes_and_bare_eoi():
    """Spec-legal marker-stream shapes must hit clean boundaries
    (round-6 ADVICE): 0xFF fill bytes before a marker are skipped
    (decode still exact), and a file that reaches EOI with no SOS
    raises the intended ValueError instead of a struct.error from
    reading absent length bytes."""
    import pytest

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_gray_bytes,
    )

    jb = _synth_jpeg_gray_bytes(16, 8, 7)
    w0, h0, planes0, _ = _decode_jpeg(jb)
    # inject fill bytes before the first post-SOI marker
    padded = jb[:2] + b"\xff\xff\xff" + jb[2:]
    w1, h1, planes1, _ = _decode_jpeg(padded)
    assert (w0, h0) == (w1, h1)
    assert all((a == b).all() for a, b in zip(planes0, planes1))

    with pytest.raises(ValueError, match="no SOS"):
        _decode_jpeg(b"\xff\xd8\xff\xd9")


def test_jpeg_fill_bytes_reach_decode_row_and_probe(spark):
    """The depth and probe fields come from the same fill-byte-skipping
    segment walk as the decode: a padded file yields the unpadded
    file's ``real_decode_media`` row and probe row."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _stdlib_decode_row,
        _synth_jpeg_gray_bytes,
        probe_media_headers,
    )

    jb = _synth_jpeg_gray_bytes(16, 8, 7)
    padded = jb[:2] + b"\xff\xff\xff" + jb[2:]
    assert _stdlib_decode_row(padded) == ("jpeg", 16, 8, 1, 0, 8, 10.5)
    assert _stdlib_decode_row(jb) == _stdlib_decode_row(padded)

    df = spark.createDataFrame(
        [(1, "image", bytearray(jb), "t"), (2, "image", bytearray(padded), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: tuple(r)[1:] for r in probe_media_headers(df).collect()}
    assert got[1] == got[2] == ("jpeg", 16, 8, 1, 0, 8, 0)


def test_jpeg_restart_intervals_decode_exact():
    """Round 7: DRI/RSTn restart intervals decode for real — the scan
    must byte-align at each boundary (consuming a stuffed 0xFF00 pad
    byte when the 1-fill lands on 0xFF), verify the RSTn marker's
    mod-8 cycle, and RESET per-component DC prediction (a decoder that
    keeps predicting across a restart gets every post-marker DC wrong,
    which the closed-form sums catch).  Intervals of 1 (marker after
    every MCU), coprime-to-row counts, and longer-than-the-image are
    all exercised."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_420_bytes,
    )

    def closed_form(w, h, mid):
        ysum = sum(
            64 * ((bx * 7 + by * 13 + mid) % 256)
            for by in range(h // 8)
            for bx in range(w // 8)
        )
        csum = sum(
            256 * (((cx * 11 + cy * 3 + mid) % 256)
                   + ((cx * 5 + cy * 17 + 2 * mid) % 256))
            for cy in range(h // 16)
            for cx in range(w // 16)
        )
        return ysum, csum

    for (w, h, mid, ri) in [
        (32, 48, 7, 1),      # RST after every MCU
        (32, 48, 7, 2),
        (48, 32, 123, 3),    # interval coprime to the 3-MCU rows
        (64, 64, 200, 5),
        (64, 48, 99, 17),    # interval longer than the image: no RSTs
    ]:
        b = _synth_jpeg_420_bytes(w, h, mid, restart_interval=ri)
        n_mcu = (w // 16) * (h // 16)
        n_rst = sum(
            1 for i in range(len(b) - 1)
            if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7
        )
        assert n_rst == max(0, (n_mcu - 1) // ri), (w, h, ri, n_rst)
        ww, hh, planes, _ = _decode_jpeg(b)
        ey, ec = closed_form(w, h, mid)
        assert (ww, hh) == (w, h)
        assert int(planes[0].astype("int64").sum()) == ey, (w, h, mid, ri)
        got_c = int(planes[1].astype("int64").sum()) + int(
            planes[2].astype("int64").sum()
        )
        assert got_c == ec, (w, h, mid, ri)

    # a corrupted restart sequence must fail loudly, not desync: swap
    # the first RST0 for RST3 and the decoder has to reject it
    b = bytearray(_synth_jpeg_420_bytes(64, 64, 41, restart_interval=2))
    for i in range(len(b) - 1):
        if b[i] == 0xFF and b[i + 1] == 0xD0:
            b[i + 1] = 0xD3
            break
    import pytest as _pytest

    with _pytest.raises(ValueError, match="restart boundary"):
        _decode_jpeg(bytes(b))


def test_jpeg_progressive_decode_matches_baseline():
    """Round 7: progressive (SOF2) JPEG decodes for REAL — spectral
    selection + successive approximation per T.81 §G.  Oracle device:
    the SAME deterministic coefficient field is serialized twice, as a
    baseline stream (whose decode path is closed-form driver-gated)
    and as a 8/12-scan progressive script; the decoded planes must be
    BIT-IDENTICAL.  The field is built so every progressive mechanism
    carries real data: odd DCs put 1-bits in the DC refinement scan,
    the zigzag-2 coefficient (|v| ≤ 7) refines across every tier, the
    zigzag-40 coefficient (|v| ≤ 3) is invisible to the Al=2 first
    scan — its band is a pure cross-block EOB run — and then appears
    via newly-nonzero insertions after ZRL zero-history skips in the
    refinement scans; chroma refines 1→0 with correction bits.  Color
    covers 4:2:0 with interleaved DC scans over the PADDED grid vs
    single-component AC scans over the unpadded grid (40×32 forces
    them to differ), and restart intervals exercise per-scan RSTn
    cycles with EOB-run flushes."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_baseline_from_field,
        _synth_jpeg_progressive_bytes,
    )

    for color in (False, True):
        sizes = (
            [(16, 16), (40, 32), (32, 48)] if color else [(8, 8), (24, 16), (40, 32)]
        )
        for (w, h) in sizes:
            for mid in (0, 3, 255):
                for ri in (0, 2):
                    bb = _synth_jpeg_baseline_from_field(
                        w, h, mid, color, restart_interval=ri
                    )
                    pb = _synth_jpeg_progressive_bytes(
                        w, h, mid, color=color, restart_interval=ri
                    )
                    assert b"\xff\xc0" in bb and b"\xff\xc2" in pb  # SOF0 vs SOF2
                    w0, h0, p0, _ = _decode_jpeg(bb)
                    w1, h1, p1, _ = _decode_jpeg(pb)  # dispatches
                    assert (w0, h0) == (w1, h1) == (w, h)
                    assert len(p0) == len(p1) == (3 if color else 1)
                    for a, b in zip(p0, p1):
                        assert a.dtype == np.uint8 and (a == b).all(), (
                            color, w, h, mid, ri,
                        )

    # truncation inside a scan must fail loudly, not return garbage
    import pytest

    pb = _synth_jpeg_progressive_bytes(24, 16, 3)
    with pytest.raises((ValueError, IndexError)):
        _decode_jpeg(pb[: len(pb) // 2])


def test_png_sub8_decode_exact():
    """Round 8: 1/2/4-bit PNGs decode for real — packed MSB-first rows
    defilter at the spec's 1-byte filter unit, unpack, and (grayscale)
    scale by the exact integer 255/(2^d - 1).  Widths are chosen to
    leave trailing pad bits in most rows; a decoder that reads them, or
    unpacks LSB-first, gets different pixels."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
        _synth_png_sub8_bytes,
    )

    for mid in (0, 1, 2, 5, 13, 21, 29, 37, 101):
        w, h, d = 2 + mid % 9, 1 + mid % 6, (1, 2, 4)[mid % 3]
        ww, hh, ch, px = _png_pixels(_synth_png_sub8_bytes(w, h, d, mid))
        assert (ww, hh, ch) == (w, h, 1)
        scale = 255 // ((1 << d) - 1)
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == ((x * 3 + y * 5 + mid) % (1 << d)) * scale


def test_png_sub8_palette_decode_exact():
    """Sub-8-bit PALETTE PNGs resolve indices through PLTE unscaled —
    the index is an identifier, not an intensity (same policy as the
    8-bit type-3 path and the GIF color table)."""
    import struct
    import zlib

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    plte = bytes((i * 7) % 256 for i in range(48))  # 16 RGB entries
    w, h, d = 5, 3, 4  # 5 nibbles/row -> 3 bytes with a pad nibble
    raw = bytearray()
    for y in range(h):
        line = bytearray((w * d + 7) // 8)
        for x in range(w):
            v = (x + 2 * y) % 16
            bp = x * d
            line[bp >> 3] |= v << (8 - d - (bp & 7))
        raw.append(0)
        raw.extend(line)
    b = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, d, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    ww, hh, ch, px = _png_pixels(b)
    assert (ww, hh, ch) == (w, h, 3)
    want = bytes(
        plte[3 * ((x + 2 * y) % 16) + c]
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    assert px == want


def test_png_sub8_interlace_decodes():
    """Sub-8 + Adam7 DECODES since late round 8 (the last legal PNG
    variant combination): the 16-byte all-zero stream below is exactly
    the five non-empty 4×4 Adam7 passes at depth 4 with their packed
    per-pass row widths (2+2+2+4+6 filter+data bytes) — it must
    decode to 16 zero pixels, and the synthesizer pair is pinned
    across dims/depths in test_png_sub8_roundtrip_any_dims.  Sub-8
    multi-channel color stays out: it is ILLEGAL per the spec's depth
    table, and raises."""
    import struct
    import zlib

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    b = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 4, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(16)))
        + chunk(b"IEND", b"")
    )
    w, h, ch, px = _png_pixels(b)
    assert (w, h, ch) == (4, 4, 1)
    assert px == bytes(16)

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(64)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        _png_pixels(bad)


# column names for the sample-table walk's six statistics
MP4_STBL_NAMES = (
    "n_samples", "sum_sample_bytes", "n_chunks", "duration", "sum_offsets",
    "stsc_samples",
)


def test_mp4_stbl_walk_exact():
    """Round 8: the sample-table walk recovers every known quantity —
    stsz count + size sum, stco count + offset sum, ALL stts runs, and
    the run-length stsc resolution (which must agree with the stsz
    count on a consistent file)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _mp4_sample_table_stats,
        _mp4_stbl_fields,
        _synth_mp4_stbl_bytes,
    )

    ids = [7, 15, 23, 31, 39, 55, 103]
    got = {
        mid: dict(zip(MP4_STBL_NAMES, _mp4_sample_table_stats(_synth_mp4_stbl_bytes(mid))))
        for mid in ids
    }
    for mid in ids:
        n, sizes, spc, nc, n1, d1, d2, offsets = _mp4_stbl_fields(mid)
        r = got[mid]
        assert r["n_samples"] == n
        assert r["sum_sample_bytes"] == sum(sizes)
        assert r["n_chunks"] == nc
        assert r["duration"] == n1 * d1 + (n - n1) * d2
        assert r["sum_offsets"] == sum(offsets)
        assert r["stsc_samples"] == n  # run-length resolution closes


def test_mp4_stbl_uniform_stsz():
    """The uniform-size stsz form (sample_size != 0, NO size list) is
    a distinct spec path — the walk must multiply, not read absent
    entries."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _mp4_sample_table_stats,
    )

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    full = b"\x00\x00\x00\x00"
    stsz = full + struct.pack(">II", 48, 5)  # uniform 48 bytes x 5
    stco = full + struct.pack(">IIII", 3, 100, 200, 300)
    stts = full + struct.pack(">III", 1, 5, 10)
    stsc = full + struct.pack(">IIII", 1, 1, 2, 1)
    stbl = box(b"stsz", stsz) + box(b"stco", stco) + box(b"stts", stts) + box(
        b"stsc", stsc
    )
    b = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + box(
        b"moov",
        box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stbl)))),
    )
    r = dict(zip(MP4_STBL_NAMES, _mp4_sample_table_stats(b)))
    assert r["n_samples"] == 5
    assert r["sum_sample_bytes"] == 240
    assert r["n_chunks"] == 3
    assert r["sum_offsets"] == 600
    assert r["duration"] == 50
    assert r["stsc_samples"] == 6  # 3 chunks x 2 — a real (padded) resolution


def test_jpeg_multiscan_sequential_raises():
    """Spec-legal non-interleaved layout (SOS covering a SUBSET of SOF
    components) raises the documented NotImplementedError instead of a
    KeyError from the MCU walk (ADVICE r07)."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_420_bytes,
    )

    b = _synth_jpeg_420_bytes(32, 16, 9)
    sos = b.find(b"\xff\xda")
    assert sos > 0
    (seglen,) = struct.unpack(">H", b[sos + 2 : sos + 4])
    payload = b[sos + 4 : sos + 2 + seglen]
    assert payload[0] == 3
    # rewrite the SOS to cover only the first component
    new_payload = bytes([1]) + payload[1:3] + payload[7:10]
    rewritten = (
        b[: sos + 2]
        + struct.pack(">H", 2 + len(new_payload))
        + new_payload
        + b[sos + 2 + seglen :]
    )
    with pytest.raises(NotImplementedError, match="multi-scan"):
        _decode_jpeg(rewritten)


def test_jpeg_truncated_at_restart_boundary_raises():
    """A stream cut exactly at a restart boundary raises the typed
    ValueError, not IndexError from scanning past the buffer
    (ADVICE r07)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_420_bytes,
    )

    b = _synth_jpeg_420_bytes(32, 32, 5, restart_interval=1)
    first_rst = next(
        i for i in range(len(b) - 1) if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7
    )
    with pytest.raises(ValueError, match="truncated at restart boundary"):
        _decode_jpeg(b[:first_rst])


def test_jpeg_malformed_progressive_scan_is_typed():
    """A progressive scan header naming no component, and a DC
    difference too wide for the coefficient buffer (category 70), are
    malformed input: ValueError, not IndexError / OverflowError."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _BitWriter,
        _decode_jpeg,
        _jpeg_seg,
    )

    head = (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, b"\x00" + bytes([1] * 64))
        + _jpeg_seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + _jpeg_seg(0xC4, b"\x00" + bytes([1] + [0] * 15) + bytes([70]))
    )
    bw = _BitWriter()
    bw.write(0, 1)  # the table's one code: DC category 70
    bw.write((1 << 70) - 1, 70)
    wide = head + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bw.flush()
    with pytest.raises(ValueError, match="int64"):
        _decode_jpeg(wide + b"\xff\xd9")
    with pytest.raises(ValueError, match="no component"):
        _decode_jpeg(head + _jpeg_seg(0xDA, bytes([0, 0, 0, 0])) + b"\xff\xd9")


def test_jpeg_zigzag_and_huffman_spec_fixture():
    """Spec-conformance fixture (round-7 verdict task): the synthesizer
    and decoder SHARE the _ZIGZAG and canonical-Huffman code, so a typo
    there cancels in every roundtrip test.  This fixture computes
    NOTHING from the shared constants:

    - _ZIGZAG is pinned against the T.81 Figure A.6 scan order typed
      here as raster indices, literally;
    - _huff_canonical is pinned against the Annex K Table K.3
      luminance-DC table, whose canonical codes are written out
      literally from the spec;
    - a complete 8x8 grayscale JPEG is assembled BYTE BY BYTE from
      spec literals (unit DQT, SOF0, the K.3 DC table, a one-entry AC
      table, hand-computed entropy bits '110'+'10000'+'0' padded with
      1s = 0xD07F) and must decode to the hand-computed constant plane
      128 + (16-diff DC) / 8 = 130."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _ZIGZAG,
        _decode_jpeg,
        _huff_canonical,
    )

    # ITU T.81 Figure A.6 zigzag order, as raster (row*8 + col) indices
    spec_zigzag = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert list(_ZIGZAG) == spec_zigzag

    # Annex K Table K.3 (luminance DC): bits + vals from the spec,
    # expected canonical codes written literally
    k3_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    k3_vals = list(range(12))
    want = {
        0: (0b00, 2), 1: (0b010, 3), 2: (0b011, 3), 3: (0b100, 3),
        4: (0b101, 3), 5: (0b110, 3), 6: (0b1110, 4), 7: (0b11110, 5),
        8: (0b111110, 6), 9: (0b1111110, 7), 10: (0b11111110, 8),
        11: (0b111111110, 9),
    }
    assert _huff_canonical(k3_bits, k3_vals) == want

    # hand-assembled single-block grayscale JPEG
    jpeg = bytes(
        [0xFF, 0xD8]  # SOI
        + [0xFF, 0xDB, 0x00, 0x43, 0x00] + [1] * 64  # DQT 0, all ones
        + [0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x08, 0x00, 0x08,
           0x01, 0x01, 0x11, 0x00]  # SOF0 8x8, 1 comp, 1x1, q0
        + [0xFF, 0xC4, 0x00, 0x1F, 0x00] + k3_bits + k3_vals  # DHT DC 0
        + [0xFF, 0xC4, 0x00, 0x14, 0x10, 1] + [0] * 15 + [0x00]
        # DHT AC 0: one 1-bit code -> EOB is '0'
        + [0xFF, 0xDA, 0x00, 0x08, 0x01, 0x01, 0x00, 0x00, 0x3F, 0x00]  # SOS
        + [0xD0, 0x7F]  # '110' (DC cat 5) + '10000' (diff 16) + '0' (EOB) + 1-pad
        + [0xFF, 0xD9]  # EOI
    )
    w, h, planes, _ = _decode_jpeg(jpeg)
    assert (w, h) == (8, 8)
    assert planes[0].shape == (8, 8)
    assert (planes[0] == np.full((8, 8), 130, dtype=np.uint8)).all()


def test_jpeg_sampling_factors_up_to_4_decode_exact():
    """Round 8: the full spec-legal sampling-factor range (1..4 under
    the divisor constraint) decodes — 4:1:1 (Y 4x1), 4:4:0 (Y 1x2),
    and an asymmetric 4x2 luma layout are pinned against closed-form
    per-plane sums; a non-divisor combination (3:2) raises the honest
    NotImplementedError rather than mis-upsampling."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg_sampled_bytes,
    )

    cases = [
        ([(4, 1), (1, 1), (1, 1)], 64, 16, 11),   # 4:1:1
        ([(1, 2), (1, 1), (1, 1)], 16, 32, 23),   # 4:4:0 vertical
        ([(4, 2), (2, 1), (1, 1)], 64, 32, 5),    # mixed divisor tiers
        ([(4, 4), (2, 2), (1, 1)], 32, 32, 7),    # 4x4 luma
    ]
    for factors, w, h, mid in cases:
        b = _synth_jpeg_sampled_bytes(w, h, mid, factors)
        ww, hh, planes, _ = _decode_jpeg(b)
        assert (ww, hh) == (w, h)
        hmax = max(f[0] for f in factors)
        vmax = max(f[1] for f in factors)
        for ci, (fh, fv) in enumerate(factors):
            bw_n = w * fh // hmax // 8
            bh_n = h * fv // vmax // 8
            rep = (hmax // fh) * (vmax // fv)
            want = 64 * rep * sum(
                (bx * 7 + by * 13 + mid + 37 * ci) % 256
                for by in range(bh_n)
                for bx in range(bw_n)
            )
            got = int(planes[ci].astype("int64").sum())
            assert got == want, (factors, ci, got, want)

    # round 8 (late): NON-DIVISOR combinations decode too, through the
    # generic nearest-neighbor index map src = x·Hi // Hmax — pinned
    # against an independent pure-python resample of the block-constant
    # content (3:2 horizontal, and a 3:2 × 2:1 mixed case)
    for factors, w, h, mid in [
        ([(3, 1), (2, 1), (1, 1)], 48, 16, 9),
        ([(3, 2), (2, 1), (1, 1)], 24, 16, 4),
        ([(4, 3), (3, 2), (1, 1)], 96, 48, 7),
    ]:
        b = _synth_jpeg_sampled_bytes(w, h, mid, factors)
        ww, hh, planes, _ = _decode_jpeg(b)
        assert (ww, hh) == (w, h)
        hmax = max(f[0] for f in factors)
        vmax = max(f[1] for f in factors)
        for ci, (fh, fv) in enumerate(factors):
            want = sum(
                ((((x * fh) // hmax) // 8) * 7
                 + (((y * fv) // vmax) // 8) * 13 + mid + 37 * ci) % 256
                for y in range(h)
                for x in range(w)
            )
            got = int(planes[ci].astype("int64").sum())
            assert got == want, (factors, ci, got, want)


def test_jpeg12_extended_sequential_decode_exact():
    """Round 8: 12-BIT PRECISION decodes for real through the
    extended-sequential process (SOF1 P=12, Pq=1 16-bit quant tables,
    level shift 2048, clip at 4095, uint16 planes).  Both synthesizer
    regimes are pinned against the closed form: q0=256 content (the
    two-byte quant parse is load-bearing — an 8-bit misread desyncs or
    rescales) and q0=1 full-range content whose DC diffs span SSSS
    categories up to 15.  Malformed typings hold: 12-bit under SOF0 is
    ValueError (Table B.2), as is any precision outside {8, 12}."""
    import struct

    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg,
        _synth_jpeg12_gray_bytes,
    )

    # ids from the driver's own residue class (%8==3, both //8
    # parities) plus loose ids covering every size class
    for mid in (3, 11, 19, 27, 83, 91, 0, 1, 2, 4, 5, 13):
        w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
        b = _synth_jpeg12_gray_bytes(w, h, mid)
        dw, dh, planes, _ = _decode_jpeg(b)
        assert (dw, dh) == (w, h)
        p = planes[0]
        assert p.dtype == np.uint16
        for by in range(h // 8):
            for bx in range(w // 8):
                if (mid // 8) % 2 == 0:
                    v = 2048 + 32 * (((bx * 7 + by * 13 + mid) % 64) - 32)
                else:
                    v = (709 * bx + 1301 * by + 37 * mid) % 4096
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == v).all(), (mid, bx, by, v, int(blk[0, 0]))
        # 12-bit values actually exceed the 8-bit range somewhere in
        # the full-range regime, so a uint8 clip could not fake this
        if (mid // 8) % 2 == 1 and w * h >= 128:
            assert int(p.max()) > 255

    # 12-bit under baseline SOF0 is malformed input, typed ValueError
    b = bytearray(_synth_jpeg12_gray_bytes(8, 8, 3))
    i = bytes(b).find(b"\xff\xc1")
    b[i + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF0"):
        _decode_jpeg(bytes(b))

    # precision outside {8, 12} is malformed, not a capability gap
    b = bytearray(_synth_jpeg12_gray_bytes(8, 8, 3))
    i = bytes(b).find(b"\xff\xc1")
    b[i + 4] = 10
    with pytest.raises(ValueError, match="8 or 12"):
        _decode_jpeg(bytes(b))

    # the 16-bit quant values are genuinely load-bearing: halve q0 in
    # the serialized table and the decoded pixels must change
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _decode_jpeg as dec,
    )

    b = bytearray(_synth_jpeg12_gray_bytes(16, 8, 4))  # q0=256 regime
    i = bytes(b).find(b"\xff\xdb")
    # DQT payload: len(2) + Pq/Tq(1) + 64 u16 — q0 hi byte at i+5
    assert b[i + 5] == 1 and b[i + 6] == 0  # 256 big-endian
    b[i + 5], b[i + 6] = 0, 128  # q0 = 128
    _, _, planes_q, _ = dec(bytes(b))
    _, _, planes_o, _ = dec(_synth_jpeg12_gray_bytes(16, 8, 4))
    assert int(planes_q[0].astype("int64").sum()) != int(
        planes_o[0].astype("int64").sum()
    )


def test_tiff_decode_exact_and_boundaries():
    """Round 8: baseline grayscale TIFF decodes for real — typed IFD
    walk in BOTH byte orders, inline-vs-external value resolution per
    the 4-byte rule, RowsPerStrip strip assembly with a ragged tail,
    PackBits inflate, and TIFF-flavor LZW (early-change width rule,
    Clear/EOI, KwKwK).  Pinned against the closed form across the
    (endianness × compression) matrix; JPEG-in-TIFF raises the honest
    NotImplementedError; structural violations are typed ValueError."""
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode_row,
        _parse_tiff,
        _synth_tiff_bytes,
    )

    # ids covering the (endianness × none/PackBits/LZW × gray/RGB)
    # matrix, plus single-strip (h=2 → inline count-1 LONG) and
    # ragged-tail cases
    for mid in (6, 14, 22, 30, 38, 46, 54, 62, 70, 78, 86, 94,
                102, 110, 118, 126, 134, 142, 5, 16, 33, 48, 49, 65, 81):
        w, h = 3 + mid % 6, 2 + mid % 5
        want_spp = 1 + 2 * ((mid // 48) % 2)
        ww, hh, spp, px = _parse_tiff(_synth_tiff_bytes(w, h, mid))
        assert (ww, hh, spp) == (w, h, want_spp)
        assert px == bytes(
            ((x // 3) * 5 + y * 7 + mid + 91 * c) % 256
            for y in range(h) for x in range(w) for c in range(want_spp)
        ), mid

    # PackBits reference pairs from the TIFF 6.0 spec's worked example
    data = bytes.fromhex("fe aa 02 80 00 2a fd aa 03 80 00 2a 22 f7 aa".replace(" ", ""))
    expect = bytes.fromhex(
        "aa aa aa 80 00 2a aa aa aa aa 80 00 2a 22 aa aa aa aa aa aa aa aa aa aa".replace(" ", "")
    )
    assert _packbits_decode(data, len(expect)) == expect
    # and the encoder's output round-trips through the decoder
    row = bytes([7] * 5 + [1, 2, 3] + [9] * 130 + [4])
    assert _packbits_decode(_packbits_encode_row(row), len(row)) == row

    # TIFF LZW decodes for real (variant cells above include comp=5);
    # a hand-computed 9-bit code sequence pins the early-change
    # convention at the wire level: Clear,'a',258,'b',260,EOI packed
    # MSB-first must decode to 'aaabbb' and re-encode byte-identically
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    codes, acc, nb, buf = [256, 97, 258, 98, 260, 257], 0, 0, bytearray()
    for c in codes:
        acc, nb = (acc << 9) | c, nb + 9
        while nb >= 8:
            nb -= 8
            buf.append((acc >> nb) & 0xFF)
    if nb:
        buf.append((acc << (8 - nb)) & 0xFF)
    assert _lzw_decode_tiff(bytes(buf), 6) == b"aaabbb"
    assert _lzw_encode_tiff(b"aaabbb") == bytes(buf)
    # a stream long enough to cross the 9->10-bit early change and the
    # 4094-entry reset round-trips
    import random as _random

    long_raw = bytes(_random.Random(3).randrange(256) for _ in range(30000))
    assert _lzw_decode_tiff(_lzw_encode_tiff(long_raw), len(long_raw)) == long_raw

    # JPEG-in-TIFF is the honest libtiff boundary now
    b = bytearray(_synth_tiff_bytes(6, 4, 6))
    e = "<" if bytes(b[:2]) == b"II" else ">"
    ifd = struct.unpack(e + "I", b[4:8])[0]
    n = struct.unpack(e + "H", b[ifd : ifd + 2])[0]
    for k in range(n):
        p = ifd + 2 + 12 * k
        if struct.unpack(e + "H", b[p : p + 2])[0] == 259:
            b[p + 8 : p + 10] = struct.pack(e + "H", 7)
    with pytest.raises(NotImplementedError, match="JPEG-in-TIFF"):
        _parse_tiff(bytes(b))

    # malformed input is typed ValueError, not an index crash
    with pytest.raises(ValueError, match="not a TIFF"):
        _parse_tiff(b"XX\x2a\x00")
    good = _synth_tiff_bytes(6, 4, 6)
    with pytest.raises(ValueError):
        _parse_tiff(good[:20])  # IFD offset past EOF / missing tags


def test_flac_decode_exact_and_boundaries():
    """Round 8: FLAC decodes for real.  The synthesizer matrix
    (subframe kind × channels × decorrelation × partition order ×
    multi-frame) is pinned against exact per-channel samples; the
    decode paths the gate matrix does not emit — right/side stereo
    and wasted-bits shifts — are exercised by hand-built frames; CRC
    tampering and structural violations are typed ValueError."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _BitWriter,
        _crc8_flac,
        _crc16_flac,
        _flac_utf8_code,
        _parse_flac,
        _synth_flac_bytes,
        _write_subframe,
    )

    # driver-residue ids (%8==2) covering every (kind, ch, decor) cell
    for mid in (2, 10, 18, 26, 34, 42, 50, 58, 66, 74, 82, 90, 98, 3, 17):
        sr, ch, bps, chans = _parse_flac(_synth_flac_bytes(mid))
        n = 16 + mid % 32
        kind = ["verbatim", "fixed2", "lpc2", "constant"][(mid // 8) % 4]
        assert (sr, ch, bps) == (8000, 1 + mid % 2, 16)
        for c in range(ch):
            if kind == "constant":
                exp = [((mid * 37 + 100 * c) % 2048) - 1024] * n
            else:
                exp = [((j * (37 if c == 0 else 53)) % (2048 if c == 0 else 1024))
                       - (1024 if c == 0 else 512) for j in range(n)]
            assert chans[c] == exp, (mid, c)

    # a hand-built RIGHT/SIDE stereo frame (assignment 0b1001), plus a
    # verbatim subframe carrying a real WASTED-BITS shift
    left = [4 * j - 30 for j in range(8)]
    right = [2 * j - 10 for j in range(8)]
    side = [left[j] - right[j] for j in range(8)]
    si = _BitWriter(stuffed=False)
    si.write(8, 16); si.write(8, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(1, 3); si.write(15, 5); si.write(8, 36)
    stream = bytearray(b"fLaC")
    info = bytes(si.out) + bytes(16)
    stream += bytes([0x80, 0, 0, len(info)]) + info
    bw = _BitWriter(stuffed=False)
    bw.write(0b11111111111110, 14); bw.write(0, 1); bw.write(0, 1)
    bw.write(0b0110, 4); bw.write(0b0000, 4)
    bw.write(0b1001, 4)  # right/side
    bw.write(0b100, 3); bw.write(0, 1)
    bw.write(_flac_utf8_code(0)[0], 8)
    bw.write(7, 8)  # blocksize-1
    bw.write(_crc8_flac(bytes(bw.out)), 8)
    # subframe 1: side at bps+1, all values EVEN -> encode with one
    # wasted bit (type verbatim, wasted flag set, unary count 1,
    # samples pre-shifted right by 1)
    assert all(v % 2 == 0 for v in side)
    bw.write(0, 1); bw.write(0b000001, 6)
    bw.write(1, 1)          # wasted-bits flag
    bw.write(1, 1)          # unary 0 -> wasted = 1 (a single 1-bit)
    for v in side:
        bw.write(v >> 1, 17 - 1)
    # subframe 2: right, plain verbatim
    _write_subframe(bw, right, 16, "verbatim")
    bw.align()
    bw.write(_crc16_flac(bytes(bw.out)), 16)
    stream += bytes(bw.out)
    sr, ch, bps, chans = _parse_flac(bytes(stream))
    assert (ch, bps) == (2, 16)
    assert chans[0] == left and chans[1] == right

    # CRC tampering is typed loud: flip one payload byte near the end
    good = bytearray(_synth_flac_bytes(10))
    good[-3] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        _parse_flac(bytes(good))

    # variable-blocksize streams are the honest boundary
    vb = bytearray(_synth_flac_bytes(10))
    # STREAMINFO min/max blocksize live right after the 4+4 byte heads
    vb[8:10] = (15).to_bytes(2, "big")  # min != max
    with pytest.raises(NotImplementedError, match="variable-blocksize"):
        _parse_flac(bytes(vb))

    with pytest.raises(ValueError, match="not a FLAC"):
        _parse_flac(b"fLaX" + bytes(40))


def test_real_decode_media_routes_tiff_and_flac(spark):
    """Round 8: the user-facing sniffing decoder routes TIFF (both
    byte orders) and FLAC payloads through the real codecs, reporting
    format/dims/channels/rate/depth and the exact sample mean."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_flac_bytes,
        _synth_tiff_bytes,
        real_decode_media,
    )

    tif_ii = _synth_tiff_bytes(6, 4, 6)    # II, uncompressed
    tif_mm = _synth_tiff_bytes(5, 3, 14)   # MM
    flac = _synth_flac_bytes(2)            # mono verbatim
    media = spark.createDataFrame(
        [(1, "image", bytearray(tif_ii), "t"),
         (2, "image", bytearray(tif_mm), "t"),
         (3, "audio", bytearray(flac), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    for mid, (w, h) in ((1, (6, 4)), (2, (5, 3))):
        t = got[mid]
        assert (t["format"], t["width"], t["height"], t["n_channels"]) == (
            "tiff", w, h, 1,
        )
        mean = sum(
            ((x // 3) * 5 + y * 7 + (6 if mid == 1 else 14)) % 256
            for y in range(h) for x in range(w)
        ) / (w * h)
        assert abs(t["sample_mean"] - mean) < 1e-9
    f = got[3]
    n = 16 + 2 % 32
    assert (f["format"], f["width"], f["n_channels"], f["sample_rate"],
            f["bit_depth"]) == ("flac", n, 1, 8000, 16)
    mean = sum(((j * 37) % 2048) - 1024 for j in range(n)) / n
    assert abs(f["sample_mean"] - mean) < 1e-9


def test_png_chunk_crc_verified():
    """Round 8: the PNG decoder verifies each chunk's CRC-32 — a
    corrupted IDAT byte (which zlib might still inflate) or a
    corrupted stored CRC is a typed ValueError, never silently wrong
    pixels."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _png_pixels,
        _synth_png_bytes,
    )

    good = _synth_png_bytes(5, 4)
    _png_pixels(good)  # sanity: the synthesizer's CRCs are real

    # flip a byte INSIDE the IDAT payload (after the zlib header)
    tampered = bytearray(good)
    idat = good.find(b"IDAT")
    tampered[idat + 8] ^= 0x40
    with pytest.raises(ValueError, match="CRC mismatch"):
        _png_pixels(bytes(tampered))

    # flip the stored CRC itself
    tampered = bytearray(good)
    ihdr = good.find(b"IHDR")
    tampered[ihdr + 4 + 13] ^= 0x01  # first CRC byte after IHDR data
    with pytest.raises(ValueError, match="CRC mismatch"):
        _png_pixels(bytes(tampered))

    with pytest.raises(ValueError, match="truncated PNG chunk"):
        _png_pixels(good[:-6])


def test_codec_corruption_is_typed():
    """Round 8 robustness sweep: single-byte corruption and truncation
    of ANY supported container either still decodes or raises a TYPED
    error (ValueError / NotImplementedError) — never IndexError /
    KeyError / struct.error / zlib.error / StopIteration, and never a
    hang (a corrupted BMP height field used to loop for billions of
    rows; corrupted DQT/DHT/SOS used to leak KeyError; truncated
    chunks leaked struct.error — all found by this sweep's first run
    and fixed).  Payloads up to 256 bytes sweep EVERY position (the
    round-8 stride-3 sampling missed the WAV channel-count byte at
    offset 22, leaking ZeroDivisionError from a zeroed channel field
    — found by ADVICE r8, fixed round 9); larger payloads sample
    stride 3 and the full exhaustive sweep ran clean at the round-9
    fix commit."""
    import signal

    from olist_ecommerce_data_warehouse_spark.operators import multimodal as M

    cases = {
        "png": (M._synth_png_bytes(5, 4), M._png_pixels),
        "png16": (M._synth_png16_bytes(4, 3), M._png_pixels),
        "sub8": (M._synth_png_sub8_bytes(7, 3, 2, 5), M._png_pixels),
        "sub8i": (M._synth_png_sub8_adam7_bytes(9, 6, 2, 5), M._png_pixels),
        "pngpal": (M._synth_png_pal_bytes(5, 3), M._png_pixels),
        "adam7": (M._synth_png_adam7_bytes(7, 5), M._png_pixels),
        "gif": (M._synth_gif_bytes(4, 3), M._parse_gif),
        "bmp": (M._synth_bmp_bytes(4, 3), M._parse_bmp),
        "bmp8": (M._synth_bmp8_bytes(4, 3), M._parse_bmp),
        "jpeg": (M._synth_jpeg_gray_bytes(16, 8, 7), M._decode_jpeg),
        "jpeg420": (M._synth_jpeg_420_bytes(16, 16, 3), M._decode_jpeg),
        "jpegprog": (
            M._synth_jpeg_progressive_bytes(16, 16, 3, True),
            M._decode_jpeg,
        ),
        "jpeg12": (M._synth_jpeg12_gray_bytes(16, 8, 3), M._decode_jpeg),
        "jpegrst": (
            M._synth_jpeg_420_bytes(32, 16, 5, restart_interval=1),
            M._decode_jpeg,
        ),
        "tiff": (M._synth_tiff_bytes(6, 4, 22), M._parse_tiff),
        "tiffpb": (M._synth_tiff_bytes(6, 4, 30), M._parse_tiff),
        "tifflzw": (M._synth_tiff_bytes(6, 4, 38), M._parse_tiff),
        "tiffrgb": (M._synth_tiff_bytes(6, 4, 54), M._parse_tiff),
        "flac": (M._synth_flac_bytes(10), M._parse_flac),
        "flacst": (M._synth_flac_bytes(43), M._parse_flac),
        "wav": (M._synth_wav_bytes(1, 8000, 16, 20), M._parse_wav),
        "mp4": (M._synth_mp4_stbl_bytes(7), M._mp4_dims),
        "ogg": (M._synth_ogg_bytes(4), M._parse_ogg),
        "ulaw": (M._synth_wav_mulaw_bytes(30, 8), M._parse_wav_mulaw),
        "alaw": (M._synth_wav_mulaw_bytes(30, 9, alaw=True), M._parse_wav_mulaw),
    }

    class Hang(Exception):
        pass

    def on_alarm(signum, frame):
        raise Hang()

    old = signal.signal(signal.SIGALRM, on_alarm)
    try:
        for name, (good, dec) in cases.items():
            stride = 1 if len(good) <= 256 else 3
            muts = [
                (pos, xor)
                for pos in range(0, len(good), stride)
                for xor in (0x01, 0x80)
            ] + [(cut, None) for cut in range(0, len(good), 7)]
            for pos, xor in muts:
                if xor is None:
                    payload = bytes(good[:pos])
                else:
                    b = bytearray(good)
                    b[pos] ^= xor
                    payload = bytes(b)
                signal.setitimer(signal.ITIMER_REAL, 5.0)
                try:
                    dec(payload)
                except (ValueError, NotImplementedError):
                    pass
                except Hang:
                    raise AssertionError(f"{name}: hang at pos={pos} xor={xor}")
                except Exception as ex:
                    raise AssertionError(
                        f"{name}: untyped {type(ex).__name__} at pos={pos} "
                        f"xor={xor}: {ex!r}"
                    ) from ex
                finally:
                    signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, old)


def test_ogg_page_walk_exact_and_boundaries():
    """Round 8: Ogg framing (RFC 3533) walks for real — CRC-verified
    pages, lacing reassembly across a page-spanning packet, flag
    discipline.  Exact packet recovery across ids; tampered CRC,
    missing continuation flag, and mid-packet truncation are typed
    ValueError."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _ogg_packet_sizes,
        _parse_ogg,
        _synth_ogg_bytes,
    )

    for mid in (4, 12, 20, 28, 100, 101, 255):
        n_pages, pkts = _parse_ogg(_synth_ogg_bytes(mid))
        sizes = _ogg_packet_sizes(mid)
        assert n_pages == 2 and [len(p) for p in pkts] == sizes
        for j, p in enumerate(pkts):
            assert p == bytes(
                (i * 7 + j * 13 + mid) % 256 for i in range(sizes[j])
            ), (mid, j)

    good = _synth_ogg_bytes(4)
    # flip a payload byte: the page CRC must catch it
    b = bytearray(good)
    b[60] ^= 0x20
    with pytest.raises(ValueError, match="CRC"):
        _parse_ogg(bytes(b))

    # clear the continuation flag on page 2 (and re-seal its CRC):
    # the dangling spanning packet must be typed loud
    import struct

    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _ogg_crc,
    )

    b = bytearray(good)
    p2 = bytes(b).find(b"OggS", 4)
    assert p2 > 0
    b[p2 + 5] &= ~0x01
    nseg = b[p2 + 26]
    end = len(b)
    b[p2 + 22 : p2 + 26] = b"\x00\x00\x00\x00"
    b[p2 + 22 : p2 + 26] = struct.pack("<I", _ogg_crc(bytes(b[p2:end])))
    with pytest.raises(ValueError, match="dangling|pending"):
        _parse_ogg(bytes(b))

    with pytest.raises(ValueError, match="truncated|capture"):
        _parse_ogg(good[: len(good) - 10])
    with pytest.raises(ValueError, match="capture"):
        _parse_ogg(b"NotAnOggStream")


def test_wav_mulaw_decode_exact():
    """Round 8: G.711 WAV decodes for real, BOTH laws.  µ-law anchors:
    0xFF ('silence') decodes to exact 0, the extremes to ±32124 (the
    published table ceiling), each sign's segment strictly monotone in
    the byte.  A-law anchors: extremes ±32256, minimum magnitude 8 (no
    zero in A-law), all 256 bytes decode to distinct values.  The
    driver family alternates the two laws on (id // 8) % 2 and each
    half recovers its closed form; non-G.711 formats and malformed
    framing are typed ValueError."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _alaw_expand,
        _mulaw_expand,
        _parse_wav_mulaw,
        _synth_wav_bytes,
        _synth_wav_mulaw_bytes,
    )

    assert _mulaw_expand(0xFF) == 0 and _mulaw_expand(0x7F) == 0
    assert _mulaw_expand(0x80) == 32124 and _mulaw_expand(0x00) == -32124
    pos = [_mulaw_expand(b) for b in range(0x80, 0x100)]
    assert all(pos[i] > pos[i + 1] for i in range(len(pos) - 1))

    avals = [_alaw_expand(b) for b in range(256)]
    assert max(avals) == 32256 and min(avals) == -32256
    assert min(abs(v) for v in avals) == 8
    assert len(set(avals)) == 256

    for mid in (0, 8, 16, 24, 40, 96):
        n = 24 + mid % 48
        alaw = bool((mid // 8) % 2)
        ns, ch, rate, samples = _parse_wav_mulaw(
            _synth_wav_mulaw_bytes(n, mid, alaw=alaw)
        )
        assert (ns, ch, rate) == (n, 1, 8000)
        expand = _alaw_expand if alaw else _mulaw_expand
        assert samples == [expand((j * 11 + mid) % 256) for j in range(n)]

    with pytest.raises(ValueError, match="G.711"):
        _parse_wav_mulaw(_synth_wav_bytes(1, 8000, 16, 8))  # PCM
    with pytest.raises(ValueError, match="not a WAV"):
        _parse_wav_mulaw(b"RIFFxxxxNOPE")


def test_real_decode_media_routes_g711_wav(spark):
    """Round 9 (ADVICE r8): the generic sniffing decoder dispatches on
    the fmt chunk's format code — a valid G.711 µ-law/A-law WAV routes
    to the real expander instead of being misreported as 'malformed
    WAV' by the stdlib path (which only reads PCM).  Exact mean over
    the known companded byte stream, both laws, plus PCM untouched."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _alaw_expand,
        _mulaw_expand,
        _synth_wav_bytes,
        _synth_wav_mulaw_bytes,
        real_decode_media,
    )

    ulaw = _synth_wav_mulaw_bytes(30, 8)                 # fmt code 7
    alaw = _synth_wav_mulaw_bytes(30, 9, alaw=True)      # fmt code 6
    pcm = _synth_wav_bytes(1, 8000, 16, 20)              # fmt code 1
    media = spark.createDataFrame(
        [(1, "audio", bytearray(ulaw), "t"),
         (2, "audio", bytearray(alaw), "t"),
         (3, "audio", bytearray(pcm), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    for mid, law_mid, expand in ((1, 8, _mulaw_expand), (2, 9, _alaw_expand)):
        r = got[mid]
        assert (r["format"], r["n_channels"], r["sample_rate"], r["bit_depth"]) == (
            "wav", 1, 8000, 8,
        )
        samples = [expand((j * 11 + law_mid) % 256) for j in range(30)]
        assert r["width"] == 30  # n_samples per channel in the width slot
        assert abs(
            r["sample_mean"] - sum(abs(s) for s in samples) / 30 / 32768.0
        ) < 1e-12
    assert got[3]["format"] == "wav" and got[3]["bit_depth"] == 16


def test_wav_mulaw_zero_channels_is_typed():
    """Round 9 (ADVICE r8): a zeroed channel-count field (byte 22) in a
    G.711 WAV raises the typed ValueError, not ZeroDivisionError."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _parse_wav_mulaw,
        _synth_wav_mulaw_bytes,
    )

    b = bytearray(_synth_wav_mulaw_bytes(30, 8))
    b[22] = 0  # nChannels low byte (mono → 0)
    b[23] = 0
    with pytest.raises(ValueError, match="zero channels"):
        _parse_wav_mulaw(bytes(b))


def test_real_decode_media_reports_true_jpeg12_precision(spark):
    """Round 9 (ADVICE r8): bit_depth for a 12-bit JPEG is the SOF
    precision (12), not the uint16 storage dtype width (16)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_jpeg12_gray_bytes,
        _synth_jpeg_gray_bytes,
        real_decode_media,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(_synth_jpeg12_gray_bytes(16, 8, 3)), "t"),
         (2, "image", bytearray(_synth_jpeg_gray_bytes(16, 8, 7)), "t")],
        "media_id long, kind string, payload binary, source string",
    )
    got = {r["media_id"]: r for r in real_decode_media(media).collect()}
    assert got[1]["format"] == "jpeg" and got[1]["bit_depth"] == 12
    assert got[2]["format"] == "jpeg" and got[2]["bit_depth"] == 8


def test_flac_utf8_code_large_frame_numbers():
    """Round 9 (ADVICE r8): the UTF-8-style frame-number coding
    round-trips across byte-length boundaries up to the 36-bit max —
    the old threshold overflowed the lead byte for n >= 2048 (3000
    encoded as 952)."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _flac_utf8_code,
    )

    def decode(bs):
        lead = bs[0]
        if lead < 0x80:
            assert len(bs) == 1
            return lead
        nb = 0
        m = lead
        while m & 0x80:
            nb += 1
            m = (m << 1) & 0xFF
        assert len(bs) == nb
        n = lead & (0x7F >> nb)
        for c in bs[1:]:
            assert c >> 6 == 0b10
            n = (n << 6) | (c & 0x3F)
        return n

    edges = [0, 1, 0x7F, 0x80, 2047, 2048, 3000, 65535, 65536,
             (1 << 16) - 1, 1 << 20, (1 << 31) - 1, (1 << 36) - 1]
    for lo in (0x80, 2048, 1 << 16, 1 << 21, 1 << 26, 1 << 31):
        edges += [lo - 1, lo, lo + 1]
    for n in edges:
        if n < 0:
            continue
        assert decode(_flac_utf8_code(n)) == n, n


def test_gate_decode_rejects_truncated_gif_and_bmp():
    """The decode:gif, decode:bmp and decode:wav gates run the same
    decoders as real_decode_media (``_parse_gif`` / ``_parse_bmp`` /
    ``_parse_wav``), input checks included: a 24bpp BMP cut inside its
    last pixel row, a GIF whose sub-block chain is cut before its
    terminator, a WAV whose data chunk holds fewer frames than its
    header declares and a WAV cut inside its fmt chunk raise
    ValueError — never a silently short sum or an untyped IndexError
    or EOFError."""
    from olist_ecommerce_data_warehouse_spark.operators.multimodal import (
        _synth_bmp_bytes,
        _synth_container_bytes,
        _synth_gif_bytes,
    )
    from olist_ecommerce_data_warehouse_spark.plans.multimodal import GATE_FAMILIES

    fams = {f.kind: f for f in GATE_FAMILIES}
    wav = _synth_container_bytes(2)  # 80 bytes: 18 mono 16-bit samples
    cases = [
        (fams["decode:bmp"], _synth_bmp_bytes(4, 3)[:-5], "BMP pixel array past EOF"),
        (fams["decode:gif"], _synth_gif_bytes(4, 3)[:-2], "truncated GIF sub-block chain"),
        (fams["decode:wav"], wav[:-20], "WAV data chunk truncated: 8 of 18 frames"),
        (fams["decode:wav"], wav[:30], "malformed WAV"),
    ]
    for fam, payload, msg in cases:
        with pytest.raises(ValueError, match=msg):
            fam.stats(payload)
