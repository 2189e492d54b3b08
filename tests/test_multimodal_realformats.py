"""Real-container codec boundary: PNG/JPEG/GIF through the same Spark
plumbing as the FAKE format (closes VERDICT r08 gap #1).

Headers parse for all three containers; baseline PNGs and GIF first
frames decode/resize PIXEL-LEVEL in pure stdlib (no Pillow). Fixtures
are complete valid files built byte-by-byte: zlib-chunked PNGs
(including hand-filtered and forward-filtered scanlines) and GIFs with
hand-packed LZW code streams. Unsupported variants (interlaced PNG,
JPEG pixels without Pillow) must degrade to ``resize_ok=false`` rows,
never task failures.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
    decode_image_meta,
    extract_image_meta,
    resize_media,
)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def tiny_png(w: int, h: int) -> bytes:
    """A complete valid 8-bit RGB PNG (colortype 2 -> 3 channels)."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def tiny_jpeg(w: int, h: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 carrying the frame dimensions."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 3) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def tiny_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def test_header_parsers_pure_python():
    assert decode_image_meta(tiny_png(3, 2)) == (3, 2, 3)
    assert decode_image_meta(tiny_jpeg(6, 4)) == (6, 4, 3)
    assert decode_image_meta(tiny_gif(7, 5)) == (7, 5, 3)


def test_garbage_payload_raises_cleanly():
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image_meta(b"not an image at all")


def test_real_formats_through_media_meta(spark):
    payloads = [
        (1, tiny_png(3, 2)),
        (2, tiny_jpeg(6, 4)),
        (3, tiny_gif(7, 5)),
        (4, b"garbage-bytes-here"),
    ]
    df = spark.createDataFrame(payloads, "media_id long, content binary")
    got = {r["media_id"]: r for r in extract_image_meta(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (3, 2, 3)
    assert (got[2]["width"], got[2]["height"]) == (6, 4)
    assert (got[3]["width"], got[3]["height"]) == (7, 5)
    assert got[1]["decode_ok"] and got[2]["decode_ok"] and got[3]["decode_ok"]
    assert not got[4]["decode_ok"]
    assert got[4]["width"] is None


def test_real_png_through_resize_media(spark):
    """A real baseline PNG resizes through the PURE-PYTHON pixel path
    (no Pillow needed): the thumbnail re-decodes as a valid PNG within
    bounds. A garbage payload degrades to resize_ok=false — no task
    failure."""
    df = spark.createDataFrame(
        [(10, tiny_png(8, 4)), (11, b"\x00bad")],
        "media_id long, content binary",
    )
    got = {r["media_id"]: r for r in resize_media(df, max_side=4).collect()}
    ok_row = got[10]
    assert (ok_row["src_width"], ok_row["src_height"]) == (8, 4)
    assert ok_row["resize_ok"]
    assert (ok_row["width"], ok_row["height"]) == (4, 2)
    assert ok_row["byte_len"] > 0
    bad = got[11]
    assert not bad["resize_ok"]
    assert bad["src_width"] is None


def test_png_pixel_roundtrip_and_filters():
    """The pure-Python decoder recovers exact pixels through every
    scanline filter an encoder may emit, and encode->decode is the
    identity."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode,
        _png_resize,
    )

    # encode -> decode identity on a 3x2 RGB gradient
    pixels = bytes(range(3 * 2 * 3))
    png = _png_encode(3, 2, 3, pixels)
    w, h, ch, data = _png_decode_pixels(png)
    assert (w, h, ch) == (3, 2, 3)
    assert bytes(data) == pixels

    # hand-filtered scanlines: row0 Sub (1), row1 Up (2) on 2x2 gray
    # unfiltered rows: [10, 30] and [15, 40]
    raw = bytes([1, 10, 20]) + bytes([2, 5, 10])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    body = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    w, h, ch, data = _png_decode_pixels(body)
    assert (w, h, ch) == (2, 2, 1)
    assert list(data) == [10, 30, 15, 40]

    # nearest-neighbor downscale halves a 4x2 RGB image to 2x1 and
    # keeps the sampled source pixels byte-exact
    src = bytes(range(4 * 2 * 3))
    thumb = _png_resize(_png_encode(4, 2, 3, src), 2)
    tw, th, tch, tdata = _png_decode_pixels(thumb)
    assert (tw, th, tch) == (2, 1, 3)
    assert bytes(tdata[0:3]) == src[0:3]  # (0,0) -> src (0,0)
    assert bytes(tdata[3:6]) == src[6:9]  # (1,0) -> src (2,0)


def test_png_unsupported_variants_degrade(spark):
    """A genuinely unsupported PNG variant (sub-byte truecolor — illegal
    per spec, and a stand-in for any stream the pure decoder rejects)
    surfaces as resize_ok=false with header metadata intact, never a
    task failure."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)  # depth 4, RGB
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(1, png)], "media_id long, content binary")
    row = resize_media(df, max_side=2).collect()[0]
    assert (row["src_width"], row["src_height"]) == (2, 2)
    assert not row["resize_ok"]


def _adam7_interlaced_png(w, h, ch, pixels):
    """Forward Adam7 encoder (filter-0 scanlines per pass) — the
    reference layout the decoder must invert."""
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        for r in range(ph):
            raw.append(0)
            y = y0 + r * dy
            for c in range(pw):
                off = (y * w + x0 + c * dx) * ch
                raw += pixels[off : off + ch]
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_adam7_interlaced_decodes():
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_decode_pixels,
    )

    for w, h in [(2, 2), (5, 3), (9, 9), (1, 7)]:
        pixels = bytes((i * 31 + 7) % 256 for i in range(w * h * 3))
        got = _png_decode_pixels(_adam7_interlaced_png(w, h, 3, pixels))
        assert (got[0], got[1], got[2]) == (w, h, 3)
        assert bytes(got[3]) == pixels


def test_png_palette_and_depth_variants():
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_decode_pixels,
    )

    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    # 8-bit palette, 3x1: indices 0, 2, 1
    ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x02\x01"))
        + _png_chunk(b"IEND", b"")
    )
    w, h, ch, data = _png_decode_pixels(png)
    assert (w, h, ch) == (3, 1, 3)
    assert bytes(data) == bytes([10, 20, 30, 70, 80, 90, 40, 50, 60])

    # 4-bit palette, 3x1: indices 3, 1, 0 packed MSB-first -> 0x31 0x00
    ihdr = struct.pack(">IIBBBBB", 3, 1, 4, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x31\x00"))
        + _png_chunk(b"IEND", b"")
    )
    w, h, ch, data = _png_decode_pixels(png)
    assert bytes(data) == bytes([100, 110, 120, 40, 50, 60, 10, 20, 30])

    # 16-bit grayscale, 2x1: samples 0xAB12, 0x0034 -> high bytes AB, 00
    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\xab\x12\x00\x34"))
        + _png_chunk(b"IEND", b"")
    )
    w, h, ch, data = _png_decode_pixels(png)
    assert (w, h, ch) == (2, 1, 1)
    assert list(data) == [0xAB, 0x00]

    # 1-bit grayscale, 3x1: bits 1,0,1 -> byte 0b10100000; scaled 255/0
    ihdr = struct.pack(">IIBBBBB", 3, 1, 1, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 0b10100000])))
        + _png_chunk(b"IEND", b"")
    )
    w, h, ch, data = _png_decode_pixels(png)
    assert list(data) == [255, 0, 255]


def test_png_all_filters_invert_exactly():
    """Forward-apply each scanline filter (the encoder side the decoder
    must invert) and assert pixel-exact recovery — covers Average and
    Paeth, which the hand-built case above does not."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_decode_pixels,
    )

    def paeth(a, b, c):
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    w, h, ch = 5, 5, 3
    stride = w * ch
    # deterministic pseudo-random pixels
    pixels = bytes((i * 37 + 11) % 256 for i in range(h * stride))
    rows = [pixels[r * stride : (r + 1) * stride] for r in range(h)]
    raw = bytearray()
    prev = bytes(stride)
    for r, row in enumerate(rows):
        ftype = r % 5  # exercise None, Sub, Up, Average, Paeth in turn
        raw.append(ftype)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                raw.append(row[x])
            elif ftype == 1:
                raw.append((row[x] - a) & 0xFF)
            elif ftype == 2:
                raw.append((row[x] - b) & 0xFF)
            elif ftype == 3:
                raw.append((row[x] - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((row[x] - paeth(a, b, c)) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    got = _png_decode_pixels(png)
    assert (got[0], got[1], got[2]) == (w, h, ch)
    assert bytes(got[3]) == pixels


def _gif_bytes(w, h, palette, lzw_codes, mcs=2):
    """Assemble a GIF89a with a global color table and a hand-packed
    LZW code stream (little-endian bit packing, explicit widths)."""
    n = len(palette)
    size_bits = max(1, (n - 1).bit_length()) - 1  # 2^(size+1) entries
    head = b"GIF89a" + struct.pack("<HH", w, h) + bytes(
        [0x80 | size_bits, 0, 0]
    )
    gct = b"".join(bytes(c) for c in palette)
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    acc = 0
    nbits = 0
    data = bytearray()
    for code, width in lzw_codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    sub = bytearray([mcs])
    for i in range(0, len(data), 255):  # sub-blocks cap at 255 bytes
        block = data[i : i + 255]
        sub += bytes([len(block)]) + block
    sub += b"\x00"
    return head + gct + desc + bytes(sub) + b"\x3b"


_PAL4 = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)]


def test_gif_lzw_decode_literals_and_kwkwk():
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _gif_decode_pixels,
    )

    # clear-before-every-literal stream: pixels [0, 1, 2] on a 3x1 frame
    codes = [(4, 3), (0, 3), (4, 3), (1, 3), (4, 3), (2, 3), (5, 3)]
    w, h, ch, data = _gif_decode_pixels(_gif_bytes(3, 1, _PAL4, codes))
    assert (w, h, ch) == (3, 1, 3)
    assert bytes(data) == bytes(_PAL4[0] + _PAL4[1] + _PAL4[2])

    # KwKwK: [CLEAR, 0, 6] decodes to indices [0, 0, 0]
    codes = [(4, 3), (0, 3), (6, 3), (5, 3)]
    w, h, ch, data = _gif_decode_pixels(_gif_bytes(3, 1, _PAL4, codes))
    assert bytes(data) == bytes(_PAL4[0] * 3)


def test_gif_lzw_code_width_growth():
    """Dictionary growth forces the 4-bit width after entry 8 — the
    stream [CLEAR,0,1,6,6,EOI] decodes to indices 0,1,0,1,0,1."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _gif_decode_pixels,
    )

    codes = [(4, 3), (0, 3), (1, 3), (6, 3), (6, 4), (5, 4)]
    w, h, ch, data = _gif_decode_pixels(_gif_bytes(6, 1, _PAL4, codes))
    expect = bytes(_PAL4[0] + _PAL4[1] + _PAL4[0] + _PAL4[1] + _PAL4[0] + _PAL4[1])
    assert bytes(data) == expect


def test_gif_through_resize_media_no_pillow_needed(spark):
    """A real GIF resizes through the pure-Python LZW path into a PNG
    thumbnail — resize_ok TRUE regardless of Pillow."""
    codes = [(4, 3), (0, 3), (4, 3), (1, 3), (4, 3), (2, 3), (4, 3), (3, 3), (5, 3)]
    gif = _gif_bytes(4, 1, _PAL4, codes)
    df = spark.createDataFrame([(1, gif)], "media_id long, content binary")
    row = resize_media(df, max_side=2).collect()[0]
    assert row["resize_ok"]
    assert (row["src_width"], row["src_height"]) == (4, 1)
    assert (row["width"], row["height"]) == (2, 1)


def test_corrupt_bodies_are_data_rows_not_task_kills(spark):
    """Code-review regression (r09): payloads whose HEADER parses but
    whose BODY is corrupt must degrade per-row, never fail the task —
    bad-deflate PNG (zlib.error), truncated GIF (IndexError), truncated
    PNG past the 26-byte meta prefix."""
    bad_idat = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", b"not-deflate-data")
        + _png_chunk(b"IEND", b"")
    )
    short_gif = b"GIF89a" + struct.pack("<HH", 3, 1)  # stops after w,h
    short_png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBB", 2, 2, 8, 0)  # truncated inside IHDR body
    )
    df = spark.createDataFrame(
        [(1, bad_idat), (2, short_gif), (3, short_png)],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in resize_media(df, max_side=2).collect()}
    assert len(rows) == 3
    assert not rows[1]["resize_ok"]
    assert (rows[1]["src_width"], rows[1]["src_height"]) == (2, 2)
    assert not rows[2]["resize_ok"]
    assert not rows[3]["resize_ok"]
    # the same payloads through the metadata stage
    meta = {r["media_id"]: r for r in extract_image_meta(df).collect()}
    # header-only metadata legitimately decodes for all three (the
    # 26-byte PNG prefix contains a complete IHDR w/h/colortype) — the
    # body corruption surfaces only at the pixel stage above
    assert meta[1]["decode_ok"] and meta[2]["decode_ok"] and meta[3]["decode_ok"]


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 allows any number of 0xFF fill bytes before a marker;
    real encoders emit them. The SOF scan must skip them."""
    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + b"\x00\x01\x00\x01\x00\x00"
    )
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 4, 6, 3) + b"\x01\x11\x00"
    jpeg = b"\xff\xd8" + app0 + b"\xff" + sof0 + b"\xff\xd9"
    assert decode_image_meta(jpeg) == (6, 4, 3)


def test_resize_never_upscales_real_formats(spark):
    """Shrink-only thumbnail semantics: a 2x1 PNG with max_side=8 comes
    back 2x1 (matching Pillow's thumbnail), not upscaled to 8x4."""
    df = spark.createDataFrame(
        [(1, tiny_png(2, 1))], "media_id long, content binary"
    )
    row = resize_media(df, max_side=8).collect()[0]
    assert row["resize_ok"]
    assert (row["width"], row["height"]) == (2, 1)


def _png_header_only(w: int, h: int, color_type: int = 2) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00"))
        + _png_chunk(b"IEND", b"")
    )


def test_png_out_of_spec_dims_rejected():
    # PNG spec bounds dims to [1, 2^31-1]; out-of-spec values would also
    # overflow the Int32 metadata columns and kill the Arrow batch task
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_meta,
    )

    with pytest.raises(ValueError):
        _png_meta(_png_header_only(0x80000000, 4))
    with pytest.raises(ValueError):
        _png_meta(_png_header_only(4, 0))


def test_decompression_bomb_png_degrades_to_data_row(spark):
    # ~100 bytes declaring 40000x40000: the pixel decoder must refuse
    # before allocating the 4.8 GB plane; metadata still decodes (the
    # dims are in-spec), so the failure surfaces as resize_ok=false
    bomb = _png_header_only(40000, 40000)
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _png_decode_pixels,
    )

    with pytest.raises(ValueError, match="bomb"):
        _png_decode_pixels(bomb)
    df = spark.createDataFrame(
        [(1, bytearray(bomb))], "media_id long, content binary"
    )
    meta = extract_image_meta(df).collect()[0]
    assert meta["decode_ok"] and meta["width"] == 40000  # header tier ok
    row = resize_media(df, 16).collect()[0]
    assert not row["resize_ok"]


def test_decompression_bomb_gif_rejected():
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
        _gif_decode_pixels,
    )

    hdr = b"GIF89a" + struct.pack("<HH", 65000, 65000) + bytes((0x00, 0, 0))
    with pytest.raises(ValueError, match="bomb"):
        _gif_decode_pixels(hdr + b"\x3b")
