"""Pixel resize dispatch: a real PNG goes through the stdlib raster
path and comes back as a PNG thumbnail; the FAKE format keeps its own
container; an out-of-spec PNG header raises ``ValueError``."""

from __future__ import annotations

import struct
import zlib

import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    multimodal as MM,
)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _tiny_png(w: int, h: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_png_resize_is_a_stdlib_png_thumbnail():
    out = MM.resize_image(_tiny_png(8, 8), 4)
    assert out[:8] == b"\x89PNG\r\n\x1a\n"
    w, h, c = MM.decode_image_meta(out)
    assert (w, h, c) == (4, 4, 3)


def test_fake_format_resize_keeps_the_fake_container():
    payload = MM.fake_image_bytes(7, 16, 16)
    out = MM.resize_image(payload, 8)
    assert out[:4] == payload[:4]


def test_png_unknown_color_type_raises_valueerror():
    # ADVICE r09: out-of-spec color-type byte must raise ValueError (the
    # documented corrupt-stream contract), not bare KeyError
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 9, 0, 0, 0)  # color type 9
    p = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError, match="color type"):
        MM.decode_image_meta(p)
