"""Property tests for the pure-Python raster codecs.

PNG: encode -> decode is the identity for random sizes/channels/pixels,
and decode inverts a forward-filtering encoder over random filter
choices. GIF: a reference LZW *encoder* (written here, with GIF's
deferred code-width bump — the encoder's dictionary runs one entry
ahead of the decoder's, so it must widen one code later than its own
table fills) round-trips random index streams through
``_gif_decode_pixels``, including streams long enough to push the code
width through several growth boundaries.
"""

from __future__ import annotations

import struct
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
    _gif_decode_pixels,
    _png_decode_pixels,
    _png_encode,
)

from .test_multimodal_realformats import _gif_bytes, _png_chunk


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_png_encode_decode_identity(data):
    w = data.draw(st.integers(1, 10))
    h = data.draw(st.integers(1, 10))
    ch = data.draw(st.sampled_from([1, 2, 3, 4]))
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    got = _png_decode_pixels(_png_encode(w, h, ch, pixels))
    assert (got[0], got[1], got[2]) == (w, h, ch)
    assert bytes(got[3]) == pixels


def _forward_filter(rows, ch, ftypes):
    """Reference encoder-side filtering (RFC 2083 definitions)."""

    def paeth(a, b, c):
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    stride = len(rows[0])
    raw = bytearray()
    prev = bytes(stride)
    for row, ftype in zip(rows, ftypes):
        raw.append(ftype)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            pred = [0, a, b, (a + b) >> 1, paeth(a, b, c)][ftype]
            raw.append((row[x] - pred) & 0xFF)
        prev = row
    return bytes(raw)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_png_decode_inverts_any_filter_choice(data):
    w = data.draw(st.integers(1, 8))
    h = data.draw(st.integers(1, 8))
    ch = data.draw(st.sampled_from([1, 3, 4]))
    stride = w * ch
    pixels = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=h * stride, max_size=h * stride)
        )
    )
    ftypes = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    rows = [pixels[r * stride : (r + 1) * stride] for r in range(h)]
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(_forward_filter(rows, ch, ftypes)))
        + _png_chunk(b"IEND", b"")
    )
    got = _png_decode_pixels(png)
    assert bytes(got[3]) == pixels


def _lzw_encode(indices, mcs):
    """Reference GIF-LZW encoder emitting (code, width) pairs. The width
    bump is DEFERRED one entry relative to the encoder's own table
    (next_code == 2^width + 1) because the decoder's dictionary lags the
    encoder's by exactly one entry."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    codes = []

    def reset():
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            mcs + 1,
        )

    table, next_code, width = reset()
    codes.append((clear, width))
    w = b""
    for idx in indices:
        c = bytes([idx])
        if w + c in table:
            w += c
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = c
    if w:
        codes.append((table[w], width))
    codes.append((eoi, width))
    return codes


_PAL8 = [(i * 30, i * 30 + 1, i * 30 + 2) for i in range(8)]


@settings(max_examples=40, deadline=None)
@given(
    st.integers(0, 1),
    st.lists(st.integers(0, 7), min_size=1, max_size=300),
)
def test_gif_lzw_roundtrip_random_streams(pal_bits, raw_indices):
    palette = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)]
    mcs = 2
    if pal_bits:
        palette = _PAL8
        mcs = 3
    indices = [i % len(palette) for i in raw_indices]
    codes = _lzw_encode(indices, mcs)
    # lay the stream out as a WxH frame
    w = len(indices)
    gif = _gif_bytes(w, 1, palette, codes, mcs=mcs)
    gw, gh, ch, data = _gif_decode_pixels(gif)
    assert (gw, gh, ch) == (w, 1, 3)
    expect = b"".join(bytes(palette[i]) for i in indices)
    assert bytes(data) == expect


def test_gif_lzw_roundtrip_through_width_growth():
    """A 900-pixel repetitive stream pushes the dictionary through the
    8->16->32->... boundaries (width 3 through 6+) — the growth path a
    real encoder produces."""
    indices = ([0, 1, 2, 3] * 225)[:900]
    codes = _lzw_encode(indices, 2)
    widths = {wd for _, wd in codes}
    assert max(widths) >= 6  # genuinely exercised several bumps
    palette = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)]
    gif = _gif_bytes(900, 1, palette, codes, mcs=2)
    gw, gh, ch, data = _gif_decode_pixels(gif)
    expect = b"".join(bytes(palette[i]) for i in indices)
    assert bytes(data) == expect


# ---------------------------------------------------------------------------
# Hostile-input containment (mirrors tests/test_av_properties.py for the
# AV tier): a mutated or random blob fed to any image decoder must either
# return normally or raise ONLY from the exception set the Spark wrappers
# catch (multimodal._DECODE_ERRS / extract_image_meta) — anything else
# (TypeError, ZeroDivisionError, RecursionError, MemoryError, ...) would
# escape the per-row try and kill a Spark task instead of degrading to a
# decode_ok=false / resize_ok=false row.
# ---------------------------------------------------------------------------

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    jpeg as J,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.multimodal import (
    MEDIA_DECODE_ERRS,
    decode_image_meta,
)

from . import jpeg_encoders as JE
from ._fuzz import mutate
from .test_multimodal_realformats import tiny_gif, tiny_jpeg, tiny_png

# the image tier's production catch list — imported, not copied, so the
# test contract cannot drift from what the Spark wrappers actually catch
_IMG_CAUGHT = MEDIA_DECODE_ERRS


def _jpg_base(mid):
    px = bytes((mid * 7 + i) % 256 for i in range(24 * 16 * 3))
    return JE.encode_baseline(24, 16, px, 3)


def _jpg_prog(mid):
    px = bytes((mid * 11 + i) % 256 for i in range(24 * 16 * 3))
    return JE.encode_progressive(24, 16, px, 3, successive=True)


def _jpg_12bit(mid):
    px = [(mid * 31 + i * 151) % 4096 for i in range(24 * 16)]
    return JE.encode_baseline(24, 16, px, 1, precision=12)


def _jpg_12bit_prog(mid):
    px = [(mid * 37 + i * 113) % 4096 for i in range(24 * 16)]
    return JE.encode_progressive(24, 16, px, 1, successive=True, precision=12)


_IMG_BUILDERS = [
    lambda m: tiny_png(5, 4),
    lambda m: tiny_jpeg(6, 4),
    lambda m: tiny_gif(7, 5),
    _jpg_base,
    _jpg_prog,
    _jpg_12bit,
    _jpg_12bit_prog,
    lambda m: _png_encode(6, 5, 3, bytes((m + i) % 256 for i in range(6 * 5 * 3))),
]

_IMG_PARSERS = (
    decode_image_meta,
    _png_decode_pixels,
    _gif_decode_pixels,
    J.decode_baseline,
)


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_mutated_images_are_contained(data):
    build = _IMG_BUILDERS[data.draw(st.integers(0, len(_IMG_BUILDERS) - 1))]
    blob = mutate(data, bytearray(build(data.draw(st.integers(0, 1000)))))
    for parse in _IMG_PARSERS:
        try:
            out = parse(blob)
            assert isinstance(out, tuple)
        except _IMG_CAUGHT:
            pass


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512))
def test_random_image_blobs_are_contained(blob):
    for parse in _IMG_PARSERS:
        try:
            out = parse(blob)
            assert isinstance(out, tuple)
        except _IMG_CAUGHT:
            pass
