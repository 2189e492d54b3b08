"""Pure-Python JPEG codec: baseline (VERDICT r09 directive 7) and
progressive (r11 directive 7).

Fixtures are REAL streams built by the module's own encoders (unity
quant tables -> near-lossless round-trips), so both decode paths are
exercised on spec-valid Huffman/DCT data with no Pillow in the
environment. Done-criterion tests: a real baseline JPEG and a real
progressive JPEG each flow through ``resize_media`` with
``resize_ok=true`` and Pillow absent. Progressive fixtures carry the
same quantized coefficients as their baseline twins, so their decodes
are asserted BYTE-IDENTICAL, not merely within tolerance.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    jpeg as J,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    multimodal as MM,
)

from . import jpeg_encoders as JE


def _gray(w: int, h: int) -> bytes:
    return bytes((x * 13 + y * 29) % 256 for y in range(h) for x in range(w))


def _rgb(w: int, h: int) -> bytes:
    return bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in (min(255, 2 * x + y), min(255, x + 2 * y), (x + y) // 2)
    )


def test_gray_roundtrip_near_lossless():
    pix = _gray(16, 12)
    dw, dh, ch, out = J.decode_baseline(JE.encode_baseline(16, 12, pix))
    assert (dw, dh, ch) == (16, 12, 1)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 2


def test_non_multiple_of_8_dims_pad_and_crop():
    pix = _gray(17, 9)
    dw, dh, ch, out = J.decode_baseline(JE.encode_baseline(17, 9, pix))
    assert (dw, dh, ch) == (17, 9, 1)
    assert len(out) == 17 * 9
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 2


@pytest.mark.parametrize(
    "sampling,tol",
    [((1, 1), 4), ((2, 2), 5), ((2, 1), 5), ((1, 2), 5)],
)
def test_color_roundtrip_all_samplings(sampling, tol):
    pix = _rgb(20, 12)
    enc = JE.encode_baseline(20, 12, pix, channels=3, sampling=sampling)
    dw, dh, ch, out = J.decode_baseline(enc)
    assert (dw, dh, ch) == (20, 12, 3)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= tol


def test_restart_markers_reset_dc_prediction():
    pix = _gray(48, 8)
    enc = JE.encode_baseline(48, 8, pix, restart_interval=2)
    assert b"\xff\xd0" in enc  # RST0 actually emitted
    dw, dh, ch, out = J.decode_baseline(enc)
    assert (dw, dh, ch) == (48, 8, 1)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 2


def test_color_with_restart_and_subsampling():
    pix = _rgb(24, 24)
    enc = JE.encode_baseline(24, 24, pix, channels=3, sampling=(2, 2), restart_interval=1)
    dw, dh, ch, out = J.decode_baseline(enc)
    assert (dw, dh, ch) == (24, 24, 3)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 5


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**31),
)
def test_gray_roundtrip_property(w, h, seed):
    pix = bytes((seed + x * 7 + y * 31 + (x * y) % 13) % 256 for y in range(h) for x in range(w))
    dw, dh, ch, out = J.decode_baseline(JE.encode_baseline(w, h, pix))
    assert (dw, dh, ch) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 2


def test_mislabelled_progressive_raises_valueerror():
    # a baseline stream whose SOF is flipped to SOF2 is MALFORMED as
    # progressive (its single scan has Ss=0, Se=63 — a progressive DC
    # scan must have Se=0) — the r11 progressive decoder must reject it
    # rather than decode garbage
    enc = bytearray(JE.encode_baseline(8, 8, _gray(8, 8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError):
        J.decode_baseline(bytes(enc))


def test_arithmetic_frame_raises_notimplemented():
    enc = bytearray(JE.encode_baseline(8, 8, _gray(8, 8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC9  # SOF9: arithmetic-coded sequential
    with pytest.raises(NotImplementedError):
        J.decode_baseline(bytes(enc))


def test_truncated_entropy_data_raises_valueerror():
    enc = JE.encode_baseline(16, 16, _gray(16, 16))
    with pytest.raises(ValueError):
        J.decode_baseline(enc[: len(enc) // 2])


def test_resize_image_pure_path_decodes_baseline_jpeg():
    enc = JE.encode_baseline(32, 16, _gray(32, 16))
    out = MM.resize_image(enc, 8)
    assert out[:8] == b"\x89PNG\r\n\x1a\n"
    w, h, c = MM.decode_image_meta(out)
    assert (w, h, c) == (8, 4, 1)


def test_real_jpeg_through_resize_media_no_pillow(spark):
    """Directive 7 done-criterion: baseline JPEG -> resize_ok=true with
    no raster library."""
    enc = JE.encode_baseline(24, 12, _rgb(24, 12), channels=3, sampling=(2, 2))
    df = spark.createDataFrame(
        [(1, bytearray(enc))], "media_id long, content binary"
    )
    row = MM.resize_media(df, max_side=6).collect()[0]
    assert row["resize_ok"] is True
    assert (row["src_width"], row["src_height"]) == (24, 12)
    assert (row["width"], row["height"]) == (6, 3)


def test_arithmetic_jpeg_degrades_to_data_row(spark):
    enc = bytearray(JE.encode_baseline(8, 8, _gray(8, 8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC9  # arithmetic-coded: metadata yes, pixels no
    df = spark.createDataFrame(
        [(1, bytearray(bytes(enc)))], "media_id long, content binary"
    )
    row = MM.resize_media(df, max_side=4).collect()[0]
    # header still parses (SOF walk accepts SOF9 dims); pixels don't
    assert (row["src_width"], row["src_height"]) == (8, 8)
    assert row["resize_ok"] is False


def test_non_uniform_quant_table_roundtrip():
    # an all-1s DQT cannot distinguish quant[k] from quant[ZIGZAG[k]] —
    # this table can: decoding with the scan-index pairing produces
    # garbage (empirically >200/255 max error), the natural-order
    # pairing stays within quantization error
    quant = [1 + ((3 * i) % 5) for i in range(64)]  # values 1..5, non-flat
    pix = _gray(24, 16)
    dw, dh, ch, out = J.decode_baseline(
        JE.encode_baseline(24, 16, pix, quant=quant)
    )
    assert (dw, dh, ch) == (24, 16, 1)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 16


def test_non_interleaved_scan_raises_notimplemented():
    # spec-valid baseline JPEG may carry one scan per component; the
    # decoder only supports the single fully interleaved scan and must
    # raise (for the Pillow fallback) instead of decoding garbage
    rgb = JE.encode_baseline(16, 8, _rgb(16, 8), channels=3)
    sos_at = rgb.find(b"\xff\xda")
    assert sos_at > 0 and rgb[sos_at + 4] == 3  # ns=3 in the real stream
    # rewrite the SOS header to a 1-component scan (ns=1, first comp)
    patched = (
        rgb[:sos_at]
        + b"\xff\xda" + struct.pack(">H", 2 + 1 + 2 + 3)
        + bytes((1,)) + rgb[sos_at + 5 : sos_at + 7]  # comp 1 spec
        + rgb[sos_at + 11 : sos_at + 14]  # Ss/Se/AhAl
        + rgb[sos_at + 14 :]
    )
    with pytest.raises(NotImplementedError):
        J.decode_baseline(patched)


def test_decode_budget_rejects_bomb_dims():
    # a ~200-byte stream declaring 65000x65000 must raise before the
    # gigabyte plane allocation
    small = JE.encode_baseline(8, 8, _gray(8, 8))
    sof_at = small.find(b"\xff\xc0")
    bombed = (
        small[: sof_at + 5]
        + struct.pack(">HH", 65000, 65000)
        + small[sof_at + 9 :]
    )
    with pytest.raises(ValueError, match="bomb"):
        J.decode_baseline(bombed)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31),
    qseed=st.integers(1, 2**16),
)
def test_quantized_roundtrip_property(w, h, seed, qseed):
    # random non-flat quant tables: error stays bounded by the
    # quantization step (each dequantized coefficient off by <= q/2)
    quant = [1 + ((qseed * (i + 3)) % 7) for i in range(64)]  # 1..7
    pix = bytes(
        (seed + x * 5 + y * 17 + (x * y) % 11) % 256
        for y in range(h)
        for x in range(w)
    )
    dw, dh, ch, out = J.decode_baseline(
        JE.encode_baseline(w, h, pix, quant=quant)
    )
    assert (dw, dh, ch) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(pix, out)) <= 24


# ---------------------------------------------------------------------------
# progressive (SOF2) decode — r11: fixtures from the module's own
# progressive encoder, which emits the SAME quantized coefficients as
# encode_baseline, so progressive decodes must be BYTE-IDENTICAL to the
# baseline twin's decode (stronger than a tolerance bound).
# ---------------------------------------------------------------------------


def _prog_equal(w, h, pix, **kw):
    base = J.decode_baseline(JE.encode_baseline(w, h, pix, **{
        k: v for k, v in kw.items() if k not in ("successive",)
    }))
    prog = J.decode_baseline(JE.encode_progressive(w, h, pix, **kw))
    assert prog == base


def test_progressive_spectral_selection_gray():
    _prog_equal(16, 12, _gray(16, 12))


def test_progressive_successive_approximation_gray():
    _prog_equal(16, 12, _gray(16, 12), successive=True)


@pytest.mark.parametrize("sampling", [(1, 1), (2, 2), (2, 1), (1, 2)])
def test_progressive_color_all_samplings(sampling):
    pix = _rgb(20, 12)
    _prog_equal(20, 12, pix, channels=3, sampling=sampling)
    _prog_equal(20, 12, pix, channels=3, sampling=sampling, successive=True)


def test_progressive_non_multiple_of_8_dims():
    _prog_equal(17, 9, _gray(17, 9), successive=True)


def test_progressive_restart_markers():
    pix = _gray(48, 8)
    enc = JE.encode_progressive(48, 8, pix, restart_interval=2, successive=True)
    assert b"\xff\xd0" in enc
    _prog_equal(48, 8, pix, restart_interval=2, successive=True)


def test_progressive_non_uniform_quant():
    # non-flat table pins the zigzag<->natural dequant pairing on the
    # progressive path too (quant applies AFTER scan accumulation there)
    quant = [1 + ((3 * i) % 5) for i in range(64)]
    _prog_equal(24, 16, _gray(24, 16), quant=quant, successive=True)


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31),
    qseed=st.integers(1, 2**16),
    successive=st.booleans(),
)
def test_progressive_roundtrip_property(w, h, seed, qseed, successive):
    quant = [1 + ((qseed * (i + 3)) % 7) for i in range(64)]
    pix = bytes(
        (seed + x * 5 + y * 17 + (x * y) % 11) % 256
        for y in range(h)
        for x in range(w)
    )
    base = J.decode_baseline(JE.encode_baseline(w, h, pix, quant=quant))
    prog = J.decode_baseline(
        JE.encode_progressive(w, h, pix, quant=quant, successive=successive)
    )
    assert prog == base


def test_progressive_jpeg_through_resize_media_no_pillow(spark):
    """r11 directive 7 done-criterion: a progressive JPEG flows through
    resize_media with resize_ok=true and no raster library."""
    enc = JE.encode_progressive(
        24, 12, _rgb(24, 12), channels=3, sampling=(2, 2), successive=True
    )
    df = spark.createDataFrame(
        [(1, bytearray(enc))], "media_id long, content binary"
    )
    row = MM.resize_media(df, max_side=6).collect()[0]
    assert row["resize_ok"] is True
    assert (row["src_width"], row["src_height"]) == (24, 12)
    assert (row["width"], row["height"]) == (6, 3)


# ---------------------------------------------------------------------------
# 12-bit extended sequential (SOF1) — r12: samples level-shift by 2048,
# decode exactly, and scale to the module's 8-bit pixel contract; the
# encoder emits a 16-bit (Pq=1) DQT and the generated 12-bit Huffman
# pair (DC categories to 16, AC sizes to 14).
# ---------------------------------------------------------------------------


def _gray12(w: int, h: int) -> list[int]:
    return [(x * 151 + y * 89) % 4096 for y in range(h) for x in range(w)]


def test_12bit_gray_roundtrip_near_lossless():
    w, h = 24, 17
    pix = _gray12(w, h)
    p = JE.encode_baseline(w, h, pix, 1, precision=12)
    assert b"\xff\xc1" in p  # SOF1, not SOF0
    gw, gh, ch, out = J.decode_baseline(p)
    assert (gw, gh, ch) == (w, h, 1)
    # internal error <= 2 twelve-bit steps -> <= 1 after the >>4 scale
    assert max(abs((v >> 4) - o) for v, o in zip(pix, out)) <= 1


def test_12bit_16bit_quant_table_roundtrip():
    w, h = 16, 16
    pix = _gray12(w, h)
    quant = [300 + (i * 7) % 900 for i in range(64)]  # forces Pq=1 values
    p = JE.encode_baseline(w, h, pix, 1, precision=12, quant=quant)
    _, _, _, out = J.decode_baseline(p)
    # per-coefficient error <= q/2 in 12-bit units; loose envelope after >>4
    assert max(abs((v >> 4) - o) for v, o in zip(pix, out)) <= 1199 // 2 // 16 + 2


def test_12bit_dc_category_16_corner():
    """§F.1.2.1.1: DC difference category 16 codes 32768 with NO
    appended magnitude bits. Hand-built two-block stream: block 1 holds
    DC -16384 (category 15), block 2 jumps by exactly +32768 via a
    category-16 code — left half decodes to 0, right half to 255."""
    dc_codes = JE._encode_codes(JE._EXT_DC_COUNTS, JE._EXT_DC_SYMBOLS)
    ac_codes = JE._encode_codes(JE._EXT_AC_COUNTS, JE._EXT_AC_SYMBOLS)
    bw = JE._BitWriter()
    # block 1: DC cat 15, value -16384 -> bits = v + (1<<15) - 1
    length, code = dc_codes[15]
    bw.write(code, length)
    bw.write(-16384 + (1 << 15) - 1, 15)
    length, code = ac_codes[0x00]  # EOB
    bw.write(code, length)
    # block 2: DC cat 16 (no magnitude bits), then EOB
    length, code = dc_codes[16]
    bw.write(code, length)
    length, code = ac_codes[0x00]
    bw.write(code, length)
    bw.flush()

    def seg(marker, payload):
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(payload)) + payload

    dqt = seg(0xDB, bytes((0x10,)) + struct.pack(">H", 1) * 64)
    sof = seg(0xC1, struct.pack(">BHHB", 12, 8, 16, 1) + bytes((1, 0x11, 0)))
    dht = seg(
        0xC4,
        bytes((0x00,)) + JE._EXT_DC_COUNTS + JE._EXT_DC_SYMBOLS
        + bytes((0x10,)) + JE._EXT_AC_COUNTS + JE._EXT_AC_SYMBOLS,
    )
    sos = seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    p = b"\xff\xd8" + dqt + sof + dht + sos + bytes(bw.out) + b"\xff\xd9"
    gw, gh, ch, out = J.decode_baseline(p)
    assert (gw, gh, ch) == (16, 8, 1)
    left = [out[y * 16 + x] for y in range(8) for x in range(8)]
    right = [out[y * 16 + 8 + x] for y in range(8) for x in range(8)]
    assert set(left) == {0} and set(right) == {255}


def test_12bit_baseline_sof0_is_malformed():
    p = bytearray(JE.encode_baseline(16, 8, _gray12(16, 8), 1, precision=12))
    i = p.index(b"\xff\xc1")
    p[i + 1] = 0xC0  # relabel the frame baseline: 12-bit SOF0 is illegal
    with pytest.raises(ValueError, match="12-bit baseline"):
        J.decode_baseline(bytes(p))


@pytest.mark.parametrize("successive", [False, True])
def test_12bit_progressive_byte_identical_to_sequential_twin(successive):
    """The 12-bit progressive encoder emits the same quantized
    coefficients as the SOF1 twin, so the decodes must be
    byte-identical — the file's standard progressive assertion,
    extended to 12-bit."""
    pix = _gray12(24, 17)
    base = J.decode_baseline(JE.encode_baseline(24, 17, pix, 1, precision=12))
    prog = J.decode_baseline(
        JE.encode_progressive(24, 17, pix, 1, successive=successive, precision=12)
    )
    assert prog == base


def test_12bit_progressive_dc_category_16_corner():
    """The §F.1.2.1.1 category-16 rule through the PROGRESSIVE DC-first
    path (_dc_first), which is separate code from the sequential
    branch: same two-block 0/255 construction, one DC-only scan."""
    dc_codes = JE._encode_codes(JE._EXT_DC_COUNTS, JE._EXT_DC_SYMBOLS)
    bw = JE._BitWriter()
    length, code = dc_codes[15]
    bw.write(code, length)
    bw.write(-16384 + (1 << 15) - 1, 15)
    length, code = dc_codes[16]  # +32768, no magnitude bits
    bw.write(code, length)
    bw.flush()

    def seg(marker, payload):
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(payload)) + payload

    dqt = seg(0xDB, bytes((0x10,)) + struct.pack(">H", 1) * 64)
    sof = seg(0xC2, struct.pack(">BHHB", 12, 8, 16, 1) + bytes((1, 0x11, 0)))
    dht = seg(0xC4, bytes((0x00,)) + JE._EXT_DC_COUNTS + JE._EXT_DC_SYMBOLS)
    sos = seg(0xDA, bytes((1, 1, 0x00, 0, 0, 0)))  # DC scan, Ah=Al=0
    p = b"\xff\xd8" + dqt + sof + dht + sos + bytes(bw.out) + b"\xff\xd9"
    gw, gh, ch, out = J.decode_baseline(p)
    assert (gw, gh, ch) == (16, 8, 1)
    assert {out[y * 16 + x] for y in range(8) for x in range(8)} == {0}
    assert {out[y * 16 + 8 + x] for y in range(8) for x in range(8)} == {255}


def test_12bit_encoder_guards():
    with pytest.raises(ValueError, match="grayscale only"):
        JE.encode_baseline(8, 8, [0] * 192, 3, precision=12)
    with pytest.raises(ValueError, match="0..4095"):
        JE.encode_baseline(8, 8, [5000] * 64, 1, precision=12)


def test_8bit_sof1_decodes_like_sof0():
    """SOF1 at 8-bit precision is the same sequential procedure —
    relabeling a baseline stream's frame marker must not change one
    output byte."""
    pix = _gray(24, 16)
    p = bytearray(JE.encode_baseline(24, 16, pix))
    i = p.index(b"\xff\xc0")
    base = J.decode_baseline(bytes(p))
    p[i + 1] = 0xC1
    assert J.decode_baseline(bytes(p)) == base


def test_12bit_through_resize_media(spark):
    """Done-criterion parity with the 8-bit paths: a 12-bit SOF1 JPEG
    flows through resize_media with resize_ok=true and no Pillow."""
    blob = JE.encode_baseline(32, 24, _gray12(32, 24), 1, precision=12)
    df = spark.createDataFrame([(1, blob)], "media_id long, content binary")
    (row,) = MM.resize_media(df, 16).collect()
    assert row["resize_ok"] and row["width"] == 16


def test_dc_category_16_negative_diff_raises():
    """Category 16 carries no magnitude bits, so only +32768 is legally
    representable; a -32768 diff must raise rather than silently emit
    bytes a decoder reads back as +32768 (ADVICE r12)."""
    codes = {n: (max(n, 1), 0) for n in range(17)}
    with pytest.raises(ValueError, match="category 16"):
        JE._encode_block(JE._BitWriter(), [-32768] + [0] * 63, 0, codes, codes)
    # the legal corner still encodes
    JE._encode_block(JE._BitWriter(), [32768] + [0] * 63, 0, codes, codes)


def test_truncated_dqt_raises_both_precisions():
    """Both DQT precision branches report truncation as 'malformed
    JPEG' ValueError, not a bare IndexError (ADVICE r12)."""
    with pytest.raises(ValueError, match="truncated DQT"):
        J._parse_dqt(bytes([0x00]) + bytes(10), {})
    with pytest.raises(ValueError, match="truncated 16-bit DQT"):
        J._parse_dqt(bytes([0x10]) + bytes(10), {})
