"""Minimal JPEG encoders for test fixtures: baseline and extended
sequential (``encode_baseline``) and progressive (``encode_progressive``)
streams the decoder in ``operators/jpeg.py`` is tested on. No raster
library builds these streams. A single quant table of 1s keeps the round
trip near-lossless; the Huffman tables are the T.81 Annex K luminance
pair, valid for any symbol the encoder can emit.
"""

from __future__ import annotations

import struct

from datafoundation_multi_source_retail_data_integration_hub_spark.operators.jpeg import (
    _COS,
    ZIGZAG,
    _build_huffman,
)

_K3_DC_COUNTS = bytes((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0))
_K3_DC_SYMBOLS = bytes(range(12))
_K5_AC_COUNTS = bytes((0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D))
_K5_AC_SYMBOLS = bytes((
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
))

# 12-bit encoder tables (Annex K has no 12-bit pair, so these are
# generated canonical codes, valid for anything the encoder can emit):
# DC difference categories reach 16 in 12-bit frames (§F.1.2.1.1) —
# 15 symbols at length 5 plus 2 at length 6 (codes 30/31, the length-6
# all-ones code 63 stays unused per §C.2); AC RRRRSSSS pairs span
# r 0..15 x s 1..14 plus EOB/ZRL = 226 symbols, all at length 8
# (codes 0..225 — the all-ones code 255 stays unused).
_EXT_DC_COUNTS = bytes((0, 0, 0, 0, 15, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
_EXT_DC_SYMBOLS = bytes(range(17))
_EXT_AC_SYMBOLS = bytes(
    sorted({0x00, 0xF0} | {(r << 4) | s for r in range(16) for s in range(1, 15)})
)
_EXT_AC_COUNTS = bytes((0, 0, 0, 0, 0, 0, 0, len(_EXT_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0))


def _encode_codes(counts: bytes, symbols: bytes) -> dict[int, tuple[int, int]]:
    table = _build_huffman(counts, symbols)
    return {sym: (length, code) for (length, code), sym in table.items()}


def _table_pair(precision: int):
    """(dc_counts, dc_symbols, ac_counts, ac_symbols) for the frame
    precision — one chooser for both encoders, so the twin-stream
    byte-identity guarantee cannot drift."""
    if precision == 12:
        return _EXT_DC_COUNTS, _EXT_DC_SYMBOLS, _EXT_AC_COUNTS, _EXT_AC_SYMBOLS
    return _K3_DC_COUNTS, _K3_DC_SYMBOLS, _K5_AC_COUNTS, _K5_AC_SYMBOLS


def _dqt_payload(quant: list[int], precision: int) -> bytes:
    """DQT marker payload (zigzag order): 8-bit Pq=0 entries for 8-bit
    frames, 16-bit Pq=1 entries for 12-bit frames."""
    if precision == 12:
        return bytes((0x10,)) + b"".join(
            struct.pack(">H", quant[ZIGZAG[k]]) for k in range(64)
        )
    return bytes((0x00,)) + bytes(quant[ZIGZAG[k]] for k in range(64))


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self) -> None:
        while self.nacc:
            self.write(1, 1)  # pad with 1-bits per the spec


def _fdct_2d(block: list[int], mid: int = 128) -> list[int]:
    """Forward 8x8 DCT of level-shifted samples, rounded to ints."""
    shifted = [s - mid for s in block]
    tmp = [0.0] * 64
    for u in range(8):
        for y in range(8):
            s = 0.0
            for x in range(8):
                s += shifted[y * 8 + x] * _COS[u][x]
            tmp[y * 8 + u] = s
    out = [0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                s += tmp[y * 8 + u] * _COS[v][y]
            out[v * 8 + u] = int(round(s))
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """(category, raw bits) for a signed coefficient per §F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    n = a.bit_length()
    bits = v if v > 0 else v + (1 << n) - 1
    return n, bits


def _encode_block(bw: _BitWriter, coef: list[int], pred: int, dc_codes, ac_codes) -> int:
    diff = coef[0] - pred
    n, bits = _magnitude(diff)
    if n == 16 and diff != 32768:
        # category 16 carries no magnitude bits, so only +32768 is
        # representable; -32768 would silently decode as +32768
        raise ValueError(f"DC diff {diff} not encodable: category 16 is +32768 only")
    length, code = dc_codes[n]
    bw.write(code, length)
    if n and n != 16:  # 12-bit DC category 16 carries no magnitude bits
        bw.write(bits, n)
    zz = [coef[ZIGZAG[k]] for k in range(64)]
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        n, bits = _magnitude(zz[k])
        length, code = ac_codes[(run << 4) | n]
        bw.write(code, length)
        bw.write(bits, n)
        run = 0
    if run:
        length, code = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return coef[0]


def _plane_block(plane: list[int], pw: int, ph: int, ox: int, oy: int) -> list[int]:
    """8x8 block at (ox, oy) with edge replication past the plane."""
    block = [0] * 64
    for y in range(8):
        sy = min(oy + y, ph - 1)
        row = sy * pw
        for x in range(8):
            block[y * 8 + x] = plane[row + min(ox + x, pw - 1)]
    return block


def _prep_planes(
    w: int,
    h: int,
    pixels: bytes,
    channels: int,
    sampling: tuple[int, int],
    quant: list[int] | None,
    precision: int = 8,
):
    """Shared encoder front end: validate, convert RGB->YCbCr, apply
    chroma subsampling. Returns (comps, planes, pdims, quant).

    ``precision=12``: grayscale only (the RGB->YCbCr constants here are
    8-bit-centric), samples 0..4095 in any int sequence, quant entries
    up to 65535 (emitted as a 16-bit DQT)."""
    if len(pixels) != w * h * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if channels not in (1, 3):
        raise ValueError("encoder supports 1 (gray) or 3 (RGB) channels")
    if precision == 12:
        if channels != 1:
            raise ValueError("12-bit encoding supports grayscale only")
        if any(not 0 <= v <= 4095 for v in pixels):
            raise ValueError("12-bit samples must be in 0..4095")
    elif precision != 8:
        raise ValueError("precision must be 8 or 12")
    qmax = 65535 if precision == 12 else 255
    if quant is None:
        quant = [1] * 64
    if len(quant) != 64 or any(not 1 <= q <= qmax for q in quant):
        raise ValueError(f"quant must be 64 entries in 1..{qmax}")
    hs, vs = sampling
    if channels == 1:
        comps = [(1, (1, 1))]
        planes = [list(pixels)]
        pdims = [(w, h)]
    else:
        yp, cbp, crp = [], [], []
        for i in range(0, len(pixels), 3):
            r, g, b = pixels[i], pixels[i + 1], pixels[i + 2]
            yv = 0.299 * r + 0.587 * g + 0.114 * b
            cb = 128 - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = 128 + 0.5 * r - 0.418688 * g - 0.081312 * b
            yp.append(max(0, min(255, int(yv + 0.5))))
            cbp.append(max(0, min(255, int(cb + 0.5))))
            crp.append(max(0, min(255, int(cr + 0.5))))
        comps = [(1, (hs, vs)), (2, (1, 1)), (3, (1, 1))]
        cw, ch_ = -(-w // hs), -(-h // vs)

        def down(p: list[int]) -> list[int]:
            if (hs, vs) == (1, 1):
                return p
            out = []
            for y in range(ch_):
                for x in range(cw):
                    acc = cnt = 0
                    for dy in range(vs):
                        for dx in range(hs):
                            sx, sy = x * hs + dx, y * vs + dy
                            if sx < w and sy < h:
                                acc += p[sy * w + sx]
                                cnt += 1
                    out.append((acc + cnt // 2) // cnt)
            return out

        planes = [yp, down(cbp), down(crp)]
        pdims = [(w, h), (cw, ch_), (cw, ch_)]
    return comps, planes, pdims, quant


def encode_baseline(
    w: int,
    h: int,
    pixels: bytes,
    channels: int = 1,
    sampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
    quant: list[int] | None = None,
    precision: int = 8,
) -> bytes:
    """Encode 8-bit pixels (grayscale or interleaved RGB) as a real
    baseline-sequential JPEG: unity quant table by default (near-
    lossless — a round-trip differs only by DCT/color rounding), Annex K
    luminance Huffman tables for every component, optional luma
    subsampling (``sampling=(2,2)`` gives 4:2:0 with box-averaged
    chroma) and restart markers. ``quant`` takes a 64-entry NATURAL-
    order table (values 1..255) — a non-flat table exercises the
    decoder's zigzag<->natural dequantization pairing, which an all-1s
    table cannot distinguish. Test-fixture tier: correctness over
    speed.

    ``precision=12`` emits an EXTENDED SEQUENTIAL (SOF1) grayscale
    frame: samples 0..4095 (any int sequence), level shift 2048, a
    16-bit (Pq=1) DQT, and the generated 12-bit Huffman pair (DC
    categories to 16, AC sizes to 14)."""
    comps, planes, pdims, quant = _prep_planes(
        w, h, pixels, channels, sampling, quant, precision
    )
    dc_counts, dc_symbols, ac_counts, ac_symbols = _table_pair(precision)
    mid = 1 << (precision - 1)
    dc_codes = _encode_codes(dc_counts, dc_symbols)
    ac_codes = _encode_codes(ac_counts, ac_symbols)
    hmax = max(c[1][0] for c in comps)
    vmax = max(c[1][1] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bw = _BitWriter()
    preds = [0] * len(comps)
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                preds = [0] * len(comps)
            for ci, (_, (chs, cvs)) in enumerate(comps):
                pw, ph = pdims[ci]
                for by in range(cvs):
                    for bx in range(chs):
                        block = _plane_block(
                            planes[ci], pw, ph,
                            (mx * chs + bx) * 8, (my * cvs + by) * 8,
                        )
                        f = _fdct_2d(block, mid)
                        qcoef = [
                            int(round(f[i] / quant[i])) for i in range(64)
                        ]
                        preds[ci] = _encode_block(
                            bw, qcoef, preds[ci], dc_codes, ac_codes
                        )
            mcu += 1
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(payload)) + payload

    # DQT payload is in ZIGZAG scan order; quant is natural-order
    dqt = seg(0xDB, _dqt_payload(quant, precision))
    sof_comps = b"".join(
        bytes((cid, (chs << 4) | cvs, 0)) for cid, (chs, cvs) in comps
    )
    sof_marker = 0xC1 if precision == 12 else 0xC0
    sof = seg(
        sof_marker, struct.pack(">BHHB", precision, h, w, len(comps)) + sof_comps
    )
    dht = seg(
        0xC4,
        bytes((0x00,)) + dc_counts + dc_symbols
        + bytes((0x10,)) + ac_counts + ac_symbols,
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos_comps = b"".join(bytes((cid, 0x00)) for cid, _ in comps)
    sos = seg(0xDA, bytes((len(comps),)) + sos_comps + bytes((0, 63, 0)))
    return (
        b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(bw.out) + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# progressive (SOF2) encoder — test fixtures only, like the baseline
# encoder: real spec-valid streams so the progressive decoder is
# exercised on real streams. Emits the same quantized coefficients as
# encode_baseline, so a progressive stream decodes byte-identically to
# its baseline twin.
# ---------------------------------------------------------------------------


def _quantized_blocks(comps, planes, pdims, quant, mcus_x, mcus_y, mid=128):
    """Per component: padded-raster list of quantized coefficient
    blocks (natural order) — the shared input of every scan."""
    blocks = []
    for ci, (_, (chs, cvs)) in enumerate(comps):
        pw, ph = pdims[ci]
        bl = []
        for by in range(mcus_y * cvs):
            for bx in range(mcus_x * chs):
                f = _fdct_2d(_plane_block(planes[ci], pw, ph, bx * 8, by * 8), mid)
                bl.append([int(round(f[i] / quant[i])) for i in range(64)])
        blocks.append(bl)
    return blocks


def _enc_ac_first_block(bw, blk, ss, se, al, ac_codes) -> None:
    """§G.1.2.2 encode side, per-block EOB (an EOB run of exactly 1 —
    the plain 0x00 symbol — is always legal, so no cross-block run
    buffering is needed at fixture scale)."""
    run = 0
    for k in range(ss, se + 1):
        v = blk[ZIGZAG[k]]
        av = abs(v) >> al  # AC point transform truncates toward zero
        if av == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
        n, bits = _magnitude(av if v >= 0 else -av)
        length, code = ac_codes[(run << 4) | n]
        bw.write(code, length)
        bw.write(bits, n)
        run = 0
    if run:
        length, code = ac_codes[0x00]
        bw.write(code, length)


def _enc_ac_refine_block(bw, blk, ss, se, al, ac_codes) -> None:
    """§G.1.2.3 encode side. Correction bits for already-nonzero
    coefficients are BUFFERED and flushed right after the next Huffman
    symbol (ZRL / new-coefficient / EOB) — the decoder reads them while
    crossing those positions, so stream order must be symbol-then-bits.
    The zero run counts only still-zero positions; already-nonzero ones
    are transparent to it (mirrors the decode loop exactly)."""
    run = 0
    buffered: list[int] = []

    def flush() -> None:
        for b in buffered:
            bw.write(b, 1)
        buffered.clear()

    for k in range(ss, se + 1):
        v = blk[ZIGZAG[k]]
        av = abs(v) >> al
        if av == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
            flush()
        if av > 1:
            # previously nonzero: one correction bit (bit Al of |v|)
            buffered.append(av & 1)
            continue
        # newly nonzero at this precision: (run, 1) + sign bit
        length, code = ac_codes[(run << 4) | 1]
        bw.write(code, length)
        bw.write(1 if v >= 0 else 0, 1)
        flush()
        run = 0
    if run or buffered:
        length, code = ac_codes[0x00]
        bw.write(code, length)
        flush()


def encode_progressive(
    w: int,
    h: int,
    pixels: bytes,
    channels: int = 1,
    sampling: tuple[int, int] = (1, 1),
    quant: list[int] | None = None,
    successive: bool = False,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Encode 8-bit pixels as a progressive (SOF2) JPEG.

    ``precision=12``: grayscale 12-bit samples (see ``encode_baseline``)
    emitted as a 12-bit SOF2 frame with a 16-bit DQT and the generated
    12-bit Huffman pair.

    ``successive=False``: spectral selection only — one interleaved DC
    scan, then one full-band AC scan per component. ``successive=True``
    adds successive approximation: DC and AC first scans at Al=1 with
    the AC band split (1-5, 6-63), then DC/AC refinement scans to Al=0
    — exercising every progressive decode path (EOB tails, correction
    bits, new-coefficient placement). Both forms carry the same
    quantized coefficients as ``encode_baseline``, so the decoded
    pixels are byte-identical to the baseline stream's."""
    comps, planes, pdims, quant = _prep_planes(
        w, h, pixels, channels, sampling, quant, precision
    )
    dc_counts, dc_symbols, ac_counts, ac_symbols = _table_pair(precision)
    dc_codes = _encode_codes(dc_counts, dc_symbols)
    ac_codes = _encode_codes(ac_counts, ac_symbols)
    hmax = max(c[1][0] for c in comps)
    vmax = max(c[1][1] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    blocks = _quantized_blocks(
        comps, planes, pdims, quant, mcus_x, mcus_y, 1 << (precision - 1)
    )
    grids = []  # (padded_width_blocks, own_w_blocks, own_h_blocks)
    for ci, (_, (chs, cvs)) in enumerate(comps):
        pw, ph = pdims[ci]
        grids.append((mcus_x * chs, -(-pw // 8), -(-ph // 8)))

    def rst_marker(bw: _BitWriter, state: list[int]) -> None:
        bw.flush()
        bw.out += bytes((0xFF, 0xD0 + state[0]))
        state[0] = (state[0] + 1) % 8

    def dc_scan(al: int, refine: bool) -> bytes:
        bw = _BitWriter()
        preds = [0] * len(comps)
        mcu, rst = 0, [0]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    rst_marker(bw, rst)
                    preds = [0] * len(comps)
                for ci, (_, (chs, cvs)) in enumerate(comps):
                    pwb = grids[ci][0]
                    for by in range(cvs):
                        for bx in range(chs):
                            dc = blocks[ci][
                                (my * cvs + by) * pwb + (mx * chs + bx)
                            ][0]
                            if refine:
                                bw.write((dc >> al) & 1, 1)
                            else:
                                # DC point transform: arithmetic shift
                                v = dc >> al
                                n, bits = _magnitude(v - preds[ci])
                                if n == 16 and v - preds[ci] != 32768:
                                    raise ValueError(
                                        f"DC diff {v - preds[ci]} not encodable:"
                                        " category 16 is +32768 only"
                                    )
                                length, code = dc_codes[n]
                                bw.write(code, length)
                                # n != 16: category 16 carries no
                                # magnitude bits (parity with
                                # _encode_block; unreachable with this
                                # DCT normalization, guarded anyway)
                                if n and n != 16:
                                    bw.write(bits, n)
                                preds[ci] = v
                mcu += 1
        bw.flush()
        return bytes(bw.out)

    def ac_scan(ci: int, ss: int, se: int, al: int, refine: bool) -> bytes:
        bw = _BitWriter()
        pwb, owb, ohb = grids[ci]
        mcu, rst = 0, [0]
        for by in range(ohb):
            for bx in range(owb):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    rst_marker(bw, rst)
                blk = blocks[ci][by * pwb + bx]
                if refine:
                    _enc_ac_refine_block(bw, blk, ss, se, al, ac_codes)
                else:
                    _enc_ac_first_block(bw, blk, ss, se, al, ac_codes)
                mcu += 1
        bw.flush()
        return bytes(bw.out)

    def seg(marker: int, payload: bytes) -> bytes:
        return (
            bytes((0xFF, marker))
            + struct.pack(">H", 2 + len(payload))
            + payload
        )

    def sos(scan_comps, ss: int, se: int, ah: int, al: int) -> bytes:
        payload = bytes((len(scan_comps),))
        for cid in scan_comps:
            payload += bytes((cid, 0x00))  # DC table 0, AC table 0
        payload += bytes((ss, se, (ah << 4) | al))
        return seg(0xDA, payload)

    all_ids = [cid for cid, _ in comps]
    scans: list[tuple[list[int], int, int, int, int, bytes]] = []
    if not successive:
        scans.append((all_ids, 0, 0, 0, 0, dc_scan(0, refine=False)))
        for ci, (cid, _) in enumerate(comps):
            scans.append(([cid], 1, 63, 0, 0, ac_scan(ci, 1, 63, 0, False)))
    else:
        scans.append((all_ids, 0, 0, 0, 1, dc_scan(1, refine=False)))
        for ci, (cid, _) in enumerate(comps):
            scans.append(([cid], 1, 5, 0, 1, ac_scan(ci, 1, 5, 1, False)))
            scans.append(([cid], 6, 63, 0, 1, ac_scan(ci, 6, 63, 1, False)))
        scans.append((all_ids, 0, 0, 1, 0, dc_scan(0, refine=True)))
        for ci, (cid, _) in enumerate(comps):
            scans.append(([cid], 1, 5, 1, 0, ac_scan(ci, 1, 5, 0, True)))
            scans.append(([cid], 6, 63, 1, 0, ac_scan(ci, 6, 63, 0, True)))

    dqt = seg(0xDB, _dqt_payload(quant, precision))
    sof_comps = b"".join(
        bytes((cid, (chs << 4) | cvs, 0)) for cid, (chs, cvs) in comps
    )
    sof = seg(0xC2, struct.pack(">BHHB", precision, h, w, len(comps)) + sof_comps)
    dht = seg(
        0xC4,
        bytes((0x00,)) + dc_counts + dc_symbols
        + bytes((0x10,)) + ac_counts + ac_symbols,
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    out = b"\xff\xd8" + dqt + sof + dht + dri
    for scan_comps, ss, se, ah, al, data in scans:
        out += sos(scan_comps, ss, se, ah, al) + data
    return out + b"\xff\xd9"
