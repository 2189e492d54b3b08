"""Pure-Python JPEG codec: baseline-sequential AND progressive decode
(the test-fixture encoders live in ``tests/jpeg_encoders.py``).

Baseline and progressive DCT / Huffman JPEGs decode to raw 8-bit
pixels with stdlib only, so ``resize_media`` yields real thumbnails with
no raster library. Supported: SOF0 (baseline sequential), SOF1 (extended
sequential, 8- and 12-bit — 12-bit samples level-shift by 2048, decode
exactly, and scale to the module's 8-bit pixel contract; 16-bit Pq=1
quantization tables; the §F.1.2.1.1 DC category-16 corner), and SOF2
(progressive: spectral selection + successive approximation, DC and AC
first/refinement scans, per T.81 Annex G, 8- and 12-bit), grayscale and
3-component YCbCr at 4:4:4 / 4:2:2 / 4:2:0 (any sampling factors ≤ 2
compose through the generic per-component upsampler), restart markers
in all modes. Arithmetic coding (SOF9+; no verifiable Table D.3 state
machine available in this environment — see COVERAGE.md's declared
boundary) and hierarchical/lossless frames raise
``ValueError``/``NotImplementedError`` — callers surface
``resize_ok=false`` data rows, never task failures.

Interpreted per-pixel loops are ~100x slower than a C codec; like the
PNG/GIF paths, the decode is deterministic on any machine, which is what
the oracle pins.

This module is written from the public JPEG spec (ITU-T T.81): marker
layout §B.2, Huffman table construction §C.2, the sequential decode
procedure §F.2.2, the progressive control procedures Annex G (EOB runs
§G.1.2.2, successive-approximation correction bits §G.1.2.3).
"""

from __future__ import annotations

import math
import struct

# zigzag order: index i of the scan -> position in the 8x8 block
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# separable 8-point DCT-III basis: _COS[u][x] = C(u) * cos((2x+1)u*pi/16) / 2
_COS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16)
        / 2.0
        for x in range(8)
    ]
    for u in range(8)
]


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; stops at any non-RST marker (left for the caller)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("malformed JPEG: entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            else:
                # a real marker: per §F.2.2.5 the decoder pads with 1-bits
                # at the end of the interval; keep pos ON the marker
                self.bits = (self.bits << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> None:
        """Drop buffered bits and skip to the next marker boundary (used
        at restart intervals)."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                return
            self.pos += 1


def _build_huffman(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """(code_length, code) -> symbol, per T.81 Annex C code assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("malformed JPEG: invalid Huffman code")


def _extend(v: int, n: int) -> int:
    # §F.2.2.1 EXTEND: map the n-bit magnitude to its signed value
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _dc_diff(br: _BitReader, dc_tbl, prec: int) -> int:
    """Huffman-decode one DC difference — the single implementation of
    the §F.1.2.1.1 corner (12-bit category 16 codes 32768 with NO
    appended magnitude bits), shared by the sequential and progressive
    DC paths so they cannot diverge."""
    t = _huff_decode(br, dc_tbl)
    if t == 16 and prec == 12:
        return 32768
    return _extend(br.receive(t), t)


def _idct_2d(coef: list[int], prec: int = 8) -> list[int]:
    """8x8 inverse DCT -> level-shifted, clamped samples scaled to
    8 bits. ``prec`` is the frame's sample precision: 12-bit frames
    level-shift by 2048, clamp to 0..4095, and return the samples
    scaled down 4 bits (the module's pixel contract is 8-bit; the
    decode is exact internally, only the final presentation scales)."""
    # rows then columns, separable; floats are IEEE-deterministic
    mid = 1 << (prec - 1)
    maxv = (1 << prec) - 1
    down = prec - 8
    tmp = [0.0] * 64
    for y in range(8):
        row = coef[y * 8 : y * 8 + 8]
        if not any(row):
            continue
        base = y * 8
        for x in range(8):
            cx = _COS
            s = 0.0
            for u in range(8):
                if row[u]:
                    s += row[u] * cx[u][x]
            tmp[base + x] = s
    out = [0] * 64
    for x in range(8):
        col = [tmp[y * 8 + x] for y in range(8)]
        for y in range(8):
            s = 0.0
            for v in range(8):
                if col[v]:
                    s += col[v] * _COS[v][y]
            p = int(round(s)) + mid
            p = 0 if p < 0 else (maxv if p > maxv else p)
            out[y * 8 + x] = p >> down if down else p
    return out


def _parse_dqt(seg: bytes, qt: dict[int, list[int]]) -> None:
    j = 0
    while j < len(seg):
        pq, tq = seg[j] >> 4, seg[j] & 0x0F
        tbl = [0] * 64
        if pq == 0:
            if j + 65 > len(seg):
                raise ValueError("malformed JPEG: truncated DQT")
            for k in range(64):
                tbl[ZIGZAG[k]] = seg[j + 1 + k]
            j += 65
        elif pq == 1:  # 16-bit entries (12-bit frames may use either)
            if j + 129 > len(seg):
                raise ValueError("malformed JPEG: truncated 16-bit DQT")
            for k in range(64):
                tbl[ZIGZAG[k]] = (seg[j + 1 + 2 * k] << 8) | seg[j + 2 + 2 * k]
            j += 129
        else:
            raise ValueError(f"malformed JPEG: DQT precision field {pq}")
        qt[tq] = tbl


def _parse_dht(seg: bytes, huff_dc: dict[int, dict], huff_ac: dict[int, dict]) -> None:
    j = 0
    while j < len(seg):
        tc, th = seg[j] >> 4, seg[j] & 0x0F
        counts = seg[j + 1 : j + 17]
        nsym = sum(counts)
        symbols = seg[j + 17 : j + 17 + nsym]
        tbl = _build_huffman(counts, symbols)
        (huff_dc if tc == 0 else huff_ac)[th] = tbl
        j += 17 + nsym


def decode_baseline(p: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a baseline-sequential OR progressive JPEG to
    (w, h, channels, pixels), row-major interleaved 8-bit — same
    contract as ``multimodal._png_decode_pixels``. Grayscale stays
    1 channel; YCbCr converts to RGB (JFIF full-range BT.601). (The
    name predates progressive support; it is the module's single
    decode entry point.)"""
    if p[:2] != b"\xff\xd8":
        raise ValueError("malformed JPEG: no SOI")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (w, h, comps) ; comps = [(cid, hs, vs, tq)]
    precision = 8
    progressive = False
    restart_interval = 0
    i = 2
    n = len(p)
    while i + 4 <= n:
        if p[i] != 0xFF:
            raise ValueError("malformed JPEG: lost marker sync")
        marker = p[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI before any scan
            break
        (seglen,) = struct.unpack(">H", p[i + 2 : i + 4])
        seg = p[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qt)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, huff_dc, huff_ac)
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec == 12:
                if marker == 0xC0:
                    # T.81 B.2.2: baseline frames are 8-bit by definition
                    raise ValueError("malformed JPEG: 12-bit baseline frame")
            elif prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fw, fh, comps)
            precision = prec
            progressive = marker == 0xC2
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise NotImplementedError(
                f"JPEG frame type 0x{marker:02x} (only SOF0/SOF1/SOF2)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            if progressive:
                # the progressive loop owns the rest of the stream
                # (multiple scans, tables redefined between them)
                return _decode_progressive(
                    p, i, frame, qt, huff_dc, huff_ac, restart_interval,
                    precision,
                )
            ns = seg[0]
            if ns != len(frame[2]):
                # a baseline JPEG may legally carry one scan per
                # component; _decode_scan assumes the single fully
                # interleaved scan — decoding a partial scan with MCU
                # ordering would place blocks wrong and zero the other
                # planes silently. Raise instead.
                raise NotImplementedError(
                    "non-interleaved baseline JPEG (scan covers "
                    f"{ns} of {len(frame[2])} components)"
                )
            scan = []  # (comp_index, dc_table, ac_table)
            for s in range(ns):
                cs, tt = seg[1 + 2 * s], seg[2 + 2 * s]
                idx = next(
                    (k for k, c in enumerate(frame[2]) if c[0] == cs), None
                )
                if idx is None:
                    raise ValueError("malformed JPEG: scan names unknown component")
                scan.append((idx, tt >> 4, tt & 0x0F))
            return _decode_scan(
                p, i + 2 + seglen, frame, scan, qt, huff_dc, huff_ac,
                restart_interval, precision,
            )
        i += 2 + seglen
    raise ValueError("malformed JPEG: no scan data")


def _decode_scan(
    p: bytes,
    pos: int,
    frame,
    scan,
    qt,
    huff_dc,
    huff_ac,
    restart_interval: int,
    prec: int = 8,
) -> tuple[int, int, int, bytearray]:
    fw, fh, comps = frame
    if fw == 0 or fh == 0:
        raise ValueError("malformed JPEG: zero dimension")
    # decompression-bomb guard (same budget as multimodal's raster
    # decoders): 16-bit dims allow a ~4-gigapixel declaration in a
    # 200-byte payload, and the planes below allocate w*h up front
    if fw * fh > (1 << 26):
        raise ValueError(
            f"decompression bomb: {fw}x{fh} exceeds the decode budget"
        )
    # before any plane allocation: the header may declare up to 255
    # components, each of which would get a frame-sized bytearray below
    if len(comps) not in (1, 3):
        raise NotImplementedError(
            f"{len(comps)}-component JPEG (only 1 or 3)"
        )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        raise ValueError("malformed JPEG: bad sampling factors")
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))
    # per-component pixel planes at their own resolution
    planes = []
    for _, hs, vs, _ in comps:
        planes.append(bytearray(mcus_x * hs * 8 * mcus_y * vs * 8))
    br = _BitReader(p, pos)
    pred = [0] * len(comps)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                br.align_to_marker()
                d = br.data
                if br.pos + 1 < len(d) and d[br.pos] == 0xFF and 0xD0 <= d[br.pos + 1] <= 0xD7:
                    br.pos += 2
                    pred = [0] * len(comps)
                else:
                    raise ValueError("malformed JPEG: missing restart marker")
            for ci, tdc, tac in scan:
                _, hs, vs, tq = comps[ci]
                quant = qt.get(tq)
                if quant is None:
                    raise ValueError("malformed JPEG: missing quant table")
                dc_tbl = huff_dc.get(tdc)
                ac_tbl = huff_ac.get(tac)
                if dc_tbl is None or ac_tbl is None:
                    raise ValueError("malformed JPEG: missing Huffman table")
                for by in range(vs):
                    for bx in range(hs):
                        coef = [0] * 64
                        pred[ci] += _dc_diff(br, dc_tbl, prec)
                        coef[0] = pred[ci] * quant[0]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, ac_tbl)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("malformed JPEG: AC index overflow")
                            # quant is stored de-zigzagged (natural order),
                            # so index it at the coefficient's natural
                            # position, not the scan position k
                            coef[ZIGZAG[k]] = (
                                _extend(br.receive(s), s) * quant[ZIGZAG[k]]
                            )
                            k += 1
                        block = _idct_2d(coef, prec)
                        # paste into the component plane
                        pw = mcus_x * hs * 8
                        ox = (mx * hs + bx) * 8
                        oy = (my * vs + by) * 8
                        plane = planes[ci]
                        for row in range(8):
                            dst = (oy + row) * pw + ox
                            plane[dst : dst + 8] = bytes(
                                block[row * 8 : row * 8 + 8]
                            )
            mcu_index += 1
    return _planes_to_pixels(fw, fh, comps, planes, mcus_x, hmax, vmax)


def _planes_to_pixels(
    fw: int,
    fh: int,
    comps,
    planes,
    mcus_x: int,
    hmax: int,
    vmax: int,
) -> tuple[int, int, int, bytearray]:
    """Upsample each component plane to frame resolution and interleave
    (shared by the baseline and progressive decode paths)."""
    nc = len(comps)
    if nc == 1:
        _, hs, vs, _ = comps[0]
        pw = mcus_x * hs * 8
        out = bytearray(fw * fh)
        for y in range(fh):
            src = y * pw
            out[y * fw : (y + 1) * fw] = planes[0][src : src + fw]
        return fw, fh, 1, out
    if nc != 3:
        raise NotImplementedError(f"{nc}-component JPEG (only 1 or 3)")
    out = bytearray(fw * fh * 3)
    pws = [mcus_x * c[1] * 8 for c in comps]
    for y in range(fh):
        row_src = []
        for ci, (_, hs, vs, _) in enumerate(comps):
            sy = y * vs // vmax
            row_src.append(sy * pws[ci])
        base = y * fw * 3
        for x in range(fw):
            yy = planes[0][row_src[0] + x * comps[0][1] // hmax]
            cb = planes[1][row_src[1] + x * comps[1][1] // hmax] - 128
            cr = planes[2][row_src[2] + x * comps[2][1] // hmax] - 128
            r = yy + 1.402 * cr
            g = yy - 0.344136 * cb - 0.714136 * cr
            b = yy + 1.772 * cb
            o = base + x * 3
            out[o] = 0 if r < 0 else (255 if r > 255 else int(r + 0.5))
            out[o + 1] = 0 if g < 0 else (255 if g > 255 else int(g + 0.5))
            out[o + 2] = 0 if b < 0 else (255 if b > 255 else int(b + 0.5))
    return fw, fh, 3, out


# ---------------------------------------------------------------------------
# progressive (SOF2) decode — T.81 Annex G
# ---------------------------------------------------------------------------


def _expect_rst(br: _BitReader) -> None:
    """Skip to and consume the next RSTn marker (restart boundary)."""
    br.align_to_marker()
    d = br.data
    if (
        br.pos + 1 < len(d)
        and d[br.pos] == 0xFF
        and 0xD0 <= d[br.pos + 1] <= 0xD7
    ):
        br.pos += 2
    else:
        raise ValueError("malformed JPEG: missing restart marker")


def _dc_first(br, dc_tbl, blk, pred: list[int], ci: int, al: int, prec: int) -> None:
    # the §F.1.2.1.1 category-16 rule applies in the point-transformed
    # domain too — shared _dc_diff keeps it in lockstep with _decode_scan
    pred[ci] += _dc_diff(br, dc_tbl, prec)
    blk[0] = pred[ci] << al


def _dc_refine(br, blk, al: int) -> None:
    # §G.1.2.1: one appended bit per block; OR works for negative
    # values because Python ints are two's-complement under bitwise ops
    if br.read_bit():
        blk[0] |= 1 << al


def _ac_first_block(br, ac_tbl, blk, ss, se, al, eobrun) -> int:
    """§G.1.2.2: AC first scan for one block; returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(br, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                # EOBn: run of 2^r blocks (this one included) + r bits
                eob = (1 << r) - 1
                if r:
                    eob += br.receive(r)
                return eob
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("malformed JPEG: AC index overflow")
            blk[ZIGZAG[k]] = _extend(br.receive(s), s) << al
            k += 1
    return 0


def _ac_refine_block(br, ac_tbl, blk, ss, se, al, eobrun) -> int:
    """§G.1.2.3: AC successive-approximation refinement for one block.
    Already-nonzero coefficients crossed while advancing take one
    correction bit each; a decoded (r, 1) symbol places a new ±2^Al
    after r still-zero positions. Returns the new EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break  # rest of the band is EOB-tail refined below
                # r == 15: ZRL — cross 16 still-zero positions
            else:
                if s != 1:
                    raise ValueError(
                        "malformed JPEG: progressive refinement size != 1"
                    )
                val = p1 if br.read_bit() else m1
            while k <= se:
                z = ZIGZAG[k]
                if blk[z] != 0:
                    if br.read_bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError(
                        "malformed JPEG: refinement overruns the band"
                    )
                blk[ZIGZAG[k]] = val
            k += 1
    if eobrun > 0:
        # EOB tail: correction bits for every remaining already-nonzero
        # coefficient in the band
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                if br.read_bit() and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _progressive_scan(
    p: bytes,
    pos: int,
    seg: bytes,
    frame,
    grids,
    coefs,
    huff_dc,
    huff_ac,
    restart_interval: int,
    prec: int = 8,
) -> int:
    """Decode one progressive scan's entropy data into the coefficient
    store; returns the stream position of the next marker."""
    fw, fh, comps = frame
    ns = seg[0]
    scan = []  # (comp_index, dc_table, ac_table)
    for s_i in range(ns):
        cs, tt = seg[1 + 2 * s_i], seg[2 + 2 * s_i]
        idx = next((k for k, c in enumerate(comps) if c[0] == cs), None)
        if idx is None:
            raise ValueError("malformed JPEG: scan names unknown component")
        scan.append((idx, tt >> 4, tt & 0x0F))
    ss, se, a = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
    ah, al = a >> 4, a & 0x0F
    if ss == 0 and se != 0:
        raise ValueError("malformed JPEG: progressive DC scan with Se != 0")
    if ss > 0 and ns != 1:
        raise ValueError(
            "malformed JPEG: progressive AC scan must cover one component"
        )
    if se > 63 or ss > se or al > 13 or (ah and ah != al + 1):
        raise ValueError("malformed JPEG: bad scan header parameters")
    br = _BitReader(p, pos)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))

    if ss == 0 and ns > 1:
        # interleaved DC scan: MCU order over the padded block grids
        for ci, tdc, _ in scan:
            if ah == 0 and huff_dc.get(tdc) is None:
                raise ValueError("malformed JPEG: missing Huffman table")
        pred = [0] * len(comps)
        mcu = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    _expect_rst(br)
                    pred = [0] * len(comps)
                for ci, tdc, _ in scan:
                    _, hs, vs, _ = comps[ci]
                    pwb = grids[ci][0]
                    for by in range(vs):
                        for bx in range(hs):
                            blk = coefs[ci][
                                (my * vs + by) * pwb + (mx * hs + bx)
                            ]
                            if ah == 0:
                                _dc_first(br, huff_dc[tdc], blk, pred, ci, al, prec)
                            else:
                                _dc_refine(br, blk, al)
                mcu += 1
    else:
        # single-component scan (DC or AC): the component's OWN block
        # grid in raster order — NOT the MCU-padded grid (§G.1: a
        # non-interleaved scan has one block per MCU and no dummies)
        ci, tdc, tac = scan[0]
        pwb, _, owb, ohb = grids[ci]
        if ss == 0:
            tbl = huff_dc.get(tdc)
            if ah == 0 and tbl is None:
                raise ValueError("malformed JPEG: missing Huffman table")
        else:
            tbl = huff_ac.get(tac)
            if tbl is None:
                raise ValueError("malformed JPEG: missing Huffman table")
        pred = [0] * len(comps)
        eobrun = 0
        mcu = 0
        for by in range(ohb):
            for bx in range(owb):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    _expect_rst(br)
                    pred = [0] * len(comps)
                    eobrun = 0
                blk = coefs[ci][by * pwb + bx]
                if ss == 0:
                    if ah == 0:
                        _dc_first(br, tbl, blk, pred, ci, al, prec)
                    else:
                        _dc_refine(br, blk, al)
                elif ah == 0:
                    eobrun = _ac_first_block(br, tbl, blk, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(
                        br, tbl, blk, ss, se, al, eobrun
                    )
                mcu += 1
    br.align_to_marker()
    return br.pos


def _decode_progressive(
    p: bytes,
    pos: int,
    frame,
    qt,
    huff_dc,
    huff_ac,
    restart_interval: int,
    prec: int = 8,
) -> tuple[int, int, int, bytearray]:
    """Decode a progressive JPEG from its first SOS marker: accumulate
    unquantized coefficients across scans, then dequantize + IDCT once.

    Scale note: like the baseline path this runs per row inside an
    Arrow-batched UDF — the corpus parallelism is Spark's; the codec
    only ever sees one image."""
    fw, fh, comps = frame
    if fw == 0 or fh == 0:
        raise ValueError("malformed JPEG: zero dimension")
    # TIGHTER budget than the baseline path's 1<<26: the progressive
    # coefficient store is Python int lists (~576 B per 64-coef block
    # in CPython — ~9x the 64-byte bytearray block the baseline path
    # streams through), allocated up front from HEADER dims. At the
    # baseline budget a ~200-byte crafted SOF2 header would force
    # >2 GB before any scan data is read — an uncatchable executor
    # OOM, not a resize_ok=false data row. 1<<24 pixels (≈4096x4096,
    # 16.7 MP) covers real smartphone/web photo sizes while bounding
    # the worst case (3-component 4:4:4) near 500 MB transient per
    # blob, one blob at a time per task. Past the budget the row
    # degrades to resize_ok=false — the
    # same contract as every other decode boundary here.
    if fw * fh > (1 << 24):
        raise ValueError(
            f"decompression bomb: {fw}x{fh} exceeds the progressive "
            "decode budget"
        )
    if len(comps) not in (1, 3):
        raise NotImplementedError(
            f"{len(comps)}-component JPEG (only 1 or 3)"
        )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        raise ValueError("malformed JPEG: bad sampling factors")
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))
    grids = []  # (padded_width_blocks, padded_height_blocks, own_w, own_h)
    coefs = []  # per component: padded-raster list of 64-coef blocks
    for _, hs, vs, _ in comps:
        pwb, phb = mcus_x * hs, mcus_y * vs
        owb = -(-(-(-fw * hs // hmax)) // 8)
        ohb = -(-(-(-fh * vs // vmax)) // 8)
        grids.append((pwb, phb, owb, ohb))
        coefs.append([[0] * 64 for _ in range(pwb * phb)])
    i = pos
    n = len(p)
    seen_scan = False
    while i + 2 <= n:
        if p[i] != 0xFF:
            raise ValueError("malformed JPEG: lost marker sync")
        marker = p[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            raise ValueError("malformed JPEG: truncated segment")
        (seglen,) = struct.unpack(">H", p[i + 2 : i + 4])
        seg = p[i + 4 : i + 2 + seglen]
        if marker == 0xC4:  # tables may be redefined between scans
            _parse_dht(seg, huff_dc, huff_ac)
        elif marker == 0xDB:
            _parse_dqt(seg, qt)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            i = _progressive_scan(
                p,
                i + 2 + seglen,
                seg,
                frame,
                grids,
                coefs,
                huff_dc,
                huff_ac,
                restart_interval,
                prec,
            )
            seen_scan = True
            continue
        i += 2 + seglen
    if not seen_scan:
        raise ValueError("malformed JPEG: no scan data")
    # dequantize + inverse DCT — once, after every scan has contributed
    planes = []
    for ci, (_, hs, vs, tq) in enumerate(comps):
        quant = qt.get(tq)
        if quant is None:
            raise ValueError("malformed JPEG: missing quant table")
        pwb, phb, _, _ = grids[ci]
        pw = pwb * 8
        plane = bytearray(pw * phb * 8)
        blocks = coefs[ci]
        for by in range(phb):
            oy = by * 8
            for bx in range(pwb):
                c = blocks[by * pwb + bx]
                if any(c):
                    block = _idct_2d([c[z] * quant[z] for z in range(64)], prec)
                else:
                    block = _GRAY_BLOCK  # all-zero block -> level shift
                ox = bx * 8
                for row in range(8):
                    dst = (oy + row) * pw + ox
                    plane[dst : dst + 8] = block[row * 8 : row * 8 + 8]
        planes.append(plane)
    return _planes_to_pixels(fw, fh, comps, planes, mcus_x, hmax, vmax)


_GRAY_BLOCK = bytes([128]) * 64
