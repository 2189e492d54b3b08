"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas iterators.

The Spark-side contract is real and tested end-to-end: schema, batch
shape, partitioning, and UDF signatures all work on binary payloads.
The codec boundary has three tiers:

- **metadata decode** (``decode_image_meta``) handles REAL formats with
  pure-Python header parsers — PNG IHDR, JPEG SOF frame scan, GIF
  logical screen descriptor — plus the deterministic FAKE test format;
  no external library needed, so real corpus bytes yield real
  (width, height, channels) in any environment;
- **pixel decode / resize**: PNGs (all five color types, 1/2/4/8/16-bit
  depths with high-byte downsample, palette->RGB expansion, Adam7
  interlace, the five scanline filters), GIF first frames
  (variable-width LZW, deinterlace, palette compose), and baseline
  and progressive JPEGs (Huffman + IDCT, gray/YCbCr
  4:4:4/4:2:2/4:2:0, restart markers, spectral selection + successive
  approximation — ``operators/jpeg.py``) decode, nearest-neighbor
  resize, and re-encode in PURE PYTHON — real thumbnails with no
  raster dependency (12-bit frames decode natively too in both DCT
  modes); an arithmetic-coded JPEG or any other container surfaces as
  ``resize_ok=false`` — never a task failure;
- the FAKE format (``fake_image_bytes``) keeps its fully-deterministic
  arithmetic resize path so the DuckDB oracle can pin the pipeline.

Scale notes: binary payloads ride in the same parquet row groups as their
metadata; ``mapInPandas`` streams Arrow record batches, so peak memory per
task is one batch (tune ``spark.sql.execution.arrow.maxRecordsPerBatch``
for large blobs); decode parallelism == partition count of the scan.
"""

from __future__ import annotations

import math
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-row decode containment contracts, MODULE-level so the hostile-
# input property tests import the exact production tuples instead of
# hand-copying them (a drifted copy would keep passing while real
# payloads raised uncaught and killed tasks):
# - image tier (decode_image_meta / resize paths)
MEDIA_DECODE_ERRS: tuple = (
    NotImplementedError,
    ValueError,
    KeyError,
    IndexError,
    struct.error,
    zlib.error,
    OSError,
)
# - AV metadata tier (extract_av_meta)
AV_META_CAUGHT: tuple = (
    ValueError,
    struct.error,
    IndexError,
    OverflowError,  # hostile float fields (inf * scale)
    NotImplementedError,  # recognized container, codec out of scope
)

# fake header: magic 'FIMG' + u16 width + u16 height + u8 channels
_FAKE_MAGIC = b"FIMG"
_HEADER = ">4sHHB"

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> DECODED channels (palette expands to RGB; the
# stored-sample count per pixel lives in _png_decode_pixels)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}

MEDIA_META_SCHEMA = (
    "media_id long, byte_len int, content_md5 string, "
    "width int, height int, channels int, decode_ok boolean"
)


def fake_image_bytes(media_id: int, width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic fake image payload (header + pseudo-pixels)."""
    header = struct.pack(_HEADER, _FAKE_MAGIC, width, height, channels)
    n = min(width * height * channels, 256)
    body = bytes((media_id * 31 + i * 7) % 256 for i in range(n))
    return header + body


def _png_meta(p: bytes) -> tuple[int, int, int]:
    # IHDR must be the first chunk: sig(8) len(4) 'IHDR'(4) w(4) h(4)
    # bitdepth(1) colortype(1) ...
    if len(p) < 26 or p[12:16] != b"IHDR":
        raise ValueError("malformed PNG: missing IHDR")
    w, h = struct.unpack(">II", p[16:24])
    # PNG spec bounds dims to [1, 2^31-1]; out-of-spec values would also
    # overflow the Int32 metadata columns downstream
    if not (1 <= w <= 0x7FFFFFFF) or not (1 <= h <= 0x7FFFFFFF):
        raise ValueError("malformed PNG: dimension out of spec range")
    channels = _PNG_CHANNELS.get(p[25])
    if channels is None:
        raise ValueError(f"malformed PNG: unknown color type {p[25]}")
    return w, h, channels


def _jpeg_meta(p: bytes) -> tuple[int, int, int]:
    # walk marker segments to the first frame header (SOF0..15 minus
    # DHT/JPG/DAC): 0xFF marker(1) seglen(2) precision(1) h(2) w(2) nc(1)
    i, n = 2, len(p)
    while i + 4 <= n:
        if p[i] != 0xFF:
            raise ValueError("malformed JPEG: lost marker sync")
        marker = p[i + 1]
        if marker == 0xFF:  # fill byte — legal padding before a marker
            i += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 10 > n:
                break
            h, w = struct.unpack(">HH", p[i + 5 : i + 9])
            return w, h, p[i + 9]
        i += 2 + struct.unpack(">H", p[i + 2 : i + 4])[0]
    raise ValueError("malformed JPEG: no frame header")


def _gif_meta(p: bytes) -> tuple[int, int, int]:
    if len(p) < 10:
        raise ValueError("malformed GIF: truncated screen descriptor")
    w, h = struct.unpack("<HH", p[6:10])
    return w, h, 3


# Decompression-bomb guard: a few-hundred-byte payload can declare gigapixel
# dims, and the pixel decoders allocate w*h*channels up front — cap the
# pixel count so a hostile blob degrades to a data row instead of
# OOM-killing the executor
_MAX_DECODE_PIXELS = 1 << 26  # 67M pixels ≈ 8192x8192


def _check_pixel_budget(w: int, h: int) -> None:
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(
            f"decompression bomb: {w}x{h} exceeds the "
            f"{_MAX_DECODE_PIXELS}-pixel decode budget"
        )


# Adam7 interlace passes: (x0, y0, dx, dy)
_PNG_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(line: bytearray, prev: bytes, ftype: int, bpp: int) -> None:
    """In-place inverse of the five PNG scanline filters; ``bpp`` is the
    filter unit in BYTES (max(1, samples*depth//8) per the spec)."""
    n = len(line)
    if ftype == 0:
        return
    if ftype == 1:  # Sub
        for x in range(bpp, n):
            line[x] = (line[x] + line[x - bpp]) & 0xFF
    elif ftype == 2:  # Up
        for x in range(n):
            line[x] = (line[x] + prev[x]) & 0xFF
    elif ftype == 3:  # Average
        for x in range(n):
            a = line[x - bpp] if x >= bpp else 0
            line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for x in range(n):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (line[x] + pred) & 0xFF
    else:
        raise ValueError(f"malformed PNG: filter {ftype}")


def _png_unpack_samples(line: bytes, n: int, depth: int) -> list[int]:
    """First ``n`` samples of an unfiltered scanline. Depth 16 keeps the
    high byte (8-bit downsample); sub-byte depths unpack MSB-first."""
    if depth == 8:
        return list(line[:n])
    if depth == 16:
        return list(line[0 : 2 * n : 2])
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    return [
        (line[j // per_byte] >> (8 - depth * (j % per_byte + 1))) & mask
        for j in range(n)
    ]


def _png_decode_pixels(p: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a PNG to raw 8-bit pixels: (w, h, channels, data) with
    ``data`` row-major, ``channels`` bytes per pixel.

    Pure stdlib (zlib + the five scanline filters). Supported: color
    types 0/2/3/4/6 at depth 8; 16-bit for 0/2/4/6 (high-byte
    downsample); sub-byte depths (1/2/4) for grayscale and palette;
    Adam7 interlace. Palette output is expanded to RGB. Malformed
    streams raise ValueError — callers surface it as ``resize_ok=false``."""
    w, h, _ = _png_meta(p)
    _check_pixel_budget(w, h)
    bit_depth, color_type, interlace = p[24], p[25], p[28]
    samples = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if samples is None or bit_depth not in (1, 2, 4, 8, 16):
        raise ValueError("malformed PNG: bad color type / depth")
    if bit_depth == 16 and color_type == 3:
        raise ValueError("malformed PNG: 16-bit palette")
    if bit_depth < 8 and color_type not in (0, 3):
        raise ValueError("malformed PNG: sub-byte truecolor")
    if interlace not in (0, 1):
        raise ValueError("malformed PNG: unknown interlace method")
    # walk chunks: concatenate IDAT, pick up PLTE
    idat = bytearray()
    plte = None
    i = 8
    while i + 8 <= len(p):
        (length,) = struct.unpack(">I", p[i : i + 4])
        typ = p[i + 4 : i + 8]
        if typ == b"IDAT":
            idat += p[i + 8 : i + 8 + length]
        elif typ == b"PLTE":
            plte = p[i + 8 : i + 8 + length]
        elif typ == b"IEND":
            break
        i += 12 + length
    if color_type == 3 and plte is None:
        raise ValueError("malformed PNG: palette image without PLTE")
    raw = zlib.decompress(bytes(idat))
    grid = bytearray(w * h * samples)  # raw samples (indices for palette)
    bpp = max(1, (samples * bit_depth) // 8)
    pos = 0
    passes = _PNG_PASSES if interlace else ((0, 0, 1, 1),)
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * samples * bit_depth + 7) // 8
        prev = bytes(stride)
        for r in range(ph):
            if pos + 1 + stride > len(raw):
                raise ValueError("malformed PNG: short pixel stream")
            ftype = raw[pos]
            line = bytearray(raw[pos + 1 : pos + 1 + stride])
            pos += 1 + stride
            _png_unfilter(line, prev, ftype, bpp)
            vals = _png_unpack_samples(bytes(line), pw * samples, bit_depth)
            y = y0 + r * dy
            for c in range(pw):
                off = (y * w + x0 + c * dx) * samples
                grid[off : off + samples] = bytes(
                    vals[c * samples : (c + 1) * samples]
                )
            prev = bytes(line)
    if color_type == 3:
        out = bytearray(w * h * 3)
        for j in range(w * h):
            idx = grid[j]
            if 3 * idx + 3 > len(plte):
                raise ValueError("malformed PNG: palette overrun")
            out[3 * j : 3 * j + 3] = plte[3 * idx : 3 * idx + 3]
        return w, h, 3, out
    if bit_depth < 8:  # sub-byte grayscale: rescale to 0..255
        mx = (1 << bit_depth) - 1
        for j in range(len(grid)):
            grid[j] = grid[j] * 255 // mx
    return w, h, samples, grid


def _png_encode(w: int, h: int, ch: int, data: bytes) -> bytes:
    """Encode raw 8-bit pixels back to a valid PNG (filter 0 rows)."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = w * ch
    raw = b"".join(
        b"\x00" + bytes(data[r * stride : (r + 1) * stride]) for r in range(h)
    )

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _nn_resample(
    w: int, h: int, ch: int, data: bytes | bytearray, max_side: int
) -> tuple[int, int, bytearray]:
    """Nearest-neighbor scale-to-fit with the FAKE path's floor
    arithmetic (deterministic in any environment), shared by every real
    raster codec so pure-Python thumbnails are bit-reproducible.
    SHRINK-ONLY, the standard thumbnail semantics: a source already
    inside ``max_side`` passes through at its own size."""
    m = max(w, h)
    target = min(max_side, m)
    dw = max(1, (w * target) // m)
    dh = max(1, (h * target) // m)
    stride = w * ch
    out = bytearray(dw * dh * ch)
    for y in range(dh):
        sy = (y * h) // dh
        src_off = sy * stride
        dst_off = y * dw * ch
        for x in range(dw):
            sx = ((x * w) // dw) * ch
            out[dst_off + x * ch : dst_off + (x + 1) * ch] = data[
                src_off + sx : src_off + sx + ch
            ]
    return dw, dh, out


def _png_resize(payload: bytes, max_side: int) -> bytes:
    w, h, ch, data = _png_decode_pixels(payload)
    dw, dh, out = _nn_resample(w, h, ch, data, max_side)
    return _png_encode(dw, dh, ch, bytes(out))


def _jpeg_resize(payload: bytes, max_side: int) -> bytes:
    """Sequential (8/12-bit) or progressive (8/12-bit) JPEG -> PNG
    thumbnail via the pure decoder (``operators/jpeg.py``);
    arithmetic-coded streams raise NotImplementedError."""
    from .jpeg import decode_baseline

    w, h, ch, data = decode_baseline(payload)
    dw, dh, out = _nn_resample(w, h, ch, data, max_side)
    return _png_encode(dw, dh, ch, bytes(out))


def _gif_decode_pixels(p: bytes) -> tuple[int, int, int, bytearray]:
    """Decode the FIRST frame of a GIF87a/89a to raw RGB pixels via a
    pure-Python LZW decoder (variable code width, clear/EOI codes, the
    KwKwK case, interlaced row order). Frames smaller than the logical
    screen are composed onto a background-filled canvas. Raises
    ValueError on malformed streams or a missing color table."""
    sw, sh, _ = _gif_meta(p)
    _check_pixel_budget(sw, sh)
    packed = p[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = p[pos : pos + 3 * n]
        pos += 3 * n
    bg_index = p[11]
    while pos < len(p):
        block = p[pos]
        if block == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack("<HHHH", p[pos + 1 : pos + 9])
            ipacked = p[pos + 9]
            pos += 10
            table = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 0x07) + 1)
                table = p[pos : pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("malformed GIF: no color table")
            mcs = p[pos]
            pos += 1
            data = bytearray()
            while pos < len(p) and p[pos] != 0:
                ln = p[pos]
                data += p[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _gif_lzw_decode(bytes(data), mcs, fw * fh)
            if ipacked & 0x40:  # deinterlace (4-pass row order)
                rows = [
                    *range(0, fh, 8),
                    *range(4, fh, 8),
                    *range(2, fh, 4),
                    *range(1, fh, 2),
                ]
                de = bytearray(fw * fh)
                for src_r, dst_r in enumerate(rows):
                    de[dst_r * fw : (dst_r + 1) * fw] = indices[
                        src_r * fw : (src_r + 1) * fw
                    ]
                indices = de
            # compose onto the logical screen (background-filled; one
            # C-speed bytes-multiply, not a per-pixel Python loop)
            if gct is not None and 3 * bg_index + 3 <= len(gct):
                out = bytearray(
                    bytes(gct[3 * bg_index : 3 * bg_index + 3]) * (sw * sh)
                )
            else:
                out = bytearray(sw * sh * 3)
            for r in range(fh):
                if top + r >= sh:
                    break
                for c in range(min(fw, sw - left)):
                    idx = indices[r * fw + c]
                    if 3 * idx + 3 > len(table):
                        raise ValueError("malformed GIF: palette overrun")
                    o = ((top + r) * sw + left + c) * 3
                    out[o : o + 3] = table[3 * idx : 3 * idx + 3]
            return sw, sh, 3, out
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"malformed GIF: block 0x{block:02x}")
    raise ValueError("malformed GIF: no image data")


def _gif_lzw_decode(data: bytes, mcs: int, n_pixels: int) -> bytearray:
    """GIF-flavored LZW: little-endian bit packing, CLEAR/EOI codes,
    code width grows at 2^width up to 12 bits."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    bitpos = 0
    total_bits = 8 * len(data)

    def reset() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], mcs + 1

    table, width = reset()
    prev: bytes | None = None
    while bitpos + width <= total_bits and len(out) < n_pixels:
        byte = bitpos >> 3
        code = int.from_bytes(data[byte : byte + 3], "little")
        code = (code >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("malformed GIF: bad LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("malformed GIF: short pixel stream")
    return bytearray(out[:n_pixels])


def _gif_resize(payload: bytes, max_side: int) -> bytes:
    """First GIF frame -> nearest-neighbor thumbnail, re-encoded as PNG
    (the pipeline's canonical thumbnail container)."""
    w, h, ch, data = _gif_decode_pixels(payload)
    dw, dh, out = _nn_resample(w, h, ch, data, max_side)
    return _png_encode(dw, dh, ch, bytes(out))


def decode_image_meta(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the payload's container header.

    Real PNG/JPEG/GIF bytes are parsed with pure-Python header readers
    (no raster library needed — metadata extraction over a 100 TB media
    corpus must not depend on a decode dependency being present); the
    FAKE test format keeps its struct header. Unknown containers raise
    ``NotImplementedError``."""
    if payload[:4] == _FAKE_MAGIC:
        _, w, h, c = struct.unpack(_HEADER, payload[: struct.calcsize(_HEADER)])
        return w, h, c
    if payload[:8] == _PNG_SIG:
        return _png_meta(payload)
    if payload[:2] == b"\xff\xd8":
        return _jpeg_meta(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_meta(payload)
    raise NotImplementedError(
        "unrecognized media container (PNG/JPEG/GIF headers are parsed)"
    )


def attach_binary_stats(df: DataFrame, binary_col: str = "content") -> DataFrame:
    """Cheap engine-side metadata: byte length + md5 — no Python, pure
    codegen'd expressions; runs at scan speed on any corpus size."""
    return df.withColumn("byte_len", F.length(F.col(binary_col)).cast("int")).withColumn(
        "content_md5", F.md5(F.col(binary_col))
    )


def extract_image_meta(
    df: DataFrame, id_col: str = "media_id", binary_col: str = "content"
) -> DataFrame:
    """Arrow-batched decode -> metadata row per media item.

    ``mapInPandas``: each task consumes an iterator of pandas batches, so
    memory stays bounded by the Arrow batch size regardless of corpus
    scale. Decode failures are captured per row (``decode_ok=false``), not
    task failures — a poison blob cannot kill the job.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf[id_col].astype("int64"),
                "byte_len": pdf[binary_col].map(len).astype("int32"),
                "content_md5": pdf[binary_col].map(
                    lambda b: __import__("hashlib").md5(b).hexdigest()
                ),
            }
            dims = []
            for payload in pdf[binary_col]:
                try:
                    dims.append(decode_image_meta(bytes(payload)) + (True,))
                except MEDIA_DECODE_ERRS:
                    dims.append((None, None, None, False))
            out["width"] = pd.array([d[0] for d in dims], dtype="Int32")
            out["height"] = pd.array([d[1] for d in dims], dtype="Int32")
            out["channels"] = pd.array([d[2] for d in dims], dtype="Int32")
            out["decode_ok"] = [d[3] for d in dims]
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=MEDIA_META_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_n: int,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic frame/row sampling: keep ids where id % every_n == 0 —
    the partition-local, shuffle-free sampling pattern used to thin video
    frames or huge media corpora before expensive decode."""
    return df.filter((F.col(id_col) % every_n) == 0)


RESIZED_META_SCHEMA = (
    "media_id long, src_width int, src_height int, "
    "width int, height int, byte_len int, resize_ok boolean"
)

HEADER_LEN = struct.calcsize(_HEADER)
_BODY_CAP = 256  # fake_image_bytes caps pseudo-pixels at 256 bytes


def resize_image(payload: bytes, max_side: int) -> bytes:
    """Scale-to-fit ``max_side`` preserving aspect.

    FAKE format: integer arithmetic resize (floor division — exactly
    portable), header rewritten, body nearest-neighbor-subsampled from
    the capped pseudo-pixel array; fully deterministic so the DuckDB
    oracle can pin it. PNG, GIF and JPEG decode through the stdlib-only
    raster paths above and re-encode as PNG, bit-exact on any machine.

    All paths are SHRINK-ONLY (upscaling is never performed, the
    standard thumbnail semantics). A corrupt stream raises its parser's
    error; an arithmetic-coded JPEG or any other container raises
    ``NotImplementedError`` (callers surface both as ``resize_ok=false``).
    """
    if payload[:4] != _FAKE_MAGIC:
        if payload[:8] == _PNG_SIG:
            return _png_resize(payload, max_side)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _gif_resize(payload, max_side)
        if payload[:2] == b"\xff\xd8":
            return _jpeg_resize(payload, max_side)
        raise NotImplementedError(
            "no pixel decoder for this container; header-only metadata "
            "still decodes via decode_image_meta"
        )
    w, h, c = decode_image_meta(payload)
    m = max(w, h)
    dw = max(1, (w * max_side) // m)
    dh = max(1, (h * max_side) // m)
    body = payload[HEADER_LEN:]
    n_dst = min(dw * dh * c, _BODY_CAP)
    n_src = len(body)
    out = bytes(body[(i * n_src) // n_dst] for i in range(n_dst)) if n_src else b""
    return struct.pack(_HEADER, _FAKE_MAGIC, dw, dh, c) + out


def resize_media(df: DataFrame, max_side: int) -> DataFrame:
    """Arrow-batched resize stage: per row build/accept the payload,
    resize, RE-DECODE the result (the round-trip check a pipeline wants
    before shipping thumbnails), and emit source + target metadata.
    Expects columns (media_id, content); one Python batch per Arrow
    record batch — same memory posture as ``extract_image_meta``."""

    # every way a signed-but-corrupt payload can fail: parser
    # ValueError/KeyError/IndexError/struct.error, zlib.error from a bad
    # deflate body, NotImplementedError from a container with no pixel
    # decoder
    _DECODE_ERRS = MEDIA_DECODE_ERRS

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                try:
                    sw, sh, sc = decode_image_meta(bytes(payload))
                except _DECODE_ERRS:
                    # undecodable container: a data row, not a task kill
                    rows.append((mid, None, None, None, None, None, False))
                    continue
                try:
                    resized = resize_image(bytes(payload), max_side)
                    dw, dh, dc = decode_image_meta(resized)
                    ok = dc == sc and max(dw, dh) <= max_side
                    blen = len(resized)
                except _DECODE_ERRS:
                    # header decoded but the body is corrupt, or there
                    # is no pixel decoder for this container
                    dw = dh = blen = 0
                    ok = False
                rows.append((mid, sw, sh, dw, dh, blen, ok))
            yield pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "src_width": pd.array([r[1] for r in rows], dtype="Int32"),
                    "src_height": pd.array([r[2] for r in rows], dtype="Int32"),
                    "width": pd.array([r[3] for r in rows], dtype="Int32"),
                    "height": pd.array([r[4] for r in rows], dtype="Int32"),
                    "byte_len": pd.array([r[5] for r in rows], dtype="Int32"),
                    "resize_ok": [r[6] for r in rows],
                }
            )

    return df.mapInPandas(batches, schema=RESIZED_META_SCHEMA)


def generate_fake_media(df: DataFrame) -> DataFrame:
    """Arrow-batched fake-media generator for tests/demos: (media_id,
    width, height) -> (media_id, content) with deterministic payloads.
    Stands in for the binary scan of a real media corpus."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": [
                        fake_image_bytes(int(m), int(w), int(h))
                        for m, w, h in zip(
                            pdf["media_id"], pdf["width"], pdf["height"]
                        )
                    ],
                }
            )

    return df.mapInPandas(batches, schema="media_id long, content binary")


# ---------------------------------------------------------------------------
# audio/video tier: WAV/RIFF + MP4/ISO-BMFF (r10) and MP3 + ADTS AAC
# + Ogg Vorbis/Opus + Matroska/WebM (r11) header metadata
# (VERDICT r09 gap #3 — same pure-parser tier as the image headers: a
# 100 TB AV corpus gets duration/rate/dims at scan speed with zero
# codec dependency; pixel/sample DECODE stays out of scope)
# ---------------------------------------------------------------------------

AV_META_SCHEMA = (
    "media_id long, byte_len int, container string, duration_ms int, "
    "sample_rate int, channels int, width int, height int, decode_ok boolean"
)


def fake_wav_bytes(
    media_id: int, sample_rate: int, n_samples: int, channels: int = 1
) -> bytes:
    """A complete, spec-valid PCM-16 WAV: RIFF header + fmt chunk +
    data chunk with deterministic pseudo-samples (the full body is
    written — the parser derives duration from the real chunk size)."""
    bits = 16
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data = bytes((media_id * 17 + i * 11) % 256 for i in range(n_samples * block_align))
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def fake_mp4_bytes(media_id: int, duration_ms: int, width: int, height: int) -> bytes:
    """A minimal spec-shaped ISO-BMFF file: ftyp + moov(mvhd, trak(tkhd)).
    mvhd timescale is 1000 so the duration field is in milliseconds;
    tkhd carries the track dims as 16.16 fixed-point (per the spec)."""
    matrix = struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    mvhd = (
        struct.pack(">B3x", 0)  # version 0 + flags
        + struct.pack(">IIII", 0, 0, 1000, duration_ms)  # ctime mtime ts dur
        + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10  # reserved
        + matrix
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", media_id % 100 + 2)  # next_track_ID
    )
    tkhd = (
        struct.pack(">B3B", 0, 0, 0, 7)  # version 0, flags=enabled|in_movie|preview
        + struct.pack(">IIIxxxxI", 0, 0, 1, duration_ms)  # ctime mtime id rsvd dur
        + b"\x00" * 8  # reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, alt_group, volume, reserved
        + matrix
        + struct.pack(">II", width << 16, height << 16)  # 16.16 fixed dims
    )
    moov = _box(b"mvhd", mvhd) + _box(b"trak", _box(b"tkhd", tkhd))
    ftyp = b"isom" + struct.pack(">I", 512) + b"isomiso2mp41"
    return _box(b"ftyp", ftyp) + _box(b"moov", moov)


_MP3_BITRATE_IDX = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7,
                    112: 8, 128: 9, 160: 10, 192: 11, 224: 12, 256: 13,
                    320: 14}
_MP3_RATE_IDX = {44100: 0, 48000: 1, 32000: 2}


def fake_mp3_bytes(
    media_id: int,
    sample_rate: int,
    bitrate: int,
    n_frames: int,
    channels: int = 1,
    id3_pad: int = 0,
) -> bytes:
    """A complete MPEG-1 Layer III stream: optional ID3v2 tag
    (``id3_pad`` payload bytes, syncsafe-sized) + ``n_frames`` CBR
    frames with real headers and deterministic pseudo-audio bodies.
    ``bitrate`` in bit/s must be a Layer III table entry."""
    sr_idx = _MP3_RATE_IDX[sample_rate]
    br_idx = _MP3_BITRATE_IDX[bitrate // 1000]
    mode = 3 if channels == 1 else 0  # single-channel / stereo
    flen = (144 * bitrate) // sample_rate  # padding bit always 0
    header = bytes((
        0xFF,
        0xFB,  # sync + MPEG-1 + Layer III + no CRC
        (br_idx << 4) | (sr_idx << 2),
        mode << 6,
    ))
    out = bytearray()
    if id3_pad:
        out += b"ID3" + bytes((4, 0, 0))
        out += bytes((
            (id3_pad >> 21) & 0x7F,
            (id3_pad >> 14) & 0x7F,
            (id3_pad >> 7) & 0x7F,
            id3_pad & 0x7F,
        ))
        out += bytes((media_id + i) % 256 for i in range(id3_pad))
    for f in range(n_frames):
        out += header
        out += bytes((media_id * 7 + f * 31 + i * 13) % 256 for i in range(flen - 4))
    return bytes(out)


def _ogg_page(
    htype: int, granule: int, serial: int, seq: int, segments: list[bytes]
) -> bytes:
    """One Ogg page (checksum left zero — the metadata parser does not
    verify CRCs, matching the header-only tier's posture)."""
    return (
        b"OggS"
        + bytes((0, htype))
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00" * 4
        + bytes((len(segments),))
        + bytes(len(s) for s in segments)
        + b"".join(segments)
    )


def fake_ogg_bytes(
    media_id: int, sample_rate: int, n_samples: int, channels: int = 1
) -> bytes:
    """A minimal spec-shaped Ogg Vorbis stream: a BOS page whose sole
    packet is the 30-byte Vorbis identification header, then an EOS
    page with a deterministic dummy audio packet and granule position
    ``n_samples`` (total PCM samples — the duration authority)."""
    ident = (
        b"\x01vorbis"
        + struct.pack("<IB", 0, channels)  # version, channels
        + struct.pack("<I", sample_rate)
        + struct.pack("<iii", -1, 128000, -1)  # bitrate max/nominal/min
        + bytes((0x66, 1))  # blocksizes (64/512), framing bit
    )
    serial = media_id % 0xFFFF + 1
    audio = bytes((media_id * 19 + i * 5) % 256 for i in range(16))
    return _ogg_page(0x02, 0, serial, 0, [ident]) + _ogg_page(
        0x04, n_samples, serial, 1, [audio]
    )


def _wav_meta(p: bytes) -> tuple[int, int, int]:
    """(duration_ms, sample_rate, channels) from a RIFF/WAVE stream.

    Walks the chunk list (chunks may appear in any order; sizes pad to
    even per the RIFF spec); duration comes from the data chunk's REAL
    byte length over the fmt chunk's byte rate."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("malformed WAV: missing RIFF/WAVE header")
    sample_rate = channels = byte_rate = None
    data_len = None
    i = 12
    while i + 8 <= len(p):
        typ = p[i : i + 4]
        (size,) = struct.unpack("<I", p[i + 4 : i + 8])
        if typ == b"fmt ":
            if size < 16 or i + 8 + 16 > len(p):
                raise ValueError("malformed WAV: truncated fmt chunk")
            _, channels, sample_rate, byte_rate, _, _ = struct.unpack(
                "<HHIIHH", p[i + 8 : i + 24]
            )
        elif typ == b"data":
            data_len = min(size, len(p) - i - 8)
        i += 8 + size + (size & 1)  # RIFF chunks pad to even length
    if sample_rate is None or data_len is None or not byte_rate:
        raise ValueError("malformed WAV: missing fmt or data chunk")
    return (data_len * 1000) // byte_rate, sample_rate, channels


def _mp4_boxes(p: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for ISO-BMFF boxes in
    [start, end); handles 64-bit largesize boxes."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", p[i : i + 4])
        typ = p[i + 4 : i + 8]
        off = 8
        if size == 1:
            if i + 16 > end:
                raise ValueError("malformed MP4: truncated largesize box")
            (size,) = struct.unpack(">Q", p[i + 8 : i + 16])
            off = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        if size < off or i + size > end:
            raise ValueError("malformed MP4: box overruns its scope")
        yield typ, i + off, i + size
        i += size


def _mp4_meta(p: bytes) -> tuple[int, int, int]:
    """(duration_ms, width, height) from the moov/mvhd + first
    moov/trak/tkhd boxes; handles version-0 (32-bit) and version-1
    (64-bit) time fields; tkhd dims are 16.16 fixed-point."""
    duration_ms = width = height = None
    moov = None
    for typ, s, e in _mp4_boxes(p, 0, len(p)):
        if typ == b"moov":
            moov = (s, e)
            break
    if moov is None:
        raise ValueError("malformed MP4: no moov box")
    for typ, s, e in _mp4_boxes(p, *moov):
        if typ == b"mvhd":
            ver = p[s]
            if ver == 1:
                timescale, duration = struct.unpack(">IQ", p[s + 20 : s + 32])
            else:
                timescale, duration = struct.unpack(">II", p[s + 12 : s + 20])
            if not timescale:
                raise ValueError("malformed MP4: zero mvhd timescale")
            duration_ms = (duration * 1000) // timescale
        elif typ == b"trak" and width is None:
            for t2, s2, e2 in _mp4_boxes(p, s, e):
                if t2 == b"tkhd":
                    ver = p[s2]
                    # fixed fields between flags and the trailing w/h:
                    # v0 = 4+4+4+4+4+4+8+2+2+2+2+36, v1 adds 12
                    w_off = s2 + (88 if ver == 1 else 76)
                    if w_off + 8 > e2:
                        raise ValueError("malformed MP4: truncated tkhd")
                    w_fx, h_fx = struct.unpack(">II", p[w_off : w_off + 8])
                    w_c, h_c = w_fx >> 16, h_fx >> 16
                    # audio tkhds carry 0x0 dims per spec — skip them so
                    # an audio-first mux order still reports the VIDEO
                    # track's dimensions (next trak iteration)
                    if w_c or h_c:
                        width, height = w_c, h_c
                    break
    if duration_ms is None:
        raise ValueError("malformed MP4: no mvhd box")
    return duration_ms, width, height


# MPEG-1 Layer III tables (ISO/IEC 11172-3): bitrate index -> kbit/s,
# sample-rate index -> Hz; 1152 samples per Layer III frame
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None,
)
_MP3_RATES = (44100, 48000, 32000, None)
_MP3_SAMPLES_PER_FRAME = 1152


def _id3v2_size(p: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent). The four
    size bytes are SYNCSAFE (7 bits each, high bit zero) per id3.org;
    the footer flag (bit 4 of the flags byte) adds 10 more."""
    if p[:3] != b"ID3" or len(p) < 10:
        return 0
    size = (
        ((p[6] & 0x7F) << 21)
        | ((p[7] & 0x7F) << 14)
        | ((p[8] & 0x7F) << 7)
        | (p[9] & 0x7F)
    )
    return 10 + size + (10 if p[5] & 0x10 else 0)


# --- Matroska/WebM (EBML) — RFC 8794 varints + the Matroska element
# IDs needed for the metadata tier (matroska.org spec)
_EBML_MAGIC = b"\x1aE\xdf\xa3"
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_VIDEO = 0xE0
_MKV_AUDIO = 0xE1
_MKV_MASTERS = {
    _MKV_SEGMENT, _MKV_INFO, _MKV_TRACKS, _MKV_TRACK_ENTRY,
    _MKV_VIDEO, _MKV_AUDIO,
}
_MKV_TIMESTAMP_SCALE = 0x2AD7B1  # uint, ns per timestamp unit (default 1e6)
_MKV_DURATION = 0x4489  # float, in timestamp units
_MKV_TRACK_TYPE = 0x83  # uint: 1 = video, 2 = audio
_MKV_PIXEL_W = 0xB0
_MKV_PIXEL_H = 0xBA
_MKV_SAMPLING = 0xB5  # float Hz
_MKV_CHANNELS = 0x9F  # uint


def _ebml_vint(p: bytes, i: int, keep_marker: bool) -> tuple[int, int]:
    """(value, byte_length) of the EBML varint at ``i``. Element IDs
    keep their length-marker bits (matching the spec's ID notation);
    sizes strip them."""
    if i >= len(p) or p[i] == 0:
        raise ValueError("malformed MKV: bad varint")
    n = 1
    mask = 0x80
    while not (p[i] & mask):
        mask >>= 1
        n += 1
    if i + n > len(p):
        raise ValueError("malformed MKV: truncated varint")
    v = p[i] if keep_marker else p[i] & (mask - 1)
    for k in range(1, n):
        v = (v << 8) | p[i + k]
    return v, n


def _mkv_meta(p: bytes) -> tuple[int, int, int, int, int]:
    """(duration_ms, sample_rate, channels, width, height) from a
    Matroska/WebM stream — Segment/Info for the duration, the first
    video TrackEntry for dims, the first audio TrackEntry for
    rate/channels; absent pieces stay None. Walks element headers only
    (sizes skip payloads); an unknown-size element (all value bits set
    — common for live-muxed Segments) extends to its parent's end."""
    if p[:4] != _EBML_MAGIC:
        raise ValueError("malformed MKV: no EBML header")
    out = {"scale": 1_000_000, "dur": None, "sr": None, "ch": None,
           "w": None, "h": None, "track_type": None}

    def elements(start: int, end: int):
        """Yield (eid, body_start, body_end) for the child elements of
        [start, end) — the single header-walk shared by both passes."""
        i = start
        while i < end:
            eid, n1 = _ebml_vint(p, i, keep_marker=True)
            size, n2 = _ebml_vint(p, i + n1, keep_marker=False)
            body = i + n1 + n2
            if size == (1 << (7 * n2)) - 1:  # unknown size
                bend = end
            else:
                bend = body + size
            if bend > end:
                raise ValueError("malformed MKV: element overruns parent")
            yield eid, body, bend
            i = bend

    def _float(body: int, bend: int) -> float:
        fmt = ">f" if bend - body == 4 else ">d"
        (v,) = struct.unpack(fmt, p[body:bend])
        if not math.isfinite(v):
            raise ValueError("malformed MKV: non-finite float field")
        return v

    def walk(start: int, end: int, depth: int) -> None:
        if depth > 8:
            raise ValueError("malformed MKV: element nesting too deep")
        for eid, body, bend in elements(start, end):
            if eid in _MKV_MASTERS:
                if eid == _MKV_TRACK_ENTRY:
                    # EBML does not constrain child order: TrackType may
                    # legally follow the Video/Audio master, so resolve
                    # it with a pre-scan of the entry's direct children
                    # before descending
                    out["track_type"] = next(
                        (
                            int.from_bytes(p[b:e], "big")
                            for e2, b, e in elements(body, bend)
                            if e2 == _MKV_TRACK_TYPE
                        ),
                        None,
                    )
                walk(body, bend, depth + 1)
            elif eid == _MKV_TIMESTAMP_SCALE:
                out["scale"] = int.from_bytes(p[body:bend], "big")
            elif eid == _MKV_DURATION:
                out["dur"] = _float(body, bend)
            elif eid == _MKV_PIXEL_W and out["track_type"] == 1 and out["w"] is None:
                out["w"] = int.from_bytes(p[body:bend], "big")
            elif eid == _MKV_PIXEL_H and out["track_type"] == 1 and out["h"] is None:
                out["h"] = int.from_bytes(p[body:bend], "big")
            elif eid == _MKV_SAMPLING and out["track_type"] == 2 and out["sr"] is None:
                out["sr"] = int(_float(body, bend))
            elif eid == _MKV_CHANNELS and out["track_type"] == 2 and out["ch"] is None:
                out["ch"] = int.from_bytes(p[body:bend], "big")

    walk(0, len(p), 0)
    if out["dur"] is None:
        raise ValueError("malformed MKV: no Info duration")
    if out["dur"] < 0:
        raise ValueError("malformed MKV: negative duration")
    if not out["scale"]:
        raise ValueError("malformed MKV: zero timestamp scale")
    # dur * scale is finite-by-construction here only if it fits a
    # float — a huge scale can still overflow the product to inf
    ns = out["dur"] * out["scale"]
    if not math.isfinite(ns):
        raise ValueError("malformed MKV: duration overflows")
    dur_ms = int(ns) // 1_000_000
    return dur_ms, out["sr"], out["ch"], out["w"], out["h"]


def _ebml_elt(eid: int, payload: bytes) -> bytes:
    """One EBML element: ID bytes (marker kept) + minimal-length size
    varint + payload."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = 1
    while len(payload) >= (1 << (7 * n)) - 1:  # all-ones = unknown, skip it
        n += 1
    size = ((0x80 >> (n - 1)) << (8 * (n - 1))) | len(payload)
    return idb + size.to_bytes(n, "big") + payload


def fake_mkv_bytes(
    media_id: int,
    duration_ms: int,
    width: int | None = None,
    height: int | None = None,
    sample_rate: int | None = None,
    channels: int | None = None,
) -> bytes:
    """A minimal spec-shaped Matroska file: EBML header + Segment(Info(
    TimestampScale=1e6, Duration), Tracks(video and/or audio
    TrackEntry))."""
    ebml = _ebml_elt(0x1A45DFA3, _ebml_elt(0x4282, b"matroska"))  # DocType
    info = _ebml_elt(
        _MKV_INFO,
        _ebml_elt(_MKV_TIMESTAMP_SCALE, (1_000_000).to_bytes(3, "big"))
        + _ebml_elt(_MKV_DURATION, struct.pack(">d", float(duration_ms))),
    )
    tracks_payload = b""
    if width is not None:
        tracks_payload += _ebml_elt(
            _MKV_TRACK_ENTRY,
            _ebml_elt(_MKV_TRACK_TYPE, b"\x01")
            + _ebml_elt(
                _MKV_VIDEO,
                _ebml_elt(_MKV_PIXEL_W, width.to_bytes(2, "big"))
                + _ebml_elt(_MKV_PIXEL_H, height.to_bytes(2, "big")),
            ),
        )
    if sample_rate is not None:
        tracks_payload += _ebml_elt(
            _MKV_TRACK_ENTRY,
            _ebml_elt(_MKV_TRACK_TYPE, b"\x02")
            + _ebml_elt(
                _MKV_AUDIO,
                _ebml_elt(_MKV_SAMPLING, struct.pack(">d", float(sample_rate)))
                + _ebml_elt(_MKV_CHANNELS, bytes((channels or 1,))),
            ),
        )
    segment = _ebml_elt(
        _MKV_SEGMENT, info + _ebml_elt(_MKV_TRACKS, tracks_payload)
    )
    return ebml + segment


# ADTS sampling_frequency_index -> Hz (ISO/IEC 13818-7 / 14496-3)
_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350, None, None, None,
)
_ADTS_SAMPLES_PER_BLOCK = 1024


def _adts_is_aac(p: bytes, i: int) -> bool:
    """True when offset ``i`` carries an ADTS AAC frame header:
    12-bit sync (0xFFF) + layer bits 00 (which distinguishes it from
    MPEG audio, whose layer bits are nonzero)."""
    return (
        i + 2 <= len(p)
        and p[i] == 0xFF
        and (p[i + 1] & 0xF6) == 0xF0
    )


# ADTS channel_configuration -> channel count (ISO/IEC 14496-3): 7 is
# 7.1 = 8 channels; 0 means the map rides an in-band PCE — a VALID
# stream whose count the header alone cannot give (None)
_ADTS_CHANNEL_COUNT = (None, 1, 2, 3, 4, 5, 6, 8)


def _adts_meta(p: bytes) -> tuple[int, int, int]:
    """(duration_ms, sample_rate, channels) from an ADTS AAC stream
    (optionally ID3v2-tagged / ID3v1-trailed). Each 7/9-byte header
    carries the exact frame byte length and raw-data-block count, so
    the walk skips payloads; duration is exact: 1024 samples per raw
    data block."""
    i = _id3v2_size(p)
    try:
        return _adts_walk(p, i, len(p))
    except ValueError:
        # same ID3v1-trailer retry as the mp3 path: only after the
        # plain walk fails, so audio bytes spelling 'TAG' at the
        # trailer offset cannot truncate a valid stream
        if len(p) - i >= 128 and p[-128:-125] == b"TAG":
            return _adts_walk(p, i, len(p) - 128)
        raise


def _adts_walk(p: bytes, i: int, end: int) -> tuple[int, int, int]:
    sr0 = ch0 = None
    blocks = 0
    while i + 7 <= end:
        if not _adts_is_aac(p, i):
            raise ValueError("malformed ADTS: lost frame sync")
        sr = _ADTS_RATES[(p[i + 2] >> 2) & 0x0F]
        cfg = ((p[i + 2] & 0x01) << 2) | (p[i + 3] >> 6)
        ch = _ADTS_CHANNEL_COUNT[cfg]  # cfg 0 (PCE-carried) -> None
        if sr is None:
            raise ValueError("malformed ADTS: bad sample-rate index")
        flen = ((p[i + 3] & 0x03) << 11) | (p[i + 4] << 3) | (p[i + 5] >> 5)
        if flen < 7:
            raise ValueError("malformed ADTS: degenerate frame length")
        if i + flen > end:
            raise ValueError("malformed ADTS: truncated final frame")
        if sr0 is None:
            sr0, ch0 = sr, ch
        elif sr != sr0:
            # same spliced-stream hazard as _mp3_walk: duration math
            # assumes one rate for the whole block count
            raise ValueError("malformed ADTS: sample rate changes mid-stream")
        elif ch != ch0:
            # includes a PCE-carried (cfg 0 -> None) half spliced onto an
            # explicit-cfg half — channel_configuration never varies
            # within one legitimate stream
            raise ValueError("malformed ADTS: channel count changes mid-stream")
        blocks += (p[i + 6] & 0x03) + 1  # raw_data_blocks_in_frame + 1
        i += flen
    if not blocks:
        raise ValueError("malformed ADTS: no frames")
    return (blocks * _ADTS_SAMPLES_PER_BLOCK * 1000) // sr0, sr0, ch0


def fake_adts_bytes(
    media_id: int,
    sample_rate: int,
    n_frames: int,
    channels: int = 2,
    payload_len: int = 64,
) -> bytes:
    """A complete ADTS AAC stream: ``n_frames`` frames with real 7-byte
    headers (no CRC) and deterministic pseudo-payloads, one raw data
    block per frame."""
    sr_idx = _ADTS_RATES.index(sample_rate)
    flen = 7 + payload_len
    out = bytearray()
    for f in range(n_frames):
        hdr = bytearray(7)
        hdr[0] = 0xFF
        hdr[1] = 0xF1  # sync + MPEG-4 + layer 00 + no CRC
        hdr[2] = (0x01 << 6) | (sr_idx << 2) | ((channels >> 2) & 0x01)
        hdr[3] = ((channels & 0x03) << 6) | ((flen >> 11) & 0x03)
        hdr[4] = (flen >> 3) & 0xFF
        hdr[5] = ((flen & 0x07) << 5) | 0x1F  # buffer fullness high bits
        hdr[6] = 0xFC  # fullness low + 0 extra raw data blocks
        out += hdr
        out += bytes((media_id * 11 + f * 23 + i * 3) % 256 for i in range(payload_len))
    return bytes(out)


def _mp3_is_layer3(p: bytes, i: int) -> bool:
    """True when offset ``i`` carries the full MPEG-1 Layer III frame
    signature (11-bit sync + version + layer) — shared by the dispatch
    sniff and the tag-skipping entry so an ID3-tagged AAC/Layer-II
    stream is never labeled 'mp3'."""
    return i + 2 <= len(p) and p[i] == 0xFF and (p[i + 1] & 0xFE) == 0xFA


def _mp3_meta(p: bytes) -> tuple[int, int, int]:
    """(duration_ms, sample_rate, channels) from an MPEG-1 Layer III
    stream (optionally ID3v2-tagged / ID3v1-trailed). Walks every frame
    header — frame length is derivable from the header alone
    (144 * bitrate / sample_rate + padding), so the walk never inspects
    audio data — and derives the EXACT duration from the frame count
    (1152 samples per frame), which is correct for CBR and VBR alike."""
    i = _id3v2_size(p)
    try:
        return _mp3_walk(p, i, len(p))
    except ValueError:
        # the ubiquitous ID3v1 trailer: exactly 128 'TAG'-prefixed
        # bytes at the end. Retried ONLY after the plain walk fails, so
        # valid audio whose frame data happens to contain 'TAG' at
        # offset len-128 still parses via the full-length walk
        if len(p) - i >= 128 and p[-128:-125] == b"TAG":
            return _mp3_walk(p, i, len(p) - 128)
        raise


def _mp3_walk(p: bytes, i: int, end: int) -> tuple[int, int, int]:
    sr0 = ch0 = None
    n_frames = 0
    while i + 4 <= end:
        if p[i] != 0xFF or (p[i + 1] & 0xE0) != 0xE0:
            raise ValueError("malformed MP3: lost frame sync")
        version = (p[i + 1] >> 3) & 3
        layer = (p[i + 1] >> 1) & 3
        if version != 3 or layer != 1:  # MPEG-1, Layer III
            raise NotImplementedError(
                "only MPEG-1 Layer III audio frames are parsed"
            )
        br_idx = p[i + 2] >> 4
        sr_idx = (p[i + 2] >> 2) & 3
        padding = (p[i + 2] >> 1) & 1
        bitrate = _MP3_BITRATES[br_idx]
        sr = _MP3_RATES[sr_idx]
        if bitrate is None or sr is None:
            raise ValueError("malformed MP3: bad bitrate/sample-rate index")
        mode = p[i + 3] >> 6
        # channel COUNT, not the raw mode: encoders legitimately switch
        # stereo <-> joint stereo per frame (both 2 channels); only a
        # mono <-> non-mono flip marks a spliced stream
        ch = 1 if mode == 3 else 2
        if sr0 is None:
            sr0, ch0 = sr, ch
        elif sr != sr0:
            # a spliced stream with mixed sample rates would otherwise
            # be silently mis-timed (frame count x first frame's rate)
            raise ValueError("malformed MP3: sample rate changes mid-stream")
        elif ch != ch0:
            raise ValueError("malformed MP3: channel count changes mid-stream")
        flen = (144 * bitrate * 1000) // sr + padding
        if flen <= 4:
            raise ValueError("malformed MP3: degenerate frame length")
        if i + flen > end:
            raise ValueError("malformed MP3: truncated final frame")
        i += flen
        n_frames += 1
    # (< 4 trailing bytes after the last complete frame/ID3v1 trailer
    # are ignored; >= 4 fail the sync check — deterministic either way)
    if not n_frames:
        raise ValueError("malformed MP3: no audio frames")
    return (n_frames * _MP3_SAMPLES_PER_FRAME * 1000) // sr0, sr0, ch0


def _ogg_meta(p: bytes) -> tuple[int, int, int]:
    """(duration_ms, sample_rate, channels) from an Ogg stream carrying
    Vorbis or Opus. The identification header is the sole packet of the
    first (BOS) page; total duration comes from the LAST page's granule
    position (PCM sample count for Vorbis; 48 kHz units for Opus, whose
    granules are defined at 48 kHz regardless of input rate). Opus
    durations subtract the OpusHead pre-skip — RFC 7845 §4.2 excludes
    those leading samples from playback, so a granule-only duration
    reads ~6.5 ms long on typical encoder output (pre-skip 312)."""
    if p[:4] != b"OggS" or len(p) < 28:
        raise ValueError("malformed Ogg: no capture pattern")
    nseg = p[26]
    body = 27 + nseg
    pre_skip = 0
    if p[body : body + 7] == b"\x01vorbis":
        if body + 16 > len(p):
            raise ValueError("malformed Ogg: truncated Vorbis id header")
        ch = p[body + 11]
        (sr,) = struct.unpack("<I", p[body + 12 : body + 16])
    elif p[body : body + 8] == b"OpusHead":
        if body + 12 > len(p):
            raise ValueError("malformed Ogg: truncated OpusHead")
        ch = p[body + 9]
        (pre_skip,) = struct.unpack("<H", p[body + 10 : body + 12])
        sr = 48000
    else:
        raise NotImplementedError(
            "Ogg stream is neither Vorbis nor Opus (id header missing)"
        )
    if not sr or not ch:
        raise ValueError("malformed Ogg: zero sample rate or channels")
    # walk the PAGE STRUCTURE to the last page (header + segment-table
    # lacing values give each page's exact length, so bodies are
    # skipped, never scanned) — packet bodies are NOT escaped and
    # routinely contain the 'OggS' capture pattern, so an rfind-style
    # scan would read a granule out of audio data
    granule = 0
    i = 0
    while i < len(p):
        if p[i : i + 4] != b"OggS" or i + 27 > len(p):
            raise ValueError("malformed Ogg: lost page sync")
        (gp,) = struct.unpack("<q", p[i + 6 : i + 14])
        if gp >= 0:  # -1: no packet ends on this page
            granule = gp
        nseg = p[i + 26]
        if i + 27 + nseg > len(p):
            raise ValueError("malformed Ogg: truncated segment table")
        body = sum(p[i + 27 : i + 27 + nseg])
        i += 27 + nseg + body
    if i != len(p):
        raise ValueError("malformed Ogg: final page overruns the stream")
    return (max(granule - pre_skip, 0) * 1000) // sr, sr, ch


def extract_av_meta(
    df: DataFrame, id_col: str = "media_id", binary_col: str = "content"
) -> DataFrame:
    """Arrow-batched AV header decode -> one metadata row per item.

    Same posture as ``extract_image_meta``: iterator-of-batches keeps
    memory bounded by Arrow batch size at any corpus scale, and a
    poison blob becomes a ``decode_ok=false`` data row, never a task
    failure. WAV/MP3/AAC/Ogg rows carry (duration_ms, sample_rate,
    channels); MP4 rows carry (duration_ms, width, height); MKV/WebM
    rows carry all five (video dims + audio rate/channels when the
    respective tracks exist); unknown containers carry nulls."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[binary_col]):
                p = bytes(payload)
                container = dur = sr = ch = w = h = None
                ok = False
                try:
                    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        container = "wav"
                        dur, sr, ch = _wav_meta(p)
                    elif len(p) >= 12 and p[4:8] == b"ftyp":
                        container = "mp4"
                        dur, w, h = _mp4_meta(p)
                    elif p[:4] == b"OggS":
                        container = "ogg"
                        dur, sr, ch = _ogg_meta(p)
                    # full frame signatures (after any ID3v2 tag), not
                    # just the shared 11-bit sync: the layer bits split
                    # MPEG-1 Layer III (01) from ADTS AAC (00);
                    # MPEG-2 / Layer I-II stay container=None rather
                    # than being mislabeled with a failed decode
                    elif _mp3_is_layer3(p, _id3v2_size(p)):
                        container = "mp3"
                        dur, sr, ch = _mp3_meta(p)
                    elif _adts_is_aac(p, _id3v2_size(p)):
                        container = "aac"
                        dur, sr, ch = _adts_meta(p)
                    elif p[:4] == _EBML_MAGIC:
                        container = "mkv"
                        dur, sr, ch, w, h = _mkv_meta(p)
                    if container is not None:
                        # a hostile-but-parseable container (byte_rate=1,
                        # timescale=1 + 64-bit duration, ...) can yield
                        # values past Int32 — the pd.array cast below
                        # would then raise OUTSIDE this per-row try and
                        # kill the task; treat overflow as a failed decode
                        for v in (dur, sr, ch, w, h):
                            if v is not None and not 0 <= v <= 0x7FFFFFFF:
                                raise ValueError(
                                    "AV metadata field outside int32"
                                )
                        ok = True
                except AV_META_CAUGHT:
                    dur = sr = ch = w = h = None
                rows.append((mid, len(p), container, dur, sr, ch, w, h, ok))
            yield pd.DataFrame(
                {
                    "media_id": [r[0] for r in rows],
                    "byte_len": pd.array([r[1] for r in rows], dtype="Int32"),
                    "container": [r[2] for r in rows],
                    "duration_ms": pd.array([r[3] for r in rows], dtype="Int32"),
                    "sample_rate": pd.array([r[4] for r in rows], dtype="Int32"),
                    "channels": pd.array([r[5] for r in rows], dtype="Int32"),
                    "width": pd.array([r[6] for r in rows], dtype="Int32"),
                    "height": pd.array([r[7] for r in rows], dtype="Int32"),
                    "decode_ok": [r[8] for r in rows],
                }
            )

    return df.mapInPandas(batches, schema=AV_META_SCHEMA)


def generate_fake_av(df: DataFrame) -> DataFrame:
    """Arrow-batched AV-container generator for tests/demos: one row per
    media item with ``kind`` ('wav'|'mp4'|'mp3'|'ogg'|'aac'|'mkv') and
    the per-kind parameters (wav/ogg: sample_rate, n_samples, channels;
    mp4: duration_ms, width, height; mp3: sample_rate, bitrate,
    n_frames, channels, id3_pad; aac: sample_rate, n_frames, channels,
    payload_len; mkv: duration_ms, width, height, sample_rate,
    channels) -> (media_id, content) with complete spec-valid container
    bytes. Stands in for the binary scan of a real AV corpus."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for r in pdf.itertuples(index=False):
                if r.kind == "wav":
                    payloads.append(
                        fake_wav_bytes(
                            int(r.media_id),
                            int(r.sample_rate),
                            int(r.n_samples),
                            int(r.channels),
                        )
                    )
                elif r.kind == "mp3":
                    payloads.append(
                        fake_mp3_bytes(
                            int(r.media_id),
                            int(r.sample_rate),
                            int(r.bitrate),
                            int(r.n_frames),
                            int(r.channels),
                            int(r.id3_pad),
                        )
                    )
                elif r.kind == "ogg":
                    payloads.append(
                        fake_ogg_bytes(
                            int(r.media_id),
                            int(r.sample_rate),
                            int(r.n_samples),
                            int(r.channels),
                        )
                    )
                elif r.kind == "aac":
                    payloads.append(
                        fake_adts_bytes(
                            int(r.media_id),
                            int(r.sample_rate),
                            int(r.n_frames),
                            int(r.channels),
                            int(getattr(r, "payload_len", 64)),
                        )
                    )
                elif r.kind == "mkv":
                    payloads.append(
                        fake_mkv_bytes(
                            int(r.media_id),
                            int(r.duration_ms),
                            int(r.width),
                            int(r.height),
                            int(r.sample_rate),
                            int(r.channels),
                        )
                    )
                else:
                    payloads.append(
                        fake_mp4_bytes(
                            int(r.media_id),
                            int(r.duration_ms),
                            int(r.width),
                            int(r.height),
                        )
                    )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    return df.mapInPandas(batches, schema="media_id long, content binary")
