"""Audio/video header-metadata tier (VERDICT r09 directive 5).

WAV/RIFF and MP4/ISO-BMFF containers built spec-valid byte-by-byte,
parsed back by the pure stdlib chunk/box walkers — same zero-dependency
tier as the image header parsers. Poison blobs must degrade to
``decode_ok=false`` data rows through the Spark stage, never task
failures.
"""

from __future__ import annotations

import struct

import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    multimodal as MM,
)


def test_wav_roundtrip_mono():
    p = MM.fake_wav_bytes(3, 16000, 320, 1)
    assert MM._wav_meta(p) == (20, 16000, 1)  # 320 samples @16k = 20 ms
    assert len(p) == 44 + 320 * 2


def test_wav_roundtrip_stereo_floor():
    p = MM.fake_wav_bytes(9, 11025, 333, 2)
    # (333 * 1000) // 11025 == 30 — floor semantics, block_align cancels
    assert MM._wav_meta(p) == (30, 11025, 2)


def test_wav_chunk_order_independent():
    # RIFF allows chunks in any order: move data before fmt
    p = MM.fake_wav_bytes(1, 8000, 100, 1)
    fmt_chunk = p[12 : 12 + 8 + 16]
    data_chunk = p[12 + 8 + 16 :]
    reordered = p[:12] + data_chunk + fmt_chunk
    assert MM._wav_meta(reordered) == MM._wav_meta(p)


def test_wav_odd_chunk_padding():
    # an odd-sized chunk pads to even per the RIFF spec; the walker must
    # step over the pad byte to find the following data chunk
    p = MM.fake_wav_bytes(1, 8000, 100, 1)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 -> pad to 4
    injected = p[:12] + junk + p[12:]
    assert MM._wav_meta(injected) == MM._wav_meta(p)


def test_wav_malformed():
    with pytest.raises(ValueError):
        MM._wav_meta(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        MM._wav_meta(b"RIFX" + b"\x00" * 40)


def test_mp4_roundtrip():
    p = MM.fake_mp4_bytes(7, 4321, 640, 480)
    assert MM._mp4_meta(p) == (4321, 640, 480)


def test_mp4_version1_and_largesize():
    # hand-build a v1 mvhd (64-bit times) inside a largesize moov
    mvhd = (
        struct.pack(">B3x", 1)
        + struct.pack(">QQIQ", 0, 0, 600, 1200)  # ts=600, dur=1200 -> 2000ms
        + b"\x00" * 80
    )
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    moov = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(mvhd_box)) + mvhd_box
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    assert MM._mp4_meta(ftyp + moov)[0] == 2000


def test_mp4_malformed():
    with pytest.raises(ValueError):
        MM._mp4_meta(struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4)  # no moov
    with pytest.raises(ValueError):
        # box claims to overrun the file
        MM._mp4_meta(struct.pack(">I", 999) + b"moov" + b"\x00" * 8)


def test_extract_av_meta_mixed_and_poison(spark):
    rows = [
        (1, bytearray(MM.fake_wav_bytes(1, 8000, 400, 2))),
        (2, bytearray(MM.fake_mp4_bytes(2, 1500, 32, 24))),
        (3, bytearray(b"RIFF\xff\xff\xff\xffWAVEjunk")),  # poison wav
        (4, bytearray(b"\x00\x00\x00\x0cftypisom")),  # mp4 sig, no moov
        (5, bytearray(b"not-a-container")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert got[1]["container"] == "wav" and got[1]["decode_ok"]
    assert (got[1]["duration_ms"], got[1]["sample_rate"], got[1]["channels"]) == (
        50,
        8000,
        2,
    )
    assert got[1]["width"] is None
    assert got[2]["container"] == "mp4" and got[2]["decode_ok"]
    assert (got[2]["duration_ms"], got[2]["width"], got[2]["height"]) == (1500, 32, 24)
    assert got[2]["sample_rate"] is None
    # poison rows: container sig recognized but decode fails -> data row
    assert got[3]["container"] == "wav" and not got[3]["decode_ok"]
    assert got[4]["container"] == "mp4" and not got[4]["decode_ok"]
    assert got[5]["container"] is None and not got[5]["decode_ok"]
    assert got[5]["byte_len"] == len(b"not-a-container")


def _mvhd_v0(timescale: int, duration: int) -> bytes:
    return (
        struct.pack(">B3x", 0)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + b"\x00" * 80
    )


def _tkhd_v0(width: int, height: int) -> bytes:
    return (
        struct.pack(">B3x", 0)
        + b"\x00" * 72
        + struct.pack(">II", width << 16, height << 16)
    )


def test_mp4_audio_first_trak_skipped_for_dims():
    # real MP4s often mux the audio track first; its tkhd carries 0x0
    # dims per spec — the walker must keep scanning to the video trak
    moov = (
        MM._box(b"mvhd", _mvhd_v0(1000, 2500))
        + MM._box(b"trak", MM._box(b"tkhd", _tkhd_v0(0, 0)))  # audio
        + MM._box(b"trak", MM._box(b"tkhd", _tkhd_v0(640, 480)))  # video
    )
    p = MM._box(b"ftyp", b"isom" + b"\x00" * 8) + MM._box(b"moov", moov)
    assert MM._mp4_meta(p) == (2500, 640, 480)


def test_mp4_audio_only_reports_null_dims():
    moov = MM._box(b"mvhd", _mvhd_v0(1000, 900)) + MM._box(
        b"trak", MM._box(b"tkhd", _tkhd_v0(0, 0))
    )
    p = MM._box(b"ftyp", b"isom" + b"\x00" * 8) + MM._box(b"moov", moov)
    assert MM._mp4_meta(p) == (900, None, None)


def test_av_int32_overflow_is_poison_row_not_task_failure(spark):
    # hostile-but-parseable containers whose metadata exceeds Int32:
    # without the per-row bound check, pd.array(dtype="Int32") raises
    # OUTSIDE the try and kills the whole Arrow batch task
    wav_sr = bytearray(MM.fake_wav_bytes(1, 8000, 40, 1))
    # fmt chunk starts at 12+8; sample_rate is its 5th byte (<HHI...)
    wav_sr[12 + 8 + 4 : 12 + 8 + 8] = struct.pack("<I", 0xFFFFFFFF)
    moov = MM._box(b"mvhd", _mvhd_v0(1, 0xFFFFFFFF))  # 4.29e12 ms
    mp4_dur = MM._box(b"ftyp", b"isom" + b"\x00" * 8) + MM._box(b"moov", moov)
    rows = [
        (1, wav_sr),
        (2, bytearray(mp4_dur)),
        (3, bytearray(MM.fake_wav_bytes(3, 8000, 40, 1))),  # healthy row
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert not got[1]["decode_ok"] and got[1]["sample_rate"] is None
    assert not got[2]["decode_ok"] and got[2]["duration_ms"] is None
    assert got[3]["decode_ok"] and got[3]["sample_rate"] == 8000


# ---------------------------------------------------------------------------
# MP3 + Ogg tier (r11): same pure-parser posture as WAV/MP4
# ---------------------------------------------------------------------------


def test_mp3_roundtrip_no_id3():
    p = MM.fake_mp3_bytes(5, 44100, 128000, 10, 1)
    # 10 frames * 1152 samples @ 44.1k -> (11520 * 1000) // 44100 = 261 ms
    assert MM._mp3_meta(p) == (261, 44100, 1)
    assert len(p) == 10 * ((144 * 128000) // 44100)


def test_mp3_roundtrip_with_id3_and_stereo():
    p = MM.fake_mp3_bytes(6, 48000, 160000, 4, 2, id3_pad=37)
    assert MM._mp3_meta(p) == ((4 * 1152 * 1000) // 48000, 48000, 2)
    assert p[:3] == b"ID3" and len(p) == 10 + 37 + 4 * ((144 * 160000) // 48000)


@pytest.mark.parametrize("sr", [44100, 48000, 32000])
@pytest.mark.parametrize("br", [64000, 96000, 128000, 160000, 192000])
def test_mp3_all_rates_and_bitrates(sr, br):
    p = MM.fake_mp3_bytes(1, sr, br, 3, 2, id3_pad=8)
    dur, got_sr, ch = MM._mp3_meta(p)
    assert (got_sr, ch) == (sr, 2)
    assert dur == (3 * 1152 * 1000) // sr


def test_mp3_syncsafe_id3_size():
    # a pad of 200 crosses the 7-bit syncsafe byte boundary
    p = MM.fake_mp3_bytes(2, 32000, 64000, 2, 1, id3_pad=200)
    assert MM._mp3_meta(p) == ((2 * 1152 * 1000) // 32000, 32000, 1)


def test_mp3_malformed():
    with pytest.raises(ValueError):
        MM._mp3_meta(b"\xff\xfb\x00\x00")  # bitrate index 0 (free) unsupported
    with pytest.raises(ValueError):
        MM._mp3_meta(b"ID3" + bytes((4, 0, 0, 0, 0, 0, 0)))  # tag, no frames
    good = MM.fake_mp3_bytes(1, 44100, 128000, 2, 1)
    with pytest.raises(ValueError):
        MM._mp3_meta(good + b"\x00\x01\x02\x03")  # trailing garbage loses sync
    with pytest.raises(ValueError):
        MM._mp3_meta(good[:-5])  # truncated final frame


def test_ogg_vorbis_roundtrip():
    p = MM.fake_ogg_bytes(11, 16000, 4800, 2)
    assert MM._ogg_meta(p) == (300, 16000, 2)  # 4800 samples @ 16k
    assert len(p) == 102  # structural: 58-byte BOS page + 44-byte EOS page


def test_ogg_opus_branch():
    # swap the Vorbis id packet for an OpusHead one (same page framing)
    opus_id = (
        b"OpusHead" + bytes((1, 2)) + struct.pack("<H", 312)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + bytes((0,))
    )
    page1 = MM._ogg_page(0x02, 0, 7, 0, [opus_id])
    page2 = MM._ogg_page(0x04, 96000, 7, 1, [b"x" * 8])
    # Opus granules are 48 kHz regardless of the input rate field, and
    # the OpusHead pre-skip (312 here) is excluded from playback
    # (RFC 7845 §4.2): (96000 - 312) * 1000 // 48000 = 1993
    assert MM._ogg_meta(page1 + page2) == (1993, 48000, 2)


def test_ogg_opus_preskip_exceeding_granule_clamps_to_zero():
    opus_id = (
        b"OpusHead" + bytes((1, 1)) + struct.pack("<H", 3000)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + bytes((0,))
    )
    page1 = MM._ogg_page(0x02, 0, 9, 0, [opus_id])
    page2 = MM._ogg_page(0x04, 2000, 9, 1, [b"x" * 8])
    assert MM._ogg_meta(page1 + page2)[0] == 0


def test_ogg_negative_granule_means_zero_duration():
    p = MM.fake_ogg_bytes(3, 8000, 100, 1)
    page1 = p[:58]
    page2 = MM._ogg_page(0x04, -1, 3 % 0xFFFF + 1, 1, [b"y" * 16])
    assert MM._ogg_meta(page1 + page2)[0] == 0


def test_ogg_malformed():
    with pytest.raises(ValueError):
        MM._ogg_meta(b"OggX" + b"\x00" * 40)
    with pytest.raises(NotImplementedError):
        # valid page framing, unknown codec id packet
        MM._ogg_meta(MM._ogg_page(0x02, 0, 1, 0, [b"\x01speex unsupported"]))


def test_extract_av_meta_dispatches_all_four(spark):
    payloads = [
        (1, MM.fake_wav_bytes(1, 8000, 80, 1)),
        (2, MM.fake_mp4_bytes(2, 1500, 320, 240)),
        (3, MM.fake_mp3_bytes(3, 44100, 96000, 5, 2, id3_pad=12)),
        (4, MM.fake_ogg_bytes(4, 12000, 6000, 1)),
        (5, b"\x00not a container"),
    ]
    df = spark.createDataFrame(
        [(m, bytearray(b)) for m, b in payloads],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert rows[1]["container"] == "wav" and rows[1]["decode_ok"]
    assert rows[2]["container"] == "mp4" and rows[2]["decode_ok"]
    assert rows[3]["container"] == "mp3" and rows[3]["decode_ok"]
    assert rows[3]["duration_ms"] == (5 * 1152 * 1000) // 44100
    assert rows[4]["container"] == "ogg" and rows[4]["decode_ok"]
    assert rows[4]["duration_ms"] == 500
    assert rows[5]["container"] is None and not rows[5]["decode_ok"]


def test_truncated_mp3_ogg_are_poison_rows_not_task_failures(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(MM.fake_mp3_bytes(1, 44100, 128000, 3, 1)[:10])),
            (2, bytearray(MM.fake_ogg_bytes(2, 8000, 100, 1)[:20])),
        ],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert not rows[1]["decode_ok"] and not rows[2]["decode_ok"]


# ---------------------------------------------------------------------------
# r11 review regressions
# ---------------------------------------------------------------------------


def test_ogg_capture_pattern_inside_packet_body_is_not_a_page():
    # packet bodies are not escaped: a body containing 'OggS' + garbage
    # must NOT be read as a page header (the pre-fix rfind-based parser
    # returned a garbage granule here with decode_ok=true)
    evil_body = b"OggS" + b"\xff" * 12  # fake 'page' with a huge granule
    ident = (
        b"\x01vorbis"
        + struct.pack("<IB", 0, 2)
        + struct.pack("<I", 16000)
        + struct.pack("<iii", -1, 128000, -1)
        + bytes((0x66, 1))
    )
    ident_page = MM._ogg_page(0x02, 0, 7, 0, [ident])
    eos = MM._ogg_page(0x04, 4800, 7, 1, [evil_body])
    assert MM._ogg_meta(ident_page + eos) == (300, 16000, 2)


def test_mp3_id3v1_trailer_accepted():
    # the ubiquitous 128-byte 'TAG' trailer must not kill the parse
    p = MM.fake_mp3_bytes(4, 44100, 128000, 6, 2)
    trailer = b"TAG" + bytes(125)
    assert MM._mp3_meta(p + trailer) == MM._mp3_meta(p)


def test_mp3_id3v2_footer_flag_skipped():
    p = MM.fake_mp3_bytes(4, 48000, 96000, 3, 1)
    # hand-build an ID3v2 tag with the footer flag (0x10): 10-byte
    # header + 20-byte body + 10-byte footer
    tag = b"ID3" + bytes((4, 0, 0x10)) + bytes((0, 0, 0, 20)) + bytes(20) + b"3DI" + bytes(7)
    assert MM._mp3_meta(tag + p) == MM._mp3_meta(p)


def test_adts_aac_labeled_aac_not_mp3(spark):
    # ADTS AAC shares the 11-bit sync with MPEG audio; the layer bits
    # route it to the AAC parser, never the mp3 label
    aac = MM.fake_adts_bytes(9, 48000, 5, 2)
    df = spark.createDataFrame(
        [(1, bytearray(aac))], "media_id long, content binary"
    )
    row = MM.extract_av_meta(df).collect()[0]
    assert row["container"] == "aac" and row["decode_ok"] is True
    assert row["duration_ms"] == (5 * 1024 * 1000) // 48000
    assert (row["sample_rate"], row["channels"]) == (48000, 2)


def test_progressive_jpeg_bomb_budget():
    # a crafted SOF2 header declaring dims over the progressive budget
    # must raise BEFORE the coefficient store allocates (the store is
    # ~9x the baseline path's per-pixel footprint)
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
        jpeg as J,
    )

    from . import jpeg_encoders as JE

    small = JE.encode_progressive(8, 8, bytes(64))
    sof_at = small.find(b"\xff\xc2")
    bombed = (
        small[: sof_at + 5]
        + struct.pack(">HH", 8192, 8192)
        + small[sof_at + 9 :]
    )
    with pytest.raises(ValueError, match="bomb"):
        J.decode_baseline(bombed)


def test_id3_tagged_aac_routes_to_aac_parser(spark):
    # ID3v2 tags are routinely attached to ADTS AAC: the dispatcher
    # checks the post-tag frame signature, so tagged AAC parses as
    # 'aac' and is never labeled 'mp3'
    tag = b"ID3" + bytes((4, 0, 0)) + bytes((0, 0, 0, 8)) + bytes(8)
    aac = tag + MM.fake_adts_bytes(3, 44100, 4, 1)
    df = spark.createDataFrame(
        [(1, bytearray(aac))], "media_id long, content binary"
    )
    row = MM.extract_av_meta(df).collect()[0]
    assert row["container"] == "aac" and row["decode_ok"] is True
    assert row["duration_ms"] == (4 * 1024 * 1000) // 44100


def test_adts_malformed_degrades(spark):
    # valid sync but degenerate header fields: labeled aac, decode fails
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xf1" + bytes(64))),
         (2, bytearray(MM.fake_adts_bytes(2, 32000, 3, 2)[:-10]))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert rows[1]["container"] == "aac" and not rows[1]["decode_ok"]
    assert rows[2]["container"] == "aac" and not rows[2]["decode_ok"]


def test_adts_multi_rate_roundtrip():
    for sr in (96000, 44100, 16000, 8000):
        dur, got_sr, ch = MM._adts_meta(MM.fake_adts_bytes(1, sr, 7, 2))
        assert (got_sr, ch) == (sr, 2)
        assert dur == (7 * 1024 * 1000) // sr
    # MPEG-2 style (0xFF 0xF9, CRC-less bit unset) also syncs
    p = bytearray(MM.fake_adts_bytes(1, 44100, 2, 1))
    p[1] = 0xF9
    assert MM._adts_meta(bytes(p))[1] == 44100


def test_mp3_mixed_sample_rate_stream_rejected():
    # a spliced stream with mixed rates would be mis-timed if accepted
    # (frame count x first frame's rate) — it must raise instead
    a = MM.fake_mp3_bytes(1, 44100, 128000, 2)
    b = MM.fake_mp3_bytes(1, 32000, 128000, 2)
    with pytest.raises(ValueError, match="sample rate changes"):
        MM._mp3_meta(a + b)


def test_adts_mixed_sample_rate_stream_rejected():
    a = MM.fake_adts_bytes(1, 44100, 2, 2)
    b = MM.fake_adts_bytes(1, 32000, 2, 2)
    with pytest.raises(ValueError, match="sample rate changes"):
        MM._adts_meta(a + b)


def test_mp3_mixed_channel_count_rejected_but_joint_stereo_ok():
    mono = MM.fake_mp3_bytes(1, 44100, 128000, 2, channels=1)
    stereo = MM.fake_mp3_bytes(1, 44100, 128000, 2, channels=2)
    with pytest.raises(ValueError, match="channel count changes"):
        MM._mp3_meta(mono + stereo)
    # stereo (mode 00) + joint stereo (mode 01) are BOTH 2 channels —
    # encoders switch per frame; must parse, not raise
    joint = bytearray(stereo)
    flen = (144 * 128000) // 44100
    joint[flen + 3] = 0x40  # second frame: mode 01
    assert MM._mp3_meta(stereo + bytes(joint))[2] == 2


def test_adts_mixed_channel_count_rejected():
    a = MM.fake_adts_bytes(1, 44100, 2, 1)
    b = MM.fake_adts_bytes(1, 44100, 2, 2)
    with pytest.raises(ValueError, match="channel count changes"):
        MM._adts_meta(a + b)


def test_mp3_audio_containing_tag_at_trailer_offset_still_parses():
    # the trailer strip is a RETRY after the plain walk fails, so a
    # valid file whose audio bytes spell 'TAG' at offset len-128 is
    # parsed full-length, not truncated mid-frame
    p = bytearray(MM.fake_mp3_bytes(8, 32000, 64000, 3, 1))
    # frame length 288: place 'TAG' inside the last frame's audio data
    assert len(p) > 128 and len(p) == 3 * 288
    p[len(p) - 128 : len(p) - 125] = b"TAG"
    dur, sr, ch = MM._mp3_meta(bytes(p))
    assert (dur, sr, ch) == ((3 * 1152 * 1000) // 32000, 32000, 1)


def test_mp3_id3v1_trailer_on_corrupt_audio_still_raises():
    trailer = b"TAG" + bytes(125)
    with pytest.raises(ValueError):
        MM._mp3_meta(b"\xff\xfb\x00\x00" + trailer)  # bad bitrate idx + trailer


# ---------------------------------------------------------------------------
# Matroska/WebM tier (r11): EBML varint walk
# ---------------------------------------------------------------------------


def test_mkv_video_and_audio_roundtrip():
    p = MM.fake_mkv_bytes(1, 5400, width=1920, height=1080,
                          sample_rate=48000, channels=2)
    assert MM._mkv_meta(p) == (5400, 48000, 2, 1920, 1080)


def test_mkv_video_only_and_audio_only():
    assert MM._mkv_meta(MM.fake_mkv_bytes(2, 800, width=640, height=360)) == (
        800, None, None, 640, 360)
    assert MM._mkv_meta(
        MM.fake_mkv_bytes(3, 1200, sample_rate=44100, channels=1)
    ) == (1200, 44100, 1, None, None)


def test_mkv_unknown_size_segment():
    # live-muxed Matroska commonly writes the Segment with unknown size
    # (all value bits set) — it must extend to end-of-stream
    p = bytearray(MM.fake_mkv_bytes(4, 999, width=320, height=240))
    seg_id = (0x18538067).to_bytes(4, "big")
    at = p.index(seg_id) + 4
    # the builder's segment size varint starts at `at`; rewrite it to
    # unknown-size of the same byte length
    n = 1
    while not (p[at] & (0x80 >> (n - 1))):
        n += 1
    p[at] = 0x80 >> (n - 1) | (0xFF >> n)
    for k in range(1, n):
        p[at + k] = 0xFF
    assert MM._mkv_meta(bytes(p)) == (999, None, None, 320, 240)


def test_mkv_malformed():
    with pytest.raises(ValueError):
        MM._mkv_meta(b"\x1aE\xdf\xa3")  # header magic only, no duration
    with pytest.raises(ValueError):
        MM._mkv_meta(b"RIFF not ebml")
    # element claiming to overrun its parent
    bad = b"\x1aE\xdf\xa3" + bytes((0x84,)) + b"\xff\xff\xff\xff"
    with pytest.raises(ValueError):
        MM._mkv_meta(bad)


def test_extract_av_meta_mkv_row(spark):
    df = spark.createDataFrame(
        [(1, bytearray(MM.fake_mkv_bytes(7, 2500, width=1280, height=720,
                                         sample_rate=16000, channels=2))),
         (2, bytearray(MM._EBML_MAGIC + bytes(8)))],  # poison mkv
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert rows[1]["container"] == "mkv" and rows[1]["decode_ok"]
    assert (rows[1]["duration_ms"], rows[1]["width"], rows[1]["height"]) == (2500, 1280, 720)
    assert (rows[1]["sample_rate"], rows[1]["channels"]) == (16000, 2)
    assert rows[2]["container"] == "mkv" and not rows[2]["decode_ok"]


def test_mkv_hostile_floats_are_poison_rows_not_task_failures(spark):
    inf_dur = MM._ebml_elt(0x1A45DFA3, b"") + MM._ebml_elt(
        MM._MKV_SEGMENT,
        MM._ebml_elt(MM._MKV_INFO,
                     MM._ebml_elt(MM._MKV_DURATION, struct.pack(">d", float("inf")))),
    )
    neg_dur = MM._ebml_elt(0x1A45DFA3, b"") + MM._ebml_elt(
        MM._MKV_SEGMENT,
        MM._ebml_elt(MM._MKV_INFO,
                     MM._ebml_elt(MM._MKV_DURATION, struct.pack(">d", -1e12))),
    )
    df = spark.createDataFrame(
        [(1, bytearray(inf_dur)), (2, bytearray(neg_dur)),
         (3, bytearray(MM.fake_mkv_bytes(3, 700, width=64, height=48)))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_av_meta(df).collect()}
    assert not rows[1]["decode_ok"] and rows[1]["duration_ms"] is None
    assert not rows[2]["decode_ok"] and rows[2]["duration_ms"] is None
    assert rows[3]["decode_ok"] and rows[3]["duration_ms"] == 700


def test_mkv_tracktype_after_video_element_still_yields_dims():
    # EBML does not constrain child order: TrackType may follow Video
    video = MM._ebml_elt(
        MM._MKV_VIDEO,
        MM._ebml_elt(MM._MKV_PIXEL_W, (640).to_bytes(2, "big"))
        + MM._ebml_elt(MM._MKV_PIXEL_H, (360).to_bytes(2, "big")),
    )
    entry = MM._ebml_elt(
        MM._MKV_TRACK_ENTRY, video + MM._ebml_elt(MM._MKV_TRACK_TYPE, b"\x01")
    )
    p = (
        MM._ebml_elt(0x1A45DFA3, b"")
        + MM._ebml_elt(
            MM._MKV_SEGMENT,
            MM._ebml_elt(MM._MKV_INFO,
                         MM._ebml_elt(MM._MKV_DURATION, struct.pack(">d", 100.0)))
            + MM._ebml_elt(MM._MKV_TRACKS, entry),
        )
    )
    assert MM._mkv_meta(p) == (100, None, None, 640, 360)


def test_adts_id3v1_trailer_accepted():
    p = MM.fake_adts_bytes(5, 44100, 3)
    assert MM._adts_meta(p + b"TAG" + bytes(125)) == MM._adts_meta(p)


def test_adts_channel_config_mapping():
    # config 7 is 7.1 = 8 channels per ISO/IEC 14496-3
    assert MM._adts_meta(MM.fake_adts_bytes(1, 44100, 2, channels=7))[2] == 8
    # config 0: channel map rides an in-band PCE — valid stream, the
    # header alone cannot give a count (None), parse still succeeds
    p = bytearray(MM.fake_adts_bytes(1, 44100, 2, channels=1))
    for off in (0, 7 + 64):  # both frame headers
        p[off + 2] &= 0xFE
        p[off + 3] &= 0x3F
    dur, sr, ch = MM._adts_meta(bytes(p))
    assert (sr, ch) == (44100, None) and dur == (2 * 1024 * 1000) // 44100
