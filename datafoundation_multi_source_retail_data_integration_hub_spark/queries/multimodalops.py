"""Multimodal-column queries: engine-side binary metadata.

The corpus has no media blobs, so the binary column is derived (utf-8
bytes of the document text) — the point is the *binary plumbing*: opaque
payload bytes flowing through codegen'd expressions (length, md5) with
zero Python on the row path. The Arrow-batched decode path
(``operators.multimodal.extract_image_meta``) is exercised in unit tests
with fake payloads since media codecs are stubbed in this environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_binary_stats, sample_frames
from ..sources.tables import load_tables


def doc_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("content")
    )
    return attach_binary_stats(media).select("media_id", "byte_len", "content_md5")


DOC_BINARY_STATS_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       md5(text) AS content_md5
FROM documents
"""


def doc_media_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return (
        sample_frames(media, every_n=10)
        .select("media_id", F.length("content").cast("int").alias("byte_len"))
    )


DOC_MEDIA_SAMPLED_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len
FROM documents WHERE doc_id % 10 = 0
"""


MEDIA_MAX_SIDE = 20
# fake media dims derived from the id — the oracle recomputes them
_W = "16 + media_id % 47"
_H = "16 + media_id % 43"


def doc_media_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full stubbed-media pipeline: deterministic fake payloads
    generated per doc id -> Arrow-batched resize to fit MEDIA_MAX_SIDE
    (integer scale-to-fit, floor division) -> round-trip re-decode of
    the resized header. The dimension/length arithmetic is exactly
    portable, so the oracle recomputes the whole thing from the id;
    the booleans gate the decode round-trip."""
    from ..operators.multimodal import generate_fake_media, resize_media

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    dims = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(_W).alias("width"),
        F.expr(_H).alias("height"),
    )
    media = generate_fake_media(dims)
    return resize_media(media, MEDIA_MAX_SIDE)


DOC_MEDIA_RESIZED_ORACLE = f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST({_W} AS INTEGER) AS sw,
         CAST({_H} AS INTEGER) AS sh
  FROM documents
),
r AS (
  SELECT media_id, sw, sh,
         CAST(greatest(1, (sw * {MEDIA_MAX_SIDE}) // greatest(sw, sh))
              AS INTEGER) AS dw,
         CAST(greatest(1, (sh * {MEDIA_MAX_SIDE}) // greatest(sw, sh))
              AS INTEGER) AS dh
  FROM dims
)
SELECT media_id,
       sw AS src_width,
       sh AS src_height,
       dw AS width,
       dh AS height,
       CAST(9 + least(dw * dh * 3, 256) AS INTEGER) AS byte_len,
       TRUE AS resize_ok
FROM r
"""


# AV container parameters derived from the id — the oracle recomputes
# them arithmetically; the Spark side derives metadata from REAL
# container bytes (RIFF chunk / ISO-BMFF box / MP3 frame / Ogg page /
# ADTS frame / Matroska EBML walks), so a parser or builder bug shows
# up as an oracle mismatch. Containers rotate on id % 6 (wav, mp4,
# mp3, ogg, aac, mkv — r12 folded the last two into this oracle row
# per the 150-name surface policy); per-kind parameters use moduli
# coprime to 6 so each container sees its parameter's full range
# (a modulus sharing a factor with 6 would pin that factor's residue
# per container — e.g. a % 3 channel rule would make every aac row
# stereo) AND pairwise coprime among parameters that co-occur on one
# row, so the oracle covers the full cross product (a shared modulus
# would lock parameters together — e.g. channels on % 5 beside the
# % 5 sample-rate rule would make every mono row 8 kHz, hiding any
# builder/parser bug specific to an untested combination). Moduli in
# use: 5 (_SR wav/ogg/mkv rows, _MP3_BR mp3 rows — never one row),
# 7 (_MP3_NF), 11 (_CH), 13 (_MP3_SR), 43 (_H), 47 (_W), 67
# (_MP3_PAD), 101 (_AAC_PL), 401 (_NS), 9001 (_OGG_NS),
# 9499 = 7*23*59 (_DUR — the 7 never co-occurs with _MP3_NF's).
_SR = "8000 + (media_id % 5) * 2000"
_NS = "200 + media_id % 401"
_CH = "CASE WHEN media_id % 11 = 0 THEN 1 ELSE 2 END"
_DUR = "500 + (media_id * 37) % 9499"
_MP3_SR = (
    "CASE (media_id % 13) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
    "ELSE 32000 END"
)
_MP3_BR = (
    "CASE media_id % 5 WHEN 0 THEN 64000 WHEN 1 THEN 96000 "
    "WHEN 2 THEN 128000 WHEN 3 THEN 160000 ELSE 192000 END"
)
_MP3_NF = "3 + media_id % 7"
_MP3_PAD = "media_id % 67"
_OGG_NS = "1000 + (media_id * 13) % 9001"
_AAC_PL = "40 + media_id % 101"
_KIND = (
    "CASE media_id % 6 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4' "
    "WHEN 2 THEN 'mp3' WHEN 3 THEN 'ogg' WHEN 4 THEN 'aac' "
    "ELSE 'mkv' END"
)


def doc_av_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video header metadata over opaque binary payloads: ids
    rotate through complete PCM WAV files, minimal ISO-BMFF MP4s
    (ftyp + moov(mvhd, trak(tkhd))), MPEG-1 Layer III streams (ID3v2
    tag + real CBR frames), Ogg Vorbis streams (BOS id-header page +
    EOS page), ADTS AAC streams (real 7-byte frame headers), and
    Matroska files (EBML header + Segment(Info, Tracks));
    ``extract_av_meta`` walks the RIFF chunks / BMFF boxes / MP3 and
    ADTS frame headers / Ogg pages / EBML elements to recover
    duration, sample rate/channels (audio) and track dims (video).
    Pure-parser tier — no codec dependency, runs at scan speed on any
    corpus size."""
    from ..operators.multimodal import extract_av_meta, generate_fake_av

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    uses_aac_rate = (F.col("doc_id") % 6 == 2) | (F.col("doc_id") % 6 == 4)
    is_ogg = F.col("doc_id") % 6 == 3
    params = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(_KIND.replace("media_id", "doc_id")).alias("kind"),
        # mp3 AND aac rows need a rate from the Layer III / ADTS tables
        # (the builders index those tables); wav/ogg/mkv take the free
        # 8-16 kHz PCM range
        F.when(uses_aac_rate, F.expr(_MP3_SR.replace("media_id", "doc_id")))
        .otherwise(F.expr(_SR.replace("media_id", "doc_id")))
        .cast("int")
        .alias("sample_rate"),
        F.when(is_ogg, F.expr(_OGG_NS.replace("media_id", "doc_id")))
        .otherwise(F.expr(_NS.replace("media_id", "doc_id")))
        .cast("int")
        .alias("n_samples"),
        F.expr(_CH.replace("media_id", "doc_id")).cast("int").alias("channels"),
        F.expr(_DUR.replace("media_id", "doc_id")).cast("int").alias("duration_ms"),
        F.expr(_W.replace("media_id", "doc_id")).cast("int").alias("width"),
        F.expr(_H.replace("media_id", "doc_id")).cast("int").alias("height"),
        F.expr(_MP3_BR.replace("media_id", "doc_id")).cast("int").alias("bitrate"),
        F.expr(_MP3_NF.replace("media_id", "doc_id")).cast("int").alias("n_frames"),
        F.expr(_MP3_PAD.replace("media_id", "doc_id")).cast("int").alias("id3_pad"),
        F.expr(_AAC_PL.replace("media_id", "doc_id")).cast("int").alias("payload_len"),
    )
    return extract_av_meta(generate_fake_av(params))


def _o(expr: str) -> str:
    return expr.replace("media_id", "doc_id")


# byte lengths are structural: WAV = 44-byte header + n_samples *
# channels * 2 PCM bytes; the minimal MP4 is a fixed 244-byte box tree;
# MP3 = optional (10 + pad) ID3v2 bytes + n_frames CBR frames of
# (144 * bitrate) // sample_rate bytes (padding bit 0); the minimal Ogg
# is two fixed pages, 58 + 44 = 102 bytes; ADTS = n_frames frames of
# (7-byte header + payload_len); the minimal MKV with one video and one
# audio track is a fixed 84-byte element tree (every field fixed-width:
# 8-byte doubles for Duration/SamplingFrequency, 2-byte dims, 1-byte
# channels). Durations floor exactly like the parsers: WAV
# (data_len*1000)//byte_rate == (n_samples*1000)//sr (block_align
# cancels under floor), MP3 (frames*1152*1000)//sr, Ogg (granule*1000)
# //sr (Vorbis pre-skip 0), ADTS (blocks*1024*1000)//sr, MKV
# int(float(dur_ms)*1e6)//1e6 == dur_ms (exact: dur_ms < 2^53).
DOC_AV_META_ORACLE = f"""
SELECT doc_id AS media_id,
       CAST(CASE doc_id % 6
                 WHEN 0 THEN 44 + ({_o(_NS)}) * ({_o(_CH)}) * 2
                 WHEN 1 THEN 244
                 WHEN 2 THEN (CASE WHEN ({_o(_MP3_PAD)}) = 0 THEN 0
                              ELSE 10 + ({_o(_MP3_PAD)}) END)
                             + ({_o(_MP3_NF)}) * ((144 * ({_o(_MP3_BR)})) // ({_o(_MP3_SR)}))
                 WHEN 3 THEN 102
                 WHEN 4 THEN ({_o(_MP3_NF)}) * (7 + ({_o(_AAC_PL)}))
                 ELSE 84 END AS INTEGER) AS byte_len,
       {_o(_KIND)} AS container,
       CAST(CASE doc_id % 6
                 WHEN 0 THEN (({_o(_NS)}) * 1000) // ({_o(_SR)})
                 WHEN 1 THEN {_o(_DUR)}
                 WHEN 2 THEN (({_o(_MP3_NF)}) * 1152 * 1000) // ({_o(_MP3_SR)})
                 WHEN 3 THEN (({_o(_OGG_NS)}) * 1000) // ({_o(_SR)})
                 WHEN 4 THEN (({_o(_MP3_NF)}) * 1024 * 1000) // ({_o(_MP3_SR)})
                 ELSE {_o(_DUR)}
            END AS INTEGER) AS duration_ms,
       CAST(CASE doc_id % 6 WHEN 0 THEN {_o(_SR)} WHEN 2 THEN {_o(_MP3_SR)}
                 WHEN 3 THEN {_o(_SR)} WHEN 4 THEN {_o(_MP3_SR)}
                 WHEN 5 THEN {_o(_SR)} END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 6 != 1 THEN {_o(_CH)} END AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 6 IN (1, 5) THEN {_o(_W)} END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 6 IN (1, 5) THEN {_o(_H)} END AS INTEGER) AS height,
       TRUE AS decode_ok
FROM documents
"""


QUERIES = {
    "doc_binary_stats": doc_binary_stats,
    "doc_media_sampled": doc_media_sampled,
    "doc_media_resized": doc_media_resized,
    "doc_av_meta": doc_av_meta,
}

ORACLES = {
    "doc_binary_stats": DOC_BINARY_STATS_ORACLE,
    "doc_media_sampled": DOC_MEDIA_SAMPLED_ORACLE,
    "doc_media_resized": DOC_MEDIA_RESIZED_ORACLE,
    "doc_av_meta": DOC_AV_META_ORACLE,
}
