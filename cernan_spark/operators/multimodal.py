"""Multimodal column handling: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched mapInPandas.

The Spark-side plumbing (schemas, batch iteration, partition sizing,
deterministic features) is real and tested. METADATA decode is REAL for
the five most common container formats — PNG dimensions (IHDR struct
read), JPEG dimensions (SOFn marker walk), WAV duration (RIFF chunk
walk), MP3 duration (MPEG-1 Layer III frame-header walk), and MP4
duration/dimensions (ISO-BMFF moov/mvhd/tkhd box walk) — with no
external libraries; payloads that genuinely need a codec stack (pixel /
sample decode, other container formats) raise NotImplementedError in
strict mode or produce a deterministic fake derived from the bytes, so
pipelines still exercise the full distributed path.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, sha256 string, "
    "width int, height int, duration_ms int, feature array<float>"
)


# ---------------------------------------------------------------------------
# dependency-free PNG / WAV codecs (encode for fixtures, decode for real)
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal REAL grayscale-8 PNG (signature + IHDR + zlib IDAT + IEND,
    correct CRCs — loadable by any PNG reader). Deterministic pixel ramp
    from ``seed``; used to build media fixtures without PIL."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(((x * 31 + y * 17 + seed) % 256) for x in range(width))
        for y in range(height)
    )
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_size(content: bytes) -> tuple[int, int] | None:
    """PNG (width, height) from the IHDR struct — a pure byte read; None
    if the bytes are not a PNG."""
    if len(content) >= 24 and content[:8] == PNG_SIG and content[12:16] == b"IHDR":
        w, h = struct.unpack(">II", content[16:24])
        return w, h
    return None


def encode_wav(
    n_samples: int, sample_rate: int = 8000, seed: int = 0
) -> bytes:
    """Minimal REAL PCM16 mono WAV (RIFF/fmt/data) with a deterministic
    waveform; used to build media fixtures without soundfile."""
    data = b"".join(
        struct.pack("<h", ((i * i + seed * 97) % 20000) - 10000)
        for i in range(n_samples)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    riff_size = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav_duration_ms(content: bytes) -> int | None:
    """WAV duration from the RIFF chunk walk (fmt byte_rate + data size) —
    pure struct reads; None if the bytes are not a RIFF/WAVE container."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, byte_rate, data_size = 12, None, None
    while pos + 8 <= len(content):
        tag = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        if tag == b"fmt " and pos + 20 <= len(content):
            byte_rate = struct.unpack("<I", content[pos + 16 : pos + 20])[0]
        elif tag == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if byte_rate and data_size is not None:
        return int(data_size * 1000 // byte_rate)
    return None


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def encode_jpeg(width: int, height: int, seed: int = 0) -> bytes:
    """Structurally REAL JPEG marker stream (SOI, JFIF APP0, DQT, SOF0 with
    the true dimensions, DHT, SOS, EOI) — walkable by any JPEG header
    parser. The entropy-coded scan data after SOS is a deterministic ramp
    (producing real coefficients needs a Huffman/DCT encoder); the marker
    metadata is what the SOF walk reads."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes((3 + (i + seed) % 13) for i in range(64))
    sof0 = (
        struct.pack(">BHH", 8, height, width)  # precision, lines, samples
        + b"\x01"                              # 1 component (grayscale)
        + b"\x01\x11\x00"                      # id, 1x1 sampling, DQT 0
    )
    dht = b"\x00" + bytes(16) + b""
    sos = b"\x01\x01\x00\x00\x3f\x00"
    scan = bytes(((i * 29 + seed * 7) % 255) for i in range(48))  # no 0xFF
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xE0, app0)
        + _jpeg_seg(0xDB, dqt)
        + _jpeg_seg(0xC0, sof0)
        + _jpeg_seg(0xC4, dht)
        + _jpeg_seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


_JPEG_SOF_MARKERS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


def decode_jpeg_size(content: bytes) -> tuple[int, int] | None:
    """JPEG (width, height) from the SOFn marker walk — pure byte reads
    over the segment chain (SOI → APPn/DQT/… → SOFn), the same class of
    stdlib decode as the PNG IHDR read; None if the bytes are not a JPEG
    or no SOF marker precedes the scan."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            return None
        marker = content[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if 0xD0 <= marker <= 0xD9 or marker == 0x01:  # standalone markers
            pos += 2
            continue
        seg_len = struct.unpack(">H", content[pos + 2 : pos + 4])[0]
        if seg_len < 2 or pos + 2 + seg_len > len(content):
            return None
        if marker in _JPEG_SOF_MARKERS:
            if seg_len < 7:
                return None
            h, w = struct.unpack(">HH", content[pos + 5 : pos + 9])
            return w, h
        if marker == 0xDA:  # start of scan: entropy data follows, no SOF seen
            return None
        pos += 2 + seg_len
    return None


#: MPEG-1 Layer III bitrate (kbps) and sample-rate tables (frame headers)
_MP3_BITRATES = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None
]
_MP3_RATES = [44100, 48000, 32000, None]


def encode_mp3(
    n_frames: int, bitrate_kbps: int = 128, sample_rate: int = 44100,
    seed: int = 0,
) -> bytes:
    """Structurally REAL MPEG-1 Layer III frame stream: each frame carries
    a spec-correct 4-byte header (sync, version, layer, bitrate index,
    sample-rate index) and the header-implied frame length; the audio
    payload is a deterministic ramp (real samples need an MDCT encoder).
    Duration decodes from the frame walk: n_frames · 1152 / sample_rate."""
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate  # padding bit 0
    hdr = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC4]
    )  # MPEG1 L3 no-CRC, mono
    body_len = frame_len - 4
    out = bytearray()
    for f in range(n_frames):
        out += hdr
        out += bytes(((i * 31 + f * 17 + seed * 7) % 255) for i in range(body_len))
    return bytes(out)


def decode_mp3_duration_ms(content: bytes) -> int | None:
    """MP3 duration from the frame-header walk (MPEG-1 Layer III): at each
    frame boundary read the 4-byte header, look the bitrate/sample-rate up
    in the spec tables, hop the header-implied frame length and accumulate
    1152 samples per frame — pure byte reads, the audio analog of the MP4
    box walk. A leading ID3v2 tag is skipped via its synchsafe size. None
    if the bytes are not an MPEG-1 Layer III stream."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        ss = content[6:10]
        pos = 10 + (
            (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
        )
    n_samples = 0
    sample_rate = None
    frames = 0
    while pos + 4 <= len(content):
        b0, b1, b2, _b3 = content[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xFE) != 0xFA:  # sync + MPEG1 + Layer III
            return None
        bitrate = _MP3_BITRATES[b2 >> 4]
        rate = _MP3_RATES[(b2 >> 2) & 0x3]
        if bitrate is None or rate is None:
            return None
        if sample_rate is None:
            sample_rate = rate
        padding = (b2 >> 1) & 0x1
        frame_len = 144 * bitrate * 1000 // rate + padding
        # a frame must be present in full — garbage that merely starts
        # with valid sync bytes is not an MP3 stream
        if frame_len <= 4 or pos + frame_len > len(content):
            return None
        n_samples += 1152
        frames += 1
        pos += frame_len
    if frames == 0 or sample_rate is None:
        return None
    return int(n_samples * 1000 // sample_rate)


def _mp4_box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


_MP4_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def encode_mp4(
    duration_ms: int, width: int = 64, height: int = 48,
    timescale: int = 1000, seed: int = 0,
) -> bytes:
    """Minimal REAL ISO-BMFF MP4 (ftyp + moov{mvhd, trak{tkhd}} + mdat)
    with correct box sizes — walkable by any MP4 parser. The mdat payload
    is a deterministic ramp from ``seed`` (no codec stack exists here to
    produce real samples); used to build media fixtures without ffmpeg."""
    dur = duration_ms * timescale // 1000
    mvhd = (
        struct.pack(">I", 0)                    # version 0 + flags
        + struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + b"\x00" * 8                           # reserved
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24                          # pre_defined
        + struct.pack(">I", 2)                  # next_track_ID
    )
    tkhd = (
        struct.pack(">I", 3)                    # version 0 + flags (enabled)
        + struct.pack(">IIIII", 0, 0, 1, 0, dur)  # times, track 1, duration
        + b"\x00" * 8                           # reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)      # layer, group, volume, rsvd
        + _MP4_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16)  # 16.16 fixed
    )
    mdat = bytes((i * 37 + seed * 101) % 256 for i in range(64))
    return (
        _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
        + _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd)
                   + _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd)))
        + _mp4_box(b"mdat", mdat)
    )


def _mp4_boxes(buf: bytes, pos: int, end: int):
    """Yield (tag, payload_start, payload_end) walking sibling boxes."""
    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos : pos + 4])[0]
        tag = buf[pos + 4 : pos + 8]
        head = 8
        if size == 1:  # 64-bit largesize form
            if pos + 16 > end:
                return
            size = struct.unpack(">Q", buf[pos + 8 : pos + 16])[0]
            head = 16
        elif size == 0:  # box extends to EOF
            size = end - pos
        if size < head or pos + size > end:
            return
        yield tag, pos + head, pos + size
        pos += size


def decode_mp4_meta(content: bytes) -> tuple[int, int, int] | None:
    """(duration_ms, width, height) from the moov/mvhd + trak/tkhd box walk
    — pure struct reads (both mvhd/tkhd versions); None if the bytes are
    not an ISO-BMFF container."""
    if len(content) < 16 or content[4:8] not in (b"ftyp", b"moov"):
        return None
    dur_ms = width = height = None
    for tag, s, e in _mp4_boxes(content, 0, len(content)):
        if tag != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(content, s, e):
            if t2 == b"mvhd" and e2 - s2 >= 24:
                ver = content[s2]
                if ver == 1 and e2 - s2 >= 32:
                    ts, = struct.unpack(">I", content[s2 + 20 : s2 + 24])
                    dur, = struct.unpack(">Q", content[s2 + 24 : s2 + 32])
                else:
                    ts, dur = struct.unpack(">II", content[s2 + 12 : s2 + 20])
                if ts:
                    dur_ms = int(dur * 1000 // ts)
            elif t2 == b"trak" and width is None:
                for t3, s3, e3 in _mp4_boxes(content, s2, e2):
                    off = 88 if content[s3] == 1 else 76
                    if t3 == b"tkhd" and e3 - s3 >= off + 8:
                        w, h = struct.unpack(
                            ">II", content[s3 + off : s3 + off + 8]
                        )
                        width, height = w >> 16, h >> 16
    if dur_ms is None:
        return None
    return dur_ms, width or 0, height or 0


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table, generated distributively: image rows are
    REAL tiny PNGs or JPEG marker streams, audio rows REAL tiny WAVs or
    MPEG-1 Layer III frame streams, and video rows REAL tiny ISO-BMFF MP4
    containers (8 seeded variants each, embedded as binary literals from
    the stdlib encoders above; odd variants use the second format per
    kind)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    idx = (F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(3)) + 1).cast("int")
    variant = (
        F.pmod(F.xxhash64(F.lit(seed + 1), F.col("id")), F.lit(8)) + 1
    ).cast("int")
    images = F.array(
        *[
            F.lit(
                encode_png(16 + 3 * i, 20 + 5 * i, seed=i)
                if i % 2 == 0
                else encode_jpeg(24 + 7 * i, 18 + 4 * i, seed=i)
            )
            for i in range(8)
        ]
    )
    audios = F.array(
        *[
            F.lit(
                encode_wav(800 + 160 * i, seed=i)
                if i % 2 == 0
                else encode_mp3(3 + i, seed=i)
            )
            for i in range(8)
        ]
    )
    mp4s = F.array(
        *[
            F.lit(encode_mp4(700 + 150 * i, width=64 + 16 * i,
                             height=48 + 12 * i, seed=i))
            for i in range(8)
        ]
    )
    img_mime = F.when(variant % 2 == 1, F.lit("image/png")).otherwise(
        F.lit("image/jpeg")
    )
    aud_mime = F.when(variant % 2 == 1, F.lit("audio/wav")).otherwise(
        F.lit("audio/mpeg")
    )
    kind = F.element_at(kinds, idx)
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        F.when(kind == "image", F.element_at(images, variant))
        .when(kind == "audio", F.element_at(audios, variant))
        .otherwise(F.element_at(mp4s, variant))
        .alias("content"),
        F.when(kind == "image", img_mime)
        .when(kind == "audio", aud_mime)
        .otherwise(F.lit("video/mp4"))
        .alias("mime"),
        F.create_map(F.lit("source"), F.lit("synthetic")).alias("meta"),
    )


def _decode_image(content: bytes, strict: bool) -> tuple[int, int]:
    """REAL for PNG (IHDR struct read) and JPEG (SOFn marker walk); other
    raster formats need an entropy decoder (PIL/libvips, absent in
    container) → strict raises, non-strict yields a deterministic fake."""
    size = decode_png_size(content)
    if size is None:
        size = decode_jpeg_size(content)
    if size is not None:
        return size
    if strict:
        raise NotImplementedError(
            "non-PNG/JPEG image decode requires PIL/libvips"
        )
    h = hashlib.sha256(content).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64  # deterministic fake (w, h)


def _decode_av(
    content: bytes, strict: bool
) -> tuple[int, int | None, int | None]:
    """(duration_ms, width, height). REAL for WAV (RIFF chunk walk), MP3
    (frame-header walk) and MP4 (moov box walk — duration from mvhd,
    dimensions from tkhd); other compressed a/v needs ffmpeg/soundfile →
    strict raises, non-strict yields a deterministic fake."""
    dur = decode_wav_duration_ms(content)
    if dur is None:
        dur = decode_mp3_duration_ms(content)
    if dur is not None:
        return dur, None, None
    meta = decode_mp4_meta(content)
    if meta is not None:
        d, w, h = meta
        return d, (w or None), (h or None)
    if strict:
        raise NotImplementedError(
            "non-WAV/MP3/MP4 a/v decode requires ffmpeg/soundfile"
        )
    hd = hashlib.sha256(content).digest()
    return 100 + int.from_bytes(hd[2:4], "big") % 10_000, None, None


def extract_features(
    media: DataFrame, feature_dim: int = 8, strict: bool = False
) -> DataFrame:
    """Decode/feature-extract via mapInPandas: one Arrow batch in, one out.

    The 'feature' is a deterministic pseudo-embedding of the content bytes
    (stands in for a CNN/audio embedding). Batch shape, schema, and
    partition behavior match what a real extractor needs — swap the two
    _decode stubs for codec calls on a real cluster.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(len).astype("int32"),
                "sha256": pdf["content"].map(
                    lambda b: hashlib.sha256(b).hexdigest()
                ),
            }
            w, h, dur, feats = [], [], [], []
            for content, kind in zip(pdf["content"], pdf["kind"]):
                if kind == "image":
                    iw, ih = _decode_image(content, strict)
                    w.append(iw); h.append(ih); dur.append(None)
                else:
                    d, vw, vh = _decode_av(content, strict)
                    w.append(vw); h.append(vh); dur.append(d)
                digest = hashlib.sha256(b"feat" + content).digest()
                feats.append(
                    np.frombuffer(digest[: feature_dim * 4], dtype=">u4")
                    .astype(np.float32)
                    / np.float32(2**32)
                )
            out["width"] = pd.array(w, dtype="Int32")
            out["height"] = pd.array(h, dtype="Int32")
            out["duration_ms"] = pd.array(dur, dtype="Int32")
            out["feature"] = feats
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000, strict: bool = False
) -> DataFrame:
    """Video frame-sampling plumbing: one row per planned frame timestamp
    (explode of a sequence over the REAL mvhd duration) — extracting pixel
    data at those timestamps would need a codec stack (strict mode)."""
    feats = extract_features(media.filter(F.col("kind") == "video"), strict=strict)
    return feats.select(
        "media_id",
        "duration_ms",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
