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
3. The original deterministic **fake parser** (``decode_media``, and
   ``resize_media``'s byte-level truncate / cycle-pad) stays as the
   arithmetic-oracle form.

Everything AROUND decode is one helper per idiom, shared by all three
tiers: ``_synth_media`` turns each ``documents`` row into one payload
(a media table is just its ``encode(doc_id, len(text), md5(text))``),
``_map_rows`` is the one per-row ``mapInPandas`` (input columns, a row
function returning a tuple, a DDL schema that sets the column types),
and ``_wav_pcm16_samples`` is the one RIFF chunk walk.
``sample_frames`` (an explode) and ``extract_features`` (a
``pandas_udf``) are the two other shapes.

Scale notes: ``decode_media`` and ``sample_frames`` are map-side-only
(``mapInPandas`` preserves partitioning, no shuffle); metadata
aggregations afterwards are plain hash aggregations.  Feature extraction
returns fixed-width ``array<float>`` ready for the operators in
``similarity.py`` (LSH bucketing / cosine top-k).
"""

from __future__ import annotations

import hashlib
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
_MEDIA_SCHEMA = "media_id BIGINT, media_type STRING, payload BINARY"

# pandas dtype per DDL column type; STRING and BINARY columns stay object
_PD_DTYPES = {"BIGINT": "int64", "INT": "int32", "BOOLEAN": "bool"}


def _map_rows(df, cols, row_fn, schema: str):
    """The one per-row ``mapInPandas``: each input row's ``cols`` values
    go to ``row_fn``, which returns the output row as a tuple in the
    order of ``schema``, a flat DDL string of scalar columns whose types
    set the output dtypes.  Only ``cols`` cross to Python; the output
    stays in the input partition (no shuffle)."""
    fields = [f.split() for f in schema.split(",")]
    names = [f[0] for f in fields]
    dtypes = [_PD_DTYPES.get(f[1]) for f in fields]

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row_fn(*r) for r in zip(*(pdf[c] for c in cols))]
            values = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame({
                n: pd.Series(list(v), dtype=d)
                for n, v, d in zip(names, values, dtypes)
            })

    return df.select(*cols).mapInPandas(work, schema)


def _synth_media(spark, sf_dir: str, encode):
    """The one media synthesizer: each ``documents`` row becomes one
    ``(media_id, media_type, payload)`` row, ``media_id = doc_id`` and
    ``(media_type, payload) = encode(doc_id, len(text), md5(text))``.
    Every payload parameter is a pure function of those three, which is
    what lets a SQL oracle recompute the decoded metadata closed-form.
    Built map-side (Arrow binary batches)."""

    def row(did, text):
        h = hashlib.md5(text.encode()).digest()
        return (did, *encode(did, len(text), h))

    docs = load_table(spark, sf_dir, "documents")
    return _map_rows(docs, ("doc_id", "text"), row, _MEDIA_SCHEMA)


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


def _wav_pcm16_samples(payload: bytes):
    """The one RIFF chunk walk: (sample_rate, int16 sample array) of a
    mono PCM-16 WAV.  fmt may be followed by LIST/fact chunks before
    data.  Raises ValueError for a non-WAV payload or a missing chunk
    and NotImplementedError for non-PCM encodings (MP3-in-WAV etc.)."""
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
    return rate, np.frombuffer(data, np.int16)


def decode_wav_pcm16(payload: bytes) -> tuple[int, int, int]:
    """Parse a mono PCM-16 WAV: (sample_rate, n_samples, sum of |sample|
    amplitudes), through the RIFF chunk walk ``_wav_pcm16_samples``.
    Raises NotImplementedError for non-PCM encodings (MP3-in-WAV
    etc.)."""
    import numpy as np

    rate, samples = _wav_pcm16_samples(payload)
    return rate, len(samples), int(np.abs(samples.astype(np.int64)).sum())


def _bmp_of(n: int, h: bytes):
    """The md5-colored BMP of ``real_`` and ``codec_media_table``."""
    return "image", encode_bmp24(n % 24 + 4, n % 12 + 4, (h[0], h[1], h[2]))


def _wav_of(n: int, h: bytes):
    """The md5-amplitude square-wave WAV of ``real_`` and
    ``codec_media_table``."""
    amp = h[0] * 100 + 100
    wave = [amp if i % 2 == 0 else -amp for i in range(n % 500 + 50)]
    return "audio", encode_wav_pcm16(8000, wave)


def real_media_table(spark, sf_dir: str):
    """Derive a media table whose payloads are GENUINE container bytes:
    doc_id % 2 == 0 -> a 24-bit BMP filled with an md5-derived constant
    color, else -> a mono PCM-16 WAV square wave with md5-derived
    amplitude.  Dimensions/amplitude are pure functions of (text length,
    md5(text)), so a SQL oracle recomputes the decoded metadata exactly
    — while the payloads themselves are real files any external tool
    opens.  Built map-side via mapInPandas (Arrow binary batches)."""
    return _synth_media(spark, sf_dir, lambda did, n, h: (
        _bmp_of(n, h) if did % 2 == 0 else _wav_of(n, h)))


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
    import numpy as np

    from .jpeg import encode_jpeg_gray, encode_jpeg_gray_progressive

    def encode(did, n, h):
        if did % 3 == 0:
            return _bmp_of(n, h)
        if did % 3 == 1:
            return _wav_of(n, h)
        v = (h[0] % 128) * 2  # even -> lossless reconstruction
        enc = (encode_jpeg_gray_progressive
               if did % 6 == 5 else encode_jpeg_gray)
        return "image", enc(
            np.full((n % 12 + 4, n % 24 + 4), v, dtype=np.uint8))

    return _synth_media(spark, sf_dir, encode)


def png_media_table(spark, sf_dir: str):
    """All-PNG media table (r6b): every document becomes a GENUINE PNG
    — even doc_id -> 8-bit grayscale at the md5-derived level, odd ->
    8-bit RGB at the md5-derived constant color — encoded with the
    per-row filter cycle so every de-filter path (None/Sub/Up/Average/
    Paeth) runs on decode.  PNG is lossless, so the SQL oracle is the
    input metadata verbatim, no quantization closed-form needed."""
    import numpy as np

    from .png import encode_png

    def encode(did, n, h):
        w, hh = n % 24 + 4, n % 12 + 4
        if did % 2 == 0:
            img = np.full((hh, w), h[0], dtype=np.uint8)
        else:
            img = np.empty((hh, w, 3), dtype=np.uint8)
            img[:, :] = (h[0], h[1], h[2])
        # did % 4 in (2, 3) -> Adam7 interlace (orthogonal to the
        # gray/RGB split; lossless, so the oracle metadata is identical
        # either way — the decoder's seven-pass reassembly runs on half
        # the corpus)
        return "image", encode_png(img, interlace=did % 4 >= 2)

    return _synth_media(spark, sf_dir, encode)


def gif_media_table(spark, sf_dir: str):
    """All-GIF media table (r6c): every document becomes a GENUINE
    GIF — a 4-color md5-derived palette with row stripes (row index
    y % 4), compressed by the real variable-width LZW in ``gif.py``;
    odd doc_ids additionally INTERLACE (the 8/8/4/2 four-pass row
    scramble), exercising the decoder's de-interlace on half the
    corpus.  GIF is lossless over palette indices, so the decoded
    level_sum has an exact closed form: w * sum_c rows(c) *
    palette_rgb_sum(c) with rows(c) = (h + 3 - c) div 4."""
    import numpy as np

    from .gif import encode_gif

    def encode(did, n, h):
        pal = np.frombuffer(h[:12], np.uint8).reshape(4, 3)
        idx = np.tile(
            (np.arange(n % 12 + 4, dtype=np.uint8) % 4)[:, None],
            (1, n % 24 + 4),
        )
        return "image", encode_gif(idx, pal, interlace=bool(did % 2))

    return _synth_media(spark, sf_dir, encode)


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
    from .mp4 import encode_mp4

    def encode(did, n, h):
        return "video", encode_mp4(
            width=(h[2] % 64 + 16) * 2,
            height=(h[3] % 36 + 9) * 2,
            v_codec="avc1" if did % 2 == 0 else "hvc1",
            fps=_MP4_FPS[h[1] % 3],
            secs=n % 30 + 1,
            a_rate=48000 if h[4] % 2 == 0 else 44100,
            fill=h[5],
        )

    return _synth_media(spark, sf_dir, encode)


def mp3_media_table(spark, sf_dir: str):
    """All-MP3 media table (r7, closing the LAST codec stub): every
    document becomes a GENUINE MPEG-1 Layer III frame stream
    (``mp3.py``) — frame count, bitrate index, samplerate (48k/32k so
    durations stay integral ms) from md5; odd doc_ids carry an ID3v2.4
    tag the frame walk must skip.  Metadata is closed-form for the SQL
    oracle; the payload is a real stream any frame-walker parses."""
    from .mp3 import encode_mp3

    def encode(did, n, h):
        return "audio", encode_mp3(
            bitrate_idx=h[1] % 14 + 1,
            rate_idx=1 if h[2] % 2 == 0 else 2,
            n_frames=n % 40 + 5,
            fill=h[3],
            id3_pad=(h[4] % 128 + 16) if did % 2 == 1 else 0,
        )

    return _synth_media(spark, sf_dir, encode)


def extract_mp4_meta(media_df):
    """ISO BMFF box-walk metadata extraction via ``mapInPandas`` — the
    curation-pass read: movie duration/timescale, track count, codec
    fourccs, visual dimensions, per-track sample counts, all from the
    real moov tree (``mp4.parse_mp4_meta``).  Map-side only."""
    from .mp4 import parse_mp4_meta

    def row(mid, pl):
        m = parse_mp4_meta(bytes(pl))
        return (mid, m["n_tracks"], m["duration"] * 1000 // m["timescale"],
                m["timescale"], m["video_codec"], m["width"], m["height"],
                m["v_samples"], m["audio_codec"], m["a_samples"])

    return _map_rows(media_df, ("media_id", "payload"), row, MP4_META_SCHEMA)


def extract_mp3_meta(media_df):
    """MPEG-audio frame-walk metadata via ``mapInPandas``: per stream
    the validated frame count, rate/bitrate, exact duration, and total
    frame bytes (``mp3.parse_mp3_meta``).  Map-side only."""
    from .mp3 import SAMPLES_PER_FRAME_V1L3, parse_mp3_meta

    def row(mid, pl):
        m = parse_mp3_meta(bytes(pl))
        return (mid, m["sample_rate"], m["bitrate_kbps"], m["n_frames"],
                m["n_samples"],
                m["n_frames"] * SAMPLES_PER_FRAME_V1L3 * 1000
                // m["sample_rate"],
                m["stream_bytes"], m["has_id3"])

    return _map_rows(media_df, ("media_id", "payload"), row, MP3_META_SCHEMA)


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
    from .h264 import encode_annexb

    def encode(did, n, h):
        return "video", encode_annexb(
            width=(h[2] % 64 + 16) * 2,
            height=(h[3] % 36 + 9) * 2,
            profile_idc=66 if did % 2 == 0 else 100,
            level_idc=_H264_LEVELS[h[6] % 7],
            n_nonidr=n % 24,
            sei_uuid=h if h[4] % 2 == 0 else None,
            fill=h[5],
        )

    return _synth_media(spark, sf_dir, encode)


def extract_h264_meta(media_df):
    """Annex-B NAL walk via ``mapInPandas``: start-code scan (3- and
    4-byte), NAL-type census, and the real Exp-Golomb SPS parse for
    profile/level and cropped dimensions (``h264.parse_annexb_meta``).
    Map-side only."""
    from .h264 import parse_annexb_meta

    def row(mid, pl):
        m = parse_annexb_meta(bytes(pl))
        return (mid, m["n_nals"], m["n_idr"] + m["n_nonidr"], m["n_sei"],
                m["profile_idc"], m["level_idc"], m["width"], m["height"])

    return _map_rows(media_df, ("media_id", "payload"), row, H264_META_SCHEMA)


def aac_media_table(spark, sf_dir: str):
    """All-AAC media table (r8): every document becomes a GENUINE ADTS
    frame stream (``aac.py``) — profile / rate index (32k/16k keep ms
    integral) / channels / frame count / payload size from md5; every
    third doc_id carries an ID3v2.4 tag the walk must skip.  Metadata
    is closed-form for the SQL oracle; the payload is a real stream
    any ADTS walker parses."""
    from .aac import encode_adts

    def encode(did, n, h):
        return "audio", encode_adts(
            profile_bits=h[1] % 4,
            freq_idx=5 if h[2] % 2 == 0 else 8,
            channels=h[3] % 2 + 1,
            n_frames=n % 50 + 4,
            payload_len=h[4] % 200 + 30,
            fill=h[5],
            id3_pad=(h[6] % 100 + 12) if did % 3 == 0 else 0,
        )

    return _synth_media(spark, sf_dir, encode)


def extract_aac_meta(media_df):
    """ADTS frame-walk metadata via ``mapInPandas``: per stream the
    validated frame count, table-decoded profile/rate/channels, exact
    duration, and total frame bytes (``aac.parse_adts_meta``).
    Map-side only."""
    from .aac import SAMPLES_PER_FRAME, parse_adts_meta

    def row(mid, pl):
        m = parse_adts_meta(bytes(pl))
        return (mid, m["profile"], m["sample_rate"], m["channels"],
                m["n_frames"], m["n_samples"],
                m["n_frames"] * SAMPLES_PER_FRAME * 1000 // m["sample_rate"],
                m["stream_bytes"], m["has_id3"])

    return _map_rows(media_df, ("media_id", "payload"), row, AAC_META_SCHEMA)


def _sniff_format(pl: bytes):
    """The magic-byte sniff ladder: the container format of ``pl``
    (``bmp``, ``wav``, ``jpeg``, ``png``, ``gif``, ``mp4``, ``mp3``),
    or None."""
    if pl[:2] == b"BM":
        return "bmp"
    if pl[:4] == b"RIFF" and pl[8:12] == b"WAVE":
        return "wav"
    if pl[:2] == b"\xff\xd8":
        return "jpeg"
    if pl[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if pl[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if len(pl) >= 12 and pl[4:8] == b"ftyp":
        return "mp4"
    if pl[:3] == b"ID3" or (
        len(pl) >= 4 and pl[0] == 0xFF and pl[1] & 0xE0 == 0xE0
    ):
        return "mp3"
    return None


def _decode_real(pl: bytes) -> tuple:
    """One sniffed payload -> (format, width, height, n_units,
    level_sum), the ``REAL_DECODED_SCHEMA`` columns after ``media_id``:
    images give pixels and the channel-byte sum, WAV/MP3 the rate as
    width and the sample count, MP4 its dimensions, total samples and
    duration in ms."""
    from .gif import decode_gif
    from .jpeg import decode_jpeg_baseline
    from .mp3 import parse_mp3_meta
    from .mp4 import parse_mp4_meta
    from .png import decode_png

    fmt = _sniff_format(pl)
    images = {"bmp": decode_bmp24, "jpeg": decode_jpeg_baseline,
              "png": decode_png, "gif": decode_gif}
    if fmt in images:
        return (fmt, *images[fmt](pl))
    if fmt == "wav":
        rate, ns, s = decode_wav_pcm16(pl)
        return fmt, rate, 0, ns, s
    if fmt == "mp4":
        m = parse_mp4_meta(pl)
        return (fmt, m["width"], m["height"], m["v_samples"] + m["a_samples"],
                m["duration"] * 1000 // m["timescale"])
    if fmt == "mp3":
        m = parse_mp3_meta(pl)
        return fmt, m["sample_rate"], 0, m["n_samples"], m["stream_bytes"]
    raise NotImplementedError(
        "unrecognized media container: BMP, WAV, JPEG "
        "(baseline + progressive), PNG, GIF, MP4 "
        "(box-walk), and MP3 (frame-walk) are the "
        "implemented sniffable formats"
    )


def decode_media_real(media_df):
    """REAL container decoding via ``mapInPandas`` — pure struct/numpy
    parsing sniffed by magic bytes: 24-bit BMP, mono PCM-16 WAV, and
    (r6) baseline JPEG through the full SOF0 codec in ``jpeg.py``.
    (r6b) PNG through the stdlib-zlib codec in ``png.py``.  (r7) MP4
    and MP3 at CONTAINER level — ISO BMFF box walk / MPEG frame walk
    via ``mp4.py``/``mp3.py`` (metadata-true; perceptual sample decode
    is the one remaining genuinely-library-bound layer, documented in
    those modules)."""
    return _map_rows(media_df, ("media_id", "payload"),
                     lambda mid, pl: (mid, *_decode_real(bytes(pl))),
                     REAL_DECODED_SCHEMA)


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
    rate, samples = _wav_pcm16_samples(payload)
    return encode_wav_pcm16(rate // factor, samples[::factor].tolist())


def resize_media_real(media_df, out_w: int = 8, out_h: int = 6,
                      factor: int = 2):
    """REAL resize via ``mapInPandas``: BMPs nearest-neighbor-resampled
    to (out_w, out_h), WAVs decimated by ``factor`` — then decoded back
    with the same real parsers so the output row proves the resized
    container is still well-formed.  Compressed formats raise inside
    the per-format functions (the honest env gap)."""
    resizers = {"bmp": lambda pl: resize_bmp_nearest(pl, out_w, out_h),
                "wav": lambda pl: decimate_wav(pl, factor)}

    def row(mid, pl):
        pl = bytes(pl)
        resize = resizers.get(_sniff_format(pl))
        if resize is None:
            raise NotImplementedError(
                "compressed media formats require codec libraries "
                "not present in this environment"
            )
        return (mid, *_decode_real(resize(pl)))

    return _map_rows(media_df, ("media_id", "payload"), row,
                     REAL_DECODED_SCHEMA)


def _fake_parse(media_type: str, payload: bytes) -> tuple[str, int, int, int]:
    """Deterministic fake header parse — metadata from byte length only,
    so a SQL oracle can recompute it exactly."""
    n = len(payload)
    width = (n * 7) % 640 + 16
    height = (n * 13) % 480 + 16
    return _FORMATS[media_type], width, height, n


def decode_media(media_df):
    """Binary payload -> typed metadata via ``mapInPandas``: the
    deterministic fake header parse, recomputable from the byte length
    by a SQL oracle.  Real codecs decode in ``decode_media_real``."""
    return _map_rows(media_df, ("media_id", "media_type", "payload"),
                     lambda mid, mt, pl: (mid, mt, *_fake_parse(mt, pl)),
                     DECODED_SCHEMA)


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


def resize_media(media_df, target_bytes: int = 4096):
    """Resize: payload -> fixed-size payload (truncate / cycle-pad); the
    real decode-resample-encode path is ``resize_media_real``.
    Map-side only; output schema == input schema plus ``orig_bytes`` so
    the pipeline stays re-entrant."""

    def row(mid, mt, pl):
        reps = -(-target_bytes // max(len(pl), 1))
        return mid, mt, bytes((pl * reps)[:target_bytes]), len(pl)

    return _map_rows(
        media_df, ("media_id", "media_type", "payload"), row,
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

    def encode(did, n, h):
        samples: list[int] = []
        for s in range(n_segments):
            amp = min(32767, (h[s] % 33) * 1024)
            samples += [amp if i % 2 == 0 else -amp for i in range(seg_len)]
        return "audio", encode_wav_pcm16(8000, samples)

    return _synth_media(spark, sf_dir, encode)


def decode_wav_energy_segments(payload: bytes, n_segments: int = 16):
    """Per-segment energy walk over a REAL mono PCM-16 WAV: the RIFF
    chunk walk ``_wav_pcm16_samples``, then the sample stream splits
    into ``n_segments`` equal windows, each reporting the exact int64
    sum of squared samples plus whether any sample saturates at full
    scale (|s| == 32767).  Returns
    (energies, n_silent, n_clipped, n_samples)."""
    import numpy as np

    _rate, samples = _wav_pcm16_samples(payload)
    samples = samples.astype(np.int64)
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

    def row(mid, pl):
        energies, n_silent, n_clipped, ns = (
            decode_wav_energy_segments(bytes(pl), n_segments))
        return (mid, ns, n_silent, n_clipped, sum(energies), max(energies),
                n_silent <= 4 and n_clipped == 0)

    return _map_rows(
        media_df, ("media_id", "payload"), row,
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
