"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Driver north-star (SURVEY §2.4): the engine treats media as
``binary`` columns with a metadata struct, and runs decode / feature
extraction / resize / frame-sampling as Arrow-batched ``mapInPandas``
stages. The media codec libraries (PIL, ffmpeg, torchaudio, ...) are NOT in
this container, so the decode kernels are stubbed exactly as the brief
requires: real Spark plumbing (schema, partitioning, UDF signature, Arrow
batch shape) with a deterministic fake payload, and a clearly marked
``NotImplementedError`` path when a real decode is requested without the
codec dependency installed.

Scale shape: all stages are map-only over binary batches — no shuffle; the
only knob that matters at 100 TB is input split size
(``spark.sql.files.maxPartitionBytes``) so one Arrow batch of blobs fits
executor memory.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.functions.containers import probe_av_header
from polars_dataset_spark.rowmap import map_rows

__all__ = [
    "binary_with_metadata",
    "decode_media",
    "decode_audio",
    "extract_features",
    "media_probe",
    "probe_media_header",
    "probe_av_header",
    "MEDIA_META_SCHEMA",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)

_HAVE_PIL = False
try:  # pragma: no cover - codec libs absent in this container by design
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    pass


def binary_with_metadata(
    df: DataFrame, payload_col: str, media_type: str = "application/octet-stream"
) -> DataFrame:
    """Normalize any column into the engine's media shape: an opaque
    ``content: binary`` plus a ``media_meta`` struct (type, size, sha256).
    All JVM-side expressions."""
    content = F.col(payload_col).cast("binary")
    return df.withColumns(
        {
            "content": content,
            "media_meta": F.struct(
                F.lit(media_type).alias("media_type"),
                F.length(content).cast("long").alias("n_bytes"),
                F.sha2(content, 256).alias("checksum"),
            ),
        }
    )


def _decode_ppm(data: bytes) -> "np.ndarray | None":
    """Pure-python/numpy decode of a binary PGM (P5) / PPM (P6) blob →
    float32 grayscale (H, W) in [0, 1]; None if the blob isn't one."""
    if data[:2] not in (b"P5", b"P6"):
        return None
    toks: list[bytes] = []
    i, n = 0, len(data)
    while i < n and len(toks) < 4:  # magic, width, height, maxval
        c = data[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":  # comment to end of line
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            j = i
            while j < n and not data[j : j + 1].isspace():
                j += 1
            toks.append(data[i:j])
            i = j
    if len(toks) < 4:
        return None
    try:
        w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    except ValueError:
        return None
    if w <= 0 or h <= 0 or not (0 < maxval < 256):  # 2-byte samples unsupported
        return None
    ch = 3 if toks[0] == b"P6" else 1
    i += 1  # exactly one whitespace byte separates maxval from pixels
    if n - i < w * h * ch:
        return None
    px = np.frombuffer(data, np.uint8, count=w * h * ch, offset=i).reshape(h, w, ch)
    return px.mean(axis=2).astype(np.float32) / float(maxval)


def _decode_bmp(data: bytes) -> "np.ndarray | None":
    """Pure-python/numpy decode of an uncompressed 24-bpp BMP blob →
    float32 grayscale (H, W) in [0, 1]; None if the blob isn't one."""
    if data[:2] != b"BM" or len(data) < 54:
        return None
    offset = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down, h = h < 0, abs(h)
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(data) - offset < row_bytes * h:
        return None
    rows = np.frombuffer(data, np.uint8, count=row_bytes * h, offset=offset).reshape(
        h, row_bytes
    )
    px = rows[:, : w * 3].reshape(h, w, 3).astype(np.float32)
    if not top_down:
        px = px[::-1]  # BMP default is bottom-up
    return px.mean(axis=2) / 255.0  # BGR order is irrelevant to the mean


def _thumbnail(gray: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample to (th, tw), flattened."""
    h, w = gray.shape
    ys = np.minimum((np.arange(th) * h) // th, h - 1)
    xs = np.minimum((np.arange(tw) * w) // tw, w - 1)
    return gray[np.ix_(ys, xs)].astype(np.float32).ravel()


def decode_media(
    df: DataFrame,
    content_col: str = "content",
    decoder: str = "fake",
    target_size: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Decode binary media to a fixed-size float array (a ``target_size``
    grayscale thumbnail, flattened, values in [0, 1]).

    ``decoder``:

    - ``"ppm"`` / ``"bmp"`` / ``"jpeg"`` / ``"png"`` / ``"gif"`` /
      ``"webp"`` / ``"tiff"`` / ``"tga"`` / ``"ico"`` / ``"qoi"``: REAL
      decodes implemented here in pure python/numpy (binary PGM/PPM
      headers + samples; uncompressed 24-bpp BMP with row padding and
      bottom-up order; baseline AND progressive JFIF JPEG — Huffman
      entropy decode (incl. spectral selection + successive
      approximation),
      dequantise, 8×8 IDCT, restart markers — see
      :mod:`polars_dataset_spark.functions.jpeg`; PNG at every legal
      IHDR combination — stdlib zlib inflate, all five row filters,
      gray/RGB/RGBA/palette, packed 1/2/4-bit, 16-bit, Adam7
      interlace — see
      :mod:`polars_dataset_spark.functions.png`; GIF87a/89a — variable-
      width LZW, global/local palettes, interlace — see
      :mod:`polars_dataset_spark.functions.gif`; lossless WebP — the
      full VP8L bitstream: canonical prefix codes, meta groups, color
      cache, LZ77 with the 2-D distance map, and all four transforms —
      see :mod:`polars_dataset_spark.functions.webp`; baseline TIFF —
      both byte orders, strips, gray/RGB, uncompressed/PackBits/TIFF-LZW
      with the early code-width change, horizontal-differencing
      predictor — see :mod:`polars_dataset_spark.functions.tiff`;
      Truevision TGA — color-mapped/truecolor/grayscale + RLE variants,
      16/24/32 bpp, both scanline orders — see
      :mod:`polars_dataset_spark.functions.tga`; ICO icons — largest
      directory member, PNG or doubled-height DIB payloads — see
      :mod:`polars_dataset_spark.functions.ico`; QOI — the complete
      one-page spec: all six chunk ops, running hash table, wraparound
      arithmetic — see :mod:`polars_dataset_spark.functions.qoi`)
      followed by
      deterministic nearest-neighbor resampling — no codec library
      needed. Blobs that fail to parse decode to null.
    - ``"fake"`` (default): a deterministic stand-in for formats whose
      codecs aren't installed — bytes tile into the target shape so the
      full Spark pipeline (schema, Arrow batches, partition shape) stays
      exercised.
    - ``"pil"``: the general-codec path (lossy WebP, arithmetic/
      12-bit JPEG, ...); raises ``NotImplementedError``
      in this container (Pillow absent) — install it on the cluster
      image.
    """
    n_out = int(np.prod(target_size))

    if decoder == "pil" and not _HAVE_PIL:
        raise NotImplementedError(
            "decoder='pil' needs the PIL/Pillow codec stack, which is not "
            "installed in this environment; use decoder='ppm'/'bmp'/'jpeg'/"
            "'png'/'gif'/'webp'/'tiff'/'tga'/'ico'/'qoi' (built-in pure-python decodes), decoder='fake' for "
            "plumbing tests, or install Pillow on the cluster image."
        )
    if decoder not in ("fake", "ppm", "bmp", "jpeg", "png", "gif", "webp", "tiff", "tga", "ico", "qoi", "pil"):
        raise ValueError(f"unknown decoder {decoder!r}")
    from polars_dataset_spark.functions.gif import decode_gif_gray
    from polars_dataset_spark.functions.ico import decode_ico_gray
    from polars_dataset_spark.functions.qoi import decode_qoi_gray
    from polars_dataset_spark.functions.tga import decode_tga_gray
    from polars_dataset_spark.functions.tiff import decode_tiff_gray
    from polars_dataset_spark.functions.webp import decode_webp_gray
    from polars_dataset_spark.functions.jpeg import decode_jpeg_gray
    from polars_dataset_spark.functions.png import decode_png_gray

    parse = {
        "ppm": _decode_ppm,
        "bmp": _decode_bmp,
        "jpeg": decode_jpeg_gray,
        "png": decode_png_gray,
        "gif": decode_gif_gray,
        "webp": decode_webp_gray,
        "tiff": decode_tiff_gray,
        "tga": decode_tga_gray,
        "ico": decode_ico_gray,
        "qoi": decode_qoi_gray,
    }.get(decoder)

    def decode(blob):
        if blob is None:
            return None
        if parse is not None:
            img = parse(bytes(blob))
            return (None if img is None else _thumbnail(img, *target_size),)
        raw = np.frombuffer(bytes(blob), dtype=np.uint8)
        if raw.size == 0:
            return (np.zeros(n_out, dtype=np.float32),)
        # deterministic fake decode: tile bytes into the target shape and
        # scale to [0, 1] — stable across runs/executors
        return (np.resize(raw.astype(np.float32) / 255.0, n_out),)

    return map_rows(
        df, [content_col], decode, [T.StructField("decoded", T.ArrayType(T.FloatType()))]
    )


def _decode_audio_blob(data: bytes) -> "tuple[int, int, np.ndarray] | None":
    """Magic-byte dispatch for the audio operators: RIFF/WAVE → the
    PCM/G.711 parser below, ``fLaC`` → the pure-python FLAC decoder
    (:mod:`polars_dataset_spark.functions.flac`), ``FORM``/``AIFF`` →
    the big-endian AIFF parser
    (:mod:`polars_dataset_spark.functions.aiff`), ``.snd`` → the Sun AU
    parser (G.711 + signed linear PCM,
    :mod:`polars_dataset_spark.functions.g711`). Same
    ``(rate, n_channels, frames)`` contract either way; anything else
    (or a failed parse) → None."""
    if data[:4] == b"fLaC":
        from polars_dataset_spark.functions.flac import decode_flac

        return decode_flac(data)
    if data[:4] == b".snd":
        from polars_dataset_spark.functions.g711 import decode_au

        return decode_au(data)
    if data[:4] == b"FORM" and data[8:12] == b"AIFF":
        from polars_dataset_spark.functions.aiff import decode_aiff

        return decode_aiff(data)
    return _decode_wav(data)


def _decode_wav(data: bytes) -> "tuple[int, int, np.ndarray] | None":
    """Pure-numpy RIFF/WAVE parse (PCM, 8- or 16-bit, any channel count):
    returns ``(sample_rate, n_channels, samples)`` with samples as float64
    in [-1, 1], shape (n_frames, n_channels) — or None if unparseable.
    No audio library needed; the container has none by design."""
    try:
        if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            return None
        pos, fmt, raw = 12, None, None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                raw = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or raw is None or len(fmt) < 16:
            return None
        audio_format = int.from_bytes(fmt[0:2], "little")
        n_channels = int.from_bytes(fmt[2:4], "little")
        rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if n_channels < 1:
            return None
        if audio_format in (6, 7) and bits == 8:
            # ITU-T G.711 telephony formats: 6 = A-law, 7 = mu-law
            from polars_dataset_spark.functions.g711 import alaw_decode, mulaw_decode

            dec = alaw_decode if audio_format == 6 else mulaw_decode
            samples = dec(np.frombuffer(raw, dtype=np.uint8)).astype(np.float64) / 32768.0
            n_frames = samples.size // n_channels
            return rate, n_channels, samples[: n_frames * n_channels].reshape(n_frames, n_channels)
        if audio_format != 1 or bits not in (8, 16):
            return None  # linear PCM or G.711 only; other codecs need a codec lib
        if bits == 16:
            samples = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2").astype(np.float64) / 32768.0
        else:  # 8-bit WAV is unsigned
            samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        n_frames = samples.size // n_channels
        return rate, n_channels, samples[: n_frames * n_channels].reshape(n_frames, n_channels)
    except Exception:
        return None


AUDIO_SCHEMA_FIELDS = [
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("envelope", T.ArrayType(T.FloatType())),
]


def decode_audio(
    df: DataFrame, content_col: str = "content", envelope_bins: int = 16
) -> DataFrame:
    """REAL audio decode without any codec library: parse RIFF WAV
    blobs (linear PCM 8/16-bit, or G.711 mu-law/A-law telephony via
    :mod:`polars_dataset_spark.functions.g711`, mono or multichannel) —
    or FLAC streams, via the pure-python decoder in
    :mod:`polars_dataset_spark.functions.flac`
    (magic-byte sniffed) — in pure numpy and attach
    ``sample_rate, n_channels, n_frames, duration_s, rms, peak`` plus a
    fixed-width loudness ``envelope`` (per-bin RMS over the channel-mean
    signal — the audio analogue of the image thumbnail). Unparseable or
    non-PCM blobs yield nulls. Map-only ``mapInPandas``; same scale shape
    as :func:`decode_media`."""
    def decode(blob):
        parsed = _decode_audio_blob(bytes(blob)) if blob is not None else None
        if parsed is None:
            return None
        rate, nch, frames = parsed
        mono = frames.mean(axis=1)
        n = mono.size
        if n:
            edges = (np.arange(envelope_bins + 1) * n) // envelope_bins
            env = [
                float(np.sqrt((mono[a:b] ** 2).mean())) if b > a else 0.0
                for a, b in zip(edges[:-1], edges[1:])
            ]
        else:
            env = [0.0] * envelope_bins
        return (
            rate,
            nch,
            n,
            n / rate if rate else None,
            float(np.sqrt((mono**2).mean())) if n else 0.0,
            float(np.abs(mono).max()) if n else 0.0,
            np.asarray(env, dtype=np.float32),
        )

    return map_rows(df, [content_col], decode, AUDIO_SCHEMA_FIELDS)


def audio_spectrogram(
    df: DataFrame,
    content_col: str = "content",
    frame_size: int = 256,
    hop: int = 128,
    max_frames: int = 64,
) -> DataFrame:
    """STFT magnitude spectrogram of PCM WAV or FLAC blobs, pure numpy — the
    frequency-domain audio feature beside :func:`decode_audio`'s
    time-domain stats: Hann-windowed ``frame_size`` frames at ``hop``
    stride, one-sided rFFT magnitude per frame (``frame_size//2 + 1``
    bins). Attaches ``sample_rate``, ``n_spec_frames`` (total frames in
    the blob), ``spectrogram`` (first ``max_frames`` frames — bounded
    output per row, whatever the blob length) and ``mean_spectrum``
    (magnitude mean over ALL frames — the fixed-size pooled feature
    downstream models consume). Unparseable blobs yield nulls.
    Map-only ``mapInPandas``, same scale shape as :func:`decode_media`;
    the per-row cost is the blob's own sample count, never a shuffle."""
    window = np.hanning(frame_size)
    fields = [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_spec_frames", T.IntegerType()),
        T.StructField("spectrogram", T.ArrayType(T.ArrayType(T.FloatType()))),
        T.StructField("mean_spectrum", T.ArrayType(T.FloatType())),
    ]

    def spectrogram(blob):
        parsed = _decode_audio_blob(bytes(blob)) if blob is not None else None
        if parsed is None or parsed[2].shape[0] < frame_size:
            return None
        rate, _nch, frames = parsed
        mono = frames.mean(axis=1)
        n_frames = 1 + (mono.size - frame_size) // hop
        starts = np.arange(n_frames) * hop
        mat = np.stack([mono[s : s + frame_size] for s in starts])
        mags = np.abs(np.fft.rfft(mat * window[None, :], axis=1))
        return (
            rate,
            int(n_frames),
            [row.astype(np.float32) for row in mags[:max_frames]],
            mags.mean(axis=0).astype(np.float32),
        )

    return map_rows(df, [content_col], spectrogram, fields)


def _parse_y4m(data: bytes) -> "tuple[int, int, float, list[np.ndarray]] | None":
    """Pure-numpy YUV4MPEG2 (.y4m) parse: returns ``(width, height, fps,
    frames)`` with each frame the luma (Y) plane as uint8 (h, w) — or
    None if unparseable. Y4M is the standard uncompressed video
    interchange format: a text stream header ``YUV4MPEG2 W.. H.. F..``
    then per-frame ``FRAME\\n`` markers ahead of raw planar YUV; C420
    (default) and C444/Cmono subsampling are supported here."""
    if not data.startswith(b"YUV4MPEG2"):
        return None
    nl = data.find(b"\n")
    if nl < 0:
        return None
    width = height = 0
    num, den = 25, 1
    colorspace = b"420"
    for tok in data[9:nl].split():
        try:
            if tok[:1] == b"W":
                width = int(tok[1:])
            elif tok[:1] == b"H":
                height = int(tok[1:])
            elif tok[:1] == b"F":
                num, den = (int(x) for x in tok[1:].split(b":"))
            elif tok[:1] == b"C":
                colorspace = tok[1:]
        except ValueError:
            return None
    if width <= 0 or height <= 0 or den == 0:
        return None
    y_size = width * height
    if colorspace.startswith(b"420"):
        frame_size = y_size + 2 * ((width // 2) * (height // 2))
    elif colorspace.startswith(b"444"):
        frame_size = 3 * y_size
    elif colorspace.startswith(b"mono"):
        frame_size = y_size
    else:
        return None
    frames = []
    pos = nl + 1
    while pos < len(data):
        fnl = data.find(b"\n", pos)
        if fnl < 0 or not data[pos:fnl].startswith(b"FRAME"):
            return None
        start = fnl + 1
        if start + frame_size > len(data):
            return None
        y = np.frombuffer(data[start : start + y_size], dtype=np.uint8)
        frames.append(y.reshape(height, width))
        pos = start + frame_size
    return width, height, num / den, frames


VIDEO_SCHEMA_FIELDS = [
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("n_frames_total", T.IntegerType()),
    T.StructField("frame_indices", T.ArrayType(T.IntegerType())),
    T.StructField("frames", T.ArrayType(T.ArrayType(T.FloatType()))),
]


def sample_frames(
    df: DataFrame,
    content_col: str = "content",
    every: int = 2,
    max_frames: int = 8,
    target_size: tuple[int, int] = (8, 8),
) -> DataFrame:
    """REAL video decode + temporal frame sampling, no codec library:
    pure-numpy YUV4MPEG2 parse (the uncompressed interchange format any
    ffmpeg pipeline can emit), keep every ``every``-th frame up to
    ``max_frames``, each sampled frame's luma plane thumbnailed to
    ``target_size`` (flattened, [0, 1]).

    The Spark shape is the production one for video curation at scale:
    an Arrow-batched ``mapInPandas`` over an opaque binary column —
    map-only, no shuffle, partition-parallel. Compressed containers
    (mp4/webm) need a codec stack on the cluster image; unparseable
    blobs yield null metadata rather than failing the stage."""
    if every < 1:
        raise ValueError("sample_frames: every must be >= 1")

    def sample(blob):
        parsed = _parse_y4m(bytes(blob)) if blob is not None else None
        if parsed is None:
            return None
        w, h, fps, frames = parsed
        idx = list(range(0, len(frames), every))[:max_frames]
        thumbs = [_thumbnail(frames[i], *target_size) / np.float32(255.0) for i in idx]
        return w, h, fps, len(frames), idx, thumbs

    return map_rows(df, [content_col], sample, VIDEO_SCHEMA_FIELDS)


def extract_features(
    df: DataFrame, decoded_col: str = "decoded", n_features: int = 4
) -> DataFrame:
    """Summary features over the decoded block (mean/std/min/max) — the
    stand-in for a real embedding model, with the exact Spark shape a model
    UDF would have (Arrow in, fixed-width array out)."""

    def feat(arr):
        if arr is None or len(arr) == 0:
            return None
        a = np.asarray(arr, dtype=np.float64)
        return ([float(a.mean()), float(a.std()), float(a.min()), float(a.max())][:n_features],)

    return map_rows(
        df, [decoded_col], feat, [T.StructField("features", T.ArrayType(T.DoubleType()))]
    )


# ---------------------------------------------------------------------------
# container-level header probing (no entropy decode)
# ---------------------------------------------------------------------------

#: JPEG start-of-frame marker → mode name. C4 (DHT), C8 (JPG) and CC (DAC)
#: are not SOFs and are skipped by the scanner.
_JPEG_SOF_MODES = {
    0xC0: "baseline",
    0xC1: "extended_sequential",
    0xC2: "progressive",
    0xC3: "lossless",
    0xC5: "diff_sequential",
    0xC6: "diff_progressive",
    0xC7: "diff_lossless",
    0xC9: "arith_sequential",
    0xCA: "arith_progressive",
    0xCB: "arith_lossless",
    0xCD: "diff_arith_sequential",
    0xCE: "diff_arith_progressive",
    0xCF: "diff_arith_lossless",
}


def probe_media_header(data: bytes) -> "dict | None":
    """Format / dimensions / mode from a media blob's CONTAINER headers —
    no entropy decode, so it works on the formats the pure-python decode
    path gates (lossy-WebP/VP8, arithmetic & 12-bit JPEG): a 100 TB crawl
    can still inventory what it cannot decode (r7 VERDICT adjudicated the
    decode gate, r8 #6 asked for this prober).

    Returns ``{"fmt", "width", "height", "mode", "gated"}`` or ``None``
    for unrecognized/truncated blobs. ``gated`` is True when
    :func:`decode_media`'s built-in decoders cannot decode the blob
    (VP8 lossy, non-baseline/progressive or non-8-bit JPEG). Dimension
    sources per format:

    - JPEG: first SOFn segment (height/width big-endian at +3); mode
      from the SOF marker, ``precision=N`` appended when ≠ 8.
    - WebP: ``VP8 `` lossy — RFC 6386 §9.1 keyframe header (3-byte
      frame tag, 0x9D012A start code, 14-bit le width/height);
      ``VP8L`` lossless — 14-bit fields of the signature dword;
      ``VP8X`` extended — 24-bit le canvas size minus one.
    - PNG (IHDR), GIF (logical screen), BMP (DIB), QOI, PPM (P5/P6),
      TIFF (first IFD's 256/257 tags, both byte orders).

    Blobs with no image signature fall through to the audio/video
    container probers (:mod:`~polars_dataset_spark.functions.containers`,
    r9): MP3, OGG (Vorbis/Opus), MP4/M4A, WebM/MKV, WAV, FLAC, AIFF, AU,
    Y4M. Every recognized blob returns the SAME dict shape — ``fmt``,
    ``width``, ``height``, ``mode``, ``gated``, ``sample_rate``,
    ``channels``, ``duration_s`` — with the inapplicable fields None
    (image rows carry None audio fields and vice versa), so direct
    callers never hit a missing key (r9 review).
    """
    meta = _probe_image_header(data)
    if meta is None:
        meta = probe_av_header(data)
    if meta is not None:
        for f in _PROBE_FIELDS:
            meta.setdefault(f.name, None)
    return meta


def _probe_image_header(data: bytes) -> "dict | None":
    """Image-container half of :func:`probe_media_header` (see its
    docstring for the per-format field sources)."""
    if data is None:
        return None
    data = bytes(data)
    n = len(data)

    def le16(o):
        return data[o] | (data[o + 1] << 8)

    def le24(o):
        return data[o] | (data[o + 1] << 8) | (data[o + 2] << 16)

    def le32(o):
        return le16(o) | (le16(o + 2) << 16)

    def be16(o):
        return (data[o] << 8) | data[o + 1]

    def be32(o):
        return (be16(o) << 16) | be16(o + 2)

    try:
        if n >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
            return {"fmt": "png", "width": be32(16), "height": be32(20),
                    "mode": "lossless", "gated": False}
        if n >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
            return {"fmt": "gif", "width": le16(6), "height": le16(8),
                    "mode": "lzw", "gated": False}
        if n >= 26 and data[:2] == b"BM":
            hdr = le32(14)  # DIB header size selects the layout
            if hdr == 12:  # OS/2 BITMAPCOREHEADER: 16-bit unsigned dims
                return {"fmt": "bmp", "width": le16(18), "height": le16(20),
                        "mode": "core_header", "gated": False}
            # BITMAPINFOHEADER+: dims are SIGNED; a negative biHeight is
            # the common top-down row-order encoding, not a 4-billion-px
            # image (r8 review)
            w = le32(18) - (1 << 32) if data[21] & 0x80 else le32(18)
            h = le32(22) - (1 << 32) if data[25] & 0x80 else le32(22)
            return {"fmt": "bmp", "width": abs(w), "height": abs(h),
                    "mode": "top_down" if h < 0 else "uncompressed",
                    "gated": False}
        if n >= 12 and data[:4] == b"qoif":
            return {"fmt": "qoi", "width": be32(4), "height": be32(8),
                    "mode": "lossless", "gated": False}
        if n >= 3 and data[:2] in (b"P5", b"P6") and data[2] in b" \t\r\n":
            # the magic must be followed by whitespace (netpbm spec) —
            # without the check, any TEXT blob starting "P6..." would be
            # misclassified. PPM has no real signature beyond these two
            # bytes, so additionally parse ALL THREE header fields
            # (width, height, maxval) and require the payload length to
            # match w·h·channels — prose like "P6 chips cost 500 or 600
            # yen" parses digits but fails the size check (r8 review)
            fields: "list[int]" = []
            i = 2
            while i < n and len(fields) < 3:
                c = data[i]
                if c in b"#":  # comment to EOL
                    while i < n and data[i] not in b"\n":
                        i += 1
                elif chr(c).isdigit():
                    j = i
                    while j < n and chr(data[j]).isdigit():
                        j += 1
                    fields.append(int(data[i:j]))
                    i = j - 1
                elif c not in b" \t\r\n":
                    return None  # non-numeric junk inside the header
                i += 1
            if len(fields) == 3:
                w, h, maxval = fields
                channels = 3 if data[:2] == b"P6" else 1
                px_bytes = w * h * channels * (2 if maxval > 255 else 1)
                # i indexes the single whitespace terminating the header;
                # pixel data starts at i + 1
                if w > 0 and h > 0 and 0 < maxval < 65536 and n >= i + 1 + px_bytes:
                    return {"fmt": "ppm", "width": w, "height": h,
                            "mode": "P6" if channels == 3 else "P5",
                            "gated": False}
            return None
        if n >= 8 and data[:4] in (b"II*\x00", b"MM\x00*"):
            big = data[:2] == b"MM"

            def rd(o, w):
                b = data[o : o + w]
                return int.from_bytes(b, "big" if big else "little")

            ifd = rd(4, 4)
            if ifd + 2 > n:
                return None
            cnt = rd(ifd, 2)
            width = height = None
            for k in range(cnt):
                e = ifd + 2 + 12 * k
                if e + 12 > n:
                    break
                tag, typ = rd(e, 2), rd(e + 2, 2)
                val = rd(e + 8, 2 if typ == 3 else 4)
                if tag == 256:
                    width = val
                elif tag == 257:
                    height = val
            if width is not None and height is not None:
                return {"fmt": "tiff", "width": width, "height": height,
                        "mode": "baseline", "gated": False}
            return None
        if n >= 20 and data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            fourcc = data[12:16]
            p = 20  # chunk payload
            if fourcc == b"VP8 " and n >= p + 10:
                tag = le24(p)
                keyframe = not (tag & 1)
                if keyframe and data[p + 3 : p + 6] == b"\x9d\x01\x2a":
                    w, h = le16(p + 6), le16(p + 8)
                    return {"fmt": "webp_vp8", "width": w & 0x3FFF,
                            "height": h & 0x3FFF, "mode": "lossy_key",
                            "gated": True}
                return {"fmt": "webp_vp8", "width": None, "height": None,
                        "mode": "lossy_inter" if not keyframe else "lossy",
                        "gated": True}
            if fourcc == b"VP8L" and n >= p + 5 and data[p] == 0x2F:
                bits = le32(p + 1)
                return {"fmt": "webp_vp8l", "width": (bits & 0x3FFF) + 1,
                        "height": ((bits >> 14) & 0x3FFF) + 1,
                        "mode": "lossless", "gated": False}
            if fourcc == b"VP8X" and n >= p + 10:
                return {"fmt": "webp_vp8x", "width": le24(p + 4) + 1,
                        "height": le24(p + 7) + 1, "mode": "extended",
                        "gated": True}
            return None
        if n >= 4 and data[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= n:
                if data[i] != 0xFF:
                    i += 1
                    continue
                marker = data[i + 1]
                if marker == 0xFF:
                    i += 1
                    continue
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                if marker == 0xD9 or i + 4 > n:
                    break
                seg_len = be16(i + 2)
                if marker in _JPEG_SOF_MODES and i + 9 <= n:
                    precision = data[i + 4]
                    height, width = be16(i + 5), be16(i + 7)
                    mode = _JPEG_SOF_MODES[marker]
                    if precision != 8:
                        mode += f"_p{precision}"
                    gated = marker not in (0xC0, 0xC2) or precision != 8
                    return {"fmt": "jpeg", "width": width, "height": height,
                            "mode": mode, "gated": gated}
                if marker == 0xDA:  # SOS before any SOF: malformed
                    break
                i += 2 + seg_len
            return None
    except (IndexError, ValueError):
        return None
    return None


_PROBE_FIELDS = [
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("mode", T.StringType()),
    T.StructField("gated", T.BooleanType()),
    # audio/video container fields (r9) — None on image rows
    T.StructField("sample_rate", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
]


def media_probe(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-row container metadata for a binary media column — appends
    ``fmt/width/height/mode/gated`` (see :func:`probe_media_header`;
    unrecognized blobs give all-null). Arrow-batched map-only: probing
    reads a fixed-size header per blob, so throughput is I/O bound and
    the plan shape survives any corpus size."""
    return map_rows(df, [content_col], probe_media_header, _PROBE_FIELDS)
