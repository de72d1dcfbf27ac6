"""Perceptual image hashing (dHash) + Hamming-banded near-dup pairing.

A 100-TB multimodal crawl dedupes images the way it dedupes text: a
cheap per-blob signature computed in one map-only pass, then a banded
candidate join that never goes all-pairs. Text has SimHash
(``functions/dedup.py``); this module is the image analogue:

- :func:`image_dhash` — a 64-bit *difference hash* (row-wise
  brightness-gradient signs over an 8x9 grayscale thumbnail; the classic
  dHash of Krawetz's "Kind of Like That" post, pHash.org family). It is
  invariant to uniform brightness/contrast shifts (monotone per-pixel
  maps preserve every left<right comparison) and to recompression noise
  smaller than the local gradient — exactly the perturbations that
  make byte-level (exact) image dedup miss re-encoded copies.
- :func:`hamming_band_pairs` (re-exported from ``dedup``) — pigeonhole
  banding over ANY 64-bit signature column, shared with SimHash: split
  the signature into ``max_hamming + 1`` chunks; two signatures within
  Hamming distance ``max_hamming`` MUST agree on at least one whole
  chunk, so the band join has recall exactly 1 (not probabilistic) and
  shuffle volume ~ N * chunks, never N^2.
- the corpus index (``build_image_index``, ``image_filter_against``,
  ``append_to_image_index``, ``ImageNeardupIndex``) is the shared
  :class:`dedup.BandedIndex`; it keeps the ``algo`` and
  ``orientation_normalize`` it was built with for its probes.

Decoding reuses the in-repo pure-python codecs (reference capability
envelope: `/root/reference/polars_dataset.py` has no media surface; this
is the driver-mandated multimodal extension). Dispatch is by magic
bytes; blobs that fail to parse (or gated formats: lossy WebP,
arithmetic JPEG) hash to null and are excluded from pairing — the same
inventory-vs-decode split ``media_probe`` draws.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.functions.dedup import (
    BandedIndex,
    append_to_banded_index,
    banded_filter_against,
    banded_neardup_pairs,
)
from polars_dataset_spark.rowmap import map_rows


def _decode_image_auto(data: bytes) -> "np.ndarray | None":
    """Magic-byte dispatch to the in-repo grayscale decoders.

    TGA is deliberately absent: the format has no magic signature, so
    auto-dispatch would misfire on arbitrary blobs — route TGA columns
    through ``decode_media(decoder='tga')`` explicitly instead.
    """
    if len(data) < 8:
        return None
    from polars_dataset_spark.functions.gif import decode_gif_gray
    from polars_dataset_spark.functions.ico import decode_ico_gray
    from polars_dataset_spark.functions.jpeg import decode_jpeg_gray
    from polars_dataset_spark.functions.multimodal import _decode_bmp, _decode_ppm
    from polars_dataset_spark.functions.png import decode_png_gray
    from polars_dataset_spark.functions.qoi import decode_qoi_gray
    from polars_dataset_spark.functions.tiff import decode_tiff_gray
    from polars_dataset_spark.functions.webp import decode_webp_gray

    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_gray(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_gray(data)
    if data[:3] == b"\xff\xd8\xff":
        return decode_jpeg_gray(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return decode_webp_gray(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_gray(data)
    if data[:4] == b"qoif":
        return decode_qoi_gray(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] in (b"P5", b"P6") and data[2:3].isspace():
        return _decode_ppm(data)
    if data[:4] == b"\x00\x00\x01\x00":
        return decode_ico_gray(data)
    return None


def dhash64(gray: "np.ndarray") -> int:
    """64-bit dHash of a 2-D grayscale image (values on any monotone
    scale). Deterministic: nearest-neighbor resample to 8 rows x 9
    columns (``multimodal._thumbnail``), bit = (right pixel > left
    pixel) per adjacent column pair, packed row-major MSB-first.
    Returned as a SIGNED int64 (two's complement) so the value round-
    trips through Spark ``LongType`` exactly."""
    from polars_dataset_spark.functions.multimodal import _thumbnail

    t = _thumbnail(gray, 8, 9).reshape(8, 9)
    bits = (t[:, 1:] > t[:, :-1]).ravel()
    return int(np.packbits(bits).view(">u8")[0].astype(np.int64))


# Exif orientation tag -> the transform that restores display orientation
# (the PIL exif_transpose table; np.rot90 rotates CCW)
_ORIENT_FIX = {
    2: np.fliplr,
    3: lambda g: np.rot90(g, 2),
    4: np.flipud,
    5: lambda g: g.T,
    6: lambda g: np.rot90(g, -1),
    7: lambda g: np.rot90(g.T, 2),
    8: lambda g: np.rot90(g, 1),
}


def normalize_orientation(gray: "np.ndarray", orientation: "int | None") -> "np.ndarray":
    """Apply the Exif orientation fix-up (tags 2-8) to a decoded gray
    array; unknown/absent tags are the identity."""
    fix = _ORIENT_FIX.get(orientation or 1)
    return fix(gray) if fix is not None else gray


_DCT32 = None


def _dct32_matrix() -> "np.ndarray":
    """Orthonormal 32-point DCT-II basis (cached)."""
    global _DCT32
    if _DCT32 is None:
        n = 32
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        m[0] /= np.sqrt(2.0)
        _DCT32 = m
    return _DCT32


def phash64(gray: "np.ndarray") -> int:
    """64-bit pHash: 32x32 thumbnail -> 2-D DCT-II -> top-left 8x8
    low-frequency block -> bit = coefficient > median of the 63 AC
    coefficients (DC participates in the comparison, not the median —
    the classic pHash.org construction). Robust to rescaling and mild
    blur (both live in the high frequencies the hash discards); a
    uniform brightness shift moves only the DC coefficient, so it costs
    at most 1 bit. Signed int64, same convention as :func:`dhash64`."""
    from polars_dataset_spark.functions.multimodal import _thumbnail

    t = _thumbnail(gray, 32, 32).reshape(32, 32).astype(np.float64)
    m = _dct32_matrix()
    # round away matmul float noise (~1e-8): smooth images have many AC
    # coefficients that are mathematically 0, and the median sits inside
    # that noise cloud — unrounded, those bits are coin flips and a pure
    # brightness shift (which mathematically moves ONLY the DC term)
    # would scramble the hash
    coefs = np.round((m @ t @ m.T)[:8, :8].ravel(), 6)
    med = np.median(coefs[1:])
    bits = coefs > med
    return int(np.packbits(bits).view(">u8")[0].astype(np.int64))


_HASH_FNS = {"dhash": dhash64, "phash": phash64}


def _image_hash(
    df: DataFrame,
    content_col: str,
    out_col: str,
    orientation_normalize: bool,
    algo: str,
) -> DataFrame:
    from polars_dataset_spark.session import ensure_parallelism

    if algo not in _HASH_FNS:
        raise ValueError(f"algo must be one of {sorted(_HASH_FNS)}, got {algo!r}")
    hash_fn = _HASH_FNS[algo]
    from polars_dataset_spark.functions.exif import parse_exif

    def image_hash(blob):
        if blob is None:
            return None
        data = bytes(blob)
        img = _decode_image_auto(data)
        if img is None or img.size < 2:
            return None
        if orientation_normalize:
            info = parse_exif(data)
            img = normalize_orientation(img, info.get("orientation") if info else None)
        return (hash_fn(img),)

    return map_rows(
        ensure_parallelism(df), [content_col], image_hash, [T.StructField(out_col, T.LongType())]
    )


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "dhash",
    orientation_normalize: bool = False,
) -> DataFrame:
    """Attach a 64-bit perceptual dHash (nullable long) to every binary
    blob — one map-only Arrow pass, magic-byte codec dispatch, fixed
    (8x9) work per image after decode. Undecodable/gated blobs get
    null.

    ``orientation_normalize=True`` reads the Exif orientation tag
    (JPEG APP1 / bare TIFF — :func:`...exif.parse_exif`, a bounded
    header walk) and un-rotates the decoded pixels before hashing:
    dHash is NOT rotation-invariant, so without this a camera's
    orientation-tagged copy of the same photo never pairs with its
    upright original."""
    return _image_hash(df, content_col, out_col, orientation_normalize, "dhash")


def image_phash(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "phash",
    orientation_normalize: bool = False,
) -> DataFrame:
    """Attach a 64-bit DCT pHash (see :func:`phash64`) — same plumbing
    as :func:`image_dhash`; prefer pHash when copies differ by RESIZE
    or mild blur (frequency-domain signature), dHash when they differ
    by brightness/re-encode (gradient-sign signature)."""
    return _image_hash(df, content_col, out_col, orientation_normalize, "phash")


def image_neardup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    max_hamming: int = 3,
    orientation_normalize: bool = False,
    algo: str = "dhash",
) -> DataFrame:
    """Near-duplicate image pairs: perceptual hash (``algo``: dHash or
    pHash) + pigeonhole Hamming banding, as ``(id_a, id_b, hamming)``
    with ``id_a < id_b`` and ``hamming <= max_hamming`` — recall exactly
    1 for the threshold, shuffle ~ N * chunks rows, never all-pairs
    (:func:`dedup.banded_neardup_pairs`)."""
    return banded_neardup_pairs(
        df,
        _image_hash,
        id_col,
        content_col,
        max_hamming,
        orientation_normalize=orientation_normalize,
        algo=algo,
    )


def build_image_index(
    corpus: DataFrame,
    content_col: str = "content",
    max_hamming: int = 3,
    algo: str = "dhash",
    orientation_normalize: bool = False,
) -> BandedIndex:
    """Hash + band a static image corpus once
    (:meth:`dedup.BandedIndex.build`); probes reuse the same ``algo``
    and orientation normalization."""
    return BandedIndex.build(
        corpus,
        _image_hash,
        content_col,
        max_hamming,
        orientation_normalize=orientation_normalize,
        algo=algo,
    )


ImageNeardupIndex = BandedIndex
image_filter_against = banded_filter_against
append_to_image_index = append_to_banded_index
