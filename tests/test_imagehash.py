"""Perceptual image hashing (functions/imagehash) + the generalized
Hamming banding (dedup.hamming_band_pairs). Properties pinned:

- dHash invariances the operator exists for: uniform brightness shift,
  lossless re-encode across formats (PNG/GIF/TIFF/QOI/WebP-lossless).
- pigeonhole recall: banding finds EVERY pair within the threshold
  (verified against brute force on random signatures).
- null/junk blobs hash to null and never pair.
"""

import numpy as np
import pytest

from polars_dataset_spark.functions.imagehash import (
    _decode_image_auto,
    dhash64,
    image_dhash,
    image_neardup_pairs,
)


def _base(h=24, w=32):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((xx * 5 + yy * 13 + (xx * yy) % 7) % 256) / 255.0


def _ham(a, b):
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_dhash_brightness_invariant():
    img = _base()
    shifted = np.clip(img + 2 / 255.0, 0.0, 1.0)
    assert dhash64(img) == dhash64(shifted)


def test_dhash_cross_format_identical():
    from polars_dataset_spark.functions.gif import encode_gif_gray
    from polars_dataset_spark.functions.png import encode_png_gray
    from polars_dataset_spark.functions.qoi import encode_qoi
    from polars_dataset_spark.functions.tiff import encode_tiff_gray
    from polars_dataset_spark.functions.webp import encode_webp_lossless

    img = _base()
    rgb = np.stack([img] * 3, axis=-1)
    blobs = [
        encode_png_gray(img),
        encode_gif_gray(img),
        encode_tiff_gray(img),
        encode_qoi(rgb),  # float [0, 1] convention
        encode_webp_lossless(np.round(rgb * 255.0).astype(np.uint8)),
    ]
    hashes = []
    for blob in blobs:
        gray = _decode_image_auto(bytes(blob))
        assert gray is not None
        hashes.append(dhash64(gray))
    # same pixels, five containers -> identical or near-identical hash
    # (QOI/WebP go through an RGB->luma round-trip; allow <=2 bits)
    for h in hashes[1:]:
        assert _ham(hashes[0], h) <= 2, hashes


def test_dhash_distinct_images_far():
    yy, xx = np.mgrid[0:24, 0:32]
    checker = ((xx + yy) % 2).astype(np.float64)
    assert _ham(dhash64(_base()), dhash64(checker)) > 16


def test_decode_auto_junk_and_tiny():
    assert _decode_image_auto(b"junk, definitely not an image") is None
    assert _decode_image_auto(b"") is None
    assert _decode_image_auto(b"\x89PNG\r\n\x1a\n") is None  # truncated


def test_dhash_signed_int64_roundtrip():
    # all-ones hash must come back as -1 (two's complement), not 2^64-1
    ramp = np.tile(np.arange(9, dtype=np.float64) / 8.0, (8, 1))
    assert dhash64(ramp) == -1


def test_hamming_band_pairs_recall_exact(spark):
    """Brute-force parity on random 64-bit signatures: banding must find
    EXACTLY the pairs with hamming <= k (pigeonhole recall is 1, and the
    verify step kills false candidates)."""
    from polars_dataset_spark.functions.dedup import hamming_band_pairs

    rng = np.random.default_rng(7)
    sigs = [int(s) for s in rng.integers(-(1 << 63), 1 << 63, size=40, dtype=np.int64)]

    def xor64(a: int, mask: int) -> int:
        v = (a ^ mask) & 0xFFFFFFFFFFFFFFFF
        return v - (1 << 64) if v >= 1 << 63 else v

    # plant near pairs: a copy, a 1-bit flip, a 3-bit flip, a 4-bit flip
    sigs[1] = sigs[0]
    sigs[2] = xor64(sigs[0], 1 << 17)
    sigs[3] = xor64(sigs[0], (1 << 3) | (1 << 40) | (1 << 63))
    sigs[4] = xor64(sigs[0], (1 << 3) | (1 << 22) | (1 << 40) | (1 << 63))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, sig long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(df, "id", "sig", max_hamming=3).collect()
    }
    want = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            d = _ham(int(sigs[i]), int(sigs[j]))
            if d <= 3:
                want.add((i, j, d))
    assert got == want
    assert (0, 1, 0) in want and (0, 2, 1) in want and (0, 3, 3) in want
    assert not any(p[:2] == (0, 4) for p in want)  # 4 bits: out of reach


def _resize_nn(img, h, w):
    H, W = img.shape
    ys = np.minimum((np.arange(h) * H) // h, H - 1)
    xs = np.minimum((np.arange(w) * W) // w, W - 1)
    return img[np.ix_(ys, xs)]


def test_phash_resize_and_brightness_invariant():
    """pHash lives in the low-frequency DCT block: a resized or
    uniformly brightened copy hashes identically, while an unrelated
    image is far — the copy class dHash is weakest on."""
    from polars_dataset_spark.functions.imagehash import phash64

    yy, xx = np.mgrid[0:48, 0:64]
    base = ((np.sin(xx / 9.0) + np.cos(yy / 7.0)) * 60 + 100) / 255.0
    h = phash64(base)
    assert phash64(_resize_nn(base, 96, 128)) == h   # 2x upscale
    assert phash64(_resize_nn(base, 24, 32)) == h    # 0.5x downscale
    assert phash64(base + 5 / 255.0) == h            # brightness shift
    other = ((xx * 7 + yy * 13) % 256) / 255.0
    assert _ham(h, phash64(other)) > 16


def test_phash_smooth_image_stable():
    """Smooth images have mathematically-zero AC coefficients; the
    matmul noise there must not flip bits (the round-to-6dp guard):
    hashing the same pixels twice through different-but-equal arrays
    is identical."""
    from polars_dataset_spark.functions.imagehash import phash64

    yy, xx = np.mgrid[0:40, 0:40]
    img = (xx + yy) / 80.0
    assert phash64(img.copy()) == phash64(np.ascontiguousarray(img[:, :]))
    # a constant image must hash deterministically too (all ties)
    assert phash64(np.full((24, 24), 0.5)) == phash64(np.full((48, 48), 0.5))


def test_image_neardup_pairs_phash_algo(spark):
    from polars_dataset_spark.functions.png import encode_png_gray

    yy, xx = np.mgrid[0:48, 0:64]
    base = ((np.sin(xx / 9.0) + np.cos(yy / 7.0)) * 60 + 100) / 255.0
    rows = [
        (0, bytearray(encode_png_gray(base))),
        (1, bytearray(encode_png_gray(_resize_nn(base, 96, 128)))),  # 2x copy
        (2, bytearray(encode_png_gray(((xx * 7 + yy * 13) % 256) / 255.0))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = image_neardup_pairs(df, id_col="media_id", algo="phash").collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(0, 1, 0)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        image_neardup_pairs(df, algo="md5")


def _orientation_app1(orientation: int) -> bytes:
    """Minimal JPEG APP1: an Exif TIFF with only the orientation tag."""
    import struct

    e = "<"
    ifd0 = (
        struct.pack(e + "H", 1)
        + struct.pack(e + "HHI", 0x0112, 3, 1)
        + struct.pack(e + "HH", orientation, 0)
        + struct.pack(e + "I", 0)
    )
    tiff = b"II*\x00" + struct.pack(e + "I", 8) + ifd0
    app1 = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1


def test_orientation_normalized_dhash_pairs_rotated_copy(spark):
    """A camera stores pixels rotated 90° CW and tags orientation=8
    (display: rotate 90° CCW). Raw dHash is NOT rotation-invariant —
    only the normalized hash pairs the copy with its upright original."""
    from polars_dataset_spark.functions.jpeg import encode_jpeg_gray

    img = _base()
    jpg_up = encode_jpeg_gray(img)
    jpg_rot = encode_jpeg_gray(np.rot90(img, -1).copy())
    spliced = jpg_rot[:2] + _orientation_app1(8) + jpg_rot[2:]

    g_up = _decode_image_auto(bytes(jpg_up))
    g_rot = _decode_image_auto(bytes(spliced))
    from polars_dataset_spark.functions.imagehash import normalize_orientation

    assert _ham(dhash64(g_up), dhash64(g_rot)) > 16  # raw: far apart
    assert _ham(dhash64(g_up), dhash64(normalize_orientation(g_rot, 8))) <= 3

    df = spark.createDataFrame(
        [(0, bytearray(jpg_up)), (1, bytearray(spliced))],
        "media_id long, content binary",
    )
    assert image_neardup_pairs(df, id_col="media_id").count() == 0
    pairs = image_neardup_pairs(
        df, id_col="media_id", orientation_normalize=True
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 1)]


def test_normalize_orientation_all_tags_invertible():
    """Each fix-up composed with the camera transform it undoes is the
    identity (tags 2-8; numpy conventions are easy to get backwards)."""
    from polars_dataset_spark.functions.imagehash import normalize_orientation

    img = _base()
    stored = {
        1: img,
        2: np.fliplr(img),          # mirrored
        3: np.rot90(img, 2),        # upside down
        4: np.flipud(img),
        5: img.T,
        6: np.rot90(img, 1),        # stored = display rotated 90 CCW -> tag 6
        7: np.rot90(img.T, 2),
        8: np.rot90(img, -1),       # stored = display rotated 90 CW -> tag 8
    }
    for tag, s in stored.items():
        assert np.array_equal(normalize_orientation(s, tag), img), tag
    assert np.array_equal(normalize_orientation(img, None), img)
    assert np.array_equal(normalize_orientation(img, 9), img)  # unknown


def test_hamming_band_pairs_bad_k():
    # non-divisor k is legal since r10 (remainder folds into the last
    # chunk); only out-of-range k raises
    from polars_dataset_spark.functions.dedup import hamming_band_pairs

    with pytest.raises(ValueError):
        hamming_band_pairs(None, "id", "sig", max_hamming=-1)
    with pytest.raises(ValueError):
        hamming_band_pairs(None, "id", "sig", max_hamming=64)


def test_image_dhash_and_pairs_end_to_end(spark):
    from polars_dataset_spark.functions.png import encode_png_gray

    img = _base()
    pert = img.copy()
    pert[6, 10] = 1.0
    rows = [
        (0, bytearray(encode_png_gray(img))),
        (1, bytearray(encode_png_gray(pert))),
        (2, bytearray(b"junk")),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    hashed = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert hashed[0] is not None and hashed[1] is not None
    assert hashed[2] is None and hashed[3] is None
    pairs = image_neardup_pairs(df, id_col="media_id", max_hamming=3).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(0, 1, 1)]


def test_image_index_filter_against(spark):
    """Static-corpus image dedup: an arriving batch is filtered against
    a prebuilt signature index — copies (even re-encoded/brightened)
    drop, novel images and undecodable blobs are KEPT."""
    from polars_dataset_spark.functions.gif import encode_gif_gray
    from polars_dataset_spark.functions.imagehash import (
        build_image_index,
        image_filter_against,
    )
    from polars_dataset_spark.functions.png import encode_png_gray

    yy, xx = np.mgrid[0:24, 0:32]
    a = _base()
    b = ((xx * 7 + yy * 13) % 256) / 255.0
    corpus = spark.createDataFrame(
        [(0, bytearray(encode_png_gray(a))), (1, bytearray(encode_png_gray(b)))],
        "media_id long, content binary",
    )
    idx = build_image_index(corpus)
    novel = ((xx + yy) % 2).astype(np.float64)
    batch = spark.createDataFrame(
        [
            (10, bytearray(encode_gif_gray(np.clip(a + 2 / 255.0, 0, 1)))),  # re-encoded+brightened copy of a
            (11, bytearray(encode_png_gray(novel))),
            (12, bytearray(b"junk blob")),
        ],
        "media_id long, content binary",
    )
    kept = sorted(r.media_id for r in image_filter_against(batch, idx).collect())
    assert kept == [11, 12]
    idx.unpersist()


def test_hamming_band_pairs_nondivisor_k_recall_exact(spark):
    """Brute-force parity at k=2 and k=4 (3 and 5 chunks — neither
    divides 64): banding must still find EXACTLY the pairs within k."""
    from polars_dataset_spark.functions.dedup import hamming_band_pairs

    rng = np.random.default_rng(11)
    sigs = [int(s) for s in rng.integers(-(1 << 63), 1 << 63, size=32, dtype=np.int64)]

    def xor64(a: int, mask: int) -> int:
        v = (a ^ mask) & 0xFFFFFFFFFFFFFFFF
        return v - (1 << 64) if v >= 1 << 63 else v

    # plant pairs whose differing bits live in the HIGH remainder bits
    # the old floor-width banding left uncovered (bits 60..63 for k=2)
    sigs[1] = sigs[0]
    sigs[2] = xor64(sigs[0], (1 << 62) | (1 << 63))
    sigs[3] = xor64(sigs[0], (1 << 0) | (1 << 61) | (1 << 63))
    sigs[5] = xor64(sigs[4], (1 << 60) | (1 << 61) | (1 << 62) | (1 << 63))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, sig long"
    )
    for k in (2, 4):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_band_pairs(df, "id", "sig", max_hamming=k).collect()
        }
        want = {
            (i, j, _ham(sigs[i], sigs[j]))
            for i in range(len(sigs))
            for j in range(i + 1, len(sigs))
            if _ham(sigs[i], sigs[j]) <= k
        }
        assert got == want, k
    assert (0, 2, 2) in want or _ham(sigs[0], sigs[2]) <= 4  # planted pair reached


def test_band_keys_bit_identical_for_divisor_k(spark):
    """For k+1 | 64 the fold-remainder rewrite must produce the SAME
    (chunk, key) rows as the historical fixed-width formula — persisted
    banded image indexes were built with the old keys."""
    from pyspark.sql import functions as F

    from polars_dataset_spark.functions.dedup import band_key_structs

    sigs = [0, -1, 123456789012345, -987654321987654321, 1 << 62]
    df = spark.createDataFrame([(s,) for s in sigs], "sig long")
    # k=0 excluded: the OLD formula's mask (1<<64)-1 overflows a long —
    # the rewrite (no mask on the last chunk) is what makes k=0 legal
    for k in (1, 3, 7):
        chunks, width = k + 1, 64 // (k + 1)
        old = [
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("sig"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for c in range(chunks)
        ]
        rows = df.select(
            "sig",
            F.array(*band_key_structs("sig", k)).alias("new"),
            F.array(*old).alias("old"),
        ).collect()
        for r in rows:
            assert r.new == r.old, (k, r.sig)


def test_image_index_orientation_flag_respected(spark):
    """Index built with orientation_normalize=True must normalize its
    PROBES too: a rotated+Exif-tagged re-encode of a corpus image is a
    duplicate and must drop."""
    from polars_dataset_spark.functions.imagehash import (
        build_image_index,
        image_filter_against,
    )
    from polars_dataset_spark.functions.jpeg import encode_jpeg_gray

    img = _base()
    jpg_up = encode_jpeg_gray(img)
    jpg_rot = encode_jpeg_gray(np.rot90(img, -1).copy())
    spliced = jpg_rot[:2] + _orientation_app1(8) + jpg_rot[2:]

    corpus = spark.createDataFrame(
        [(0, bytearray(jpg_up))], "media_id long, content binary"
    )
    yy, xx = np.mgrid[0:24, 0:32]
    novel = ((xx + yy) % 2).astype(np.float64)
    batch = spark.createDataFrame(
        [
            (10, bytearray(spliced)),  # rotated duplicate of corpus img
            (11, bytearray(encode_jpeg_gray(novel))),
        ],
        "media_id long, content binary",
    )

    idx_raw = build_image_index(corpus, orientation_normalize=False)
    assert idx_raw.fingerprint_kwargs["orientation_normalize"] is False
    kept_raw = sorted(
        r.media_id for r in image_filter_against(batch, idx_raw).collect()
    )
    idx_raw.unpersist()
    assert kept_raw == [10, 11]  # raw dHash can't see through rotation

    idx_norm = build_image_index(corpus, orientation_normalize=True)
    assert idx_norm.fingerprint_kwargs["orientation_normalize"] is True
    kept_norm = sorted(
        r.media_id for r in image_filter_against(batch, idx_norm).collect()
    )
    idx_norm.unpersist()
    assert kept_norm == [11]  # normalized probe catches the rotation
