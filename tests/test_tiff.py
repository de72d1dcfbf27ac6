"""Baseline TIFF decoder (functions/tiff.py): round-trips across the
compression/predictor/byte-order/strip grid via the in-container fixture
encoder, the TIFF-LZW width discipline pinned against a hand-packed code
stream (independent of the encoder), malformed inputs, and the Spark
end-to-end path through decode_media."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions.tiff import (
    _lzw_decode,
    _lzw_encode,
    _packbits_decode,
    _packbits_encode,
    decode_tiff_gray,
    encode_tiff_gray,
    encode_tiff_rgb,
)


def _img(h=13, w=17):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 7 + xx * 13) % 256) / 255.0


@pytest.mark.parametrize("comp", ["none", "packbits", "lzw"])
@pytest.mark.parametrize("pred", [1, 2])
@pytest.mark.parametrize("bo", ["<", ">"])
def test_gray_roundtrip_grid(comp, pred, bo):
    img = _img()
    for rps in (None, 4):
        for photo in (1, 0):
            back = decode_tiff_gray(encode_tiff_gray(img, comp, pred, bo, rps, photo))
            assert back is not None and back.shape == img.shape
            assert np.allclose(back, np.round(img * 255) / 255, atol=1e-6)


@pytest.mark.parametrize("comp", ["none", "packbits", "lzw"])
def test_rgb_channel_mean(comp):
    img = _img()
    rgb = np.stack([img, np.roll(img, 3, axis=1), 1 - img], axis=2)
    back = decode_tiff_gray(encode_tiff_rgb(rgb, comp, predictor=2))
    want = (np.round(rgb * 255) / 255).mean(axis=2)
    assert np.allclose(back, want, atol=1e-6)


def test_lzw_width_discipline_hand_packed():
    # pixels [7,7,7,7] -> codes Clear,7,258,7,EOI at 9 bits MSB-first,
    # packed INDEPENDENTLY of the encoder: pins bit order + code layout
    codes, acc, n, out = [256, 7, 258, 7, 257], 0, 0, bytearray()
    for c in codes:
        acc, n = (acc << 9) | c, n + 9
        while n >= 8:
            out.append((acc >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        out.append((acc << (8 - n)) & 0xFF)
    assert bytes(_lzw_decode(bytes(out), 4)) == bytes([7, 7, 7, 7])


def test_lzw_roundtrip_through_all_widths_and_reset():
    # 60k random bytes force 9->10->11->12-bit codes AND the table-full
    # Clear/reset path; the decoder's early width change (its next free
    # code at 2^w - 1, one entry behind the encoder's 2^w) is
    # load-bearing here
    rng = np.random.RandomState(0)
    data = bytes(rng.randint(0, 256, size=60000, dtype=np.uint8).tolist())
    assert bytes(_lzw_decode(_lzw_encode(data), len(data))) == data
    comp = b"abcabcabd" * 3000  # compressible: long dictionary strings
    assert bytes(_lzw_decode(_lzw_encode(comp), len(comp))) == comp


def test_packbits_roundtrips():
    for d in [b"", b"a", b"aaaaab", bytes(range(256)), b"x" * 300, b"abccccdd"]:
        assert bytes(_packbits_decode(_packbits_encode(d), len(d))) == d


def test_malformed_returns_none():
    img = _img()
    good = encode_tiff_gray(img)
    for bad in [
        None,
        b"",
        b"XX",
        b"II\x2a\x00",
        good[:40],               # truncated mid-IFD
        good[:-20],              # truncated strip data
        b"II" + b"\x00" * 20,    # wrong magic
    ]:
        assert decode_tiff_gray(bad) is None


def test_decode_media_tiff_end_to_end(spark):
    from polars_dataset_spark.functions import decode_media

    img = _img(16, 16)
    blob = encode_tiff_gray(img, "lzw", predictor=2)
    df = spark.createDataFrame(
        [(0, bytearray(blob)), (1, bytearray(b"not a tiff"))],
        "media_id long, content binary",
    )
    out = {r.media_id: r.decoded for r in decode_media(df, decoder="tiff", target_size=(16, 16)).collect()}
    got = np.asarray(out[0], dtype=np.float64).reshape(16, 16)
    assert np.allclose(got, np.round(img * 255) / 255, atol=1e-3)  # float32 channel
    assert out[1] is None  # malformed -> null, never raise


def test_lzw_flush_at_width_boundary():
    # regression: a stream whose table reaches 2^w - 1 with the final
    # code made the decoder's add widen BEFORE reading EOI while the
    # encoder emitted it at the old width — the whole strip decoded to
    # None. The exhaustive 1..1200 sweep covers every flush position
    # around the 511/1023 boundaries.
    assert bytes(_lzw_decode(_lzw_encode(bytes(range(253))), 253)) == bytes(range(253))
    import numpy as np

    img = np.arange(253).reshape(11, 23) / 255.0
    back = decode_tiff_gray(encode_tiff_gray(img, compression="lzw"))
    assert back is not None and np.allclose(back, np.round(img * 255) / 255, atol=1e-6)
    for n in range(1, 1200):
        d = bytes(i % 256 for i in range(n))
        assert bytes(_lzw_decode(_lzw_encode(d), n)) == d, n


def test_lzw_reads_the_pdf_spec_encoder(monkeypatch):
    # TIFF-LZW is PDF LZWDecode with EarlyChange=1: strips written by an
    # independent spec encoder (the PDF tests' own) decode, across the
    # 9->10 width change that 300+ random bytes reach
    from polars_dataset_spark.functions import tiff
    from test_pdf_lzw import lzw_encode

    rng = np.random.RandomState(1)
    for n in (300, 700):
        data = bytes(rng.randint(0, 256, size=n, dtype=np.uint8).tolist())
        assert bytes(_lzw_decode(lzw_encode(data, 1), n)) == data, n
        # short of the table-full reset, both encoders write the same bytes
        assert _lzw_encode(data) == lzw_encode(data, 1), n
    monkeypatch.setattr(tiff, "_lzw_encode", lambda d: lzw_encode(d, 1))
    img = rng.randint(0, 256, size=(24, 25)) / 255.0
    back = decode_tiff_gray(encode_tiff_gray(img, "lzw", rows_per_strip=12))
    assert back is not None and np.allclose(back, np.round(img * 255) / 255, atol=1e-6)
