"""Regression tests for the round-9 ADVICE items (all four fixed r10).

Items 1 (an image index's orientation normalization must reach its
probes) and 2 (``hamming_band_pairs`` for any k in [0, 63], with
bit-identical band keys for divisor k) are pinned in
``tests/test_imagehash.py`` beside the rest of the banded-index tests.

3. `probe_pdf` flagged '/Encrypt' ANYWHERE in the first 8 MiB — a
   content stream containing the token false-positived. The search is
   now anchored to trailer / XRef-stream dict windows (_TRAILER_RE,
   previously dead code, now does that job).
4. The JPEG segment walk in `parse_exif` choked on 0xFF fill bytes
   before a marker (allowed by ISO 10918-1 B.1.1.2): the marker byte
   read 0xFF, fell through to a garbage length, and Exif was dropped
   from valid files.
"""

from polars_dataset_spark.functions.exif import parse_exif
from polars_dataset_spark.functions.pdf import probe_pdf
from polars_dataset_spark.suite import _exif_jpeg_fixture, _pdf_fixture


# ---------------------------------------------------------------- A3


def test_pdf_encrypt_in_content_stream_not_flagged():
    pdf = _pdf_fixture(pages=2)
    # splice a stream object whose BODY contains the literal token
    decoy = (
        b"9 0 obj\n<< /Length 64 >>\nstream\n"
        b"BT (/Encrypt is just text painted on the page) Tj ET\n"
        b"endstream\nendobj\n"
    )
    spliced = pdf.replace(b"trailer", decoy + b"trailer")
    assert b"/Encrypt" in spliced
    assert probe_pdf(spliced)["encrypted"] is False


def test_pdf_encrypt_in_trailer_and_xref_dict_flagged():
    assert probe_pdf(_pdf_fixture(encrypted=True))["encrypted"] is True
    # PDF 1.5+ cross-reference STREAM dict carrying /Encrypt
    pdf = _pdf_fixture(pages=2, version="1.5")
    xref = (
        b"8 0 obj\n<< /Type /XRef /Size 9 /W [1 2 1] /Encrypt 9 0 R "
        b">>\nstream\nxx\nendstream\nendobj\n"
    )
    spliced = pdf.replace(b"trailer", xref + b"trailer")
    assert probe_pdf(spliced)["encrypted"] is True


# ---------------------------------------------------------------- A4


def test_exif_ff_fill_bytes_before_marker():
    jpg = _exif_jpeg_fixture(little=True)
    base = parse_exif(jpg)
    assert base is not None and base["make"] == "ACME"
    # ISO 10918-1 B.1.1.2: markers may be preceded by any number of
    # 0xFF fill bytes — pad the APP1 marker with three of them
    padded = jpg[:2] + b"\xff\xff\xff" + jpg[2:]
    assert parse_exif(padded) == base
