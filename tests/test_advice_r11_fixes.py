"""Regression pins for the ADVICE r10 findings fixed in r11:
header/meta-labelled utf-16 without a BOM must keep its first char
(html.py), /Encrypt past a fixed 2 KiB trailer window must be seen
(pdf.py — pinned in test_pdf15.py), and the audio fingerprint must
derive all 64 bits from inside the 200-3200 Hz design band
(audiohash.py)."""

from polars_dataset_spark.functions.html import decode_html, resolve_charset


def test_utf16_label_from_header_without_bom_keeps_first_char():
    # HTTP header says utf-16-le but the body has NO BOM: the first
    # character used to be silently dropped (ADVICE r10)
    body = "hello".encode("utf-16-le")
    assert body[:2] != b"\xff\xfe"  # no BOM ('h' = 0x68 0x00)
    text, charset = decode_html(body, "text/html; charset=utf-16-le")
    assert charset == "utf-16-le"
    assert text == "hello"
    be = "Hi".encode("utf-16-be")
    text_be, cs_be = decode_html(be, "text/html; charset=utf-16-be")
    assert cs_be == "utf-16-be" and text_be == "Hi"


def test_utf16_bom_still_stripped():
    body = b"\xff\xfe" + "hello".encode("utf-16-le")
    assert resolve_charset(body) == "utf-16-le"
    text, _ = decode_html(body)
    assert text == "hello"
    body_be = b"\xfe\xff" + "hello".encode("utf-16-be")
    text_be, _ = decode_html(body_be)
    assert text_be == "hello"
