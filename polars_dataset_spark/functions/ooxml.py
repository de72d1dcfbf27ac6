"""ZIP container parsing + OOXML (``.docx``) text extraction — the
office-document tail of a real crawl (APPNOTE.TXT ZIP format; ISO/IEC
29500 WordprocessingML), pure stdlib zlib + ElementTree over binary
blobs.

Real crawls are full of ``.docx``/``.pptx``/``.xlsx``; all are ZIP
archives of XML parts. Two layers, mirroring the repo's other container
families (WARC gzip members at ``sources/warc.py``, AV containers at
``functions/containers.py``):

1. **ZIP inventory** (:func:`parse_zip_entries` / :func:`zip_inventory`)
   — the END-of-central-directory record is located from the file TAIL
   (the spec's own lookup path: comment-bounded 64 KiB scan), the
   central directory gives every member's name, method, sizes, CRC and
   local-header offset WITHOUT touching member bytes. This is the
   archive-index access pattern (same reason CDX beats scanning WARCs):
   inventory first, inflate only what you need.
2. **Member read + DOCX text** (:func:`read_zip_entry` /
   :func:`extract_docx_text` / :func:`docx_text`) — stored (method 0)
   and deflate (method 8) members only; the inflate is BOUNDED before
   allocation (``decompressobj(-15).decompress(raw, cap)`` — the same
   zip-bomb guard as functions/sitemap). Text comes from
   ``word/document.xml``: paragraphs are ``w:p`` elements, runs are
   ``w:t`` text (``w:tab`` -> tab, ``w:br``/``w:cr`` -> newline),
   matched by LOCAL tag name so namespace prefix/defaulting variations
   all parse (same tolerance rule as functions/sitemap.py).

Honest gates (None, never a guess): no EOCD / not a ZIP, encrypted
members (general-purpose flag bit 0), compression methods other than
stored/deflate, no ``word/document.xml``, malformed XML. ZIP64 is
gated too (EOCD64 locators are detected and refused rather than
misparsed) — crawl-size docx files never need it.

:func:`build_zip` is the in-repo spec ENCODER (the q230 oracle's
fixture source, like the repo's PNG/WebP/FLAC encoders): correct CRCs,
local headers, central directory and EOCD, stored or deflate.

Spark surface: one map-only Arrow pass each (``mapInPandas``) — no
shuffle, linear in blob bytes at any SF.

Reference envelope: `/root/reference/polars_dataset.py` has no document
surface; this extends the multimodal/text family (VERDICT r11 next #2).
"""

from __future__ import annotations

import zlib
from xml.etree import ElementTree

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

__all__ = [
    "parse_zip_entries",
    "read_zip_entry",
    "extract_docx_text",
    "extract_xlsx_text",
    "extract_pptx_text",
    "extract_epub_text",
    "zip_inventory",
    "docx_text",
    "office_text",
    "build_zip",
]

_EOCD_SIG = b"PK\x05\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"
_MAX_ENTRIES = 10_000
_MAX_MEMBER = 64 << 20  # uncompressed per-member cap (bounded inflate)
_EOCD_TAIL = (64 << 10) + 22  # EOCD + max comment length


def _le(data: bytes, off: int, width: int) -> int:
    return int.from_bytes(data[off : off + width], "little")


def parse_zip_entries(data: bytes) -> "list[dict] | None":
    """Central-directory inventory of a ZIP blob: one dict per member
    with ``name, method, flags, encrypted, crc32, compressed_size,
    uncompressed_size, offset, is_dir``. None when no EOCD record is
    found in the tail window (not a ZIP) or the archive is ZIP64
    (gated). Bounded: at most ``_MAX_ENTRIES`` members, names decoded
    utf-8 when flag bit 11 says so, cp437 otherwise (APPNOTE D.2)."""
    if data is None or len(data) < 22:
        return None
    tail_start = max(0, len(data) - _EOCD_TAIL)
    i = data.rfind(_EOCD_SIG, tail_start)
    if i < 0 or i + 22 > len(data):
        return None
    if data.rfind(_EOCD64_LOC_SIG, max(0, i - 20), i) >= 0:
        return None  # ZIP64: gated, not misparsed
    n_entries = _le(data, i + 10, 2)
    cd_off = _le(data, i + 16, 4)
    if cd_off >= len(data):
        return None
    entries: "list[dict]" = []
    p = cd_off
    for _ in range(min(n_entries, _MAX_ENTRIES)):
        if p + 46 > len(data) or not data.startswith(_CEN_SIG, p):
            break
        flags = _le(data, p + 8, 2)
        nlen = _le(data, p + 28, 2)
        elen = _le(data, p + 30, 2)
        clen = _le(data, p + 32, 2)
        raw_name = data[p + 46 : p + 46 + nlen]
        name = raw_name.decode("utf-8" if flags & 0x800 else "cp437", "replace")
        entries.append(
            {
                "name": name,
                "method": _le(data, p + 10, 2),
                "flags": flags,
                "encrypted": bool(flags & 1),
                "crc32": _le(data, p + 16, 4),
                "compressed_size": _le(data, p + 20, 4),
                "uncompressed_size": _le(data, p + 24, 4),
                "offset": _le(data, p + 42, 4),
                "is_dir": name.endswith("/"),
            }
        )
        p += 46 + nlen + elen + clen
    return entries


def read_zip_entry(data: bytes, entry: dict) -> "bytes | None":
    """Member bytes for one :func:`parse_zip_entries` entry — local
    header walked for the ACTUAL name/extra lengths (they may differ
    from the central directory's), stored or bounded-deflate only.
    None gates: encrypted, other methods, malformed/truncated, CRC
    mismatch (a wrong offset must not hand back garbage bytes)."""
    if entry["encrypted"]:
        return None
    off = entry["offset"]
    if off + 30 > len(data) or not data.startswith(_LOC_SIG, off):
        return None
    nlen = _le(data, off + 26, 2)
    elen = _le(data, off + 28, 2)
    start = off + 30 + nlen + elen
    raw = data[start : start + entry["compressed_size"]]
    if entry["method"] == 0:
        out = raw[:_MAX_MEMBER]
    elif entry["method"] == 8:
        try:
            out = zlib.decompressobj(wbits=-15).decompress(raw, _MAX_MEMBER)
        except zlib.error:
            return None
    else:
        return None  # bzip2/lzma/etc: gated, not guessed
    if len(out) < _MAX_MEMBER and zlib.crc32(out) != entry["crc32"]:
        return None
    return out


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def extract_docx_text(data: bytes) -> "str | None":
    """Plain text of a ``.docx`` blob: ``word/document.xml`` parsed
    with ElementTree (no external entity resolution), paragraphs
    (``w:p``, tables included — their cells are paragraphs too) joined
    by newlines; ``w:t`` runs concatenated, ``w:tab`` -> tab,
    ``w:br``/``w:cr`` -> newline. None at the honest gate: not a ZIP,
    no document part, unreadable member, malformed XML."""
    entries = parse_zip_entries(data)
    if entries is None:
        return None
    target = next(
        (e for e in entries if e["name"] == "word/document.xml"), None
    )
    if target is None:
        return None
    xml = read_zip_entry(data, target)
    if xml is None:
        return None
    try:
        root = ElementTree.fromstring(xml)
    except ElementTree.ParseError:
        return None
    paragraphs: "list[str]" = []
    for el in root.iter():
        if _local(el.tag) != "p":
            continue
        parts: "list[str]" = []
        for sub in el.iter():
            ln = _local(sub.tag)
            if ln == "t":
                if sub.text:
                    parts.append(sub.text)
            elif ln == "tab":
                parts.append("\t")
            elif ln in ("br", "cr"):
                parts.append("\n")
        paragraphs.append("".join(parts))
    return "\n".join(paragraphs)


def _read_part(data: bytes, entries: "list[dict]", name: str) -> "bytes | None":
    e = next((x for x in entries if x["name"] == name), None)
    return read_zip_entry(data, e) if e is not None else None


def _parse_part(data: bytes, entries: "list[dict]", name: str):
    xml = _read_part(data, entries, name)
    if xml is None:
        return None
    try:
        return ElementTree.fromstring(xml)
    except ElementTree.ParseError:
        return None


def extract_xlsx_text(data: bytes) -> "str | None":
    """Cell text of an ``.xlsx`` blob (SpreadsheetML): shared strings
    resolved from ``xl/sharedStrings.xml`` (``si`` items — ``t`` runs
    concatenated, rich-text runs included), then every worksheet part
    (``xl/worksheets/sheet*.xml`` in name order) emits one line per
    row, cells tab-joined: ``t="s"`` cells via the shared-string index,
    ``t="str"``/formula and numeric cells from ``<v>``, ``inlineStr``
    from ``<is><t>``. None at the gate: not a ZIP, no workbook part,
    unreadable/malformed members."""
    entries = parse_zip_entries(data)
    if entries is None or not any(
        e["name"] == "xl/workbook.xml" for e in entries
    ):
        return None
    shared: "list[str]" = []
    root = _parse_part(data, entries, "xl/sharedStrings.xml")
    if root is not None:
        for si in root:
            if _local(si.tag) != "si":
                continue
            shared.append(
                "".join(
                    el.text
                    for el in si.iter()
                    if _local(el.tag) == "t" and el.text
                )
            )
    sheet_names = sorted(
        e["name"]
        for e in entries
        if e["name"].startswith("xl/worksheets/sheet")
        and e["name"].endswith(".xml")
    )
    lines: "list[str]" = []
    for sname in sheet_names:
        sroot = _parse_part(data, entries, sname)
        if sroot is None:
            continue
        for row in sroot.iter():
            if _local(row.tag) != "row":
                continue
            cells: "list[str]" = []
            for c in row:
                if _local(c.tag) != "c":
                    continue
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    cells.append(
                        "".join(
                            el.text
                            for el in c.iter()
                            if _local(el.tag) == "t" and el.text
                        )
                    )
                    continue
                v = next(
                    (el.text for el in c if _local(el.tag) == "v"), None
                )
                if v is None:
                    cells.append("")
                elif ctype == "s":
                    try:
                        cells.append(shared[int(v)])
                    except (ValueError, IndexError):
                        cells.append("")
                else:
                    cells.append(v)
            lines.append("\t".join(cells))
    return "\n".join(lines)


def extract_pptx_text(data: bytes) -> "str | None":
    """Slide text of a ``.pptx`` blob (PresentationML): every
    ``ppt/slides/slide*.xml`` part in name order, paragraphs (``a:p``)
    one per line with their ``a:t`` runs concatenated; slides separated
    by blank lines. None at the gate: not a ZIP, no presentation part,
    unreadable/malformed members."""
    entries = parse_zip_entries(data)
    if entries is None or not any(
        e["name"] == "ppt/presentation.xml" for e in entries
    ):
        return None
    slide_names = sorted(
        e["name"]
        for e in entries
        if e["name"].startswith("ppt/slides/slide")
        and e["name"].endswith(".xml")
    )
    slides: "list[str]" = []
    for sname in slide_names:
        root = _parse_part(data, entries, sname)
        if root is None:
            continue
        paras: "list[str]" = []
        for p in root.iter():
            if _local(p.tag) != "p" or not p.tag.startswith("{"):
                # PresentationML paragraphs are DrawingML a:p — require
                # a namespaced tag so stray <p> in embedded HTML-ish
                # parts can't masquerade
                continue
            paras.append(
                "".join(
                    el.text
                    for el in p.iter()
                    if _local(el.tag) == "t" and el.text
                )
            )
        slides.append("\n".join(paras))
    return "\n\n".join(slides)


def extract_epub_text(data: bytes) -> "str | None":
    """Chapter text of an ``.epub`` blob (EPUB OCF + OPF, IDPF/W3C
    specs): ``META-INF/container.xml`` names the OPF package file, the
    OPF's ``<manifest>`` maps ids to hrefs and its ``<spine>`` gives
    reading ORDER; each XHTML chapter part is run through the repo's
    existing HTML extractor (``functions/html.extract_text`` — decode
    ladder + block extraction, boilerplate pruning OFF since book
    chapters are all content). Chapters joined by blank lines. None at
    the gate: not a ZIP, no container/OPF, no readable chapters."""
    from polars_dataset_spark.functions.html import decode_html, extract_text

    entries = parse_zip_entries(data)
    if entries is None:
        return None
    container = _parse_part(data, entries, "META-INF/container.xml")
    if container is None:
        return None
    opf_path = next(
        (
            el.get("full-path")
            for el in container.iter()
            if _local(el.tag) == "rootfile" and el.get("full-path")
        ),
        None,
    )
    if opf_path is None:
        return None
    opf = _parse_part(data, entries, opf_path)
    if opf is None:
        return None
    opf_dir = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    hrefs: "dict[str, str]" = {}
    for el in opf.iter():
        if _local(el.tag) == "item" and el.get("id") and el.get("href"):
            mt = el.get("media-type", "")
            if "html" in mt or el.get("href", "").endswith((".xhtml", ".html")):
                hrefs[el.get("id")] = el.get("href")
    order = [
        el.get("idref")
        for el in opf.iter()
        if _local(el.tag) == "itemref" and el.get("idref")
    ]
    chapters: "list[str]" = []
    for idref in order:
        href = hrefs.get(idref)
        if href is None:
            continue
        raw = _read_part(data, entries, opf_dir + href)
        if raw is None:
            continue
        html, _charset = decode_html(raw)
        text = extract_text(html, drop_boilerplate=False)["text"]
        if text:
            chapters.append(text)
    if not chapters:
        return None
    return "\n\n".join(chapters)


_OFFICE_KINDS = (
    ("word/document.xml", "docx", extract_docx_text),
    ("xl/workbook.xml", "xlsx", extract_xlsx_text),
    ("ppt/presentation.xml", "pptx", extract_pptx_text),
    ("META-INF/container.xml", "epub", extract_epub_text),
)


def _office_kind_and_text(blob: bytes) -> "tuple[str | None, str | None]":
    entries = parse_zip_entries(blob)
    if entries is None:
        return None, None
    names = {e["name"] for e in entries}
    for marker, kind, fn in _OFFICE_KINDS:
        if marker in names:
            return kind, fn(blob)
    return "zip", None  # a ZIP, but not an OOXML document


_ZIP_FIELDS = [
    T.StructField("entry_idx", T.IntegerType()),
    T.StructField("entry_name", T.StringType()),
    T.StructField("method", T.IntegerType()),
    T.StructField("uncompressed_size", T.LongType()),
    T.StructField("encrypted", T.BooleanType()),
    T.StructField("is_dir", T.BooleanType()),
]


def zip_inventory(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Explode each ZIP blob into per-member inventory rows (central
    directory only — member bytes untouched, the cheap index pass).
    Non-ZIP blobs contribute ONE all-null row so a router can count
    them (the q205 gate rule). One map-only Arrow pass, no shuffle."""
    from polars_dataset_spark.session import ensure_parallelism

    def members(blob):
        entries = parse_zip_entries(bytes(blob)) if blob is not None else None
        if entries is None:
            return [None]
        return [
            (idx, e["name"], e["method"], e["uncompressed_size"], e["encrypted"], e["is_dir"])
            for idx, e in enumerate(entries)
        ]

    return map_rows(
        ensure_parallelism(df), [content_col], members, _ZIP_FIELDS,
        explode=True, drop=[content_col],
    )


def docx_text(
    df: DataFrame, content_col: str = "content", out_col: str = "doc_text"
) -> DataFrame:
    """Attach the extracted ``.docx`` text (None at the gate) — one
    map-only Arrow pass, linear in blob bytes."""
    from polars_dataset_spark.session import ensure_parallelism

    return map_rows(
        ensure_parallelism(df),
        [content_col],
        lambda b: (extract_docx_text(bytes(b)) if b is not None else None,),
        [T.StructField(out_col, T.StringType())],
    )


def office_text(
    df: DataFrame,
    content_col: str = "content",
    kind_col: str = "doc_kind",
    out_col: str = "doc_text",
) -> DataFrame:
    """Route each ZIP blob by its OOXML marker part and extract text:
    ``doc_kind`` in (docx, xlsx, pptx, zip — a ZIP but no OOXML
    marker, NULL — not a ZIP) and ``doc_text`` (NULL at every gate).
    One map-only Arrow pass; the router reads only the central
    directory, the extractor inflates only the text-bearing parts."""
    from polars_dataset_spark.session import ensure_parallelism

    return map_rows(
        ensure_parallelism(df),
        [content_col],
        lambda b: _office_kind_and_text(bytes(b)) if b is not None else None,
        [T.StructField(kind_col, T.StringType()), T.StructField(out_col, T.StringType())],
    )


def build_zip(
    members: "list[tuple[str, bytes]]",
    method: int = 8,
    encrypted_names: "set[str] | None" = None,
) -> bytes:
    """Spec encoder (APPNOTE 4.3): local headers + central directory +
    EOCD, stored (0) or deflate (8), correct CRC-32s. The q230 oracle's
    fixture source. ``encrypted_names`` sets flag bit 0 on those
    members (headers only — enough to exercise the reader's gate)."""
    encrypted_names = encrypted_names or set()
    out = bytearray()
    central = bytearray()
    for name, payload in members:
        raw_name = name.encode("utf-8")
        flags = 0x800 | (1 if name in encrypted_names else 0)
        crc = zlib.crc32(payload)
        if method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            comp = co.compress(payload) + co.flush()
        else:
            comp = payload
        offset = len(out)
        fixed = (
            flags.to_bytes(2, "little")
            + method.to_bytes(2, "little")
            + b"\x00\x00\x00\x00"  # dos time/date
            + crc.to_bytes(4, "little")
            + len(comp).to_bytes(4, "little")
            + len(payload).to_bytes(4, "little")
            + len(raw_name).to_bytes(2, "little")
            + b"\x00\x00"  # extra len
        )
        out += _LOC_SIG + b"\x14\x00" + fixed + raw_name + comp
        central += (
            _CEN_SIG + b"\x14\x00\x14\x00" + fixed
            + b"\x00\x00"  # comment len
            + b"\x00\x00"  # disk start
            + b"\x00\x00"  # internal attrs
            + b"\x00\x00\x00\x00"  # external attrs
            + offset.to_bytes(4, "little")
            + raw_name
        )
    cd_off = len(out)
    out += central
    n = len(members).to_bytes(2, "little")
    out += (
        _EOCD_SIG + b"\x00\x00\x00\x00" + n + n
        + len(central).to_bytes(4, "little")
        + cd_off.to_bytes(4, "little")
        + b"\x00\x00"  # comment len
    )
    return bytes(out)
