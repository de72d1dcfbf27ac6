"""EXIF metadata extraction — pure header arithmetic, no codec stack.

Crawled JPEG/TIFF photos carry an Exif block (a little TIFF file inside
JPEG's APP1 segment) with the fields a curation pipeline actually wants:
camera make/model (device-level dedup keys, spam-farm detection),
orientation (normalize before perceptual hashing — a rotated copy flips
every dHash gradient), capture timestamp (temporal splits, freshness
filters), and GPS coordinates (geo-dedup, privacy scrubbing — Exif GPS
is PII and redaction pipelines must FIND it before they can strip it).

Everything here is bounded byte arithmetic from the public specs (JPEG
ISO/IEC 10918-1 segment markers; TIFF 6.0 IFD layout; Exif 2.3 tag
ids) — the same inventory-not-decode contract as ``media_probe``: fixed
bytes read per blob, one map-only Arrow pass, no entropy decode.

Reference envelope: `/root/reference/polars_dataset.py` has no media
surface; this extends the driver-mandated multimodal columns.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

# IFD entry value types -> byte width (TIFF 6.0 §2)
_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

_MAX_ENTRIES = 512  # sanity bound: real IFDs have dozens of entries


def _read_ifd(data: bytes, off: int, end: str) -> "dict[int, tuple[int, int, bytes]] | None":
    """One IFD as {tag: (type, count, value_bytes)} — value bytes resolved
    through the offset indirection when the payload exceeds 4 bytes."""
    if off + 2 > len(data):
        return None
    (n,) = struct.unpack_from(end + "H", data, off)
    if n > _MAX_ENTRIES or off + 2 + 12 * n > len(data):
        return None
    out: "dict[int, tuple[int, int, bytes]]" = {}
    for i in range(n):
        base = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(end + "HHI", data, base)
        size = _TYPE_SIZES.get(typ, 0) * cnt
        if size == 0 or cnt > 1 << 20:
            continue
        if size <= 4:
            val = data[base + 8 : base + 8 + size]
        else:
            (voff,) = struct.unpack_from(end + "I", data, base + 8)
            if voff + size > len(data):
                continue
            val = data[voff : voff + size]
        out[tag] = (typ, cnt, val)
    return out


def _ascii(entry: "tuple[int, int, bytes] | None") -> "str | None":
    if entry is None or entry[0] != 2:
        return None
    s = entry[2].split(b"\x00", 1)[0]
    try:
        return s.decode("ascii").strip() or None
    except UnicodeDecodeError:
        return None


def _short(entry: "tuple[int, int, bytes] | None", end: str) -> "int | None":
    if entry is None or entry[0] not in (3, 4) or len(entry[2]) < _TYPE_SIZES[entry[0]]:
        return None
    fmt = "H" if entry[0] == 3 else "I"
    return struct.unpack_from(end + fmt, entry[2])[0]


def _dms(entry: "tuple[int, int, bytes] | None", end: str) -> "float | None":
    """Three RATIONALs (deg, min, sec) -> decimal degrees."""
    if entry is None or entry[0] != 5 or entry[1] < 3 or len(entry[2]) < 24:
        return None
    vals = []
    for i in range(3):
        num, den = struct.unpack_from(end + "II", entry[2], 8 * i)
        vals.append(num / den if den else 0.0)
    return vals[0] + vals[1] / 60.0 + vals[2] / 3600.0


def parse_exif(data: bytes) -> "dict | None":
    """Extract the curation-relevant Exif fields from a JPEG or bare-TIFF
    blob. Returns ``None`` when no Exif block is present; otherwise a
    dict with keys ``make, model, orientation, datetime_original,
    gps_lat, gps_lon`` (absent fields are None). ``datetime_original``
    prefers Exif-IFD DateTimeOriginal (0x9003), falling back to IFD0
    DateTime (0x0132). GPS is signed decimal degrees (S/W negative)."""
    tiff: "bytes | None" = None
    if data[:3] == b"\xff\xd8\xff":
        # JPEG: walk segments until APP1/Exif, SOS, or a bad marker
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                return None
            if data[pos + 1] == 0xFF:
                # ISO 10918-1 B.1.1.2: any run of 0xFF fill bytes may
                # precede a marker — consume one and re-test (ADVICE r9)
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker == 0xDA:  # SOS: entropy data follows, no Exif ahead
                return None
            (seglen,) = struct.unpack_from(">H", data, pos + 2)
            if seglen < 2 or pos + 2 + seglen > len(data):
                return None
            if marker == 0xE1 and data[pos + 4 : pos + 10] == b"Exif\x00\x00":
                tiff = data[pos + 10 : pos + 2 + seglen]
                break
            pos += 2 + seglen
        if tiff is None:
            return None
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        tiff = data
    else:
        return None

    if len(tiff) < 8:
        return None
    end = "<" if tiff[:2] == b"II" else ">"
    if struct.unpack_from(end + "H", tiff, 2)[0] != 42:
        return None
    (ifd0_off,) = struct.unpack_from(end + "I", tiff, 4)
    ifd0 = _read_ifd(tiff, ifd0_off, end)
    if ifd0 is None:
        return None

    out = {
        "make": _ascii(ifd0.get(0x010F)),
        "model": _ascii(ifd0.get(0x0110)),
        "orientation": _short(ifd0.get(0x0112), end),
        "datetime_original": None,
        "gps_lat": None,
        "gps_lon": None,
    }
    exif_off = _short(ifd0.get(0x8769), end)
    if exif_off is not None:
        exif_ifd = _read_ifd(tiff, exif_off, end) or {}
        out["datetime_original"] = _ascii(exif_ifd.get(0x9003))
    if out["datetime_original"] is None:
        out["datetime_original"] = _ascii(ifd0.get(0x0132))
    gps_off = _short(ifd0.get(0x8825), end)
    if gps_off is not None:
        gps = _read_ifd(tiff, gps_off, end) or {}
        lat, lon = _dms(gps.get(2), end), _dms(gps.get(4), end)
        lat_ref, lon_ref = _ascii(gps.get(1)), _ascii(gps.get(3))
        if lat is not None:
            out["gps_lat"] = -lat if lat_ref == "S" else lat
        if lon is not None:
            out["gps_lon"] = -lon if lon_ref == "W" else lon
    return out


_EXIF_FIELDS = [
    T.StructField("make", T.StringType()),
    T.StructField("model", T.StringType()),
    T.StructField("orientation", T.IntegerType()),
    T.StructField("datetime_original", T.StringType()),
    T.StructField("gps_lat", T.DoubleType()),
    T.StructField("gps_lon", T.DoubleType()),
]


def exif_probe(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Attach Exif columns (``make, model, orientation,
    datetime_original, gps_lat, gps_lon``) to every binary blob — one
    map-only Arrow pass, fixed bytes read per blob (header walk only,
    no entropy decode). Blobs without Exif get all-null fields."""
    from polars_dataset_spark.session import ensure_parallelism

    return map_rows(
        ensure_parallelism(df),
        [content_col],
        lambda blob: parse_exif(bytes(blob)) if blob is not None else None,
        _EXIF_FIELDS,
    )
