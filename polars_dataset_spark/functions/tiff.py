"""Pure-python baseline TIFF decoder (TIFF 6.0) — no Pillow.

Implements the public TIFF 6.0 specification (Adobe, 1992) for the
baseline raster cases a corpus actually contains: both byte orders
(``II``/``MM``), IFD walking with inline/offset values, strip
organization (``RowsPerStrip``), 8-bit grayscale (both
``PhotometricInterpretation`` polarities) and 8-bit chunky RGB,
``Compression`` 1 (none), 32773 (PackBits) and 5 (TIFF-LZW — MSB-first
bit order, 9→12-bit codes with the spec's EARLY code-width change: the
width bumps when the decoder's next free code reaches ``2^w − 1``, one
code earlier than GIF's variant; the decoder is shared with PDF's
``LZWDecode``), plus ``Predictor`` 2 (per-channel
horizontal differencing, applied after decompression).

Returns float32 grayscale ``(H, W)`` in [0, 1] (RGB → channel mean;
WhiteIsZero inverted) — the same contract as the PNG/JPEG/GIF/WebP
decoders feeding :mod:`polars_dataset_spark.functions.multimodal`.
Unsupported or malformed blobs return ``None``, never raise.

A minimal in-container *encoder* produces real fixtures (uncompressed /
PackBits / genuine dictionary-building LZW, either byte order, strip
splits, both predictors), so round-trips exercise every decoder path;
the LZW bit/width discipline is additionally pinned against a
hand-packed code stream in the tests, independent of the encoder.
"""

from __future__ import annotations

import struct

import numpy as np

from polars_dataset_spark.functions.png import _MAX_PIXELS

__all__ = ["decode_tiff_gray", "encode_tiff_gray", "encode_tiff_rgb"]

_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 5: 8}


def _read_ifd_values(buf: bytes, bo: str, typ: int, count: int, field: bytes):
    """Entry values: inline when they fit in the 4-byte field (left-
    justified per spec — i.e. stored exactly as they would be at an
    offset), else at the u32 offset the field holds."""
    size = _TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * count
    if total <= 4:
        raw = field[:total]
    else:
        (off,) = struct.unpack(bo + "I", field)
        if off + total > len(buf):
            return None
        raw = buf[off : off + total]
    if typ == 1:
        return list(raw)
    if typ == 3:
        return list(struct.unpack(bo + "H" * count, raw))
    if typ == 4:
        return list(struct.unpack(bo + "I" * count, raw))
    if typ == 5:
        vals = struct.unpack(bo + "II" * count, raw)
        return [vals[i] / max(vals[i + 1], 1) for i in range(0, 2 * count, 2)]
    return None


def _lzw_decode(data: bytes, max_out: int = 8 << 20, early_change: int = 1) -> "bytes | None":
    """TIFF-LZW (spec §13), which PDF's ``LZWDecode`` (ISO 32000
    §7.4.4.2) reuses: MSB-first bits, Clear=256, EOI=257, first
    dictionary code 258, width 9→12, growing when the next free code
    reaches ``2^w − early_change`` (1 for TIFF and PDF's default
    ``EarlyChange``, as libtiff and pdf.js decode). Stops once the output
    passes ``max_out`` (default: PDF's per-stream cap) and returns it as
    is: PDF truncates it, TIFF rejects a strip that runs long. A missing
    EOI is tolerated (real files omit it); a malformed code returns None."""
    out = bytearray()
    table: "list[bytes]" = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: "bytes | None" = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = acc >> nbits
            acc &= (1 << nbits) - 1  # keep only the unread bits: linear time
            if code == 256:  # Clear
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOI
                return bytes(out)
            if prev is None:
                if code > 255:
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            if len(out) > max_out:
                return bytes(out)
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> "bytearray | None":
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        h = data[i]
        i += 1
        if h < 128:  # 0..127: copy h+1 literals
            if i + h + 1 > n:
                return None
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:  # 129..255 = -127..-1: repeat next byte 257-h times
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # h == 128: noop
        if len(out) > max_out:
            return None
    return out


def decode_tiff_gray(blob: bytes) -> "np.ndarray | None":
    try:
        if blob is None or len(blob) < 8:
            return None
        if blob[:2] == b"II":
            bo = "<"
        elif blob[:2] == b"MM":
            bo = ">"
        else:
            return None
        magic, ifd_off = struct.unpack(bo + "HI", blob[2:8])
        if magic != 42 or ifd_off + 2 > len(blob):
            return None
        (n_entries,) = struct.unpack(bo + "H", blob[ifd_off : ifd_off + 2])
        tags: dict[int, list] = {}
        base = ifd_off + 2
        if base + 12 * n_entries > len(blob):
            return None
        for i in range(n_entries):
            e = blob[base + 12 * i : base + 12 * i + 12]
            tag, typ, count = struct.unpack(bo + "HHI", e[:8])
            vals = _read_ifd_values(blob, bo, typ, count, e[8:12])
            if vals is not None:
                tags[tag] = vals

        width = tags.get(256, [0])[0]
        height = tags.get(257, [0])[0]
        if not (0 < width and 0 < height) or width * height > _MAX_PIXELS:
            return None
        spp = tags.get(277, [1])[0]
        bits = tags.get(258, [8] * spp)
        if spp not in (1, 3) or any(b != 8 for b in bits) or len(bits) != spp:
            return None
        photometric = tags.get(262, [1])[0]
        if (spp == 1 and photometric not in (0, 1)) or (spp == 3 and photometric != 2):
            return None
        if tags.get(284, [1])[0] != 1:  # chunky only
            return None
        compression = tags.get(259, [1])[0]
        predictor = tags.get(317, [1])[0]
        if predictor not in (1, 2):
            return None
        rows_per_strip = tags.get(278, [height])[0]
        rows_per_strip = max(1, min(rows_per_strip, height))
        offsets = tags.get(273)
        counts = tags.get(279)
        n_strips = -(-height // rows_per_strip)
        if not offsets or not counts or len(offsets) < n_strips or len(counts) < n_strips:
            return None

        row_bytes = width * spp
        raster = bytearray()
        for s in range(n_strips):
            rows_here = min(rows_per_strip, height - s * rows_per_strip)
            expect = rows_here * row_bytes
            off, cnt = offsets[s], counts[s]
            if off + cnt > len(blob):
                return None
            raw = blob[off : off + cnt]
            if compression == 1:
                strip = bytearray(raw)
            elif compression == 32773:
                strip = _packbits_decode(raw, expect)
            elif compression == 5:
                strip = _lzw_decode(raw, expect)
                if strip is not None and len(strip) > expect:
                    return None  # a strip that runs long is corrupt
            else:
                return None
            if strip is None or len(strip) < expect:
                return None
            raster += strip[:expect]

        arr = np.frombuffer(bytes(raster), dtype=np.uint8).reshape(height, width, spp)
        if predictor == 2:
            # horizontal differencing is per row, per CHANNEL
            arr = np.cumsum(arr.astype(np.uint32), axis=1).astype(np.uint8)
        img = arr.astype(np.float32) / 255.0
        img = img.mean(axis=2) if spp == 3 else img[:, :, 0]
        if spp == 1 and photometric == 0:  # WhiteIsZero
            img = 1.0 - img
        return img
    except Exception:
        return None


# ---------------------------------------------------------------- encoder

def _lzw_encode(data: bytes) -> bytes:
    """Real dictionary-building TIFF-LZW encoder, libtiff's discipline:
    the width grows when the encoder's next free code reaches ``2^w``
    (the decoder's table lags one entry, so it widens at ``2^w − 1``),
    and Clear is re-emitted when the next free code reaches 4094."""
    out = bytearray()
    acc = nacc = 0
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    width = 9
    nxt = 258

    def emit(code: int) -> None:  # MSB-first packing
        nonlocal acc, nacc
        acc, nacc = (acc << width) | code, nacc + width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1

    emit(256)  # leading Clear per spec
    omega = b""
    for b in bytes(data):
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        emit(table[omega])
        table[cand] = nxt
        nxt += 1
        if nxt == (1 << width) and width < 12:
            width += 1
        elif nxt == 4094:  # table full: reset
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            width = 9
            nxt = 258
        omega = bytes([b])
    if omega:
        emit(table[omega])
        # the DECODER adds a table entry for this final code too (it
        # can't know no more data follows), so when that entry reaches a
        # 2^w − 1 boundary it widens before reading EOI; mirror the add
        # and the width check here (libtiff bumps free_ent before EOI for
        # precisely this reason) or EOI is emitted one bit short
        nxt += 1
        if nxt == (1 << width) and width < 12:
            width += 1
    emit(257)  # EOI
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit0 = i
        i += 1
        while (
            i < n
            and i - lit0 < 128
            and not (i + 1 < n and data[i + 1] == data[i])
        ):
            i += 1
        out += bytes([i - lit0 - 1]) + data[lit0:i]
    return bytes(out)


def _encode(
    arr: np.ndarray,
    spp: int,
    compression: str,
    predictor: int,
    byte_order: str,
    rows_per_strip: int | None,
    photometric: int,
) -> bytes:
    bo = byte_order
    h, w = arr.shape[:2]
    arr = arr.reshape(h, w, spp)
    if predictor == 2:
        d = arr.astype(np.int16)
        d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
        arr = (d % 256).astype(np.uint8)
    rps = rows_per_strip or h
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    strips = []
    for r0 in range(0, h, rps):
        raw = arr[r0 : r0 + rps].tobytes()
        if compression == "packbits":
            raw = _packbits_encode(raw)
        elif compression == "lzw":
            raw = _lzw_encode(raw)
        strips.append(raw)

    def entry(tag: int, typ: int, count: int, vals: "list[int]", extra: bytearray, data_start: int) -> bytes:
        size = _TYPE_SIZE[typ] * count
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(bo + fmt * count, *vals)
        if size <= 4:
            field = packed.ljust(4, b"\x00")
        else:
            field = struct.pack(bo + "I", data_start + len(extra))
            extra += packed
        return struct.pack(bo + "HHI", tag, typ, count) + field

    n_strips = len(strips)
    # layout: header(8) | IFD | extra values | strip data
    tag_list = [
        (256, 4, 1, [w]),
        (257, 4, 1, [h]),
        (258, 3, spp, [8] * spp),
        (259, 3, 1, [comp_code]),
        (262, 3, 1, [photometric]),
        (273, 4, n_strips, None),  # patched below
        (277, 3, 1, [spp]),
        (278, 4, 1, [rps]),
        (279, 4, n_strips, [len(s) for s in strips]),
        (284, 3, 1, [1]),
        (317, 3, 1, [predictor]),
    ]
    ifd_size = 2 + 12 * len(tag_list) + 4
    data_start = 8 + ifd_size
    # two passes: sizes of extra depend only on counts, so compute layout
    extra_size = sum(
        _TYPE_SIZE[typ] * count
        for _, typ, count, _ in tag_list
        if _TYPE_SIZE[typ] * count > 4
    )
    strip_start = data_start + extra_size
    strip_offsets = []
    pos = strip_start
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    extra = bytearray()
    entries = b""
    for tag, typ, count, vals in tag_list:
        if tag == 273:
            vals = strip_offsets
        entries += entry(tag, typ, count, vals, extra, data_start)
    header = (b"II" if bo == "<" else b"MM") + struct.pack(bo + "HI", 42, 8)
    ifd = struct.pack(bo + "H", len(tag_list)) + entries + struct.pack(bo + "I", 0)
    return header + ifd + bytes(extra) + b"".join(strips)


def encode_tiff_gray(
    img: np.ndarray,
    compression: str = "none",
    predictor: int = 1,
    byte_order: str = "<",
    rows_per_strip: int | None = None,
    photometric: int = 1,
) -> bytes:
    """Encode a float [0,1] (H, W) image as 8-bit grayscale TIFF."""
    arr = np.clip(np.round(np.asarray(img, dtype=np.float64) * 255), 0, 255).astype(
        np.uint8
    )
    if photometric == 0:
        arr = 255 - arr
    return _encode(arr, 1, compression, predictor, byte_order, rows_per_strip, photometric)


def encode_tiff_rgb(
    img: np.ndarray,
    compression: str = "none",
    predictor: int = 1,
    byte_order: str = "<",
    rows_per_strip: int | None = None,
) -> bytes:
    """Encode a float [0,1] (H, W, 3) image as 8-bit chunky RGB TIFF."""
    arr = np.clip(np.round(np.asarray(img, dtype=np.float64) * 255), 0, 255).astype(
        np.uint8
    )
    return _encode(arr, 3, compression, predictor, byte_order, rows_per_strip, 2)
