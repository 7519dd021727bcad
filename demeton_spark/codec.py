"""Binary codecs: 16-bit grayscale PNG, RGBA8 PNG, HGT, XTH, gray16 TIFF,
and :func:`decode_block`, the one reader of the image table's block
formats.

Parity with the reference is at the **decoded-pixel** level (SURVEY.md
§2.1 S4/S5): we use zlib + numpy instead of re-implementing Demeton's
from-scratch PNG pipeline, but the height↔uint16 mapping, HGT row
order/overlap and XTH bit packing are bit-exact.

Reference semantics (file:line in /root/reference):
  - height↔uint16 (+offset, 0=missing): Demeton/Srtm/Png.fs:14-39
  - PNG container (sig/IHDR/IDAT/IEND):  Demeton/Png/File.fs:19-53,
                                         Demeton/Png/Chunks.fs:21-213
  - scanline filters (we emit Up for height PNGs, None for RGBA, and
    decode all 5):                       Demeton/Png/Filters.fs:36-120
  - HGT big-endian, north-first rows, 1-px overlap skip:
                                         Demeton/Dem/Hgt.fs:14-129
  - XTH little-endian + water-bit packing: Demeton/Dem/Xth.fs:19-200
  - AW3D GeoTIFF strips, south-up rows:  Demeton/Aw3d/Funcs.fs:180-261
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .tiles import DEM_HEIGHT_NONE

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_HEIGHT_OFFSET = 32768  # uint16 = int16 height + 32768; 0 encodes missing


# ---------------------------------------------------------------------------
# height <-> uint16 (Srtm/Png.fs:29-39)
# ---------------------------------------------------------------------------

def heights_to_uint16(heights: np.ndarray) -> np.ndarray:
    """int16 (sentinel) → uint16; DEM_HEIGHT_NONE (-32768) maps to 0."""
    return (heights.astype(np.int32) + _HEIGHT_OFFSET).astype(np.uint16)


def uint16_to_heights(values: np.ndarray) -> np.ndarray:
    """uint16 → int16 heights; 0 maps back to DEM_HEIGHT_NONE."""
    return (values.astype(np.int32) - _HEIGHT_OFFSET).astype(np.int16)


# ---------------------------------------------------------------------------
# minimal PNG container
# ---------------------------------------------------------------------------

def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png(w: int, h: int, bit_depth: int, color_type: int,
         scanlines: np.ndarray, level: int) -> bytes:
    """The PNG container around ``scanlines``: every row already led by
    its filter byte, compressed as one deflate stream (one IDAT)."""
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, level))
        + _chunk(b"IEND", b"")
    )


def _encode_png16(values: np.ndarray) -> bytes:
    """Encode a (H, W) uint16 array as a 16-bit grayscale PNG with the
    Up filter, deflate level 6.

    Up filtering before deflate is what makes smooth terrain compress
    well (the reference picks filters by min-sum-of-abs heuristic,
    Filters.fs:113-120; Up wins on smooth gradients).
    """
    h, w = values.shape
    body = values.astype(">u2").view(np.uint8).reshape(h, 2 * w)
    scan = np.empty((h, 2 * w + 1), dtype=np.uint8)
    scan[:, 0] = 2  # Up filter
    scan[0, 1:] = body[0]
    np.subtract(body[1:], body[:-1], out=scan[1:, 1:])  # uint8 wraps mod 256
    return _png(w, h, 16, 0, scan, 6)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    pa = np.abs(b.astype(np.int16) - c)
    pb = np.abs(a.astype(np.int16) - c)
    pc = np.abs(a.astype(np.int16) + b - 2 * c.astype(np.int16))
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _decode_png(data: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a non-interlaced 8/16-bit gray or RGBA PNG.

    Returns (array, bit_depth, color_type); array is (H, W) for gray,
    (H, W, 4) for RGBA.  Handles all 5 scanline filters (Unfilters.fs).
    """
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG stream")
    pos = 8
    width = height = bit_depth = color_type = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    channels = {0: 1, 2: 3, 6: 4}[color_type]
    bytes_per_sample = bit_depth // 8
    bpp = channels * bytes_per_sample
    bpr = width * bpp
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8).reshape(
        height, bpr + 1
    )
    filters = raw[:, 0]
    out = np.empty((height, bpr), dtype=np.uint8)
    # Fast paths for uniform-filter streams (our own encoders emit Up for
    # heights, None for RGBA): unfiltering Up is a column-wise cumulative
    # sum mod 256, which uint8 accumulate gives for free — no per-row
    # Python loop.
    if (filters == 2).all():
        out = np.add.accumulate(raw[:, 1:], axis=0, dtype=np.uint8)
    elif (filters == 0).all():
        out = raw[:, 1:].copy()
    else:
        out = _unfilter_rows(raw, filters, height, bpr, bpp)
    if bit_depth == 16:
        arr = out.reshape(height, width, channels, 2)
        arr = (arr[..., 0].astype(np.uint16) << 8) | arr[..., 1]
    else:
        arr = out.reshape(height, width, channels)
    if channels == 1:
        arr = arr[..., 0] if arr.ndim == 3 else arr.reshape(height, width)
    return arr, bit_depth, color_type


def _unfilter_rows(
    raw: np.ndarray, filters: np.ndarray, height: int, bpr: int, bpp: int
) -> np.ndarray:
    """General per-row unfilter (all 5 PNG filters, Unfilters.fs parity)."""
    out = np.empty((height, bpr), dtype=np.uint8)
    prev = np.zeros(bpr, dtype=np.uint8)
    for y in range(height):
        row = raw[y, 1:].copy()
        f = filters[y]
        if f == 0:
            cur = row
        elif f == 1:  # Sub
            cur = row
            for x in range(bpp, bpr):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (row + prev).astype(np.uint8)
        elif f == 3:  # Average
            cur = row
            for x in range(bpr):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = row
            for x in range(bpr):
                left = cur[x - bpp] if x >= bpp else np.uint8(0)
                ul = prev[x - bpp] if x >= bpp else np.uint8(0)
                cur[x] = (
                    int(cur[x])
                    + int(_paeth(np.uint8(left), prev[x], np.uint8(ul)))
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur
        prev = cur
    return out


# ---------------------------------------------------------------------------
# public codecs
# ---------------------------------------------------------------------------

def encode_heights_png(heights: np.ndarray) -> bytes:
    """int16 heights block (row 0 = south) → 16-bit grayscale PNG bytes
    (encodeSrtmHeightsArrayToPng, Srtm/Png.fs:53-70)."""
    return _encode_png16(heights_to_uint16(heights))


def decode_heights_png(data: bytes) -> np.ndarray:
    """16-bit grayscale PNG bytes → int16 heights block (Srtm/Png.fs:128-182)."""
    arr, bit_depth, color_type = _decode_png(data)
    if bit_depth != 16 or color_type != 0:
        raise ValueError(
            f"expected 16-bit grayscale PNG, got depth={bit_depth} color={color_type}"
        )
    return uint16_to_heights(arr)


#: default deflate level for rendered output tiles: 6, matching the
#: reference's zlib DEFAULT_COMPRESSION (Png/Chunks.fs:106) so persisted
#: artifacts have the reference's storage characteristics.  Deflate
#: dominates a tile's render at level 6: engine.render_tile on one
#: 1800² elecolor|+igor tile takes ~170 ms at level 6 against ~105 ms at
#: level 1 on a 4-vCPU x86 host; throughput-bound paths (bench.py) pass
#: png_level=1 explicitly (tiles ~1.9x the size: 1,247 vs 671 KB).
RGBA_PNG_LEVEL = 6
RGBA_PNG_LEVEL_FAST = 1


def rgba_scanlines(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """A PNG scanline buffer for an (h, w) RGBA8 image, every row led by
    filter byte 0 (None), and the (h, w, 4) view of its pixels: fill the
    view, then :func:`encode_rgba_scanlines` compresses the buffer as is.
    On shaded tiles None is smaller than Up for most scripts (igor alone
    is ~7% larger at level 6) and needs no filter pass."""
    scan = np.empty((h, 4 * w + 1), dtype=np.uint8)
    scan[:, 0] = 0
    return scan, scan[:, 1:].reshape(h, w, 4)


def encode_rgba_scanlines(scan: np.ndarray, level: int) -> bytes:
    """PNG bytes of a filled :func:`rgba_scanlines` buffer."""
    h, n = scan.shape
    return _png((n - 1) // 4, h, 8, 6, scan, level)


def encode_rgba_png(image: np.ndarray, level: int = RGBA_PNG_LEVEL) -> bytes:
    """(H, W, 4) uint8 RGBA → PNG bytes (decoded-pixel lossless)."""
    scan, pixels = rgba_scanlines(*image.shape[:2])
    pixels[...] = image
    return encode_rgba_scanlines(scan, level)


def decode_rgba_png(data: bytes) -> np.ndarray:
    arr, bit_depth, color_type = _decode_png(data)
    if bit_depth != 8 or color_type != 6:
        raise ValueError("expected 8-bit RGBA PNG")
    return arr


def decode_hgt(data: bytes, tile_size: int) -> np.ndarray:
    """HGT bytes → int16 block, row 0 = **south** (DEM orientation).

    HGT files are north-first with a 1-row/col overlap with neighbors:
    (tile_size+1)² big-endian int16 samples.  The reader skips the first
    (northmost) row and the last (eastmost) column and reverses row order
    (Dem/Hgt.fs:30-74); 0x8000 → missing sentinel (Dem/Funcs.fs:311-316).
    """
    side = tile_size + 1
    raw = np.frombuffer(data, dtype=">i2")
    if raw.size == side * side:
        grid = raw.reshape(side, side).astype(np.int16)
        # drop the north overlap row + east overlap col, flip to south-up
        block = grid[1:, :-1][::-1, :].copy()
    elif raw.size == tile_size * tile_size:
        # bare grid as produced by the reference writer (Hgt.fs:95-107)
        block = raw.reshape(tile_size, tile_size).astype(np.int16)[::-1, :].copy()
    else:
        raise ValueError(
            f"HGT payload must be {side}x{side} or {tile_size}x{tile_size} samples"
        )
    block[block == np.int16(-0x8000)] = DEM_HEIGHT_NONE  # 0x8000 == sentinel
    return block


def encode_hgt(heights: np.ndarray) -> bytes:
    """HGT writer parity (Dem/Hgt.fs:95-107): north-first rows (reverse of
    the south-up block), big-endian int16, **no** overlap row/col."""
    return heights[::-1, :].astype(">i2").tobytes()


# --- XTH: little-endian int16 with the water-body flag in the MSB ---------

_XTH_MIN_HEIGHT = -500  # heights offset into the low 15 bits (Dem/Xth.fs)


def encode_xth(heights: np.ndarray, water_mask: np.ndarray) -> bytes:
    """Pack heights + water flags (Dem/Xth.fs:19-200 semantics).

    value = (height - MIN_HEIGHT) | (water << 15), little-endian int16;
    missing heights encode as 0 (below any valid offset height).
    """
    offs = heights.astype(np.int32) - _XTH_MIN_HEIGHT
    offs = np.where(heights == DEM_HEIGHT_NONE, 0, offs)
    packed = (offs | (water_mask.astype(np.int32) << 15)).astype(np.uint16)
    return packed.astype("<u2").tobytes()


def decode_xth(data: bytes, width: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_xth` → (heights int16, water bool)."""
    packed = np.frombuffer(data, dtype="<u2").reshape(-1, width)
    water = (packed >> 15).astype(bool)
    offs = (packed & 0x7FFF).astype(np.int32)
    heights = np.where(
        offs == 0, DEM_HEIGHT_NONE, offs + _XTH_MIN_HEIGHT
    ).astype(np.int16)
    return heights, water


# --- minimal TIFF gray16 (AW3D GeoTIFF ingest, no external libs) ----------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    273: "strip_offsets", 278: "rows_per_strip", 279: "strip_counts",
    277: "samples_per_pixel", 317: "predictor", 339: "sample_format",
}

#: TIFF compression codes we read: none, LZW, Adobe deflate, legacy
#: deflate, PackBits
_TIFF_COMPRESSION_NONE = 1
_TIFF_COMPRESSION_LZW = 5
_TIFF_COMPRESSION_DEFLATE = 8
_TIFF_COMPRESSION_DEFLATE_OLD = 32946
_TIFF_COMPRESSION_PACKBITS = 32773

_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 9→12-bit
    codes with EARLY CHANGE (width bumps when the table reaches
    2^width − 1, one code earlier than vanilla LZW), ClearCode 256,
    EOI 257."""
    bits = int.from_bytes(data, "big")
    total = len(data) * 8
    pos = 0
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None
    out = bytearray()
    while pos + width <= total:
        code = (bits >> (total - pos - width)) & ((1 << width) - 1)
        pos += width
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if prev is None:
            if not table or code >= len(table):
                raise ValueError("LZW stream must start with ClearCode")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        # early change, shifted one further because the decoder's table
        # lags the encoder's by exactly one entry: the encoder bumps
        # after ADDING code 2^w-2 (its next_code hits 2^w-1), which is
        # the moment this table holds 2^w-2 entries
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """Inverse of :func:`_lzw_decode` (same early-change variant)."""
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(256)}

    width = 9
    emit(_LZW_CLEAR, width)
    table = fresh()
    next_code = 258
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        w = bytes([b])
        if next_code >= 4094:  # table full: restart (TIFF 6.0 §13)
            emit(table[w], width)
            emit(_LZW_CLEAR, width)
            table = fresh()
            next_code = 258
            width = 9
            w = b""
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (TIFF 6.0 §9, the Macintosh RLE scheme): control
    byte n in [0,127] copies the next n+1 literal bytes, n in
    [-127,-1] (two's complement) repeats the next byte 1−n times,
    −128 is a no-op."""
    out = bytearray()
    i, end = 0, len(data)
    while i < end:
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n >= 0:
            if i + n + 1 > end:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n != -128:
            if i >= end:
                raise ValueError("truncated PackBits repeat run")
            out += data[i : i + 1] * (1 - n)
            i += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Inverse of :func:`_packbits_decode`.  Standard packer: runs of
    ≥3 identical bytes become repeat packets (max 128), everything
    else literal packets (max 128); a 2-byte run breaking a literal
    stretch is folded into the literal, per the TIFF 6.0 §9 advice."""
    out = bytearray()
    i, end = 0, len(data)
    while i < end:
        # measure the run starting at i
        j = i + 1
        while j < end and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3 or (j - i == 2 and j == end):
            out.append((257 - (j - i)) & 0xFF)
            out.append(data[i])
            i = j
            continue
        # literal stretch: scan until a run of >=3 begins (or 128 cap)
        lit = i
        while j < end and j - lit < 128:
            if (
                j + 2 < end
                and data[j] == data[j + 1] == data[j + 2]
            ):
                break
            j += 1
        out.append(j - lit - 1)
        out += data[lit:j]
        i = j
    return bytes(out)


def decode_tiff_gray16(
    data: bytes, duplicate_to_width: int | None = None
) -> np.ndarray:
    """Strip-based single-sample int16 TIFF → south-up array.

    Pure-numpy reimplementation of the AW3D reader's semantics
    (/root/reference/Demeton/Aw3d/Funcs.fs:180-261): scanlines are
    north-first in the file and land in reverse row order; half-width
    (high-latitude) tiles duplicate each column when
    ``duplicate_to_width`` is given.  Both endiannesses supported.
    Compression: none (1), LZW strips (5, the common wild-TIFF scheme;
    TIFF 6.0 early-change variant), deflate strips (8 / legacy 32946,
    the scheme real AW3D/GDAL tiles ship with), and PackBits strips
    (32773, the TIFF 6.0 baseline RLE) — each with optional
    horizontal-differencing predictor 2 (per-row 16-bit sample deltas,
    undone by a wrapping cumulative sum).  Other schemes are rejected.
    """
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    u16 = lambda off: int(np.frombuffer(data, f"{bo}u2", 1, off)[0])  # noqa: E731
    u32 = lambda off: int(np.frombuffer(data, f"{bo}u4", 1, off)[0])  # noqa: E731
    if u16(2) != 42:
        raise ValueError("not a TIFF: bad magic")
    ifd = u32(4)
    n_entries = u16(ifd)
    tags: dict[str, list[int]] = {}
    for i in range(n_entries):
        e = ifd + 2 + i * 12
        tag, typ, count = u16(e), u16(e + 2), u32(e + 4)
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        if size * count <= 4:
            off = e + 8
        else:
            off = u32(e + 8)
        rd = {1: "u1", 3: "u2", 4: "u4"}[typ]
        vals = np.frombuffer(data, f"{bo}{rd}", count, off).tolist()
        if tag in _TIFF_TAGS:
            tags[_TIFF_TAGS[tag]] = [int(v) for v in vals]
    w, h = tags["width"][0], tags["height"][0]
    compression = tags.get("compression", [_TIFF_COMPRESSION_NONE])[0]
    if compression not in (
        _TIFF_COMPRESSION_NONE,
        _TIFF_COMPRESSION_LZW,
        _TIFF_COMPRESSION_DEFLATE,
        _TIFF_COMPRESSION_DEFLATE_OLD,
        _TIFF_COMPRESSION_PACKBITS,
    ):
        raise ValueError(f"unsupported TIFF compression {compression}")
    if tags.get("bits", [16])[0] != 16 or tags.get("samples_per_pixel", [1])[0] != 1:
        raise ValueError("expected single-sample 16-bit TIFF")
    predictor = tags.get("predictor", [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    signed = tags.get("sample_format", [2])[0] == 2
    dt = f"{bo}i2" if signed else f"{bo}u2"
    rows_per_strip = tags.get("rows_per_strip", [h])[0]
    strip_counts = tags.get("strip_counts", [len(data)] * len(tags["strip_offsets"]))
    rows = []
    for si, off in enumerate(tags["strip_offsets"]):
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        if compression == _TIFF_COMPRESSION_NONE:
            strip = np.frombuffer(data, dt, n_rows * w, off)
        elif compression == _TIFF_COMPRESSION_LZW:
            raw = _lzw_decode(data[off : off + strip_counts[si]])
            strip = np.frombuffer(raw, dt, n_rows * w)
        elif compression == _TIFF_COMPRESSION_PACKBITS:
            raw = _packbits_decode(data[off : off + strip_counts[si]])
            strip = np.frombuffer(raw, dt, n_rows * w)
        else:
            raw = zlib.decompress(data[off : off + strip_counts[si]])
            strip = np.frombuffer(raw, dt, n_rows * w)
        strip = strip.reshape(n_rows, w)
        if predictor == 2:
            # horizontal differencing over 16-bit samples: undo with a
            # wrapping per-row cumulative sum
            acc = np.cumsum(
                strip.astype(np.int64), axis=1, dtype=np.int64
            ) & 0xFFFF
            strip = acc.astype(np.uint16).view(np.int16) if signed else acc
        rows.append(strip)
    north_up = np.concatenate(rows).astype(np.int16)
    south_up = north_up[::-1, :]  # reverse row order (Funcs.fs:219-222)
    if duplicate_to_width is not None and w != duplicate_to_width:
        if duplicate_to_width != 2 * w:
            raise ValueError("can only duplicate half-width tiles")
        south_up = np.repeat(south_up, 2, axis=1)  # column doubling (:242-245)
    return south_up


def encode_tiff_gray16(
    heights_south_up: np.ndarray,
    compression: int = _TIFF_COMPRESSION_NONE,
    predictor: int = 1,
) -> bytes:
    """Minimal little-endian int16 TIFF (one strip), rows north-first —
    the inverse of :func:`decode_tiff_gray16` for tests and sinks.
    ``compression`` 1 (none), 5 (LZW), 8 (deflate) or 32773
    (PackBits); ``predictor`` 2
    applies per-row horizontal differencing before compression (the
    layout GDAL writes for AW3D-style tiles)."""
    north_up = np.ascontiguousarray(heights_south_up[::-1, :]).astype("<i2")
    h, w = north_up.shape
    payload_arr = north_up
    if predictor == 2:
        u = north_up.view("<u2").astype(np.int64)
        diff = np.empty_like(u)
        diff[:, 0] = u[:, 0]
        diff[:, 1:] = (u[:, 1:] - u[:, :-1]) & 0xFFFF
        payload_arr = diff.astype("<u2")
    elif predictor != 1:
        raise ValueError(f"unsupported predictor {predictor}")
    payload = payload_arr.tobytes()
    if compression in (_TIFF_COMPRESSION_DEFLATE, _TIFF_COMPRESSION_DEFLATE_OLD):
        payload = zlib.compress(payload, 6)
    elif compression == _TIFF_COMPRESSION_LZW:
        payload = _lzw_encode(payload)
    elif compression == _TIFF_COMPRESSION_PACKBITS:
        payload = _packbits_encode(payload)
    elif compression != _TIFF_COMPRESSION_NONE:
        raise ValueError(f"unsupported compression {compression}")
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16),
        (259, 3, 1, compression),
        (273, 4, 1, 0), (277, 3, 1, 1), (278, 3, 1, h),
        (279, 4, 1, len(payload)), (317, 3, 1, predictor), (339, 3, 1, 2),
    ]
    ifd_off = 8
    data_off = ifd_off + 2 + len(entries) * 12 + 4
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 273:
            value = data_off
        out += struct.pack("<HHI", tag, typ, count)
        out += struct.pack("<I", value) if typ == 4 else struct.pack(
            "<HH", value, 0
        )
    out += struct.pack("<I", 0)  # next IFD
    out += payload
    return bytes(out)


# --- image-table block formats --------------------------------------------

def decode_block(fmt: str, payload: bytes, width: int) -> np.ndarray:
    """One image-table payload → its int16 block, row 0 = south.

    ``png16``, ``hgt`` and ``tiff`` are the reference's three DEM
    encodings (Srtm/Png.fs:29-70, Dem/Hgt.fs:14-92, Aw3d/Funcs.fs:
    180-261); ``raw`` is the engine's own little-endian int16 strip
    payload, ``width`` cells wide.  An unknown format or a malformed
    payload raises ``ValueError``, so one ``except`` quarantines a bad
    row whatever layer of the decoder it broke.
    """
    payload = bytes(payload)
    try:
        if fmt == "png16":
            return decode_heights_png(payload)
        if fmt == "hgt":
            return decode_hgt(payload, width)
        if fmt == "tiff":
            return decode_tiff_gray16(payload)
        if fmt == "raw":
            return np.frombuffer(payload, dtype="<i2").reshape(-1, width)
    except (struct.error, zlib.error, KeyError, IndexError) as e:
        raise ValueError(f"malformed {fmt} payload: {e!r}") from e
    raise ValueError(f"unknown block format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 65535.0) -> float:
    """Peak signal-to-noise ratio in dB (∞ for identical arrays)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)
