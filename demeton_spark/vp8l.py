"""From-scratch lossless WebP (VP8L) codec.

The reference engine decodes PNG/TIFF/HGT only
(/root/reference/Demeton/Png/File.fs:19-53, Aw3d/Funcs.fs:180-261); this
module is a standalone codec, not one of the engine's block formats
(:func:`demeton_spark.codec.decode_block` rejects ``webp``).  Mirroring the reference's from-scratch PNG ethos, the full
VP8L bitstream is implemented here per the public "WebP Lossless
Bitstream Specification":

* RIFF/WEBP container walk (unknown chunks skipped, word-aligned),
* LSB-first bit reader,
* canonical prefix (Huffman) codes — both the "simple" 1/2-symbol form
  and the full code-length-coded form with 16/17/18 repeat codes and
  the optional max_symbol cap,
* color cache (hash 0x1e35a7bd, 1..11 bits),
* LZ77 backward references with the 120-entry 2-D near-distance map,
* meta prefix codes (spatially varying code groups via an entropy
  subimage),
* all four transforms inverted: PREDICTOR (14 modes), COLOR
  (ColorTransformDelta), SUBTRACT_GREEN, COLOR_INDEXING (palette +
  sub-byte pixel bundling).

The encoder is fixture-grade rather than rate-optimal: real canonical
Huffman codes (length-limited by a balanced-code fallback), optional
subtract-green transform, optional color cache, and optional
distance-1 LZ77 run emission — enough to exercise every decoder path
with round-trip tests.  Lossy WebP ("VP8 " chunks) is out of scope and
raises ``ValueError``.
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

# Code-length alphabet transmission order (spec §5.2.2 / libwebp
# kCodeLengthCodeOrder).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 120-entry (dx, dy) near-distance map (spec §5.2.3); code 1 is entry 0.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

_CACHE_MUL = 0x1E35A7BD
_N_LENGTH_CODES = 24


class _BitReader:
    """LSB-first bit reader over bytes (DEFLATE-style packing)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError("truncated VP8L bitstream")
        v = 0
        got = 0
        p = self.pos
        while got < n:
            byte = self.data[p >> 3]
            avail = 8 - (p & 7)
            take = min(avail, n - got)
            v |= ((byte >> (p & 7)) & ((1 << take) - 1)) << got
            got += take
            p += take
        self.pos = end
        return v


class _PrefixCode:
    """Canonical prefix decoder: dict of (length, code) → symbol, codes
    assigned MSB-first per canonical numbering.  A single-symbol code
    consumes zero bits."""

    def __init__(self, lengths: dict[int, int]) -> None:
        used = [(l, s) for s, l in lengths.items() if l > 0]
        if not used:
            raise ValueError("VP8L prefix code with no symbols")
        if len(used) == 1:
            self.single: int | None = used[0][1]
            self.table: dict[tuple[int, int], int] = {}
            self.max_len = 0
            return
        self.single = None
        kraft = sum(1 << (15 - l) for l, _ in used)
        if kraft != 1 << 15:
            raise ValueError("VP8L prefix code is not complete")
        used.sort()
        self.table = {}
        code = 0
        prev_len = used[0][0]
        for l, s in used:
            code <<= l - prev_len
            prev_len = l
            self.table[(l, code)] = s
            code += 1
        self.max_len = used[-1][0]

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("corrupt VP8L prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        lengths = {s0: 1}
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 == s0:
                raise ValueError("VP8L simple code repeats a symbol")
            lengths[s1] = 1
        else:
            lengths[s0] = 0  # marker; _PrefixCode handles single via >0
            return _PrefixCode({s0: 1})  # 1-symbol → zero-bit code
        for s in lengths:
            if s >= alphabet_size:
                raise ValueError("VP8L simple-code symbol out of range")
        return _PrefixCode(lengths)
    num_clc = 4 + br.read(4)
    clc_lengths: dict[int, int] = {}
    for i in range(num_clc):
        l = br.read(3)
        if l:
            clc_lengths[_CLC_ORDER[i]] = l
    clc = _PrefixCode(clc_lengths)
    max_symbol = alphabet_size
    if br.read(1):  # use max_symbol cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("VP8L max_symbol beyond alphabet")
    lengths = {}
    symbol = 0
    prev_len = 8
    remaining = max_symbol
    while symbol < alphabet_size:
        if remaining <= 0:
            break
        remaining -= 1
        code_len = clc.decode(br)
        if code_len < 16:
            if code_len:
                lengths[symbol] = code_len
                prev_len = code_len
            symbol += 1
        elif code_len == 16:
            for _ in range(3 + br.read(2)):
                if symbol >= alphabet_size:
                    raise ValueError("VP8L code-length repeat overflow")
                lengths[symbol] = prev_len
                symbol += 1
        elif code_len == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    if symbol > alphabet_size:
        raise ValueError("VP8L code lengths overflow the alphabet")
    return _PrefixCode(lengths)


def _prefix_value(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix value (spec §5.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _div_round_up(a: int, shift: int) -> int:
    return (a + (1 << shift) - 1) >> shift


def _decode_entropy_coded(
    br: _BitReader, w: int, h: int, is_argb: bool
) -> np.ndarray:
    """Decode one entropy-coded image → uint32 ARGB array (h, w).
    ``is_argb`` gates the meta-prefix-code machinery (main image only;
    subimages always use a single code group)."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad VP8L color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    prefix_bits = 0
    num_groups = 1
    if is_argb and br.read(1):
        prefix_bits = br.read(3) + 2
        mw = _div_round_up(w, prefix_bits)
        mh = _div_round_up(h, prefix_bits)
        entropy = _decode_entropy_coded(br, mw, mh, False)
        meta = (((entropy >> 16) & 0xFF) << 8) | ((entropy >> 8) & 0xFF)
        meta = meta.astype(np.int64)
        num_groups = int(meta.max()) + 1

    green_alpha = 256 + _N_LENGTH_CODES + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append(
            tuple(
                _read_prefix_code(br, a)
                for a in (green_alpha, 256, 256, 256, 40)
            )
        )

    total = w * h
    out = np.zeros(total, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    while pos < total:
        if meta is None:
            g_code, r_code, b_code, a_code, d_code = groups[0]
        else:
            y, x = divmod(pos, w)
            g_code, r_code, b_code, a_code, d_code = groups[
                int(meta[y >> prefix_bits, x >> prefix_bits])
            ]
        s = g_code.decode(br)
        if s < 256:
            red = r_code.decode(br)
            blue = b_code.decode(br)
            alpha = a_code.decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache_size:
                cache[((_CACHE_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + _N_LENGTH_CODES:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, d_code.decode(br))
            if dist_code > 120:
                distance = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                distance = dy * w + dx
                if distance < 1:
                    distance = 1
            if distance > pos or pos + length > total:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = int(out[pos - distance])
                out[pos] = px
                if cache_size:
                    cache[
                        ((_CACHE_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:
            idx = s - 256 - _N_LENGTH_CODES
            out[pos] = cache[idx]
            pos += 1
    return out.reshape(h, w)


# --- inverse transforms ------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    # per-channel floor average of two ARGB words
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(l: int, t: int, tl: int) -> int:
    la, lr, lg, lb = _channels(l)
    ta, tr, tg, tb = _channels(t)
    ca, cr, cg, cb = _channels(tl)
    pa, pr, pg, pb = la + ta - ca, lr + tr - cr, lg + tg - cg, lb + tb - cb
    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
    p_t = abs(pa - ta) + abs(pr - tr) + abs(pg - tg) + abs(pb - tb)
    return l if p_l < p_t else t


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        c = _clamp(((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF))
        out |= c << shift
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for shift in (24, 16, 8, 0):
        a = (ave >> shift) & 0xFF
        b = (tl >> shift) & 0xFF
        d = a - b
        # C truncating division by 2 (toward zero)
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= _clamp(a + half) << shift
    return out


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"bad VP8L predictor mode {mode}")


def _add_pixels(a: int, b: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _inv_predictor(img: np.ndarray, modes: np.ndarray, size_bits: int) -> np.ndarray:
    h, w = img.shape
    out = img.copy()
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[0, x - 1])  # forced L on top row
            elif x == 0:
                pred = int(out[y - 1, 0])  # forced T on left column
            else:
                mode = int((modes[y >> size_bits, x >> size_bits] >> 8) & 0xFF)
                l = int(out[y, x - 1])
                t = int(out[y - 1, x])
                tl = int(out[y - 1, x - 1])
                # TR at the right edge wraps to the leftmost pixel of the
                # current row (scan-order data[pos - width + 1])
                tr = int(out[y - 1, x + 1]) if x + 1 < w else int(out[y, 0])
                pred = _predict(mode, l, t, tr, tl)
            out[y, x] = _add_pixels(int(out[y, x]), pred)
    return out


def _ct_delta(t: int, c: int) -> int:
    # (int8)t * (int8)c >> 5, arithmetic shift
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(
    img: np.ndarray, elements: np.ndarray, size_bits: int
) -> np.ndarray:
    h, w = img.shape
    out = img.copy()
    for y in range(h):
        for x in range(w):
            cte = int(elements[y >> size_bits, x >> size_bits])
            g2r = cte & 0xFF  # blue channel
            g2b = (cte >> 8) & 0xFF  # green channel
            r2b = (cte >> 16) & 0xFF  # red channel
            p = int(out[y, x])
            a, r, g, b = _channels(p)
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            out[y, x] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    g = (img >> 8) & 0xFF
    r = (((img >> 16) & 0xFF) + g) & 0xFF
    b = ((img & 0xFF) + g) & 0xFF
    return (img & 0xFF00FF00) | (r << 16) | b


def _palette_width_bits(palette_size: int) -> int:
    if palette_size <= 2:
        return 3
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


def _inv_color_indexing(
    img: np.ndarray, palette: np.ndarray, w: int
) -> np.ndarray:
    h = img.shape[0]
    width_bits = _palette_width_bits(len(palette))
    if width_bits:
        per = 1 << width_bits
        bits = 8 >> width_bits
        mask = (1 << bits) - 1
        green = ((img >> 8) & 0xFF).astype(np.uint32)
        idx = np.zeros((h, img.shape[1] * per), dtype=np.uint32)
        for k in range(per):
            idx[:, k::per] = (green >> (k * bits)) & mask
        idx = idx[:, :w]
    else:
        idx = ((img >> 8) & 0xFF).astype(np.uint32)
    out = np.zeros_like(idx, dtype=np.uint32)
    valid = idx < len(palette)
    out[valid] = palette[idx[valid].astype(np.int64)]
    return out


# --- top-level decode --------------------------------------------------------


def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L chunk payload → uint8 RGBA array ``(h, w, 4)``."""
    if len(payload) < 5 or payload[0] != 0x2F:
        raise ValueError("not a VP8L stream")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")

    transforms: list[tuple] = []
    cur_w = w
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 0 or ttype == 1:  # PREDICTOR / COLOR
            size_bits = br.read(3) + 2
            sub = _decode_entropy_coded(
                br,
                _div_round_up(cur_w, size_bits),
                _div_round_up(h, size_bits),
                False,
            )
            transforms.append((ttype, size_bits, sub))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append((2,))
        else:  # COLOR_INDEXING
            palette_size = br.read(8) + 1
            pal_img = _decode_entropy_coded(br, palette_size, 1, False)
            pal = pal_img.reshape(-1).astype(np.uint32)
            # palette entries are delta-coded component-wise
            acc = 0
            entries = []
            for p in pal:
                acc = _add_pixels(acc, int(p))
                entries.append(acc)
            palette = np.array(entries, dtype=np.uint32)
            transforms.append((3, palette, cur_w))
            cur_w = _div_round_up(cur_w, _palette_width_bits(palette_size)) \
                if _palette_width_bits(palette_size) else cur_w

    img = _decode_entropy_coded(br, cur_w, h, True)
    for t in reversed(transforms):
        if t[0] == 0:
            img = _inv_predictor(img, t[2], t[1])
        elif t[0] == 1:
            img = _inv_color_transform(img, t[2], t[1])
        elif t[0] == 2:
            img = _inv_subtract_green(img)
        else:
            img = _inv_color_indexing(img, t[1], t[2])
    if img.shape != (h, w):
        raise ValueError("VP8L decoded size mismatch")
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., 0] = (img >> 16) & 0xFF
    rgba[..., 1] = (img >> 8) & 0xFF
    rgba[..., 2] = img & 0xFF
    rgba[..., 3] = (img >> 24) & 0xFF
    return rgba


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF/WEBP bytes → uint8 RGBA ``(h, w, 4)`` (lossless VP8L only;
    lossy "VP8 " raises ``ValueError`` → quarantine)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF) stream")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise ValueError("lossy WebP (VP8) is not supported")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("WebP stream has no VP8L chunk")


# --- encoder (fixture-grade) -------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nacc
        self.nacc += n
        while self.nacc >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nacc -= 8

    def finish(self) -> bytes:
        if self.nacc:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nacc = 0
        return bytes(self.out)


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Symbol → code length; real Huffman with a balanced-code fallback
    when the tree exceeds ``max_len``."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    n = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        n += 1
        heapq.heappush(heap, (f1 + f2, n, g1 + g2))
    if max(depth.values()) <= max_len:
        return depth
    # balanced complete code: k symbols at L-1, rest at L
    n_syms = len(syms)
    big_l = max(1, (n_syms - 1).bit_length())
    k = (1 << big_l) - n_syms
    return {s: (big_l - 1 if i < k else big_l) for i, s in enumerate(syms)}


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    used = sorted((l, s) for s, l in lengths.items() if l > 0)
    codes = {}
    code = 0
    prev = used[0][0]
    for l, s in used:
        code <<= l - prev
        prev = l
        codes[s] = (code, l)
        code += 1
    return codes


def _write_prefix_code(
    bw: _BitWriter, lengths: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Emit a prefix code (simple form when ≤2 symbols, else the full
    code-length-coded form, no repeat codes) and return symbol → (code,
    nbits) for subsequent payload writes."""
    used = sorted(s for s, l in lengths.items() if l > 0)
    if len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.write(0, 1)  # normal
    # code-length code over the lengths we will literally emit (incl. 0
    # gaps and 17/18 zero-runs)
    seq: list[tuple[int, int, int]] = []  # (clc symbol, extra value, extra bits)
    last = max(used)
    symbol = 0
    while symbol <= last:
        l = lengths.get(symbol, 0)
        if l:
            seq.append((l, 0, 0))
            symbol += 1
            continue
        run = 0
        while symbol + run <= last and lengths.get(symbol + run, 0) == 0:
            run += 1
        while run:
            if run >= 11:
                take = min(run, 138)
                seq.append((18, take - 11, 7))
            elif run >= 3:
                take = run
                seq.append((17, take - 3, 3))
            else:
                take = 1
                seq.append((0, 0, 0))
            symbol += take
            run -= take
    while len(seq) < 2:  # max_symbol cap below cannot express < 2 reads
        seq.append((0, 0, 0))
    clc_freq: dict[int, int] = {}
    for s, _, _ in seq:
        clc_freq[s] = clc_freq.get(s, 0) + 1
    clc_lengths = _huffman_lengths(clc_freq, max_len=7)
    clc_codes = _canonical_codes(clc_lengths)
    bw.write(15, 4)  # num_code_lengths = 19: every order slot present
    for slot in _CLC_ORDER:
        bw.write(clc_lengths.get(slot, 0), 3)
    # max_symbol cap = exact number of code-length reads; without it the
    # decoder (per libwebp ReadHuffmanCodeLengths) keeps consuming payload
    # bits as code lengths until the full alphabet is assigned
    nbits = 2
    while len(seq) - 2 >= (1 << nbits):
        nbits += 2
    bw.write(1, 1)
    bw.write((nbits - 2) // 2, 3)
    bw.write(len(seq) - 2, nbits)
    for s, extra, ebits in seq:
        code, n = clc_codes[s]
        for i in range(n - 1, -1, -1):  # prefix bits MSB-first
            bw.write((code >> i) & 1, 1)
        if ebits:
            bw.write(extra, ebits)
    return _canonical_codes(lengths)


def _emit_symbol(bw: _BitWriter, codes: dict[int, tuple[int, int]], s: int) -> None:
    code, n = codes[s]
    for i in range(n - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _length_prefix_code(v: int) -> int:
    if v <= 4:
        return v - 1
    u = v - 1
    hb = u.bit_length() - 1
    return 2 * hb if u < (3 << hb - 1) else 2 * hb + 1


def _write_entropy_image(
    bw: _BitWriter,
    flat: np.ndarray,
    w: int,
    is_argb: bool,
    cache_bits: int = 0,
    rle: bool = False,
    meta_bits: int = 0,
    meta_groups: np.ndarray | None = None,
) -> None:
    """Emit one entropy-coded image (spec §5.2.4): optional color-cache
    header, optional meta-prefix subimage (main image only), per-group
    canonical prefix codes, then the symbol stream."""
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)

    group_of = None
    num_groups = 1
    if is_argb:
        if meta_bits:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            num_groups = int(meta_groups.max()) + 1
            # subimage pixel encodes its group in (red<<8 | green)
            sub = ((meta_groups.astype(np.uint32) >> 8) << 16) | (
                (meta_groups.astype(np.uint32) & 0xFF) << 8
            )
            _write_entropy_image(bw, sub.reshape(-1), sub.shape[1], False)

            def group_of(pos: int) -> int:
                y, x = divmod(pos, w)
                return int(meta_groups[y >> meta_bits, x >> meta_bits])

        else:
            bw.write(0, 1)

    # tokenize: (kind, payload) with kind in literal/run/cache
    tokens: list[tuple[str, int]] = []
    cache = [0] * cache_size
    i = 0
    total = len(flat)
    while i < total:
        px = int(flat[i])
        if rle and i > 0 and px == int(flat[i - 1]):
            run = 1
            while i + run < total and int(flat[i + run]) == px and run < 4096:
                run += 1
            tokens.append(("run", run, i))
            if cache_size:
                idx = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)
                cache[idx] = px
            i += run
            continue
        if cache_size:
            idx = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px and i > 0:
                tokens.append(("cache", idx, i))
                i += 1
                continue
            cache[idx] = px
        tokens.append(("literal", px, i))
        i += 1

    # per-group frequencies (distance codes are shared per group too)
    def fresh():
        return {}, {}, {}, {}, {1: 1}  # g/r/b/a/d

    freqs = [fresh() for _ in range(num_groups)]
    for kind, v, pos in tokens:
        grp = group_of(pos) if group_of else 0
        gf, rf, bf, af, df = freqs[grp]
        if kind == "literal":
            a, r, g, b = _channels(v)
            gf[g] = gf.get(g, 0) + 1
            rf[r] = rf.get(r, 0) + 1
            bf[b] = bf.get(b, 0) + 1
            af[a] = af.get(a, 0) + 1
        elif kind == "run":
            c = 256 + _length_prefix_code(v)
            gf[c] = gf.get(c, 0) + 1
        else:
            c = 256 + _N_LENGTH_CODES + v
            gf[c] = gf.get(c, 0) + 1

    group_codes = []
    for gf, rf, bf, af, df in freqs:
        if not gf:
            gf = {0: 1}
        if not rf:
            rf = {0: 1}
            bf = {0: 1}
            af = {255: 1}
        group_codes.append(
            (
                _write_prefix_code(
                    bw, _huffman_lengths(gf), 256 + 24 + cache_size
                ),
                _write_prefix_code(bw, _huffman_lengths(rf), 256),
                _write_prefix_code(bw, _huffman_lengths(bf), 256),
                _write_prefix_code(bw, _huffman_lengths(af), 256),
                _write_prefix_code(bw, _huffman_lengths(df), 40),
            )
        )

    for kind, v, pos in tokens:
        g_codes, r_codes, b_codes, a_codes, d_codes = group_codes[
            group_of(pos) if group_of else 0
        ]
        if kind == "literal":
            a, r, g, b = _channels(v)
            _emit_symbol(bw, g_codes, g)
            _emit_symbol(bw, r_codes, r)
            _emit_symbol(bw, b_codes, b)
            _emit_symbol(bw, a_codes, a)
        elif kind == "run":
            c = 256 + _length_prefix_code(v)
            _emit_symbol(bw, g_codes, c)
            if c >= 260:
                ebits = (c - 256 - 2) >> 1
                offset = (2 + ((c - 256) & 1)) << ebits
                bw.write(v - 1 - offset, ebits)
            _emit_symbol(bw, d_codes, 1)  # dist prefix value 2 → distance 1
        else:
            _emit_symbol(bw, g_codes, 256 + _N_LENGTH_CODES + v)


def encode_webp(
    img: np.ndarray,
    subtract_green: bool = False,
    cache_bits: int = 0,
    rle: bool = False,
    palette: bool = False,
    meta_bits: int = 0,
) -> bytes:
    """uint8 gray ``(h, w)``, RGB ``(h, w, 3)`` or RGBA ``(h, w, 4)`` →
    lossless RIFF/WEBP bytes.  Fixture-grade: literals + optional
    distance-1 LZ77 runs + optional color cache + optional
    subtract-green / color-indexing (palette + sub-byte bundling)
    transforms + optional meta prefix codes (checkerboard groups);
    real canonical Huffman codes throughout."""
    if img.ndim == 2:
        rgba = np.stack([img, img, img, np.full_like(img, 255)], axis=-1)
    elif img.shape[-1] == 3:
        rgba = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=-1
        )
    else:
        rgba = img
    h, w = rgba.shape[:2]
    argb = (
        (rgba[..., 3].astype(np.uint32) << 24)
        | (rgba[..., 0].astype(np.uint32) << 16)
        | (rgba[..., 1].astype(np.uint32) << 8)
        | rgba[..., 2].astype(np.uint32)
    )

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version

    enc_w = w
    if palette:
        if subtract_green:
            raise ValueError("fixture encoder: palette excludes other transforms")
        pal, inverse = np.unique(argb.reshape(-1), return_inverse=True)
        if len(pal) > 256:
            raise ValueError(f"too many colors for palette: {len(pal)}")
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(len(pal) - 1, 8)
        # delta-coded palette row as a (len, 1) subimage
        deltas = np.empty(len(pal), dtype=np.uint32)
        prev = 0
        for k, p in enumerate(pal):
            d = 0
            for shift in (24, 16, 8, 0):
                d |= ((((int(p) >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) & 0xFF) << shift
            deltas[k] = d
            prev = int(p)
        _write_entropy_image(bw, deltas, len(pal), False)
        # bundle indices into the green channel, LSB-first
        width_bits = _palette_width_bits(len(pal))
        idx = inverse.reshape(h, w).astype(np.uint32)
        if width_bits:
            per = 1 << width_bits
            bits = 8 >> width_bits
            enc_w = _div_round_up(w, width_bits)  # shift semantics: w / 2^bits
            packed = np.zeros((h, enc_w), dtype=np.uint32)
            for k in range(per):
                col = idx[:, k::per]
                packed[:, : col.shape[1]] |= col << (k * bits)
            argb = packed << 8
        else:
            enc_w = w
            argb = idx << 8
    elif subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        g = (argb >> 8) & 0xFF
        r = (((argb >> 16) & 0xFF) - g) & 0xFF
        b = ((argb & 0xFF) - g) & 0xFF
        argb = (argb & 0xFF00FF00) | (r << 16) | b
    bw.write(0, 1)  # no more transforms

    meta_groups = None
    if meta_bits:
        if not 2 <= meta_bits <= 9:
            raise ValueError("meta_bits must be in 2..9")
        mh = _div_round_up(argb.shape[0], meta_bits)
        mw = _div_round_up(enc_w, meta_bits)
        yy, xx = np.mgrid[0:mh, 0:mw]
        meta_groups = ((yy + xx) % 2).astype(np.int64)  # checkerboard
    _write_entropy_image(
        bw,
        argb.reshape(-1),
        enc_w,
        True,
        cache_bits=cache_bits,
        rle=rle,
        meta_bits=meta_bits,
        meta_groups=meta_groups,
    )
    payload = b"\x2f" + bw.finish()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
