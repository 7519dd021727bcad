"""RGBA color math and elevation color scales, vectorized over numpy.

Images are ``(H, W, 4) uint8`` RGBA arrays (channel order R,G,B,A — the
byte order of the reference's packed uint32, Png/Rgba8Bit.fs:18-35).

Reference semantics:
  - pack/unpack + withAlpha:  /root/reference/Demeton/Png/Rgba8Bit.fs:18-44
  - hex parse/format:         /root/reference/Demeton/Png/Rgba8Bit.fs:46-108
  - mixColors lerp:           /root/reference/Demeton/Png/Rgba8Bit.fs:110-124
    (byte conversion truncates toward zero, and ratios 0/1 short-circuit)
  - color distance:           /root/reference/Demeton/Png/Rgba8Bit.fs:126-132
  - color scale + Maperitive defaults:
                              /root/reference/Demeton/Shaders/ElevationColoring.fs:89-137
  - scale-string grammar ``0:#ccf3ff;…;none:#00000000``:
                              /root/reference/Demeton/Shaders/ElevationColoring.fs:25-87
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from .tiles import DEM_HEIGHT_NONE

TRANSPARENT = (0, 0, 0, 0)


def rgba(r: int, g: int, b: int) -> tuple[int, int, int, int]:
    """An opaque color."""
    return (int(r) & 0xFF, int(g) & 0xFF, int(b) & 0xFF, 255)


def pack(color: tuple[int, int, int, int]) -> int:
    """Pack (r,g,b,a) into the reference's uint32 layout (Rgba8Bit.fs:27-35)."""
    r, g, b, a = color
    return (r << 24) | (g << 16) | (b << 8) | a


def unpack(color: int) -> tuple[int, int, int, int]:
    return ((color >> 24) & 0xFF, (color >> 16) & 0xFF, (color >> 8) & 0xFF, color & 0xFF)


_HEX_RE = re.compile(r"^#([0-9a-fA-F]{6})([0-9a-fA-F]{2})?$")


def parse_hex(value: str) -> tuple[int, int, int, int]:
    """Parse ``#rrggbb`` or ``#aarrggbb`` (Rgba8Bit.fs:57-88).

    In the 8-digit form the **first** two digits are alpha, as in the
    reference's parser.
    """
    m = _HEX_RE.match(value)
    if not m:
        raise ValueError(f"invalid color hex value: {value!r}")
    digits, extra = m.groups()
    if extra is not None:
        a = int(digits[0:2], 16)
        rgb = digits[2:6] + extra
    else:
        a = 0xFF
        rgb = digits
    return (int(rgb[0:2], 16), int(rgb[2:4], 16), int(rgb[4:6], 16), a)


def to_hex(color: tuple[int, int, int, int]) -> str:
    """Format as hex; opaque colors drop the alpha digits (Rgba8Bit.fs:46-51)."""
    r, g, b, a = color
    if a == 0xFF:
        return f"#{r:02x}{g:02x}{b:02x}"
    return f"#{a:02x}{r:02x}{g:02x}{b:02x}"


def mix_colors(color_a, color_b, ratio: float) -> tuple[int, int, int, int]:
    """Linear interpolation with truncating byte cast (Rgba8Bit.fs:110-124)."""
    if ratio == 0.0:
        return tuple(color_a)
    if ratio == 1.0:
        return tuple(color_b)
    return tuple(
        int((float(v2) - float(v1)) * ratio + float(v1)) & 0xFF
        for v1, v2 in zip(color_a, color_b)
    )


def mix_colors_np(color_a, color_b, ratio: np.ndarray) -> np.ndarray:
    """Vectorized mixColors: ``ratio`` shape (...,) → RGBA array (..., 4).

    Truncation toward zero matches the reference's byte cast; ratios are
    clipped to [0, 1] (valid shader inputs never exceed it, the clip just
    avoids uint8 wraparound on float noise).
    """
    ratio = np.clip(np.asarray(ratio, dtype=np.float64), 0.0, 1.0)[..., None]
    a = np.asarray(color_a, dtype=np.float64)
    b = np.asarray(color_b, dtype=np.float64)
    mixed = np.trunc((b - a) * ratio + a)
    return np.clip(mixed, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# elevation color scale
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ColorScale:
    """Sorted (height, rgba) marks + the missing-height color."""

    marks: tuple[tuple[int, tuple[int, int, int, int]], ...]
    none_color: tuple[int, int, int, int] = TRANSPARENT

    def __post_init__(self):
        heights = [h for h, _ in self.marks]
        if heights != sorted(heights):
            raise ValueError("color scale marks are not sorted")

    def color_of_height(self, height: float | None) -> tuple[int, int, int, int]:
        """Scalar piecewise-linear lookup (ElevationColoring.fs:89-120)."""
        if height is None:
            return self.none_color
        prev_h, prev_c = self.marks[0]
        if height <= prev_h:
            return prev_c
        for mark_h, mark_c in self.marks[1:]:
            if height <= mark_h:
                ratio = (height - prev_h) / float(mark_h - prev_h)
                return mix_colors(prev_c, mark_c, ratio)
            prev_h, prev_c = mark_h, mark_c
        return self.marks[-1][1]

    def _interp_rgba(self, flat: np.ndarray) -> np.ndarray:
        hs = np.array([h for h, _ in self.marks], dtype=np.float64)
        chans = np.array([c for _, c in self.marks], dtype=np.float64)  # (n,4)
        out = np.empty((flat.size, 4), dtype=np.uint8)
        for ch in range(4):
            out[:, ch] = np.trunc(np.interp(flat, hs, chans[:, ch])).astype(np.uint8)
        return out

    def lut32(self) -> np.ndarray:
        """(65536,) uint32 table of RGBA pixels (bytes in R,G,B,A order)
        over the whole int16 height domain, indexed by the height's bits
        with the sign flipped (``uint16(h) ^ 0x8000``).  Built with the
        identical interp formula; the ``DEM_HEIGHT_NONE`` slot (index 0)
        holds the none color.  Cached per scale instance."""
        lut = getattr(self, "_lut32", None)
        if lut is None:
            rgba = self._interp_rgba(np.arange(-32768, 32768, dtype=np.float64))
            rgba[DEM_HEIGHT_NONE + 32768] = self.none_color
            lut = rgba.view(np.uint32).ravel()
            object.__setattr__(self, "_lut32", lut)  # frozen dataclass cache
        return lut

    def colorize_dem(self, dem: np.ndarray) -> np.ndarray:
        """int16 heights with the ``DEM_HEIGHT_NONE`` sentinel (H,W) →
        RGBA (H,W,4) uint8 in one gather from :meth:`lut32` — no float
        conversion and no missing-mask pass (the tile pipeline's case)."""
        idx = dem.view(np.uint16) ^ np.uint16(0x8000)
        return self.lut32()[idx].view(np.uint8).reshape(dem.shape + (4,))

    def colorize(self, heights: np.ndarray, missing_mask: np.ndarray) -> np.ndarray:
        """Vectorized lookup: float heights (H,W) → RGBA (H,W,4) uint8.

        Integral heights inside the int16 domain gather from the cached
        LUT (:meth:`colorize_dem`); anything else falls back to np.interp
        per channel.  Both paths reproduce the clamped piecewise-linear
        lookup with mixColors' truncating byte cast.
        """
        flat = np.nan_to_num(heights, nan=0.0)
        fi = flat.astype(np.int32)
        if (
            flat.size
            and flat.dtype.kind == "f"
            and np.array_equal(fi, flat)
            and fi.min() > DEM_HEIGHT_NONE
            and fi.max() < 32768
        ):
            dem = fi.astype(np.int16)
            dem[missing_mask] = DEM_HEIGHT_NONE
            return self.colorize_dem(dem)
        out = self._interp_rgba(flat.astype(np.float64).ravel())
        out = out.reshape(heights.shape + (4,))
        out[missing_mask] = np.array(self.none_color, dtype=np.uint8)
        return out

    def to_string(self) -> str:
        """Inverse of :func:`parse_color_scale` (ElevationColoring.fs:25-31)."""
        parts = [f"{h}:{to_hex(c)};" for h, c in self.marks]
        return "".join(parts) + f"none:{to_hex(self.none_color)}"


def parse_color_scale(text: str) -> ColorScale:
    """Parse ``0:#ccf3ff;700:#f5fac4;none:#00000000`` (ElevationColoring.fs:38-87)."""
    marks: list[tuple[int, tuple[int, int, int, int]]] = []
    none_color = TRANSPARENT
    seen_none = False
    for part in text.split(";"):
        part = part.strip()
        if not part:
            continue
        key, _, hexval = part.partition(":")
        if key == "none":
            none_color = parse_hex(hexval)
            seen_none = True
        else:
            marks.append((int(key), parse_hex(hexval)))
    if not marks or not seen_none:
        raise ValueError(f"invalid color scale: {text!r}")
    return ColorScale(marks=tuple(marks), none_color=none_color)


#: Maperitive default scale (ElevationColoring.fs:128-137).
MAPERITIVE_SCALE = ColorScale(
    marks=(
        (0, rgba(204, 243, 255)),
        (1, rgba(142, 212, 142)),
        (700, rgba(245, 250, 196)),
        (1500, rgba(217, 215, 189)),
        (2500, rgba(242, 235, 210)),
        (3500, rgba(255, 255, 255)),
    ),
    none_color=TRANSPARENT,
)
