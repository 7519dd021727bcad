"""Vectorized raster kernels: Horn gradient, hillshaders, compositing,
resampling — the numpy bodies that run inside Arrow-batched pandas UDFs.

Heights enter as int16 blocks with the ``DEM_HEIGHT_NONE`` sentinel and
are masked to NaN floats only inside the kernels (§4.3 of SURVEY.md).
Missing-data propagation matches the reference exactly: any missing
3×3 neighbor → transparent output pixel.

Reference semantics (file:line in /root/reference):
  - Horn p/q + grid size:  Demeton/Shaders/Hillshading.fs:30-60
  - slope & aspect:        Demeton/Shaders/Hillshading.fs:64-75
  - byte clamp:            Demeton/Shaders/Hillshading.fs:21-28
  - igor shader:           Demeton/Shaders/IgorHillshader.fs:28-46
  - lambert shader:        Demeton/Shaders/LambertHillshader.fs:33-64
  - slope shader:          Demeton/Shaders/SlopeShader.fs:23-35
  - aspect shader:         Demeton/Shaders/AspectShader.fs:25-44
  - solid background:      Demeton/Shaders/SolidBackground.fs:10-23
  - Porter-Duff "over":    Demeton/Png/AlphaCompositing.fs:17-95
  - "darken" compositing:  Demeton/Png/AlphaCompositing.fs:97-131
  - 2×2 avg downsample:    Demeton/Srtm/Downsampling.fs:67-130
  - area-weighted resample: Demeton/Dem/Funcs.fs:561-624
  - majority resample:     Demeton/WaterBodies/Funcs.fs:9-64
  - 3×3 neighborhood sum:  Demeton/Dem/Funcs.fs:480-502
  - bilinear interpolate:  Demeton/Dem/Types.fs:21-33,143-155
"""

from __future__ import annotations

import math

import numpy as np

from .colors import ColorScale, mix_colors_np
from .geometry import (
    EARTH_RADIUS_M,
    deg_to_rad,
    geodetic_distance_approx,
    normalize_angle,
)
from .tiles import DEM_HEIGHT_NONE

DEFAULT_SUN_AZIMUTH_DEG = -45.0  # IgorHillshader.fs:19-26 (northwest)
DEFAULT_SUN_ALTITUDE_DEG = 45.0  # LambertHillshader.fs:23-24


def heights_to_float(heights: np.ndarray, dtype=np.float64) -> np.ndarray:
    """int16 sentinel block → float with NaN for missing.

    float32 represents every int16 exactly; the engine hot path uses it
    to halve kernel memory traffic (kernels are dtype-generic).
    """
    out = heights.astype(dtype)
    out[heights == DEM_HEIGHT_NONE] = np.nan
    return out


def float_to_heights(values: np.ndarray) -> np.ndarray:
    """float (NaN=missing) → int16 sentinel block, half-to-even rounding."""
    out = np.full(values.shape, DEM_HEIGHT_NONE, dtype=np.int16)
    ok = ~np.isnan(values)
    out[ok] = np.round(values[ok]).astype(np.int16)
    return out


def ratio_to_byte(values: np.ndarray) -> np.ndarray:
    """colorComponentRatioToByte: trunc(v*255) clamped (Hillshading.fs:21-22)."""
    return np.clip(np.trunc(values * 255.0), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Horn gradient + slope/aspect over halo-padded blocks
# ---------------------------------------------------------------------------

def grid_size_meters(cpd: float, lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row (grid_width, grid_height) in meters for cell-spaced pixels.

    Reproduces Hillshading.fs:30-38: width = geodesic distance between the
    NW and N neighbor (one cell apart in lon, at lat+dlat), height =
    distance between NW and W (one cell apart in lat).  ``lat_deg`` is the
    latitude of each pixel-center row; returns arrays of the same shape.
    """
    d = deg_to_rad(1.0 / cpd)  # cell spacing in radians
    lat = deg_to_rad(lat_deg)
    lon0 = 0.0  # width is translation-invariant in lon
    width = geodetic_distance_approx(lon0, lat + d, lon0 + d, lat + d)
    height = np.full_like(np.asarray(width, dtype=np.float64), EARTH_RADIUS_M * d)
    return width, height


def horn_pq(
    padded: np.ndarray, grid_width: np.ndarray, grid_height: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Horn 3×3 gradient over a halo-padded block (Hillshading.fs:40-60).

    ``padded`` is a float (H+2, W+2) array, NaN = missing, row 0 = south
    (DEM orientation).  Neighbor index layout in the reference (0..8, row
    by row from the south-west):  z0 z1 z2 / z3 z4 z5 / z6 z7 z8, so
        p = ((z8 + 2 z5 + z2) − (z6 + 2 z3 + z0)) / (8·gridW)
        q = ((z8 + 2 z7 + z6) − (z2 + 2 z1 + z0)) / (8·gridH)
    Any NaN neighbor → NaN p/q (missing-data propagation, §4.3).
    Returns (p, q) of shape (H, W).

    Computed separably: p differences the column-wise [1,2,1] sums of
    the west and east columns, q sums [1,2,1]-weighted the north−south
    differences.  Each reads the same six neighbours as the formula, so
    NaN propagates the same way, and for integer heights (every caller:
    int16 blocks, even in float32) each numerator term is an integer of
    magnitude < 2²⁴, exact in any float order, so only the final divide
    rounds and the result is bit-identical to the formula above.
    """
    s = padded[:-2] + padded[2:]  # [1,2,1] down every column
    s += padded[1:-1]
    s += padded[1:-1]
    p = (s[:, 2:] - s[:, :-2]) / (8.0 * grid_width)
    d = padded[2:] - padded[:-2]  # north − south per column
    q = d[:, :-2] + d[:, 2:]
    q += d[:, 1:-1]
    q += d[:, 1:-1]
    q = q / (8.0 * grid_height)
    return p, q


def slope_and_aspect(p: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """slope = atan√(p²+q²); aspect = norm(3π/2 − atan2(q,p)) (Hillshading.fs:64-75).

    The raw aspect lies in [π/2, 5π/2), so the fmod-normalization reduces
    to a single conditional subtract — bit-exact (Sterbenz: the subtract
    is exact for values in [π, 4π)) and ~20× faster than fmod here.
    The operations run in that order, in place in the two outputs; only
    the wrap allocates a temporary.
    """
    slope = np.multiply(p, p)
    aspect = np.multiply(q, q)
    slope += aspect
    np.sqrt(slope, out=slope)
    np.arctan(slope, out=slope)
    two_pi = math.pi * 2.0
    np.arctan2(q, p, out=aspect)
    np.subtract(math.pi * 3.0 / 2.0, aspect, out=aspect)  # raw
    # raw − 2π where raw ≥ 2π and raw − 0 elsewhere: the values of the
    # where(); a masked subtract stalls on rough terrain's random masks
    aspect -= np.multiply(aspect >= two_pi, two_pi, dtype=aspect.dtype)
    return slope, aspect


# ---------------------------------------------------------------------------
# pixel shaders: (height, slope, aspect) arrays → RGBA (H, W, 4) uint8
# ---------------------------------------------------------------------------

def igor_alpha(
    slope: np.ndarray,
    aspect: np.ndarray,
    sun_azimuth_rad: float = math.radians(DEFAULT_SUN_AZIMUTH_DEG),
    intensity: float = 1.0,
) -> np.ndarray:
    """Igor darkness (IgorHillshader.fs:28-46) as a bare uint8 alpha
    plane, NaN aspect → 0.

    ``slope`` and ``aspect`` share one float dtype, and ``aspect`` is
    expected already normalized to [0, 2π) (the slope_and_aspect
    contract), so the circular difference needs no fmod.
    """
    two_pi = math.pi * 2.0
    saz = float(normalize_angle(sun_azimuth_rad, two_pi))
    # the reference's operations in its order, for bit parity, through
    # two buffers:  (slope / (π/2)) · (aspect_diff / π) · intensity.
    # Cheap positive-mod normalization: exact identity for the [0, 2π)
    # values slope_and_aspect produces, fmod-free for the hot path
    t = np.divide(aspect, two_pi)
    np.floor(t, out=t)
    t *= two_pi
    np.subtract(aspect, t, out=t)  # aspect_n
    t -= saz
    np.abs(t, out=t)  # diff
    u = np.subtract(two_pi, t)
    # where(diff > π, 2π − diff, diff) == min(diff, 2π − diff): 2π − diff
    # rounds to ≤ diff when diff > π and to ≥ diff otherwise
    np.minimum(t, u, out=t)
    t /= math.pi  # aspect_diff / π
    np.divide(slope, math.pi / 2.0, out=u)
    u *= t
    u *= intensity
    u[np.isnan(aspect)] = 0.0
    return ratio_to_byte(u)


def shade_igor(
    slope: np.ndarray,
    aspect: np.ndarray,
    sun_azimuth_rad: float = math.radians(DEFAULT_SUN_AZIMUTH_DEG),
    shading_color: tuple[int, int, int, int] = (0, 0, 0, 0),
    intensity: float = 1.0,
) -> np.ndarray:
    """Igor hillshading as an RGBA layer: the shading color's RGB with
    :func:`igor_alpha` as alpha; NaN aspect → transparent black."""
    out = np.zeros(slope.shape + (4,), dtype=np.uint8)
    if any(shading_color[:3]):
        out[~np.isnan(aspect), :3] = shading_color[:3]
    out[..., 3] = igor_alpha(slope, aspect, sun_azimuth_rad, intensity)
    return out


def _rdiv255(t: np.ndarray) -> np.ndarray:
    """In place on a uint16 array of integers x ≤ 65025 (a byte × byte
    product or a sum of two weighted by α and 255−α): rint(x/255).

    With t = x + 128, ``(t + (t >> 8)) >> 8`` is exactly rint(x/255) on
    that whole range and never overflows uint16 (x/255 never lands on
    .5 since 255 is odd, so half-up == half-even)."""
    t += 128
    t += t >> 8
    t >>= 8
    return t


def over_black(alpha: np.ndarray, dest: np.ndarray) -> np.ndarray:
    """Composite a black layer of per-pixel ``alpha`` "over" ``dest``
    whose alphas are all 0 or 255 — byte-identical to
    :func:`composite_over` with a black source, without building it.

    Opaque base: rgb = rint(dst·(255−α)/255), alpha 255.  Transparent
    base (αd=0): the layer's own pixel (0,0,0,α) where α > 0, the base
    unchanged where α = 0.
    """
    out = np.empty_like(dest)
    inv = (255 - alpha).astype(np.uint16)
    holes = dest[..., 3] == 0
    any_holes = holes.any()
    if any_holes:
        # the blend below gives back dst where α = 0, which is the base
        # pixel itself; weight 0 blackens the RGB of the α > 0 holes
        inv[holes & (alpha > 0)] = 0
    for c in range(3):  # one plane at a time: long inner loops, no (…,3) broadcast
        out[..., c] = _rdiv255(dest[..., c] * inv)
    out[..., 3] = np.where(holes, alpha, 255) if any_holes else 255
    return out


def shade_lambert(
    slope: np.ndarray,
    aspect: np.ndarray,
    sun_azimuth_rad: float = math.radians(DEFAULT_SUN_AZIMUTH_DEG),
    sun_altitude_rad: float = math.radians(DEFAULT_SUN_ALTITUDE_DEG),
    shading_color: tuple[int, int, int, int] = (0, 0, 0, 0),
    intensity: float = 1.0,
) -> np.ndarray:
    """Lambert (cosine) hillshading (LambertHillshader.fs:33-64).

    Note the reference's swapped-looking naming — ``cosSolarElevation =
    sin altitude`` — the math below replicates the computation verbatim.
    """
    valid = ~np.isnan(aspect)
    cos_solar = math.sin(sun_altitude_rad)
    sin_solar = math.cos(sun_altitude_rad)
    lum = cos_solar * np.cos(slope) + sin_solar * np.sin(slope) * np.cos(
        aspect - sun_azimuth_rad
    )
    darkness = (1.0 - np.clip(lum, 0.0, 1.0)) * intensity
    out = np.zeros(slope.shape + (4,), dtype=np.uint8)
    out[..., 0] = shading_color[0]
    out[..., 1] = shading_color[1]
    out[..., 2] = shading_color[2]
    out[..., 3] = np.where(valid, ratio_to_byte(np.nan_to_num(darkness)), 0)
    out[~valid] = 0
    return out


def shade_slope(
    slope: np.ndarray,
    horizontal_color: tuple[int, int, int, int] = (0, 0, 0, 0),
    vertical_color: tuple[int, int, int, int] = (0, 0, 0, 255),
    intensity: float = 1.0,
) -> np.ndarray:
    """Slope shader: lerp(horiz, vert, slope°/90·intensity) (SlopeShader.fs:23-35)."""
    valid = ~np.isnan(slope)
    ratio = np.degrees(np.nan_to_num(slope)) / 90.0 * intensity
    out = mix_colors_np(horizontal_color, vertical_color, ratio)
    out[~valid] = 0
    return out


def shade_aspect(
    aspect: np.ndarray,
    north_color=(255, 0, 0, 255),
    east_color=(0, 255, 0, 255),
    south_color=(0, 0, 255, 255),
    west_color=(0, 255, 255, 255),
) -> np.ndarray:
    """4-way hue wheel lerped by 90° sector (AspectShader.fs:25-44)."""
    valid = ~np.isnan(aspect)
    deg = normalize_angle(np.degrees(np.nan_to_num(aspect)), 360.0)
    out = np.zeros(aspect.shape + (4,), dtype=np.uint8)
    sectors = [
        (deg <= 90.0, north_color, east_color, 0.0),
        ((deg > 90.0) & (deg <= 180.0), east_color, south_color, 90.0),
        ((deg > 180.0) & (deg <= 270.0), south_color, west_color, 180.0),
        (deg > 270.0, west_color, north_color, 270.0),
    ]
    for mask, c_from, c_to, base in sectors:
        if np.any(mask):
            out[mask] = mix_colors_np(c_from, c_to, (deg[mask] - base) / 90.0)
    out[~valid] = 0
    return out


def shade_elevation(heights: np.ndarray, scale: ColorScale) -> np.ndarray:
    """Elevation coloring, missing → none-color (ElevationColoring.fs:143-181).

    ``heights`` is an int16 block with the ``DEM_HEIGHT_NONE`` sentinel
    (one LUT gather) or a float block with NaN = missing."""
    if heights.dtype == np.int16:
        return scale.colorize_dem(heights)
    return scale.colorize(heights, np.isnan(heights))


def solid_background(
    shape: tuple[int, int], color: tuple[int, int, int, int]
) -> np.ndarray:
    """Fill (SolidBackground.fs:10-23)."""
    out = np.empty(shape + (4,), dtype=np.uint8)
    out[...] = np.array(color, dtype=np.uint8)
    return out


# ---------------------------------------------------------------------------
# compositing: (H, W, 4) uint8 source × dest → dest
# ---------------------------------------------------------------------------

def composite_over(source: np.ndarray, dest: np.ndarray) -> np.ndarray:
    """Porter-Duff source-over with premultiplied alpha
    (AlphaCompositing.fs:17-95), including the reference's fast paths:
    αs=0 → dest, αs=255 → source, αd=0 → source.

    The premultiplied blend reduces to exact integer arithmetic with one
    division:  out_rgb = rint(P/A) with  P = src·sa·255 + dst·da·(255−sa),
    A = sa·255 + da·(255−sa)  (all ≤ 3.3e7 → int32; this is the exact
    rational value of the reference's float formula, and the float32
    division is byte-identical to float64 over the full sampled domain).
    An opaque destination makes A constant, and the blend runs in uint16
    (see :func:`_rdiv255`); int32/float32 elsewhere keeps the 128-row
    band temporaries cache-resident (float64 triples the bandwidth).
    """
    sa = source[..., 3]
    da8 = dest[..., 3]
    if (da8 == 255).all():
        # opaque destination (the dominant case: shading over an opaque
        # base layer): A is the constant 65025, so the division becomes
        # rgb = rint((src·sa + dst·(255−sa)) / 255) with a constant
        # divisor — exact, since x/255 never lands on .5 for integer x
        if not source[..., :3].any():
            # black source (igor/lambert/slope default shading color):
            # the src·sa term vanishes — the fused igor path's kernel
            return over_black(sa, dest)
        num = source[..., :3].astype(np.uint16)
        num *= sa[..., None]
        t = dest[..., :3].astype(np.uint16)
        t *= (255 - sa)[..., None]
        num += t
        out = np.empty_like(source)
        out[..., :3] = _rdiv255(num)
        out[..., 3] = 255
        np.copyto(out, source, where=(sa == 255)[..., None])
        return out
    sa8 = sa.astype(np.int32)
    da8 = da8.astype(np.int32)
    inv = 255 - sa8
    da_inv = da8 * inv
    a_num = sa8 * 255 + da_inv  # A: out alpha numerator, ≤ 65025
    p_num = (
        source[..., :3].astype(np.int32) * (sa8 * 255)[..., None]
        + dest[..., :3].astype(np.int32) * da_inv[..., None]
    )
    out = np.empty_like(source)
    safe_a = np.where(a_num == 0, 1, a_num).astype(np.float32)
    out[..., :3] = np.rint(
        np.true_divide(p_num, safe_a[..., None], dtype=np.float32)
    ).astype(np.uint8)
    # A/255 never lands exactly on .5, so half-even == half-up == this
    # exact integer rounding
    out[..., 3] = ((2 * a_num + 255) // 510).astype(np.uint8)
    # fast paths (exact byte-identical short-circuits of the reference)
    take_src = ((sa8 == 255) | ((sa8 != 0) & (da8 == 0)))[..., None]
    np.copyto(out, source, where=take_src)
    np.copyto(out, dest, where=(sa8 == 0)[..., None])
    return out


def composite_darken(source: np.ndarray, dest: np.ndarray) -> np.ndarray:
    """α_out = 1 − (1−αs)(1−αd); RGB forced black (AlphaCompositing.fs:97-131).

    Integer form: α8 = 255 − rint((255−sa8)(255−da8)/255), exact because
    the quotient never lands on .5.
    """
    num = (255 - source[..., 3].astype(np.int32)) * (
        255 - dest[..., 3].astype(np.int32)
    )
    out = np.zeros(source.shape, dtype=np.uint8)
    out[..., 3] = (255 - (2 * num + 255) // 510).astype(np.uint8)
    return out


COMPOSITING_FUNCS = {
    "over": composite_over,
    "alpha-darken": composite_darken,
    "darken": composite_darken,
}


# ---------------------------------------------------------------------------
# resampling / aggregation kernels
# ---------------------------------------------------------------------------

def downsample_average_2x2(heights: np.ndarray) -> np.ndarray:
    """2×2 average ignoring missing; all-missing → missing
    (Downsampling.fs:67-130).  Input int16 (2h, 2w) → int16 (h, w),
    half-to-even rounding like .NET Math.Round.
    """
    h, w = heights.shape
    f = heights_to_float(heights).reshape(h // 2, 2, w // 2, 2)
    counts = np.sum(~np.isnan(f), axis=(1, 3))
    sums = np.nansum(f, axis=(1, 3))
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(counts > 0, sums / counts, np.nan)
    return float_to_heights(mean)


def resample_area_weighted(heights: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-weighted float-factor resample (Dem/Funcs.fs:561-624).

    Each output cell averages the source cells it overlaps, weighted by
    overlap area, skipping missing cells; all-missing → missing.
    """
    in_h, in_w = heights.shape
    f = heights_to_float(heights)
    ok = ~np.isnan(f)
    fz = np.nan_to_num(f)
    # integral images for O(1) box sums; fractional edges handled by
    # computing on a fine alignment via linear interpolation of integrals
    ys = np.linspace(0, in_h, out_h + 1)
    xs = np.linspace(0, in_w, out_w + 1)
    cs_v = np.zeros((in_h + 1, in_w + 1))
    cs_n = np.zeros((in_h + 1, in_w + 1))
    cs_v[1:, 1:] = np.cumsum(np.cumsum(fz, axis=0), axis=1)
    cs_n[1:, 1:] = np.cumsum(np.cumsum(ok.astype(np.float64), axis=0), axis=1)

    def box(cs, y0, y1, x0, x1):
        # bilinear sample of the integral image at fractional coords
        def at(yy, xx):
            yi = np.clip(yy, 0, in_h)
            xi = np.clip(xx, 0, in_w)
            y0i = np.floor(yi).astype(int)
            x0i = np.floor(xi).astype(int)
            y1i = np.minimum(y0i + 1, in_h)
            x1i = np.minimum(x0i + 1, in_w)
            fy = yi - y0i
            fx = xi - x0i
            v00 = cs[y0i][:, x0i]
            v01 = cs[y0i][:, x1i]
            v10 = cs[y1i][:, x0i]
            v11 = cs[y1i][:, x1i]
            return (
                v00 * np.outer(1 - fy, 1 - fx)
                + v01 * np.outer(1 - fy, fx)
                + v10 * np.outer(fy, 1 - fx)
                + v11 * np.outer(fy, fx)
            )

        return at(y1, x1) - at(y1, x0) - at(y0, x1) + at(y0, x0)

    vals = box(cs_v, ys[:-1], ys[1:], xs[:-1], xs[1:])
    cnts = box(cs_n, ys[:-1], ys[1:], xs[:-1], xs[1:])
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = vals / cnts
    mean[cnts <= 1e-9] = np.nan
    return float_to_heights(mean)


def resample_majority_binary(mask: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Majority resample of a 0/1 raster: weight ratio > 0.5 → 1
    (WaterBodies/Funcs.fs:9-64)."""
    vals = resample_area_weighted(
        np.where(mask > 0, np.int16(1000), np.int16(0)), out_h, out_w
    )
    return (vals > 500).astype(np.int16)


def sum_cells_9(heights: np.ndarray) -> np.ndarray:
    """3×3 neighborhood sum + the center again (Dem/Funcs.fs:480-502).

    Edge cells treat out-of-bounds neighbors as 0; missing handled as 0.
    """
    f = np.where(heights == DEM_HEIGHT_NONE, 0, heights).astype(np.int64)
    padded = np.pad(f, 1, mode="constant")
    total = np.zeros_like(f)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            total += padded[dy : dy + f.shape[0], dx : dx + f.shape[1]]
    return total + f


def bilinear_interpolate(
    heights_f: np.ndarray, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """4-corner lerp at fractional local coords; any missing corner → NaN
    (Dem/Types.fs:21-33,143-155).  ``heights_f`` float with NaN missing.
    """
    h, w = heights_f.shape
    x1 = np.floor(x).astype(int)
    y1 = np.floor(y).astype(int)
    x2 = np.ceil(x).astype(int)
    y2 = np.ceil(y).astype(int)
    valid = (x1 >= 0) & (y1 >= 0) & (x2 < w) & (y2 < h)
    x1c, x2c = np.clip(x1, 0, w - 1), np.clip(x2, 0, w - 1)
    y1c, y2c = np.clip(y1, 0, h - 1), np.clip(y2, 0, h - 1)
    h1 = heights_f[y1c, x1c]
    h2 = heights_f[y1c, x2c]
    h3 = heights_f[y2c, x1c]
    h4 = heights_f[y2c, x2c]
    dx = x - np.floor(x)
    dy = y - np.floor(y)
    hh1 = (h2 - h1) * dx + h1
    hh2 = (h4 - h3) * dx + h3
    out = (hh2 - hh1) * dy + hh1
    out = np.where(valid, out, np.nan)
    return out


def value_histogram(heights: np.ndarray) -> dict[int, int]:
    """Height-value → count map (Dem/Funcs.fs:508-510)."""
    vals, counts = np.unique(heights, return_counts=True)
    return {int(v): int(c) for v, c in zip(vals, counts)}


# ---------------------------------------------------------------------------
# height-raster prefilters (reference roadmap "low and high pass filters
# to augment the shaders", /root/reference/docs/Roadmap.md) — applied to
# the padded heights BEFORE the Horn gradient; each consumes one halo
# ring, so the pipeline fetches halo width 2 when one is active
# ---------------------------------------------------------------------------

def filter_gauss3(padded_f: np.ndarray) -> np.ndarray:
    """NaN-aware 3×3 Gaussian low-pass over float heights.

    Input (H, W) with NaN = missing; output (H−2, W−2).  A cell stays
    missing iff its own center is missing; otherwise the [[1,2,1],
    [2,4,2],[1,2,1]]/16 weights renormalize over the non-missing
    neighbors (the DemHeightNone-propagation discipline of §4.3 applied
    to a new operator: smoothing never invents data over holes, and
    holes never grow).
    """
    w = np.array([[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]],
                 dtype=padded_f.dtype)
    num = np.zeros_like(padded_f[1:-1, 1:-1])
    den = np.zeros_like(num)
    valid = ~np.isnan(padded_f)
    filled = np.where(valid, padded_f, 0)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            wt = w[dy + 1, dx + 1]
            ys = slice(1 + dy, padded_f.shape[0] - 1 + dy)
            xs = slice(1 + dx, padded_f.shape[1] - 1 + dx)
            num += wt * filled[ys, xs]
            den += wt * valid[ys, xs]
    out = np.where(den > 0, num / np.where(den > 0, den, 1), np.nan)
    out[~valid[1:-1, 1:-1]] = np.nan  # center missing stays missing
    return out


def filter_sharpen(padded_f: np.ndarray, amount: float = 1.0) -> np.ndarray:
    """High-pass sharpen: h + amount·(h − gauss3(h)), NaN-preserving.
    Input (H, W); output (H−2, W−2)."""
    low = filter_gauss3(padded_f)
    center = padded_f[1:-1, 1:-1]
    return center + amount * (center - low)


#: prefilter registry: name -> (ctx-free fn(padded_f, **params) -> smaller
#: array).  Each entry consumes exactly one halo ring.
PREFILTERS = {
    "blur": filter_gauss3,
    "sharpen": filter_sharpen,
}
