"""Kernel golden + property tests ported from the reference suite.

Sources:
  - slope/aspect goldens:
    /root/reference/Demeton.Tests/Shaders/Hillshading/Calculating aspect and slope.fs:17-111
  - igor shader properties:
    /root/reference/Demeton.Tests/Shaders/Hillshading/Igor's shading method.fs:21-116
  - downsampling semantics: /root/reference/Demeton/Srtm/Downsampling.fs:67-100
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from demeton_spark import kernels
from demeton_spark.colors import MAPERITIVE_SCALE
from demeton_spark.geometry import (
    EARTH_RADIUS_M,
    deg_to_rad,
    difference_between_angles,
    geodetic_distance_approx,
    normalize_angle,
    rad_to_deg,
)
from demeton_spark.tiles import DEM_HEIGHT_NONE


def slope_aspect_for_3x3(heights_north_up):
    """Port of slopeAndAspectForHeights (Calculating aspect and slope.fs:17-43).

    ``heights_north_up`` is the 9-element row-major array with row 0 at the
    north; the reference flips it into DEM (south-up) order, places the
    cells 500 m apart at lon 16° lat 45°, and runs calculatePQ.
    """
    h = np.array(heights_north_up, dtype=np.float64).reshape(3, 3)
    dem = h[::-1, :]  # south-up
    lon = deg_to_rad(16.0)
    lat = deg_to_rad(45.0)
    dx = 500.0 / (math.cos(lat) * EARTH_RADIUS_M)
    # gridSize from coords exactly as the reference (Hillshading.fs:30-38)
    grid_w = geodetic_distance_approx(lon - dx, lat + dx, lon, lat + dx)
    grid_h = geodetic_distance_approx(lon - dx, lat + dx, lon - dx, lat)
    padded = np.full((5, 5), np.nan)
    padded[1:4, 1:4] = dem
    p, q = kernels.horn_pq(padded, np.full((3, 3), grid_w), np.full((3, 3), grid_h))
    slope, aspect = kernels.slope_and_aspect(p, q)
    return slope[1, 1], aspect[1, 1]


def test_north_facing_face():
    slope, aspect = slope_aspect_for_3x3([0, 0, 0, 500, 500, 500, 1000, 1000, 1000])
    assert aspect == pytest.approx(0.0, abs=1e-12)
    assert rad_to_deg(slope) == pytest.approx(35.26438968, abs=1e-6)


def test_east_facing_face():
    slope, aspect = slope_aspect_for_3x3([1000, 500, 0] * 3)
    assert aspect == pytest.approx(math.radians(90.0), abs=1e-12)
    assert rad_to_deg(slope) == pytest.approx(45.00317994, abs=1e-6)


def test_south_facing_face():
    slope, aspect = slope_aspect_for_3x3([1000, 1000, 1000, 500, 500, 500, 0, 0, 0])
    assert rad_to_deg(normalize_angle(aspect, 2 * math.pi)) == pytest.approx(180.0)
    assert rad_to_deg(slope) == pytest.approx(35.26438968, abs=1e-6)


def test_west_facing_face():
    slope, aspect = slope_aspect_for_3x3([0, 500, 1000] * 3)
    assert rad_to_deg(normalize_angle(aspect, 2 * math.pi)) == pytest.approx(270.0)
    assert rad_to_deg(slope) == pytest.approx(45.00317994, abs=1e-6)


def test_missing_neighbor_gives_nan_pq():
    padded = np.full((5, 5), 100.0)
    padded[0, 0] = np.nan
    p, q = kernels.horn_pq(padded, np.ones((3, 3)), np.ones((3, 3)))
    assert np.isnan(p[0, 0]) and np.isnan(q[0, 0])
    assert not np.isnan(p[2, 2])


# --- igor shader properties (Igor's shading method.fs:21-116) --------------

def _igor_alpha(slope, aspect, sun_az):
    out = kernels.shade_igor(
        np.array([[slope]]), np.array([[aspect]]), sun_azimuth_rad=sun_az
    )
    return int(out[0, 0, 3])


def test_igor_flat_face_has_zero_darkness():
    for aspect in [0.0, 1.0, 4.0]:
        assert _igor_alpha(0.0, aspect, math.radians(-45.0)) == 0


@settings(max_examples=200, deadline=None)
@given(
    sun_az=st.floats(0, 2 * math.pi),
    aspect1=st.floats(0, math.pi / 2),
    aspect2=st.floats(0, math.pi / 2),
)
def test_igor_aspect_closer_to_sun_is_not_darker(sun_az, aspect1, aspect2):
    slope45 = math.radians(45.0)
    d1 = _igor_alpha(slope45, aspect1, sun_az)
    d2 = _igor_alpha(slope45, aspect2, sun_az)
    diff1 = difference_between_angles(aspect1, sun_az, 2 * math.pi)
    diff2 = difference_between_angles(aspect2, sun_az, 2 * math.pi)
    if diff1 <= diff2:
        assert d1 <= d2
    else:
        assert d1 >= d2


@settings(max_examples=200, deadline=None)
@given(sun_az=st.floats(0, 2 * math.pi), aspect=st.floats(0, 2 * math.pi))
def test_igor_symmetric_aspects_equal_darkness(sun_az, aspect):
    slope45 = math.radians(45.0)
    diff = difference_between_angles(aspect, sun_az, 2 * math.pi)
    one = _igor_alpha(slope45, sun_az - diff, sun_az)
    other = _igor_alpha(slope45, sun_az + diff, sun_az)
    assert abs(one - other) <= 1


def test_igor_nan_aspect_is_transparent():
    out = kernels.shade_igor(np.array([[np.nan]]), np.array([[np.nan]]))
    assert tuple(out[0, 0]) == (0, 0, 0, 0)


# --- lambert sanity ---------------------------------------------------------

def test_lambert_flat_face_at_45_altitude():
    # flat face: luminance = sin(45°)·1 ≈ 0.707 → darkness ≈ 0.293
    out = kernels.shade_lambert(np.array([[0.0]]), np.array([[0.0]]))
    expected = int((1.0 - math.sin(math.radians(45.0))) * 255.0)
    assert abs(int(out[0, 0, 3]) - expected) <= 1


# --- downsampling (Downsampling.fs:67-100) ----------------------------------

def test_downsample_average_basic():
    block = np.array([[10, 20], [30, 40]], dtype=np.int16)
    out = kernels.downsample_average_2x2(block)
    assert out.shape == (1, 1)
    assert out[0, 0] == 25


def test_downsample_average_ignores_missing():
    block = np.array([[10, DEM_HEIGHT_NONE], [30, DEM_HEIGHT_NONE]], dtype=np.int16)
    out = kernels.downsample_average_2x2(block)
    assert out[0, 0] == 20


def test_downsample_average_all_missing():
    block = np.full((2, 2), DEM_HEIGHT_NONE, dtype=np.int16)
    out = kernels.downsample_average_2x2(block)
    assert out[0, 0] == DEM_HEIGHT_NONE


def test_downsample_half_to_even_rounding():
    # (1+2+3+3)/4 = 2.25 → 2 ; (1+2)/2 = 1.5 → round-half-even → 2
    block = np.array([[1, 2], [3, 3]], dtype=np.int16)
    assert kernels.downsample_average_2x2(block)[0, 0] == 2
    block2 = np.array([[1, 2], [DEM_HEIGHT_NONE, DEM_HEIGHT_NONE]], dtype=np.int16)
    assert kernels.downsample_average_2x2(block2)[0, 0] == 2
    block3 = np.array([[3, 2], [DEM_HEIGHT_NONE, DEM_HEIGHT_NONE]], dtype=np.int16)
    assert kernels.downsample_average_2x2(block3)[0, 0] == 2  # 2.5 → 2


# --- bilinear interpolation (Dem/Types.fs:21-33) ----------------------------

def test_bilinear_interpolate():
    grid = kernels.heights_to_float(
        np.array([[0, 100], [200, 300]], dtype=np.int16)
    )
    out = kernels.bilinear_interpolate(grid, np.array([0.5]), np.array([0.5]))
    assert out[0] == pytest.approx(150.0)


def test_bilinear_missing_corner_propagates():
    grid = kernels.heights_to_float(
        np.array([[0, DEM_HEIGHT_NONE], [200, 300]], dtype=np.int16)
    )
    out = kernels.bilinear_interpolate(grid, np.array([0.5]), np.array([0.5]))
    assert np.isnan(out[0])
    # integer coords on a valid cell still work
    out2 = kernels.bilinear_interpolate(grid, np.array([0.0]), np.array([0.0]))
    assert out2[0] == pytest.approx(0.0)


# --- compositing ------------------------------------------------------------

def test_composite_over_fast_paths():
    src = np.zeros((1, 3, 4), dtype=np.uint8)
    dst = np.zeros((1, 3, 4), dtype=np.uint8)
    src[0, 0] = [10, 20, 30, 0]  # transparent src → dest
    dst[0, 0] = [1, 2, 3, 200]
    src[0, 1] = [10, 20, 30, 255]  # opaque src → src
    dst[0, 1] = [1, 2, 3, 200]
    src[0, 2] = [10, 20, 30, 100]  # transparent dest → src
    dst[0, 2] = [0, 0, 0, 0]
    out = kernels.composite_over(src, dst)
    assert tuple(out[0, 0]) == (1, 2, 3, 200)
    assert tuple(out[0, 1]) == (10, 20, 30, 255)
    assert tuple(out[0, 2]) == (10, 20, 30, 100)


def test_composite_over_blend_against_scalar_reference():
    # scalar port of pixelOver (AlphaCompositing.fs:35-72)
    def scalar_over(s, d):
        sa, da = s[3] / 255.0, d[3] / 255.0
        sp = [v / 255.0 * sa for v in s[:3]]
        dp = [v / 255.0 * da for v in d[:3]]
        op = [a + b * (1 - sa) for a, b in zip(sp, dp)]
        oa = sa + da * (1 - sa)
        rgb = [
            min(max(int(np.round(v / oa * 255.0)), 0), 255) for v in op
        ]
        return (*rgb, min(max(int(np.round(oa * 255.0)), 0), 255))

    rng = np.random.default_rng(42)
    src = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    dst = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    # avoid fast-path alphas so the blend branch is exercised
    src[..., 3] = np.clip(src[..., 3], 1, 254)
    dst[..., 3] = np.clip(dst[..., 3], 1, 254)
    out = kernels.composite_over(src, dst)
    for y in range(4):
        for x in range(4):
            assert tuple(out[y, x]) == scalar_over(src[y, x], dst[y, x])


def test_composite_darken():
    src = np.array([[[9, 9, 9, 255]]], dtype=np.uint8)
    dst = np.array([[[7, 7, 7, 128]]], dtype=np.uint8)
    out = kernels.composite_darken(src, dst)
    assert tuple(out[0, 0]) == (0, 0, 0, 255)


# --- misc kernels ------------------------------------------------------------

def test_sum_cells_9():
    grid = np.arange(9, dtype=np.int16).reshape(3, 3)
    out = kernels.sum_cells_9(grid)
    # center: sum of all 9 (=36) + center again (4) = 40
    assert out[1, 1] == 40


def test_value_histogram():
    grid = np.array([[1, 1, 2], [3, 3, 3]], dtype=np.int16)
    assert kernels.value_histogram(grid) == {1: 2, 2: 1, 3: 3}


def test_resample_area_weighted_identity_and_downscale():
    grid = np.arange(16, dtype=np.int16).reshape(4, 4) * 100
    same = kernels.resample_area_weighted(grid, 4, 4)
    assert np.array_equal(same, grid)
    half = kernels.resample_area_weighted(grid, 2, 2)
    expected = kernels.downsample_average_2x2(grid)
    assert np.array_equal(half, expected)


def test_resample_majority_binary():
    mask = np.array([[1, 1, 0, 0], [1, 1, 0, 0], [0, 0, 0, 0], [0, 0, 0, 1]], dtype=np.int16)
    out = kernels.resample_majority_binary(mask, 2, 2)
    assert out[0, 0] == 1 and out[0, 1] == 0 and out[1, 0] == 0 and out[1, 1] == 0


def test_fused_igor_over_opaque_identical_to_unfused():
    """The evaluate_steps fused branch must be byte-identical to the
    unfused shade_igor + composite_over composition, including NaN
    aspect (transparent igor pixels leave the base untouched)."""
    import math

    from demeton_spark import pipeline as P

    rng = np.random.default_rng(7)
    h, w = 64, 64
    slope = rng.uniform(0, math.pi / 2, (h, w))
    aspect = rng.uniform(0, 2 * math.pi, (h, w))
    aspect[5:9, 5:9] = np.nan
    slope[5:9, 5:9] = np.nan
    heights = rng.uniform(0, 3000, (h, w))
    ctx = P.ShadeContext(heights=heights, slope=slope, aspect=aspect)

    for params in ({}, {"sunaz": "135"}, {"intensity": "0.7"}):
        steps = [P.Step("elecolor", {}), P.Step("igor", dict(params))]
        fused = P.evaluate_steps(steps, ctx)
        base = kernels.shade_elevation(heights, MAPERITIVE_SCALE)
        layer = kernels.shade_igor(
            slope, aspect,
            sun_azimuth_rad=math.radians(float(params.get("sunaz", -45.0))),
            intensity=float(params.get("intensity", 1.0)),
        )
        unfused = kernels.composite_over(layer, base)
        assert np.array_equal(fused, unfused), params

    # non-black shading color must NOT take the fused branch
    steps = [P.Step("elecolor", {}), P.Step("igor", {"shadcol": "#336699"})]
    fused = P.evaluate_steps(steps, ctx)
    layer = kernels.shade_igor(
        slope, aspect, shading_color=(0x33, 0x66, 0x99, 0)
    )
    base = kernels.shade_elevation(heights, MAPERITIVE_SCALE)
    assert np.array_equal(fused, kernels.composite_over(layer, base))


def test_over_black_exhaustive_against_composite_over():
    """Every dst byte × igor alpha 0..255 × base alpha 0 and 255: the
    fused kernel equals composite_over with a black source (the mixed
    base alphas route composite_over through its general blend) and the
    exact rint(dst·(255−α)/255) on the opaque half."""
    d, a = (g.ravel() for g in np.meshgrid(
        np.arange(256, dtype=np.uint8), np.arange(256, dtype=np.uint8)))
    dest = np.zeros((2, d.size, 4), dtype=np.uint8)
    dest[..., 0] = d
    dest[..., 1] = 255 - d
    dest[..., 2] = d // 3
    dest[0, :, 3] = 255
    dest[1, :, 3] = 0
    alpha = np.broadcast_to(a, (2, a.size))
    src = np.zeros_like(dest)
    src[..., 3] = alpha

    fused = kernels.over_black(alpha, dest)
    assert np.array_equal(fused, kernels.composite_over(src, dest))
    exact = np.rint(dest[0, :, :3] * (255.0 - a[:, None]) / 255.0)
    assert np.array_equal(fused[0, :, :3], exact.astype(np.uint8))
    assert (fused[0, :, 3] == 255).all()
    # transparent base: (0,0,0,α) where α > 0, the base itself where α = 0
    hole = fused[1]
    assert np.array_equal(hole[a == 0], dest[1][a == 0])
    assert (hole[a > 0, :3] == 0).all() and np.array_equal(hole[a > 0, 3], a[a > 0])


def test_fused_igor_over_voids_and_half_transparent_base():
    """A base with transparent voids takes the fused branch, a base with
    alpha 128 the general one; both equal shade_igor + composite_over."""
    import math

    from demeton_spark import pipeline as P
    from demeton_spark.colors import parse_color_scale

    rng = np.random.default_rng(11)
    h, w = 48, 48
    heights = rng.uniform(0, 3000, (h, w))
    heights[::7, ::5] = np.nan  # isolated voids: Horn still finds an aspect
    ctx = P.ShadeContext(
        heights=heights,
        slope=rng.uniform(0, math.pi / 2, (h, w)),
        aspect=rng.uniform(0, 2 * math.pi, (h, w)),
    )
    ctx.slope[:4, :4] = 0.0  # igor alpha 0 over some voids
    voids = np.isnan(heights)
    marks = "0:#ccf3ff;1:#8ed48e;700:#f5fac4;3500:#ffffff;"
    layer = kernels.shade_igor(ctx.slope, ctx.aspect)
    for none, base_alpha in (("#00000000", 0), ("#00ff0000", 0),
                             ("#80336699", 128)):
        scale = marks + "none:" + none
        steps = [P.Step("elecolor", {"scale": scale}), P.Step("igor", {})]
        base = kernels.shade_elevation(heights, parse_color_scale(scale))
        ref = kernels.composite_over(layer, base)
        assert (ref[voids, 3] != base_alpha).any()  # some voids got shaded
        assert np.array_equal(P.evaluate_steps(steps, ctx), ref), none


def test_fused_igor_on_hole_tile_matches_general_path(monkeypatch):
    """On a synthetic tile with hole blocks the engine's shade (fused
    igor, elecolor gathered from the int16 band) is byte-identical to the
    general path: a wrapped igor defeats the fusion check and elecolor
    sees a ShadeContext without the int16 band."""
    import dataclasses

    from demeton_spark import engine, pipeline as P, synth

    ts = 1800  # steep enough per cell that isolated voids get shaded
    spec = synth.WorldSpec(lon0=13, lat0=45, n_tiles_x=1, n_tiles_y=1,
                           tile_size=ts, block_size=300)
    world = synth.expected_world_heights(spec)
    voids = (world == DEM_HEIGHT_NONE)[::-1]  # bitmap orientation
    assert voids.any()  # the hole blocks are in
    padded = np.full((ts + 2, ts + 2), DEM_HEIGHT_NONE, dtype=np.int16)
    padded[1:-1, 1:-1] = world
    steps = P.parse_script("elecolor|+igor")
    general = dict(P.SHADER_REGISTRY)
    general["igor"] = lambda ctx, params: P._shade_igor(ctx, params)
    general["elecolor"] = lambda ctx, params: P._shade_elecolor(
        dataclasses.replace(ctx, dem=None), params)

    blends = []
    over = kernels.composite_over
    monkeypatch.setitem(kernels.COMPOSITING_FUNCS, "over",
                        lambda s, d: blends.append(1) or over(s, d))
    fast, n_fast = engine.shade_padded_block(padded, 13, 45, ts, steps)
    assert blends == []  # every band fused, the hole bands included
    slow, n_slow = engine.shade_padded_block(padded, 13, 45, ts, steps,
                                             registry=general)
    assert len(blends) == -(-ts // engine.SHADE_BAND_ROWS)
    assert np.array_equal(fast, slow) and n_fast == n_slow
    # voids under igor alpha 0 stay transparent, the others go (0,0,0,α)
    assert 0 < np.count_nonzero(fast[voids, 3]) < voids.sum()


def test_igor_override_beats_fusion():
    """register_shader('igor', custom) must win even when the base layer
    is fully opaque and shadcol is black — the fused fast path only
    applies while 'igor' still maps to the built-in shader."""
    from demeton_spark import pipeline as P

    h, w = 8, 8
    heights = np.full((h, w), 1000.0)
    ctx = P.ShadeContext(
        heights=heights, slope=np.full((h, w), 0.3), aspect=np.zeros((h, w))
    )

    def custom_igor(c, params):
        out = np.zeros((h, w, 4), dtype=np.uint8)
        out[..., 1] = 123  # green — nothing the builtin would produce
        out[..., 3] = 255
        return out

    steps = [P.Step("elecolor", {}), P.Step("igor", {})]
    builtin = P.evaluate_steps(steps, ctx)
    assert not (builtin[..., 1] == 123).all()
    reg = dict(P.SHADER_REGISTRY)
    reg["igor"] = custom_igor
    overridden = P.evaluate_steps(steps, ctx, registry=reg)
    assert (overridden[..., 1] == 123).all() and (overridden[..., 3] == 255).all()


def _horn_textbook(padded, grid_width, grid_height):
    """The 8-neighbour Horn formula as written in Hillshading.fs:40-60."""
    z0, z1, z2 = padded[:-2, :-2], padded[:-2, 1:-1], padded[:-2, 2:]
    z3, z5 = padded[1:-1, :-2], padded[1:-1, 2:]
    z6, z7, z8 = padded[2:, :-2], padded[2:, 1:-1], padded[2:, 2:]
    p = ((z8 + 2.0 * z5 + z2) - (z6 + 2.0 * z3 + z0)) / (8.0 * grid_width)
    q = ((z8 + 2.0 * z7 + z6) - (z2 + 2.0 * z1 + z0)) / (8.0 * grid_height)
    return p, q


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_horn_pq_bit_identical_to_textbook_formula(dtype):
    """The separable Horn equals the 8-neighbour formula bit for bit on
    integer heights up to the int16 extremes, NaN voids included."""
    rng = np.random.default_rng(5)
    h, w = 130, 97
    heights = rng.integers(-32767, 32768, (h + 2, w + 2)).astype(np.int16)
    heights[rng.random(heights.shape) < 0.1] = 32767
    heights[rng.random(heights.shape) < 0.1] = -32767
    heights[rng.random(heights.shape) < 0.03] = DEM_HEIGHT_NONE
    padded = kernels.heights_to_float(heights, dtype=dtype)
    gw = rng.uniform(5.0, 40.0, (h, 1)).astype(dtype)
    gh = np.full((h, 1), 30.87, dtype=dtype)
    got = kernels.horn_pq(padded, gw, gh)
    want = _horn_textbook(padded, gw, gh)
    for g, e in zip(got, want):
        assert g.dtype == e.dtype
        assert np.array_equal(g, e, equal_nan=True)
    assert np.isnan(got[0]).any() and not np.isnan(got[0]).all()


def _igor_alpha_out_of_place(slope, aspect, sun_azimuth_rad, intensity):
    """igor_alpha written with one temporary per operation."""
    two_pi = math.pi * 2.0
    saz = float(normalize_angle(sun_azimuth_rad, two_pi))
    aspect_n = aspect - two_pi * np.floor(aspect / two_pi)
    diff = np.abs(aspect_n - saz)
    aspect_diff = np.where(diff > math.pi, two_pi - diff, diff)
    darkness = (slope / (math.pi / 2.0)) * (aspect_diff / math.pi) * intensity
    return kernels.ratio_to_byte(np.where(~np.isnan(aspect), darkness, 0.0))


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_igor_alpha_bit_identical_to_out_of_place_formula(dtype):
    """Random slopes/aspects, NaN voids and aspects a few ulps either
    side of half a turn from the sun, for several suns and intensities."""
    rng = np.random.default_rng(9)
    slope = rng.uniform(0, math.pi / 2, 4000).astype(dtype)
    aspect = rng.uniform(0, 2 * math.pi, 4000).astype(dtype)
    aspect[::37] = np.nan
    slope[::37] = np.nan
    for sun_deg, intensity in ((-45.0, 1.0), (135.0, 0.7), (10.0, 1.3)):
        sun = math.radians(sun_deg)
        opposite = dtype(normalize_angle(sun + math.pi, 2 * math.pi))
        edge = np.array([opposite], dtype=dtype)
        for _ in range(4):  # ulps around the diff == π switch
            edge = np.concatenate([np.nextafter(edge, dtype(0)), edge,
                                   np.nextafter(edge, dtype(7))])
        a = np.concatenate([aspect, edge])
        s = np.concatenate([slope, np.full(edge.size, 1.0, dtype=dtype)])
        assert np.array_equal(
            kernels.igor_alpha(s, a, sun, intensity),
            _igor_alpha_out_of_place(s, a, sun, intensity),
        ), (sun_deg, intensity)


def _slope_and_aspect_out_of_place(p, q):
    """slope_and_aspect written with one temporary per operation."""
    slope = np.arctan(np.sqrt(p * p + q * q))
    two_pi = math.pi * 2.0
    raw = (math.pi * 3.0 / 2.0) - np.arctan2(q, p)
    return slope, np.where(raw >= two_pi, raw - two_pi, raw)


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_slope_and_aspect_bit_identical_to_out_of_place_formula(dtype):
    """Horn p/q of a random int16 block with NaN voids, plus flat and
    axis-aligned gradients (aspect exactly at the 2π wrap)."""
    rng = np.random.default_rng(11)
    h, w = 128, 181
    heights = rng.integers(-500, 3000, (h + 2, w + 2)).astype(np.int16)
    heights[rng.random(heights.shape) < 0.05] = DEM_HEIGHT_NONE
    heights[:20] = 100  # flat: p = q = 0
    heights[20:40] = np.arange(w + 2, dtype=np.int16)  # east-west ramp
    padded = kernels.heights_to_float(heights, dtype=dtype)
    gw = rng.uniform(5.0, 40.0, (h, 1)).astype(dtype)
    gh = np.full((h, 1), 30.87, dtype=dtype)
    p, q = kernels.horn_pq(padded, gw, gh)
    got = kernels.slope_and_aspect(p, q)
    want = _slope_and_aspect_out_of_place(p, q)
    for g, e in zip(got, want):
        assert g.dtype == e.dtype == dtype
        assert np.array_equal(g, e, equal_nan=True)
    assert np.isnan(got[1]).any() and not np.isnan(got[1]).all()
    assert (want[1] == 0.0).any()  # hit the raw ≥ 2π branch


def test_over_black_on_void_band_equals_composite_over_black_layer():
    """A band-shaped opaque base with scattered voids whose RGB is not
    black: over_black equals composite_over of an explicit black layer,
    with igor alpha 0 over some voids and > 0 over others."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, (64, 200, 4), dtype=np.uint8)
    voids = rng.random((64, 200)) < 0.05
    base[..., 3] = np.where(voids, 0, 255)
    alpha = rng.integers(0, 256, (64, 200), dtype=np.uint8)
    alpha[rng.random((64, 200)) < 0.3] = 0
    assert (voids & (alpha == 0)).any() and (voids & (alpha > 0)).any()
    assert base[voids, :3].any()
    layer = np.zeros_like(base)
    layer[..., 3] = alpha
    assert np.array_equal(kernels.over_black(alpha, base),
                          kernels.composite_over(layer, base))
