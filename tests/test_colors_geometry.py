"""Color math, color-scale and geometry tests.

Sources:
  - hex parse/format + mixColors: /root/reference/Demeton/Png/Rgba8Bit.fs:46-124
  - Maperitive scale: /root/reference/Demeton/Shaders/ElevationColoring.fs:128-137
  - scale grammar: /root/reference/Demeton/Shaders/ElevationColoring.fs:38-87
  - angle math: /root/reference/Demeton/Geometry/Common.fs:90-156
  - Mercator clamp: /root/reference/Demeton/Projections/Mercator.fs:8-12
"""

import math

import numpy as np
import pytest

from demeton_spark import colors, geometry


def test_hex_parse_and_format():
    assert colors.parse_hex("#ccf3ff") == (0xCC, 0xF3, 0xFF, 0xFF)
    assert colors.parse_hex("#00000000") == (0, 0, 0, 0)  # aarrggbb: a=00
    assert colors.parse_hex("#80ff0000") == (0xFF, 0, 0, 0x80)
    assert colors.to_hex((0xCC, 0xF3, 0xFF, 0xFF)) == "#ccf3ff"
    assert colors.to_hex((0xFF, 0, 0, 0x80)) == "#80ff0000"


def test_pack_unpack_round_trip():
    c = (12, 34, 56, 78)
    assert colors.unpack(colors.pack(c)) == c


def test_mix_colors_endpoints_and_midpoint():
    a, b = (0, 0, 0, 0), (255, 255, 255, 255)
    assert colors.mix_colors(a, b, 0.0) == a
    assert colors.mix_colors(a, b, 1.0) == b
    assert colors.mix_colors(a, b, 0.5) == (127, 127, 127, 127)  # trunc


def test_mix_colors_np_matches_scalar():
    rng = np.random.default_rng(0)
    for _ in range(50):
        a = tuple(rng.integers(0, 256, 4))
        b = tuple(rng.integers(0, 256, 4))
        r = float(rng.random())
        scalar = colors.mix_colors(a, b, r)
        vec = tuple(colors.mix_colors_np(a, b, np.array([r]))[0])
        assert scalar == vec


def test_color_scale_parse_round_trip():
    text = "0:#000000;3000:#ffffff;none:#00000000"
    scale = colors.parse_color_scale(text)
    assert scale.marks == ((0, (0, 0, 0, 255)), (3000, (255, 255, 255, 255)))
    assert scale.none_color == (0, 0, 0, 0)
    assert scale.to_string() == text


def test_color_scale_rejects_unsorted():
    with pytest.raises(ValueError):
        colors.parse_color_scale("3000:#ffffff;0:#000000;none:#00000000")


def test_color_of_height_piecewise():
    scale = colors.parse_color_scale("0:#000000;1000:#646464;none:#00000000")
    assert scale.color_of_height(None) == (0, 0, 0, 0)
    assert scale.color_of_height(-50) == (0, 0, 0, 255)  # below first mark
    assert scale.color_of_height(2000) == (100, 100, 100, 255)  # above last
    assert scale.color_of_height(500) == (50, 50, 50, 255)


def test_colorize_matches_scalar():
    scale = colors.MAPERITIVE_SCALE
    heights = np.array([[0.0, 350.0, np.nan], [1000.0, 5000.0, -10.0]])
    out = scale.colorize(heights, np.isnan(heights))
    for y in range(2):
        for x in range(3):
            h = heights[y, x]
            expected = scale.color_of_height(None if np.isnan(h) else h)
            assert tuple(out[y, x]) == expected


def test_colorize_dem_matches_float_colorize():
    """The int16 gather equals the float path over the whole int16
    domain; the DEM_HEIGHT_NONE sentinel takes the none color."""
    from demeton_spark.tiles import DEM_HEIGHT_NONE

    scale = colors.parse_color_scale("-100:#102030;0:#ccf3ff;"
                                     "2500:#f2ebd2;none:#40ff8000")
    dem = np.arange(-32768, 32768, dtype=np.int64).astype(np.int16)
    dem = dem.reshape(256, 256)
    f = dem.astype(np.float64)
    f[dem == DEM_HEIGHT_NONE] = np.nan
    out = scale.colorize_dem(dem)
    assert np.array_equal(out, scale.colorize(f, np.isnan(f)))
    assert tuple(out[0, 0]) == scale.none_color
    assert np.array_equal(out[::5, 1::3], scale.colorize_dem(dem[::5, 1::3]))


def test_normalize_angle():
    assert geometry.normalize_angle(-math.pi / 2, 2 * math.pi) == pytest.approx(
        3 * math.pi / 2
    )
    assert geometry.normalize_angle(5.0, 2.0) == pytest.approx(1.0)


def test_difference_between_angles():
    assert geometry.difference_between_angles(0.1, 2 * math.pi - 0.1, 2 * math.pi) == pytest.approx(0.2)
    assert geometry.difference_between_angles(10.0, 350.0, 360.0) == pytest.approx(20.0)


def test_mean_of_angles():
    assert geometry.mean_of_angles(np.array([0.1, -0.1])) == pytest.approx(0.0)
    assert math.isnan(geometry.mean_of_angles(np.array([])))
    assert math.isnan(geometry.mean_of_angles(np.array([0.0, math.pi])))


def test_haversine_one_degree_latitude():
    d = geometry.geodetic_distance_approx(0.0, 0.0, 0.0, math.radians(1.0))
    assert d == pytest.approx(geometry.EARTH_RADIUS_M * math.radians(1.0), rel=1e-9)


def test_mercator_round_trip_and_clamp():
    proj = geometry.Mercator(geometry.MapScale.scale_of_1())
    lon = np.array([math.radians(13.5)])
    lat = np.array([math.radians(46.2)])
    x, y, valid = proj.project(lon, lat)
    assert valid[0]
    lon2, lat2 = proj.invert(x, y)
    assert lon2[0] == pytest.approx(lon[0])
    assert lat2[0] == pytest.approx(lat[0])
    # latitude beyond the clamp is invalid
    _, _, valid2 = proj.project(np.array([0.0]), np.array([1.49]))
    assert not valid2[0]


def test_points_in_polygon():
    square_x = np.array([0.0, 1.0, 1.0, 0.0])
    square_y = np.array([0.0, 0.0, 1.0, 1.0])
    px = np.array([0.5, 1.5, -0.1, 0.99])
    py = np.array([0.5, 0.5, 0.5, 0.01])
    inside = geometry.points_in_polygon(px, py, square_x, square_y)
    assert list(inside) == [True, False, False, True]


def test_points_in_concave_polygon():
    # L-shape
    poly_x = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    poly_y = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    px = np.array([1.5, 1.5, 0.5])
    py = np.array([0.5, 1.5, 1.5])
    inside = geometry.points_in_polygon(px, py, poly_x, poly_y)
    assert list(inside) == [True, False, True]


def test_bounds_contains_inclusive():
    assert geometry.bounds_contains(0, 0, 1, 1, 1.0, 1.0)
    assert not geometry.bounds_contains(0, 0, 1, 1, 1.0001, 1.0)
