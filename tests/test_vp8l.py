"""From-scratch lossless WebP (VP8L) codec round trips and container
handling.  The reference decodes PNG/TIFF/HGT only (Png/File.fs:19-53,
Aw3d/Funcs.fs:180-261); VP8L is LLM-extras surface for web-corpus image
tables — see demeton_spark/vp8l.py module docstring."""

import struct

import numpy as np
import pytest

from demeton_spark import vp8l


def _rand_rgba(shape, seed):
    return np.random.default_rng(seed).integers(
        0, 256, size=shape + (4,), dtype=np.uint8
    )


@pytest.mark.parametrize("shape", [(1, 1), (3, 5), (16, 16), (33, 17), (7, 64)])
def test_roundtrip_shapes(shape):
    img = _rand_rgba(shape, sum(shape))
    out = vp8l.decode_webp(vp8l.encode_webp(img))
    assert out.shape == shape + (4,)
    assert np.array_equal(out, img)


@pytest.mark.parametrize("subtract_green", [False, True])
@pytest.mark.parametrize("cache_bits", [0, 1, 4, 8])
@pytest.mark.parametrize("rle", [False, True])
def test_roundtrip_encoder_options(subtract_green, cache_bits, rle):
    """Every encoder path (subtract-green transform, color cache sizes,
    distance-1 LZ77 runs) exercises a distinct decoder branch."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 9, 4), dtype=np.uint8)
    # inject runs so rle=True actually emits backward references
    img[4:7, :] = img[4, 0]
    blob = vp8l.encode_webp(
        img, subtract_green=subtract_green, cache_bits=cache_bits, rle=rle
    )
    assert np.array_equal(vp8l.decode_webp(blob), img)


def test_roundtrip_gray_and_rgb_inputs():
    g = np.arange(48, dtype=np.uint8).reshape(6, 8)
    out = vp8l.decode_webp(vp8l.encode_webp(g))
    assert np.array_equal(out[..., 0], g)
    assert np.array_equal(out[..., 1], g)
    assert np.array_equal(out[..., 2], g)
    assert (out[..., 3] == 255).all()

    rgb = _rand_rgba((5, 7), 2)[..., :3].copy()
    out = vp8l.decode_webp(vp8l.encode_webp(rgb))
    assert np.array_equal(out[..., :3], rgb)
    assert (out[..., 3] == 255).all()


def test_low_entropy_image_hits_simple_codes():
    """A constant image drives 1-symbol alphabets (the 'simple' prefix
    code form) through both the writer and the reader."""
    img = np.full((9, 9, 4), 77, dtype=np.uint8)
    blob = vp8l.encode_webp(img)
    assert np.array_equal(vp8l.decode_webp(blob), img)
    # and with a run-length encoder the whole payload is one literal +
    # backref chain (1-symbol codes make both forms ~0 bits/px already)
    blob2 = vp8l.encode_webp(img, rle=True)
    assert np.array_equal(vp8l.decode_webp(blob2), img)


def test_container_skips_unknown_chunks_and_pads_odd_sizes():
    img = _rand_rgba((4, 4), 5)
    blob = vp8l.encode_webp(img)
    # splice an odd-sized unknown chunk between the header and VP8L
    vp8l_off = blob.index(b"VP8L")
    extra = b"XTRA" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    spliced = blob[:vp8l_off] + extra + blob[vp8l_off:]
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    assert np.array_equal(vp8l.decode_webp(spliced), img)


def test_container_rejections():
    with pytest.raises(ValueError):
        vp8l.decode_webp(b"\x01\x02")
    with pytest.raises(ValueError):
        vp8l.decode_webp(b"RIFF\x04\x00\x00\x00WAVE")
    # lossy VP8 chunk → explicit rejection (quarantine upstream)
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 " + struct.pack("<I", 0)
    with pytest.raises(ValueError, match="lossy"):
        vp8l.decode_webp(lossy)
    # RIFF/WEBP with no VP8L chunk at all
    empty = b"RIFF" + struct.pack("<I", 4) + b"WEBP"
    with pytest.raises(ValueError):
        vp8l.decode_webp(empty)
    # truncated VP8L payload mid-bitstream
    img = _rand_rgba((8, 8), 6)
    blob = vp8l.encode_webp(img)
    with pytest.raises(Exception):
        vp8l.decode_webp(blob[: len(blob) - 6])
    # bad VP8L signature byte
    off = blob.index(b"VP8L") + 8
    bad = bytearray(blob)
    bad[off] = 0x30
    with pytest.raises(ValueError):
        vp8l.decode_webp(bytes(bad))


def test_inv_subtract_green_inverts_forward():
    rng = np.random.default_rng(8)
    argb = rng.integers(0, 2**32, size=(6, 6), dtype=np.uint64).astype(np.uint32)
    g = (argb >> 8) & 0xFF
    r = (((argb >> 16) & 0xFF) - g) & 0xFF
    b = ((argb & 0xFF) - g) & 0xFF
    fwd = (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    assert np.array_equal(vp8l._inv_subtract_green(fwd), argb)


def test_palette_width_bits_boundaries():
    assert vp8l._palette_width_bits(2) == 3
    assert vp8l._palette_width_bits(3) == 2
    assert vp8l._palette_width_bits(4) == 2
    assert vp8l._palette_width_bits(5) == 1
    assert vp8l._palette_width_bits(16) == 1
    assert vp8l._palette_width_bits(17) == 0


def test_inv_color_indexing_bundled_pixels():
    """4-entry palette → 2-bit indices, 4 pixels bundled per green byte
    (spec §4.4 pixel bundling)."""
    palette = np.array(
        [0xFF000000, 0xFF0000FF, 0xFF00FF00, 0xFFFF0000], dtype=np.uint32
    )
    # one bundled pixel holding indices [1, 0, 3, 2] (LSB-first in green)
    green = 1 | (0 << 2) | (3 << 4) | (2 << 6)
    img = np.array([[np.uint32(green) << 8]], dtype=np.uint32)
    out = vp8l._inv_color_indexing(img, palette, 4)
    assert out.tolist() == [[0xFF0000FF, 0xFF000000, 0xFFFF0000, 0xFF00FF00]]
    # width smaller than the bundle truncates
    out3 = vp8l._inv_color_indexing(img, palette, 3)
    assert out3.shape == (1, 3)


# --- inverse-transform verification against independent forward code --------


def _sub_pixels(a, b):
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((a >> shift) & 0xFF) - ((b >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _forward_predictor(orig, modes, size_bits):
    """Spec-side encoder: residual = pixel − predict(neighbors of the
    ORIGINAL image), with the decoder's forced corner/edge rules."""
    h, w = orig.shape
    res = np.empty_like(orig)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(orig[0, x - 1])
            elif x == 0:
                pred = int(orig[y - 1, 0])
            else:
                mode = int((modes[y >> size_bits, x >> size_bits] >> 8) & 0xFF)
                l = int(orig[y, x - 1])
                t = int(orig[y - 1, x])
                tl = int(orig[y - 1, x - 1])
                tr = int(orig[y - 1, x + 1]) if x + 1 < w else int(orig[y, 0])
                pred = vp8l._predict(mode, l, t, tr, tl)
            res[y, x] = _sub_pixels(int(orig[y, x]), pred)
    return res


def _rand_argb(shape, seed):
    return (
        np.random.default_rng(seed)
        .integers(0, 2**32, size=shape, dtype=np.uint64)
        .astype(np.uint32)
    )


@pytest.mark.parametrize("mode", range(14))
def test_inv_predictor_recovers_every_mode(mode):
    orig = _rand_argb((8, 9), 100 + mode)
    size_bits = 4  # one 16x16 block covers the image: uniform mode
    modes = np.full((1, 1), np.uint32(mode) << 8, dtype=np.uint32)
    res = _forward_predictor(orig, modes, size_bits)
    got = vp8l._inv_predictor(res, modes, size_bits)
    assert np.array_equal(got, orig), mode


def test_inv_predictor_mixed_mode_blocks():
    """2^2-pixel blocks with independent random modes, including the
    TR wrap at the right edge and the forced L/T first row/column."""
    rng = np.random.default_rng(7)
    orig = _rand_argb((11, 13), 8)
    size_bits = 2
    modes = (
        rng.integers(0, 14, size=(3, 4)).astype(np.uint32) << 8
    )
    res = _forward_predictor(orig, modes, size_bits)
    assert np.array_equal(vp8l._inv_predictor(res, modes, size_bits), orig)


def test_inv_color_transform_recovers():
    """Forward color transform per the spec (stored_r = r − δ(g2r, g);
    stored_b = b − δ(g2b, g) − δ(r2b, final_r)) inverts exactly,
    including negative (two's-complement) transform elements."""
    rng = np.random.default_rng(21)
    orig = _rand_argb((9, 10), 22)
    size_bits = 3
    elements = np.empty((2, 2), dtype=np.uint32)
    for yy in range(2):
        for xx in range(2):
            g2r, g2b, r2b = rng.integers(0, 256, 3)
            elements[yy, xx] = (np.uint32(r2b) << 16) | (np.uint32(g2b) << 8) | np.uint32(g2r)
    stored = np.empty_like(orig)
    h, w = orig.shape
    for y in range(h):
        for x in range(w):
            cte = int(elements[y >> size_bits, x >> size_bits])
            g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
            a, r, g, b = vp8l._channels(int(orig[y, x]))
            sr = (r - vp8l._ct_delta(g2r, g)) & 0xFF
            sb = (b - vp8l._ct_delta(g2b, g) - vp8l._ct_delta(r2b, r)) & 0xFF
            stored[y, x] = (a << 24) | (sr << 16) | (g << 8) | sb
    got = vp8l._inv_color_transform(stored, elements, size_bits)
    assert np.array_equal(got, orig)


@pytest.mark.parametrize("ncol", [2, 3, 4, 12, 16, 200])
def test_roundtrip_palette(ncol):
    """COLOR_INDEXING end-to-end: delta-coded palette subimage plus
    sub-byte index bundling at every width (3/2/1/0 bits)."""
    rng = np.random.default_rng(300 + ncol)
    colors = rng.integers(0, 256, size=(ncol, 4), dtype=np.uint8)
    im = colors[rng.integers(0, ncol, size=(7, 11))]
    out = vp8l.decode_webp(vp8l.encode_webp(im, palette=True))
    assert np.array_equal(out, im)


@pytest.mark.parametrize("meta_bits", [2, 3, 5])
def test_roundtrip_meta_prefix(meta_bits):
    """Meta prefix codes: a checkerboard of two code groups, alone and
    combined with color cache + LZ77 runs and with a palette."""
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(17, 13, 4), dtype=np.uint8)
    img[5:9, :] = img[5, 0]
    assert np.array_equal(
        vp8l.decode_webp(vp8l.encode_webp(img, meta_bits=meta_bits)), img
    )
    blob = vp8l.encode_webp(img, meta_bits=meta_bits, cache_bits=3, rle=True)
    assert np.array_equal(vp8l.decode_webp(blob), img)
    colors = rng.integers(0, 256, size=(7, 4), dtype=np.uint8)
    pal_im = colors[rng.integers(0, 7, size=(19, 23))]
    blob2 = vp8l.encode_webp(pal_im, palette=True, meta_bits=meta_bits)
    assert np.array_equal(vp8l.decode_webp(blob2), pal_im)


def test_palette_rejects_too_many_colors():
    rng = np.random.default_rng(9)
    big = rng.integers(0, 2**32, size=(32, 32), dtype=np.uint64).astype(np.uint32)
    rgba = np.empty((32, 32, 4), dtype=np.uint8)
    for c, shift in enumerate((16, 8, 0, 24)):
        rgba[..., c] = (big >> shift) & 0xFF
    with pytest.raises(ValueError, match="too many colors"):
        vp8l.encode_webp(rgba, palette=True)
