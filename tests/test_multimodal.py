"""Multimodal plumbing: real png16/hgt/tiff decode, per-row phash/caption
invariant, and quarantine routing."""

import numpy as np
import pytest

from demeton_spark import codec, multimodal, synth
from demeton_spark.synth import WorldSpec

SPEC = WorldSpec(lon0=13, lat0=45, n_tiles_x=2, n_tiles_y=1, tile_size=30, block_size=10)


@pytest.fixture(scope="module")
def images(spark):
    df = synth.images_df(spark, SPEC, num_partitions=3).cache()
    df.count()
    return df


def test_decode_images_roundtrip(spark, images):
    decoded = multimodal.decode_images(images)
    rows = {r["image_id"]: r for r in decoded.collect()}
    assert len(rows) == SPEC.n_rows
    src = {r["image_id"]: r for r in images.collect()}
    for iid, r in rows.items():
        block = np.frombuffer(r["pixels"], dtype=np.int16)
        assert block.shape == (r["w"] * r["h"],)
        assert r["caption"] == src[iid]["caption"]


def test_verify_images_invariant(spark, images):
    v = multimodal.verify_images(images)
    agg = v.selectExpr(
        "count(*) as n",
        "sum(cast(phash_ok as int)) as p_ok",
        "sum(cast(caption_ok as int)) as c_ok",
    ).collect()[0]
    assert agg["n"] == SPEC.n_rows
    assert agg["p_ok"] == SPEC.n_rows  # decoded pixels hash to phash
    assert agg["c_ok"] == SPEC.n_rows


def test_decode_tiff_format(spark):
    from demeton_spark import codec as _codec

    arr = np.arange(16, dtype=np.int16).reshape(4, 4)
    rows = [("t0", bytearray(_codec.encode_tiff_gray16(arr)), 4, 4, "tiff", "x", 0)]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    out = multimodal.decode_images(df).collect()
    got = np.frombuffer(out[0]["pixels"], dtype=np.int16).reshape(4, 4)
    assert np.array_equal(got, arr)


def test_decode_images_quarantines_malformed_rows(spark):
    """A truncated png16 row and a format the decoder does not read
    both raise by default and are dropped under ``on_error='skip'``."""
    block = np.arange(16, dtype=np.int16).reshape(4, 4)
    png = codec.encode_heights_png(block)
    rows = [
        ("ok", bytearray(png), 4, 4, "png16", "x", 0),
        ("short", bytearray(png[:20]), 4, 4, "png16", "x", 0),
        ("jpg", bytearray(b"\xff\xd8\xff"), 4, 4, "jpeg", "x", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    ).coalesce(1)
    with pytest.raises(Exception, match="malformed png16 payload"):
        multimodal.decode_images(df).collect()
    ok = multimodal.decode_images(df, on_error="skip").collect()
    assert [r["image_id"] for r in ok] == ["ok"]
    got = np.frombuffer(ok[0]["pixels"], dtype=np.int16).reshape(4, 4)
    assert np.array_equal(got, block)


def test_phash_near_dup_matches_bruteforce(spark):
    """phash_near_dup_pairs (16x4-bit Hamming banding over signed int64)
    must equal the brute-force all-pairs oracle, including negative
    hashes and planted 1/2-bit flips."""
    import itertools

    from demeton_spark.queries import phash_near_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**62), 2**62, size=6, dtype=np.int64)
    rows = []
    for g, b in enumerate(base):
        rows.append((f"g{g}_orig", int(b)))
        rows.append((f"g{g}_flip1", int(b ^ np.int64(1 << int(rng.integers(0, 63))))))
        p1, p2 = rng.choice(63, size=2, replace=False)
        rows.append((f"g{g}_flip2", int(b ^ np.int64(1 << int(p1)) ^ np.int64(1 << int(p2)))))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["image_id_a"], r["image_id_b"], r["hamming"])
        for r in phash_near_dup_pairs(df, max_hamming=2).collect()
    }
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 2:
            a, b = sorted((ia, ib))
            expect.add((a, b, d))
    assert got == expect
    assert len(expect) >= 6  # every group's orig<->flip1 pair at least


def test_phash_banding_complete_under_both_layouts(spark):
    """Completeness holds under BOTH corpus-scaled band layouts
    (16x4 small-corpus, 8x8 production): every pair at hamming <= h is
    found because h < n_bands leaves a clean shared band (pigeonhole).
    Exercises h up to 5 with planted multi-bit flips that straddle band
    boundaries."""
    import itertools

    from demeton_spark.queries import (
        phash_bands_for_corpus,
        phash_near_dup_pairs,
    )

    assert phash_bands_for_corpus(10**6, 2) == (16, 4)
    assert phash_bands_for_corpus(10**6 + 1, 2) == (8, 8)

    rng = np.random.default_rng(23)
    base = rng.integers(-(2**62), 2**62, size=4, dtype=np.int64)
    rows = []
    for g, b in enumerate(base):
        rows.append((f"g{g}_orig", int(b)))
        for k in (1, 3, 5):  # k-bit flips, positions crossing 4/8-bit bands
            v = int(b)
            for p in rng.choice(64, size=k, replace=False):
                v ^= 1 << int(p)
                v = (v + 2**63) % 2**64 - 2**63  # keep signed-int64 range
            rows.append((f"g{g}_flip{k}", v))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 5:
            a, b = sorted((ia, ib))
            expect.add((a, b, d))
    for corpus in (10**6, 10**7):  # 16x4 and 8x8 layouts
        got = {
            (r["image_id_a"], r["image_id_b"], r["hamming"])
            for r in phash_near_dup_pairs(
                df, max_hamming=5, corpus_rows=corpus
            ).collect()
        }
        assert got == expect, f"corpus={corpus}"
    assert len(expect) >= 12


def test_phash_bands_reject_incomplete_hamming():
    from demeton_spark.queries import phash_bands_for_corpus

    with pytest.raises(ValueError):
        phash_bands_for_corpus(100, 8)
