"""The shared banded candidate self-join and the bounded query memo,
each against a plain-Python oracle."""

import itertools
import random

from pyspark.sql import functions as F

from demeton_spark import queries as Q
from demeton_spark.queries import band_pairs

_N, _BANDS = 60, 4


def _rows():
    """(id, h, k0..k3, s0..s3): one hot bucket (band 0 key 7 on every
    third id), a clique that agrees in three bands, a pair that agrees
    in all four, and random keys elsewhere."""
    rng = random.Random(5)
    rows = []
    for i in range(_N):
        k = [rng.randrange(40) for _ in range(_BANDS)]
        if i % 3 == 0:
            k[0] = 7
        if i in (10, 11, 12):
            k[1:] = [1, 2, 3]
        if i in (20, 22):
            k = [4, 5, 6, 7]
        s = [rng.randrange(3) for _ in range(_BANDS)]
        rows.append((i, rng.randrange(1 << 40), *k, *s))
    return rows


def _frame(spark):
    cols = ", ".join(f"{c}{b} int" for c in "ks" for b in range(_BANDS))
    return spark.createDataFrame(_rows(), f"id long, h long, {cols}")


def _brute(rows, key):
    return {
        (a[0], b[0])
        for a, b in itertools.combinations(sorted(rows), 2)
        if any(key(a, band) == key(b, band) for band in range(_BANDS))
    }


def test_band_pairs_equals_brute_force_shared_band_pairs(spark):
    rows = _rows()
    bands = [
        F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("bk"))
        for b in range(_BANDS)
    ]
    got = band_pairs(_frame(spark), "id", bands).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in got]
    assert len(pairs) == len(set(pairs))  # each pair once
    want = _brute(rows, lambda r, b: r[2 + b])
    assert set(pairs) == want
    # the fixture exercises what it claims to
    assert {(10, 11), (10, 12), (11, 12), (20, 22)} <= want
    assert sum(1 for r in rows if r[2] == 7) >= _N // 3


def test_band_pairs_multi_field_key_and_carried_column(spark):
    """Two-field band keys (like the MinHash bands) join on both fields;
    a carried column arrives as ``{c}_a``/``{c}_b`` of the right ids."""
    rows = _rows()
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.col(f"k{b}").alias("k1"),
            F.col(f"s{b}").alias("k2"),
        )
        for b in range(_BANDS)
    ]
    out = band_pairs(_frame(spark), "id", bands, carry=("h",))
    assert out.columns == ["id_a", "id_b", "h_a", "h_b"]
    got = out.collect()
    pairs = [(r["id_a"], r["id_b"]) for r in got]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == _brute(rows, lambda r, b: (r[2 + b], r[2 + _BANDS + b]))
    h = {r[0]: r[1] for r in rows}
    assert all(r["h_a"] == h[r["id_a"]] and r["h_b"] == h[r["id_b"]]
               for r in got)
    # verify keeps the pairs its exact check passes, each once
    same_parity = band_pairs(
        _frame(spark), "id", bands, carry=("h",),
        verify=lambda c: c.where(F.col("h_a") % 2 == F.col("h_b") % 2)
        .select("id_a", "id_b"),
    ).collect()
    kept = [(r["id_a"], r["id_b"]) for r in same_parity]
    assert len(kept) == len(set(kept))
    assert set(kept) == {(a, b) for a, b in pairs if h[a] % 2 == h[b] % 2}
    assert 0 < len(kept) < len(pairs)


def test_band_pairs_single_field_key_has_no_band_column(spark):
    """A band index packed into the key (the SimHash layout): keys equal
    across different bands still meet, as the packed key intends."""
    df = spark.createDataFrame([(1, 5, 9), (2, 9, 5), (3, 6, 6)],
                               "id long, x int, y int")
    bands = [F.struct(F.col(c).alias("bk")) for c in ("x", "y")]
    got = {(r["id_a"], r["id_b"]) for r in band_pairs(df, "id", bands).collect()}
    assert got == {(1, 2)}


def test_query_memos_share_one_bounded_eviction_rule():
    memos = (Q._CLUSTER_MEMO, Q._EMB_CLUSTER_MEMO, Q._KM_MEMO,
             Q._GEOCELL_MEMO)
    assert all(isinstance(m, Q._Memo) for m in memos)
    memo = Q._Memo()
    for k in range(Q._Memo.BOUND + 3):
        memo[k] = str(k)
    assert list(memo) == list(range(3, Q._Memo.BOUND + 3))  # oldest out
    memo[3] = "again"  # a rewrite keeps the entry's place
    assert len(memo) == Q._Memo.BOUND and next(iter(memo)) == 3
