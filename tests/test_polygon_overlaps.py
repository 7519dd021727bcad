"""Polygon↔polygon spatial join vs an exhaustive single-node oracle:
the cell-cover candidate stage must introduce NO false negatives, and
the three verification signals must match brute force pair by pair."""

import numpy as np

from demeton_spark.geometry import (
    SEG_INTERSECT_PROPERLY,
    points_in_polygon,
    segments_intersection_kind,
)
from demeton_spark.queries import _ppoly_sets, q_geo_polygon_overlaps


def _proper(ea, eb):
    """The query's strict orientation-sign test, term for term."""
    (x1, y1), (x2, y2) = ea
    (u1, v1), (u2, v2) = eb
    d1 = (u2 - u1) * (y1 - v1) - (v2 - v1) * (x1 - u1)
    d2 = (u2 - u1) * (y2 - v1) - (v2 - v1) * (x2 - u1)
    d3 = (x2 - x1) * (v1 - y1) - (y2 - y1) * (u1 - x1)
    d4 = (x2 - x1) * (v2 - y1) - (y2 - y1) * (u2 - x1)
    return d1 * d2 < 0 and d3 * d4 < 0


def _edges(verts):
    j = len(verts) - 1
    out = []
    for i in range(len(verts)):
        out.append((verts[j], verts[i]))
        j = i
    return out


def _brute(pa, pb):
    """All-pairs overlap via the same convex-complete rule: vertex
    containment either way or a proper edge crossing."""
    got = {}
    for aid, va in pa:
        ax, ay = zip(*va)
        for bid, vb in pb:
            bx, by = zip(*vb)
            n_ab = int(points_in_polygon(
                np.array(ax), np.array(ay), np.array(bx), np.array(by)
            ).sum())
            n_ba = int(points_in_polygon(
                np.array(bx), np.array(by), np.array(ax), np.array(ay)
            ).sum())
            n_x = 0
            for ea in _edges(va):
                for eb in _edges(vb):
                    p = _proper(ea, eb)
                    # cross-check vs the O'Rourke classifier (generic
                    # vertices: no tolerance-band disagreements)
                    assert p == (
                        segments_intersection_kind(ea, eb)
                        == SEG_INTERSECT_PROPERLY
                    ), (ea, eb)
                    n_x += int(p)
            if n_ab or n_ba or n_x:
                got[(aid, bid)] = (n_ab, n_ba, n_x)
    return got


def test_matches_exhaustive_oracle(spark):
    pa, pb = _ppoly_sets()
    want = _brute(pa, pb)
    got = {
        (r["a_id"], r["b_id"]): (r["n_av_in_b"], r["n_bv_in_a"], r["n_edge_x"])
        for r in q_geo_polygon_overlaps(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
    # the families produce a non-trivial mix: overlaps exist, but most
    # of the 80 possible pairs don't overlap
    assert 3 <= len(want) < len(pa) * len(pb) * 0.8
    # at least one pair overlaps by edge crossing ALONE (no vertex
    # containment either way) — the star-of-David case a pure-PIP join
    # would miss
    assert any(x > 0 and ab == 0 and ba == 0 for ab, ba, x in want.values())


def test_no_cartesian_product_in_plan(spark):
    df = q_geo_polygon_overlaps(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_catalyst_pip_parity_matches_numpy_on_random_polygons(spark):
    """The unrolled crossing-number expression (streaming PIP and the
    overlap join's containment arm) agrees with the numpy kernel on
    hundreds of random points x random star-shaped polygons — one Spark
    job evaluates every (point, polygon) cell."""
    import pyspark.sql.functions as F

    from demeton_spark.queries import _pip_parity_col

    rng = np.random.default_rng(7)
    polys = []
    for pid in range(6):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.5, 2.0, k)
        cx, cy = rng.uniform(-3, 3, 2)
        polys.append(
            (pid, [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                   for a, r in zip(ang, rad)])
        )
    pts = rng.uniform(-5, 5, (400, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "i int, lon double, lat double",
    )
    cols = [
        _pip_parity_col(F.col("lon"), F.col("lat"), verts)
        .cast("int").alias(f"p{pid}")
        for pid, verts in polys
    ]
    got = {r["i"]: [r[f"p{pid}"] for pid, _ in polys]
           for r in df.select("i", *cols).collect()}
    for pid, verts in polys:
        vx, vy = zip(*verts)
        want = points_in_polygon(
            pts[:, 0], pts[:, 1], np.asarray(vx), np.asarray(vy)
        )
        for i in range(len(pts)):
            assert got[i][pid] == int(want[i]), (i, pid)
