"""Marching-squares isoline extraction (raster → vector, SURVEY.md §2.5
W4; reference /root/reference/Demeton/Vectorization/MarchingSquares.fs
+ IsolineMoves.fs).

The reference walks cell edges emitting move chains; here the case
table is evaluated for ALL cells at once in numpy and segments are
emitted per cell with linear edge interpolation — same geometry, no
per-pixel Python.  Missing heights (NaN after masking) suppress every
cell they touch, matching the reference's None-propagation (§4.3).

Coordinates: x right, y up (DEM orientation), cell (x, y) spans corners
(x..x+1, y..y+1); segment endpoints lie on cell edges at the
interpolated crossing of the iso level.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import kernels
from .engine import map_tiles

#: case → list of (edge_a, edge_b) segments.  Edges: 0=bottom, 1=right,
#: 2=top, 3=left.  Case bit i set ⇔ corner i >= level, corners ordered
#: (bl, br, tr, tl).  Ambiguous saddles (5, 10) resolve to the
#: non-connected convention (two separate segments).
_CASES: dict[int, list[tuple[int, int]]] = {
    0: [], 15: [],
    1: [(3, 0)], 14: [(3, 0)],
    2: [(0, 1)], 13: [(0, 1)],
    4: [(1, 2)], 11: [(1, 2)],
    8: [(2, 3)], 7: [(2, 3)],
    3: [(3, 1)], 12: [(3, 1)],
    6: [(0, 2)], 9: [(0, 2)],
    5: [(3, 2), (1, 0)],
    10: [(0, 3), (2, 1)],
}


def _interp(a: np.ndarray, b: np.ndarray, level: float) -> np.ndarray:
    """Fraction along a→b where the level crosses (a != b guaranteed on
    a crossing edge)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        t = (level - a) / (b - a)
    return np.clip(t, 0.0, 1.0)


def _corners(f: np.ndarray) -> tuple[np.ndarray, ...]:
    """The (bl, br, tr, tl) corner views of every 2×2 cell of ``f``."""
    return f[:-1, :-1], f[:-1, 1:], f[1:, 1:], f[1:, :-1]


def _cases(corners, level: float) -> np.ndarray:
    """Per-cell case code: bit i set ⇔ corner i >= level; 0 where any
    corner is missing (NaN)."""
    bl, br, tr, tl = corners
    ok = ~(np.isnan(bl) | np.isnan(br) | np.isnan(tr) | np.isnan(tl))
    case = (
        (bl >= level).astype(np.int8)
        | ((br >= level).astype(np.int8) << 1)
        | ((tr >= level).astype(np.int8) << 2)
        | ((tl >= level).astype(np.int8) << 3)
    )
    return np.where(ok, case, 0)


def isoline_segments(heights: np.ndarray, level: float) -> np.ndarray:
    """All isoline segments of the heights grid at ``level``.

    ``heights``: float (H, W) grid, NaN = missing.  Returns an (N, 4)
    float array of (x0, y0, x1, y1) rows, deterministic cell-scan order.
    """
    f = np.asarray(heights, dtype=np.float64)
    h, w = f.shape
    if h < 2 or w < 2:
        return np.empty((0, 4))
    bl, br, tr, tl = corners = _corners(f)
    case = _cases(corners, level)

    ys, xs = np.nonzero((case != 0) & (case != 15))
    if len(ys) == 0:
        return np.empty((0, 4))
    c = case[ys, xs]
    vbl, vbr, vtr, vtl = bl[ys, xs], br[ys, xs], tr[ys, xs], tl[ys, xs]

    # edge crossing points per cell (x, y) in grid coords
    def edge_point(edge: int) -> tuple[np.ndarray, np.ndarray]:
        if edge == 0:  # bottom: bl→br
            t = _interp(vbl, vbr, level)
            return xs + t, ys + 0.0
        if edge == 1:  # right: br→tr
            t = _interp(vbr, vtr, level)
            return xs + 1.0, ys + t
        if edge == 2:  # top: tl→tr
            t = _interp(vtl, vtr, level)
            return xs + t, ys + 1.0
        t = _interp(vbl, vtl, level)  # left: bl→tl
        return xs + 0.0, ys + t

    pts = [edge_point(e) for e in range(4)]
    segs = []
    for case_id, pairs in _CASES.items():
        if not pairs:
            continue
        m = c == case_id
        if not m.any():
            continue
        for ea, eb in pairs:
            ax, ay = pts[ea]
            bx, by = pts[eb]
            segs.append(
                np.column_stack([ax[m], ay[m], bx[m], by[m]])
            )
    if not segs:
        return np.empty((0, 4))
    out = np.concatenate(segs)
    # drop degenerate zero-length segments (level hits a corner exactly)
    out = out[
        (np.abs(out[:, 0] - out[:, 2]) > 1e-12)
        | (np.abs(out[:, 1] - out[:, 3]) > 1e-12)
    ]
    # deterministic order regardless of case-table iteration
    order = np.lexsort((out[:, 1], out[:, 0]))
    return out[order]


#: endpoints of two segments closer than this are the same chain point
CHAIN_TOL = 1e-9


def chain_segments(segments: np.ndarray) -> list[np.ndarray]:
    """Join segments into polylines (closed loops or clipped chains —
    the reference's ClosedIsoline / ClippedIsoline taxonomy,
    MarchingSquares.fs:47-68).  Returns a list of (K, 2) point arrays;
    closed loops repeat their first point at the end."""
    if len(segments) == 0:
        return []
    key = lambda p: (round(p[0] / CHAIN_TOL) * CHAIN_TOL,  # noqa: E731
                     round(p[1] / CHAIN_TOL) * CHAIN_TOL)
    # segments are emitted with case-table orientation, so a chain may
    # traverse a segment in either direction: index both endpoints
    by_end: dict[tuple, list[int]] = {}
    for i, s in enumerate(segments):
        by_end.setdefault(key(s[:2]), []).append(i)
        by_end.setdefault(key(s[2:]), []).append(i)
    used = np.zeros(len(segments), dtype=bool)

    def grow(chain: list) -> None:
        while True:
            k = key(chain[-1])
            nxt = next((j for j in by_end.get(k, []) if not used[j]), None)
            if nxt is None:
                return
            used[nxt] = True
            s = segments[nxt]
            chain.append(
                s[2:].copy() if key(s[:2]) == k else s[:2].copy()
            )
            if key(chain[-1]) == key(chain[0]):
                return

    chains = []
    for i in range(len(segments)):
        if used[i]:
            continue
        used[i] = True
        chain = [segments[i][:2].copy(), segments[i][2:].copy()]
        grow(chain)  # forward from the end
        if key(chain[-1]) != key(chain[0]):
            chain.reverse()  # then extend the other direction (clipped)
            grow(chain)
        chains.append(np.array(chain))
    return chains


# ---------------------------------------------------------------------------
# Spark operators (one engine.map_tiles pass each)
# ---------------------------------------------------------------------------

ISOLINE_SCHEMA = (
    "tile_x int, tile_y int, level double, n_segments long, "
    "n_closed long, n_clipped long, total_len double"
)


def chain_closed(chain: np.ndarray) -> bool:
    """Is a :func:`chain_segments` chain a closed loop?"""
    return bool(len(chain) > 2 and np.allclose(chain[0], chain[-1]))


def _total_length(segs: np.ndarray) -> float:
    """Summed length of (x0, y0, x1, y1) segment rows."""
    return float(np.sum(np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])))


def tile_isolines(
    tiles: DataFrame, tile_size: int, levels: list[float]
) -> DataFrame:
    """Per-tile isoline statistics at the given height levels (one Arrow
    pass, :func:`engine.map_tiles`; heavy vector output stays
    distributed — only stats come back)."""

    def stats(tx, ty, heights):
        grid = kernels.heights_to_float(heights)
        for level in levels:
            segs = isoline_segments(grid, level)
            chains = chain_segments(segs)
            closed = sum(map(chain_closed, chains))
            yield (tx, ty, float(level), len(segs), closed,
                   len(chains) - closed, _total_length(segs))

    return map_tiles(tiles, tile_size, stats, ISOLINE_SCHEMA)


# ---------------------------------------------------------------------------
# posterization: raster → vector color classes (reference roadmap
# "Vector output", /root/reference/docs/Roadmap.md — quantize heights
# into a small class set, then vectorize the class boundaries with the
# marching-squares machinery above)
# ---------------------------------------------------------------------------

POSTERIZE_SCHEMA = (
    "tile_x int, tile_y int, class_id int, lo double, hi double, "
    "n_px long, min_x int, min_y int, max_x int, max_y int, "
    "n_boundary_chains long, boundary_len double"
)


def posterize_classes(heights_f: np.ndarray, thresholds: list[float]) -> np.ndarray:
    """Height raster → int class raster: class i covers
    [thresholds[i-1], thresholds[i]); class 0 is below the first mark,
    class len(thresholds) above the last; missing (NaN) → −1."""
    classes = np.digitize(np.nan_to_num(heights_f, nan=-np.inf), thresholds)
    classes = classes.astype(np.int32)
    classes[np.isnan(heights_f)] = -1
    return classes


def tile_posterize(
    tiles: DataFrame, tile_size: int, thresholds: list[float]
) -> DataFrame:
    """Per-tile posterization: class pixel counts + bbox + vectorized
    boundary stats (the class boundary IS the iso-contour at the class
    threshold, so the chains come from the same marching-squares pass).
    Heavy geometry stays distributed; only stats rows return.
    """
    bounds = [-np.inf] + list(thresholds) + [np.inf]

    def classes_of(tx, ty, heights):
        grid = kernels.heights_to_float(heights)
        classes = posterize_classes(grid, thresholds)
        # boundary chains per threshold (shared by the classes on either
        # side; attributed to the class above the mark)
        chain_stats = {}
        for i, level in enumerate(thresholds):
            segs = isoline_segments(grid, level)
            chain_stats[i + 1] = (len(chain_segments(segs)), _total_length(segs))
        for cid in np.unique(classes).tolist():
            ys, xs = np.nonzero(classes == cid)
            n_ch, blen = chain_stats.get(cid, (0, 0.0))
            lo, hi = (bounds[cid], bounds[cid + 1]) if cid >= 0 else (None, None)
            yield (tx, ty, cid, lo, hi, len(ys), int(xs.min()), int(ys.min()),
                   int(xs.max()), int(ys.max()), n_ch, blen)

    return map_tiles(tiles, tile_size, classes_of, POSTERIZE_SCHEMA)


# ---------------------------------------------------------------------------
# isoline move encoding (reference IsolineMoves.fs:1-304): chains →
# 8-direction run-length moves in the "doubled" coordinate system that
# counts both cells and the edges between them (cell (1,1) → (2,2), the
# edge between cells (1,0)-(2,0) → (3,0)).
# ---------------------------------------------------------------------------

_MOVE_DIRS = {
    (0, 1): "N", (1, 1): "NE", (1, 0): "E", (1, -1): "SE",
    (0, -1): "S", (-1, -1): "SW", (-1, 0): "W", (-1, 1): "NW",
}
#: doubled-coordinate step length per direction: straight moves hop two
#: units (edge midpoint → opposite edge midpoint), diagonals one
_DIR_STEP = {
    d: (dx * (1 if dx and dy else 2), dy * (1 if dx and dy else 2))
    for (dx, dy), d in _MOVE_DIRS.items()
}


def _clipping_edge(pt2: tuple[int, int], w2: int, h2: int) -> tuple[str, int, int]:
    """Classify a doubled-coords endpoint by the array edge it clips at
    (IsolineMoves.fs ClippingEdge: Top/Right/Bottom/Left + coords)."""
    x2, y2 = pt2
    if y2 == h2:
        return ("top", x2, y2)
    if x2 == w2:
        return ("right", x2, y2)
    if y2 == 0:
        return ("bottom", x2, y2)
    if x2 == 0:
        return ("left", x2, y2)
    raise ValueError(f"endpoint {pt2} not on the array edge")


def encode_chain_moves(chain: np.ndarray, grid_shape: tuple[int, int]) -> dict:
    """Encode one marching-squares chain (over a BINARY mask, so every
    vertex is an edge midpoint) as run-length 8-direction moves.

    Returns {"kind": "closed"|"clipped", "start2": (x2, y2),
    "moves": [(dir, count), ...]} plus, for clipped isolines,
    "start_edge"/"end_edge" (IsolineMoves.fs ClippingEdge).  Raises if
    the chain's vertices don't sit on half-integer edge midpoints
    (i.e. the mask wasn't binary).
    """
    h, w = grid_shape
    w2, h2 = 2 * (w - 1), 2 * (h - 1)
    d = np.rint(np.asarray(chain) * 2.0).astype(np.int64)
    if not np.allclose(np.asarray(chain) * 2.0, d, atol=1e-6):
        raise ValueError("chain vertices are not edge midpoints")
    closed = bool((d[0] == d[-1]).all()) and len(d) > 2
    deltas = np.diff(d, axis=0)
    moves: list[tuple[str, int]] = []
    for dx, dy in deltas:
        direction = _MOVE_DIRS[(int(np.sign(dx)), int(np.sign(dy)))]
        if moves and moves[-1][0] == direction:
            moves[-1] = (direction, moves[-1][1] + 1)
        else:
            moves.append((direction, 1))
    out = {
        "kind": "closed" if closed else "clipped",
        "start2": (int(d[0, 0]), int(d[0, 1])),
        "moves": moves,
    }
    if not closed:
        out["start_edge"] = _clipping_edge((int(d[0, 0]), int(d[0, 1])), w2, h2)
        out["end_edge"] = _clipping_edge((int(d[-1, 0]), int(d[-1, 1])), w2, h2)
    return out


def decode_chain_moves(encoded: dict) -> np.ndarray:
    """Inverse of :func:`encode_chain_moves`: moves → the (K, 2) float
    chain in grid coordinates (the movesToSteps direction of the
    reference's round-trip property)."""
    x2, y2 = encoded["start2"]
    pts = [(x2, y2)]
    for direction, count in encoded["moves"]:
        vx, vy = _DIR_STEP[direction]
        for _ in range(count):
            x2, y2 = x2 + vx, y2 + vy
            pts.append((x2, y2))
    return np.asarray(pts, dtype=np.float64) / 2.0


def mask_isoline_moves(mask: np.ndarray) -> list[dict]:
    """All isolines of a binary mask as move encodings: marching squares
    at level 0.5 (every crossing interpolates to an edge midpoint),
    chained, then RLE move-encoded.  The list is deterministic
    (chain_segments scan order)."""
    grid = np.asarray(mask, dtype=np.float64)
    segs = isoline_segments(grid, 0.5)
    return [
        encode_chain_moves(ch, grid.shape) for ch in chain_segments(segs)
    ]


CASE_HISTOGRAM_SCHEMA = (
    "tile_x int, tile_y int, level double, case_id int, n_cells long"
)


def tile_case_histogram(
    tiles: DataFrame, tile_size: int, levels: list[float]
) -> DataFrame:
    """Marching-squares case histogram per (tile, level): how many 2×2
    cells fall in each crossing configuration 1..14 (0/15 = uniform,
    any-missing → 0, exactly like :func:`isoline_segments`).  The
    SQL-checkable core of the marching-squares classification — the
    oracle recomputes it from the four corner heights per cell."""

    def histogram(tx, ty, heights):
        corners = _corners(kernels.heights_to_float(heights))
        for level in levels:
            counts = np.bincount(_cases(corners, level).ravel(), minlength=16)
            for cid in range(1, 15):
                if counts[cid]:
                    yield tx, ty, float(level), cid, int(counts[cid])

    return map_tiles(tiles, tile_size, histogram, CASE_HISTOGRAM_SCHEMA)
