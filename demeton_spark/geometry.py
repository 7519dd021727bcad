"""Angle math, geodesy, map projections, point-in-polygon — all vectorized.

Reference semantics:
  - normalize/diff of angles: /root/reference/Demeton/Geometry/Common.fs:90-118
  - mean of circular values:  /root/reference/Demeton/Geometry/Common.fs:139-156
  - haversine approx:         /root/reference/Demeton/Projections/Common.fs:98-107
  - Mercator projection:      /root/reference/Demeton/Projections/Mercator.fs
  - map scale factor:         /root/reference/Demeton/Projections/Common.fs:50-62
  - point-in-polygon:         crossing-number equivalent of the orientation
                              machinery in Demeton/Geometry/Funcs.fs:9-33

All functions accept scalars or numpy arrays (no per-row Python in the
Spark hot path — these run inside Arrow-batched pandas UDFs).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

EARTH_RADIUS_M = 6_371_000.0  # Projections/Common.fs:10
INCHES_PER_METER = 39.3701  # Projections/Common.fs:16

#: Mercator latitude clamp in radians (Mercator.fs:8-12).
MERCATOR_MAX_LAT = 1.48442222974533

#: the one floating-point tolerance of the angle and segment predicates
TOLERANCE = 1e-10


def deg_to_rad(deg):
    return np.multiply(deg, math.pi / 180.0)


def rad_to_deg(rad):
    return np.multiply(rad, 180.0 / math.pi)


def normalize_angle(angle, normalizer):
    """Normalize into [0, normalizer) (Geometry/Common.fs:90-99).

    Uses C-style remainder (sign of dividend) then corrects negatives,
    exactly like the F# ``%``.
    """
    rem = np.fmod(angle, normalizer)
    return np.where(rem < 0.0, rem + normalizer, rem)


def difference_between_angles(angle1, angle2, normalizer):
    """Absolute circular difference (Geometry/Common.fs:104-118)."""
    diff = np.abs(normalize_angle(angle1, normalizer) - normalize_angle(angle2, normalizer))
    return np.where(diff > normalizer / 2.0, normalizer - diff, diff)


def mean_of_angles(angles: np.ndarray) -> float:
    """Circular mean (Geometry/Common.fs:139-156); NaN when undefined."""
    angles = np.asarray(angles, dtype=np.float64)
    if angles.size == 0:
        return float("nan")
    total_x = float(np.sum(np.cos(angles)))
    total_y = float(np.sum(np.sin(angles)))
    if abs(total_x) < TOLERANCE and abs(total_y) < TOLERANCE:
        return float("nan")
    mean = math.atan2(total_y, total_x)
    return 0.0 if abs(mean) < TOLERANCE else mean


def geodetic_distance_approx(lon1, lat1, lon2, lat2):
    """Approximate geodesic distance in meters; args in **radians**.

    Vectorized haversine identical to Projections/Common.fs:98-107.
    """
    dlat2 = (np.asarray(lat2) - lat1) / 2.0
    dlon2 = (np.asarray(lon2) - lon1) / 2.0
    a = (
        np.sin(dlat2) * np.sin(dlat2)
        + np.cos(lat1) * np.cos(lat2) * np.sin(dlon2) * np.sin(dlon2)
    )
    c = 2.0 * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))
    return EARTH_RADIUS_M * c


# ---------------------------------------------------------------------------
# map projections (forward/inverse closures over numpy arrays)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MapScale:
    """Map scale → projection scale factor (Projections/Common.fs:50-62)."""

    map_scale: float
    dpi: float

    @property
    def projection_scale_factor(self) -> float:
        return EARTH_RADIUS_M / self.map_scale * INCHES_PER_METER * self.dpi

    @classmethod
    def scale_of_1(cls) -> "MapScale":
        return cls(map_scale=1.0, dpi=1.0 / (EARTH_RADIUS_M * INCHES_PER_METER))


class Mercator:
    """Web-Mercator-style projection on the sphere (Mercator.fs:18-45).

    ``project`` returns (x, y, valid_mask); latitudes outside the clamp
    are invalid (reference returns None → pixels left untouched).
    All angles in radians; vectorized.
    """

    def __init__(self, map_scale: MapScale):
        self.scale_factor = map_scale.projection_scale_factor

    def project(self, lon, lat):
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        valid = (lat >= -MERCATOR_MAX_LAT) & (lat <= MERCATOR_MAX_LAT)
        x = lon * self.scale_factor
        with np.errstate(invalid="ignore", divide="ignore"):
            y = np.log(np.tan(math.pi / 4.0 + lat / 2.0)) * self.scale_factor
        return x, np.where(valid, y, np.nan), valid

    def invert(self, x, y):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        lon = x / self.scale_factor
        lat = 2.0 * np.arctan(np.exp(y / self.scale_factor)) - math.pi / 2.0
        return lon, lat


# ---------------------------------------------------------------------------
# point-in-polygon (vectorized crossing number, reproduces the reference's
# orientation-test semantics for simple polygons)
# ---------------------------------------------------------------------------

def points_in_polygon(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Boolean mask: which points fall inside the polygon.

    Crossing-number (even-odd) rule, vectorized over points; edges on the
    boundary count per the half-open rule, which matches how the reference
    clips rasters to geo bounds (Demeton/Geometry/Funcs.fs:9-33 orientation
    tests feed the same decision for simple polygons).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    poly_x = np.asarray(poly_x, dtype=np.float64)
    poly_y = np.asarray(poly_y, dtype=np.float64)
    n = len(poly_x)
    inside = np.zeros(px.shape, dtype=bool)
    j = n - 1
    for i in range(n):
        xi, yi = poly_x[i], poly_y[i]
        xj, yj = poly_x[j], poly_y[j]
        crosses = (yi > py) != (yj > py)
        with np.errstate(invalid="ignore", divide="ignore"):
            x_at = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < x_at)
        j = i
    return inside


def bounds_contains(min_lon, min_lat, max_lon, max_lat, lon, lat):
    """Inclusive bbox containment (Geometry/Bounds.fs:25-26)."""
    return (lon >= min_lon) & (lon <= max_lon) & (lat >= min_lat) & (lat <= max_lat)


# ---------------------------------------------------------------------------
# segment intersection taxonomy + polygon self-intersection (J9 second half)
#
# Reimplements the reference's O'Rourke-derived segment classification
# (Demeton/Geometry/LineSegmentsIntersection.fs:38-211; "Computational
# Geometry in C" p. 29-33, 220-226) and the Shamos-Hoey-style plane sweep
# (Demeton/Geometry/PolygonSelfIntersection.fs) used to validate clip
# polygons before rasters are clipped to them.
# ---------------------------------------------------------------------------

#: taxonomy of doLineSegmentsIntersect results
SEG_SAME = "same"
SEG_OPPOSITE = "opposite"
SEG_NOT_INTERSECT = "not_intersect"
SEG_SHARING_ENDPOINT = "sharing_one_endpoint"
SEG_ENDPOINT_ON_OTHER = "one_endpoint_on_other"
SEG_COLLINEAR_OVERLAPPING = "collinear_overlapping"
SEG_ZERO_LENGTH = "zero_length"
SEG_INTERSECT_PROPERLY = "intersect_properly"

_LEFT, _COLLINEAR, _RIGHT = 1, 0, -1


def area2(p1, p2, p3) -> float:
    """2x the signed triangle area (Geometry/Funcs.fs:9-10)."""
    return (p2[0] - p1[0]) * (p3[1] - p1[1]) - (p3[0] - p1[0]) * (
        p2[1] - p1[1]
    )


def _left(a2: float) -> int:
    if abs(a2) <= TOLERANCE:
        return _COLLINEAR
    return _LEFT if a2 > 0.0 else _RIGHT


def _between(left_result: int, p1, p2, p3) -> bool:
    """p3 lies on segment p1-p2 (requires collinearity; Funcs.fs:25-33)."""
    if left_result != _COLLINEAR:
        return False
    if p1[0] != p2[0]:  # not vertical: check betweenness on x
        return p1[0] <= p3[0] <= p2[0] or p1[0] >= p3[0] >= p2[0]
    return p1[1] <= p3[1] <= p2[1] or p1[1] >= p3[1] >= p2[1]


def segments_intersection_kind(seg1, seg2) -> str:
    """Full O'Rourke intersection classification of two segments.

    Mirrors doLineSegmentsIntersect (LineSegmentsIntersection.fs:38-124)
    including the collinearity taxonomy: endpoint-equality fast paths,
    proper-crossing test via orientation XORs, then the
    endpoint-on-segment / collinear-overlap decision table.
    """
    p1, p2 = tuple(seg1[0]), tuple(seg1[1])
    p3, p4 = tuple(seg2[0]), tuple(seg2[1])
    if p1 == p2 or p3 == p4:
        return SEG_ZERO_LENGTH
    v13, v24, v14, v23 = p1 == p3, p2 == p4, p1 == p4, p2 == p3
    if v13 and v24:
        return SEG_SAME
    if v14 and v23:
        return SEG_OPPOSITE
    if v13 or v24 or v14 or v23:
        return SEG_SHARING_ENDPOINT

    abc = _left(area2(p1, p2, p3))
    abd = _left(area2(p1, p2, p4))
    cda = _left(area2(p3, p4, p1))
    cdb = _left(area2(p3, p4, p2))
    p3_col, p4_col = abc == _COLLINEAR, abd == _COLLINEAR
    p1_col, p2_col = cda == _COLLINEAR, cdb == _COLLINEAR

    if not (p1_col or p2_col or p3_col or p4_col):
        if ((abc == _LEFT) != (abd == _LEFT)) and (
            (cda == _LEFT) != (cdb == _LEFT)
        ):
            return SEG_INTERSECT_PROPERLY

    p3_on = _between(abc, p1, p2, p3)
    p4_on = _between(abd, p1, p2, p4)
    p1_on = _between(cda, p3, p4, p1)
    p2_on = _between(cdb, p3, p4, p2)

    def collinearity_status(a_on, b_on, a_col, b_col):
        # LineSegmentsIntersection.fs:46-53 decision table
        if a_on and b_on:
            return SEG_COLLINEAR_OVERLAPPING
        if a_on and not b_on:
            return SEG_COLLINEAR_OVERLAPPING if b_col else SEG_ENDPOINT_ON_OTHER
        if b_on and not a_on:
            return SEG_COLLINEAR_OVERLAPPING if a_col else SEG_ENDPOINT_ON_OTHER
        return None

    s34 = collinearity_status(p3_on, p4_on, p3_col, p4_col)
    s12 = collinearity_status(p1_on, p2_on, p1_col, p2_col)
    if s34 is None and s12 is None:
        return SEG_NOT_INTERSECT
    if SEG_COLLINEAR_OVERLAPPING in (s34, s12):
        return SEG_COLLINEAR_OVERLAPPING
    if s34 == SEG_ENDPOINT_ON_OTHER and s12 == SEG_ENDPOINT_ON_OTHER:
        return SEG_SHARING_ENDPOINT
    return SEG_ENDPOINT_ON_OTHER


def find_segments_intersection(seg1, seg2):
    """Intersection point (if any) of two segments: (kind, point|None).

    Parametric O'Rourke form (LineSegmentsIntersection.fs:146-211): solve
    for s, t; classify each against [0, 1] within ``TOLERANCE``; parallel
    segments fall back to the collinear-overlap analysis.
    """
    (x1, y1), (x2, y2) = seg1
    (x3, y3), (x4, y4) = seg2
    p1, p2, p3, p4 = (x1, y1), (x2, y2), (x3, y3), (x4, y4)
    if p1 == p2 or p3 == p4:
        return SEG_ZERO_LENGTH, None
    denom = x1 * (y4 - y3) + x2 * (y3 - y4) + x4 * (y2 - y1) + x3 * (y1 - y2)
    if abs(denom) <= TOLERANCE:
        # parallel (LineSegmentsIntersection.fs:146-169)
        if (p1 == p3 and p2 == p4) or (p1 == p4 and p2 == p3):
            return SEG_COLLINEAR_OVERLAPPING, p1
        if p1 == p3 or p2 == p3:
            return SEG_SHARING_ENDPOINT, p3
        if p1 == p4 or p2 == p4:
            return SEG_SHARING_ENDPOINT, p4
        if _left(area2(p1, p2, p3)) != _COLLINEAR:
            return SEG_NOT_INTERSECT, None
        for seg, pt in (((p1, p2), p3), ((p1, p2), p4),
                        ((p3, p4), p1), ((p3, p4), p2)):
            if _between(_COLLINEAR, seg[0], seg[1], pt):
                return SEG_COLLINEAR_OVERLAPPING, pt
        return SEG_NOT_INTERSECT, None
    num1 = x1 * (y4 - y3) + x3 * (y1 - y4) + x4 * (y3 - y1)
    num2 = -(x1 * (y3 - y2) + x2 * (y1 - y3) + x3 * (y2 - y1))
    s, t = num1 / denom, num2 / denom

    def status01(v):
        # TolerantMath.determineValue01Status: endpoint / interior / outside
        if abs(v) <= TOLERANCE or abs(v - 1.0) <= TOLERANCE:
            return "endpoint"
        return "interior" if 0.0 < v < 1.0 else "outside"

    ss, ts = status01(s), status01(t)
    point = (x1 + s * (x2 - x1), y1 + s * (y2 - y1))
    if ss == "outside" or ts == "outside":
        return SEG_NOT_INTERSECT, None
    if ss == "endpoint" and ts == "endpoint":
        return SEG_SHARING_ENDPOINT, point
    if ss == "interior" and ts == "interior":
        return SEG_INTERSECT_PROPERLY, point
    return SEG_ENDPOINT_ON_OTHER, point


def _neighbor_spike(seg1, seg2) -> bool:
    """Adjacent polygon edges double back on each other: they share a
    vertex q and their free endpoints lie on the SAME ray from q
    (collinear, positive dot) — e.g. the (0,0)→(4,0)→(2,0) spike."""
    pts1, pts2 = (tuple(seg1[0]), tuple(seg1[1])), (tuple(seg2[0]), tuple(seg2[1]))
    shared = None
    for p in pts1:
        if p in pts2:
            shared = p
            break
    if shared is None:
        return False
    a = pts1[0] if pts1[1] == shared else pts1[1]
    b = pts2[0] if pts2[1] == shared else pts2[1]
    if abs(area2(shared, a, b)) > TOLERANCE:
        return False
    dot = (a[0] - shared[0]) * (b[0] - shared[0]) + (a[1] - shared[1]) * (
        b[1] - shared[1]
    )
    return dot > 0.0


def polygon_self_intersects(vertices):
    """Shamos-Hoey-style sweep detecting polygon self-intersection.

    Returns "intersecting" / "non_intersecting" / "invalid" (< 3
    vertices), mirroring PolygonSelfIntersection.fs: edges enter the
    sweep status at their min-y, exit at max-y (enters before exits at
    equal y); an entering edge is tested against every active
    non-neighbor edge.  Proper crossings count as intersections
    (edgesIntersectDefaultFunc semantics); non-neighbor COLLINEAR
    overlaps also count — the reference leaves that case as a todo
    crash (PolygonSelfIntersection.fs:69), and for clip-polygon
    validation a doubled-back edge is just as invalid as a crossing.
    Status is a list — O(n²) worst case like the reference, fine for
    clip polygons.
    """
    verts = [tuple(v) for v in vertices]
    if len(verts) < 3:
        return "invalid"
    closed = verts + [verts[0]]
    # Re-index AFTER dropping zero-length edges (repeated consecutive
    # vertices): adjacency below is by position in the filtered ring, so
    # a dropped edge must not leave a gap that makes crossing edges look
    # like neighbors.
    kept = [
        (closed[i], closed[i + 1])
        for i in range(len(verts))
        if closed[i] != closed[i + 1]
    ]
    edges = list(enumerate(kept))
    n_edges = len(edges)
    if n_edges < 3:
        return "invalid"

    def neighbors(i, j):
        d = abs(i - j)
        return d == 1 or d == n_edges - 1

    events = []  # (y, kind) kind: 0=exit first at equal y, 1=enter
    for eid, seg in edges:
        y1, y2 = seg[0][1], seg[1][1]
        events.append((min(y1, y2), 1, eid, seg))
        events.append((max(y1, y2), 0, eid, seg))
    events.sort(key=lambda e: (e[0], -e[1]))
    # reference orders enters BEFORE exits at equal y
    # (compareEvents: EdgeEnters vs EdgeExits at same y → enter first)
    active: list[tuple[int, tuple]] = []
    for _y, kind, eid, seg in events:
        if kind == 1:
            for oid, oseg in active:
                if neighbors(eid, oid):
                    # neighbors share a vertex q; degenerate iff the
                    # two free endpoints double back along the same ray
                    # from q (collinear with positive dot product)
                    if _neighbor_spike(seg, oseg):
                        return "intersecting"
                    continue
                k = segments_intersection_kind(seg, oseg)
                if k in (
                    SEG_INTERSECT_PROPERLY,
                    SEG_COLLINEAR_OVERLAPPING,
                    SEG_SAME,
                    SEG_OPPOSITE,
                ):
                    return "intersecting"
            active.append((eid, seg))
        else:
            active = [(i, s) for i, s in active if i != eid]
    return "non_intersecting"
