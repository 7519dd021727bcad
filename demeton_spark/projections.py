"""Lambert Conformal Conic projection, PROJ-string parsing, projection
factory, and DEM-level selection — vectorized numpy.

Reference semantics (capability parity, public proj4-style formulas):
  - LCC 2SP on the ellipsoid, fwd/inv:
    /root/reference/Demeton/Projections/LambertConformalConic.fs:111-203
    with helpers msfnz/tsfnz/phi2z/adjustLon
    (/root/reference/Demeton/Projections/Common.fs:158-199)
  - PROJ-string parsing (+proj=lcc +lat_1=… +ellps=…):
    /root/reference/Demeton/Projections/PROJParsing.fs
  - factory: /root/reference/Demeton/Projections/Factory.fs:10-18
  - DEM level needed: min lon/lat delta over the raster
    (/root/reference/Demeton/Projections/MinLonLatDelta.fs:80-109).
    The reference walks the raster with simulated annealing; on Spark the
    exact minimum over a coarse sample grid is cheaper than tuning the
    stochastic search, so we compute it directly (SURVEY.md §4 A10).

All projection math accepts numpy arrays; angles in radians unless the
name says degrees.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import numpy as np

from .geometry import INCHES_PER_METER, MapScale, Mercator
from .tiles import MAX_DEM_LEVEL

EPSILON = 1.0e-10  # Projections/Common.fs:20


@dataclass(frozen=True)
class Ellipsoid:
    semimajor: float
    semiminor: float

    @property
    def eccentricity(self) -> float:
        ratio = self.semiminor / self.semimajor
        return math.sqrt(1.0 - ratio * ratio)


GRS80 = Ellipsoid(6378137.0, 6356752.314140347)  # Projections/Common.fs:26-28
WGS84 = Ellipsoid(6378137.0, 6356752.314245)  # Projections/Common.fs:30-32

_ELLIPSOIDS = {"grs80": GRS80, "wgs84": WGS84}


def _msfnz(e: float, sinphi, cosphi):
    con = e * sinphi
    return cosphi / np.sqrt(1.0 - con * con)


def _tsfnz(e: float, phi, sinphi):
    con = e * sinphi
    com = e / 2.0
    den = np.power((1.0 - con) / (1.0 + con), com)
    return np.tan(0.5 * (math.pi / 2.0 - phi)) / den


def _adjust_lon(lon):
    return np.where(
        np.abs(lon) < math.pi, lon, lon - np.sign(lon) * math.pi * 2.0
    )


def _phi2z(e: float, ts):
    """Iterative latitude from ts (Common.fs:178-199), vectorized with
    PER-LANE convergence: each value applies updates until its own
    |dphi| < EPSILON, exactly like the reference's scalar loop.  (An
    earlier version iterated until the whole batch converged, which made
    the result depend on batch composition — the slowest lane added
    extra sub-EPSILON updates to already-converged lanes.  Per-lane
    semantics are batch-invariant, match the reference, and are exactly
    expressible as a per-row recursive CTE in the SQL oracle twin.)"""
    eccnth = e / 2.0
    ts = np.asarray(ts, dtype=np.float64)
    phi = math.pi / 2.0 - 2.0 * np.arctan(ts)
    active = np.ones(phi.shape, dtype=bool)
    for _ in range(15):
        con = e * np.sin(phi)
        dphi = (
            math.pi / 2.0
            - 2.0 * np.arctan(ts * np.power((1.0 - con) / (1.0 + con), eccnth))
            - phi
        )
        phi = np.where(active, phi + dphi, phi)
        active = active & (np.abs(dphi) >= EPSILON)
        if not np.any(active):
            return phi
    return np.where(~active, phi, np.nan)


@dataclass(frozen=True)
class LccParameters:
    """LCC 2SP parameters (LambertConformalConic.fs:11-45); degrees."""

    x0: float = 0.0
    y0: float = 0.0
    lon0: float = 0.0
    lat0: float = 0.0
    lat1: float = 0.0
    lat2: float = 0.0
    k0: float = 1.0
    ellipsoid: Ellipsoid = GRS80

    def validate(self) -> None:
        if abs(self.lat1 + self.lat2) < EPSILON:
            raise ValueError(
                "Standard parallels cannot be equal or on opposite sides "
                "of the equator."
            )


class LambertConformalConic:
    """Vectorized LCC 2SP fwd/inv (LambertConformalConic.fs:111-203)."""

    def __init__(self, params: LccParameters, map_scale: MapScale):
        params.validate()
        self.params = params
        self.scale_factor = (
            INCHES_PER_METER * map_scale.dpi / map_scale.map_scale
        )
        lat0 = math.radians(params.lat0)
        lat1 = math.radians(params.lat1)
        lat2 = math.radians(params.lat2)
        self.lon0 = math.radians(params.lon0)
        self.e = params.ellipsoid.eccentricity
        self.semimajor = params.ellipsoid.semimajor
        ms1 = _msfnz(self.e, math.sin(lat1), math.cos(lat1))
        ts1 = _tsfnz(self.e, lat1, math.sin(lat1))
        ms2 = _msfnz(self.e, math.sin(lat2), math.cos(lat2))
        ts2 = _tsfnz(self.e, lat2, math.sin(lat2))
        ts0 = _tsfnz(self.e, lat0, math.sin(lat0))
        if abs(lat1 - lat2) > EPSILON:
            self.ns = math.log(ms1 / ms2) / math.log(float(ts1) / float(ts2))
        else:
            self.ns = math.sin(lat1)
        self.f0 = ms1 / (self.ns * math.pow(float(ts1), self.ns))
        self.rh = self.semimajor * self.f0 * math.pow(float(ts0), self.ns)

    def project(self, lon, lat):
        """(lon, lat) radians → (x, y, valid).  Pole handling matches the
        reference: the pole opposite the cone apex is unprojectable."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        k0, x0, y0 = self.params.k0, self.params.x0, self.params.y0
        con = np.abs(np.abs(lat) - math.pi / 2.0)
        regular = con > EPSILON
        ts = _tsfnz(self.e, lat, np.sin(lat))
        with np.errstate(invalid="ignore"):
            rh1 = self.semimajor * self.f0 * np.power(ts, self.ns)
        theta = self.ns * _adjust_lon(lon - self.lon0)
        x = k0 * (rh1 * np.sin(theta)) + x0
        y = k0 * (self.rh - rh1 * np.cos(theta)) + y0
        # at-pole branch (LambertConformalConic.fs:162-168)
        pole_ok = (~regular) & (lat * self.ns > 0.0)
        x = np.where(regular, x, k0 + x0)
        y = np.where(regular, y, k0 * self.rh + y0)
        valid = regular | pole_ok
        return (
            x * self.scale_factor,
            y * self.scale_factor,
            valid,
        )

    def invert(self, x, y):
        """(x, y) → (lon, lat, valid) radians."""
        x = np.asarray(x, dtype=np.float64) / self.scale_factor
        y = np.asarray(y, dtype=np.float64) / self.scale_factor
        p = self.params
        xp = (x - p.x0) / p.k0
        yp = self.rh - (y - p.y0) / p.k0
        sign = 1.0 if self.ns > 0 else -1.0
        rh1 = sign * np.sqrt(xp * xp + yp * yp)
        theta = np.where(
            rh1 == 0.0, 0.0, np.arctan2(sign * xp, sign * yp)
        )
        with np.errstate(invalid="ignore", divide="ignore"):
            ts = np.power(rh1 / (self.semimajor * self.f0), 1.0 / self.ns)
            lat = _phi2z(self.e, ts)
        at_pole = (rh1 == 0.0) & (self.ns <= 0)
        lat = np.where(at_pole, -math.pi / 2.0, lat)
        lon = _adjust_lon(theta / self.ns + self.lon0)
        return lon, lat, ~np.isnan(lat)


# ---------------------------------------------------------------------------
# PROJ-string parsing + factory
# ---------------------------------------------------------------------------

_PROJ_PARAM_RE = re.compile(r"\+([A-Za-z0-9_]+)(?:=(\S+))?")


def parse_proj_spec(spec: str) -> tuple[str, dict]:
    """``+proj=lcc +lat_1=25 …`` → (projection name, parameter dict).
    Unknown parameters are collected under ``"ignored"`` like the
    reference's IgnoredParameters (PROJParsing.fs)."""
    params: dict[str, str | None] = {}
    for m in _PROJ_PARAM_RE.finditer(spec):
        params[m.group(1)] = m.group(2)
    proj = params.pop("proj", None)
    if proj is None:
        raise ValueError("PROJ specification is missing +proj")
    return proj, params


_LCC_NUMERIC = {
    "lon_0": "lon0", "lat_0": "lat0", "lat_1": "lat1", "lat_2": "lat2",
    "x_0": "x0", "y_0": "y0", "k_0": "k0",
}


def create_projection(spec: str, map_scale: MapScale):
    """Factory (Factory.fs:10-18): PROJ string → projection object with
    vectorized ``project``/``invert``."""
    name, raw = parse_proj_spec(spec)
    if name == "merc":
        return Mercator(map_scale)
    if name == "lcc":
        kwargs: dict = {}
        ignored = {}
        for k, v in raw.items():
            if k in _LCC_NUMERIC:
                try:
                    kwargs[_LCC_NUMERIC[k]] = float(v)
                except (TypeError, ValueError):
                    raise ValueError(
                        f"PROJ parameter '{k}' must have a numeric value."
                    )
            elif k == "ellps":
                ell = _ELLIPSOIDS.get(str(v).lower())
                if ell is None:
                    raise ValueError(f"Unsupported ellipsoid '{v}'")
                kwargs["ellipsoid"] = ell
            else:
                ignored[k] = v
        return LambertConformalConic(LccParameters(**kwargs), map_scale)
    raise ValueError(f"Unsupported projection '{name}'")


# ---------------------------------------------------------------------------
# DEM level selection (A10)
# ---------------------------------------------------------------------------


def min_lon_lat_delta(
    rect_min_x: int,
    rect_min_y: int,
    width: int,
    height: int,
    invert,
) -> float:
    """Exact minimum over a sample grid of the per-pixel lon/lat delta
    (MinLonLatDelta.fs:31-47 energy, :80-109 driver).  ``invert`` is a
    vectorized ``(x, y) -> (lon, lat, valid)``.

    Replaces the reference's simulated annealing with a direct vectorized
    scan: 64² evaluations is cheaper than the annealing loop and has no
    stochastic miss risk.
    """
    xs = np.linspace(rect_min_x, rect_min_x + width - 1, 64)
    ys = np.linspace(rect_min_y, rect_min_y + height - 1, 64)
    gx, gy = np.meshgrid(xs, ys)
    lon0, lat0, v0 = invert(gx, gy)
    lon1, lat1, v1 = invert(gx + 1, gy + 1)
    delta = np.minimum(np.abs(lon1 - lon0), np.abs(lat1 - lat0))
    delta = np.where(v0 & v1, delta, np.inf)
    return float(np.min(delta))


def lon_lat_delta_to_dem_level(tile_size: int, lon_lat_delta_rad: float) -> int:
    """Required DEM level for a lon/lat delta (MinLonLatDelta.fs:97-109)."""
    delta_deg = math.degrees(lon_lat_delta_rad)
    cell_size_deg = 1.0 / tile_size
    resolution_needed = delta_deg / cell_size_deg
    if resolution_needed <= 0:
        return 0
    return min(MAX_DEM_LEVEL, max(0, int(math.log2(resolution_needed))))
