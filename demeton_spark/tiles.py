"""SRTM-style DEM tile / cell coordinate math.

This is the engine's "H3/S2" module: a global integer cell grid derived
from lon/lat, 1-degree (at level 0) tiles keyed by ``(level, tile_x,
tile_y)``, reversible tile names, and bbox→tile covers.

Semantics follow the reference implementation (breki/demeton):
  - cell grid:      /root/reference/Demeton/Dem/Funcs.fs:39-68
  - tile names:     /root/reference/Demeton/Dem/Funcs.fs:130-137 and
                    /root/reference/Demeton/Dem/Types.fs:233-236
  - name parsing:   /root/reference/Demeton/Dem/Funcs.fs:157-226
  - lon/lat bounds: /root/reference/Demeton/Dem/Funcs.fs:229-246
  - bbox cover:     /root/reference/Demeton/Dem/Funcs.fs:262-308
    (max tile index uses ``ceil - 1`` so an exactly tile-aligned bbox
    does not over-cover)

Everything here is pure Python or Spark Column expressions — no
per-row Python UDFs.  The Column builder mirrors its scalar function
exactly so Catalyst can constant-fold / push it down.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

try:  # Column-expression builders are optional (plain-Python use works too)
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    F = None  # type: ignore

#: SRTM level-0 tile size in cells (Demeton/Srtm/Funcs.fs:8-9).
SRTM_TILE_SIZE = 3600

#: Missing-height sentinel (Demeton/Dem/Types.fs:18-19).
DEM_HEIGHT_NONE = -32768

#: Maximum downsampling pyramid level (Demeton/Dem/Types.fs:176-177).
MAX_DEM_LEVEL = 6


# ---------------------------------------------------------------------------
# scalar / numpy coordinate math
# ---------------------------------------------------------------------------

def cells_per_degree(tile_size: int, level: int) -> float:
    """Cells per degree of lon/lat at a pyramid level (Funcs.fs:57-58)."""
    return float(tile_size) / float(1 << level)


def longitude_to_cell_x(cpd: float, lon):
    """Fractional global cell X of a longitude (Funcs.fs:63-64)."""
    return lon * cpd


def latitude_to_cell_y(cpd: float, lat):
    """Fractional global cell Y of a latitude (Funcs.fs:69)."""
    return lat * cpd


def cell_x_to_longitude(cpd: float, cell_x):
    return cell_x / cpd


def cell_y_to_latitude(cpd: float, cell_y):
    return cell_y / cpd


def tile_min_cell(tile_size: int, tile_x: int, tile_y: int) -> tuple[int, int]:
    """Minimum (south-west) global cell coords of a tile (Funcs.fs:39-43)."""
    return (
        int(math.floor(tile_x * float(tile_size))),
        int(math.floor(tile_y * float(tile_size))),
    )


def tile_of_cell(tile_size: int, cell_x, cell_y) -> tuple[int, int]:
    """Tile containing a global cell coordinate (Funcs.fs:45-55)."""
    return (
        int(math.floor(cell_x / float(tile_size))),
        int(math.floor(cell_y / float(tile_size))),
    )


def tile_of_lon_lat(
    tile_size: int, level: int, lon: float, lat: float
) -> tuple[int, int]:
    """Tile containing a lon/lat point.

    floor(lon * cpd / tile_size) == floor(lon / 2**level).
    """
    cpd = cells_per_degree(tile_size, level)
    return tile_of_cell(
        tile_size, longitude_to_cell_x(cpd, lon), latitude_to_cell_y(cpd, lat)
    )


def tile_name(level: int, tile_x: int, tile_y: int) -> str:
    """Render the tile name.

    Level 0 → HGT style ``N46E013`` (FormatLat2Lon3, Types.fs:233-236);
    level>0 → ``l1e06n24`` (Funcs.fs:130-137).
    """
    lon_sign = "E" if tile_x >= 0 else "W"
    lat_sign = "N" if tile_y >= 0 else "S"
    if level == 0:
        return f"{lat_sign}{abs(tile_y):02d}{lon_sign}{abs(tile_x):03d}"
    return (
        f"l{level:01d}{lon_sign.lower()}{abs(tile_x):02d}"
        f"{lat_sign.lower()}{abs(tile_y):02d}"
    )


def parse_tile_name(name: str) -> tuple[int, int, int]:
    """Inverse of :func:`tile_name` → ``(level, tile_x, tile_y)``.

    Mirrors parseTileName / parseHgtTileName (Funcs.fs:157-226).
    """
    if name[0] == "l":
        level = int(name[1])
        lon_sign = {"e": 1, "w": -1}[name[2]]
        tile_x = int(name[3:5]) * lon_sign
        lat_sign = {"n": 1, "s": -1}[name[5]]
        tile_y = int(name[6:8]) * lat_sign
        return level, tile_x, tile_y
    lat_sign = {"N": 1, "S": -1}[name[0]]
    tile_y = int(name[1:3]) * lat_sign
    lon_sign = {"E": 1, "W": -1}[name[3]]
    tile_x = int(name[4:7]) * lon_sign
    return 0, tile_x, tile_y


def tile_lon_lat_bounds(
    tile_size: int, level: int, tile_x: int, tile_y: int
) -> tuple[float, float, float, float]:
    """``(min_lon, min_lat, max_lon, max_lat)`` of a tile (Funcs.fs:229-246)."""
    min_cx, min_cy = tile_min_cell(tile_size, tile_x, tile_y)
    cpd = cells_per_degree(tile_size, level)
    return (
        cell_x_to_longitude(cpd, float(min_cx)),
        cell_y_to_latitude(cpd, float(min_cy)),
        cell_x_to_longitude(cpd, float(min_cx + tile_size)),
        cell_y_to_latitude(cpd, float(min_cy + tile_size)),
    )


def tile_cover(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float
) -> tuple[int, int, int, int]:
    """The inclusive level-0 tile box ``(tx0, ty0, tx1, ty1)`` covering a
    lon/lat bbox: floor of the minimum, ``ceil - 1`` of the maximum, so
    an exactly tile-aligned bbox does not over-cover (Funcs.fs:284-298)."""
    return (math.floor(min_lon), math.floor(min_lat),
            math.ceil(max_lon) - 1, math.ceil(max_lat) - 1)


def in_tiles(tx0: int, ty0: int, tx1: int, ty1: int) -> "Column":
    """Catalyst predicate: the row's tile lies in the inclusive box
    (:func:`tile_cover`)."""
    return F.col("tile_x").between(tx0, tx1) & F.col("tile_y").between(ty0, ty1)


def bounds_to_tiles(
    tile_size: int,
    level: int,
    min_lon: float,
    min_lat: float,
    max_lon: float,
    max_lat: float,
) -> list[tuple[int, int]]:
    """All ``(tile_x, tile_y)`` covering a bbox, row-major (Funcs.fs:262-308).

    Max index is ``ceil(maxcoord/size) - 1`` so exactly aligned bboxes do
    not over-cover (the §4.3 trap).
    """
    cpd = cells_per_degree(tile_size, level)
    min_tx = int(math.floor(longitude_to_cell_x(cpd, min_lon) / tile_size))
    min_ty = int(math.floor(latitude_to_cell_y(cpd, min_lat) / tile_size))
    max_tx = int(math.ceil(longitude_to_cell_x(cpd, max_lon) / tile_size)) - 1
    max_ty = int(math.ceil(latitude_to_cell_y(cpd, max_lat) / tile_size)) - 1
    return [
        (tx, ty)
        for ty in range(min_ty, max_ty + 1)
        for tx in range(min_tx, max_tx + 1)
    ]


# ---------------------------------------------------------------------------
# int64 cell key packing (the H3-style opaque key)
# ---------------------------------------------------------------------------

_KEY_OFFSET = 1 << 20  # tiles span lon [-180,180] / lat [-90,90] easily


def tile_key(level: int, tile_x: int, tile_y: int) -> int:
    """Pack ``(level, tile_x, tile_y)`` into one int64 equi-join key."""
    return (
        (int(level) << 42)
        | ((int(tile_x) + _KEY_OFFSET) << 21)
        | (int(tile_y) + _KEY_OFFSET)
    )


def tile_key_decode(key: int) -> tuple[int, int, int]:
    return (
        int(key >> 42),
        int((key >> 21) & 0x1FFFFF) - _KEY_OFFSET,
        int(key & 0x1FFFFF) - _KEY_OFFSET,
    )


# ---------------------------------------------------------------------------
# Spark Column-expression builders (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

def tile_name_col(level: "Column | int", tile_x: "Column", tile_y: "Column") -> "Column":
    """Tile-name column mirroring :func:`tile_name` for level-0 tiles.

    Implemented with concat/lpad so the identical ANSI SQL runs on DuckDB
    for the correctness oracle.
    """
    lvl = F.lit(level) if isinstance(level, int) else level
    lat_sign = F.when(tile_y >= 0, F.lit("N")).otherwise(F.lit("S"))
    lon_sign = F.when(tile_x >= 0, F.lit("E")).otherwise(F.lit("W"))
    level0 = F.concat(
        lat_sign,
        F.lpad(F.abs(tile_y).cast("string"), 2, "0"),
        lon_sign,
        F.lpad(F.abs(tile_x).cast("string"), 3, "0"),
    )
    higher = F.concat(
        F.lit("l"),
        lvl.cast("string"),
        F.lower(lon_sign),
        F.lpad(F.abs(tile_x).cast("string"), 2, "0"),
        F.lower(lat_sign),
        F.lpad(F.abs(tile_y).cast("string"), 2, "0"),
    )
    return F.when(lvl == 0, level0).otherwise(higher)


def tile_xy_cols(name: "Column") -> tuple["Column", "Column"]:
    """``(tile_x, tile_y)`` int columns of a level-0 tile-name column —
    the inverse of :func:`tile_name_col` at level 0, with
    parseHgtTileName's sign and zero-pad rules (Funcs.fs:157-188)."""
    lat_sign = F.when(F.substring(name, 1, 1) == "N", 1).otherwise(-1)
    lon_sign = F.when(F.substring(name, 4, 1) == "E", 1).otherwise(-1)
    return (lon_sign * F.substring(name, 5, 3).cast("int"),
            lat_sign * F.substring(name, 2, 2).cast("int"))


def tile_name_sql(tile_x: str, tile_y: str) -> str:
    """ANSI-SQL fragment equivalent of :func:`tile_name_col` at level 0.

    Runs identically on Spark SQL and DuckDB (the oracle).
    """
    return (
        f"concat(case when {tile_y} >= 0 then 'N' else 'S' end,"
        f" lpad(cast(abs({tile_y}) as varchar), 2, '0'),"
        f" case when {tile_x} >= 0 then 'E' else 'W' end,"
        f" lpad(cast(abs({tile_x}) as varchar), 3, '0'))"
    )


@dataclass(frozen=True)
class TileId:
    """Convenience value object mirroring DemTileId (Types.fs:208-254)."""

    level: int
    tile_x: int
    tile_y: int

    @property
    def name(self) -> str:
        return tile_name(self.level, self.tile_x, self.tile_y)

    @property
    def key(self) -> int:
        return tile_key(self.level, self.tile_x, self.tile_y)

    def parent(self) -> "TileId":
        """Parent tile one level up (Downsampling.fs:37-61 inverted)."""
        return TileId(
            self.level + 1,
            int(math.floor(self.tile_x / 2.0)),
            int(math.floor(self.tile_y / 2.0)),
        )

    def children(self) -> list["TileId"]:
        """2×2 children needed to downsample this tile (Downsampling.fs:37-61)."""
        x0, y0 = self.tile_x * 2, self.tile_y * 2
        return [
            TileId(self.level - 1, x0 + dx, y0 + dy)
            for dy in (0, 1)
            for dx in (0, 1)
        ]
