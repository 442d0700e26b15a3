"""Web-Mercator (EPSG:3857) tile pyramid math.

Semantics follow the reference GlobalMercator class
(swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:423-530) and the C++
`WebMercatorQuad` scheme (apps/gdalalg_raster_tile.cpp:199-258) — a clean
re-derivation of the standard published tile-scheme formulas, NOT a code
copy. Everything here is pure `pyspark.sql.functions` Column arithmetic
(JVM-side, whole-stage-codegen'd) — no UDF anywhere, so tile assignment of
10^12 rows never leaves Tungsten.

Conventions:
  * TMS ty: origin bottom-left (what `MetersToTile` yields).
  * XYZ ("Google") ty: origin top-left; ty_xyz = 2^z - 1 - ty_tms
    (gdal2tiles.py:512, gdalalg_raster_tile.cpp:512).
  * QuadKey digits: Microsoft quadtree over XYZ coordinates
    (gdal2tiles.py:518-530).

The plain-Python twins (suffix `_py`) are the unit-test oracle and the
one tile grid of the driver-side tilers (gdal2tiles' profiles in
`tiles/g2t.py`, the MVT/PMTiles and MBTiles drivers). The Web-Mercator
twins take `tile_size` (default 256) like GlobalMercator(tile_size); the
resolution at zoom z is 2*pi*6378137 / tile_size / 2^z. ZoomForPixelSize
follows gdal2tiles' MAXZOOMLEVEL = 32: it tries zooms 0-31 and returns
MAX_ZOOM = 31 when the pixel is finer than every zoom's resolution.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0
TILE_SIZE = 256
ORIGIN_SHIFT = 2.0 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2.0 * math.pi * EARTH_RADIUS / TILE_SIZE  # 156543.033928...
MAX_ZOOM = 31  # gdal2tiles.py MAXZOOMLEVEL - 1

# --------------------------------------------------------------------------
# Column-expression forms (the production path)
# --------------------------------------------------------------------------


def resolution(zoom: Column | int) -> Column:
    """Meters/pixel at the equator for a zoom level."""
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    return F.lit(INITIAL_RESOLUTION) / F.pow(F.lit(2.0), z.cast("double"))


def lonlat_to_meters(lon: Column, lat: Column) -> tuple[Column, Column]:
    """WGS84 lon/lat -> spherical-mercator meters."""
    mx = lon * F.lit(ORIGIN_SHIFT / 180.0)
    my = (
        F.log(F.tan((F.lit(90.0) + lat) * F.lit(math.pi / 360.0)))
        / F.lit(math.pi / 180.0)
        * F.lit(ORIGIN_SHIFT / 180.0)
    )
    return mx, my


def meters_to_lonlat(mx: Column, my: Column) -> tuple[Column, Column]:
    lon = (mx / F.lit(ORIGIN_SHIFT)) * F.lit(180.0)
    lat_lin = (my / F.lit(ORIGIN_SHIFT)) * F.lit(180.0)
    lat = (
        F.lit(180.0 / math.pi)
        * (F.atan(F.exp(lat_lin * F.lit(math.pi / 180.0))) * F.lit(2.0) - F.lit(math.pi / 2.0))
    )
    return lon, lat


def meters_to_pixels(mx: Column, my: Column, zoom: Column | int) -> tuple[Column, Column]:
    res = resolution(zoom)
    return (mx + F.lit(ORIGIN_SHIFT)) / res, (my + F.lit(ORIGIN_SHIFT)) / res


def pixels_to_tile(px: Column, py: Column) -> tuple[Column, Column]:
    """ceil(p/256)-1 tile addressing (TMS)."""
    tx = (F.ceil(px / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("long")
    ty = (F.ceil(py / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("long")
    return tx, ty


def meters_to_tile(mx: Column, my: Column, zoom: Column | int) -> tuple[Column, Column]:
    px, py = meters_to_pixels(mx, my, zoom)
    return pixels_to_tile(px, py)


def lonlat_to_tile(lon: Column, lat: Column, zoom: Column | int) -> tuple[Column, Column]:
    """lon/lat -> (tx, ty_tms) at a zoom level. Pure Column math."""
    mx, my = lonlat_to_meters(lon, lat)
    return meters_to_tile(mx, my, zoom)


def tms_to_xyz(ty_tms: Column, zoom: Column | int) -> Column:
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    return F.pow(F.lit(2.0), z.cast("double")).cast("long") - F.lit(1) - ty_tms


def quadkey(tx: Column, ty_tms: Column, zoom: int) -> Column:
    """Microsoft QuadTree key of a TMS tile at a FIXED zoom (string).

    Unrolled per zoom level into pure bit-test Column expressions.
    """
    ty = tms_to_xyz(ty_tms, zoom)
    digits = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = (
            F.when(tx.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(0))
            + F.when(ty.bitwiseAND(F.lit(mask)) != 0, F.lit(2)).otherwise(F.lit(0))
        )
        digits.append(digit.cast("string"))
    if not digits:
        return F.lit("")
    return F.concat(*digits)


def quadkey_num(tx: Column, ty_tms: Column, zoom: int) -> Column:
    """QuadKey packed as a base-4 integer (digit stream -> int64) — the
    numeric form used as a sort/partition key and in SQL oracles."""
    ty = tms_to_xyz(ty_tms, zoom)
    acc = F.lit(0).cast("long")
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = (
            F.when(tx.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(0))
            + F.when(ty.bitwiseAND(F.lit(mask)) != 0, F.lit(2)).otherwise(F.lit(0))
        )
        acc = acc * F.lit(4) + digit
    return acc


# --------------------------------------------------------------------------
# Plain-Python twins (unit-test oracle; also used driver-side for zoom picks)
# --------------------------------------------------------------------------


def resolution_py(zoom: int, tile_size: int = TILE_SIZE) -> float:
    return 2.0 * math.pi * EARTH_RADIUS / tile_size / 2**zoom


def lonlat_to_meters_py(lon: float, lat: float) -> tuple[float, float]:
    mx = lon * ORIGIN_SHIFT / 180.0
    my = math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    return mx, my * ORIGIN_SHIFT / 180.0


def meters_to_lonlat_py(mx: float, my: float) -> tuple[float, float]:
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / math.pi * (2.0 * math.atan(math.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lon, lat


def meters_to_tile_py(
    mx: float, my: float, zoom: int, tile_size: int = TILE_SIZE
) -> tuple[int, int]:
    res = resolution_py(zoom, tile_size)
    px = (mx + ORIGIN_SHIFT) / res
    py = (my + ORIGIN_SHIFT) / res
    return int(math.ceil(px / float(tile_size)) - 1), int(math.ceil(py / float(tile_size)) - 1)


def lonlat_to_tile_py(lon: float, lat: float, zoom: int) -> tuple[int, int]:
    mx, my = lonlat_to_meters_py(lon, lat)
    return meters_to_tile_py(mx, my, zoom)


def tile_bounds_meters_py(
    tx: int, ty: int, zoom: int, tile_size: int = TILE_SIZE
) -> tuple[float, float, float, float]:
    res = resolution_py(zoom, tile_size)
    return (
        tx * tile_size * res - ORIGIN_SHIFT,
        ty * tile_size * res - ORIGIN_SHIFT,
        (tx + 1) * tile_size * res - ORIGIN_SHIFT,
        (ty + 1) * tile_size * res - ORIGIN_SHIFT,
    )


def quadkey_py(tx: int, ty_tms: int, zoom: int) -> str:
    ty = (2**zoom - 1) - ty_tms
    out = []
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if tx & mask:
            digit += 1
        if ty & mask:
            digit += 2
        out.append(str(digit))
    return "".join(out)


def zoom_for_pixel_size_py(pixel_size: float, tile_size: int = TILE_SIZE) -> int:
    """Max zoom whose resolution is still >= pixel_size ('don't scale up'),
    GlobalMercator.ZoomForPixelSize (gdal2tiles.py:492-498)."""
    for i in range(MAX_ZOOM + 1):
        if pixel_size > resolution_py(i, tile_size):
            return max(0, i - 1)
    return MAX_ZOOM


# ---------------------------------------------------------------------------
# TMS Global Geodetic profile (gdal2tiles.py GlobalGeodetic:535-629):
# EPSG:4326 Plate Carree pyramid. resFact = 180/tile_size when
# tmscompatible (2 tiles at level 0, the OSGeo TMS spec) else
# 360/tile_size (1 tile at level 0, OpenLayers/WMTS default). Same
# ceil(p/ts)-1 tile addressing as GlobalMercator.
# ---------------------------------------------------------------------------


def geodetic_resolution_py(
    zoom: int, tms_compatible: bool = True, tile_size: int = TILE_SIZE
) -> float:
    res_fact = (180.0 if tms_compatible else 360.0) / tile_size
    return res_fact / 2**zoom


def lonlat_to_tile_geodetic_py(
    lon: float,
    lat: float,
    zoom: int,
    tms_compatible: bool = True,
    tile_size: int = TILE_SIZE,
) -> tuple[int, int]:
    res = geodetic_resolution_py(zoom, tms_compatible, tile_size)
    px = (180.0 + lon) / res
    py = (90.0 + lat) / res
    return (
        int(math.ceil(px / float(tile_size)) - 1),
        int(math.ceil(py / float(tile_size)) - 1),
    )


def tile_bounds_geodetic_py(
    tx: int,
    ty: int,
    zoom: int,
    tms_compatible: bool = True,
    tile_size: int = TILE_SIZE,
) -> tuple[float, float, float, float]:
    res = geodetic_resolution_py(zoom, tms_compatible, tile_size)
    return (
        tx * tile_size * res - 180.0,
        ty * tile_size * res - 90.0,
        (tx + 1) * tile_size * res - 180.0,
        (ty + 1) * tile_size * res - 90.0,
    )


def geodetic_zoom_for_pixel_size_py(
    pixel_size: float, tms_compatible: bool = True, tile_size: int = TILE_SIZE
) -> int:
    """GlobalGeodetic.ZoomForPixelSize (gdal2tiles.py:608-614)."""
    for i in range(MAX_ZOOM + 1):
        if pixel_size > geodetic_resolution_py(i, tms_compatible, tile_size):
            return max(0, i - 1)
    return MAX_ZOOM


def lonlat_to_tile_geodetic(
    lon: Column,
    lat: Column,
    zoom: Column | int,
    tms_compatible: bool = True,
    tile_size: int = TILE_SIZE,
) -> tuple[Column, Column]:
    """Pure-Column geodetic tile addressing (TMS row origin bottom)."""
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    res_fact = (180.0 if tms_compatible else 360.0) / tile_size
    res = F.lit(res_fact) / F.pow(F.lit(2.0), z.cast("double"))
    px = (F.lit(180.0) + lon) / res
    py = (F.lit(90.0) + lat) / res
    tx = (F.ceil(px / F.lit(float(tile_size))) - F.lit(1)).cast("long")
    ty = (F.ceil(py / F.lit(float(tile_size))) - F.lit(1)).cast("long")
    return tx, ty
