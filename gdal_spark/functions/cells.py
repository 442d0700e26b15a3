"""Hierarchical cell index (H3/S2-style) built on the Web-Mercator quadtree.

GDAL's spatial indexes are a quadtree (.qix, port/cpl_quad_tree.cpp) or an
R-tree; gdal2tiles addresses space with quadtree keys (gdal2tiles.py:518).
We use the same quadtree as our cell index, packed into one int64 so it can
be a join/partition key:

    cell = (res << 58) | (tx << 29) | ty_tms      (res <= 28, tx/ty < 2^29)

Pure Column math — cell assignment, covering-cell explosion, and k-ring
expansion never leave the JVM. At 100 TB scale the `cell` column is the
partition key of the images table (Iceberg bucket/truncate transform), so
a cell equi-join prunes to co-located partitions.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gdal_spark.functions import mercator as M

RES_SHIFT = 58
TX_SHIFT = 29
COORD_MASK = (1 << 29) - 1


def pack_cell(res: Column | int, tx: Column, ty: Column) -> Column:
    r = (F.lit(res) if isinstance(res, int) else res).cast("long")
    return (
        F.shiftleft(r, RES_SHIFT)
        .bitwiseOR(F.shiftleft(tx.cast("long"), TX_SHIFT))
        .bitwiseOR(ty.cast("long"))
    )


def cell_res(cell: Column) -> Column:
    return F.shiftright(cell, RES_SHIFT).bitwiseAND(F.lit(63))


def cell_tx(cell: Column) -> Column:
    return F.shiftright(cell, TX_SHIFT).bitwiseAND(F.lit(COORD_MASK))


def cell_ty(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(COORD_MASK))


def _tile(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """(tx, ty) of a lon/lat point at `res`, clamped to the grid. A latitude
    past +-89 (the Mercator limit at every res) is brought to +-89 first,
    as cover_cells_np does: at -90 and below Spark's ln is NULL, which the
    clamp would turn into the TOP row, and past +90 tan's 360-degree
    period lands it on an ordinary row again. NaN and NULL latitudes pass
    through as they are (Spark orders NaN above 89). A longitude below
    -180 is raised to -180: far enough below it (-inf, say) the tile's
    ceil saturates at Long.MinValue and its `- 1` overflows under ANSI."""
    lat = (F.when(lat < F.lit(-89.0), F.lit(-89.0))
           .when((lat > F.lit(89.0)) & ~F.isnan(lat), F.lit(89.0))
           .otherwise(lat))
    lon = F.when(lon < F.lit(-180.0), F.lit(-180.0)).otherwise(lon)
    n = F.lit((1 << res) - 1)
    return tuple(F.greatest(F.lit(0), F.least(n, t))
                 for t in M.lonlat_to_tile(lon, lat, res))


def lonlat_cell(lon: Column, lat: Column, res: int) -> Column:
    """Cell id containing a lon/lat point at resolution `res`."""
    return pack_cell(res, *_tile(lon, lat, res))


def parent_cell(cell: Column, levels: int = 1) -> Column:
    """Parent cell `levels` up the pyramid (tx>>l, ty>>l, res-l)."""
    return pack_cell(
        cell_res(cell) - F.lit(levels),
        F.shiftright(cell_tx(cell), levels),
        F.shiftright(cell_ty(cell), levels),
    )


def cover_cells(
    lon_min: Column, lat_min: Column, lon_max: Column, lat_max: Column, res: int
) -> Column:
    """Array of cell ids covering a lon/lat bbox at resolution `res`.

    Use with `F.explode(...)`. Footprints are expected to be small relative
    to the cell size; the array is (txmax-txmin+1)*(tymax-tymin+1) cells.
    Mirrors GTI tile-index extent intersection
    (frmts/gti/gdaltileindexdataset.cpp) as pure Column sequences.
    """
    txmin, tymin = _tile(lon_min, lat_min, res)
    txmax, tymax = _tile(lon_max, lat_max, res)
    txs = F.sequence(txmin, txmax)
    tys = F.sequence(tymin, tymax)
    # cross product of tx × ty as a flat array of packed cells
    return F.flatten(
        F.transform(
            txs,
            lambda tx: F.transform(tys, lambda ty: pack_cell(res, tx, ty)),
        )
    )


def kring(cell: Column, k: int) -> Column:
    """Array of cells within Chebyshev distance k (the (2k+1)^2 block).

    Quadtree analog of H3's k-ring, used for kNN candidate expansion
    (reference analog: CPLQuadTreeSearch over an expanded AOI,
    alg/gdalgrid.cpp:257). tx wraps around the antimeridian; ty clamps.
    """
    res = cell_res(cell)
    n = F.pow(F.lit(2.0), res.cast("double")).cast("long")
    tx, ty = cell_tx(cell), cell_ty(cell)
    dxs = F.sequence(F.lit(-k), F.lit(k))
    dys = F.sequence(F.lit(-k), F.lit(k))
    return F.array_distinct(
        F.flatten(
            F.transform(
                dxs,
                lambda dx: F.filter(
                    F.transform(
                        dys,
                        lambda dy: F.when(
                            (ty + dy >= 0) & (ty + dy < n),
                            pack_cell(res, ((tx + dx) % n + n) % n, ty + dy),
                        ),
                    ),
                    lambda c: c.isNotNull(),
                ),
            )
        )
    )


def with_footprint_cells(
    df: DataFrame,
    res: int,
    lon_min: str = "lon_min",
    lat_min: str = "lat_min",
    lon_max: str = "lon_max",
    lat_max: str = "lat_max",
    out: str = "cell",
) -> DataFrame:
    """Explode a bbox'd DataFrame to one row per covering cell."""
    return df.withColumn(
        out,
        F.explode(
            cover_cells(F.col(lon_min), F.col(lat_min), F.col(lon_max), F.col(lat_max), res)
        ),
    )


# Python twins for tests -----------------------------------------------------


def pack_cell_py(res: int, tx: int, ty: int) -> int:
    return (res << RES_SHIFT) | (tx << TX_SHIFT) | ty


# Relative widening of each bbox edge before the driver-side cover. numpy's
# log/tan may differ from the JVM's in the last ulp (about 1e-14 degrees), so
# a bbox edge on a tile boundary could otherwise land one tile inside the
# JVM's; widened, it can only gain a candidate cell, never lose one.
COVER_EPS = 1e-9


def cover_cells_np(
    lon_min: np.ndarray, lat_min: np.ndarray, lon_max: np.ndarray,
    lat_max: np.ndarray, res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorised driver-side twin of `cover_cells` over arrays of bboxes:
    (row, cell) int64 arrays, one entry per cell covering row's bbox.

    Conservative: each bbox is widened by COVER_EPS (relative, at least
    COVER_EPS degrees) and tile indices are clamped as `lonlat_cell` clamps
    them, so the cover is a superset of the JVM cover of the same bbox. A
    NaN bbox covers nothing.
    """
    n = (1 << res) - 1
    res_m = M.resolution_py(res)

    def tile(merc):
        t = np.ceil((merc + M.ORIGIN_SHIFT) / res_m / float(M.TILE_SIZE)) - 1
        return np.clip(np.nan_to_num(t), 0, n).astype(np.int64)

    def mx(lon):
        return np.clip(lon, -180.0, 180.0) * (M.ORIGIN_SHIFT / 180.0)

    def my(lat):
        # past +-89 degrees every res saturates at the polar tile row
        lat = np.clip(lat, -89.0, 89.0)
        return (np.log(np.tan((90.0 + lat) * (math.pi / 360.0)))
                / (math.pi / 180.0) * (M.ORIGIN_SHIFT / 180.0))

    def widen(v, sign):
        return v + sign * COVER_EPS * np.maximum(1.0, np.abs(v))

    # an inverted bbox covers its tile range too (F.sequence counts down)
    lon0, lon1, lat0, lat1 = (np.asarray(v, dtype=np.float64)
                              for v in (lon_min, lon_max, lat_min, lat_max))
    x0, x1 = widen(np.minimum(lon0, lon1), -1), widen(np.maximum(lon0, lon1), 1)
    y0, y1 = widen(np.minimum(lat0, lat1), -1), widen(np.maximum(lat0, lat1), 1)
    ok = ~(np.isnan(x0) | np.isnan(y0) | np.isnan(x1) | np.isnan(y1))
    tx0, tx1, ty0, ty1 = tile(mx(x0)), tile(mx(x1)), tile(my(y0)), tile(my(y1))
    ny = ty1 - ty0 + 1
    count = np.where(ok, (tx1 - tx0 + 1) * ny, 0)
    row = np.repeat(np.arange(len(count)), count)
    k = np.arange(len(row)) - np.repeat(np.cumsum(count) - count, count)
    tx = tx0[row] + k // ny[row]
    ty = ty0[row] + k % ny[row]
    return row, (np.int64(res) << RES_SHIFT) | (tx << TX_SHIFT) | ty
