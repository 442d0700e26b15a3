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


def lonlat_cell(lon: Column, lat: Column, res: int) -> Column:
    """Cell id containing a lon/lat point at resolution `res`."""
    tx, ty = M.lonlat_to_tile(lon, lat, res)
    n = (1 << res) - 1
    tx = F.greatest(F.lit(0), F.least(F.lit(n), tx))
    ty = F.greatest(F.lit(0), F.least(F.lit(n), ty))
    return pack_cell(res, tx, ty)


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
    n = (1 << res) - 1
    txmin, tymin = M.lonlat_to_tile(lon_min, lat_min, res)
    txmax, tymax = M.lonlat_to_tile(lon_max, lat_max, res)
    txmin = F.greatest(F.lit(0), F.least(F.lit(n), txmin))
    txmax = F.greatest(F.lit(0), F.least(F.lit(n), txmax))
    tymin = F.greatest(F.lit(0), F.least(F.lit(n), tymin))
    tymax = F.greatest(F.lit(0), F.least(F.lit(n), tymax))
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
