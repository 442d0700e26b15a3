"""The gdal2tiles pipeline as Spark stages (the north-star job).

Reference dataflow (swig/python/gdal-utils/osgeo_utils/gdal2tiles.py):
`generate_base_tiles` (:2801) walks every (tz, tx, ty), computes the
source window via `geo_query` (:2968), reads, resamples to 256px, writes
PNG; `create_overview_tile` (:1466) builds zoom z-1 by pasting <=4
children into a 2x2 mosaic and downsampling 2x; `--resume` (:1492) skips
tiles that already exist. Parallelism is a multiprocessing pool
(:4515-4551).

Spark restatement — two stages per base zoom, one per overview zoom:

  1. PATCH stage (narrow, no shuffle): each image row is decoded ONCE,
     warped onto every covering tile's 256x256 mercator grid
     (raster/warp.py inverse mapping == geo_query + scale_query_to_tile
     fused), and emitted as an RGBA patch. Shuffled bytes are therefore
     proportional to OUTPUT area, never source-bytes x covering-tiles —
     the property that keeps the job linear at 10^12 images.
  2. COMPOSITE stage (the only shuffle — hash on (tz,tx,ty)): patches
     for a tile are alpha-painted in deterministic image_id order
     (painter's algorithm, = gdal2tiles' source traversal order), then
     PNG-encoded. Per-tile lineage (source ids) and timing metrics ride
     on the same row — the north rule's per-partition lineage+metrics.
  3. OVERVIEW stages: groupBy(tz-1, tx>>1, ty>>1) over the previous
     zoom's tiles; paste 2x2 (TMS orientation: child ty odd => top half)
     and 2x average-reduce — create_overview_tile semantics.
  4. RESUME: left-anti join of the tile keyset against the keys already
     present in the output store (Iceberg-snapshot/parquet checkpoint).

Tile addressing is TMS internally; `ty_xyz` (= 2^z-1-ty) is carried for
XYZ consumers (gdal2tiles.py:512 GoogleTile / gdalalg_raster_tile.cpp:512
convention flip).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import mercator as M
from gdal_spark.raster import kernels as K
from gdal_spark.raster.warp import footprint_gt, lonlat_to_meters_np, warp_array

TILE_SIZE = 256

PATCH_SCHEMA = T.StructType(
    [
        T.StructField("tz", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("rgb", T.BinaryType()),  # raw uint8 256*256*3
        T.StructField("alpha", T.BinaryType()),  # raw uint8 256*256
    ]
)

TILE_SCHEMA = T.StructType(
    [
        T.StructField("tz", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("ty_xyz", T.LongType()),
        T.StructField("png", T.BinaryType()),
        T.StructField("n_src", T.IntegerType()),
        T.StructField("src_ids", T.ArrayType(T.StringType())),
        T.StructField("ms", T.DoubleType()),
    ]
)


def max_zoom_for(images: DataFrame) -> int:
    """ZoomForPixelSize on the finest image resolution (gdal2tiles.py:505,
    2477 max-zoom rule), computed driver-side from one tiny agg."""
    row = images.select(
        F.min(
            (F.col("lon_max") - F.col("lon_min")) * F.lit(M.ORIGIN_SHIFT / 180.0)
            / F.col("w")
        ).alias("res")
    ).collect()[0]
    return M.zoom_for_pixel_size_py(row["res"])


def base_patches(
    images: DataFrame,
    tz: int,
    resample: str = "bilinear",
    profile: str = "mercator",
) -> DataFrame:
    """Stage 1: decode once, warp to each covering tile, emit RGBA patches.

    profile: "mercator" (gdal2tiles default; lonlat sources warped onto
    EPSG:3857 tile grids) or "geodetic" (gdal2tiles -p geodetic: the
    EPSG:4326 Plate Carree pyramid, GlobalGeodetic tmscompatible — no
    reprojection, pure resample onto the lon/lat tile grid)."""
    geodetic = profile == "geodetic"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import codecs

        cols = [f.name for f in PATCH_SCHEMA.fields]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                src_gt = footprint_gt(
                    r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                    arr.shape[1], arr.shape[0],
                )
                if geodetic:
                    txmin, tymin = M.lonlat_to_tile_geodetic_py(
                        float(r.lon_min), float(r.lat_min), tz
                    )
                    txmax, tymax = M.lonlat_to_tile_geodetic_py(
                        float(r.lon_max), float(r.lat_max), tz
                    )
                else:
                    mx0, my0 = lonlat_to_meters_np(np.float64(r.lon_min), np.float64(r.lat_min))
                    mx1, my1 = lonlat_to_meters_np(np.float64(r.lon_max), np.float64(r.lat_max))
                    txmin, tymin = M.meters_to_tile_py(float(mx0), float(my0), tz)
                    txmax, tymax = M.meters_to_tile_py(float(mx1), float(my1), tz)
                for tx in range(txmin, txmax + 1):
                    for ty in range(tymin, tymax + 1):
                        if geodetic:
                            bxmin, bymin, bxmax, bymax = (
                                M.tile_bounds_geodetic_py(tx, ty, tz)
                            )
                        else:
                            bxmin, bymin, bxmax, bymax = (
                                M.tile_bounds_meters_py(tx, ty, tz)
                            )
                        dst_gt = (bxmin, (bxmax - bxmin) / TILE_SIZE, 0.0,
                                  bymax, 0.0, -(bymax - bymin) / TILE_SIZE)
                        warped, mask = warp_array(
                            arr, src_gt, dst_gt, TILE_SIZE, TILE_SIZE,
                            dst_crs="EPSG:4326" if geodetic else "EPSG:3857",
                            resample=resample, return_mask=True,
                        )
                        if not mask.any():
                            continue
                        out.append(
                            (tz, tx, ty, r.image_id,
                             bytearray(np.ascontiguousarray(warped, np.uint8).tobytes()),
                             bytearray(np.packbits(mask).tobytes()))
                        )
            yield pd.DataFrame(out, columns=cols)

    return images.mapInPandas(run, PATCH_SCHEMA)


def composite_tiles(patches: DataFrame) -> DataFrame:
    """Stage 2: one shuffle on the tile key; paint patches in image_id
    order; encode PNG; carry lineage + timing."""

    def paint(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from gdal_spark.functions import codecs

        t0 = time.time()
        tz, tx, ty = int(key[0]), int(key[1]), int(key[2])
        canvas = np.zeros((TILE_SIZE, TILE_SIZE, 3), dtype=np.uint8)
        pdf = pdf.sort_values("image_id")
        for r in pdf.itertuples(index=False):
            rgb = np.frombuffer(bytes(r.rgb), np.uint8).reshape(TILE_SIZE, TILE_SIZE, 3)
            mask = np.unpackbits(
                np.frombuffer(bytes(r.alpha), np.uint8), count=TILE_SIZE * TILE_SIZE
            ).reshape(TILE_SIZE, TILE_SIZE).astype(bool)
            canvas[mask] = rgb[mask]
        png = codecs.png_encode(canvas)
        return pd.DataFrame(
            [
                (tz, tx, ty, (1 << tz) - 1 - ty, bytearray(png), len(pdf),
                 sorted(pdf["image_id"].tolist()), (time.time() - t0) * 1000.0)
            ],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return patches.groupBy("tz", "tx", "ty").applyInPandas(paint, TILE_SCHEMA)


def overview_zoom(tiles: DataFrame, method: str = "average") -> DataFrame:
    """One overview level: (tz-1, tx>>1, ty>>1) from <=4 children —
    create_overview_tile (gdal2tiles.py:1466): paste into 2x2, reduce 2x.
    `method` is the gdal2tiles --resampling choice (average default;
    filter kernels like cubic/lanczos route through the resample dispatch).

    TMS orientation: child with odd ty is the NORTH (top) half of the
    parent; child with even tx is the west (left) half.
    """
    keyed = tiles.select(
        (F.col("tz") - 1).alias("tz"),
        F.shiftright(F.col("tx"), 1).alias("ptx"),
        F.shiftright(F.col("ty"), 1).alias("pty"),
        (F.col("tx") % 2).alias("dx"),
        (F.col("ty") % 2).alias("dy"),
        "png", "n_src", "src_ids",
    )

    def reduce4(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from gdal_spark.functions import codecs

        t0 = time.time()
        tz, ptx, pty = int(key[0]), int(key[1]), int(key[2])
        big = np.zeros((2 * TILE_SIZE, 2 * TILE_SIZE, 3), dtype=np.uint8)
        srcs: list[str] = []
        n = 0
        for r in pdf.itertuples(index=False):
            child = codecs.png_decode(bytes(r.png))
            y0 = 0 if r.dy == 1 else TILE_SIZE  # odd ty -> north -> top rows
            x0 = 0 if r.dx == 0 else TILE_SIZE
            big[y0 : y0 + TILE_SIZE, x0 : x0 + TILE_SIZE] = child
            srcs.extend(r.src_ids)
            n += int(r.n_src)
        if method in K._FILTER_RADIUS:
            small = K.resample(big, TILE_SIZE, TILE_SIZE, method)
        else:
            small = K.block_reduce(big, 2, 2, method)
        return pd.DataFrame(
            [
                (tz, ptx, pty, (1 << tz) - 1 - pty, bytearray(codecs.png_encode(small)),
                 n, sorted(set(srcs)), (time.time() - t0) * 1000.0)
            ],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return keyed.groupBy("tz", "ptx", "pty").applyInPandas(reduce4, TILE_SCHEMA)


def resume_filter(patches_or_tiles: DataFrame, done_keys: DataFrame) -> DataFrame:
    """--resume (gdal2tiles.py:1492): drop work whose (tz,tx,ty) already
    exists in the tile store — checkpoint restart as a left-anti join."""
    return patches_or_tiles.join(
        done_keys.select("tz", "tx", "ty"), on=["tz", "tx", "ty"], how="left_anti"
    )


def build_pyramid(
    images: DataFrame, tz_max: int, tz_min: int = 0,
    resample: str = "bilinear", existing: DataFrame | None = None,
    overview_method: str = "average", profile: str = "mercator",
) -> dict[int, DataFrame]:
    """Full pyramid: base zoom then iterative overview reduces (one Spark
    stage per zoom, descending — gdal2tiles' overview loop).

    `existing` (full TILE_SCHEMA rows already in the store) gives --resume
    semantics per zoom, exactly gdal2tiles' file-exists skip
    (gdal2tiles.py:1492): a tile present in the store is never recomputed,
    but it IS used as a child when pasting its parent overview tile.
    Returned frames contain only the NEW tiles per zoom.
    """
    patches = base_patches(images, tz_max, resample=resample, profile=profile)
    if existing is not None:
        patches = resume_filter(patches, existing.filter(F.col("tz") == tz_max))
    new = {tz_max: composite_tiles(patches)}
    children = new[tz_max]
    if existing is not None:
        children = children.unionByName(
            existing.filter(F.col("tz") == tz_max).select(*children.columns)
        )
    for tz in range(tz_max - 1, tz_min - 1, -1):
        parents = overview_zoom(children, method=overview_method)
        if existing is not None:
            parents = resume_filter(parents, existing.filter(F.col("tz") == tz))
        new[tz] = parents
        children = parents
        if existing is not None:
            children = children.unionByName(
                existing.filter(F.col("tz") == tz).select(*parents.columns)
            )
    return new


def write_tiles(tiles: DataFrame, path: str, mode: str = "append") -> None:
    """Tile sink: hive-layout parquet partitioned by (tz, tx) — the
    z/x/y.png directory scheme as a columnar table; Iceberg on a real
    cluster (snapshot == resume checkpoint)."""
    tiles.write.partitionBy("tz", "tx").mode(mode).parquet(path)


def read_tile_keys(spark, path: str) -> DataFrame | None:
    t = read_tiles(spark, path)
    return t.select("tz", "tx", "ty") if t is not None else None


def read_tiles(spark, path: str) -> DataFrame | None:
    """Load the tile store for resume; tolerates a store written without
    the `ms` timing column (filled with 0.0)."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    if "ms" not in df.columns:
        df = df.withColumn("ms", F.lit(0.0))
    return df


def snapshot_write_tiles(tiles: DataFrame, path: str) -> int:
    """Tile sink with Iceberg snapshot semantics (sources/snapshots.py):
    each call commits one snapshot whose manifest carries the FULL file
    set — a crashed writer's files stay invisible, which is what makes
    `--resume` blind-restart safe on a real Iceberg catalog."""
    from gdal_spark.sources.snapshots import SnapshotTable

    return SnapshotTable(path).commit(tiles)


def snapshot_read_tiles(spark, path: str) -> DataFrame | None:
    """Resume source: the CURRENT committed snapshot only."""
    from gdal_spark.sources.snapshots import SnapshotTable

    store = SnapshotTable(path)
    if store.current_snapshot_id() is None:
        return None
    df = store.read(spark)
    if "ms" not in df.columns:
        df = df.withColumn("ms", F.lit(0.0))
    return df
