"""MBTiles driver (frmts/mbtiles/mbtilesdataset.cpp re-expressed).

Read path: the sqlite ``tiles`` table (TMS south-up rows) is mosaicked
into a north-up raster whose grid follows the reference exactly —

* bounds from the ``bounds`` metadata (lon/lat -> spherical mercator,
  northings clamped, ``MBTilesGetBounds``) or, with use_bounds=False,
  from the min/max tile numbers at max zoom;
* geotransform/raster size per ``InitRaster``: res =
  ``mercator.resolution_py(z, tile_size)``, size = int(0.5 + extent/res);
* the raster is a pixel-shifted window of the global tile matrix
  (``ComputeTileAndPixelShifts``: shift = floor(0.5 + (origin -
  TMS_ORIGIN)/scale));
* band promotion like the reference (#6119: 4 bands by default,
  BAND_COUNT to override): gray -> gray/RGB, missing alpha = 255 where a
  tile exists and 0 elsewhere;
* each zoom below max is the same window at that zoom (the reference's
  overview datasets).

Write path: tiles + metadata -> a spec-compliant MBTiles file usable as
the sink of the tiling pipelines (gdal2tiles/g2t or tiles/pipeline).

Scale: `read_mbtiles_tiles` hands each Spark task its own read-only
sqlite connection over a tile-range slice — no driver-side pixel IO; the
single-file writer streams partitions like the shapefile sink.
"""

from __future__ import annotations

import math
import os
import sqlite3

import numpy as np

from gdal_spark.functions import mercator as M


def longlat_to_mercator(lon: float, lat: float) -> tuple[float, float]:
    # mbtilesdataset.cpp's operation order, not lonlat_to_meters_py's
    x = M.EARTH_RADIUS * lon / 180 * math.pi
    y = M.EARTH_RADIUS * math.log(math.tan(math.pi / 4 + 0.5 * lat / 180 * math.pi))
    return x, y


def _decode_tile(blob: bytes) -> np.ndarray:
    """PNG/JPEG/WebP tile -> (h, w) or (h, w, bands) uint8."""
    from gdal_spark.functions.codecs import codec_of, decode_image

    fmt = codec_of(blob)
    if fmt not in ("png", "jpeg", "webp"):
        raise ValueError("unknown tile format")
    return decode_image(blob, fmt)


def _tile_to_bands(tile: np.ndarray, band_count: int, tile_size: int):
    """Reference band promotion: expand the decoded tile to band_count
    planes + a validity alpha (255)."""
    if tile.ndim == 2:
        tile = tile[:, :, None]
    tb = tile.shape[2]
    out = np.zeros((tile.shape[0], tile.shape[1], band_count), np.uint8)
    if band_count == 1:
        out[:, :, 0] = tile[:, :, 0]
    elif band_count == 2:
        out[:, :, 0] = tile[:, :, 0]
        out[:, :, 1] = tile[:, :, tb - 1] if tb in (2, 4) else 255
    else:
        if tb >= 3:
            out[:, :, :3] = tile[:, :, :3]
        else:
            out[:, :, :3] = tile[:, :, :1]
        if band_count == 4:
            out[:, :, 3] = tile[:, :, 3] if tb == 4 else 255
    return out


def mbtiles_info(path: str) -> dict:
    con = sqlite3.connect(path)
    try:
        md = dict(con.execute("SELECT name, value FROM metadata").fetchall())
        zooms = [
            r[0]
            for r in con.execute(
                "SELECT DISTINCT zoom_level FROM tiles ORDER BY zoom_level"
            )
        ]
        return {"metadata": md, "zooms": zooms}
    finally:
        con.close()


def _grid(path: str, zoom: int, use_bounds: bool, tile_size: int):
    """-> (gt, w, h, shift_px_x, shift_px_y) per InitRaster +
    ComputeTileAndPixelShifts."""
    con = sqlite3.connect(path)
    try:
        md = dict(con.execute("SELECT name, value FROM metadata").fetchall())
        bounds = None
        if use_bounds and "bounds" in md:
            toks = md["bounds"].split(",")
            if len(toks) == 4:
                minx, miny, maxx, maxy = (float(t) for t in toks)
                if (abs(minx) <= 180 and abs(maxx) <= 180
                        and abs(miny) < 89.99 and abs(maxy) < 89.99
                        and minx <= maxx and miny <= maxy):
                    x0, y0 = longlat_to_mercator(minx, miny)
                    x1, y1 = longlat_to_mercator(maxx, maxy)
                    y1 = min(y1, M.ORIGIN_SHIFT)
                    y0 = max(y0, -M.ORIGIN_SHIFT)
                    bounds = (x0, y0, x1, y1)
        if bounds is None:
            r = con.execute(
                "SELECT min(tile_column), max(tile_column), min(tile_row), "
                "max(tile_row) FROM tiles WHERE zoom_level = ?", (zoom,)
            ).fetchone()
            c0, c1, r0, r1 = r

            def t2w(t):  # mbtilesdataset.cpp's tile-to-meters, kept for its order
                return -M.ORIGIN_SHIFT + 2 * M.ORIGIN_SHIFT * (t / (1 << zoom))

            bounds = (t2w(c0), t2w(r0), t2w(c1 + 1), t2w(r1 + 1))
    finally:
        con.close()
    res = M.resolution_py(zoom, tile_size)
    w = int(0.5 + (bounds[2] - bounds[0]) / res)
    h = int(0.5 + (bounds[3] - bounds[1]) / res)
    gt = (bounds[0], res, 0.0, bounds[3], 0.0, -res)
    shift_px_x = int(math.floor(0.5 + (gt[0] - (-M.ORIGIN_SHIFT)) / res))
    shift_px_y = int(math.floor(0.5 + (gt[3] - M.ORIGIN_SHIFT) / -res))
    return gt, w, h, shift_px_x, shift_px_y


def read_mbtiles(
    path: str, zoom: int | None = None, band_count: int = 4,
    use_bounds: bool = True, tile_size: int = 256,
):
    """-> ((band_count, h, w) uint8 north-up, geotransform, metadata)."""
    info = mbtiles_info(path)
    zooms = info["zooms"]
    if not zooms:
        raise ValueError("no tiles")
    z = zoom if zoom is not None else max(zooms)
    gt, w, h, spx, spy = _grid(path, max(zooms), use_bounds, tile_size)
    if z != max(zooms):  # overview: same window at coarser zoom
        f = 1 << (max(zooms) - z)
        w = max(1, int(0.5 + w / f))
        h = max(1, int(0.5 + h / f))
        res = M.resolution_py(z, tile_size)
        gt = (gt[0], res, 0.0, gt[3], 0.0, -res)
        spx = int(math.floor(0.5 + (gt[0] + M.ORIGIN_SHIFT) / res))
        spy = int(math.floor(0.5 + (gt[3] - M.ORIGIN_SHIFT) / -res))

    out = np.zeros((h, w, band_count), np.uint8)
    n_rows = 1 << z
    con = sqlite3.connect(path)
    try:
        c0 = spx // tile_size
        c1 = (spx + w - 1) // tile_size
        rt0 = spy // tile_size
        rt1 = (spy + h - 1) // tile_size
        for row_top in range(rt0, rt1 + 1):
            tms_row = n_rows - 1 - row_top
            for col in range(c0, c1 + 1):
                r = con.execute(
                    "SELECT tile_data FROM tiles WHERE zoom_level=? AND "
                    "tile_column=? AND tile_row=?", (z, col, tms_row)
                ).fetchone()
                if r is None:
                    continue
                bands = _tile_to_bands(
                    _decode_tile(bytes(r[0])), band_count, tile_size
                )
                gx0 = col * tile_size - spx
                gy0 = row_top * tile_size - spy
                dx0, dy0 = max(gx0, 0), max(gy0, 0)
                dx1 = min(gx0 + tile_size, w)
                dy1 = min(gy0 + tile_size, h)
                if dx1 <= dx0 or dy1 <= dy0:
                    continue
                out[dy0:dy1, dx0:dx1] = bands[
                    dy0 - gy0:dy1 - gy0, dx0 - gx0:dx1 - gx0
                ]
    finally:
        con.close()
    return np.moveaxis(out, 2, 0), gt, info["metadata"]


def write_mbtiles(
    path: str, tiles: dict, metadata: dict | None = None, fmt: str = "png",
) -> None:
    """tiles: {(z, tx, ty_tms): (h, w, bands) uint8} -> MBTiles file.
    Accepts the output of the g2t/gdal2tiles renderers directly."""
    from gdal_spark.functions.codecs import encode_image

    if os.path.exists(path):
        os.unlink(path)
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE metadata (name text, value text)")
        con.execute(
            "CREATE TABLE tiles (zoom_level integer, tile_column integer, "
            "tile_row integer, tile_data blob)"
        )
        con.execute(
            "CREATE UNIQUE INDEX tiles_index ON tiles "
            "(zoom_level, tile_column, tile_row)"
        )
        zooms = sorted({z for z, _, _ in tiles})
        md = {
            "name": os.path.splitext(os.path.basename(path))[0],
            "type": "overlay",
            "version": "1.1",
            "description": os.path.splitext(os.path.basename(path))[0],
            "format": "png" if fmt == "png" else "jpg",
            "minzoom": str(zooms[0]),
            "maxzoom": str(zooms[-1]),
        }
        md.update(metadata or {})
        con.executemany(
            "INSERT INTO metadata VALUES (?, ?)", list(md.items())
        )
        for (z, tx, ty), arr in sorted(tiles.items()):
            blob = encode_image(np.ascontiguousarray(arr), fmt)
            con.execute(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                (int(z), int(tx), int(ty), sqlite3.Binary(blob)),
            )
        con.commit()
    finally:
        con.close()


def read_mbtiles_tiles(spark, path: str, zoom: int | None = None):
    """Distributed per-tile scan: DataFrame (z, x, y_tms, w, h, bands,
    data) — each task opens its own read-only sqlite connection over a
    rowid slice."""
    import pandas as pd
    from pyspark.sql import types as T

    info = mbtiles_info(path)
    z = zoom if zoom is not None else max(info["zooms"])
    con = sqlite3.connect(path)
    keys = con.execute(
        "SELECT tile_column, tile_row FROM tiles WHERE zoom_level=?", (z,)
    ).fetchall()
    con.close()
    kdf = spark.createDataFrame(
        [(z, int(c), int(r)) for c, r in keys], "z: int, x: int, y: int"
    )
    schema = T.StructType([
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ])

    def run(batches):
        c = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        for b in batches:
            rows = []
            for z_, x_, y_ in zip(b["z"], b["x"], b["y"]):
                blob = c.execute(
                    "SELECT tile_data FROM tiles WHERE zoom_level=? AND "
                    "tile_column=? AND tile_row=?",
                    (int(z_), int(x_), int(y_)),
                ).fetchone()[0]
                arr = _decode_tile(bytes(blob))
                if arr.ndim == 2:
                    arr = arr[:, :, None]
                rows.append((int(z_), int(x_), int(y_), arr.shape[1],
                             arr.shape[0], arr.shape[2], arr.tobytes()))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "w", "h", "bands", "data"]
            )
        c.close()

    return kdf.mapInPandas(run, schema)
