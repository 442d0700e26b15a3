"""`gdal raster pixel-info` / gdallocationinfo equivalent.

Re-expresses apps/gdalalg_raster_pixel_info.cpp (RunStep:231-1100):

  * positions are interpreted in 'pixel' space (column/line directly) or
    'dataset' space (georeferenced X/Y -> inverse geotransform, :545-560);
  * iPixel/iLine = floor(column/line) (:735-741); a position outside
    [0,w)x[0,h) yields no value fields (GDALRasterInterpolateAtPoint
    failure path) -> None here;
  * per-band raw value sampled with GDALRasterInterpolateAtPoint
    semantics (near/bilinear, pixel-center convention — shared
    raster.morph.interpolate_at_point kernel);
  * unscaled_value = raw * scale + offset (:929-931);
  * CSV field layout geom_x, geom_y, column, line,
    band_{n}_raw_value, band_{n}_unscaled_value (:506-585).

Distributed form ``pixel_info_tiles``: the position list is small and
rides in the UDF closure; each image row is decoded once and all
positions sampled inside the Arrow batch — embarrassingly parallel,
no shuffle, no driver involvement.
"""

from __future__ import annotations

import math

import numpy as np

from gdal_spark.raster.kernels import gt_invert
from gdal_spark.raster.morph import interpolate_at_point


def pixel_info(
    arr: np.ndarray,
    positions,
    gt=None,
    pos_crs: str = "pixel",
    bands=None,
    interpolation: str = "near",
    scale: float = 1.0,
    offset: float = 0.0,
) -> list[dict]:
    """Sample ``arr`` (h,w) or (h,w,b) at ``positions`` [(x, y), ...].

    Returns one dict per position: geom_x, geom_y, column, line, and
    band_{n}_raw_value / band_{n}_unscaled_value per selected band
    (None when the position falls off the raster).
    """
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    if bands is None:
        bands = list(range(1, nb + 1))
    if pos_crs == "dataset":
        if gt is None:
            raise ValueError("'dataset' positions require a geotransform")
        inv = gt_invert(gt)
    rows = []
    for x, y in positions:
        if pos_crs == "dataset":
            col = inv[0] + inv[1] * x + inv[2] * y
            line = inv[3] + inv[4] * x + inv[5] * y
        else:
            col, line = float(x), float(y)
        row = {
            "geom_x": float(x),
            "geom_y": float(y),
            "column": col,
            "line": line,
        }
        ipx, ily = math.floor(col), math.floor(line)
        inside = 0 <= ipx < w and 0 <= ily < h
        for nband in bands:
            raw = unscaled = None
            if inside:
                raw = float(
                    interpolate_at_point(
                        arr[:, :, nband - 1],
                        np.array([col]),
                        np.array([line]),
                        method=interpolation,
                    )[0]
                )
                unscaled = raw * scale + offset
            row[f"band_{nband}_raw_value"] = raw
            row[f"band_{nband}_unscaled_value"] = unscaled
        rows.append(row)
    return rows


def pixel_info_tiles(
    df,
    positions,
    pos_crs: str = "pixel",
    band: int = 1,
    interpolation: str = "near",
    scale: float = 1.0,
    offset: float = 0.0,
):
    """Distributed pixel-info over an image table (image_id, bytes, fmt
    [, gt]): every position sampled against every image row. Output:
    (image_id, geom_x, geom_y, column, line, raw_value, unscaled_value).
    """
    import pandas as pd
    from pyspark.sql import types as T

    pos = [(float(x), float(y)) for x, y in positions]
    sch = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("geom_x", T.DoubleType()),
            T.StructField("geom_y", T.DoubleType()),
            T.StructField("column", T.DoubleType()),
            T.StructField("line", T.DoubleType()),
            T.StructField("raw_value", T.DoubleType()),
            T.StructField("unscaled_value", T.DoubleType()),
        ]
    )
    has_gt = "gt" in df.columns

    def run(batches):
        from gdal_spark.functions import codecs

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(bytes(r.bytes), r.fmt)
                gt = list(r.gt) if has_gt else None
                for info in pixel_info(
                    arr, pos, gt=gt, pos_crs=pos_crs, bands=[band],
                    interpolation=interpolation, scale=scale, offset=offset,
                ):
                    out.append(
                        (
                            r.image_id, info["geom_x"], info["geom_y"],
                            info["column"], info["line"],
                            info[f"band_{band}_raw_value"],
                            info[f"band_{band}_unscaled_value"],
                        )
                    )
            yield pd.DataFrame(out, columns=[f.name for f in sch.fields])

    return df.mapInPandas(run, sch)
