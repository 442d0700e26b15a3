"""Vertical shift grid — alg/gdalapplyverticalshiftgrid.cpp
(GDALApplyVerticalShiftGrid, the machinery under gdalwarp's geoidgrids
handling).

Semantics transcribed:
  * the grid is resampled onto the source grid (near/bilinear/cubic
    through kernels.gather, the warp family's one sampler, at the
    source pixel centers warp._dst_to_src_pixels maps; GDAL warps with
    GRA_Bilinear default);
  * grid nodata / off-extent cells fill with 0.0 normally, or -inf when
    ``error_on_missing`` (psWO->padfDstNoDataReal, :471-478), and a
    non-finite grid value raises at evaluation (IReadBlock:241-247);
  * value math (IReadBlock:248-260):
      forward: (src * src_unit_to_meter + grid) / dst_unit_to_meter
      inverse: (src * src_unit_to_meter - grid) / dst_unit_to_meter
  * source nodata passes through untouched and is preserved as the
    output nodata (:238-240);
  * output cast via GDALCopyWords clamping to the requested dtype
    (default: the source dtype).

``vshift_tiles`` is the distributed form: the (small) grid rides in the
UDF closure, each image row is shifted independently inside Arrow
batches — no shuffle.
"""

from __future__ import annotations

import numpy as np


def _resample_grid_to_src(
    grid: np.ndarray,
    src_shape: tuple[int, int],
    src_gt,
    grid_gt,
    resampling: str,
    grid_nodata: float | None,
    error_on_missing: bool,
    geo_fn=None,
) -> np.ndarray:
    """Sample the grid at every source pixel center. geo_fn maps source
    CRS coords -> grid CRS coords (identity when both share a CRS)."""
    from gdal_spark.raster import kernels as K
    from gdal_spark.raster import warp as W

    if resampling not in ("near", "bilinear", "cubic"):
        raise ValueError(f"unknown resampling {resampling}")
    h, w = src_shape
    fx, fy = W._dst_to_src_pixels(
        grid_gt, src_gt, h, w, geo_fn or W.TRANSFORMS[None])

    g = grid.astype(np.float64)
    if grid_nodata is not None:
        g = np.where(g == grid_nodata, np.nan, g)
    fill = -np.inf if error_on_missing else 0.0
    out, _ = K.gather(g, fx, fy, resampling, fill)
    return np.where(np.isfinite(out), out, fill)


def apply_vertical_shift(
    src: np.ndarray,
    grid: np.ndarray,
    src_gt,
    grid_gt,
    inverse: bool = False,
    src_unit_to_meter: float = 1.0,
    dst_unit_to_meter: float = 1.0,
    resampling: str = "bilinear",
    src_nodata: float | None = None,
    grid_nodata: float | None = None,
    error_on_missing: bool = False,
    out_dtype=None,
    geo_fn=None,
) -> np.ndarray:
    src = np.asarray(src)
    if src.ndim == 3:
        if src.shape[2] != 1:
            raise ValueError("vertical shift needs a single-band source")
        src = src[:, :, 0]
    grid = np.asarray(grid)
    if grid.ndim == 3:
        grid = grid[:, :, 0]
    gvals = _resample_grid_to_src(
        grid, src.shape, src_gt, grid_gt, resampling,
        grid_nodata, error_on_missing, geo_fn,
    )
    if not np.isfinite(gvals).all():
        bad = np.argwhere(~np.isfinite(gvals))[0]
        raise ValueError(
            f"Missing vertical grid value at source ({bad[1]},{bad[0]})"
        )
    s = src.astype(np.float64)
    if inverse:
        out = (s * src_unit_to_meter - gvals) / dst_unit_to_meter
    else:
        out = (s * src_unit_to_meter + gvals) / dst_unit_to_meter
    if src_nodata is not None:
        out = np.where(s == src_nodata, s, out)
    dt = np.dtype(out_dtype) if out_dtype is not None else src.dtype
    if np.issubdtype(dt, np.integer):
        info = np.iinfo(dt)
        out = np.clip(np.round(out), info.min, info.max)
    return out.astype(dt)


def vshift_tiles(
    df,
    grid: np.ndarray,
    grid_gt,
    inverse: bool = False,
    src_unit_to_meter: float = 1.0,
    dst_unit_to_meter: float = 1.0,
    resampling: str = "bilinear",
    grid_nodata: float | None = None,
):
    """Distributed vertical shift over an image table (image_id, bytes,
    fmt, gt): the grid rides in the closure, every tile shifted
    independently, re-encoded as float-free uint8 TIFF is not possible
    so output stays in a pixel-sum summary column per tile for the
    contract form: (image_id, shifted_sum)."""
    import pandas as pd
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("shifted_sum", T.DoubleType()),
        ]
    )
    g = np.asarray(grid, float)
    ggt = list(grid_gt)

    def run(batches):
        from gdal_spark.functions import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(bytes(r.bytes), r.fmt)
                out = apply_vertical_shift(
                    arr, g, list(r.gt), ggt, inverse=inverse,
                    src_unit_to_meter=src_unit_to_meter,
                    dst_unit_to_meter=dst_unit_to_meter,
                    resampling=resampling, grid_nodata=grid_nodata,
                    out_dtype=np.float64,
                )
                rows.append((r.image_id, float(out.sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return df.mapInPandas(run, sch)
