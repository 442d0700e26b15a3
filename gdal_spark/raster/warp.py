"""Warp: reprojection + resampling (gdalwarp re-expressed).

Kernel layer (numpy): inverse-mapping warp — for every destination pixel
center, invert the CRS transform to a fractional source pixel
(``_dst_to_src_pixels``), then sample it with ``kernels.gather``
(alg/gdalwarpkernel.cpp:1058 PerformWarp's exact dataflow, minus SIMD
dispatch). ``suggested_output_grid`` (GDALSuggestedWarpOutput) is the one
output-grid estimator and ``_dst_to_src_pixels`` the one pixel-center
inverse mapper: the GCP and RPC warps (raster/gcp.py) pass their
pixel-space models through both with the identity geotransform, and
update/vshift sample through the same ``kernels.gather``, just as GDAL's
transformers only supply the coordinate callback. The coordinate
transform is evaluated either exactly (vectorized numpy — cheap here,
unlike per-point PROJ calls) or on a coarse control grid with bilinear
interpolation and an error bound — the GDALApproxTransformer strategy
(alg/gdaltransformer.cpp:58-61, dfMaxError default 0.125 px).

Spark layer: a narrow mapInPandas over the images table — each image row
warps independently (chunk ≡ row; GDAL's ChunkAndWarpImage memory-driven
chunking, alg/gdalwarpoperation.cpp:980, becomes Spark partitioning).

CRS support: WGS84 lon/lat <-> spherical web-mercator (EPSG:4326 <->
3857) as exact closed forms, plus every UTM zone (EPSG:326xx / 327xx)
and their cross-pairs through the vectorized 6th-order Krueger series
(functions/crs.py) — covering the reference's own warp benchmark
(EPSG:32631 -> 4326, autotest/benchmark/test_gdalwarp.py:24).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gdal_spark.functions.mercator import ORIGIN_SHIFT
from gdal_spark.raster import kernels as K

# --------------------------------------------------------------------------
# numpy CRS transforms (array twins of functions/mercator.py)
# --------------------------------------------------------------------------


def lonlat_to_meters_np(lon: np.ndarray, lat: np.ndarray):
    mx = lon * (ORIGIN_SHIFT / 180.0)
    my = np.log(np.tan((90.0 + lat) * (math.pi / 360.0))) / (math.pi / 180.0) * (
        ORIGIN_SHIFT / 180.0
    )
    return mx, my


def meters_to_lonlat_np(mx: np.ndarray, my: np.ndarray):
    lon = mx / ORIGIN_SHIFT * 180.0
    lat_lin = my / ORIGIN_SHIFT * 180.0
    lat = (180.0 / math.pi) * (
        2.0 * np.arctan(np.exp(lat_lin * (math.pi / 180.0))) - math.pi / 2.0
    )
    return lon, lat


TRANSFORMS = {
    # dst geo coords -> src geo coords (inverse direction, as warp needs)
    ("EPSG:4326", "EPSG:3857"): meters_to_lonlat_np,  # src 4326, dst 3857
    ("EPSG:3857", "EPSG:4326"): lonlat_to_meters_np,  # src 3857, dst 4326
    None: lambda x, y: (x, y),
}


def get_inverse_transform(src_crs: str, dst_crs: str):
    """dst geo -> src geo callable. Fast closed forms for the 4326/3857
    pair; UTM zones (EPSG:326xx/327xx) and cross-pairs via the Krueger
    series dispatcher (functions/crs.py)."""
    key = None if src_crs == dst_crs else (src_crs, dst_crs)
    fn = TRANSFORMS.get(key)
    if fn is not None:
        return fn
    from gdal_spark.functions import crs as CRS

    fn = CRS.inverse_transform_fn(src_crs, dst_crs)
    if fn is None:
        raise ValueError(f"unsupported CRS pair {src_crs} -> {dst_crs}")
    return fn


def suggested_output_grid(
    src_gt: tuple, w: int, h: int, fwd_transform, out_res: float | None = None
) -> tuple[tuple, int, int]:
    """GDALSuggestedWarpOutput (alg/gdaltransformer.cpp:296): transform a
    21x21 border+grid sample of the source outline, take the bbox, keep
    roughly the source pixel count unless out_res given."""
    edge = np.linspace(0, 1, 21)
    px = np.concatenate([edge * w, edge * w, np.zeros(21), np.full(21, float(w))])
    py = np.concatenate([np.zeros(21), np.full(21, float(h)), edge * h, edge * h])
    gx, gy = K.gt_pixel_to_geo(src_gt, px, py)
    tx, ty = fwd_transform(gx, gy)
    xmin, xmax = float(tx.min()), float(tx.max())
    ymin, ymax = float(ty.min()), float(ty.max())
    if out_res is None:
        out_res = math.sqrt((xmax - xmin) * (ymax - ymin) / (w * h))
    out_w = max(1, int(round((xmax - xmin) / out_res)))
    out_h = max(1, int(round((ymax - ymin) / out_res)))
    dst_gt = (xmin, (xmax - xmin) / out_w, 0.0, ymax, 0.0, -(ymax - ymin) / out_h)
    return dst_gt, out_w, out_h


def _dst_to_src_pixels(
    src_gt: tuple, dst_gt: tuple, out_h: int, out_w: int, inv_transform,
    approx_grid: int = 0, max_err: float = 0.125,
):
    """Fractional source pixel coords for every dst pixel center.

    approx_grid > 0 -> evaluate the CRS transform only on a
    (approx_grid+1)^2 control lattice and bilinearly interpolate per-pixel
    coords, with a midpoint error check against the exact transform
    (GDALCreateApproxTransformer2 semantics, alg/gdaltransformer.cpp:58);
    falls back to exact when the error bound is violated.
    """
    xs = np.arange(out_w) + 0.5
    ys = np.arange(out_h) + 0.5

    def exact(pxx, pyy):
        gx, gy = K.gt_pixel_to_geo(dst_gt, pxx, pyy)
        sx_geo, sy_geo = inv_transform(gx, gy)
        spx, spy = K.gt_geo_to_pixel(src_gt, sx_geo, sy_geo)
        return spx - 0.5, spy - 0.5  # center convention for gather

    if approx_grid <= 0:
        PX, PY = np.meshgrid(xs, ys)
        return exact(PX, PY)

    gx_ctrl = np.linspace(0, out_w, approx_grid + 1)
    gy_ctrl = np.linspace(0, out_h, approx_grid + 1)
    CX, CY = np.meshgrid(gx_ctrl, gy_ctrl)
    SX, SY = exact(CX, CY)

    # error check at control-cell midpoints (the ApproxTransformer contract)
    mx = (gx_ctrl[:-1] + gx_ctrl[1:]) / 2
    my = (gy_ctrl[:-1] + gy_ctrl[1:]) / 2
    MX, MY = np.meshgrid(mx, my)
    ex, ey = exact(MX, MY)
    ix = (SX[:-1, :-1] + SX[:-1, 1:] + SX[1:, :-1] + SX[1:, 1:]) / 4
    iy = (SY[:-1, :-1] + SY[:-1, 1:] + SY[1:, :-1] + SY[1:, 1:]) / 4
    if max(np.abs(ix - ex).max(), np.abs(iy - ey).max()) > max_err:
        PX, PY = np.meshgrid(xs, ys)
        return exact(PX, PY)

    # bilinear interpolation of control coords to every pixel center
    fx = xs / out_w * approx_grid
    fy = ys / out_h * approx_grid
    # _bilinear_gather expects index coords where integer k = element k;
    # the control lattice is exactly indexed 0..approx_grid, so pass fx, fy.
    FX, FY = np.meshgrid(fx, fy)
    spx = K._bilinear_gather(SX, FX, FY)
    spy = K._bilinear_gather(SY, FX, FY)
    return spx, spy


def warp_array(
    arr: np.ndarray, src_gt: tuple, dst_gt: tuple, out_h: int, out_w: int,
    src_crs: str = "EPSG:4326", dst_crs: str = "EPSG:3857",
    resample: str = "near", approx_grid: int = 16, max_err: float = 0.125,
    nodata: float = 0.0, return_mask: bool = False,
    cutline: list[np.ndarray] | None = None,
):
    """Warp one decoded array onto a destination grid (inverse mapping).

    return_mask=True also returns the bool validity mask (dst pixels whose
    back-mapped center falls inside the source) — the warp's density/alpha
    mask (GDALWarpKernel's papanBandSrcValid role).

    cutline: optional polygon ring list in DST-CRS geo coords — the
    gdalwarp -cutline path (apps/gdalwarp_lib.cpp; GDALWarpCutlineMasker,
    alg/gdalwarper.cpp:1530 rasterizes the cutline into the validity
    mask). Pixels whose centers fall outside the cutline become nodata."""
    inv = get_inverse_transform(src_crs, dst_crs)
    spx, spy = _dst_to_src_pixels(src_gt, dst_gt, out_h, out_w, inv, approx_grid, max_err)
    out, inside = K.gather(arr, spx, spy, resample, nodata)
    if cutline is not None:
        cut = K.rasterize_rings(cutline, out_h, out_w, dst_gt)
        inside &= cut
        out[~cut] = np.asarray(nodata, dtype=out.dtype)
    return (out, inside) if return_mask else out


def cutline_output_grid(
    cutline: list[np.ndarray], res_x: float, res_y: float | None = None
) -> tuple[tuple, int, int]:
    """gdalwarp -crop_to_cutline: dst grid = cutline envelope at the
    requested resolution (apps/gdalwarp_lib.cpp CropToCutline)."""
    res_y = res_y or res_x
    pts = np.vstack(cutline)
    x0, y0 = pts[:, 0].min(), pts[:, 1].min()
    x1, y1 = pts[:, 0].max(), pts[:, 1].max()
    out_w = max(1, int(np.ceil((x1 - x0) / res_x)))
    out_h = max(1, int(np.ceil((y1 - y0) / res_y)))
    return (x0, res_x, 0.0, y1, 0.0, -res_y), out_w, out_h


# --------------------------------------------------------------------------
# Spark operator
# --------------------------------------------------------------------------

WARP_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("gt0", T.DoubleType()),
        T.StructField("gt1", T.DoubleType()),
        T.StructField("gt3", T.DoubleType()),
        T.StructField("gt5", T.DoubleType()),
    ]
)


def footprint_gt(lon_min, lat_min, lon_max, lat_max, w, h):
    """North-up lon/lat geotransform for an image footprint."""
    return (lon_min, (lon_max - lon_min) / w, 0.0, lat_max, 0.0, -(lat_max - lat_min) / h)


def warp_images(
    df: DataFrame, resample: str = "bilinear", out_res: float | None = None,
    approx_grid: int = 16,
) -> DataFrame:
    """Reproject every image from its WGS84 footprint to web-mercator.

    Input needs footprint columns (lon_min/lat_min/lon_max/lat_max); output
    rows carry the mercator geotransform (gt0,gt1,gt3,gt5; north-up, so
    gt2=gt4=0). Narrow map — one image per task unit, no shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                src_gt = footprint_gt(r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                                      arr.shape[1], arr.shape[0])
                dst_gt, ow, oh = suggested_output_grid(
                    src_gt, arr.shape[1], arr.shape[0], lonlat_to_meters_np, out_res
                )
                out = warp_array(arr, src_gt, dst_gt, oh, ow,
                                 resample=resample, approx_grid=approx_grid)
                rows.append(
                    (r.image_id, codecs.encode_image(out.astype(np.uint8), r.fmt),
                     ow, oh, r.fmt, dst_gt[0], dst_gt[1], dst_gt[3], dst_gt[5])
                )
            yield pd.DataFrame(rows, columns=[f.name for f in WARP_SCHEMA.fields])

    return df.mapInPandas(run, WARP_SCHEMA)
