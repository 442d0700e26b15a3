"""`gdal raster update` — apps/gdalalg_raster_update.cpp: warp one
raster INTO an existing dataset (gdalwarp without -overwrite), updating
only the destination window the source covers, with optional cutline
clipping, then refresh the destination overviews over the updated bbox
(gdalalg_raster_overview_refresh.cpp --like/--bbox path).

Spark-first shape: the paste window is computed from geotransforms
(metadata only), each destination tile intersecting the window warps
and pastes independently, and overview refresh re-reduces only the
affected aligned region — the distributed form ``update_tiles`` keys
tiles by window intersection, no full-raster pass.

Samples come from kernels.gather, the sampler the warp family shares
(raster/warp.py); a multi-band source updates each band of a multi-band
destination.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.raster import kernels as K


def _window_from_src(dst_shape, dst_gt, src_shape, src_gt, geo_fn=None):
    """Destination pixel window [x0, y0, x1, y1) covered by the source
    extent (the update-bbox the reference computes at :148-200)."""
    sh, sw = src_shape[:2]
    corners = [(0.0, 0.0), (sw, 0.0), (0.0, sh), (sw, sh)]
    xs, ys = zip(*corners)
    gx, gy = K.gt_pixel_to_geo(tuple(src_gt), np.array(xs), np.array(ys))
    if geo_fn is not None:
        gx, gy = geo_fn(gx, gy)
    px, py = K.gt_geo_to_pixel(tuple(dst_gt), gx, gy)
    h, w = dst_shape[:2]
    x0 = max(0, int(np.floor(px.min())))
    y0 = max(0, int(np.floor(py.min())))
    x1 = min(w, int(np.ceil(px.max())))
    y1 = min(h, int(np.ceil(py.max())))
    return x0, y0, x1, y1


def update_raster(
    dst: np.ndarray,
    dst_gt,
    src: np.ndarray,
    src_gt,
    resample: str = "near",
    src_nodata: float | None = None,
    cutline_wkb: bytes | None = None,
    geo_fn=None,
    inv_geo_fn=None,
) -> tuple[np.ndarray, tuple[int, int, int, int]]:
    """Warp ``src`` into a copy of ``dst``; returns (updated, window).

    Only destination pixels inside the source extent (and the cutline,
    when given) are touched; src nodata never overwrites. geo_fn /
    inv_geo_fn map src-CRS->dst-CRS and back for cross-CRS updates.
    """
    dst = np.array(dst)
    x0, y0, x1, y1 = _window_from_src(
        dst.shape, dst_gt, src.shape, src_gt, geo_fn
    )
    if x0 >= x1 or y0 >= y1:
        return dst, (x0, y0, x0, y0)

    ys, xs = np.mgrid[y0:y1, x0:x1]
    gx, gy = K.gt_pixel_to_geo(tuple(dst_gt), xs + 0.5, ys + 0.5)
    if inv_geo_fn is not None:
        gx, gy = inv_geo_fn(gx, gy)
    spx, spy = K.gt_geo_to_pixel(tuple(src_gt), gx, gy)
    fx, fy = spx - 0.5, spy - 0.5

    # (h, w, bands): 2-D masks broadcast over the bands, and each band
    # keeps its own nodata test
    sf = np.atleast_3d(src.astype(np.float64))
    vals, inside = K.gather(sf, fx, fy, resample)
    mask = inside[:, :, None]
    if src_nodata is not None:
        mask = mask & (K.gather(sf, fx, fy, "near")[0] != src_nodata)
    if cutline_wkb is not None:
        from gdal_spark.functions.geom import points_in_wkb

        mask = mask & points_in_wkb(
            gx.ravel(), gy.ravel(), cutline_wkb
        ).reshape(gx.shape)[:, :, None]

    window = dst[y0:y1, x0:x1]
    if np.issubdtype(dst.dtype, np.integer):
        info = np.iinfo(dst.dtype)
        vals = np.clip(np.round(vals), info.min, info.max)
    if dst.ndim == 2:  # a multi-band source cannot squeeze into it
        vals, mask = vals.squeeze(2), mask.squeeze(2)
    dst[y0:y1, x0:x1] = np.where(mask, vals.astype(dst.dtype), window)
    return dst, (x0, y0, x1, y1)


def refresh_overviews(
    dst: np.ndarray,
    overviews: list[np.ndarray],
    window: tuple[int, int, int, int],
    method: str = "average",
) -> list[np.ndarray]:
    """Overview refresh over the updated bbox only
    (gdalalg_raster_overview_refresh.cpp): each level re-reduces the
    factor-aligned region covering the window; untouched cells keep
    their prior (possibly stale) values, exactly like the reference."""
    out = []
    x0, y0, x1, y1 = window
    for ovr in overviews:
        ovr = np.array(ovr)
        fy = max(1, round(dst.shape[0] / ovr.shape[0]))
        fx = max(1, round(dst.shape[1] / ovr.shape[1]))
        ox0, oy0 = x0 // fx, y0 // fy
        ox1 = min(ovr.shape[1], -(-x1 // fx))
        oy1 = min(ovr.shape[0], -(-y1 // fy))
        if ox0 < ox1 and oy0 < oy1:
            region = dst[
                oy0 * fy : min(dst.shape[0], oy1 * fy),
                ox0 * fx : min(dst.shape[1], ox1 * fx),
            ]
            red = K.block_reduce(
                region.astype(np.float64), fy, fx, method
            )
            red = red[: oy1 - oy0, : ox1 - ox0]
            if np.issubdtype(ovr.dtype, np.integer):
                info = np.iinfo(ovr.dtype)
                red = np.clip(np.round(red), info.min, info.max)
            ovr[oy0:oy1, ox0:ox1] = red.astype(ovr.dtype)
        out.append(ovr)
    return out
