"""GCP-based geotransformers: polynomial (gdalwarp -order 1..3) and
thin plate spline (gdalwarp -tps).

Reference semantics: alg/gdal_crs.c (least-squares polynomial fit over
ground control points, orders 1-3 with 3/6/10 terms) and
alg/thinplatespline.cpp (VizGeorefSpline2D: TPS with basis
U(d^2) = d^2 * log(d^2) plus an affine part, exact interpolation at the
control points). GDAL fits FORWARD (pixel,line)->(X,Y) and INVERSE
(X,Y)->(pixel,line) models independently (GDALCreateGCPTransformer /
GDALCreateTPSTransformer both instantiate both directions); we do the
same — warp needs only the inverse model, suggested-output only the
forward one.

Everything is vectorized numpy over coordinate arrays; on Spark the
transformer rides the same mapInPandas warp stage as the CRS transforms
(raster/warp.py) — fitting is O(n_gcps^3) once per image on the driver
or per task, evaluation is O(pixels * n_gcps) for TPS and O(pixels) for
polynomial.

The GCP and RPC warps only supply coordinate callbacks, as GDAL's
transformers do: the output grid comes from warp.suggested_output_grid,
the pixel-center inverse map from warp._dst_to_src_pixels (both run with
the identity geotransform, since the models' source side is pixel
space) and the samples from kernels.gather.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.raster import warp as W
from gdal_spark.raster.kernels import gather

# number of monomial terms per order
_TERMS = {1: 3, 2: 6, 3: 10}


def _monomials(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Design matrix columns [1, x, y, x2, xy, y2, x3, x2y, xy2, y3][:t]."""
    cols = [np.ones_like(x), x, y]
    if order >= 2:
        cols += [x * x, x * y, y * y]
    if order >= 3:
        cols += [x ** 3, x * x * y, x * y * y, y ** 3]
    return np.stack(cols, axis=-1)


def fit_poly(
    src: np.ndarray, dst: np.ndarray, order: int = 1
) -> tuple[np.ndarray, float]:
    """Least-squares polynomial (src -> dst), both (n,2).

    Returns (coef[2, terms], rms residual in dst units) — the RMS is what
    gdal_translate reports per GCP fit (gdal_crs.c CRS_compute_georef_
    equations' error diagnostics)."""
    src = np.asarray(src, float)
    dst = np.asarray(dst, float)
    t = _TERMS[order]
    if len(src) < t:
        raise ValueError(f"order {order} needs >= {t} GCPs, got {len(src)}")
    A = _monomials(src[:, 0], src[:, 1], order)
    coef, *_ = np.linalg.lstsq(A, dst, rcond=None)
    res = A @ coef - dst
    rms = float(np.sqrt(np.mean(np.sum(res ** 2, axis=1))))
    return coef.T.copy(), rms


def apply_poly(coef: np.ndarray, x: np.ndarray, y: np.ndarray, order: int):
    A = _monomials(np.asarray(x, float), np.asarray(y, float), order)
    out = A @ coef.T
    return out[..., 0], out[..., 1]


def _tps_basis(d2: np.ndarray) -> np.ndarray:
    """U = d^2 * log(d^2), U(0) = 0 (thinplatespline.cpp base_func)."""
    out = np.zeros_like(d2)
    nz = d2 > 0
    out[nz] = d2[nz] * np.log(d2[nz])
    return out


def fit_tps(src: np.ndarray, dst: np.ndarray) -> dict:
    """Thin plate spline src -> dst: solves the (n+3) x (n+3) system
    [[K, P], [P^T, 0]] [w; a] = [dst; 0] per output dimension. Exact at
    the control points; affine + radial elsewhere."""
    src = np.asarray(src, float)
    dst = np.asarray(dst, float)
    n = len(src)
    if n < 3:
        raise ValueError("TPS needs >= 3 GCPs")
    dx = src[:, 0:1] - src[None, :, 0]
    dy = src[:, 1:2] - src[None, :, 1]
    K = _tps_basis(dx * dx + dy * dy)
    P = np.hstack([np.ones((n, 1)), src])
    A = np.zeros((n + 3, n + 3))
    A[:n, :n] = K
    A[:n, n:] = P
    A[n:, :n] = P.T
    b = np.zeros((n + 3, 2))
    b[:n] = dst
    sol = np.linalg.solve(A, b)
    return {"src": src, "w": sol[:n], "a": sol[n:]}


def apply_tps(model: dict, x: np.ndarray, y: np.ndarray):
    x = np.asarray(x, float)
    y = np.asarray(y, float)
    shp = x.shape
    xf, yf = x.ravel(), y.ravel()
    src, w, a = model["src"], model["w"], model["a"]
    dx = xf[:, None] - src[None, :, 0]
    dy = yf[:, None] - src[None, :, 1]
    U = _tps_basis(dx * dx + dy * dy)
    out = U @ w + a[0] + np.outer(xf, a[1]) + np.outer(yf, a[2])
    return out[:, 0].reshape(shp), out[:, 1].reshape(shp)


class GCPTransformer:
    """pixel/line <-> geo transformer from GCPs.

    gcps: array (n, 4) of (pixel, line, X, Y). method: 'poly1'/'poly2'/
    'poly3' or 'tps'. Both directions are fitted up front, mirroring
    GDALCreateGCPTransformer's psInfo->adfToGeoX/adfFromGeoX pairs."""

    def __init__(self, gcps: np.ndarray, method: str = "poly1"):
        gcps = np.asarray(gcps, float)
        px, geo = gcps[:, :2], gcps[:, 2:4]
        self.method = method
        if method == "tps":
            self._fwd = fit_tps(px, geo)
            self._inv = fit_tps(geo, px)
            self.rms = 0.0  # TPS interpolates exactly at GCPs
        elif method == "homography":
            from gdal_spark.raster.homography import (
                gcps_to_homography,
                inv_homography,
            )

            self._fwd = gcps_to_homography(gcps)
            self._inv = inv_homography(self._fwd)
            self.rms = 0.0
        elif method.startswith("poly"):
            self.order = int(method[4:])
            self._fwd, self.rms = fit_poly(px, geo, self.order)
            self._inv, _ = fit_poly(geo, px, self.order)
        else:
            raise ValueError(f"unknown GCP method {method}")

    def pixel_to_geo(self, px, py):
        if self.method == "tps":
            return apply_tps(self._fwd, px, py)
        if self.method == "homography":
            from gdal_spark.raster.homography import apply_homography

            return apply_homography(self._fwd, px, py)
        return apply_poly(self._fwd, px, py, self.order)

    def geo_to_pixel(self, gx, gy):
        if self.method == "tps":
            return apply_tps(self._inv, gx, gy)
        if self.method == "homography":
            from gdal_spark.raster.homography import apply_homography

            return apply_homography(self._inv, gx, gy)
        return apply_poly(self._inv, gx, gy, self.order)


# the models' source "geo" space is pixel space itself: the identity
# geotransform lets the warp grid estimator and inverse mapper run them
_PIXEL_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def warp_array_gcp(
    arr: np.ndarray,
    gcps: np.ndarray,
    method: str = "poly1",
    resample: str = "near",
    out_res: float | None = None,
    nodata: float = 0.0,
):
    """gdalwarp with GCP georeferencing (-order n / -tps): inverse-map
    every dst pixel center through the fitted geo->pixel model, then
    gather. Returns (out, dst_gt)."""
    tr = GCPTransformer(gcps, method)
    h, w = arr.shape[:2]
    dst_gt, ow, oh = W.suggested_output_grid(_PIXEL_GT, w, h, tr.pixel_to_geo, out_res)
    spx, spy = W._dst_to_src_pixels(_PIXEL_GT, dst_gt, oh, ow, tr.geo_to_pixel)
    return gather(arr, spx, spy, resample, nodata)[0], dst_gt


def warp_array_rpc(
    arr: np.ndarray,
    rpc_md: dict,
    resample: str = "near",
    out_res: float | None = None,
    nodata: float = 0.0,
    dst_gt: tuple | None = None,
    out_size: tuple[int, int] | None = None,
    **rpc_opts,
):
    """gdalwarp with RPC georeferencing (-rpc [-to RPC_DEM=...]):
    orthorectification. Output grid either given (dst_gt + out_size
    (w, h)) or suggested by warp.suggested_output_grid over the iterative
    pixel->lonlat forward model; every dst pixel center is inverse-mapped
    through the DIRECT rational evaluation (with per-point DEM heights,
    alg/gdal_rpc.cpp:1928-1953) and gathered. Returns (out, dst_gt)."""
    from gdal_spark.raster.rpc import RPCTransformer, rpc_transform_point

    tr = RPCTransformer(rpc_md, **rpc_opts)
    h, w = arr.shape[:2]
    if dst_gt is None:
        dst_gt, ow, oh = W.suggested_output_grid(
            _PIXEL_GT, w, h, tr.pixel_to_lonlat, out_res)
    else:
        ow, oh = out_size

    def lonlat_to_pixel(gx, gy):
        heights, ok = tr.heights_at_lonlat(gx, gy)
        spx, spy = rpc_transform_point(tr.rpc, gx, gy, heights)
        # dst pixels without a DEM height become nodata (panSuccess=FALSE)
        return np.where(ok, spx, -1e9), np.where(ok, spy, -1e9)

    spx, spy = W._dst_to_src_pixels(_PIXEL_GT, dst_gt, oh, ow, lonlat_to_pixel)
    return gather(arr, spx, spy, resample, nodata)[0], dst_gt
