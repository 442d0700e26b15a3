"""Pure-numpy raster kernels — the per-partition compute layer for M4.

These re-derive the semantics of GDAL's raster algorithms (cited per
function) as vectorized numpy; they run inside Arrow-batched UDFs
(mapInPandas / applyInPandas), never per-row Python over pixels.

Pixel-space convention (matches GDAL): pixel (row r, col c) covers
[c, c+1) x [r, r+1) with CENTER at (c+0.5, r+0.5); a 6-coeff affine
geotransform maps pixel -> geo: Xgeo = gt0 + px*gt1 + py*gt2,
Ygeo = gt3 + px*gt4 + py*gt5 (gcore/gdal_geotransform.h, used in
gdal2tiles.py:2977-2980). North-up rasters: gt2 == gt4 == 0, gt5 < 0.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# Geotransform helpers
# --------------------------------------------------------------------------


def gt_pixel_to_geo(gt: tuple, px, py):
    """Affine pixel->geo (gcore/gdal_geotransform.h semantics)."""
    return gt[0] + px * gt[1] + py * gt[2], gt[3] + px * gt[4] + py * gt[5]


def gt_invert(gt) -> list:
    """gt -> inverse geotransform (GDALInvGeoTransform,
    alg/gdaltransformer.cpp); raises ValueError when singular."""
    det = gt[1] * gt[5] - gt[2] * gt[4]
    if det == 0.0:
        raise ValueError("cannot invert geotransform")
    inv_det = 1.0 / det
    return [
        (gt[2] * gt[3] - gt[0] * gt[5]) * inv_det,
        gt[5] * inv_det,
        -gt[2] * inv_det,
        (-gt[1] * gt[3] + gt[0] * gt[4]) * inv_det,
        -gt[4] * inv_det,
        gt[1] * inv_det,
    ]


def gt_geo_to_pixel(gt: tuple, gx, gy):
    """Inverse affine (north-up fast path; general 2x2 inverse otherwise)."""
    det = gt[1] * gt[5] - gt[2] * gt[4]
    dx, dy = gx - gt[0], gy - gt[3]
    return (dx * gt[5] - dy * gt[2]) / det, (dy * gt[1] - dx * gt[4]) / det


# --------------------------------------------------------------------------
# Resampling (nearest + bilinear — the two the north rule requires;
# alg/gdalwarper.h:37-67 enumerates the full GDAL set)
# --------------------------------------------------------------------------


def resample_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """GRA_NearestNeighbour: sample at output-pixel centers mapped back to
    source (alg/gdalwarpkernel.cpp nearest kernels' coordinate convention)."""
    h, w = arr.shape[:2]
    sy = ((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64).clip(0, h - 1)
    sx = ((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64).clip(0, w - 1)
    return arr[sy[:, None], sx[None, :]]


def resample_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """GRA_Bilinear: 2x2 weighted gather at back-mapped centers with edge
    clamping (alg/gdalwarpkernel.cpp GWKBilinear* semantics)."""
    h, w = arr.shape[:2]
    fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    return _bilinear_gather(arr, fx[None, :].repeat(out_h, 0), fy[:, None].repeat(out_w, 1))


def _bilinear_gather(arr: np.ndarray, fx: np.ndarray, fy: np.ndarray) -> np.ndarray:
    """Sample arr at fractional pixel-index coords (fx, fy) bilinearly.

    fx/fy are arrays of identical shape giving source x/y indices (center
    convention already removed: integer k means center of pixel k).
    Out-of-range coords clamp to the edge (GDAL clamps source windows,
    alg/gdalwarpoperation.cpp:1496 ComputeSourceWindow padding).
    """
    h, w = arr.shape[:2]
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    tx = fx - x0
    ty = fy - y0
    x0c = x0.clip(0, w - 1)
    x1c = (x0 + 1).clip(0, w - 1)
    y0c = y0.clip(0, h - 1)
    y1c = (y0 + 1).clip(0, h - 1)
    if arr.ndim == 3:
        tx = tx[..., None]
        ty = ty[..., None]
    a = arr[y0c, x0c].astype(np.float64)
    b = arr[y0c, x1c].astype(np.float64)
    c = arr[y1c, x0c].astype(np.float64)
    d = arr[y1c, x1c].astype(np.float64)
    top = a + (b - a) * tx
    bot = c + (d - c) * tx
    out = top + (bot - top) * ty
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


# ---- filter kernels (alg/gdalwarpkernel.cpp apfGWKFilter table): -----------
#   cubic        = Catmull-Rom convolution  (GWKCubicComputeWeights, radius 2)
#   cubicspline  = cubic B-spline           (GWKBSpline, radius 2)
#   lanczos      = sinc windowed sinc, R=3  (GWKLanczosSinc, radius 3)
# anGWKFilterRadius: cubic/bspline 2, lanczos 3 (alg/gdalwarpkernel.cpp:84-99)

_FILTER_RADIUS = {"cubic": 2, "cubicspline": 2, "lanczos": 3}


def _bspline(x: np.ndarray) -> np.ndarray:
    """GWKBSpline (unnormalized; the 1/6 factor cancels in the weight sum)."""
    xp2 = np.maximum(x + 2.0, 0.0)
    xp1 = np.maximum(x + 1.0, 0.0)
    x0 = np.maximum(x, 0.0)
    xm1 = np.maximum(x - 1.0, 0.0)
    return xp2**3 - 4.0 * xp1**3 + 6.0 * x0**3 - 4.0 * xm1**3


def _lanczos(x: np.ndarray) -> np.ndarray:
    """GWKLanczosSinc: sinc(pi x) * sinc(pi x / 3) for |x| < 3."""
    pix = np.pi * x
    pixr = pix / 3.0
    with np.errstate(invalid="ignore", divide="ignore"):
        v = np.sin(pix) * np.sin(pixr) / (pix * pixr)
    v = np.where(x == 0.0, 1.0, v)
    return np.where(np.abs(x) >= 3.0, 0.0, v)


def _filter_weights(kernel: str, t: np.ndarray) -> np.ndarray:
    """Separable tap weights at offsets -(R-1)..R for fraction t in [0,1).

    Returns shape (2R, *t.shape), normalized to sum 1 (GWKResample divides
    by the accumulated weight — alg/gdalwarpkernel.cpp:3160-3203)."""
    if kernel == "cubic":
        half = 0.5 * t
        w = np.stack(
            [
                half * (-1 + t * (2 - t)),
                1 + half * t * (-5 + 3 * t),
                half * (1 + t * (4 - 3 * t)),
                half * t * (-1 + t),
            ]
        )
    else:
        fn = _bspline if kernel == "cubicspline" else _lanczos
        r = _FILTER_RADIUS[kernel]
        w = np.stack([fn(t - off) for off in range(-(r - 1), r + 1)])
    return w / w.sum(axis=0)


def _kernel_gather(arr: np.ndarray, fx: np.ndarray, fy: np.ndarray, kernel: str) -> np.ndarray:
    """Sample arr at fractional coords with a separable filter kernel
    (cubic / cubicspline / lanczos), GWK edge semantics: out-of-image
    taps are DROPPED and the remaining weights renormalized (GWKResample
    accumulates dfAccumulatorWeight over in-range taps,
    alg/gdalwarpkernel.cpp:3160-3203); the optimized 4-sample cubic path
    additionally falls back to BILINEAR whenever its 4x4 window leaves
    the image (GWKCubicResampleNoMasks4SampleT) — both verified against
    the autotest/alg/warp.py golden rasters."""
    h, w = arr.shape[:2]
    r = _FILTER_RADIUS[kernel]
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    wx = _filter_weights(kernel, fx - x0)  # (2r, ...)
    wy = _filter_weights(kernel, fy - y0)
    vx = np.stack([(x0 + (i - (r - 1)) >= 0) & (x0 + (i - (r - 1)) < w)
                   for i in range(2 * r)]).astype(np.float64)
    vy = np.stack([(y0 + (j - (r - 1)) >= 0) & (y0 + (j - (r - 1)) < h)
                   for j in range(2 * r)]).astype(np.float64)
    wxm = wx * vx
    wym = wy * vy
    norm = wxm.sum(axis=0) * wym.sum(axis=0)
    norm = np.where(norm == 0.0, 1.0, norm)
    if arr.ndim == 3:
        wxm = wxm[..., None]
        wym = wym[..., None]
        norm = norm[..., None]
    out = None
    for j in range(2 * r):
        yc = (y0 + (j - (r - 1))).clip(0, h - 1)
        row = None
        for i in range(2 * r):
            xc = (x0 + (i - (r - 1))).clip(0, w - 1)
            v = arr[yc, xc].astype(np.float64) * wxm[i]
            row = v if row is None else row + v
        row = row * wym[j]
        out = row if out is None else out + row
    out = out / norm
    if kernel == "cubic":
        # 4-sample fast-path fallback: bilinear wherever the 4x4 window
        # leaves the image
        partial = (vx.min(axis=0) * vy.min(axis=0)) == 0.0
        if partial.any():
            bl = _bilinear_gather(arr.astype(np.float64), fx, fy)
            out = np.where(
                partial[..., None] if arr.ndim == 3 else partial, bl, out
            )
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


def gather(
    arr: np.ndarray, fx: np.ndarray, fy: np.ndarray, method: str,
    nodata: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """The inverse-map sampler of warp, GCP/RPC, update and vshift
    (GDALWarpKernel's per-pixel gather, alg/gdalwarpkernel.cpp:1058).

    fx/fy are fractional source pixel indices (integer k = center of
    pixel k). ``method`` is "bilinear", a _FILTER_RADIUS kernel, or
    nearest (round, then clip) for any other name. Returns (values,
    inside): coordinates outside [-0.5, n - 0.5] read ``nodata``, and
    ``inside`` is that 2-D validity mask.

    Samplers that stay separate on purpose: vrt.render_warped_vrt (GWK
    floor-nearest with an inside test on [0, w]), morph's nodata-aware
    point sampler (interpolate_at_point_checked), the tiles/g2t.py
    parity renderer (its tests need the reference fixtures), and
    resample_convolution (GDAL's overview convolution, which
    anti-aliases)."""
    h, w = arr.shape[:2]
    inside = (fx >= -0.5) & (fx <= w - 0.5) & (fy >= -0.5) & (fy <= h - 0.5)
    # outside (NaN included) reads nodata anyway; 0 keeps the integer
    # casts below defined
    fx = np.where(inside, fx, 0.0)
    fy = np.where(inside, fy, 0.0)
    if method == "bilinear":
        out = _bilinear_gather(arr, fx, fy)
    elif method in _FILTER_RADIUS:  # cubic / cubicspline / lanczos
        out = _kernel_gather(arr, fx, fy, method)
    else:
        ix = np.round(fx).astype(np.int64).clip(0, w - 1)
        iy = np.round(fy).astype(np.int64).clip(0, h - 1)
        out = arr[iy, ix]
    mask = inside[:, :, None] if arr.ndim == 3 else inside
    return np.where(mask, out, np.asarray(nodata, dtype=out.dtype)), inside


def resample_kernel(arr: np.ndarray, out_h: int, out_w: int, kernel: str) -> np.ndarray:
    """Filter-kernel resize (cubic/cubicspline/lanczos) at back-mapped
    output centers — the GWKResample taps for a scale transform."""
    h, w = arr.shape[:2]
    fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    return _kernel_gather(arr, fx[None, :].repeat(out_h, 0), fy[:, None].repeat(out_w, 1), kernel)


# window-reduce algorithms (GWKAverageOrMode, alg/gdalwarpkernel.cpp:7123+):
# each output pixel reduces over the INTEGER source pixels covered by its
# footprint [floor(min+eps), ceil(max-eps)) — quantiles pick the sorted
# value at index ceil(q*n - 1) (alg/gdalwarpkernel.cpp:8334-8341)
_WINDOW_METHODS = ("average", "rms", "min", "max", "sum", "mode", "med", "q1", "q3")
_QUANT = {"med": 0.5, "q1": 0.25, "q3": 0.75}


def resample_window(arr: np.ndarray, out_h: int, out_w: int, method: str) -> np.ndarray:
    """Window-reduce resize for the GWKAverageOrMode family at arbitrary
    (typically decimating) scale. Axis-aligned footprints: output pixel
    (r, c) covers source rows [r*h/out_h, (r+1)*h/out_h) etc., reduced over
    the integer pixels in that span (alg/gdalwarpkernel.cpp:6992-7003)."""
    eps = 1e-10
    h, w = arr.shape[:2]

    def spans(n_out: int, n_src: int):
        edges = np.arange(n_out + 1, dtype=np.float64) * n_src / n_out
        lo = np.maximum(np.floor(edges[:-1] + eps), 0).astype(np.int64)
        hi = np.minimum(np.ceil(edges[1:] - eps), n_src).astype(np.int64)
        hi = np.maximum(hi, lo + 1)  # GDAL widens empty windows by one
        return lo, np.minimum(hi, n_src)

    ylo, yhi = spans(out_h, h)
    xlo, xhi = spans(out_w, w)
    ky = int((yhi - ylo).max())
    kx = int((xhi - xlo).max())
    # gather (out_h, out_w, ky, kx[, bands]) with NaN padding outside spans
    yi = ylo[:, None] + np.arange(ky)[None, :]
    xi = xlo[:, None] + np.arange(kx)[None, :]
    yvalid = yi < yhi[:, None]
    xvalid = xi < xhi[:, None]
    yi = yi.clip(0, h - 1)
    xi = xi.clip(0, w - 1)
    vals = arr[yi[:, None, :, None], xi[None, :, None, :]].astype(np.float64)
    valid = yvalid[:, None, :, None] & xvalid[None, :, None, :]
    if arr.ndim == 3:
        valid = valid[..., None]
    vals = np.where(valid, vals, np.nan)
    tail = vals.shape[4:]
    flat = vals.reshape(out_h, out_w, ky * kx, *tail)
    if tail:
        flat = np.moveaxis(flat, 2, -1)  # (out_h, out_w, bands, taps)
    with np.errstate(invalid="ignore"):
        if method == "average":
            out = np.nanmean(flat, axis=-1)
        elif method == "rms":
            out = np.sqrt(np.nanmean(flat**2, axis=-1))
        elif method == "min":
            out = np.nanmin(flat, axis=-1)
        elif method == "max":
            out = np.nanmax(flat, axis=-1)
        elif method == "sum":
            out = np.nansum(flat, axis=-1)
        elif method == "mode":
            srt = np.sort(flat, axis=-1)  # NaNs sort to the end
            n = srt.shape[-1]
            best_count = np.zeros(srt.shape[:-1], dtype=np.int64)
            best_val = srt[..., 0].copy()
            run = np.ones(srt.shape[:-1], dtype=np.int64)
            for k in range(1, n):
                same = srt[..., k] == srt[..., k - 1]
                run = np.where(same, run + 1, 1)
                better = (run > best_count) & ~np.isnan(srt[..., k])
                best_count = np.where(better, run, best_count)
                best_val = np.where(better, srt[..., k], best_val)
            out = best_val
        elif method in _QUANT:
            srt = np.sort(flat, axis=-1)
            n = np.sum(~np.isnan(flat), axis=-1)
            idx = np.ceil(_QUANT[method] * n - 1).astype(np.int64).clip(0)
            out = np.take_along_axis(srt, idx[..., None], axis=-1)[..., 0]
        else:
            raise ValueError(f"unknown window method {method}")
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


def resample(arr: np.ndarray, out_h: int, out_w: int, method: str = "near") -> np.ndarray:
    """Full gdalwarp resample-method dispatch (alg/gdalwarper.h:37-67)."""
    if method in ("near", "nearest"):
        return resample_nearest(arr, out_h, out_w)
    if method == "bilinear":
        return resample_bilinear(arr, out_h, out_w)
    if method in _FILTER_RADIUS:
        return resample_kernel(arr, out_h, out_w, method)
    if method in _WINDOW_METHODS:
        return resample_window(arr, out_h, out_w, method)
    raise ValueError(f"unknown resample method {method}")


def block_reduce(
    arr: np.ndarray, fy: int, fx: int, method: str = "average",
    nodata: float | None = None,
) -> np.ndarray:
    """Integer-factor downsample — the overview kernel set
    (gcore/overview.cpp: near :85-219, average/RMS :1204, mode).

    Pads by edge replication when shape isn't a multiple of the factor
    (GDAL clamps the partial edge window the same way). With ``nodata``,
    average/rms/min/max/sum exclude nodata source pixels and emit nodata
    when a block has none valid (GDALResampleChunk32R_Average nodata
    path — verified against autotest/gcore/tiff_ovr.py test 5's
    checksum). Integer outputs round half away from zero (GDALCopyWord),
    NOT numpy's half-to-even.
    """
    h, w = arr.shape[:2]
    ph = (-h) % fy
    pw = (-w) % fx
    if ph or pw:
        pad = [(0, ph), (0, pw)] + [(0, 0)] * (arr.ndim - 2)
        arr = np.pad(arr, pad, mode="edge")
    hh, ww = arr.shape[0] // fy, arr.shape[1] // fx
    tail = arr.shape[2:]
    blocks = arr.reshape(hh, fy, ww, fx, *tail)
    if method == "near":
        return blocks[:, fy // 2, :, fx // 2]
    vals = blocks.astype(np.float64)
    if nodata is not None and method in ("average", "rms", "max", "min", "sum"):
        valid = vals != nodata
        cnt = valid.sum(axis=(1, 3))
        some = cnt > 0
        cnt = np.maximum(cnt, 1)
        masked0 = np.where(valid, vals, 0.0)
        if method == "average":
            out = masked0.sum(axis=(1, 3)) / cnt
        elif method == "rms":
            out = np.sqrt((masked0**2).sum(axis=(1, 3)) / cnt)
        elif method == "sum":
            out = masked0.sum(axis=(1, 3))
        elif method == "max":
            out = np.where(valid, vals, -np.inf).max(axis=(1, 3))
        else:
            out = np.where(valid, vals, np.inf).min(axis=(1, 3))
        out = np.where(some, out, float(nodata))
    elif method == "average":
        out = vals.mean(axis=(1, 3))
    elif method == "rms":
        out = np.sqrt((vals**2).mean(axis=(1, 3)))
    elif method == "max":
        out = vals.max(axis=(1, 3))
    elif method == "min":
        out = vals.min(axis=(1, 3))
    elif method == "sum":
        out = vals.sum(axis=(1, 3))
    elif method == "mode":
        flat = blocks.reshape(hh, fy, ww, fx, -1).transpose(0, 2, 4, 1, 3).reshape(hh, ww, -1, fy * fx)
        srt = np.sort(flat, axis=-1)
        best_count = np.zeros(srt.shape[:-1], dtype=np.int64)
        best_val = srt[..., 0].copy()
        run = np.ones(srt.shape[:-1], dtype=np.int64)
        for k in range(1, fy * fx):
            same = srt[..., k] == srt[..., k - 1]
            run = np.where(same, run + 1, 1)
            better = run > best_count
            best_count = np.where(better, run, best_count)
            best_val = np.where(better, srt[..., k], best_val)
        out = best_val.reshape(hh, ww, *tail) if tail else best_val.reshape(hh, ww)
        return out.astype(arr.dtype)
    elif method in _QUANT:
        # GDAL quantile convention: sorted[ceil(q*n - 1)]
        # (alg/gdalwarpkernel.cpp:8334-8341)
        flat = blocks.reshape(hh, fy, ww, fx, -1).transpose(0, 2, 4, 1, 3).reshape(hh, ww, -1, fy * fx)
        srt = np.sort(flat, axis=-1)
        idx = max(0, int(np.ceil(_QUANT[method] * fy * fx - 1)))
        out = srt[..., idx]
        out = out.reshape(hh, ww, *tail) if tail else out.reshape(hh, ww)
        return out.astype(arr.dtype)
    else:
        raise ValueError(f"unknown reduce method {method}")
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        # GDALCopyWord: round half AWAY from zero (numpy rounds half-to-even)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


# --------------------------------------------------------------------------
# geo_query — source-window math from gdal2tiles (border clamping)
# --------------------------------------------------------------------------


def geo_query(
    gt: tuple, raster_w: int, raster_h: int,
    ulx: float, uly: float, lrx: float, lry: float,
    querysize: int = 0,
) -> tuple[tuple[int, int, int, int], tuple[int, int, int, int]]:
    """Port of gdal2tiles.GDAL2Tiles.geo_query (gdal2tiles.py:2968-3010):
    for a target geo window, compute the source read window (rx,ry,rxsize,
    rysize) and where it lands in the output buffer (wx,wy,wxsize,wysize),
    clamping at raster borders so edge tiles get partial reads placed at
    the correct offset.
    """
    rx = int((ulx - gt[0]) / gt[1] + 0.001)
    ry = int((uly - gt[3]) / gt[5] + 0.001)
    rxsize = max(1, int((lrx - ulx) / gt[1] + 0.5))
    rysize = max(1, int((lry - uly) / gt[5] + 0.5))

    if not querysize:
        wxsize, wysize = rxsize, rysize
    else:
        wxsize, wysize = querysize, querysize

    wx = 0
    if rx < 0:
        rxshift = abs(rx)
        wx = int(wxsize * (float(rxshift) / rxsize))
        wxsize = wxsize - wx
        rxsize = rxsize - int(rxsize * (float(rxshift) / rxsize))
        rx = 0
    if rx + rxsize > raster_w:
        wxsize = int(wxsize * (float(raster_w - rx) / rxsize))
        rxsize = raster_w - rx

    wy = 0
    if ry < 0:
        ryshift = abs(ry)
        wy = int(wysize * (float(ryshift) / rysize))
        wysize = wysize - wy
        rysize = rysize - int(rysize * (float(ryshift) / rysize))
        ry = 0
    if ry + rysize > raster_h:
        wysize = int(wysize * (float(raster_h - ry) / rysize))
        rysize = raster_h - ry

    return (rx, ry, rxsize, rysize), (wx, wy, wxsize, wysize)


# --------------------------------------------------------------------------
# Scanline polygon rasterization (alg/llrasterize.cpp:197 — sorted even-odd
# crossings; the dual of ray-casting PIP)
# --------------------------------------------------------------------------


def rasterize_rings(
    rings: list[np.ndarray], h: int, w: int, gt: tuple | None = None
) -> np.ndarray:
    """Even-odd scanline fill -> bool mask (h, w).

    A pixel is burned iff its CENTER is inside the polygon (rings[0]
    exterior, rest holes — even-odd handles both uniformly, exactly like
    gvBurnScanline's crossing pairs in alg/llrasterize.cpp). Matches the
    PIP kernel (functions/geom.py points_in_ring) at every pixel center by
    construction, which the tests exploit as an internal oracle.
    """
    # polygon verts in pixel coords
    segs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        if gt is not None:
            px, py = gt_geo_to_pixel(gt, r[:, 0], r[:, 1])
            r = np.column_stack([px, py])
        segs.append(r)
    x1 = np.concatenate([r[:-1, 0] for r in segs])
    y1 = np.concatenate([r[:-1, 1] for r in segs])
    x2 = np.concatenate([r[1:, 0] for r in segs])
    y2 = np.concatenate([r[1:, 1] for r in segs])

    yc = np.arange(h, dtype=np.float64) + 0.5  # scanline = row of pixel centers
    Y1, Y2 = y1[:, None], y2[:, None]
    crosses = ((Y1 <= yc) & (yc < Y2)) | ((Y2 <= yc) & (yc < Y1))
    dy = np.where(y2 - y1 == 0.0, 1.0, y2 - y1)[:, None]
    xint = np.where(crosses, x1[:, None] + (yc - Y1) * (x2 - x1)[:, None] / dy, np.inf)
    xs = np.sort(xint, axis=0)  # per-row sorted crossings, inf-padded

    # fill spans between crossing pairs via +1/-1 deltas and a cumsum
    delta = np.zeros((h, w + 1), dtype=np.int32)
    npairs = xs.shape[0] // 2
    rows = np.arange(h)
    for k in range(npairs):
        x0 = xs[2 * k]
        x1p = xs[2 * k + 1]
        valid = np.isfinite(x1p)
        if not valid.any():
            break
        # GDAL rounds crossings with floor(x + 0.5) (llrasterize.cpp
        # GDALdllImageFilledPolygon "polyInts[ints++] = floor(intersect+0.5)")
        # == ceil(x - 0.5) everywhere except exact half-integer crossings,
        # where GDAL rounds UP — load-bearing for autotest checksum parity.
        start = np.floor(np.nan_to_num(x0, posinf=w) + 0.5).astype(np.int64).clip(0, w)
        end = np.floor(np.nan_to_num(x1p, posinf=w) + 0.5).astype(np.int64).clip(0, w)
        vr = rows[valid & (end > start)]
        np.add.at(delta, (vr, start[valid & (end > start)]), 1)
        np.add.at(delta, (vr, end[valid & (end > start)]), -1)
    return np.cumsum(delta[:, :-1], axis=1) > 0


def rasterize_burn(
    shapes: list[tuple[list[np.ndarray], float]],
    h: int, w: int, gt: tuple | None = None,
    merge_add: bool = False, init: float = 0.0, dtype=np.float64,
) -> np.ndarray:
    """GDALRasterizeGeometries core loop (alg/gdalrasterize.cpp:999):
    burn each (rings, value) into one array; MERGE_ALG=ADD accumulates
    (alg/gdalrasterize.cpp GDALBurnValues merge semantics), otherwise
    later shapes overwrite (painter's order)."""
    out = np.full((h, w), init, dtype=dtype)
    for rings, val in shapes:
        mask = rasterize_rings(rings, h, w, gt)
        if merge_add:
            out[mask] += val
        else:
            out[mask] = val
    return out


# --------------------------------------------------------------------------
# Connected-component labeling (alg/gdalrasterpolygonenumerator.cpp:75-215 —
# two-pass scanline enumeration with a merge table)
# --------------------------------------------------------------------------


def label_components(values: np.ndarray, connect: int = 4, mask: np.ndarray | None = None) -> np.ndarray:
    """Label connected regions of EQUAL-VALUED pixels (4- or 8-connected).

    Returns int64 labels (h, w), -1 where masked out. Same contract as
    GDALRasterPolygonEnumerator: runs of equal value per scanline get
    provisional ids, overlapping equal-valued runs of the previous line
    are merged via a union-find table (ProcessLine + MergePolygon).
    """
    h, w = values.shape
    if mask is None:
        mask = np.ones((h, w), dtype=bool)
    parent: list[int] = []

    def find(a: int) -> int:
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    labels = np.full((h, w), -1, dtype=np.int64)
    prev_runs: list[tuple[int, int, object, int]] = []  # (start, end, value, run_id)
    for r in range(h):
        row_vals = values[r]
        row_mask = mask[r]
        # run boundaries: value change or mask change
        if w == 0:
            continue
        change = np.empty(w, dtype=bool)
        change[0] = True
        change[1:] = (row_vals[1:] != row_vals[:-1]) | (row_mask[1:] != row_mask[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], w)
        runs = []
        for s, e in zip(starts, ends):
            if not row_mask[s]:
                continue
            v = row_vals[s]
            rid = len(parent)
            parent.append(rid)
            # merge with overlapping prev-row runs of the same value
            for ps, pe, pv, prid in prev_runs:
                if pv != v:
                    continue
                if connect == 4:
                    overlap = ps < e and s < pe
                else:  # 8-connected: diagonal touch counts
                    overlap = ps < e + 1 and s < pe + 1
                if overlap:
                    union(rid, prid)
            runs.append((int(s), int(e), v, rid))
            labels[r, s:e] = rid
        prev_runs = runs

    if not parent:
        return labels
    # resolve union-find to dense labels
    roots = np.array([find(i) for i in range(len(parent))], dtype=np.int64)
    uniq, dense = np.unique(roots, return_inverse=True)
    flat = labels.ravel()
    ok = flat >= 0
    flat[ok] = dense[flat[ok]]
    return labels


# --------------------------------------------------------------------------
# Ring tracing: labeled region -> pixel-edge polygon rings
# (alg/polygonize_polygonizer.cpp ring assembly semantics)
# --------------------------------------------------------------------------


def _chain_edges(edges: dict[tuple[int, int], list[tuple[int, int]]]) -> list[np.ndarray]:
    """Chain directed unit edges (interior-on-left orientation) into closed
    rings, taking the leftmost turn at 4-way corner vertices (the
    polygonizer's arc-following rule). Consumes `edges`. Rings come back
    closed, collinear runs collapsed, sorted by |area| descending."""
    rings: list[np.ndarray] = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        cur = start
        prev_dir = None
        while True:
            outs = edges[cur]
            if len(outs) == 1 or prev_dir is None:
                nxt = outs.pop(0)
            else:
                # leftmost turn relative to incoming direction
                def turn_key(cand):
                    d = (cand[0] - cur[0], cand[1] - cur[1])
                    cross = prev_dir[0] * d[1] - prev_dir[1] * d[0]
                    dot = prev_dir[0] * d[0] + prev_dir[1] * d[1]
                    return np.arctan2(cross, dot)
                outs.sort(key=turn_key)
                nxt = outs.pop(0)
            if not outs:
                del edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            if cur == start:
                break
            ring.append(cur)
        arr = np.array(ring + [ring[0]], dtype=np.float64)
        # collapse collinear runs
        d = np.diff(arr, axis=0)
        keep = np.ones(len(arr), dtype=bool)
        keep[1:-1] = (d[1:, 0] != d[:-1, 0]) | (d[1:, 1] != d[:-1, 1])
        rings.append(arr[keep])

    rings.sort(key=lambda rr: -abs(_shoelace(rr)))
    return rings


def region_rings(region_mask: np.ndarray, x_off: int = 0, y_off: int = 0) -> list[np.ndarray]:
    """Trace the boundary of a pixel region into closed rings
    (alg/polygonize_polygonizer.cpp ring-assembly semantics).

    Emits every boundary unit-edge oriented with the region interior on
    the LEFT of the walking direction, then chains them via _chain_edges.
    Output rings are in pixel coords (x=col+x_off, y=row+y_off, y down);
    first ring = exterior (largest |area|).
    """
    h, w = region_mask.shape
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = region_mask
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    rs, cs = np.nonzero(region_mask)
    for r0, c0 in zip(rs.tolist(), cs.tolist()):
        r, c = r0 + y_off, c0 + x_off
        if not pad[r0, c0 + 1]:  # top neighbor out -> left->right along y=r
            add((c, r), (c + 1, r))
        if not pad[r0 + 2, c0 + 1]:  # bottom out -> right->left along y=r+1
            add((c + 1, r + 1), (c, r + 1))
        if not pad[r0 + 1, c0]:  # left out -> bottom->top along x=c
            add((c, r + 1), (c, r))
        if not pad[r0 + 1, c0 + 2]:  # right out -> top->bottom along x=c+1
            add((c + 1, r), (c + 1, r + 1))
    return _chain_edges(edges)


def merge_rings(ring_sets: list[list[np.ndarray]]) -> list[np.ndarray]:
    """Merge the ring sets of regions that have been unioned across tile
    boundaries (the polygonize cross-tile reduce): explode every ring into
    directed unit edges, cancel opposite-direction pairs (shared tile-edge
    segments traversed once per side, interior-left each time), re-chain.

    Rings must be axis-aligned with integer vertices (pixel-edge rings),
    which is what region_rings produces.
    """
    count: dict[tuple[tuple[int, int], tuple[int, int]], int] = {}
    for rings in ring_sets:
        for ring in rings:
            r = np.asarray(ring)
            for k in range(len(r) - 1):
                ax, ay = int(r[k, 0]), int(r[k, 1])
                bx, by = int(r[k + 1, 0]), int(r[k + 1, 1])
                dx = (bx > ax) - (bx < ax)
                dy = (by > ay) - (by < ay)
                n = abs(bx - ax) + abs(by - ay)
                x, y = ax, ay
                for _ in range(n):
                    e = ((x, y), (x + dx, y + dy))
                    rev = (e[1], e[0])
                    if count.get(rev, 0) > 0:
                        count[rev] -= 1
                        if count[rev] == 0:
                            del count[rev]
                    else:
                        count[e] = count.get(e, 0) + 1
                    x, y = x + dx, y + dy
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for (a, b), cnt in count.items():
        for _ in range(cnt):
            edges.setdefault(a, []).append(b)
    return _chain_edges(edges)


def _shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


# --------------------------------------------------------------------------
# DEM focal operators (apps/gdaldem_lib.cpp:203 ComputeVal — Horn 3x3
# stencils with edge replication)
# --------------------------------------------------------------------------


def _horn_gradients(dem: np.ndarray, xres: float, yres: float):
    z = np.pad(dem.astype(np.float64), 1, mode="edge")
    a = z[:-2, :-2]; b = z[:-2, 1:-1]; c = z[:-2, 2:]
    d = z[1:-1, :-2];                  f = z[1:-1, 2:]
    g = z[2:, :-2];  hh = z[2:, 1:-1]; i = z[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
    dzdy = ((g + 2 * hh + i) - (a + 2 * b + c)) / (8.0 * yres)
    return dzdx, dzdy


def hillshade(
    dem: np.ndarray, xres: float = 1.0, yres: float = 1.0,
    azimuth: float = 315.0, altitude: float = 45.0, zfactor: float = 1.0,
) -> np.ndarray:
    """Horn hillshade (apps/gdaldem_lib.cpp:809-1086 GDALHillshadeAlg):
    255 * (cos(zenith)cos(slope) + sin(zenith)sin(slope)cos(az - aspect))."""
    dzdx, dzdy = _horn_gradients(dem * zfactor, xres, yres)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    # downslope-facing azimuth, degrees CW from north (same convention as
    # aspect_deg below); a face is brightest when it faces the light azimuth
    aspect = np.arctan2(dzdy, -dzdx)  # math angle of descent direction
    aspect_from_north = np.pi / 2 - aspect
    alt = np.deg2rad(altitude)
    az = np.deg2rad(azimuth)
    shaded = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(
        az - aspect_from_north
    )
    return np.clip(np.round(255.0 * np.maximum(shaded, 0.0)), 0, 255).astype(np.uint8)


def slope_deg(dem: np.ndarray, xres: float = 1.0, yres: float = 1.0) -> np.ndarray:
    """Slope in degrees (gdaldem_lib.cpp GDALSlopeHornAlg)."""
    dzdx, dzdy = _horn_gradients(dem, xres, yres)
    return np.degrees(np.arctan(np.hypot(dzdx, dzdy)))


def aspect_deg(
    dem: np.ndarray, xres: float = 1.0, yres: float = 1.0,
    alg: str = "horn", nodata: float = -9999.0,
) -> np.ndarray:
    """Aspect: azimuth the slope faces, degrees CW from north — exact
    GDALAspectAlg / GDALAspectZevenbergenThorneAlg semantics
    (apps/gdaldem_lib.cpp): float32 atan2, azimuth fold 450-x / 90-x,
    flat -> nodata, 360 -> 0. Resolution cancels out of the angle.
    Checksum-verified against autotest/utilities/test_gdaldem_lib.py."""
    w = _neighbors_3x3(dem)
    if alg == "horn":
        dx = ((w[2] + w[4] + w[4] + w[7]) - (w[0] + w[3] + w[3] + w[5])).astype(
            np.float32
        )
        dy = ((w[5] + w[6] + w[6] + w[7]) - (w[0] + w[1] + w[1] + w[2])).astype(
            np.float32
        )
    else:  # zevenbergen-thorne
        dx = (w[4] - w[3]).astype(np.float32)
        dy = (w[6] - w[1]).astype(np.float32)
    rad2deg = np.float32(180.0 / np.pi)
    asp = (np.arctan2(dy, -dx).astype(np.float32) * rad2deg).astype(np.float32)
    out = np.where(asp > 90.0, np.float32(450.0) - asp, np.float32(90.0) - asp)
    out = np.where((dx == 0) & (dy == 0), np.float32(nodata), out)
    out = np.where(out == 360.0, np.float32(0.0), out)
    return out.astype(np.float64)


def _neighbors_3x3(dem: np.ndarray):
    """The 8 neighbor planes of the 3x3 window (edge-replicated) —
    afWin[0..8] minus the center, gdaldem's ComputeVal window order."""
    z = np.pad(dem.astype(np.float64), 1, mode="edge")
    return [
        z[:-2, :-2], z[:-2, 1:-1], z[:-2, 2:],
        z[1:-1, :-2],              z[1:-1, 2:],
        z[2:, :-2],  z[2:, 1:-1],  z[2:, 2:],
    ]


def tri(dem: np.ndarray, alg: str = "riley") -> np.ndarray:
    """Terrain Ruggedness Index (apps/gdaldem_lib.cpp:2312-2346):
    riley = sqrt(sum (n - center)^2) [GDAL default], wilson = mean |n - center|."""
    c = dem.astype(np.float64)
    nbrs = _neighbors_3x3(dem)
    if alg == "wilson":
        return sum(np.abs(n - c) for n in nbrs) * 0.125
    if alg == "riley":
        return np.sqrt(sum((n - c) ** 2 for n in nbrs))
    raise ValueError(f"unknown TRI alg {alg}")


def tpi(dem: np.ndarray) -> np.ndarray:
    """Topographic Position Index: center minus mean of the 8 neighbors
    (apps/gdaldem_lib.cpp GDALTPIAlg)."""
    c = dem.astype(np.float64)
    return c - sum(_neighbors_3x3(dem)) * 0.125


def roughness(dem: np.ndarray) -> np.ndarray:
    """Largest difference between any two cells of the 3x3 window
    (apps/gdaldem_lib.cpp GDALRoughnessAlg): max - min including center."""
    c = dem.astype(np.float64)
    nbrs = _neighbors_3x3(dem)
    hi = c.copy()
    lo = c.copy()
    for n in nbrs:
        np.maximum(hi, n, out=hi)
        np.minimum(lo, n, out=lo)
    return hi - lo


def _gdal_gradient(dem: np.ndarray, xres: float, yres: float, alg: str):
    """Gradient<T, alg>::calc (apps/gdaldem_lib.cpp:777-806) — GDAL's own
    sign convention: x = (west - east), scaled by 1/(8*res) for Horn and
    1/(2*res) for ZevenbergenThorne (the reference folds the 8/2 divisor
    into the z factor at gdaldem_lib.cpp:1196).
    Callers pass positive pixel sizes; the reference divides by the raw
    geotransform nsres, which is NEGATIVE for north-up rasters
    (gdaldem_lib.cpp:1181 inv_nsres_yscale = 1/adfGeoTransform[5]) — so the
    y term here is (north - south)/yres."""
    w = _neighbors_3x3(dem)
    if alg == "horn":
        x = ((w[0] + 2 * w[3] + w[5]) - (w[2] + 2 * w[4] + w[7])) / (8.0 * xres)
        y = ((w[0] + 2 * w[1] + w[2]) - (w[5] + 2 * w[6] + w[7])) / (8.0 * yres)
    elif alg == "zevenbergen-thorne":
        x = (w[3] - w[4]) / (2.0 * xres)
        y = (w[1] - w[6]) / (2.0 * yres)
    else:
        raise ValueError(f"unknown gradient alg {alg}")
    return x, y


def _angle_diff(a: np.ndarray, b: float, norm: float) -> np.ndarray:
    """DifferenceBetweenAngles (apps/gdaldem_lib.cpp:925-944)."""
    d = np.abs(np.mod(a, norm) - np.mod(b, norm))
    return np.where(d > norm * 0.5, norm - d, d)


def hillshade_ex(
    dem: np.ndarray, xres: float = 1.0, yres: float = 1.0,
    azimuth: float = 315.0, altitude: float = 45.0, zfactor: float = 1.0,
    variant: str = "standard", alg: str = "horn",
    compute_edges: bool = False,
) -> np.ndarray:
    """gdaldem hillshade with the reference's full variant set
    (apps/gdaldem_lib.cpp):

      standard          GDALHillshadeAlg:1046 — 1 + 254*cang, 0 kept for
                        nodata (output range 1..255)
      combined          GDALHillshadeCombinedAlg:1151 — multiplies the
                        acos-shade by atan(sqrt(slope)) / (pi/2)^2
      multidirectional  GDALHillshadeMultiDirectionalAlg:1255 — USGS
                        OF 92-422 sin^2-weighted blend of az 225/270/315/360
      igor              GDALHillshadeIgorAlg:947 — shadow strength from
                        slope * angular distance to the light azimuth

    alg picks the gradient stencil: 'horn' or 'zevenbergen-thorne'.
    The z factor is pre-multiplied into the DEM (identical math to the
    reference's folded constants)."""
    if compute_edges:
        # -compute_edges: GDALGeneric3x3Processing builds edge windows by
        # linear EXTRAPOLATION (INTERPOL = 2a-b, gdaldem_lib.cpp:285) in the
        # off-image direction, with the top/bottom rows clamping
        # horizontally (jmin/jmax, :462-480). Reproduce that by re-running
        # the kernel on 3-row/3-col synthesized strips. Checksum-verified
        # against test_gdaldem_lib.py's multidirectional/igor cases.
        def run(d):
            return hillshade_ex(
                d, xres=xres, yres=yres, azimuth=azimuth, altitude=altitude,
                zfactor=zfactor, variant=variant, alg=alg,
            )

        d = dem.astype(np.float64)
        out = run(d)
        out[0] = run(np.vstack([2 * d[0] - d[1], d[0], d[1]]))[1]
        out[-1] = run(np.vstack([d[-2], d[-1], 2 * d[-1] - d[-2]]))[1]
        left3 = np.column_stack([2 * d[:, 0] - d[:, 1], d[:, 0], d[:, 1]])
        right3 = np.column_stack([d[:, -2], d[:, -1], 2 * d[:, -1] - d[:, -2]])
        out[1:-1, 0] = run(left3)[1:-1, 1]
        out[1:-1, -1] = run(right3)[1:-1, 1]
        return out
    z = dem.astype(np.float64) * zfactor
    x, y = _gdal_gradient(z, xres, yres, alg)
    alt = np.deg2rad(altitude)
    az = np.deg2rad(azimuth)
    xx_plus_yy = x * x + y * y
    if variant == "standard" or variant == "combined":
        num = np.sin(alt) - (y * np.cos(az) * np.cos(alt) - x * np.sin(az) * np.cos(alt))
        cang = num / np.sqrt(1.0 + xx_plus_yy)
        if variant == "combined":
            acang = np.arccos(np.clip(cang, -1.0, 1.0))
            cang = 1.0 - acang * np.arctan(np.sqrt(xx_plus_yy)) * (
                1.0 / ((np.pi * np.pi) / 4.0)
            )
        out = np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)
    elif variant == "multidirectional":
        sin_alt_127 = 127.0 * np.sin(alt)
        cos_alt = np.cos(alt)
        cos225 = np.cos(np.deg2rad(225.0))  # = -sqrt(2)/2
        v225 = np.maximum(0.0, sin_alt_127 + (x - y) * cos225 * cos_alt * 127.0)
        v270 = np.maximum(0.0, sin_alt_127 - x * cos_alt * 127.0)
        v315 = np.maximum(0.0, sin_alt_127 + (x + y) * cos225 * cos_alt * 127.0)
        v360 = np.maximum(0.0, sin_alt_127 - y * cos_alt * 127.0)
        w225 = 0.5 * xx_plus_yy - x * y
        w270 = x * x
        w315 = xx_plus_yy - w225
        w360 = y * y
        with np.errstate(invalid="ignore", divide="ignore"):
            blend = (w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360) / xx_plus_yy
            cang127 = blend / np.sqrt(1.0 + xx_plus_yy)
        out = np.where(xx_plus_yy == 0.0, 1.0 + 254.0 * np.sin(alt), 1.0 + cang127)
    elif variant == "igor":
        slope_degrees = np.degrees(np.arctan(np.sqrt(xx_plus_yy)))
        # aspect uses the unscaled window sums with GDAL's Igor-specific
        # signs (gdaldem_lib.cpp:983-1002)
        w = _neighbors_3x3(z)
        if alg == "horn":
            dx = (w[2] + 2 * w[4] + w[7]) - (w[0] + 2 * w[3] + w[5])
            dy2 = (w[5] + 2 * w[6] + w[7]) - (w[0] + 2 * w[1] + w[2])
        else:
            dx = w[4] - w[3]
            dy2 = w[6] - w[1]
        aspect = np.arctan2(dy2, -dx)
        slope_strength = slope_degrees / 90.0
        aspect_diff = _angle_diff(aspect, 1.5 * np.pi - az, 2.0 * np.pi)
        aspect_strength = 1.0 - aspect_diff / np.pi
        out = 255.0 * (1.0 - slope_strength * aspect_strength)
    else:
        raise ValueError(f"unknown hillshade variant {variant}")
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def color_relief(
    dem: np.ndarray, table: list[tuple[float, int, int, int]],
    mode: str = "interpolate",
) -> np.ndarray:
    """gdaldem color-relief (apps/gdaldem_lib.cpp:1536 GDALColorRelief*):
    map elevation -> RGB through a sorted (value, r, g, b) color table.
    mode='interpolate' blends linearly between adjacent entries (GDAL
    default COLOR_SELECTION_INTERPOLATE); 'nearest' snaps to the closest
    entry (COLOR_SELECTION_NEAREST_ENTRY, ties upward); 'exact' colors
    only exact table elevations, everything else 0/0/0
    (COLOR_SELECTION_EXACT_ENTRY). All three modes checksum-verified
    against test_gdaldem_lib.py."""
    tab = sorted(table)
    vals = np.array([t[0] for t in tab], dtype=np.float64)
    cols = np.array([t[1:4] for t in tab], dtype=np.float64)
    z = dem.astype(np.float64)
    if mode == "exact":
        out = np.zeros(z.shape + (3,), dtype=np.float64)
        for v, c in zip(vals, cols):
            out[z == v] = c
        return out.astype(np.uint8)
    hi = np.searchsorted(vals, z, side="left").clip(1, len(vals) - 1)
    lo = hi - 1
    if mode == "nearest":
        # COLOR_SELECTION_NEAREST_ENTRY: ties go to the UPPER entry
        # (gdaldem_lib.cpp GDALColorReliefGetRGBA)
        pick_lo = (z - vals[lo]) < (vals[hi] - z)
        pick_lo &= z > vals[0]
        idx = np.where(pick_lo, lo, hi)
        idx = np.where(z <= vals[0], 0, idx)
        idx = np.where(z > vals[-1], len(vals) - 1, idx)
        out = cols[idx]
    else:
        span = vals[hi] - vals[lo]
        t = np.where(span > 0, (z - vals[lo]) / np.where(span > 0, span, 1.0), 0.0)
        t = t.clip(0.0, 1.0)
        out = cols[lo] + (cols[hi] - cols[lo]) * t[..., None]
    # GDAL rounds with int(0.5 + v) == floor(v + 0.5), not half-to-even
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def rasterize_line_mask(
    coords: np.ndarray, h: int, w: int, gt: tuple | None = None
) -> np.ndarray:
    """Bresenham line burn -> bool mask, exact GDALdllImageLine semantics
    (alg/llrasterize.cpp:256): floor()-ed endpoints, segment endpoints not
    re-burned between consecutive segments, off-target segments skipped.
    GDALCollectRingsFromGeometry pushes LINESTRING vertices in REVERSE
    order (alg/gdalrasterize.cpp wkbLineString branch), which flips the
    Bresenham tie-stepping — replicated here, and load-bearing for the
    autotest/alg/rasterize.py checksum parity."""
    pts = np.asarray(coords, dtype=np.float64)[::-1]
    if gt is not None:
        px, py = gt_geo_to_pixel(gt, pts[:, 0], pts[:, 1])
        pts = np.column_stack([px, py])
    mask = np.zeros((h, w), dtype=bool)
    n = len(pts)
    for j in range(1, n):
        x0, y0 = float(pts[j - 1, 0]), float(pts[j - 1, 1])
        x1, y1 = float(pts[j, 0]), float(pts[j, 1])
        if (
            (y0 < 0.0 and y1 < 0.0) or (y0 > h and y1 > h)
            or (x0 < 0.0 and x1 < 0.0) or (x0 > w and x1 > w)
        ):
            continue
        ix, iy = int(np.floor(x0)), int(np.floor(y0))
        ix1, iy1 = int(np.floor(x1)), int(np.floor(y1))
        dx, dy = abs(ix1 - ix), abs(iy1 - iy)
        sx = -1 if ix > ix1 else 1
        sy = -1 if iy > iy1 else 1
        if dx >= dy:
            xerr = dy << 1
            yerr = xerr - (dx << 1)
            err = xerr - dx
            if j != n - 1:
                dx -= 1
            while dx >= 0:
                if 0 <= ix < w and 0 <= iy < h:
                    mask[iy, ix] = True
                ix += sx
                if err > 0:
                    iy += sy
                    err += yerr
                else:
                    err += xerr
                dx -= 1
        else:
            xerr = dx << 1
            yerr = xerr - (dy << 1)
            err = xerr - dy
            if j != n - 1:
                dy -= 1
            while dy >= 0:
                if 0 <= ix < w and 0 <= iy < h:
                    mask[iy, ix] = True
                iy += sy
                if err > 0:
                    ix += sx
                    err += yerr
                else:
                    err += xerr
                dy -= 1
    return mask


def rasterize_line_all_touched(
    coords: np.ndarray,
    h: int,
    w: int,
    gt: tuple | None = None,
    intersect_only: bool = False,
) -> np.ndarray:
    """ALL_TOUCHED line burn -> bool mask, exact GDALdllImageLineAllTouched
    semantics (alg/llrasterize.cpp:407): every pixel the segment passes
    through; axis-aligned segments snapped within 0.01 get the dedicated
    fast paths (with the 1e-4 pixel-aligned skip under ``intersect_only``,
    the mode polygons use for their boundary so shared edges don't double-
    burn). Verified against autotest/alg/rasterize.py checksums."""
    eps = 1e-4
    pts = np.asarray(coords, dtype=np.float64)
    if gt is not None:
        px, py = gt_geo_to_pixel(gt, pts[:, 0], pts[:, 1])
        pts = np.column_stack([px, py])
    mask = np.zeros((h, w), dtype=bool)
    for j in range(1, len(pts)):
        x0, y0 = float(pts[j - 1, 0]), float(pts[j - 1, 1])
        x1, y1 = float(pts[j, 0]), float(pts[j, 1])
        if (
            (y0 < 0.0 and y1 < 0.0) or (y0 > h and y1 > h)
            or (x0 < 0.0 and x1 < 0.0) or (x0 > w and x1 > w)
        ):
            continue
        if x0 > x1:
            x0, x1, y0, y1 = x1, x0, y1, y0
        if abs(x0 - x1) < 0.01:  # vertical
            if (
                intersect_only
                and abs(x0 - round(x0)) < eps and abs(x1 - round(x1)) < eps
            ):
                continue
            if y1 < y0:
                y0, y1 = y1, y0
            ix = int(np.floor(x1))
            iy = int(np.floor(y0))
            iy_end = int(np.floor(y1 - eps))
            if ix < 0 or ix >= w:
                continue
            for yy in range(max(iy, 0), min(iy_end, h - 1) + 1):
                mask[yy, ix] = True
            continue
        if abs(y0 - y1) < 0.01:  # horizontal
            if (
                intersect_only
                and abs(y0 - round(y0)) < eps and abs(y1 - round(y1)) < eps
            ):
                continue
            iy = int(np.floor(y0))
            ix = int(np.floor(x0))
            ix_end = int(np.floor(x1 - eps))
            if iy < 0 or iy >= h:
                continue
            for xx in range(max(ix, 0), min(ix_end, w - 1) + 1):
                mask[iy, xx] = True
            continue
        # general sloped case, clipped then stepped pixel to pixel
        slope = (y1 - y0) / (x1 - x0)
        if x1 > w:
            y1 -= (x1 - w) * slope
            x1 = float(w)
        if x0 < 0.0:
            y0 += (0.0 - x0) * slope
            x0 = 0.0
        if y1 > y0:
            if y0 < 0.0:
                x0 += (0.0 - y0) / slope
                y0 = 0.0
            if y1 >= h:
                x1 += (y1 - h) / slope
                if x1 > w:
                    x1 = float(w)
        else:
            if y0 >= h:
                x0 += (h - y0) / slope
                y0 = float(h)
            if y1 < 0.0:
                x1 -= y1 / slope
        x, y = x0, y0
        while x >= 0.0 and x < x1:
            ix = int(np.floor(x))
            iy = int(np.floor(y))
            if 0 <= iy < h:
                mask[iy, ix] = True
            step_x = np.floor(x + 1.0) - x
            step_y = step_x * slope
            if int(np.floor(y + step_y)) == iy:
                x += step_x
                y += step_y
            elif slope < 0:
                step_y = min(iy - y, -1e-9)
                x += step_y / slope
                y += step_y
            else:
                step_y = max((iy + 1) - y, 1e-9)
                x += step_y / slope
                y += step_y
    return mask


def rasterize_rings_all_touched(
    rings: list[np.ndarray], h: int, w: int, gt: tuple | None = None
) -> np.ndarray:
    """ALL_TOUCHED polygon burn: scanline interior fill plus the
    intersect-only all-touched boundary (gdalrasterize.cpp polygon path
    with bAllTouched: GDALdllImageLineAllTouched(..., bIntersectOnly=true)
    then GDALdllImageFilledPolygon)."""
    mask = rasterize_rings(rings, h, w, gt=gt)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        mask |= rasterize_line_all_touched(r, h, w, gt=gt, intersect_only=True)
    return mask


def rasterize_line_z(
    coords: np.ndarray, z: np.ndarray, h: int, w: int, gt: tuple | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """BURN_VALUE_FROM=Z line burn -> (mask, z values): GDALdllImageLine
    with the variant channel (alg/llrasterize.cpp:256, dfVariant stepping
    dfDeltaVariant per major-axis step). Points reversed like
    GDALCollectRingsFromGeometry's wkbLineString branch."""
    pts = np.asarray(coords, dtype=np.float64)[::-1]
    zs = np.asarray(z, dtype=np.float64)[::-1]
    if gt is not None:
        px, py = gt_geo_to_pixel(gt, pts[:, 0], pts[:, 1])
        pts = np.column_stack([px, py])
    mask = np.zeros((h, w), dtype=bool)
    vals = np.zeros((h, w), dtype=np.float64)
    n = len(pts)
    for j in range(1, n):
        x0, y0 = float(pts[j - 1, 0]), float(pts[j - 1, 1])
        x1, y1 = float(pts[j, 0]), float(pts[j, 1])
        if (
            (y0 < 0.0 and y1 < 0.0) or (y0 > h and y1 > h)
            or (x0 < 0.0 and x1 < 0.0) or (x0 > w and x1 > w)
        ):
            continue
        var, var1 = float(zs[j - 1]), float(zs[j])
        ix, iy = int(np.floor(x0)), int(np.floor(y0))
        ix1, iy1 = int(np.floor(x1)), int(np.floor(y1))
        dx, dy = abs(ix1 - ix), abs(iy1 - iy)
        sx = -1 if ix > ix1 else 1
        sy = -1 if iy > iy1 else 1
        if dx >= dy:
            xerr = dy << 1
            yerr = xerr - (dx << 1)
            err = xerr - dx
            dvar = 0.0 if dx == 0 else (var1 - var) / dx
            if j != n - 1:
                dx -= 1
            while dx >= 0:
                if 0 <= ix < w and 0 <= iy < h:
                    mask[iy, ix] = True
                    vals[iy, ix] = var
                var += dvar
                ix += sx
                if err > 0:
                    iy += sy
                    err += yerr
                else:
                    err += xerr
                dx -= 1
        else:
            xerr = dx << 1
            yerr = xerr - (dy << 1)
            err = xerr - dy
            dvar = 0.0 if dy == 0 else (var1 - var) / dy
            if j != n - 1:
                dy -= 1
            while dy >= 0:
                if 0 <= ix < w and 0 <= iy < h:
                    mask[iy, ix] = True
                    vals[iy, ix] = var
                var += dvar
                iy += sy
                if err > 0:
                    ix += sx
                    err += yerr
                else:
                    err += xerr
                dy -= 1
    return mask, vals


def _conv_filter(kernel: str, x: np.ndarray) -> np.ndarray:
    """Overview convolution filter functions (gcore/overview.cpp
    GDALResampleConvolution{Bilinear,Cubic,Lanczos} shapes)."""
    ax = np.abs(x)
    if kernel == "bilinear":
        return np.maximum(0.0, 1.0 - ax)
    if kernel == "cubic":  # Catmull-Rom-like with a=-0.5, radius 2
        return np.where(
            ax <= 1.0,
            1.0 + ax * ax * (1.5 * ax - 2.5),
            np.where(ax <= 2.0, 2.0 + ax * (-4.0 + ax * (2.5 - 0.5 * ax)), 0.0),
        )
    if kernel == "cubicspline":  # cubic B-spline, radius 2 (GWKBSpline)
        return _bspline(x)
    if kernel == "lanczos":
        return _lanczos(x)
    raise ValueError(f"unknown convolution kernel {kernel}")


_CONV_RADIUS = {"bilinear": 1, "cubic": 2, "cubicspline": 2, "lanczos": 3}


def _conv_weights(n_src: int, n_dst: int, kernel: str) -> np.ndarray:
    """(n_dst, n_src) normalized weight matrix per GDAL's convolution
    resampler (gcore/overview.cpp GDALResampleChunk_ConvolutionT): on
    downsampling the kernel widens by the scale ratio (anti-aliasing),
    taps at filter(scale_weight * (p - src_center + 0.5))."""
    ratio = n_src / n_dst  # dfXRatioDstToSrc
    scale = 1.0 / ratio
    scale_w = min(1.0, scale)
    radius = _CONV_RADIUS[kernel] / scale_w
    W = np.zeros((n_dst, n_src))
    for i in range(n_dst):
        center = (i + 0.5) * ratio
        p0 = max(int(np.floor(center - radius + 0.5)), 0)
        p1 = min(int(center + radius + 0.5), n_src)
        p = np.arange(p0, p1)
        w = _conv_filter(kernel, scale_w * (p - center + 0.5))
        s = w.sum()
        if s != 0:
            W[i, p0:p1] = w / s
    return W


def resample_convolution(
    arr: np.ndarray, out_h: int, out_w: int, kernel: str = "bilinear"
) -> np.ndarray:
    """RasterIO/overview resampling (GRIORA_* / BuildOverviews
    convolution path): separable scale-adjusted kernel, horizontal then
    vertical, normalized taps — unlike resample_bilinear/resample_kernel
    (the warp point-sampling kernels), this anti-aliases on downsample.
    Verified against autotest/gcore/rasterio.py checksums."""
    h, w = arr.shape[:2]
    wy = _conv_weights(h, out_h, kernel)
    wx = _conv_weights(w, out_w, kernel)
    a = arr.astype(np.float64)
    # horizontal pass first into a double buffer, then vertical — the
    # reference order (GDALResampleChunk_ConvolutionT, gcore/overview.cpp)
    if a.ndim == 3:
        out = np.einsum("oh,hpc->opc", wy, np.einsum("hwc,pw->hpc", a, wx))
    else:
        out = wy @ (a @ wx.T)
    if arr.dtype != np.float64:
        # every non-double source resamples through a float32 working type
        # (ConvolutionT<_, float, GDT_Float32>); the final double->float32
        # cast happens BEFORE integer rounding and flips half-ulp ties
        # (autotest rasterio test 9's 10x10 bilinear checksum 1211)
        out = out.astype(np.float32).astype(np.float64)
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


_GAUSS_3 = np.array([1, 2, 1, 2, 4, 2, 1, 2, 1], dtype=np.int64).reshape(3, 3)
_GAUSS_5 = np.array(
    [1, 4, 6, 4, 1, 4, 16, 24, 16, 4, 6, 24, 36, 24, 6,
     4, 16, 24, 16, 4, 1, 4, 6, 4, 1], dtype=np.int64).reshape(5, 5)
_GAUSS_7 = np.array(
    [1, 6, 15, 20, 15, 6, 1, 6, 36, 90, 120, 90, 36, 6,
     15, 90, 225, 300, 225, 90, 15, 20, 120, 300, 400, 300, 120, 20,
     15, 90, 225, 300, 225, 90, 15, 6, 36, 90, 120, 90, 36, 6,
     1, 6, 15, 20, 15, 6, 1], dtype=np.int64).reshape(7, 7)


def resample_gauss(
    arr: np.ndarray, out_h: int, out_w: int, nodata: float | None = None
) -> np.ndarray:
    """GRIORA_Gauss / BuildOverviews("GAUSS") — exact
    GDALResampleChunk_Gauss port (gcore/overview.cpp): fixed binomial
    3x3/5x5/7x7 matrix chosen by the Y ratio, window centered on the
    source footprint and clamped at edges WITH the matching matrix shift,
    weighted mean over valid pixels. Verified against
    autotest/gcore/rasterio.py's Gauss checksum."""
    h, w = arr.shape[:2]
    ry = h / out_h
    rx = w / out_w
    f = int(0.5 + ry)
    mat = _GAUSS_3 if f <= 2 else (_GAUSS_5 if f <= 4 else _GAUSS_7)
    dim = mat.shape[0]
    a = arr.astype(np.float64)
    valid = None if nodata is None else (a != nodata)
    out = np.zeros((out_h, out_w) + arr.shape[2:], dtype=np.float64)
    for j in range(out_h):
        y0 = int(0.5 + j * ry)
        y1 = int(0.5 + (j + 1) * ry) + 1
        sy = y0 + (y1 - y0) // 2 - dim // 2
        sy2 = sy + dim
        if sy2 > h or (ry > 1 and j == out_h - 1):
            sy2 = min(h, sy + dim)
        yshift = 0
        if sy < 0:
            yshift = -sy
            sy = 0
        for i in range(out_w):
            x0 = int(0.5 + i * rx)
            x1 = int(0.5 + (i + 1) * rx) + 1
            sx = x0 + (x1 - x0) // 2 - dim // 2
            sx2 = sx + dim
            if sx2 > w or (rx > 1 and i == out_w - 1):
                sx2 = min(w, sx + dim)
            xshift = 0
            if sx < 0:
                xshift = -sx
                sx = 0
            wt = mat[yshift : yshift + (sy2 - sy), xshift : xshift + (sx2 - sx)]
            win = a[sy:sy2, sx:sx2]
            if valid is not None:
                vm = valid[sy:sy2, sx:sx2]
                cnt = (wt * vm).sum()
                out[j, i] = (
                    (win * wt * vm).sum() / cnt if cnt else float(nodata)
                )
            else:
                out[j, i] = (
                    (win * wt[(...,) + (None,) * (arr.ndim - 2)]).sum(
                        axis=(0, 1)
                    )
                    / wt.sum()
                )
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        r = np.where(out >= 0, np.floor(out + 0.5), np.ceil(out - 0.5))
        return np.clip(r, info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)
