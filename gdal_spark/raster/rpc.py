"""RPC (Rational Polynomial Coefficients, RPC00B) transformer —
alg/gdal_rpc.cpp.

* ``rpc_transform_point`` — (long, lat, height) -> (pixel, line):
  dateline-adjusted normalization (RPCTransformPoint:358-470), the
  20-term RPC00B monomial basis in GDAL's exact order
  (RPCComputeTerms:192-217), numerator/denominator rational evaluation,
  then de-normalization by SAMP/LINE scale+offset.
* ``RPCTransformer`` — the full transformer:
  - reference-point affine seed (GDALCreateRPCTransformerV2:995-1090):
    MIN/MAX long/lat midpoint when provided else LONG/LAT_OFF, the
    "daft result" fallback, finite-difference direction vectors at
    dfLLDelta = 1e-4 evaluated at the reference height, inverted to
    the pixel/line -> long/lat seed geotransform;
  - forward (pixel -> long/lat): RPCInverseTransformPoint's iterative
    refinement — affine initial guess, error = back-projected pixel
    delta, convergence at pix_err_threshold (default 0.1), max 10
    iterations without DEM;
  - inverse (long/lat -> pixel): direct evaluation with
    height = z + height_offset (RPC_HEIGHT), heights scaled by
    RPC_HEIGHT_SCALE applying to DEM heights only.
* RPC_DEM (terrain-driven height, GDALRPCGetHeightAtLongLat:550-636 +
  GDALRPCGetDEMHeight:1382-1409): heights sampled from a DEM raster at
  each long/lat through the DEM's inverse geotransform, with
  - WGS84 -> DEM-CRS point transform when the DEM is projected (poCT);
  - near / bilinear / cubic interpolation via the exact
    GDALInterpolateAtPoint semantics ("cubic" maps to the cubic
    B-SPLINE kernel, DRA_CubicSpline — gdal_rpc.cpp:901-904);
  - the [-180,180]-spanning dateline retry (:591-619);
  - RPC_DEM_MISSING_VALUE fallback for off-DEM points (:621-627);
  - height = HEIGHT_OFF_option + DEM * RPC_HEIGHT_SCALE (:633-634);
  - the DEM-aware inverse loop (RPCInverseTransformPoint:1188-1377):
    default 20 iterations, first-iteration snap-to-DEM-boundary raw
    height fallback (:1217-1251, transcribed bug-compatibly: the
    dfDEMLine < 0 branch snaps dfDEMPixel, as the reference does),
    oscillation-mean damping (:1298-1320) and the boost-factor-10
    escape after 5 consecutive sub-2px errors (:1322-1341).
  RPC_DEM_APPLY_VDATUM_SHIFT is a no-op here: the engine's CRS registry
  carries no compound vertical datums, so poCT z-shift is always 0
  (documented deviation).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.raster.kernels import gt_invert
from gdal_spark.raster.morph import interpolate_at_point_checked


class RPCInfo:
    """RPC00B metadata (GDALRPCInfoV2): offsets/scales + 4x20 coeffs."""

    def __init__(self, md: dict):
        g = lambda k: float(md[k])  # noqa: E731
        self.line_off = g("LINE_OFF")
        self.samp_off = g("SAMP_OFF")
        self.lat_off = g("LAT_OFF")
        self.long_off = g("LONG_OFF")
        self.height_off = g("HEIGHT_OFF")
        self.line_scale = g("LINE_SCALE")
        self.samp_scale = g("SAMP_SCALE")
        self.lat_scale = g("LAT_SCALE")
        self.long_scale = g("LONG_SCALE")
        self.height_scale = g("HEIGHT_SCALE")

        def coeffs(k):
            v = md[k]
            vals = (
                [float(x) for x in v.split()]
                if isinstance(v, str)
                else [float(x) for x in v]
            )
            if len(vals) != 20:
                raise ValueError(f"{k} needs 20 coefficients")
            return np.array(vals)

        self.line_num = coeffs("LINE_NUM_COEFF")
        self.line_den = coeffs("LINE_DEN_COEFF")
        self.samp_num = coeffs("SAMP_NUM_COEFF")
        self.samp_den = coeffs("SAMP_DEN_COEFF")
        self.min_long = float(md.get("MIN_LONG", -180.0))
        self.max_long = float(md.get("MAX_LONG", 180.0))
        self.min_lat = float(md.get("MIN_LAT", -90.0))
        self.max_lat = float(md.get("MAX_LAT", 90.0))


def rpc_compute_terms(L, P, H):
    """RPC00B 20-term basis, GDAL's exact order (RPCComputeTerms)."""
    one = np.ones_like(L)
    return np.stack(
        [
            one, L, P, H,
            L * P, L * H, P * H, L * L, P * P, H * H,
            L * P * H, L * L * L, L * P * P, L * H * H, L * L * P,
            P * P * P, P * H * H, L * L * H, P * P * H, H * H * H,
        ]
    )


def rpc_transform_point(rpc: RPCInfo, lon, lat, height):
    """(long, lat, height) -> (pixel, line), vectorized."""
    lon = np.asarray(lon, float)
    lat = np.asarray(lat, float)
    height = np.asarray(height, float)
    diff_long = lon - rpc.long_off
    diff_long = np.where(diff_long < -270, diff_long + 360, diff_long)
    diff_long = np.where(diff_long > 270, diff_long - 360, diff_long)
    L = diff_long / rpc.long_scale
    P = (lat - rpc.lat_off) / rpc.lat_scale
    H = (height - rpc.height_off) / rpc.height_scale
    t = rpc_compute_terms(L, P, H)
    samp = np.tensordot(rpc.samp_num, t, axes=1) / np.tensordot(
        rpc.samp_den, t, axes=1
    )
    line = np.tensordot(rpc.line_num, t, axes=1) / np.tensordot(
        rpc.line_den, t, axes=1
    )
    # RPCs use center-of-upper-left-pixel = (0,0); GDAL pixel space uses
    # top-left corner = (0,0) (RPCTransformPoint:460-466)
    return (
        samp * rpc.samp_scale + rpc.samp_off + 0.5,
        line * rpc.line_scale + rpc.line_off + 0.5,
    )


class RPCTransformer:
    def __init__(
        self,
        rpc: RPCInfo | dict,
        pix_err_threshold: float = 0.1,
        max_iterations: int = 0,
        rpc_height: float = 0.0,
        rpc_height_scale: float = 1.0,
        dem: np.ndarray | None = None,
        dem_gt: tuple | None = None,
        dem_srs: str | None = None,
        dem_interp: str = "bilinear",
        dem_missing_value: float | None = None,
        dem_nodata: float | None = None,
    ):
        self.rpc = rpc if isinstance(rpc, RPCInfo) else RPCInfo(rpc)
        self.pix_err_threshold = (
            pix_err_threshold if pix_err_threshold > 0 else 0.1
        )
        # RPC_MAX_ITERATIONS default: 20 with a DEM, 10 without
        # (RPCInverseTransformPoint:1188-1191)
        self.max_iterations = (
            max_iterations
            if max_iterations > 0
            else (20 if dem is not None else 10)
        )
        self.height_offset = float(rpc_height)
        self.height_scale = float(rpc_height_scale)
        self.dem = None if dem is None else np.asarray(dem)
        self.dem_nodata = dem_nodata
        self.dem_missing_value = dem_missing_value
        # "cubic" selects the cubic-B-spline DRA_CubicSpline
        # (GDALCreateRPCTransformerV2:901-904)
        self.dem_interp = {"cubic": "cubicspline"}.get(
            dem_interp, dem_interp
        )
        if dem is not None:
            if dem_gt is None:
                raise ValueError("RPC_DEM requires the DEM geotransform")
            g = [float(v) for v in dem_gt]
            self._dem_inv_gt = gt_invert(g)
            self._dem_gt = g
        self._wgs84_to_dem = None
        self._dem_srs = dem_srs
        if dem_srs is not None and dem_srs.upper() not in (
            "EPSG:4326",
            "WGS84",
        ):
            from gdal_spark.functions import crs as _crs

            def _ct(lon, lat, _dst=dem_srs):
                x, y = _crs.transform("EPSG:4326", _dst, lon, lat)
                return float(x), float(y)

            self._wgs84_to_dem = _ct
        self._setup_seed()

    # -- GDALRPCGetDEMHeight (gdal_rpc.cpp:1382-1409): raw DEM value at
    # DEM pixel/line coords through GDALInterpolateAtPoint -----------------
    def _dem_height_at_pixel(self, px: float, ln: float):
        val, ok = interpolate_at_point_checked(
            self.dem, [px], [ln], self.dem_interp, self.dem_nodata
        )
        return float(val[0]), bool(ok[0])

    # -- GDALRPCGetHeightAtLongLat (gdal_rpc.cpp:550-636) -------------------
    def _height_at_lonlat(self, lon: float, lat: float):
        """-> (height, ok, dem_pixel, dem_line). Full height =
        height_offset + DEM * height_scale; no-DEM -> height_offset."""
        if self.dem is None:
            return self.height_offset, True, 0.0, 0.0
        x_t, y_t = float(lon), float(lat)
        if self._wgs84_to_dem is not None:
            x_t, y_t = self._wgs84_to_dem(x_t, y_t)
        retried = False
        while True:
            ig = self._dem_inv_gt
            px = ig[0] + ig[1] * x_t + ig[2] * y_t
            ln = ig[3] + ig[4] * x_t + ig[5] * y_t
            dem_h, ok = self._dem_height_at_pixel(px, ln)
            if ok:
                break
            # dateline retry for a [-180,180]-spanning WGS84 DEM (:591-619)
            if (
                not retried
                and self._wgs84_to_dem is None
                and (lon >= 180.0 or lon <= -180.0)
            ):
                w = self.dem.shape[1]
                min_long = self._dem_gt[0]
                max_long = self._dem_gt[0] + w * self._dem_gt[1]
                if abs(min_long - -180) < 0.1 and abs(max_long - 180) < 0.1:
                    x_t = lon - 360 if lon >= 180 else lon + 360
                    y_t = float(lat)
                    retried = True
                    continue
            if self.dem_missing_value is not None:
                dem_h = self.dem_missing_value
                break
            return 0.0, False, px, ln
        return (
            self.height_offset + dem_h * self.height_scale,
            True,
            px,
            ln,
        )

    # -- GDALCreateRPCTransformerV2:995-1090 ---------------------------------
    def _setup_seed(self):
        r = self.rpc
        ref_pixel = ref_line = -1.0
        ref_long = ref_lat = 0.0
        # GDAL tries the full direct transform first (z=0 above ground ->
        # height = height offset via GetHeightAtLongLat), falling back to
        # RPCTransformPoint at raw height 0 only on failure (:1015-1055)
        if r.min_long != -180.0 or r.max_long != 180.0:
            ref_long = (r.min_long + r.max_long) * 0.5
            ref_lat = (r.min_lat + r.max_lat) * 0.5
            h0, ok, _, _ = self._height_at_lonlat(ref_long, ref_lat)
            ref_pixel, ref_line = rpc_transform_point(
                r, ref_long, ref_lat, h0 if ok else 0.0
            )
        if (
            ref_pixel < 0.0 or ref_line < 0.0
            or ref_pixel > 100000 or ref_line > 100000
        ):
            ref_long, ref_lat = r.long_off, r.lat_off
            h0, ok, _, _ = self._height_at_lonlat(ref_long, ref_lat)
            ref_pixel, ref_line = rpc_transform_point(
                r, ref_long, ref_lat, h0 if ok else 0.0
            )
        # dfRefZ = 0.0, overwritten by GetHeightAtLongLat on success
        # (GDALCreateRPCTransformerV2:1056-1058); no-DEM == height offset
        h0, ok, _, _ = self._height_at_lonlat(ref_long, ref_lat)
        self.ref_z = h0 if ok else 0.0

        d = 0.0001
        gt = [0.0] * 6
        px1, ln1 = rpc_transform_point(r, ref_long + d, ref_lat, self.ref_z)
        gt[1] = (float(px1) - float(ref_pixel)) / d
        gt[4] = (float(ln1) - float(ref_line)) / d
        px2, ln2 = rpc_transform_point(r, ref_long, ref_lat + d, self.ref_z)
        gt[2] = (float(px2) - float(ref_pixel)) / d
        gt[5] = (float(ln2) - float(ref_line)) / d
        gt[0] = float(ref_pixel) - gt[1] * ref_long - gt[2] * ref_lat
        gt[3] = float(ref_line) - gt[4] * ref_long - gt[5] * ref_lat
        if abs(gt[1] * gt[5] - gt[2] * gt[4]) < 1e-15:
            raise ValueError("cannot invert RPC seed geotransform")
        self.pl_to_ll = gt_invert(gt)

    # -- direct: long/lat (+z above ground) -> pixel/line --------------------
    def lonlat_to_pixel(self, lon, lat, z=0.0):
        """Per-point DEM height lookup + RPC evaluation
        (GDALRPCTransform reverse branch, gdal_rpc.cpp:1928-1953).
        Raises when a point's DEM height is unavailable."""
        if self.dem is None:
            h = np.asarray(z, float) + self.height_offset
            return rpc_transform_point(self.rpc, lon, lat, h)
        lon_a = np.atleast_1d(np.asarray(lon, float))
        lat_a = np.atleast_1d(np.asarray(lat, float))
        z_a = np.broadcast_to(np.asarray(z, float), lon_a.shape)
        heights, ok = self.heights_at_lonlat(lon_a, lat_a)
        if not ok.all():
            bad = np.argwhere(~ok)[0]
            raise ValueError(
                f"no DEM height at ({lon_a[tuple(bad)]}, {lat_a[tuple(bad)]})"
            )
        px, ln = rpc_transform_point(
            self.rpc, lon_a, lat_a, z_a + heights
        )
        if px.size == 1:
            return float(px.ravel()[0]), float(ln.ravel()[0])
        return px, ln

    def heights_at_lonlat(self, lon: np.ndarray, lat: np.ndarray):
        """Vectorized GDALRPCGetHeightAtLongLat over point arrays:
        -> (heights, ok). The rare dateline-retry points fall back to the
        scalar path."""
        lon = np.asarray(lon, float)
        lat = np.asarray(lat, float)
        if self.dem is None:
            return (
                np.full(lon.shape, self.height_offset),
                np.ones(lon.shape, bool),
            )
        if self._wgs84_to_dem is not None:
            x_t, y_t = self._dem_transform_vec(lon, lat)
        else:
            x_t, y_t = lon, lat
        ig = self._dem_inv_gt
        px = ig[0] + ig[1] * x_t + ig[2] * y_t
        ln = ig[3] + ig[4] * x_t + ig[5] * y_t
        vals, ok = interpolate_at_point_checked(
            self.dem, px.ravel(), ln.ravel(), self.dem_interp, self.dem_nodata
        )
        heights = (
            self.height_offset
            + np.where(ok, vals, 0.0) * self.height_scale
        ).reshape(lon.shape)
        ok = ok.reshape(lon.shape)
        if not ok.all():
            # retry/missing-value handling point-by-point (rare)
            for idx in np.argwhere(~ok):
                idx = tuple(idx)
                h, o, _, _ = self._height_at_lonlat(lon[idx], lat[idx])
                heights[idx], ok[idx] = h, o
        return heights, ok

    def _dem_transform_vec(self, lon, lat):
        """Vectorized WGS84 -> DEM-CRS (the scalar _wgs84_to_dem wraps the
        same crs.transform, which is numpy-vectorized already)."""
        from gdal_spark.functions import crs as _crs

        return _crs.transform("EPSG:4326", self._dem_srs, lon, lat)

    # -- iterative: pixel/line (+z) -> long/lat (RPCInverseTransformPoint) ---
    def pixel_to_lonlat(self, pixel, line, z=0.0):
        pixel = np.atleast_1d(np.asarray(pixel, float))
        line = np.atleast_1d(np.asarray(line, float))
        z = np.broadcast_to(np.asarray(z, float), pixel.shape)
        g = self.pl_to_ll
        out_lon = np.empty_like(pixel)
        out_lat = np.empty_like(pixel)
        for idx in np.ndindex(pixel.shape):
            pfx, pfy, pfz = pixel[idx], line[idx], z[idx]
            rx = g[0] + g[1] * pfx + g[2] * pfy
            ry = g[3] + g[4] * pfx + g[5] * pfy
            converged = False
            last_rx = last_ry = 0.0
            last_dx = last_dy = 0.0
            last_delta_valid = False
            below2_count = 0
            for it in range(self.max_iterations):
                dem_h, ok, dem_px, dem_ln = self._height_at_lonlat(rx, ry)
                if not ok:
                    # First-iteration fallback (RPCInverseTransformPoint
                    # :1212-1251): snap to the DEM boundary for a raw
                    # height, else use refZ; later iterations error out.
                    if it != 0:
                        raise ValueError(
                            "RPC inverse: no DEM height at "
                            f"({rx}, {ry})"
                        )
                    use_ref_z = True
                    if self.dem is not None:
                        dh, dw = self.dem.shape[:2]
                        if dem_px >= dw:
                            dem_px = dw - 0.5
                        elif dem_px < 0:
                            dem_px = 0.5
                        if dem_ln >= dh:
                            dem_ln = dh - 0.5
                        elif dem_px < 0:  # reference bug kept verbatim
                            dem_px = 0.5  # (gdal_rpc.cpp:1234-1236)
                        raw, rok = self._dem_height_at_pixel(dem_px, dem_ln)
                        if rok:
                            # raw DEM value, NOT offset/scaled (:1229-1242)
                            dem_h = raw
                            use_ref_z = False
                    if use_ref_z:
                        dem_h = self.ref_z
                bx, by = rpc_transform_point(self.rpc, rx, ry, pfz + dem_h)
                dx = float(bx) - pfx
                dy = float(by) - pfy
                err = max(abs(dx), abs(dy))
                if err < self.pix_err_threshold:
                    converged = True
                    break
                if (
                    self.dem is not None
                    and last_delta_valid
                    and dx * last_dx < 0
                    and dy * last_dy < 0
                ):
                    # oscillation: mean of the 2 previous guesses
                    # (:1298-1320)
                    rx = (abs(dx) * last_rx + abs(last_dx) * rx) / (
                        abs(dx) + abs(last_dx)
                    )
                    ry = (abs(dy) * last_ry + abs(last_dy) * ry) / (
                        abs(dy) + abs(last_dy)
                    )
                    last_delta_valid = False
                    below2_count = 0
                    continue
                boost = 1.0
                if self.dem is not None and below2_count >= 5 and err < 2:
                    boost = 10.0  # stuck-below-2px escape (:1322-1335)
                below2_count = below2_count + 1 if err < 2 else 0
                new_rx = rx - (dx * g[1] * boost) - (dy * g[2] * boost)
                new_ry = ry - (dx * g[4] * boost) - (dy * g[5] * boost)
                last_rx, last_ry = rx, ry
                rx, ry = new_rx, new_ry
                last_dx, last_dy = dx, dy
                last_delta_valid = True
            if not converged:
                raise ValueError(
                    f"RPC inverse failed to converge at ({pfx}, {pfy})"
                )
            out_lon[idx], out_lat[idx] = rx, ry
        if out_lon.size == 1:
            return float(out_lon.ravel()[0]), float(out_lat.ravel()[0])
        return out_lon, out_lat
