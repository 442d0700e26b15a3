"""Pinned outputs of the inverse-map warp family.

Covers ``warp.warp_array``, ``gcp.warp_array_gcp`` (poly1-3, tps,
homography), ``gcp.warp_array_rpc`` (given and suggested grids, with and
without DEM coverage), ``update.update_raster``,
``vshift._resample_grid_to_src`` and ``kernels.resample_convolution``.
Every case builds its input in memory, so nothing here needs the
reference autotest data. A digest covers each returned array (shape,
dtype, bytes) and each returned grid or window; a case that raises pins
its exception type and message. The pins were recorded before these
callers were moved onto one sampler (``kernels.gather``) and one
output-grid estimator (``warp.suggested_output_grid``), and must not
move.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from gdal_spark.functions import wkb as WKB
from gdal_spark.raster import gcp as G
from gdal_spark.raster import kernels as K
from gdal_spark.raster import update as U
from gdal_spark.raster import vshift as VS
from gdal_spark.raster import warp as WP

# a NaN or out-of-range coordinate cast to an integer index is
# platform-defined; the sampler must not make one
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

METHODS = ("near", "bilinear", "cubic", "cubicspline", "lanczos", "average")
DTYPES = ("u1", "i2", "f4")


def _pix(h: int, w: int, nb: int, dt) -> np.ndarray:
    """Deterministic samples spread over the type's range."""
    dt = np.dtype(dt)
    base = (np.arange(h * w * nb, dtype=np.int64) * 7919) % 251
    if dt.kind == "u":
        v = base
    elif dt.kind == "i":
        v = (base - 125) * 257
    else:
        v = (base - 125) / 8.0 + 1000.0
    v = v.astype(dt)
    return v.reshape((h, w) if nb == 1 else (h, w, nb))


def _feed(h, obj) -> None:
    if isinstance(obj, np.ndarray):
        h.update(repr(("nd", obj.shape, obj.dtype.str)).encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    elif isinstance(obj, (tuple, list)):
        h.update(f"seq{len(obj)}".encode())
        for o in obj:
            _feed(h, o)
    else:
        h.update(repr(obj).encode())


def _digest(fn) -> str:
    h = hashlib.sha256()
    try:
        out = fn()
    except Exception as exc:  # a pinned raise
        out = ("raises", type(exc).__name__, str(exc))
    _feed(h, out)
    return h.hexdigest()[:16]


CASES: dict = {}


def case(name, fn) -> None:
    assert name not in CASES, name
    CASES[name] = fn


# ---------------------------------------------------------------------------
# warp_array: CRS transforms, approximate and exact
# ---------------------------------------------------------------------------

SRC_GT = (10.0, 0.05, 0.0, 50.0, 0.0, -0.04)
H, W = 12, 16


def _merc_grid():
    gt, ow, oh = WP.suggested_output_grid(SRC_GT, W, H, WP.lonlat_to_meters_np)
    # widen by two pixels per side so some centers fall outside the source
    return (gt[0] - 2 * gt[1], gt[1], 0.0, gt[3] - 2 * gt[5], 0.0, gt[5]), ow + 4, oh + 4


def _warp_merc(arr, method, approx):
    gt, ow, oh = _merc_grid()
    return WP.warp_array(arr, SRC_GT, gt, oh, ow, resample=method,
                         approx_grid=approx, return_mask=True)


def _warp_rot(arr, method, approx):
    # same CRS, rotated destination grid
    gt = (9.9, 0.045, 0.012, 50.1, 0.01, -0.043)
    return WP.warp_array(arr, SRC_GT, gt, 15, 19, "EPSG:4326", "EPSG:4326",
                         resample=method, approx_grid=approx, nodata=3.0)


_UTM_GT = (440000.0, 900.0, 0.0, 5420000.0, 0.0, -800.0)


def _warp_utm(arr, method, approx):
    # forward UTM -> lon/lat is the inverse map of the reverse pair
    gt, ow, oh = WP.suggested_output_grid(
        _UTM_GT, W, H, WP.get_inverse_transform("EPSG:4326", "EPSG:32631"))
    return WP.warp_array(arr, _UTM_GT, gt, oh, ow, "EPSG:32631", "EPSG:4326",
                         resample=method, approx_grid=approx), gt


_TRANSFORMS = {
    "merc_approx": (_warp_merc, 16),
    "merc_exact": (_warp_merc, 0),
    "rot_approx": (_warp_rot, 4),
    "rot_exact": (_warp_rot, 0),
    "utm_approx": (_warp_utm, 16),
}

for _tn, (_fn, _ag) in _TRANSFORMS.items():
    for _m in METHODS:
        for _nb in (1, 3):
            for _dt in DTYPES:
                case(f"warp_{_tn}_{_m}_nb{_nb}_{_dt}",
                     lambda fn=_fn, ag=_ag, m=_m, nb=_nb, dt=_dt:
                     fn(_pix(H, W, nb, dt), m, ag))

_CUT = [np.array([[10.2, 49.95], [10.7, 49.7], [10.5, 49.55], [10.1, 49.6]]),
        np.array([[10.3, 49.7], [10.4, 49.75], [10.35, 49.65]])]

for _m in METHODS:
    for _nb in (1, 3):
        case(f"warp_cutline_{_m}_nb{_nb}",
             lambda m=_m, nb=_nb: WP.warp_array(
                 _pix(H, W, nb, "u1"), SRC_GT,
                 (9.95, 0.04, 0.0, 50.02, 0.0, -0.035), 15, 22,
                 "EPSG:4326", "EPSG:4326", resample=m, nodata=7.0,
                 return_mask=True, cutline=_CUT))

# inverse mercator past the pole: NaN source coordinates
for _m in ("near", "bilinear", "cubic"):
    case(f"warp_nan_coords_{_m}",
         lambda m=_m: WP.warp_array(
             _pix(H, W, 1, "f4"), (1.0e6, 5.0e4, 0.0, 9.0e6, 0.0, -4.0e4),
             (9.0, 0.5, 0.0, 91.0, 0.0, -1.6), 20, 12, "EPSG:3857",
             "EPSG:4326", resample=m, approx_grid=0, return_mask=True))

# grid-aligned: destination centers land exactly on source edges (-0.5,
# n - 0.5) and on half-pixel ties, where the inside test and nearest's
# rounding rule decide
_ALIGNED_SRC_GT = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
_ALIGNED_DST_GT = (-0.75, 0.5, 0.0, 0.75, 0.0, -0.5)

for _m in METHODS:
    for _nb in (1, 3):
        for _dt in DTYPES:
            for _ag in (0, 4):
                case(f"warp_aligned_{_m}_nb{_nb}_{_dt}_ag{_ag}",
                     lambda m=_m, nb=_nb, dt=_dt, ag=_ag: WP.warp_array(
                         _pix(5, 6, nb, dt), _ALIGNED_SRC_GT, _ALIGNED_DST_GT,
                         13, 15, "EPSG:4326", "EPSG:4326", resample=m,
                         approx_grid=ag, nodata=9.0, return_mask=True))

case("warp_unsupported_crs", lambda: WP.warp_array(
    _pix(H, W, 1, "u1"), SRC_GT, SRC_GT, H, W, "EPSG:4326", "EPSG:9999"))

for _res in (None, 2500.0):
    case(f"suggested_grid_merc_{_res}", lambda r=_res: WP.suggested_output_grid(
        SRC_GT, W, H, WP.lonlat_to_meters_np, r))


# ---------------------------------------------------------------------------
# warp_array_gcp: five pixel-space models
# ---------------------------------------------------------------------------

GH, GW = 14, 18


def _gcps(n: int = 4) -> np.ndarray:
    xs = np.linspace(0, GW, n)
    ys = np.linspace(0, GH, n)
    px, py = np.meshgrid(xs, ys)
    px, py = px.ravel(), py.ravel()
    gx = 100.0 + 2.0 * px + 0.01 * px * py + 0.3 * py
    gy = 300.0 - 1.5 * py + 0.02 * px * px - 0.1 * px
    return np.column_stack([px, py, gx, gy])


def _gcps_homography() -> np.ndarray:
    pts = [(0, 0), (GW, 0), (0, GH), (GW, GH), (7, 5), (12, 9)]
    rows = []
    for px, py in pts:
        d = 1.0 + 0.004 * px + 0.002 * py
        rows.append((px, py, (50.0 + 2.0 * px + 0.4 * py) / d,
                     (80.0 - 0.3 * px - 1.8 * py) / d))
    return np.array(rows, float)


GCP_MODELS = ("poly1", "poly2", "poly3", "tps", "homography")

for _mod in GCP_MODELS:
    for _m in METHODS:
        for _nb in (1, 3):
            for _dt in DTYPES:
                case(f"gcp_{_mod}_{_m}_nb{_nb}_{_dt}",
                     lambda mod=_mod, m=_m, nb=_nb, dt=_dt: G.warp_array_gcp(
                         _pix(GH, GW, nb, dt),
                         _gcps_homography() if mod == "homography" else _gcps(),
                         mod, resample=m))
    case(f"gcp_{_mod}_out_res_nodata",
         lambda mod=_mod: G.warp_array_gcp(
             _pix(GH, GW, 1, "f4"),
             _gcps_homography() if mod == "homography" else _gcps(),
             mod, resample="bilinear", out_res=1.7, nodata=-5.0))

case("gcp_unknown_method", lambda: G.warp_array_gcp(
    _pix(GH, GW, 1, "u1"), _gcps(), "spline"))
case("gcp_poly3_too_few", lambda: G.warp_array_gcp(
    _pix(GH, GW, 1, "u1"), _gcps(3), "poly3"))


# ---------------------------------------------------------------------------
# warp_array_rpc: given grid, suggested grid, partial DEM coverage
# ---------------------------------------------------------------------------

RPC_MD = {
    "LINE_OFF": "16201", "SAMP_OFF": "15184", "HEIGHT_OFF": "97",
    "LAT_OFF": "39.7792", "LONG_OFF": "125.7510",
    "LINE_SCALE": "16480", "SAMP_SCALE": "15217", "HEIGHT_SCALE": "501",
    "LAT_SCALE": "0.0900", "LONG_SCALE": "0.1096",
    "LINE_NUM_COEFF": (
        "+5.105608E-04 -2.921055E-02 -1.010407E+00 -1.743729E-02 "
        "-6.604239E-05 -7.871396E-05 +3.027877E-04 -4.323587E-04 "
        "-2.624751E-04 +6.186490E-06 +1.084676E-06 +5.389738E-05 "
        "+4.145232E-06 +3.911486E-07 +1.772434E-05 +3.302960E-06 "
        "+3.006106E-06 +1.662606E-05 +6.051677E-06 -2.657667E-08"
    ),
    "LINE_DEN_COEFF": (
        "+1.000000E+00 -9.652128E-05 +2.488346E-04 +3.089019E-04 "
        "-2.120170E-06 +4.117913E-07 +1.370009E-06 +1.357281E-05 "
        "-4.174324E-06 -3.146787E-06 -7.724587E-06 +3.524480E-04 "
        "-1.303224E-05 -8.507679E-07 -1.670972E-05 +6.781061E-06 "
        "+5.602262E-07 +1.161421E-05 +4.681872E-06 +5.593931E-08"
    ),
    "SAMP_NUM_COEFF": (
        "-2.429563E-04 +1.028320E+00 -3.360972E-02 +3.519600E-03 "
        "-6.568341E-04 +5.951139E-04 -3.875716E-04 +1.260622E-04 "
        "-5.273817E-05 -4.418981E-06 -3.520581E-06 -2.502760E-04 "
        "-4.167704E-05 -5.973233E-05 -1.438949E-04 +7.603041E-06 "
        "+2.358136E-06 -2.275274E-05 +1.602657E-06 -1.716541E-07"
    ),
    "SAMP_DEN_COEFF": (
        "+1.000000E+00 +7.765620E-05 +6.568707E-04 -6.270621E-04 "
        "+5.163170E-05 +6.979463E-06 +2.476334E-07 +1.083558E-04 "
        "-4.043734E-05 -5.819288E-05 +1.778201E-07 +5.665202E-05 "
        "+6.927205E-06 +6.793485E-07 +3.604209E-05 -4.057103E-07 "
        "-8.291254E-07 +1.010650E-05 -2.875552E-06 +5.142751E-08"
    ),
}

RPC_GT = (125.64812, 6e-6, 0.0, 39.86942, 0.0, -6e-6)

for _m in METHODS:
    for _nb in (1, 3):
        for _dt in DTYPES:
            case(f"rpc_given_{_m}_nb{_nb}_{_dt}",
                 lambda m=_m, nb=_nb, dt=_dt: G.warp_array_rpc(
                     _pix(24, 24, nb, dt), RPC_MD, resample=m, dst_gt=RPC_GT,
                     out_size=(32, 26), rpc_height=30.0))
    case(f"rpc_suggested_{_m}",
         lambda m=_m: G.warp_array_rpc(_pix(16, 16, 1, "u1"), RPC_MD,
                                       resample=m, rpc_height=0.0))
    case(f"rpc_suggested_out_res_{_m}_nb3",
         lambda m=_m: G.warp_array_rpc(_pix(16, 16, 3, "f4"), RPC_MD,
                                       resample=m, out_res=9e-6, nodata=2.0))

# a lon/lat DEM that covers only the north-west of the output window:
# dst pixels without a height become nodata
_DEM = 28.0 + np.arange(144.0).reshape(12, 12) / 48
_DEM_GT = (125.64800, 2e-5, 0.0, 39.8696, 0.0, -2e-5)

for _m in ("near", "bilinear", "cubic"):
    case(f"rpc_partial_dem_{_m}",
         lambda m=_m: G.warp_array_rpc(
             _pix(24, 24, 1, "i2"), RPC_MD, resample=m, dst_gt=RPC_GT,
             out_size=(32, 26), nodata=-9.0, dem=_DEM, dem_gt=_DEM_GT,
             dem_srs="EPSG:4326"))


# ---------------------------------------------------------------------------
# update_raster
# ---------------------------------------------------------------------------

DST_GT = (100.0, 1.0, 0.0, 50.0, 0.0, -1.0)
UPD_SRC_GT = (103.3, 0.8, 0.0, 47.1, 0.0, -0.9)
_UPD_CUT = WKB.write_polygon([np.array([[103.0, 47.5], [108.0, 46.0],
                                        [104.0, 41.0]])])


def _upd_src() -> np.ndarray:
    src = _pix(6, 5, 1, "f4").astype(np.float64) - 990.0
    src[2, 3] = -3.0
    return src


for _m in METHODS:
    for _dt in DTYPES:
        for _nd in (None, -3.0):
            for _cut in (None, _UPD_CUT):
                case(f"update_{_m}_{_dt}_nd{_nd}_cut{_cut is not None}",
                     lambda m=_m, dt=_dt, nd=_nd, cut=_cut: U.update_raster(
                         _pix(16, 16, 1, dt), DST_GT, _upd_src(), UPD_SRC_GT,
                         resample=m, src_nodata=nd, cutline_wkb=cut))
    case(f"update_dst3_src2_{_m}",
         lambda m=_m: U.update_raster(_pix(16, 16, 3, "u1"), DST_GT,
                                      _upd_src(), UPD_SRC_GT, resample=m))
    case(f"update_geo_fn_{_m}",
         lambda m=_m: U.update_raster(
             _pix(16, 16, 1, "i2"), DST_GT, _upd_src(), UPD_SRC_GT,
             resample=m, geo_fn=lambda x, y: (x + 1.5, y - 0.75),
             inv_geo_fn=lambda x, y: (x - 1.5, y + 0.75)))
    case(f"update_aligned_{_m}",
         lambda m=_m: U.update_raster(
             _pix(16, 16, 1, "i2"), DST_GT, _pix(5, 6, 1, "f4"),
             (103.5, 2.0, 0.0, 46.5, 0.0, -2.0), resample=m, src_nodata=1000.0))

case("update_disjoint", lambda: U.update_raster(
    _pix(16, 16, 1, "u1"), DST_GT, _upd_src(),
    (300.0, 1.0, 0.0, 50.0, 0.0, -1.0)))


# ---------------------------------------------------------------------------
# vshift: grid resampled onto the source grid
# ---------------------------------------------------------------------------

_GRID_GT = (0.1, 0.9, 0.0, 9.3, 0.0, -0.8)
_VS_SRC_GT = (-0.4, 0.7, 0.0, 9.0, 0.0, -0.75)


def _vs_grid() -> np.ndarray:
    g = _pix(7, 9, 1, "f4").astype(np.float64) - 1000.0
    g[3, 4] = -9999.0
    return g


for _m in ("near", "bilinear", "cubic"):
    case(f"vshift_grid_aligned_{_m}",
         lambda m=_m: VS._resample_grid_to_src(
             _vs_grid(), (17, 20), (-0.75, 0.5, 0.0, 0.75, 0.0, -0.5),
             (0.0, 1.0, 0.0, 0.0, 0.0, -1.0), m, -9999.0, True))

for _m in ("near", "bilinear", "cubic", "lanczos", "average"):
    for _gnd in (None, -9999.0):
        for _eom in (False, True):
            for _geo in (None, "shift"):
                case(f"vshift_grid_{_m}_nd{_gnd}_eom{_eom}_{_geo}",
                     lambda m=_m, gnd=_gnd, eom=_eom, geo=_geo:
                     VS._resample_grid_to_src(
                         _vs_grid(), (10, 12), _VS_SRC_GT, _GRID_GT, m, gnd,
                         eom, None if geo is None
                         else (lambda x, y: (x * 1.01 + 0.2, y - 0.3))))


# ---------------------------------------------------------------------------
# resample_convolution (overview convolution, incl. its lanczos filter)
# ---------------------------------------------------------------------------

for _k in ("bilinear", "cubic", "cubicspline", "lanczos"):
    for _nb in (1, 3):
        for _dt in DTYPES:
            for _oh, _ow in ((5, 7), (23, 29)):
                case(f"convolution_{_k}_nb{_nb}_{_dt}_{_oh}x{_ow}",
                     lambda k=_k, nb=_nb, dt=_dt, oh=_oh, ow=_ow:
                     K.resample_convolution(_pix(H, W, nb, dt), oh, ow, k))


PINNED = {
    "convolution_bilinear_nb1_f4_23x29": "701d8795e364844b",
    "convolution_bilinear_nb1_f4_5x7": "c381f6d8e60a1fab",
    "convolution_bilinear_nb1_i2_23x29": "8c39a7ba7b7d1fd1",
    "convolution_bilinear_nb1_i2_5x7": "4621f6d5ee0aedbf",
    "convolution_bilinear_nb1_u1_23x29": "9f3973934ea589df",
    "convolution_bilinear_nb1_u1_5x7": "62f2daec43558ffb",
    "convolution_bilinear_nb3_f4_23x29": "b84d10ab1ebb2a85",
    "convolution_bilinear_nb3_f4_5x7": "e0d7a0c9c215bed6",
    "convolution_bilinear_nb3_i2_23x29": "786286fbd8fd76e4",
    "convolution_bilinear_nb3_i2_5x7": "933ab53366f8acf9",
    "convolution_bilinear_nb3_u1_23x29": "982dfd9094a248c3",
    "convolution_bilinear_nb3_u1_5x7": "de936bc66d0457fc",
    "convolution_cubic_nb1_f4_23x29": "f6d43aab6307c693",
    "convolution_cubic_nb1_f4_5x7": "030e2aa41224308d",
    "convolution_cubic_nb1_i2_23x29": "ff88de3206e8071c",
    "convolution_cubic_nb1_i2_5x7": "42a3ddea6e65856c",
    "convolution_cubic_nb1_u1_23x29": "dbc5a1c1ff10e13d",
    "convolution_cubic_nb1_u1_5x7": "70ab802e5205700c",
    "convolution_cubic_nb3_f4_23x29": "300adb62cdf9341f",
    "convolution_cubic_nb3_f4_5x7": "a3514800691aeed4",
    "convolution_cubic_nb3_i2_23x29": "b8f0e8391f7cf360",
    "convolution_cubic_nb3_i2_5x7": "40e37f044e39800d",
    "convolution_cubic_nb3_u1_23x29": "47ab008aabcaf181",
    "convolution_cubic_nb3_u1_5x7": "c57de536c5f86fdb",
    "convolution_cubicspline_nb1_f4_23x29": "fdd360d80002967e",
    "convolution_cubicspline_nb1_f4_5x7": "604733138e869393",
    "convolution_cubicspline_nb1_i2_23x29": "239895bceab66001",
    "convolution_cubicspline_nb1_i2_5x7": "42c4d50df698d037",
    "convolution_cubicspline_nb1_u1_23x29": "e5547875ce38fbf3",
    "convolution_cubicspline_nb1_u1_5x7": "155633245c50d0ec",
    "convolution_cubicspline_nb3_f4_23x29": "4149d63d6497e877",
    "convolution_cubicspline_nb3_f4_5x7": "c9108095bc427f99",
    "convolution_cubicspline_nb3_i2_23x29": "2d194360558d6c10",
    "convolution_cubicspline_nb3_i2_5x7": "5c99a2e8e32cd7bd",
    "convolution_cubicspline_nb3_u1_23x29": "3e4b21c1ab8f836f",
    "convolution_cubicspline_nb3_u1_5x7": "48050768714d9ab7",
    "convolution_lanczos_nb1_f4_23x29": "1555bf01667e565e",
    "convolution_lanczos_nb1_f4_5x7": "cd8c84e00ca0a6b0",
    "convolution_lanczos_nb1_i2_23x29": "dbe6c6ab4c1d6658",
    "convolution_lanczos_nb1_i2_5x7": "9fc4b18372cbba82",
    "convolution_lanczos_nb1_u1_23x29": "32db1a3653b501e0",
    "convolution_lanczos_nb1_u1_5x7": "770a4aa92fa3c3bd",
    "convolution_lanczos_nb3_f4_23x29": "fd8a4cb928b6140a",
    "convolution_lanczos_nb3_f4_5x7": "bc2dc9adc4e5ffe2",
    "convolution_lanczos_nb3_i2_23x29": "3826821ea17ce46b",
    "convolution_lanczos_nb3_i2_5x7": "45cd4f5fe486d64e",
    "convolution_lanczos_nb3_u1_23x29": "f9422fb0a998d61e",
    "convolution_lanczos_nb3_u1_5x7": "0acb2780bea6d4d9",
    "gcp_homography_average_nb1_f4": "b45b3dfa6de457d7",
    "gcp_homography_average_nb1_i2": "d6afd2d7514b7fad",
    "gcp_homography_average_nb1_u1": "3faa0d7afc38d1c9",
    "gcp_homography_average_nb3_f4": "7baf55f6a2fb58d3",
    "gcp_homography_average_nb3_i2": "150d2b0ce8ce40f5",
    "gcp_homography_average_nb3_u1": "b049cd713a7ceaae",
    "gcp_homography_bilinear_nb1_f4": "ab33b1addabbced7",
    "gcp_homography_bilinear_nb1_i2": "530b1a5013e1d009",
    "gcp_homography_bilinear_nb1_u1": "c506360de4d493b4",
    "gcp_homography_bilinear_nb3_f4": "89ed795d23f38ee2",
    "gcp_homography_bilinear_nb3_i2": "9c585bec5d1bab5f",
    "gcp_homography_bilinear_nb3_u1": "dba073ef82543127",
    "gcp_homography_cubic_nb1_f4": "2bb421629b20c3aa",
    "gcp_homography_cubic_nb1_i2": "acb078247e7ce9e7",
    "gcp_homography_cubic_nb1_u1": "b575927d72670b78",
    "gcp_homography_cubic_nb3_f4": "57e6bd0ea490f743",
    "gcp_homography_cubic_nb3_i2": "fafb35f8b92c1957",
    "gcp_homography_cubic_nb3_u1": "6fea73b00630ead4",
    "gcp_homography_cubicspline_nb1_f4": "c1820e00edd58456",
    "gcp_homography_cubicspline_nb1_i2": "62f5d81628d0b1aa",
    "gcp_homography_cubicspline_nb1_u1": "5482033b27724c82",
    "gcp_homography_cubicspline_nb3_f4": "3baa0c6331b0172e",
    "gcp_homography_cubicspline_nb3_i2": "6910d30ce82ab738",
    "gcp_homography_cubicspline_nb3_u1": "b6215491c3e8aa52",
    "gcp_homography_lanczos_nb1_f4": "9c53085ac7c38f7f",
    "gcp_homography_lanczos_nb1_i2": "6bf44dfa8e7dcc31",
    "gcp_homography_lanczos_nb1_u1": "b57a7bd74d0d204d",
    "gcp_homography_lanczos_nb3_f4": "7c0423ed2bbc2971",
    "gcp_homography_lanczos_nb3_i2": "29c05c03de8d450a",
    "gcp_homography_lanczos_nb3_u1": "edf71bba0a17e9df",
    "gcp_homography_near_nb1_f4": "b45b3dfa6de457d7",
    "gcp_homography_near_nb1_i2": "d6afd2d7514b7fad",
    "gcp_homography_near_nb1_u1": "3faa0d7afc38d1c9",
    "gcp_homography_near_nb3_f4": "7baf55f6a2fb58d3",
    "gcp_homography_near_nb3_i2": "150d2b0ce8ce40f5",
    "gcp_homography_near_nb3_u1": "b049cd713a7ceaae",
    "gcp_homography_out_res_nodata": "e760c94ae2d422e3",
    "gcp_poly1_average_nb1_f4": "00ec008ddc9db9c0",
    "gcp_poly1_average_nb1_i2": "dd4b3229ac11bb97",
    "gcp_poly1_average_nb1_u1": "aba806a8192628e1",
    "gcp_poly1_average_nb3_f4": "9bb355d3ca864983",
    "gcp_poly1_average_nb3_i2": "6a3511d49caff704",
    "gcp_poly1_average_nb3_u1": "924f146c1d5ddf3f",
    "gcp_poly1_bilinear_nb1_f4": "27e05fcb56b0a976",
    "gcp_poly1_bilinear_nb1_i2": "5cdfab286cf4fc5c",
    "gcp_poly1_bilinear_nb1_u1": "dd73028644d4d9d2",
    "gcp_poly1_bilinear_nb3_f4": "28e86273c427d009",
    "gcp_poly1_bilinear_nb3_i2": "483dcca1c6533fa8",
    "gcp_poly1_bilinear_nb3_u1": "e1c14f8e41f9f7de",
    "gcp_poly1_cubic_nb1_f4": "0141947bd15f1aff",
    "gcp_poly1_cubic_nb1_i2": "49beff7f73096b97",
    "gcp_poly1_cubic_nb1_u1": "25f11f147fdc71e5",
    "gcp_poly1_cubic_nb3_f4": "db3951f161f71e30",
    "gcp_poly1_cubic_nb3_i2": "f8086c8c8fd82d55",
    "gcp_poly1_cubic_nb3_u1": "da6de98b9a8117cb",
    "gcp_poly1_cubicspline_nb1_f4": "9515ec1930fd31fe",
    "gcp_poly1_cubicspline_nb1_i2": "86f30649b02948d1",
    "gcp_poly1_cubicspline_nb1_u1": "18c47dd87d69d85f",
    "gcp_poly1_cubicspline_nb3_f4": "fa05228109a45e32",
    "gcp_poly1_cubicspline_nb3_i2": "6cac1d799d21200f",
    "gcp_poly1_cubicspline_nb3_u1": "22075cff8d36166f",
    "gcp_poly1_lanczos_nb1_f4": "37007ad440b05abf",
    "gcp_poly1_lanczos_nb1_i2": "9c53aa1332d1db66",
    "gcp_poly1_lanczos_nb1_u1": "c11e35c569042444",
    "gcp_poly1_lanczos_nb3_f4": "6d73485d7b324799",
    "gcp_poly1_lanczos_nb3_i2": "434d9122776f9a6f",
    "gcp_poly1_lanczos_nb3_u1": "3b691c8f19b1dd6b",
    "gcp_poly1_near_nb1_f4": "00ec008ddc9db9c0",
    "gcp_poly1_near_nb1_i2": "dd4b3229ac11bb97",
    "gcp_poly1_near_nb1_u1": "aba806a8192628e1",
    "gcp_poly1_near_nb3_f4": "9bb355d3ca864983",
    "gcp_poly1_near_nb3_i2": "6a3511d49caff704",
    "gcp_poly1_near_nb3_u1": "924f146c1d5ddf3f",
    "gcp_poly1_out_res_nodata": "00c4b08fc258266f",
    "gcp_poly2_average_nb1_f4": "4e6af98c07a7cdc1",
    "gcp_poly2_average_nb1_i2": "9069f0254a075684",
    "gcp_poly2_average_nb1_u1": "fad5ca01d3eb58ab",
    "gcp_poly2_average_nb3_f4": "74baae79b754f4ad",
    "gcp_poly2_average_nb3_i2": "1b8c134c8545a1c5",
    "gcp_poly2_average_nb3_u1": "73d3f38a215eedc7",
    "gcp_poly2_bilinear_nb1_f4": "7796b89932b56920",
    "gcp_poly2_bilinear_nb1_i2": "ba700de936db1a2e",
    "gcp_poly2_bilinear_nb1_u1": "2b120ecf2646f458",
    "gcp_poly2_bilinear_nb3_f4": "6e8c7df5b3f9a5f3",
    "gcp_poly2_bilinear_nb3_i2": "dc3cc3e5fff647df",
    "gcp_poly2_bilinear_nb3_u1": "88df19ace90092c8",
    "gcp_poly2_cubic_nb1_f4": "cc8c079df701cc54",
    "gcp_poly2_cubic_nb1_i2": "2ea57befd36b3a8e",
    "gcp_poly2_cubic_nb1_u1": "1aa67f9a08ff0774",
    "gcp_poly2_cubic_nb3_f4": "6f8b3860f83366d8",
    "gcp_poly2_cubic_nb3_i2": "3dea89b317a84bb4",
    "gcp_poly2_cubic_nb3_u1": "7e95ebc511a2a4cc",
    "gcp_poly2_cubicspline_nb1_f4": "c8da965bed59ed53",
    "gcp_poly2_cubicspline_nb1_i2": "c30cd325b60c0c74",
    "gcp_poly2_cubicspline_nb1_u1": "4fdb9fbf7f0e9cbb",
    "gcp_poly2_cubicspline_nb3_f4": "ecfd17c239dd88f2",
    "gcp_poly2_cubicspline_nb3_i2": "61c7663f5eb9524f",
    "gcp_poly2_cubicspline_nb3_u1": "d3ecf905b9a5203c",
    "gcp_poly2_lanczos_nb1_f4": "7a4ff28bc511848b",
    "gcp_poly2_lanczos_nb1_i2": "5d0ff515e652e6d2",
    "gcp_poly2_lanczos_nb1_u1": "69a6600e3104903a",
    "gcp_poly2_lanczos_nb3_f4": "28df98d4895db4ea",
    "gcp_poly2_lanczos_nb3_i2": "ad7e973ee8895598",
    "gcp_poly2_lanczos_nb3_u1": "174eab307f437302",
    "gcp_poly2_near_nb1_f4": "4e6af98c07a7cdc1",
    "gcp_poly2_near_nb1_i2": "9069f0254a075684",
    "gcp_poly2_near_nb1_u1": "fad5ca01d3eb58ab",
    "gcp_poly2_near_nb3_f4": "74baae79b754f4ad",
    "gcp_poly2_near_nb3_i2": "1b8c134c8545a1c5",
    "gcp_poly2_near_nb3_u1": "73d3f38a215eedc7",
    "gcp_poly2_out_res_nodata": "711c4109c94c1292",
    "gcp_poly3_average_nb1_f4": "53bfbb588418de1e",
    "gcp_poly3_average_nb1_i2": "c0f20fdbba57a4aa",
    "gcp_poly3_average_nb1_u1": "d30f1712a417a656",
    "gcp_poly3_average_nb3_f4": "b4d0d6b876270b94",
    "gcp_poly3_average_nb3_i2": "53c9dfe0e56b7ab2",
    "gcp_poly3_average_nb3_u1": "b7f66dfabb4d1733",
    "gcp_poly3_bilinear_nb1_f4": "30d2c77b219076ee",
    "gcp_poly3_bilinear_nb1_i2": "0d790c238204d174",
    "gcp_poly3_bilinear_nb1_u1": "3e99b00288c4399d",
    "gcp_poly3_bilinear_nb3_f4": "e4a15b0f7bac041f",
    "gcp_poly3_bilinear_nb3_i2": "08c31c944f290575",
    "gcp_poly3_bilinear_nb3_u1": "aa0d34a6aff42a1d",
    "gcp_poly3_cubic_nb1_f4": "878bd9cdb761d873",
    "gcp_poly3_cubic_nb1_i2": "83f6e0f941fa63b0",
    "gcp_poly3_cubic_nb1_u1": "235dd141b64ef9d1",
    "gcp_poly3_cubic_nb3_f4": "64f600a889264801",
    "gcp_poly3_cubic_nb3_i2": "21f0493f0840a6f2",
    "gcp_poly3_cubic_nb3_u1": "4318c32a363b4d71",
    "gcp_poly3_cubicspline_nb1_f4": "a59332954e82a283",
    "gcp_poly3_cubicspline_nb1_i2": "e8292f0d61e74b95",
    "gcp_poly3_cubicspline_nb1_u1": "ef8ad2e220df1058",
    "gcp_poly3_cubicspline_nb3_f4": "7161e55a39cd3b7c",
    "gcp_poly3_cubicspline_nb3_i2": "f1f59b5d21ada725",
    "gcp_poly3_cubicspline_nb3_u1": "71dcd549fce8a2a2",
    "gcp_poly3_lanczos_nb1_f4": "96d7c004b4f0ac94",
    "gcp_poly3_lanczos_nb1_i2": "7622d693b922a460",
    "gcp_poly3_lanczos_nb1_u1": "4fbf679ae882dcc2",
    "gcp_poly3_lanczos_nb3_f4": "a665537fb9103156",
    "gcp_poly3_lanczos_nb3_i2": "1a6f50cccc1e891f",
    "gcp_poly3_lanczos_nb3_u1": "841bd592173ae784",
    "gcp_poly3_near_nb1_f4": "53bfbb588418de1e",
    "gcp_poly3_near_nb1_i2": "c0f20fdbba57a4aa",
    "gcp_poly3_near_nb1_u1": "d30f1712a417a656",
    "gcp_poly3_near_nb3_f4": "b4d0d6b876270b94",
    "gcp_poly3_near_nb3_i2": "53c9dfe0e56b7ab2",
    "gcp_poly3_near_nb3_u1": "b7f66dfabb4d1733",
    "gcp_poly3_out_res_nodata": "13dc95cb7382e80f",
    "gcp_poly3_too_few": "0dc52235a6e5d17b",
    "gcp_tps_average_nb1_f4": "911826fc20c50185",
    "gcp_tps_average_nb1_i2": "296539a7127fd583",
    "gcp_tps_average_nb1_u1": "9a143a98595fe582",
    "gcp_tps_average_nb3_f4": "691941128ecb43d2",
    "gcp_tps_average_nb3_i2": "b9a45f8a2b9f7de7",
    "gcp_tps_average_nb3_u1": "58b4f0704434442f",
    "gcp_tps_bilinear_nb1_f4": "338fb8921efbde69",
    "gcp_tps_bilinear_nb1_i2": "19f0956037cdedca",
    "gcp_tps_bilinear_nb1_u1": "04137d285dd28646",
    "gcp_tps_bilinear_nb3_f4": "4def981d4255b5fd",
    "gcp_tps_bilinear_nb3_i2": "c7b25ee01916b555",
    "gcp_tps_bilinear_nb3_u1": "8a4830ab328e73c5",
    "gcp_tps_cubic_nb1_f4": "f32cc090fd5b1163",
    "gcp_tps_cubic_nb1_i2": "4412274e21fc760b",
    "gcp_tps_cubic_nb1_u1": "662962dac961f71e",
    "gcp_tps_cubic_nb3_f4": "83135a569f3960f5",
    "gcp_tps_cubic_nb3_i2": "ccdff62ca48309a9",
    "gcp_tps_cubic_nb3_u1": "1027c61776b845ed",
    "gcp_tps_cubicspline_nb1_f4": "d1b2333f9d815fd2",
    "gcp_tps_cubicspline_nb1_i2": "83891131919c5267",
    "gcp_tps_cubicspline_nb1_u1": "766dc8f76ff817bd",
    "gcp_tps_cubicspline_nb3_f4": "3c489fa561851d34",
    "gcp_tps_cubicspline_nb3_i2": "f95596319f40956f",
    "gcp_tps_cubicspline_nb3_u1": "b97ce960d23dd39b",
    "gcp_tps_lanczos_nb1_f4": "8c43da176a12c0ad",
    "gcp_tps_lanczos_nb1_i2": "919319a6a8f21acf",
    "gcp_tps_lanczos_nb1_u1": "7bf15754ea012aa4",
    "gcp_tps_lanczos_nb3_f4": "b052afb88a3aa689",
    "gcp_tps_lanczos_nb3_i2": "64bc9996e87ee6e7",
    "gcp_tps_lanczos_nb3_u1": "7461959c54608d11",
    "gcp_tps_near_nb1_f4": "911826fc20c50185",
    "gcp_tps_near_nb1_i2": "296539a7127fd583",
    "gcp_tps_near_nb1_u1": "9a143a98595fe582",
    "gcp_tps_near_nb3_f4": "691941128ecb43d2",
    "gcp_tps_near_nb3_i2": "b9a45f8a2b9f7de7",
    "gcp_tps_near_nb3_u1": "58b4f0704434442f",
    "gcp_tps_out_res_nodata": "55693ad899c39227",
    "gcp_unknown_method": "4ed465fe0ac48bd7",
    "rpc_given_average_nb1_f4": "044ef6b9b9a5c2b2",
    "rpc_given_average_nb1_i2": "c65e3d8bf47d8535",
    "rpc_given_average_nb1_u1": "a1143a645f274609",
    "rpc_given_average_nb3_f4": "fa6b0dcbc544a897",
    "rpc_given_average_nb3_i2": "31eded6325f96f53",
    "rpc_given_average_nb3_u1": "f3f8dbf1b8417655",
    "rpc_given_bilinear_nb1_f4": "c5f2a3e12277da28",
    "rpc_given_bilinear_nb1_i2": "1a1ec7b980f560c6",
    "rpc_given_bilinear_nb1_u1": "d75d13d759450c22",
    "rpc_given_bilinear_nb3_f4": "14b60f45b87616bd",
    "rpc_given_bilinear_nb3_i2": "c86ecdb868005c9f",
    "rpc_given_bilinear_nb3_u1": "c2742154beb81045",
    "rpc_given_cubic_nb1_f4": "c6b515ce006becc2",
    "rpc_given_cubic_nb1_i2": "df24818d4c626250",
    "rpc_given_cubic_nb1_u1": "065ed24fd453d8c9",
    "rpc_given_cubic_nb3_f4": "55061beb8c5a147d",
    "rpc_given_cubic_nb3_i2": "a3c34b21b64b9823",
    "rpc_given_cubic_nb3_u1": "4d25c89c4499385b",
    "rpc_given_cubicspline_nb1_f4": "402b386f678af4e3",
    "rpc_given_cubicspline_nb1_i2": "6485a0645ed7315c",
    "rpc_given_cubicspline_nb1_u1": "985e693591b180bf",
    "rpc_given_cubicspline_nb3_f4": "165c4ab088aa65cc",
    "rpc_given_cubicspline_nb3_i2": "1ffdf8505de3c608",
    "rpc_given_cubicspline_nb3_u1": "4222b3165474e099",
    "rpc_given_lanczos_nb1_f4": "aeca039be8fd17ff",
    "rpc_given_lanczos_nb1_i2": "6d5294fff8528ec4",
    "rpc_given_lanczos_nb1_u1": "c0077cd0dfd3ad58",
    "rpc_given_lanczos_nb3_f4": "250fb0d772d5cdbe",
    "rpc_given_lanczos_nb3_i2": "70cb422ced227f8d",
    "rpc_given_lanczos_nb3_u1": "6349e6e8e76a16f5",
    "rpc_given_near_nb1_f4": "044ef6b9b9a5c2b2",
    "rpc_given_near_nb1_i2": "c65e3d8bf47d8535",
    "rpc_given_near_nb1_u1": "a1143a645f274609",
    "rpc_given_near_nb3_f4": "fa6b0dcbc544a897",
    "rpc_given_near_nb3_i2": "31eded6325f96f53",
    "rpc_given_near_nb3_u1": "f3f8dbf1b8417655",
    "rpc_partial_dem_bilinear": "74acd0583cc6eeba",
    "rpc_partial_dem_cubic": "c8eef98e86498b8f",
    "rpc_partial_dem_near": "e068cbdade571468",
    "rpc_suggested_average": "682ef0746deb0461",
    "rpc_suggested_bilinear": "4b6dcec69db29400",
    "rpc_suggested_cubic": "31e6e0e8930cb2e3",
    "rpc_suggested_cubicspline": "e7cab4d88c11a721",
    "rpc_suggested_lanczos": "23c7de3add62b954",
    "rpc_suggested_near": "682ef0746deb0461",
    "rpc_suggested_out_res_average_nb3": "7aa99471006409f4",
    "rpc_suggested_out_res_bilinear_nb3": "d6604a345d36ac75",
    "rpc_suggested_out_res_cubic_nb3": "27c25deaec14bb63",
    "rpc_suggested_out_res_cubicspline_nb3": "dc46eb8970c6cf0a",
    "rpc_suggested_out_res_lanczos_nb3": "6508e4d110423475",
    "rpc_suggested_out_res_near_nb3": "7aa99471006409f4",
    "suggested_grid_merc_2500.0": "7ccabcd6e369da0b",
    "suggested_grid_merc_None": "557d9f4eaad02cb7",
    "update_aligned_average": "455222c83453d2f9",
    "update_aligned_bilinear": "728431ab54470a36",
    "update_aligned_cubic": "b926bb68ba7a5c3b",
    "update_aligned_cubicspline": "df3fcea94f9208dd",
    "update_aligned_lanczos": "cc471ad3b0b3f9f5",
    "update_aligned_near": "455222c83453d2f9",
    "update_average_f4_nd-3.0_cutFalse": "e3b10b8e1305f34e",
    "update_average_f4_nd-3.0_cutTrue": "8499fe599c0c07e4",
    "update_average_f4_ndNone_cutFalse": "e3b10b8e1305f34e",
    "update_average_f4_ndNone_cutTrue": "8499fe599c0c07e4",
    "update_average_i2_nd-3.0_cutFalse": "1e430c3088124502",
    "update_average_i2_nd-3.0_cutTrue": "b00fb1f98ad1965f",
    "update_average_i2_ndNone_cutFalse": "1e430c3088124502",
    "update_average_i2_ndNone_cutTrue": "b00fb1f98ad1965f",
    "update_average_u1_nd-3.0_cutFalse": "25a0e2f8ff05fdcc",
    "update_average_u1_nd-3.0_cutTrue": "0d3bc1b2cb623089",
    "update_average_u1_ndNone_cutFalse": "25a0e2f8ff05fdcc",
    "update_average_u1_ndNone_cutTrue": "0d3bc1b2cb623089",
    "update_bilinear_f4_nd-3.0_cutFalse": "2befae8f7747fae4",
    "update_bilinear_f4_nd-3.0_cutTrue": "1d63e98d31b5f48b",
    "update_bilinear_f4_ndNone_cutFalse": "2befae8f7747fae4",
    "update_bilinear_f4_ndNone_cutTrue": "1d63e98d31b5f48b",
    "update_bilinear_i2_nd-3.0_cutFalse": "2dfb4f87f3681a5a",
    "update_bilinear_i2_nd-3.0_cutTrue": "bd1cae37ce491824",
    "update_bilinear_i2_ndNone_cutFalse": "2dfb4f87f3681a5a",
    "update_bilinear_i2_ndNone_cutTrue": "bd1cae37ce491824",
    "update_bilinear_u1_nd-3.0_cutFalse": "eea3e267dbc4e339",
    "update_bilinear_u1_nd-3.0_cutTrue": "a1d91bce98c24382",
    "update_bilinear_u1_ndNone_cutFalse": "eea3e267dbc4e339",
    "update_bilinear_u1_ndNone_cutTrue": "a1d91bce98c24382",
    "update_cubic_f4_nd-3.0_cutFalse": "3e027d7f9a1b0471",
    "update_cubic_f4_nd-3.0_cutTrue": "7007246df0163f5a",
    "update_cubic_f4_ndNone_cutFalse": "3e027d7f9a1b0471",
    "update_cubic_f4_ndNone_cutTrue": "7007246df0163f5a",
    "update_cubic_i2_nd-3.0_cutFalse": "445fdca25801cb31",
    "update_cubic_i2_nd-3.0_cutTrue": "22079efef18208c0",
    "update_cubic_i2_ndNone_cutFalse": "445fdca25801cb31",
    "update_cubic_i2_ndNone_cutTrue": "22079efef18208c0",
    "update_cubic_u1_nd-3.0_cutFalse": "86324f7524ece711",
    "update_cubic_u1_nd-3.0_cutTrue": "33b6d49d250e8967",
    "update_cubic_u1_ndNone_cutFalse": "86324f7524ece711",
    "update_cubic_u1_ndNone_cutTrue": "33b6d49d250e8967",
    "update_cubicspline_f4_nd-3.0_cutFalse": "9503c643b88f0aed",
    "update_cubicspline_f4_nd-3.0_cutTrue": "65cdbb9e7f20d3d8",
    "update_cubicspline_f4_ndNone_cutFalse": "9503c643b88f0aed",
    "update_cubicspline_f4_ndNone_cutTrue": "65cdbb9e7f20d3d8",
    "update_cubicspline_i2_nd-3.0_cutFalse": "5db5e88b602333c6",
    "update_cubicspline_i2_nd-3.0_cutTrue": "7fea030ca5f5c545",
    "update_cubicspline_i2_ndNone_cutFalse": "5db5e88b602333c6",
    "update_cubicspline_i2_ndNone_cutTrue": "7fea030ca5f5c545",
    "update_cubicspline_u1_nd-3.0_cutFalse": "d074cd069b1a0164",
    "update_cubicspline_u1_nd-3.0_cutTrue": "3cb940e5d2bd3ffd",
    "update_cubicspline_u1_ndNone_cutFalse": "d074cd069b1a0164",
    "update_cubicspline_u1_ndNone_cutTrue": "3cb940e5d2bd3ffd",
    "update_disjoint": "9b8563f878f2ef88",
    "update_dst3_src2_average": "e8365086e7125c18",
    "update_dst3_src2_bilinear": "6953d1ce950932a8",
    "update_dst3_src2_cubic": "bf6cf34854232e98",
    "update_dst3_src2_cubicspline": "1e9fa85153b14eb8",
    "update_dst3_src2_lanczos": "66e6cd3fdc3081c5",
    "update_dst3_src2_near": "e8365086e7125c18",
    "update_geo_fn_average": "ede2d59cc3477887",
    "update_geo_fn_bilinear": "b6fa36865a03d86b",
    "update_geo_fn_cubic": "883ed085b6189365",
    "update_geo_fn_cubicspline": "4c267be7738a5664",
    "update_geo_fn_lanczos": "7d01bf8e53211bd5",
    "update_geo_fn_near": "ede2d59cc3477887",
    "update_lanczos_f4_nd-3.0_cutFalse": "3b6932d36670c44d",
    "update_lanczos_f4_nd-3.0_cutTrue": "73d2c368a8fe32d0",
    "update_lanczos_f4_ndNone_cutFalse": "3b6932d36670c44d",
    "update_lanczos_f4_ndNone_cutTrue": "73d2c368a8fe32d0",
    "update_lanczos_i2_nd-3.0_cutFalse": "319dd25a714e1939",
    "update_lanczos_i2_nd-3.0_cutTrue": "514776235881c954",
    "update_lanczos_i2_ndNone_cutFalse": "319dd25a714e1939",
    "update_lanczos_i2_ndNone_cutTrue": "514776235881c954",
    "update_lanczos_u1_nd-3.0_cutFalse": "9a1f5a97636ab734",
    "update_lanczos_u1_nd-3.0_cutTrue": "a21082e3584023f1",
    "update_lanczos_u1_ndNone_cutFalse": "9a1f5a97636ab734",
    "update_lanczos_u1_ndNone_cutTrue": "a21082e3584023f1",
    "update_near_f4_nd-3.0_cutFalse": "e3b10b8e1305f34e",
    "update_near_f4_nd-3.0_cutTrue": "8499fe599c0c07e4",
    "update_near_f4_ndNone_cutFalse": "e3b10b8e1305f34e",
    "update_near_f4_ndNone_cutTrue": "8499fe599c0c07e4",
    "update_near_i2_nd-3.0_cutFalse": "1e430c3088124502",
    "update_near_i2_nd-3.0_cutTrue": "b00fb1f98ad1965f",
    "update_near_i2_ndNone_cutFalse": "1e430c3088124502",
    "update_near_i2_ndNone_cutTrue": "b00fb1f98ad1965f",
    "update_near_u1_nd-3.0_cutFalse": "25a0e2f8ff05fdcc",
    "update_near_u1_nd-3.0_cutTrue": "0d3bc1b2cb623089",
    "update_near_u1_ndNone_cutFalse": "25a0e2f8ff05fdcc",
    "update_near_u1_ndNone_cutTrue": "0d3bc1b2cb623089",
    "vshift_grid_aligned_bilinear": "47c18a9923d2b3e1",
    "vshift_grid_aligned_cubic": "8ad90df3590ee5ee",
    "vshift_grid_aligned_near": "5956c88ef2b32b19",
    "vshift_grid_average_nd-9999.0_eomFalse_None": "12f1652a9fda0fa2",
    "vshift_grid_average_nd-9999.0_eomFalse_shift": "12f1652a9fda0fa2",
    "vshift_grid_average_nd-9999.0_eomTrue_None": "12f1652a9fda0fa2",
    "vshift_grid_average_nd-9999.0_eomTrue_shift": "12f1652a9fda0fa2",
    "vshift_grid_average_ndNone_eomFalse_None": "12f1652a9fda0fa2",
    "vshift_grid_average_ndNone_eomFalse_shift": "12f1652a9fda0fa2",
    "vshift_grid_average_ndNone_eomTrue_None": "12f1652a9fda0fa2",
    "vshift_grid_average_ndNone_eomTrue_shift": "12f1652a9fda0fa2",
    "vshift_grid_bilinear_nd-9999.0_eomFalse_None": "8c66f4c3572e0dac",
    "vshift_grid_bilinear_nd-9999.0_eomFalse_shift": "41a0b17384de7630",
    "vshift_grid_bilinear_nd-9999.0_eomTrue_None": "bc552e32331d059b",
    "vshift_grid_bilinear_nd-9999.0_eomTrue_shift": "097d6121fda0f727",
    "vshift_grid_bilinear_ndNone_eomFalse_None": "9bcbf8c0fd34782b",
    "vshift_grid_bilinear_ndNone_eomFalse_shift": "4f3250954fd59a44",
    "vshift_grid_bilinear_ndNone_eomTrue_None": "c96fbcd5a7dd8536",
    "vshift_grid_bilinear_ndNone_eomTrue_shift": "1bc55957d4f234f9",
    "vshift_grid_cubic_nd-9999.0_eomFalse_None": "190f8c6487a8d4b8",
    "vshift_grid_cubic_nd-9999.0_eomFalse_shift": "bea2fc703db2d486",
    "vshift_grid_cubic_nd-9999.0_eomTrue_None": "1cbb4c5342f18c51",
    "vshift_grid_cubic_nd-9999.0_eomTrue_shift": "a1a6e8de3e3e3220",
    "vshift_grid_cubic_ndNone_eomFalse_None": "aea1a41c06d07b43",
    "vshift_grid_cubic_ndNone_eomFalse_shift": "050ad787789fa715",
    "vshift_grid_cubic_ndNone_eomTrue_None": "e24872d1c04c05c2",
    "vshift_grid_cubic_ndNone_eomTrue_shift": "15268e58aae73c8e",
    "vshift_grid_lanczos_nd-9999.0_eomFalse_None": "cc8dda3eadd26637",
    "vshift_grid_lanczos_nd-9999.0_eomFalse_shift": "cc8dda3eadd26637",
    "vshift_grid_lanczos_nd-9999.0_eomTrue_None": "cc8dda3eadd26637",
    "vshift_grid_lanczos_nd-9999.0_eomTrue_shift": "cc8dda3eadd26637",
    "vshift_grid_lanczos_ndNone_eomFalse_None": "cc8dda3eadd26637",
    "vshift_grid_lanczos_ndNone_eomFalse_shift": "cc8dda3eadd26637",
    "vshift_grid_lanczos_ndNone_eomTrue_None": "cc8dda3eadd26637",
    "vshift_grid_lanczos_ndNone_eomTrue_shift": "cc8dda3eadd26637",
    "vshift_grid_near_nd-9999.0_eomFalse_None": "fdce05cf7ef0ff19",
    "vshift_grid_near_nd-9999.0_eomFalse_shift": "2e071483f5655607",
    "vshift_grid_near_nd-9999.0_eomTrue_None": "9518df8772a0279c",
    "vshift_grid_near_nd-9999.0_eomTrue_shift": "811106a3c07bd700",
    "vshift_grid_near_ndNone_eomFalse_None": "c79a2349fbcc95bd",
    "vshift_grid_near_ndNone_eomFalse_shift": "ab2d361563ac82cd",
    "vshift_grid_near_ndNone_eomTrue_None": "c88dc6c69f99b36a",
    "vshift_grid_near_ndNone_eomTrue_shift": "165855877e083d44",
    "warp_aligned_average_nb1_f4_ag0": "7646685b93d803df",
    "warp_aligned_average_nb1_f4_ag4": "a12549a8661f9202",
    "warp_aligned_average_nb1_i2_ag0": "73ebd53d9d3e20bc",
    "warp_aligned_average_nb1_i2_ag4": "d5374ff424390c8b",
    "warp_aligned_average_nb1_u1_ag0": "f1bce64aad567503",
    "warp_aligned_average_nb1_u1_ag4": "136aeefb61d3a4f2",
    "warp_aligned_average_nb3_f4_ag0": "0a82cd92acc30c6a",
    "warp_aligned_average_nb3_f4_ag4": "549efff8e8ec1f04",
    "warp_aligned_average_nb3_i2_ag0": "cc1f42481e4e9700",
    "warp_aligned_average_nb3_i2_ag4": "d9c2bd65c708884e",
    "warp_aligned_average_nb3_u1_ag0": "2e6e14bdb23e7ca2",
    "warp_aligned_average_nb3_u1_ag4": "2048bd43ab9425d6",
    "warp_aligned_bilinear_nb1_f4_ag0": "de4d4478be6c5499",
    "warp_aligned_bilinear_nb1_f4_ag4": "de4d4478be6c5499",
    "warp_aligned_bilinear_nb1_i2_ag0": "77f97be46f779065",
    "warp_aligned_bilinear_nb1_i2_ag4": "296e6fa2c093c4e6",
    "warp_aligned_bilinear_nb1_u1_ag0": "6e809e5c60b6b033",
    "warp_aligned_bilinear_nb1_u1_ag4": "cf3b78802b37ecf0",
    "warp_aligned_bilinear_nb3_f4_ag0": "3f4f72b117dfcf1a",
    "warp_aligned_bilinear_nb3_f4_ag4": "3f4f72b117dfcf1a",
    "warp_aligned_bilinear_nb3_i2_ag0": "d4b6fd8d6478833f",
    "warp_aligned_bilinear_nb3_i2_ag4": "19c8d8c24a81e708",
    "warp_aligned_bilinear_nb3_u1_ag0": "50ac35e520ad99f7",
    "warp_aligned_bilinear_nb3_u1_ag4": "c24946e464b3839b",
    "warp_aligned_cubic_nb1_f4_ag0": "37b2f820eb28eda6",
    "warp_aligned_cubic_nb1_f4_ag4": "b931e2119105651b",
    "warp_aligned_cubic_nb1_i2_ag0": "5d16893f2b19790a",
    "warp_aligned_cubic_nb1_i2_ag4": "acd16d2418802d8b",
    "warp_aligned_cubic_nb1_u1_ag0": "f0b8ca0c5c6f1ca8",
    "warp_aligned_cubic_nb1_u1_ag4": "2c326b212819a51b",
    "warp_aligned_cubic_nb3_f4_ag0": "940af7344a36e1d1",
    "warp_aligned_cubic_nb3_f4_ag4": "76bef34ffa84a4df",
    "warp_aligned_cubic_nb3_i2_ag0": "eb87eb7b0cecd73b",
    "warp_aligned_cubic_nb3_i2_ag4": "9b657ac1121797a0",
    "warp_aligned_cubic_nb3_u1_ag0": "734be8a71604a0e5",
    "warp_aligned_cubic_nb3_u1_ag4": "fa8fc098a72c26a2",
    "warp_aligned_cubicspline_nb1_f4_ag0": "f51b22952ca935d2",
    "warp_aligned_cubicspline_nb1_f4_ag4": "f51b22952ca935d2",
    "warp_aligned_cubicspline_nb1_i2_ag0": "eac790d2b2711ac9",
    "warp_aligned_cubicspline_nb1_i2_ag4": "ba92e6531c4934c5",
    "warp_aligned_cubicspline_nb1_u1_ag0": "c2c7ccc17e6d0292",
    "warp_aligned_cubicspline_nb1_u1_ag4": "df134aee1495752b",
    "warp_aligned_cubicspline_nb3_f4_ag0": "857132066baa00e7",
    "warp_aligned_cubicspline_nb3_f4_ag4": "857132066baa00e7",
    "warp_aligned_cubicspline_nb3_i2_ag0": "1bf6550c31168868",
    "warp_aligned_cubicspline_nb3_i2_ag4": "72638a8e8b7b31ee",
    "warp_aligned_cubicspline_nb3_u1_ag0": "46222e0bf04a10be",
    "warp_aligned_cubicspline_nb3_u1_ag4": "417173b883be76f5",
    "warp_aligned_lanczos_nb1_f4_ag0": "ed95cce5b55e9b72",
    "warp_aligned_lanczos_nb1_f4_ag4": "ed95cce5b55e9b72",
    "warp_aligned_lanczos_nb1_i2_ag0": "0bc8595bf2712468",
    "warp_aligned_lanczos_nb1_i2_ag4": "0bc8595bf2712468",
    "warp_aligned_lanczos_nb1_u1_ag0": "5f46c8301472edd9",
    "warp_aligned_lanczos_nb1_u1_ag4": "5f46c8301472edd9",
    "warp_aligned_lanczos_nb3_f4_ag0": "0266bd586de2c5ea",
    "warp_aligned_lanczos_nb3_f4_ag4": "0266bd586de2c5ea",
    "warp_aligned_lanczos_nb3_i2_ag0": "d9c1de4cf15a9cb9",
    "warp_aligned_lanczos_nb3_i2_ag4": "d9c1de4cf15a9cb9",
    "warp_aligned_lanczos_nb3_u1_ag0": "51e34cc9c2e9892c",
    "warp_aligned_lanczos_nb3_u1_ag4": "51e34cc9c2e9892c",
    "warp_aligned_near_nb1_f4_ag0": "7646685b93d803df",
    "warp_aligned_near_nb1_f4_ag4": "a12549a8661f9202",
    "warp_aligned_near_nb1_i2_ag0": "73ebd53d9d3e20bc",
    "warp_aligned_near_nb1_i2_ag4": "d5374ff424390c8b",
    "warp_aligned_near_nb1_u1_ag0": "f1bce64aad567503",
    "warp_aligned_near_nb1_u1_ag4": "136aeefb61d3a4f2",
    "warp_aligned_near_nb3_f4_ag0": "0a82cd92acc30c6a",
    "warp_aligned_near_nb3_f4_ag4": "549efff8e8ec1f04",
    "warp_aligned_near_nb3_i2_ag0": "cc1f42481e4e9700",
    "warp_aligned_near_nb3_i2_ag4": "d9c2bd65c708884e",
    "warp_aligned_near_nb3_u1_ag0": "2e6e14bdb23e7ca2",
    "warp_aligned_near_nb3_u1_ag4": "2048bd43ab9425d6",
    "warp_cutline_average_nb1": "8263d174b545154d",
    "warp_cutline_average_nb3": "60cb9110d259b3f9",
    "warp_cutline_bilinear_nb1": "370a53afd3c80e47",
    "warp_cutline_bilinear_nb3": "ca14f71e28e67b36",
    "warp_cutline_cubic_nb1": "93a036c43781b4e2",
    "warp_cutline_cubic_nb3": "d348ff1a28cc8e63",
    "warp_cutline_cubicspline_nb1": "8407ec67a5875000",
    "warp_cutline_cubicspline_nb3": "cfac33a011aae319",
    "warp_cutline_lanczos_nb1": "62a8a77f25fa3816",
    "warp_cutline_lanczos_nb3": "ed6d3b829278db94",
    "warp_cutline_near_nb1": "8263d174b545154d",
    "warp_cutline_near_nb3": "60cb9110d259b3f9",
    "warp_merc_approx_average_nb1_f4": "7a94061cbfc866e8",
    "warp_merc_approx_average_nb1_i2": "91b73f478709e0cc",
    "warp_merc_approx_average_nb1_u1": "6467253ce1483f90",
    "warp_merc_approx_average_nb3_f4": "48493ffee9c7f445",
    "warp_merc_approx_average_nb3_i2": "499fa50119fe0100",
    "warp_merc_approx_average_nb3_u1": "14daca3d5d2db62e",
    "warp_merc_approx_bilinear_nb1_f4": "b0680838d5fc1ad1",
    "warp_merc_approx_bilinear_nb1_i2": "d932c57938b3af1d",
    "warp_merc_approx_bilinear_nb1_u1": "abde13a1ca73e8b9",
    "warp_merc_approx_bilinear_nb3_f4": "61ac14ee9d49d9ff",
    "warp_merc_approx_bilinear_nb3_i2": "e29cd43d288a99b9",
    "warp_merc_approx_bilinear_nb3_u1": "e353493133ae8336",
    "warp_merc_approx_cubic_nb1_f4": "253a0f54b6e51688",
    "warp_merc_approx_cubic_nb1_i2": "f13e86d1bec2ed9a",
    "warp_merc_approx_cubic_nb1_u1": "53386cc66d47b996",
    "warp_merc_approx_cubic_nb3_f4": "09cb4c177b0076ca",
    "warp_merc_approx_cubic_nb3_i2": "7aa52742ba79857e",
    "warp_merc_approx_cubic_nb3_u1": "d8b999622c690649",
    "warp_merc_approx_cubicspline_nb1_f4": "3d8d3c03e23004d6",
    "warp_merc_approx_cubicspline_nb1_i2": "aa7c262e784ec235",
    "warp_merc_approx_cubicspline_nb1_u1": "4097d2bf55139ba6",
    "warp_merc_approx_cubicspline_nb3_f4": "a25f3a8264c80d0a",
    "warp_merc_approx_cubicspline_nb3_i2": "b4fdc0598240b4d2",
    "warp_merc_approx_cubicspline_nb3_u1": "8b18aa55da602fab",
    "warp_merc_approx_lanczos_nb1_f4": "157d24134a94f563",
    "warp_merc_approx_lanczos_nb1_i2": "7db810d013ae7412",
    "warp_merc_approx_lanczos_nb1_u1": "bc144925ce6648a3",
    "warp_merc_approx_lanczos_nb3_f4": "032b5cae00fee1b4",
    "warp_merc_approx_lanczos_nb3_i2": "318c18b65cc8e571",
    "warp_merc_approx_lanczos_nb3_u1": "39806e30764ebd94",
    "warp_merc_approx_near_nb1_f4": "7a94061cbfc866e8",
    "warp_merc_approx_near_nb1_i2": "91b73f478709e0cc",
    "warp_merc_approx_near_nb1_u1": "6467253ce1483f90",
    "warp_merc_approx_near_nb3_f4": "48493ffee9c7f445",
    "warp_merc_approx_near_nb3_i2": "499fa50119fe0100",
    "warp_merc_approx_near_nb3_u1": "14daca3d5d2db62e",
    "warp_merc_exact_average_nb1_f4": "5ace477aeff40518",
    "warp_merc_exact_average_nb1_i2": "22ba9af6956464ba",
    "warp_merc_exact_average_nb1_u1": "329e1a4a804032f6",
    "warp_merc_exact_average_nb3_f4": "f150932acf20ee18",
    "warp_merc_exact_average_nb3_i2": "77e6fe9a0af6e8de",
    "warp_merc_exact_average_nb3_u1": "f14a2beddc181e55",
    "warp_merc_exact_bilinear_nb1_f4": "6f639265e99d5b74",
    "warp_merc_exact_bilinear_nb1_i2": "d4059a455ad6252f",
    "warp_merc_exact_bilinear_nb1_u1": "a799e2fa56a226a5",
    "warp_merc_exact_bilinear_nb3_f4": "9106d66c77f07b39",
    "warp_merc_exact_bilinear_nb3_i2": "5d26e82505ecfe07",
    "warp_merc_exact_bilinear_nb3_u1": "a67685268601b98a",
    "warp_merc_exact_cubic_nb1_f4": "0a54078bcb77e891",
    "warp_merc_exact_cubic_nb1_i2": "da7ea9acbb01478c",
    "warp_merc_exact_cubic_nb1_u1": "f5c8d70cdb4224cc",
    "warp_merc_exact_cubic_nb3_f4": "312a815bb5d18577",
    "warp_merc_exact_cubic_nb3_i2": "7d09c43879c328c0",
    "warp_merc_exact_cubic_nb3_u1": "3c9509adcabc9598",
    "warp_merc_exact_cubicspline_nb1_f4": "9be2c7c52f8ac531",
    "warp_merc_exact_cubicspline_nb1_i2": "28d8805b5e937771",
    "warp_merc_exact_cubicspline_nb1_u1": "50553ff72a3cbb94",
    "warp_merc_exact_cubicspline_nb3_f4": "b56edb9207e4e957",
    "warp_merc_exact_cubicspline_nb3_i2": "474df1714a565156",
    "warp_merc_exact_cubicspline_nb3_u1": "8b18aa55da602fab",
    "warp_merc_exact_lanczos_nb1_f4": "9cba3d449b282de4",
    "warp_merc_exact_lanczos_nb1_i2": "40750c6b6d2e7044",
    "warp_merc_exact_lanczos_nb1_u1": "bc144925ce6648a3",
    "warp_merc_exact_lanczos_nb3_f4": "f2a9ec51542503f4",
    "warp_merc_exact_lanczos_nb3_i2": "afeac1d60a043007",
    "warp_merc_exact_lanczos_nb3_u1": "537a94c1c6cdba0f",
    "warp_merc_exact_near_nb1_f4": "5ace477aeff40518",
    "warp_merc_exact_near_nb1_i2": "22ba9af6956464ba",
    "warp_merc_exact_near_nb1_u1": "329e1a4a804032f6",
    "warp_merc_exact_near_nb3_f4": "f150932acf20ee18",
    "warp_merc_exact_near_nb3_i2": "77e6fe9a0af6e8de",
    "warp_merc_exact_near_nb3_u1": "f14a2beddc181e55",
    "warp_nan_coords_bilinear": "cad13fa5b52b4002",
    "warp_nan_coords_cubic": "48dd231ea6d00036",
    "warp_nan_coords_near": "e90dd99dc22e0ffd",
    "warp_rot_approx_average_nb1_f4": "50abe034c07df209",
    "warp_rot_approx_average_nb1_i2": "74dfb6c54b50abfe",
    "warp_rot_approx_average_nb1_u1": "da7e2c662c8e9cef",
    "warp_rot_approx_average_nb3_f4": "64d370efbe670280",
    "warp_rot_approx_average_nb3_i2": "95d17c6d4180b785",
    "warp_rot_approx_average_nb3_u1": "93446642f6ded5a5",
    "warp_rot_approx_bilinear_nb1_f4": "14d68d3c88f20aec",
    "warp_rot_approx_bilinear_nb1_i2": "837b027a41fb7e63",
    "warp_rot_approx_bilinear_nb1_u1": "4d8098704d8f1a15",
    "warp_rot_approx_bilinear_nb3_f4": "1a1561a997404e06",
    "warp_rot_approx_bilinear_nb3_i2": "be5cec4df1360e12",
    "warp_rot_approx_bilinear_nb3_u1": "36a4ef0caa8e0880",
    "warp_rot_approx_cubic_nb1_f4": "1d9e33f21aa63a38",
    "warp_rot_approx_cubic_nb1_i2": "26ec4e07d93dc9c2",
    "warp_rot_approx_cubic_nb1_u1": "10b4279ab76266e5",
    "warp_rot_approx_cubic_nb3_f4": "024919a51be91f77",
    "warp_rot_approx_cubic_nb3_i2": "1c7eee54c0ef849f",
    "warp_rot_approx_cubic_nb3_u1": "0b38dce76b9d4b4b",
    "warp_rot_approx_cubicspline_nb1_f4": "106a292f89bbbae8",
    "warp_rot_approx_cubicspline_nb1_i2": "0362ebc118a357d7",
    "warp_rot_approx_cubicspline_nb1_u1": "7f9f1cbdfb427d1d",
    "warp_rot_approx_cubicspline_nb3_f4": "ff29ef6b9ff3e9b9",
    "warp_rot_approx_cubicspline_nb3_i2": "bb25c74425395bf3",
    "warp_rot_approx_cubicspline_nb3_u1": "5d71f1008864a4d8",
    "warp_rot_approx_lanczos_nb1_f4": "d196da95bfc652df",
    "warp_rot_approx_lanczos_nb1_i2": "50f56a78a81ecc33",
    "warp_rot_approx_lanczos_nb1_u1": "60e62a4e055ab46d",
    "warp_rot_approx_lanczos_nb3_f4": "d7c0e3dcb4edc26d",
    "warp_rot_approx_lanczos_nb3_i2": "5abee98c83c7120c",
    "warp_rot_approx_lanczos_nb3_u1": "8a5a143eb7e1afd4",
    "warp_rot_approx_near_nb1_f4": "50abe034c07df209",
    "warp_rot_approx_near_nb1_i2": "74dfb6c54b50abfe",
    "warp_rot_approx_near_nb1_u1": "da7e2c662c8e9cef",
    "warp_rot_approx_near_nb3_f4": "64d370efbe670280",
    "warp_rot_approx_near_nb3_i2": "95d17c6d4180b785",
    "warp_rot_approx_near_nb3_u1": "93446642f6ded5a5",
    "warp_rot_exact_average_nb1_f4": "50abe034c07df209",
    "warp_rot_exact_average_nb1_i2": "74dfb6c54b50abfe",
    "warp_rot_exact_average_nb1_u1": "da7e2c662c8e9cef",
    "warp_rot_exact_average_nb3_f4": "64d370efbe670280",
    "warp_rot_exact_average_nb3_i2": "95d17c6d4180b785",
    "warp_rot_exact_average_nb3_u1": "93446642f6ded5a5",
    "warp_rot_exact_bilinear_nb1_f4": "14d68d3c88f20aec",
    "warp_rot_exact_bilinear_nb1_i2": "764388191430f7a6",
    "warp_rot_exact_bilinear_nb1_u1": "bcd2d53ce77fe678",
    "warp_rot_exact_bilinear_nb3_f4": "1a1561a997404e06",
    "warp_rot_exact_bilinear_nb3_i2": "be5cec4df1360e12",
    "warp_rot_exact_bilinear_nb3_u1": "36a4ef0caa8e0880",
    "warp_rot_exact_cubic_nb1_f4": "1d9e33f21aa63a38",
    "warp_rot_exact_cubic_nb1_i2": "035d1f48a4286500",
    "warp_rot_exact_cubic_nb1_u1": "52f6a374f2feca07",
    "warp_rot_exact_cubic_nb3_f4": "024919a51be91f77",
    "warp_rot_exact_cubic_nb3_i2": "1c7eee54c0ef849f",
    "warp_rot_exact_cubic_nb3_u1": "0b38dce76b9d4b4b",
    "warp_rot_exact_cubicspline_nb1_f4": "106a292f89bbbae8",
    "warp_rot_exact_cubicspline_nb1_i2": "0362ebc118a357d7",
    "warp_rot_exact_cubicspline_nb1_u1": "7f9f1cbdfb427d1d",
    "warp_rot_exact_cubicspline_nb3_f4": "ff29ef6b9ff3e9b9",
    "warp_rot_exact_cubicspline_nb3_i2": "bb25c74425395bf3",
    "warp_rot_exact_cubicspline_nb3_u1": "5d71f1008864a4d8",
    "warp_rot_exact_lanczos_nb1_f4": "d196da95bfc652df",
    "warp_rot_exact_lanczos_nb1_i2": "50f56a78a81ecc33",
    "warp_rot_exact_lanczos_nb1_u1": "60e62a4e055ab46d",
    "warp_rot_exact_lanczos_nb3_f4": "d7c0e3dcb4edc26d",
    "warp_rot_exact_lanczos_nb3_i2": "5abee98c83c7120c",
    "warp_rot_exact_lanczos_nb3_u1": "8a5a143eb7e1afd4",
    "warp_rot_exact_near_nb1_f4": "50abe034c07df209",
    "warp_rot_exact_near_nb1_i2": "74dfb6c54b50abfe",
    "warp_rot_exact_near_nb1_u1": "da7e2c662c8e9cef",
    "warp_rot_exact_near_nb3_f4": "64d370efbe670280",
    "warp_rot_exact_near_nb3_i2": "95d17c6d4180b785",
    "warp_rot_exact_near_nb3_u1": "93446642f6ded5a5",
    "warp_unsupported_crs": "a091ef636bcfd610",
    "warp_utm_approx_average_nb1_f4": "094bb0f54044018c",
    "warp_utm_approx_average_nb1_i2": "d2aaedf70e7e0d39",
    "warp_utm_approx_average_nb1_u1": "e116bb69c559d7d9",
    "warp_utm_approx_average_nb3_f4": "43dcf9bac86dc4f0",
    "warp_utm_approx_average_nb3_i2": "eb6077526ba5efd7",
    "warp_utm_approx_average_nb3_u1": "21878644c4119c0c",
    "warp_utm_approx_bilinear_nb1_f4": "d7317c8f1bd0566f",
    "warp_utm_approx_bilinear_nb1_i2": "80bca2fb2b2b1281",
    "warp_utm_approx_bilinear_nb1_u1": "95ffc40033130e5a",
    "warp_utm_approx_bilinear_nb3_f4": "bb135e772bfbfed2",
    "warp_utm_approx_bilinear_nb3_i2": "ad9885d0f930ff23",
    "warp_utm_approx_bilinear_nb3_u1": "0955a2239a392bf0",
    "warp_utm_approx_cubic_nb1_f4": "23e2f60c007ee389",
    "warp_utm_approx_cubic_nb1_i2": "12e9b29a2603b3cb",
    "warp_utm_approx_cubic_nb1_u1": "3556f6391448b49d",
    "warp_utm_approx_cubic_nb3_f4": "9c47ef2ce4d0c55c",
    "warp_utm_approx_cubic_nb3_i2": "2d242bc9ebd4f425",
    "warp_utm_approx_cubic_nb3_u1": "92ef741fc410b926",
    "warp_utm_approx_cubicspline_nb1_f4": "5c64c8e367f390fd",
    "warp_utm_approx_cubicspline_nb1_i2": "23004d11bc4324fa",
    "warp_utm_approx_cubicspline_nb1_u1": "7f62c10bb7374c37",
    "warp_utm_approx_cubicspline_nb3_f4": "e341c2b57e39cc89",
    "warp_utm_approx_cubicspline_nb3_i2": "cd755678a67ed894",
    "warp_utm_approx_cubicspline_nb3_u1": "a097b3ae43b2d097",
    "warp_utm_approx_lanczos_nb1_f4": "5fbaf9704d128918",
    "warp_utm_approx_lanczos_nb1_i2": "26733b1b07326aba",
    "warp_utm_approx_lanczos_nb1_u1": "c3097e6d3920499d",
    "warp_utm_approx_lanczos_nb3_f4": "3c24da867f854e04",
    "warp_utm_approx_lanczos_nb3_i2": "8351dca8875f6703",
    "warp_utm_approx_lanczos_nb3_u1": "fd52398704db16a6",
    "warp_utm_approx_near_nb1_f4": "094bb0f54044018c",
    "warp_utm_approx_near_nb1_i2": "d2aaedf70e7e0d39",
    "warp_utm_approx_near_nb1_u1": "e116bb69c559d7d9",
    "warp_utm_approx_near_nb3_f4": "43dcf9bac86dc4f0",
    "warp_utm_approx_near_nb3_i2": "eb6077526ba5efd7",
    "warp_utm_approx_near_nb3_u1": "21878644c4119c0c",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_pinned_output(name):
    assert _digest(CASES[name]) == PINNED[name]


def test_every_case_is_pinned():
    assert sorted(PINNED) == sorted(CASES)


@pytest.mark.parametrize("method", ["near", "bilinear", "cubic", "lanczos"])
def test_gather_reads_nodata_at_nan_coords(method):
    a = _pix(4, 5, 1, "f4")
    fx = np.array([[np.nan, 1.0, 1e300]])
    fy = np.array([[1.0, np.nan, 2.0]])
    out, inside = K.gather(a, fx, fy, method, nodata=-9.0)
    assert not inside.any()
    np.testing.assert_array_equal(out, np.full((1, 3), -9.0, "f4"))
