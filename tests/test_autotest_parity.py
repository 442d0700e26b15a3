"""Exact-checksum parity with the reference's own autotest suites.

Each case reproduces a reference autotest (fixture file + options +
expected GDALChecksumImage value) end to end through THIS engine's
decoders and kernels: AAIGrid/TIFF decode -> kernel -> checksum port.
The expected values are the ones hard-coded in the reference autotests —
matching them is bit-level parity on the reference's own data.

Sources: autotest/alg/proximity.py, autotest/alg/sieve.py.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdal_spark.functions import checksum as CK
from gdal_spark.functions import tiff
from gdal_spark.raster.asciigrid import aaig_decode
from gdal_spark.raster import morph

ALG_DATA = "/root/reference/autotest/alg/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(ALG_DATA), reason="reference autotest data not present"
)


def _read_grd(name: str) -> np.ndarray:
    arr, _ = aaig_decode(
        open(os.path.join(ALG_DATA, name), "rb").read(), datatype="Float64"
    )
    return arr.astype(np.int32)


def _pat():
    arr, meta = tiff.tiff_parse(
        open(os.path.join(ALG_DATA, "pat.tif"), "rb").read()
    )
    return arr.astype(np.int32), meta


def _gdal_write_u8(f: np.ndarray) -> np.ndarray:
    """GDALCopyWord float->uint8: clamp then round half up."""
    return np.clip(np.floor(f.astype(np.float64) + 0.5), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# autotest/alg/proximity.py
# ---------------------------------------------------------------------------


def test_proximity_1_default():
    src, _ = _pat()
    out = morph.compute_proximity(src)
    assert CK.checksum(_gdal_write_u8(out)) == 1941


def test_proximity_2_fixed_buf_float_band():
    src, _ = _pat()
    out = morph.compute_proximity(
        src, values=[65, 64], max_dist=12, nodata=-1, fixed_buf_val=255
    )
    # dest band is GDT_Float32 in the autotest: checksum the float values
    assert CK.checksum(out) == 3256


def test_proximity_3_input_nodata():
    src, meta = _pat()
    assert meta["nodata"] == 255.0  # GDAL_NODATA tag round-trips
    out = morph.compute_proximity(
        src,
        values=[65, 64],
        max_dist=12,
        nodata=0,
        use_input_nodata=True,
        src_nodata=meta["nodata"],
    )
    assert CK.checksum(_gdal_write_u8(out)) == 1465


# ---------------------------------------------------------------------------
# autotest/alg/sieve.py
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "fname,threshold,connect,expected",
    [
        ("sieve_src.grd", 2, 4, 364),  # test_sieve_1
        ("sieve_src.grd", 2, 8, 370),  # test_sieve_2
        ("unmergeable.grd", 2, 8, 451),  # test_sieve_3
        ("sieve_2634.grd", 2, 4, 98),  # test_sieve_4
    ],
)
def test_sieve_grd_cases(fname, threshold, connect, expected):
    out = morph.sieve(_read_grd(fname), threshold, connect=connect)
    assert CK.checksum(out.astype(np.int32)) == expected


def test_sieve_6_diagonals():
    size = 102
    ar = np.zeros((size, size + 1), dtype=np.int32)
    for i in range(size):
        for j in range(size // 3):
            ar[i][size - 1 - i - 3 * j] = 255
            ar[i][size - i - 3 * j] = 255
        ar[i][0] = 255
    ar[size - 1] = 255
    out = morph.sieve(ar, 2, connect=4)
    assert CK.checksum(out) == 60955


def test_sieve_7_nodata_mask():
    grid = np.array(
        [
            [0, 0, 0, 0, 0, 0, 0],
            [0, 1, 1, 1, 1, 1, 1],
            [0, 1, 0, 0, 1, 1, 1],
            [0, 1, 0, 2, 2, 2, 1],
            [0, 1, 1, 2, 1, 2, 1],
            [0, 1, 1, 2, 2, 2, 1],
            [0, 1, 1, 1, 1, 1, 1],
        ],
        dtype=np.int32,
    )
    out = morph.sieve(grid, 4, connect=4, mask=grid != 0)
    assert CK.checksum(out) == 42


def test_sieve_8_chain_propagation():
    grid = np.array(
        [
            [0, 0, 0, 0, 0, 0, 0],
            [0, 5, 5, 0, 0, 0, 0],
            [0, 5, 2, 3, 4, 0, 0],
            [0, 0, 8, 1, 5, 0, 0],
            [0, 0, 7, 6, 5, 9, 0],
            [0, 0, 0, 0, 9, 9, 0],
            [0, 0, 0, 0, 0, 0, 0],
        ],
        dtype=np.int32,
    )
    out = morph.sieve(grid, 4, connect=4)
    assert CK.checksum(out) == 0  # everything merges into the 0 polygon


def test_sieve_all_masked_passthrough():
    src = np.ones((10, 10), dtype=np.int32)
    out = morph.sieve(src, 4, connect=4, mask=np.zeros((10, 10), dtype=bool))
    assert np.array_equal(out, src)


# ---------------------------------------------------------------------------
# autotest/alg/polygonize.py — feature count + DN multiset parity, with the
# distributed cross-tile merge exercised (tile=4 splits the 5x7 fixture)
# ---------------------------------------------------------------------------


def _polygonize_grd(spark, fname, connect=4, exclude=None, tile=4):
    from gdal_spark.raster import polygonize_ops as P

    arr = _read_grd(fname).astype(np.uint8)
    tiles = P.tiles_from_array(spark, arr, tile)
    return (
        P.polygonize(tiles, tile, connect=connect, exclude_value=exclude)
        .toPandas()
        .sort_values("region_id")
    )


def test_polygonize_1_masked(spark):
    out = _polygonize_grd(spark, "polygonize_in.grd", exclude=132)
    assert len(out) == 13
    assert sorted(out["cls"]) == sorted(
        [107, 123, 115, 115, 140, 148, 123, 140, 100, 101, 102, 156, 103]
    )
    # DN=156 polygon: 3x3 exterior with a 1px hole (area 8 px)
    dn156 = out[out["cls"] == 156]
    assert len(dn156) == 1
    assert float(dn156.iloc[0]["area"]) == 8.0


def test_polygonize_2_unmasked(spark):
    out = _polygonize_grd(spark, "polygonize_in.grd")
    assert len(out) == 17
    assert sorted(out["cls"]) == sorted(
        [107, 123, 115, 132, 115, 140, 132, 132, 148, 123, 140, 132,
         100, 101, 102, 156, 103]
    )


def test_polygonize_3_complex_loop(spark):
    out = _polygonize_grd(spark, "polygonize_in_2.grd")
    assert len(out) == 125


def test_polygonize_4_8connected(spark):
    out = _polygonize_grd(spark, "polygonize_in.grd", connect=8)
    assert len(out) == 16
    assert sorted(out["cls"]) == sorted(
        [107, 123, 115, 132, 115, 140, 132, 148, 123, 140, 132,
         100, 101, 102, 156, 103]
    )


def test_polygonize_5_touching_holes(spark):
    out = _polygonize_grd(spark, "polygonize_in_3.grd")
    assert len(out) == 3
    assert sorted(out["cls"]) == [0, 0, 1]
    areas = sorted(float(a) for a in out["area"])
    assert areas == [1.0, 1.0, 14.0]  # 4x4 minus two 1px holes


# ---------------------------------------------------------------------------
# autotest/alg/fillnodata.py — exact expected arrays
# ---------------------------------------------------------------------------

FILL_CASES = [
    # (input, max_search_dist, raster_nodata, option_nodata, expected, smooth)
    ([[1]], 1, 0, None, [[1]], 0),
    ([[0]], 1, 0, None, [[0]], 0),
    ([[1, 0]], 1, 0, None, [[1, 1]], 0),
    ([[0, 1]], 1, 0, None, [[1, 1]], 0),
    ([[2, 0, 4]], 1, 0, None, [[2, 3, 4]], 0),
    ([[2, 0, 0, 4]], 1, 0, None, [[2, 2, 4, 4]], 0),
    ([[1], [0]], 1, 0, None, [[1], [1]], 0),
    ([[0], [1]], 1, 0, None, [[1], [1]], 0),
    ([[2], [0], [4]], 1, 0, None, [[2], [3], [4]], 0),
    ([[2], [0], [0], [4]], 1, 0, None, [[2], [2], [4], [4]], 0),
    ([[2, 0, 4], [4, 0, 6], [6, 0, 8]], 1, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),
    ([[2, 3, 4], [0, 0, 0], [6, 7, 8]], 1, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),
    ([[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1, 0, None,
     [[2, 3, 4], [4, 0, 6], [6, 7, 8]], 0),
    ([[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1.5, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),  # 1.5 > sqrt(2): diagonals in
    ([[20, 30, 40], [50, 1, 60], [70, 80, 90]], 1, 1, 30,
     [[20, 30, 40], [50, 70, 60], [70, 80, 90]], 0),  # NODATA option
    ([[20, 30, 40, 50], [30, 0, 0, 60], [40, 0, 0, 70], [50, 60, 70, 80]],
     1, 0, None,
     [[20, 30, 40, 50], [30, 30, 50, 60], [40, 50, 70, 70], [50, 60, 70, 80]],
     0),
    ([[20, 30, 40, 50], [30, 0, 0, 60], [40, 0, 0, 70], [50, 60, 70, 80]],
     1, 0, None,
     [[20, 30, 40, 50], [30, 40, 50, 60], [40, 50, 60, 70], [50, 60, 70, 80]],
     1),  # one smoothing iteration
]


@pytest.mark.parametrize("case", range(len(FILL_CASES)))
def test_fillnodata_weighted(case):
    inp, maxd, rnod, onod, exp, smooth = FILL_CASES[case]
    a = np.array(inp, dtype=float)
    out = morph.fillnodata(
        a, a != rnod, max_search_dist=maxd,
        smoothing_iterations=smooth, nodata=onod,
    )
    assert np.allclose(out, np.array(exp, dtype=float), atol=1e-5)


FILL_NEAREST_CASES = [
    ([[20, 30, 40], [50, 0, 60], [70, 80, 90]], 1, 0, None,
     [[20, 30, 40], [50, 30, 60], [70, 80, 90]]),
    ([[20, 30, 40], [50, 1, 60], [70, 80, 90]], 1, 1, 30,
     [[20, 30, 40], [50, 80, 60], [70, 80, 90]]),
    ([[20, 30, 40], [50, 0, 60], [70, 80, 90]], 0.9, 0, None,
     [[20, 30, 40], [50, 0, 60], [70, 80, 90]]),
    ([[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90], [91, 92, 93, 94]],
     1, 0, None,
     [[20, 30, 40, 50], [60, 30, 40, 70], [80, 80, 93, 90], [91, 92, 93, 94]]),
    ([[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90], [91, 92, 93, 94]],
     0.9, 0, None,
     [[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90], [91, 92, 93, 94]]),
]


@pytest.mark.parametrize("case", range(len(FILL_NEAREST_CASES)))
def test_fillnodata_nearest(case):
    inp, maxd, rnod, onod, exp = FILL_NEAREST_CASES[case]
    a = np.array(inp, dtype=float)
    out = morph.fillnodata(
        a, a != rnod, max_search_dist=maxd, nearest=True, nodata=onod
    )
    assert np.allclose(out, np.array(exp, dtype=float), atol=1e-5)


# ---------------------------------------------------------------------------
# autotest/alg/rasterize.py — exact burn checksums
# ---------------------------------------------------------------------------

RAST_GT = (1000, 1, 0, 1100, 0, -1)


def test_rasterize_1_poly_plus_line():
    from gdal_spark.raster import kernels as K

    poly = np.array(
        [(1020, 1030), (1020, 1045), (1050, 1045), (1050, 1030), (1020, 1030)],
        dtype=float,
    )
    line = np.array([(1000, 1000), (1100, 1050)], dtype=float)
    mp = K.rasterize_rings([poly], 100, 100, gt=RAST_GT)
    ml = K.rasterize_line_mask(line, 100, 100, gt=RAST_GT)
    band2 = np.where(mp | ml, 220, 0).astype(np.uint8)
    assert CK.checksum(band2) == 6452
    # burn 256 clamps to 255 on uint8; burn -1 clamps to 0
    assert _gdal_write_u8(np.where(mp | ml, 256.0, 0.0)).max() == 255
    assert _gdal_write_u8(np.where(mp | ml, -1.0, 0.0)).min() == 0


def test_rasterize_2_all_touched():
    from gdal_spark.raster import kernels as K

    gt = (0, 1, 0, 12, 0, -1)
    polys = [  # data/cutline.csv
        [(6.25, 1.25), (7.25, 1.25), (7.25, 2.25), (6.25, 2.25), (6.25, 1.25)],
        [(4.25, 4.25), (6.25, 4.25), (6.25, 6.25), (4.25, 6.25), (4.25, 4.25)],
        [(1.001, 1.001), (3.999, 3.999), (3.2, 1.6), (1.001, 1.001)],
    ]
    m = np.zeros((12, 12), dtype=bool)
    for p in polys:
        m |= K.rasterize_rings_all_touched(
            [np.array(p, dtype=float)], 12, 12, gt=gt
        )
    assert CK.checksum(np.where(m, 220, 0).astype(np.uint8)) == 121


def test_rasterize_3_burn_value_from_z():
    from gdal_spark.raster import kernels as K

    burn = 10.0
    shapes = [
        ("poly", [[(1020, 1030, 40), (1020, 1045, 30), (1050, 1045, 20),
                   (1050, 1030, 35), (1020, 1030, 40)]]),
        ("poly", [[(1010, 1046, 85), (1015, 1055, 35), (1055, 1060, 26),
                   (1054, 1048, 35), (1010, 1046, 85)]]),
        ("poly", [[(1020, 1076, 190), (1025, 1085, 35), (1065, 1090, 26),
                   (1064, 1078, 35), (1020, 1076, 190)],
                  [(1023, 1079, 5), (1061, 1081, 35), (1062, 1087, 26),
                   (1028, 1082, 35), (1023, 1079, 85)]]),
        ("line", [(1005, 1000, 10), (1100, 1050, 120)]),
        ("line", [(1000, 1000, 150), (1095, 1050, -5), (1080, 1080, 200)]),
    ]
    out = np.zeros((100, 100), dtype=np.uint8)
    for kind, data in shapes:
        if kind == "poly":
            rings = [np.array([(p[0], p[1]) for p in ring], dtype=float)
                     for ring in data]
            m = K.rasterize_rings(rings, 100, 100, gt=RAST_GT)
            # filled polygons burn dfVariant[0]: the first exterior vertex Z
            v = burn + data[0][0][2]
            out = np.where(m, _gdal_write_u8(np.full((100, 100), v)), out)
        else:
            coords = np.array([(p[0], p[1]) for p in data], dtype=float)
            zs = np.array([p[2] for p in data], dtype=float)
            m, vals = K.rasterize_line_z(coords, zs, 100, 100, gt=RAST_GT)
            out = np.where(m, _gdal_write_u8(burn + vals), out)
    assert CK.checksum(out) == 15037


# ---------------------------------------------------------------------------
# autotest/alg/contour.py — envelope parity on its synthetic terraced
# fixture (nested squares 1/10/20/25), through the distributed
# halo-tile + cross-tile stitch path
# ---------------------------------------------------------------------------

CONTOUR_SIZE = 160
CONTOUR_PREC = 1.0 / CONTOUR_SIZE
CONTOUR_GT = (1.0, CONTOUR_PREC, 0.0, 50.0, 0.0, -CONTOUR_PREC)


def _contour_fixture() -> np.ndarray:
    arr = np.ones((CONTOUR_SIZE, CONTOUR_SIZE), dtype=np.float64)
    arr[40:120, 40:120] = 10
    arr[60:100, 60:100] = 20
    arr[70:90, 70:90] = 25
    return arr


def _contour_envelopes(spark, levels):
    from gdal_spark.functions import wkb as W
    from gdal_spark.raster import contour as C
    from gdal_spark.raster.kernels import gt_pixel_to_geo

    tiles = C.halo_tiles_from_array(spark, _contour_fixture(), 64)
    out = C.contour(tiles, 64, levels).toPandas().sort_values("level")
    envs = {}
    for _, r in out.iterrows():
        _, pts = W.parse(bytes(r["wkb"]))
        pts = np.asarray(pts)
        # contour vertices interpolate between pixel CENTERS: geo position
        # of node (px, py) is the center of that pixel
        gx, gy = gt_pixel_to_geo(CONTOUR_GT, pts[:, 0] + 0.5, pts[:, 1] + 0.5)
        envs[float(r["level"])] = (gx.min(), gx.max(), gy.min(), gy.max())
    return envs


def _assert_env(got, exp):
    tol = CONTOUR_PREC / 2 * 1.001  # the autotest's own tolerance
    for g, e in zip(got, exp):
        assert g == pytest.approx(e, abs=tol), (got, exp)


def test_contour_1_interval(spark):
    envs = _contour_envelopes(spark, [10.0, 20.0])
    assert sorted(envs) == [10.0, 20.0]
    _assert_env(envs[10.0], (1.25, 1.75, 49.25, 49.75))
    _assert_env(envs[20.0], (1.375, 1.625, 49.375, 49.625))


def test_contour_2_fixed_levels(spark):
    envs = _contour_envelopes(spark, [10.0, 20.0, 25.0])
    assert sorted(envs) == [10.0, 20.0, 25.0]
    _assert_env(envs[10.0], (1.25, 1.75, 49.25, 49.75))
    _assert_env(envs[20.0], (1.375, 1.625, 49.375, 49.625))
    _assert_env(envs[25.0], (1.4375, 1.5625, 49.4375, 49.5625))


# ---------------------------------------------------------------------------
# autotest/alg/dither.py — median-cut color table + dither checksum on the
# reference's own rgbsmall.tif (planar-config deflate TIFF)
# ---------------------------------------------------------------------------

GDRIVERS_DATA = "/root/reference/autotest/gdrivers/data"


@pytest.mark.skipif(
    not os.path.isdir(GDRIVERS_DATA), reason="gdrivers data not present"
)
def test_dither_1_median_cut_and_dither():
    from gdal_spark.raster import quantize as Q

    arr, _ = tiff.tiff_parse(
        open(os.path.join(GDRIVERS_DATA, "rgbsmall.tif"), "rb").read()
    )
    assert arr.shape == (50, 50, 3)
    # the engine's TIFF decoder reproduces GDAL's canonical band checksums
    assert CK.checksum_image(arr) == [21212, 21053, 21349]

    pal = Q.median_cut_pct_gdal(arr, 8)
    ref_ct = [
        (36, 48, 32), (92, 120, 20), (88, 96, 20), (92, 132, 56),
        (0, 0, 0), (96, 152, 24), (60, 112, 32), (164, 164, 108),
    ]
    assert pal.tolist() == [list(c) for c in ref_ct]  # entry-for-entry

    idx = Q.dither_rgb2pct_gdal(arr, pal)
    assert CK.checksum(idx.astype(np.int32)) == 8803


# ---------------------------------------------------------------------------
# autotest/gcore/tiff_ovr.py test 5 — AVERAGE overview with nodata
# ---------------------------------------------------------------------------

GCORE_DATA = "/root/reference/autotest/gcore/data"


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_tiff_ovr_5_average_nodata():
    from gdal_spark.raster import kernels as K

    arr, meta = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "nodata_byte.tif"), "rb").read()
    )
    assert meta["nodata"] == 0.0
    out = K.block_reduce(arr, 2, 2, "average", nodata=meta["nodata"])
    assert CK.checksum(out.astype(np.int32)) == 1130


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_gcore_byte_tif_checksum():
    """The canonical 20x20 byte.tif golden (autotest/gcore/algorithm.py)."""
    arr, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "byte.tif"), "rb").read()
    )
    assert CK.checksum(arr.astype(np.int32)) == 4672


# ---------------------------------------------------------------------------
# autotest/gcore/rasterio.py test 9 — RasterIO resampled-read checksums
# (scale-adjusted convolution + Gauss, this engine's resample_convolution
# and resample_gauss)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
@pytest.mark.parametrize(
    "out_sz,kernel,expected",
    [
        (10, "bilinear", 1211),
        (10, "lanczos", 1154),
        (10, "cubic", 1059),
        (5, "cubic", 214),  # >=8x8 source samples per dest sample
        (40, "cubic", 19556),  # supersampling
        (40, "cubicspline", 19041),
    ],
)
def test_rasterio_9_convolution(out_sz, kernel, expected):
    from gdal_spark.raster import kernels as K

    arr, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "byte.tif"), "rb").read()
    )
    # the 10x10 bilinear case reads into an Int16 buffer in the autotest;
    # values stay in byte range so the dtype only matters for clamping
    out = K.resample_convolution(arr.astype(np.int16), out_sz, out_sz, kernel)
    assert CK.checksum(out.astype(np.int32)) == expected


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_rasterio_9_gauss():
    from gdal_spark.raster import kernels as K

    arr, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "byte.tif"), "rb").read()
    )
    out = K.resample_gauss(arr, 10, 10)
    assert CK.checksum(out.astype(np.int32)) == 1089


# ---------------------------------------------------------------------------
# PNG decoder vs the reference's own RGBA fixture — cross-format oracle:
# stefan_full_rgba exists as BOTH .png (Adam7-interlaced RGBA) and .tif;
# decoding each with this engine's own codecs must agree bit-exactly.
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_png_adam7_rgba_cross_format():
    from gdal_spark.functions import codecs

    png = codecs.png_decode(
        open(os.path.join(GCORE_DATA, "stefan_full_rgba.png"), "rb").read()
    )
    tif, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "stefan_full_rgba.tif"), "rb").read()
    )
    assert png.shape == (150, 162, 4)
    assert np.array_equal(png, tif)
    assert CK.checksum_image(png) == [12603, 58561, 36064, 10807]


# ---------------------------------------------------------------------------
# autotest/alg/warp.py — upsampling warp vs the reference's golden rasters
# (utmsmall.tif 60m -> 500x500 @ 10m, all five GWK resamplers; the
# autotest gate is maxdiff <= 1 vs the stored reference outputs)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
@pytest.mark.parametrize(
    "kernel,golden",
    [
        ("near", "near"),
        ("bilinear", "blinear"),
        ("cubic", "cubic"),
        ("cubicspline", "cubicspline"),
        ("lanczos", "lanczos"),
    ],
)
def test_warp_1_to_5_goldens(kernel, golden):
    from gdal_spark.raster import kernels as K

    src, smeta = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "utmsmall.tif"), "rb").read()
    )
    sgt = smeta["geotransform"]
    dgt = (440720.0, 10.0, 0.0, 3751320.0, 0.0, -10.0)
    h = w = 500
    px = np.arange(w) + 0.5
    py = np.arange(h) + 0.5
    gx, gy = K.gt_pixel_to_geo(
        dgt, px[None, :].repeat(h, 0), py[:, None].repeat(w, 1)
    )
    sx, sy = K.gt_geo_to_pixel(sgt, gx, gy)
    if kernel == "near":
        got = src[
            np.clip(np.floor(sy).astype(int), 0, 99),
            np.clip(np.floor(sx).astype(int), 0, 99),
        ]
    elif kernel == "bilinear":
        got = K._bilinear_gather(src, sx - 0.5, sy - 0.5)
    else:
        got = K._kernel_gather(src, sx - 0.5, sy - 0.5, kernel)
    ref, _ = tiff.tiff_parse(
        open(
            os.path.join(ALG_DATA, f"utmsmall_{golden}.tiff"), "rb"
        ).read()
    )
    maxdiff = np.abs(got.astype(int) - ref.astype(int)).max()
    assert maxdiff <= 1  # the autotest's own gate


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
@pytest.mark.parametrize(
    "kernel,expected",
    [("near", 4770), ("bilinear", 4755), ("cubic", 4833)],
)
def test_warp_6_to_8_ds_checksums(kernel, expected):
    """autotest/alg/warp.py tests 6-8: 20x20 @50m warp windows with EXACT
    expected checksums. GDAL replays the decimal-rounded inverse
    geotransform stored in the VRT — using those exact doubles, this
    engine's GWK kernels reproduce the checksums bit-exactly."""
    from gdal_spark.raster import kernels as K

    src, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "utmsmall.tif"), "rb").read()
    )
    # <SrcInvGeoTransform> from data/utmsmall_ds_*.vrt
    inv = (-7345.333333333333, 0.01666666666666667, 0.0,
           62522.0, 0.0, -0.01666666666666667)
    dgt = (440720.0, 50.0, 0.0, 3751320.0, 0.0, -50.0)
    w = h = 20
    px = np.arange(w) + 0.5
    py = np.arange(h) + 0.5
    gx, gy = K.gt_pixel_to_geo(
        dgt, px[None, :].repeat(h, 0), py[:, None].repeat(w, 1)
    )
    sx = inv[0] + gx * inv[1] + gy * inv[2]
    sy = inv[3] + gx * inv[4] + gy * inv[5]
    if kernel == "near":
        got = src[
            np.clip(np.floor(sy).astype(int), 0, 99),
            np.clip(np.floor(sx).astype(int), 0, 99),
        ]
    elif kernel == "bilinear":
        got = K._bilinear_gather(src, sx - 0.5, sy - 0.5)
    else:
        got = K._kernel_gather(src, sx - 0.5, sy - 0.5, kernel)
    assert CK.checksum(got.astype(np.int32)) == expected


# ---------------------------------------------------------------------------
# Codec parity vs reference gdrivers fixtures: GIF index band, PNM, TGA
# ---------------------------------------------------------------------------

GDR = "/root/reference/autotest/gdrivers/data"


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_gif_bug407_index_checksum():
    from gdal_spark.functions import morefmts

    idx = morefmts.gif_decode(
        open(os.path.join(GDR, "gif/bug407.gif"), "rb").read(),
        expand_palette=False,
    )
    # GDAL's GIF driver exposes the palette INDEX band (gdrivers/gif.py)
    assert CK.checksum(idx.astype(np.int32)) == 57921


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_pnm_checksums():
    from gdal_spark.functions import morefmts

    pgm = morefmts.pnm_decode(
        open(os.path.join(GDR, "pnm/byte.pgm"), "rb").read()
    )
    assert CK.checksum_image(pgm)[0] == 4672
    ppm = morefmts.pnm_decode(
        open(os.path.join(GDR, "pnm/rgbsmall.ppm"), "rb").read()
    )
    assert CK.checksum_image(ppm)[1] == 21053


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_tga_rgba_checksums():
    from gdal_spark.functions import morefmts

    a = morefmts.tga_decode(
        open(os.path.join(GDR, "tga/stefan_full_rgba.tga"), "rb").read()
    )
    assert a.shape == (150, 162, 4)
    assert CK.checksum_image(a) == [12603, 58561, 36064, 10807]


# ---------------------------------------------------------------------------
# JPEG: bit-exact libjpeg decode (autotest/gdrivers/jpeg.py test 1 pins
# band 2 of albania.jpg; 17016 is the canonical libjpeg/libjpeg-turbo
# value — the 34296/34298 alternatives are the 8/9b IDCT variants)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_jpeg_1_albania_band2():
    from gdal_spark.functions import jpeg as J

    arr = J.jpeg_decode(
        open(os.path.join(GDR, "jpeg/albania.jpg"), "rb").read()
    )
    assert arr.shape == (260, 361, 3)
    # exact jpeg_idct_islow + h2v2 fancy upsampling + integer YCbCr->RGB
    assert CK.checksum_image(arr)[1] == 17016


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_jpeg_8_cmyk_as_rgb():
    from gdal_spark.functions import jpeg as J

    arr = J.jpeg_decode(
        open(os.path.join(GDR, "jpeg/rgb_ntf_cmyk.jpg"), "rb").read()
    )
    # Adobe CMYK read as RGB: R=C*K/255 (jpgdataset.cpp) — exact checksums
    assert CK.checksum_image(arr) == [20385, 20865, 19441]


# ---------------------------------------------------------------------------
# gcore/tiff_read.py — sample-type matrix (the same 20x20 image stored as
# every numeric type checksums to 4672), libtiff LZW early-change, TIFF
# Technote-3 floating-point predictor, and the #1179 partial-final-tile
# cases (both planar configs, strip and tiled)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
@pytest.mark.parametrize(
    "fname",
    ["byte.tif", "int16.tif", "uint16.tif", "int32.tif", "uint32.tif",
     "float32.tif", "float64.tif",
     "gtiff/float32_lzw_predictor_3_big_endian.tif"],
)
def test_tiff_read_type_matrix(fname):
    arr, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, fname), "rb").read()
    )
    assert CK.checksum(arr if arr.ndim == 2 else arr[:, :, 0]) == 4672


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
@pytest.mark.parametrize(
    "fname",
    ["separate_tiled.tif", "seperate_strip.tif",
     "contig_tiled.tif", "contig_strip.tif"],
)
def test_tiff_read_partial_final_chunks(fname):
    arr, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, fname), "rb").read()
    )
    assert CK.checksum_image(arr)[1] == 15234


# ---------------------------------------------------------------------------
# autotest/utilities/test_gdaldem_lib.py — exact checksums on the n43 DEM
# (int16 DTED-derived GeoTIFF; gdaldem defaults leave a 1-px nodata border)
# ---------------------------------------------------------------------------

N43 = os.path.join(GDR, "n43.tif")
DEM_SCALE = 111120.0


def _n43():
    arr, meta = tiff.tiff_parse(open(N43, "rb").read())
    return arr.astype(np.float64), meta["geotransform"]


def _u8_border0(a):
    o = a.copy()
    o[0, :] = 0
    o[-1, :] = 0
    o[:, 0] = 0
    o[:, -1] = 0
    return o.astype(np.int32)


def _f32_border(a, nod=-9999.0):
    o = a.astype(np.float64).copy()
    o[0, :] = nod
    o[-1, :] = nod
    o[:, 0] = nod
    o[:, -1] = nod
    return o.astype(np.float32)


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
@pytest.mark.parametrize(
    "kwargs,expected",
    [
        (dict(), 45587),  # hillshade -s 111120 -z 30
        (dict(variant="combined"), 43876),
        (dict(alg="zevenbergen-thorne"), 46544),
        (dict(alg="zevenbergen-thorne", variant="combined"), 43112),
    ],
)
def test_gdaldem_hillshade_checksums(kwargs, expected):
    from gdal_spark.raster import kernels as K

    dem, gt = _n43()
    hs = K.hillshade_ex(
        dem, xres=gt[1] * DEM_SCALE, yres=-gt[5] * DEM_SCALE, zfactor=30,
        **kwargs,
    )
    assert CK.checksum(_u8_border0(hs)) == expected


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_gdaldem_slope_zt_checksum():
    from gdal_spark.raster import kernels as K

    dem, gt = _n43()
    x, y = K._gdal_gradient(
        dem, gt[1] * DEM_SCALE, -gt[5] * DEM_SCALE, "zevenbergen-thorne"
    )
    slope = np.degrees(np.arctan(np.sqrt(x * x + y * y)))
    assert CK.checksum(_f32_border(slope)) == 64393


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_gdaldem_aspect_zt_checksum():
    from gdal_spark.raster import kernels as K

    dem, _ = _n43()
    az = K.aspect_deg(dem * 30, alg="zevenbergen-thorne")
    assert CK.checksum(_f32_border(az)) == 50539


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
@pytest.mark.parametrize(
    "fn_name,kwargs,expected",
    [
        ("tpi", {}, 60504),
        ("tri", {"alg": "wilson"}, 61143),
        ("tri", {}, 41233),  # Riley default
        ("roughness", {}, 38624),
    ],
)
def test_gdaldem_metrics_checksums(fn_name, kwargs, expected):
    from gdal_spark.raster import kernels as K

    dem, _ = _n43()
    out = getattr(K, fn_name)(dem, **kwargs)
    assert CK.checksum(_f32_border(out)) == expected


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_gdaldem_color_relief_checksums():
    from gdal_spark.raster import kernels as K

    dem, _ = _n43()
    # autotest/utilities/data/color_file.txt
    table = [
        (500, 255, 255, 255), (450, 235, 220, 175), (300, 190, 185, 135),
        (150, 240, 250, 150), (76, 50, 180, 50), (75, 200, 230, 255),
        (-32768, 200, 230, 255),
    ]
    rgb = K.color_relief(dem, table)
    assert CK.checksum_image(rgb) == [55066, 37594, 47768]


# ---------------------------------------------------------------------------
# autotest/utilities/test_gdal_grid_lib.py — per-quadrant grid constraints
# (exact expected node values; node = grid center, shift cancels)
# ---------------------------------------------------------------------------

_G5 = [(0.5, 0.5, 10), (-0.5, 0.5, 10), (-0.5, -0.5, 10), (0.5, -0.5, 10),
       (1, 0, 1e8)]


def _gpts(rows):
    a = np.array(rows, dtype=float)
    return a[:, 0], a[:, 1], a[:, 2]


def test_gdal_grid_invdist_quadrant_cases():
    from gdal_spark.functions import gridalgs as GA

    px, py, pz = _gpts(_G5)
    power = 1.5
    v = GA.invdist_quadrant(
        px, py, pz, 0, 0, power=power, smoothing=1e-15, radius=2,
        max_points=10, min_points=4, min_points_per_quadrant=1,
        max_points_per_quadrant=2,
    )
    d1 = (0.5**2 + 0.5**2) ** (power / 2)
    exp = (4 * 10 / d1 + 1e8) / (4 / d1 + 1)
    assert v == pytest.approx(exp, rel=1e-12)

    px4, py4, pz4 = _gpts(_G5[:4])
    assert GA.invdist_quadrant(
        px4, py4, pz4, 0, 0, radius=0.7, min_points_per_quadrant=1
    ) == 0.0  # radius must exceed sqrt(2)
    assert GA.invdist_quadrant(
        px4, py4, pz4, 0, 0, radius=1, min_points_per_quadrant=1, min_points=5
    ) == 0.0
    px3, py3, pz3 = _gpts(_G5[:3])
    assert GA.invdist_quadrant(
        px3, py3, pz3, 0, 0, radius=0.8, min_points_per_quadrant=1
    ) == 0.0  # one empty quadrant
    # the far heavy point is excluded by both cap styles
    assert GA.invdist_quadrant(
        px, py, pz, 0, 0, radius=2, min_points_per_quadrant=1,
        max_points=0, max_points_per_quadrant=1,
    ) == 10.0
    assert GA.invdist_quadrant(
        px, py, pz, 0, 0, radius=2, min_points_per_quadrant=1, max_points=4
    ) == 10.0


def test_gdal_grid_average_quadrant_cases():
    from gdal_spark.functions import gridalgs as GA

    rows = [(0.5, 0.5, 10), (-0.5, 0.5, 10), (-0.5, -0.5, 10),
            (0.5, -0.5, 10), (1, 0, 100)]
    px, py, pz = _gpts(rows)
    assert GA.average_quadrant(
        px, py, pz, 0, 0, radius=2, max_points=10, min_points=4,
        min_points_per_quadrant=1, max_points_per_quadrant=2,
    ) == pytest.approx((4 * 10 + 100) / 5)
    px4, py4, pz4 = _gpts(rows[:4])
    assert GA.average_quadrant(
        px4, py4, pz4, 0, 0, radius=0.7, min_points_per_quadrant=1
    ) == 0.0
    assert GA.average_quadrant(
        px4, py4, pz4, 0, 0, radius=1, min_points_per_quadrant=1, min_points=5
    ) == 0.0
    px3, py3, pz3 = _gpts(rows[:3])
    assert GA.average_quadrant(
        px3, py3, pz3, 0, 0, radius=0.8, min_points_per_quadrant=1
    ) == 0.0


# ---------------------------------------------------------------------------
# autotest/utilities/test_gdal_translate_lib.py — outsize/srcwin checksums
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_gdal_translate_outsize_srcwin():
    from gdal_spark.raster import kernels as K

    byte, _ = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "byte.tif"), "rb").read()
    )
    assert CK.checksum(byte.astype(np.int32)) == 4672
    # -outsize 40 40 (default nearest): test 6/7
    assert CK.checksum(
        K.resample_nearest(byte, 40, 40).astype(np.int32)
    ) == 18784
    # -srcwin 0 0 1 1
    assert CK.checksum(byte[:1, :1].astype(np.int32)) == 2
    # -outsize 1 1
    assert CK.checksum(
        K.resample_nearest(byte, 1, 1).astype(np.int32)
    ) == 3


@pytest.mark.skipif(
    not os.path.isdir(GCORE_DATA), reason="gcore data not present"
)
def test_gdalwarp_cutline_checksum():
    """autotest/utilities/test_gdalwarp_lib.py cutline tests: identity
    warp of utmsmall.tif masked by the data/cutline.csv rectangle."""
    from gdal_spark.raster import kernels as K

    src, meta = tiff.tiff_parse(
        open(os.path.join(GCORE_DATA, "utmsmall.tif"), "rb").read()
    )
    gt = meta["geotransform"]
    ring = np.array(
        [(445125, 3748212), (442222, 3748212), (442222, 3750366),
         (445125, 3750366), (445125, 3748212)],
        dtype=float,
    )
    mask = K.rasterize_rings([ring], src.shape[0], src.shape[1], gt=gt)
    assert CK.checksum(np.where(mask, src, 0).astype(np.int32)) == 19139


# ---------------------------------------------------------------------------
# autotest/utilities/test_gdal_rasterize_lib.py — the multipolygon ==
# sum-of-parts property (the inverse-mode case depends on GEOS difference
# noding at one hole boundary row and is not reproduced here)
# ---------------------------------------------------------------------------


def test_gdal_rasterize_multipolygon_equals_parts():
    from gdal_spark.functions import checksum as CK
    from gdal_spark.raster import kernels as K

    gt = (-0.5, 1, 0, 1.5, 0, -1)
    tri1 = np.array([(0, 0), (0, 1), (1, 1), (0, 0)], dtype=float)
    tri2 = np.array([(1, 1), (2, 1), (2, 0), (1, 1)], dtype=float)
    multi = K.rasterize_rings([tri1], 2, 3, gt=gt) | K.rasterize_rings(
        [tri2], 2, 3, gt=gt
    )
    parts = K.rasterize_rings([tri1], 2, 3, gt=gt) | K.rasterize_rings(
        [tri2], 2, 3, gt=gt
    )
    assert CK.checksum(np.where(multi, 10, 0).astype(np.int32)) == CK.checksum(
        np.where(parts, 10, 0).astype(np.int32)
    )


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
@pytest.mark.parametrize(
    "kwargs,expected",
    [
        (dict(), 50239),  # standard hillshade, compute_edges
        (dict(variant="multidirectional"), 51784),
        (dict(variant="multidirectional", alg="zevenbergen-thorne"), 50860),
        (dict(variant="igor"), 48830),
        (dict(variant="igor", alg="zevenbergen-thorne"), 49014),
    ],
)
def test_gdaldem_hillshade_compute_edges(kwargs, expected):
    """-compute_edges cases: edge windows extrapolate (INTERPOL = 2a-b)."""
    from gdal_spark.raster import kernels as K

    dem, gt = _n43()
    hs = K.hillshade_ex(
        dem, xres=gt[1] * DEM_SCALE, yres=-gt[5] * DEM_SCALE, zfactor=30,
        compute_edges=True, **kwargs,
    )
    assert CK.checksum(hs.astype(np.int32)) == expected


@pytest.mark.skipif(not os.path.isdir(GDR), reason="gdrivers data absent")
def test_gdaldem_color_relief_selection_modes():
    from gdal_spark.raster import kernels as K

    dem, _ = _n43()
    table = [
        (500, 255, 255, 255), (450, 235, 220, 175), (300, 190, 185, 135),
        (150, 240, 250, 150), (76, 50, 180, 50), (75, 200, 230, 255),
        (-32768, 200, 230, 255),
    ]
    near = K.color_relief(dem, table, mode="nearest")
    assert CK.checksum_image(near)[0] == 57296
    exact = K.color_relief(dem, table, mode="exact")
    assert CK.checksum_image(exact)[0] == 8073


def test_nearblack_lib_checksums():
    """autotest/utilities/test_nearblack_lib.py tests 1-2 on the
    reference's own rgbsmall.tif: cleaned band checksums 21106/20736/
    21309 and the setAlpha collar band 22002, for BOTH algorithms
    (scan == twopasses, floodfill)."""
    import numpy as np

    from gdal_spark.functions.checksum import checksum
    from gdal_spark.functions.tiff import tiff_decode
    from gdal_spark.raster.toolbox import clean_collar

    with open(os.path.join(GDR, "rgbsmall.tif"), "rb") as fh:
        arr = tiff_decode(fh.read())
    for alg in ("scan", "floodfill"):
        cleaned, mask = clean_collar(arr, color=(0, 0, 0), threshold=15,
                                     algorithm=alg)
        assert [int(checksum(cleaned[:, :, b])) for b in range(3)] == [
            21106, 20736, 21309,
        ], alg
        alpha = np.where(mask, 0, 255).astype(np.uint8)
        assert int(checksum(alpha)) == 22002, alg
