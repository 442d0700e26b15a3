"""gdal2tiles (legacy) pipeline parity vs the reference's own
autotest/pyscripts/test_gdal2tiles.py expectations, on the reference's own
small_world.tif, through this engine's TIFF decoder and tile kernels.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdal_spark.functions import mercator
from gdal_spark.functions.checksum import checksum_image
from gdal_spark.tiles import g2t

SMALL_WORLD = "/root/reference/autotest/gdrivers/data/small_world.tif"


@pytest.fixture(scope="module")
def world():
    if not os.path.exists(SMALL_WORLD):
        pytest.skip("reference data absent")
    from gdal_spark.functions.tiff import tiff_parse

    arr, md = tiff_parse(open(SMALL_WORLD, "rb").read())
    return arr, md["geotransform"]


def test_profile_raster_parity(world):
    """test_gdal2tiles_py_profile_raster (legacy): z1 base 1/0/0 and z0
    overview checksums, including the mask-band alpha over the padded
    region and the TMS row flip."""
    arr, gt = world
    tiles = g2t.gdal2tiles_raster(arr, gt, tminz=0, tmaxz=1)
    assert checksum_image(tiles[(1, 0, 0)]) == [62125, 59756, 43894, 38539]
    assert checksum_image(tiles[(0, 0, 0)]) == [10125, 10802, 27343, 48852]


def test_profile_raster_oversample_parity(world):
    """test_gdal2tiles_py_profile_raster_oversample: -z 0-2 with tmaxz above
    the native zoom tiles from a 2x oversampled source (translate -r
    average upsample == pixel duplication at ratio 1/2)."""
    arr, gt = world
    ov = np.repeat(np.repeat(arr, 2, axis=0), 2, axis=1)
    gt2 = (gt[0], gt[1] / 2, 0.0, gt[3], 0.0, gt[5] / 2)
    tiles = g2t.gdal2tiles_raster(ov, gt2, tminz=0, tmaxz=2)
    # the autotest accepts two variants (libpng icc differences); this
    # engine reproduces the non-icc one exactly
    assert checksum_image(tiles[(2, 0, 0)]) in (
        [51434, 55441, 63427, 17849], [51193, 55320, 63324, 17849],
    )
    assert checksum_image(tiles[(2, 3, 1)]) in (
        [44685, 45074, 50871, 56563], [44643, 45116, 50863, 56563],
    )


def test_profile_geodetic_parity(world):
    """test_gdal2tiles_py_profile_geodetic_tmscompatible_xyz (legacy):
    xyz 1/0/0 == TMS (1, 0, 1) and xyz 0/0/0 == TMS (0, 0, 0)."""
    arr, gt = world
    tiles = g2t.gdal2tiles_geodetic(arr, gt, tminz=0, tmaxz=1)
    assert checksum_image(tiles[(1, 0, 1)]) == [2799, 3468, 8686, 17849]
    assert checksum_image(tiles[(0, 0, 0)]) == [8560, 8031, 7209, 17849]


def test_mercator_pipeline_exact(world):
    """Mercator profile, BIT-EXACT vs the reference's own expected
    checksums: test_gdal2tiles_py_simple legacy z0 [31420, 32522, 16314,
    17849] and test_gdal2tiles_py_zoom_option legacy 1/0/0 [24063,
    23632, 14707, 17849]."""
    arr, gt = world
    tiles = g2t.gdal2tiles_mercator(arr, gt)
    assert set(tiles) == {(0, 0, 0)}  # tminz == tmaxz == 0 for small_world
    assert checksum_image(tiles[(0, 0, 0)]) == [31420, 32522, 16314, 17849]
    t2 = g2t.gdal2tiles_mercator(arr, gt, tminz=0, tmaxz=1)
    assert set(t2) == {(0, 0, 0), (1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)}
    assert checksum_image(t2[(1, 0, 0)]) == [24063, 23632, 14707, 17849]
    for k in t2:
        assert checksum_image(t2[k])[3] == 17849


def test_suggested_warp_output_small_world(world):
    """GDALSuggestedWarpOutput transcription: grid sampling falls back when
    the poles fail, bounds stop at the 81-degree sample row, diagonal
    pixel size. The -te path does NOT use this (see below)."""
    _, gt = world
    sug_gt, w, h = g2t.suggested_warp_output(gt, 400, 200)
    assert (w, h) == (348, 281)
    assert sug_gt[1] == pytest.approx(115272.64078232402)
    assert sug_gt[3] == pytest.approx(16213801.067583967)  # webmerc(81 deg)


def test_warp_output_for_bounds_known_extent_res(world):
    """bKnownTargetExtentButNotResolution sizing, pinned against two of
    the reference's own expectations: small_world 4326->3857 = 388x388
    with psx 103286.12547829507 (test_gdalwarp_lib_full_world_4326_to_
    3857) and the 10x10 36.01-degree case = 13x13 with psx
    3082693.591198345 (gdal2tiles/test_reproject_dataset.py)."""
    _, gt = world
    M = mercator.ORIGIN_SHIFT
    te_gt, tw, th = g2t.warp_output_for_bounds(gt, 400, 200, (-M, -M, M, M))
    assert (tw, th) == (388, 388)
    assert te_gt[1] == pytest.approx(103286.12547829507, abs=1e-6)

    gt10 = (-180, 36.01, 0, 90, 0, -18)
    te_gt2, tw2, th2 = g2t.warp_output_for_bounds(
        gt10, 10, 10, (-M, -M, M, M))
    assert (tw2, th2) == (13, 13)
    assert te_gt2[1] == pytest.approx(3082693.591198345, abs=1e-6)


def test_approx_transformer_subdivides():
    """GDALApproxTransformInternal: a deliberately nonlinear transform must
    subdivide until the 0.125px error bound holds; a linear transform must
    interpolate from 3 exact points only."""
    calls = []

    def exact_nonlinear(x, y):
        calls.append(len(x))
        return x + 0.01 * (x - 500.0) ** 2 / 500.0, y * 1.0, np.ones(
            len(x), bool
        )

    xs = np.arange(1000, dtype=np.float64) + 0.5
    ys = np.full(1000, 7.5)
    ax, ay, ok = g2t.approx_transform(xs, ys, exact_nonlinear)
    ex, ey, _ = exact_nonlinear(xs, ys)
    assert ok.all()
    assert np.abs(ax - ex).max() <= 0.125 + 1e-9

    calls.clear()

    def exact_linear(x, y):
        calls.append(len(x))
        return 2 * x + 1, y, np.ones(len(x), bool)

    ax, ay, ok = g2t.approx_transform(xs, ys, exact_linear)
    assert calls == [3]  # SME only
    assert np.allclose(ax, 2 * xs + 1)


def test_webmerc_roundtrip():
    lon = np.linspace(-179.9, 179.9, 41)
    lat = np.linspace(-85.0, 85.0, 41)
    x, y, ok = g2t.webmerc_fwd(lon, lat)
    assert ok.all()
    lon2, lat2 = g2t.webmerc_inv(x, y)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    _, _, ok90 = g2t.webmerc_fwd(np.array([0.0]), np.array([90.0]))
    assert not ok90[0]
