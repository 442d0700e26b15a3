"""`gdal raster update` parity (apps/gdalalg_raster_update.cpp):
window-limited warp-into-existing, nodata no-overwrite, cutline clip,
and bbox-limited overview refresh (overview_refresh.cpp semantics:
cells outside the updated bbox stay stale)."""

import numpy as np
import pytest

from gdal_spark.functions import wkb as W
from gdal_spark.raster.kernels import block_reduce
from gdal_spark.raster.update import refresh_overviews, update_raster

DST_GT = [100.0, 1.0, 0.0, 50.0, 0.0, -1.0]  # 16x16, cell size 1


def _dst():
    return (np.arange(256).reshape(16, 16) % 97).astype(np.uint8)


def test_update_window_paste():
    dst = _dst()
    src = np.full((4, 4), 200, np.uint8)
    # src covers dst pixels [4:8) x [6:10): same resolution, offset
    src_gt = [106.0, 1.0, 0.0, 46.0, 0.0, -1.0]
    out, win = update_raster(dst, DST_GT, src, src_gt)
    assert win == (6, 4, 10, 8)
    assert np.all(out[4:8, 6:10] == 200)
    mask = np.ones_like(dst, bool)
    mask[4:8, 6:10] = False
    assert np.array_equal(out[mask], dst[mask])


def test_update_nodata_never_overwrites():
    dst = _dst()
    src = np.full((4, 4), 200, np.uint8)
    src[1, 1] = 0
    src_gt = [106.0, 1.0, 0.0, 46.0, 0.0, -1.0]
    out, _ = update_raster(dst, DST_GT, src, src_gt, src_nodata=0)
    assert out[5, 7] == dst[5, 7]  # the nodata cell kept the old value
    assert out[4, 6] == 200


def test_update_cutline():
    dst = _dst()
    src = np.full((8, 8), 111, np.uint8)
    src_gt = [104.0, 1.0, 0.0, 48.0, 0.0, -1.0]
    # clip polygon covering only the left half of the source extent
    ring = np.array(
        [[104.0, 40.0], [108.0, 40.0], [108.0, 48.0], [104.0, 48.0]]
    )
    cut = W.write_polygon([ring])
    out, _ = update_raster(dst, DST_GT, src, src_gt, cutline_wkb=cut)
    assert np.all(out[2:10, 4:8] == 111)
    assert np.array_equal(out[2:10, 8:12], dst[2:10, 8:12])


def test_update_upscale_bilinear():
    dst = np.zeros((16, 16), np.float64)
    # 2x2 source at half resolution over dst pixels [0:4)x[0:4)
    src = np.array([[0.0, 10.0], [20.0, 30.0]])
    src_gt = [100.0, 2.0, 0.0, 50.0, 0.0, -2.0]
    out, win = update_raster(dst, DST_GT, src, src_gt, resample="bilinear")
    assert win == (0, 0, 4, 4)
    # dst (1,1) center -> src px (0.75, 0.75): fx=fy=0.25 bilinear = 7.5
    assert out[1, 1] == 7.5
    # dst (2,2) center -> src px (1.25, 1.25): fx=fy=0.75 bilinear = 22.5
    assert out[2, 2] == 22.5
    # corner pixel samples the first source cell exactly
    assert out[0, 0] == 0.0 * 0.75 * 0.75 + 10 * 0.0  # clamped corner
    assert np.all(out[4:, :] == 0.0) and np.all(out[:, 4:] == 0.0)


def test_refresh_overviews_bbox_only():
    dst = _dst()
    src = np.full((4, 4), 200, np.uint8)
    src_gt = [106.0, 1.0, 0.0, 46.0, 0.0, -1.0]
    stale = block_reduce(_dst().astype(np.float64), 2, 2, "average")
    stale = np.round(stale).astype(np.uint8)
    out, win = update_raster(dst, DST_GT, src, src_gt)
    fresh = refresh_overviews(out, [stale.copy()], win)[0]
    want_full = np.round(
        block_reduce(out.astype(np.float64), 2, 2, "average")
    ).astype(np.uint8)
    # refreshed region matches the full rebuild
    assert np.array_equal(fresh[2:4, 3:5], want_full[2:4, 3:5])
    # untouched overview cells keep their prior values
    assert np.array_equal(fresh[0, :], stale[0, :])


@pytest.mark.parametrize("resample", ["near", "bilinear", "cubic", "lanczos"])
@pytest.mark.parametrize("src_nodata", [None, 0])
@pytest.mark.parametrize("dtype", [np.uint8, np.int16, np.float32])
def test_update_multiband_equals_per_band(resample, src_nodata, dtype):
    """A (h, w, 3) source updates each band of a (h, w, 3) destination
    exactly as the single-band update of that band would."""
    dst = (np.arange(8 * 8 * 3).reshape(8, 8, 3) % 251).astype(dtype)
    src = (np.arange(4 * 4 * 3).reshape(4, 4, 3) * 7 % 200 + 20).astype(dtype)
    src[1, 2, 1] = 0
    dst_gt = [100.0, 1.0, 0.0, 50.0, 0.0, -1.0]
    src_gt = [101.3, 1.2, 0.0, 48.9, 0.0, -1.1]
    out, win = update_raster(dst, dst_gt, src, src_gt, resample=resample,
                             src_nodata=src_nodata)
    assert out.shape == dst.shape and out.dtype == dst.dtype
    for b in range(3):
        want, want_win = update_raster(dst[:, :, b], dst_gt, src[:, :, b],
                                       src_gt, resample=resample,
                                       src_nodata=src_nodata)
        assert win == want_win
        assert np.array_equal(out[:, :, b], want)
    assert not np.array_equal(out, dst)
