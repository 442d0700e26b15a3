"""gdal raster pixel-info / gdallocationinfo parity
(apps/gdalalg_raster_pixel_info.cpp RunStep:231-1100).

Pinned semantics: floor() pixel addressing, 'dataset' positions through
the inverse geotransform, near = value at the containing pixel, bilinear
= GDALRasterInterpolateAtPoint pixel-center convention, off-raster
positions report no value, unscaled = raw * scale + offset.
"""

import numpy as np

from gdal_spark.functions.tiff import tiff_encode
from gdal_spark.raster.kernels import gt_invert
from gdal_spark.raster.pixel_info import pixel_info, pixel_info_tiles

ARR = np.arange(20.0).reshape(4, 5)
GT = [100.0, 2.0, 0.0, 50.0, 0.0, -2.0]  # px (c,l) -> X=100+2c, Y=50-2l


def test_pixel_crs_near():
    rows = pixel_info(ARR, [(2.7, 1.2), (0.0, 0.0), (4.999, 3.999)])
    assert rows[0]["column"] == 2.7 and rows[0]["line"] == 1.2
    assert rows[0]["band_1_raw_value"] == ARR[1, 2]
    assert rows[1]["band_1_raw_value"] == ARR[0, 0]
    assert rows[2]["band_1_raw_value"] == ARR[3, 4]


def test_dataset_crs_inverse_gt():
    # X=105.4, Y=47.6 -> col 2.7, line 1.2
    rows = pixel_info(ARR, [(105.4, 47.6)], gt=GT, pos_crs="dataset")
    assert abs(rows[0]["column"] - 2.7) < 1e-12
    assert abs(rows[0]["line"] - 1.2) < 1e-12
    assert rows[0]["band_1_raw_value"] == ARR[1, 2]
    # round-trip: inverse gt really inverts
    inv = gt_invert(GT)
    x, y = 3.25, 2.75
    X = GT[0] + GT[1] * x + GT[2] * y
    Y = GT[3] + GT[4] * x + GT[5] * y
    assert abs(inv[0] + inv[1] * X + inv[2] * Y - x) < 1e-12
    assert abs(inv[3] + inv[4] * X + inv[5] * Y - y) < 1e-12


def test_off_raster_is_null():
    rows = pixel_info(ARR, [(-0.1, 1.0), (5.0, 1.0), (1.0, 4.0)])
    for r in rows:
        assert r["band_1_raw_value"] is None
        assert r["band_1_unscaled_value"] is None


def test_bilinear_and_unscale():
    rows = pixel_info(
        ARR, [(2.0, 2.0)], interpolation="bilinear", scale=2.0, offset=10.0
    )
    # pixel-center: (2.0, 2.0) -> fx=fy=1.5 -> mean of 2x2 block at (1..2)
    want = ARR[1:3, 1:3].mean()
    assert abs(rows[0]["band_1_raw_value"] - want) < 1e-12
    assert abs(rows[0]["band_1_unscaled_value"] - (want * 2 + 10)) < 1e-12


def test_multiband_fields():
    arr = np.dstack([ARR, ARR * 3])
    rows = pixel_info(arr, [(1.5, 1.5)])
    assert rows[0]["band_1_raw_value"] == ARR[1, 1]
    assert rows[0]["band_2_raw_value"] == ARR[1, 1] * 3
    only2 = pixel_info(arr, [(1.5, 1.5)], bands=[2])
    assert "band_1_raw_value" not in only2[0]


def test_pixel_info_tiles_distributed(spark):
    df = spark.createDataFrame(
        [("img0", tiff_encode(ARR.astype(np.uint8)), "tiff", GT)],
        "image_id string, bytes binary, fmt string, gt array<double>",
    )
    rows = {
        (r.geom_x, r.geom_y): r
        for r in pixel_info_tiles(
            df, [(105.4, 47.6), (999.0, 999.0)], pos_crs="dataset"
        ).collect()
    }
    assert rows[(105.4, 47.6)].raw_value == ARR[1, 2]
    assert rows[(999.0, 999.0)].raw_value is None
