"""gdalenhance equalization (apps/gdalenhance.cpp) — LUT arithmetic,
apply semantics, config round trip, and the reference's own rgbsmall.tif
through this engine's TIFF decoder."""

import numpy as np
import pytest

from gdal_spark.raster.enhance import (
    default_histogram_byte,
    equalization_lut,
    equalize_byte,
    format_luts,
    parse_luts,
)


def test_lut_hand_computed():
    # 4 pixels of value 1, 4 of value 2 in a 4-bin histogram world
    hist = np.array([5, 4, 4, 7])  # extremes get zeroed
    lut = equalization_lut(hist, n_lut_bins=4)
    # h = [0,4,4,0], total 8; cum = before + own//2 = [0, 2, 6, 8]
    # lut = clamp(cum*4//8) = [0, 1, 3, 3(clamped from 4)]
    assert lut.tolist() == [0, 1, 3, 3]


def test_lut_zero_total_clamps():
    lut = equalization_lut(np.array([3, 0, 0, 9]), n_lut_bins=4)
    assert lut.tolist() == [0, 0, 0, 0]


def test_equalize_byte_identity_bin_mapping():
    """For Byte the scale is exactly 1: every pixel v indexes LUT[v]."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 97, size=(16, 16), dtype=np.uint8)
    lut = equalization_lut(default_histogram_byte(arr))
    out = equalize_byte(arr)
    assert (out == lut[arr]).all()


def test_equalize_monotone_and_range():
    ramp = np.tile(np.arange(256, dtype=np.uint8), (4, 1))
    out = equalize_byte(ramp)
    d = np.diff(out[0].astype(int))
    assert (d >= 0).all()
    assert out.max() <= 255


def test_nodata_passthrough():
    arr = np.array([[7, 0], [7, 255]], dtype=np.uint8)
    out = equalize_byte(arr, nodata=7)
    assert out[0, 0] == 7 and out[1, 0] == 7


def test_config_roundtrip():
    arr = np.arange(256, dtype=np.uint8).reshape(16, 16)
    lut = equalization_lut(default_histogram_byte(arr))
    txt = format_luts([lut, lut + 0])
    assert txt.startswith("1:Band -0.5:ScaleMin 255.5:ScaleMax ")
    luts, mins, maxs = parse_luts(txt)
    assert len(luts) == 2 and (luts[0] == lut).all()
    assert mins == [-0.5, -0.5] and maxs == [255.5, 255.5]


def test_parse_luts_names_bad_line():
    txt = "1:Band -0.5:ScaleMin 255.5:ScaleMax 0 1\n\n2:Band 0:ScaleMin\n"
    with pytest.raises(ValueError, match="bad LUT line ''"):
        parse_luts(txt)
    with pytest.raises(ValueError, match="bad LUT line '2:Band 0:ScaleMin'"):
        parse_luts(txt.replace("\n\n", "\n"))


def test_rgbsmall_through_engine_tiff():
    """test_gdalenhance_output_image shape checks on the reference's own
    rgbsmall.tif: same band count/size, Byte output, per-band LUTs
    differ (the bands have different histograms)."""
    from gdal_spark.functions.tiff import tiff_decode

    raw = open("/root/reference/autotest/gcore/data/rgbsmall.tif", "rb").read()
    arr = tiff_decode(raw)
    assert arr.shape == (50, 50, 3)
    outs = []
    for b in range(3):
        band = arr[..., b]
        out = equalize_byte(band)
        assert out.shape == band.shape and out.dtype == np.uint8
        outs.append(equalization_lut(default_histogram_byte(band)))
    assert not (outs[0] == outs[2]).all()
