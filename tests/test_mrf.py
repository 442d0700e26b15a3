"""MRF (Meta Raster Format) reader tests — raster/mrf.py vs the
reference's committed per-compression fixture sets
(autotest/gdrivers/data/mrf/{none,tif,png,deflate,lerc,lerc_v1,jpeg}):
every lossless variant must reproduce byte.tif (cs 4672) bit-exact;
the JPEG variant is lossy and gated on PSNR."""

from __future__ import annotations

import glob
import math

import numpy as np
import pytest

from gdal_spark.functions.checksum import checksum_image
from gdal_spark.functions.tiff import tiff_decode
from gdal_spark.raster.mrf import _EXT, mrf_info, mrf_read

BASE = "/root/reference/autotest/gdrivers/data/mrf/"


def _ref_byte():
    a = tiff_decode(
        open("/root/reference/autotest/gcore/data/byte.tif", "rb").read()
    )
    return np.squeeze(a[0] if isinstance(a, tuple) else a)


@pytest.mark.parametrize(
    "kind", ["none", "tif", "png", "deflate", "lerc", "lerc_v1"]
)
def test_lossless_variants_bit_exact(kind):
    arr, meta = mrf_read(BASE + kind + "/byte.mrf")
    a = np.squeeze(arr)
    assert checksum_image(a)[0] == 4672
    assert np.array_equal(a.astype(np.float64), _ref_byte().astype(np.float64))
    assert meta["w"] == meta["h"] == 20


def test_jpeg_variant_psnr():
    arr, meta = mrf_read(BASE + "jpeg/byte.mrf")
    a = np.squeeze(arr).astype(np.float64)
    ref = _ref_byte().astype(np.float64)
    mse = float(((a - ref) ** 2).mean())
    psnr = 10 * math.log10(255 * 255 / mse)
    assert psnr >= 30.0


def test_identify_mrf():
    from gdal_spark.sources.identify import identify_driver

    assert identify_driver(open(BASE + "lerc/byte.mrf", "rb").read()) == "MRF"


def test_meta_parse():
    meta = mrf_info(BASE + "lerc/byte.mrf")
    assert meta["comp"] == "LERC"
    assert meta["psx"] == meta["psy"] == 512
    assert meta["bbox"] is not None and meta["projection"] is not None
    # PNG is the format default when <Compression> is absent
    meta2 = mrf_info(BASE + "png/byte.mrf")
    assert meta2["comp"] == "PNG"


def test_every_fixture_dir_covered():
    dirs = {p.split("/")[-2] for p in glob.glob(BASE + "*/byte.mrf")}
    assert dirs == {"none", "tif", "png", "deflate", "lerc", "lerc_v1",
                    "jpeg"}
    assert set(_EXT) >= {"NONE", "TIF", "PNG", "DEFLATE", "LERC", "JPEG"}


@pytest.mark.parametrize("kind", ["lerc", "lerc_v1"])
def test_legacy_mrf_read_lerc(kind):
    """Regression: the LERC branch must keep working after lerc_decode
    was replaced by lerc_strip_decode (it used to raise ImportError)."""
    arr, _meta = mrf_read(BASE + kind + "/byte.mrf")
    band = arr[:, :, 0] if arr.ndim == 3 else arr
    assert list(checksum_image(band.astype(np.int64))) == [4672]
