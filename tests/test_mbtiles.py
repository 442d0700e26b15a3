"""MBTiles driver parity vs autotest/gdrivers/mbtiles.py on the
reference's own fixtures, through this engine's PNG/JPEG codecs."""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdal_spark.functions.checksum import checksum
from gdal_spark.sources import mbtiles as MB

DATA = "/root/reference/autotest/gdrivers/data/mbtiles"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference data absent"
)


@needs_reference
def test_world_l1_parity():
    """test_mbtiles_2 (USE_BOUNDS=NO): 4 bands, full 512x512 tile grid,
    the reference's exact geotransform, band + overview checksums."""
    arr, gt, _ = MB.read_mbtiles(
        os.path.join(DATA, "world_l1.mbtiles"), use_bounds=False
    )
    assert arr.shape == (4, 512, 512)
    expected_gt = (-20037508.342789244, 78271.516964020484, 0.0,
                   20037508.342789244, 0.0, -78271.516964020484)
    for a, b in zip(gt, expected_gt):
        assert a == pytest.approx(b, abs=1e-8)
    assert [checksum(arr[i]) for i in range(3)] == [6324, 19386, 45258]
    ovr, _, _ = MB.read_mbtiles(
        os.path.join(DATA, "world_l1.mbtiles"), zoom=0, use_bounds=False
    )
    assert [checksum(ovr[i]) for i in range(3)] == [16642, 15772, 10029]


@needs_reference
def test_byte_parity():
    """test_mbtiles_5 shape (the byte.mbtiles fixture): bounds-metadata
    clip to 19x19 at zoom 11, gray+alpha with BAND_COUNT=2, exact
    geotransform and checksums 4118/4406."""
    arr, gt, md = MB.read_mbtiles(
        os.path.join(DATA, "byte.mbtiles"), band_count=2
    )
    assert arr.shape == (2, 19, 19)
    expected_gt = (-13095853.550435878, 76.437028285176254, 0.0,
                   4015708.8887064462, 0.0, -76.437028285176254)
    for a, b in zip(gt, expected_gt):
        assert a == pytest.approx(b, rel=1e-12)
    assert checksum(arr[0]) == 4118
    assert checksum(arr[1]) == 4406
    assert md["format"] == "png"
    assert md["minzoom"] == "11" and md["maxzoom"] == "11"


def test_write_read_roundtrip(tmp_path):
    """g2t tiles -> MBTiles file -> read back pixel-identical."""
    rng = np.random.RandomState(3)
    tiles = {}
    for tx in (0, 1):
        for ty in (0, 1):
            tiles[(1, tx, ty)] = rng.randint(
                0, 256, (256, 256, 4), dtype=np.uint8
            )
    tiles[(0, 0, 0)] = rng.randint(0, 256, (256, 256, 4), dtype=np.uint8)
    p = str(tmp_path / "rt.mbtiles")
    MB.write_mbtiles(p, tiles, metadata={"bounds": "-180.0,-85,180,85"})
    arr, gt, md = MB.read_mbtiles(p, use_bounds=False)
    assert arr.shape == (4, 512, 512)
    # reassemble expectation: tms row 1 = top
    top = np.concatenate([tiles[(1, 0, 1)], tiles[(1, 1, 1)]], axis=1)
    bot = np.concatenate([tiles[(1, 0, 0)], tiles[(1, 1, 0)]], axis=1)
    exp = np.concatenate([top, bot], axis=0)
    assert np.array_equal(np.moveaxis(arr, 0, 2), exp)
    ovr, _, _ = MB.read_mbtiles(p, zoom=0, use_bounds=False)
    assert np.array_equal(np.moveaxis(ovr, 0, 2), tiles[(0, 0, 0)])


@needs_reference
def test_distributed_tile_scan(spark):
    df = MB.read_mbtiles_tiles(
        spark, os.path.join(DATA, "world_l1.mbtiles")
    )
    rows = df.collect()
    assert len(rows) == 4
    assert {(r.x, r.y) for r in rows} == {(0, 0), (0, 1), (1, 0), (1, 1)}
    for r in rows:
        assert (r.w, r.h) == (256, 256)
        a = np.frombuffer(bytes(r.data), np.uint8)
        assert a.size == 256 * 256 * r.bands


# ---------------------------------------------------------------------------
# GeoPackage raster tiles (shared MBTiles-like base in the reference)
# ---------------------------------------------------------------------------


@needs_reference
def test_gpkg_raster_byte_parity():
    """autotest/gdrivers/gpkg.py test_gpkg_45: byte.gpkg reads as the
    20x20 contents-bounds window of the zoom-0 tile, checksum 4672."""
    from gdal_spark.sources import gpkg_raster as GR

    arr, gt, srs = GR.read_gpkg_raster(
        os.path.join(DATA, "..", "gpkg", "byte.gpkg"), band_count=1
    )
    assert arr.shape == (1, 20, 20)
    assert gt == (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
    assert srs == 26711
    assert checksum(arr[0]) == 4672


def test_gpkg_raster_roundtrip(tmp_path):
    from gdal_spark.sources import gpkg_raster as GR

    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, (500, 300, 3), dtype=np.uint8)
    p = str(tmp_path / "rt.gpkg")
    GR.write_gpkg_raster(p, "t", a, (100.0, 2.0, 0.0, 900.0, 0.0, -2.0),
                         srs_id=3857)
    b, gt2, srs2 = GR.read_gpkg_raster(p, band_count=3)
    assert gt2 == (100.0, 2.0, 0.0, 900.0, 0.0, -2.0)
    assert srs2 == 3857
    assert np.array_equal(np.moveaxis(b, 0, 2), a)
