"""Kernel unit tests (no Spark): codecs, checksum, phash, mercator, WKB,
PIP, clip. Golden-value philosophy follows the reference autotest
(checksum oracles + exact value lists, SURVEY.md §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from gdal_spark import datagen
from gdal_spark.functions import checksum as CK
from gdal_spark.functions import codecs, geom, quality
from gdal_spark.functions import mercator as M
from gdal_spark.functions import wkb as W

# ---------------------------------------------------------------- codecs


@pytest.mark.parametrize("i,h,w", [(0, 64, 64), (7, 255, 257), (3, 96, 128)])
def test_png_roundtrip_lossless(i, h, w):
    arr = datagen.make_pixels(i, h, w)
    assert np.array_equal(codecs.png_decode(codecs.png_encode(arr)), arr)


@pytest.mark.parametrize("i,h,w", [(1, 64, 64), (5, 255, 257)])
def test_qdct_psnr_gate(i, h, w):
    """Lossy round-trip must clear the 40 dB gate (BASELINE.json input_hint)."""
    arr = datagen.make_pixels(i, h, w)
    dec = codecs.qdct_decode(codecs.qdct_encode(arr))
    assert quality.psnr(arr, dec) >= 40.0


def test_qdct_decode_rejects_bad_magic():
    """A wrong magic raises ValueError (an assert would vanish under -O)."""
    blob = codecs.qdct_encode(datagen.make_pixels(1, 8, 8))
    with pytest.raises(ValueError, match="QDCT"):
        codecs.qdct_decode(b"XDCT" + blob[4:])


def test_decode_registry_dispatch():
    arr = datagen.make_pixels(2, 64, 64)
    for fmt in ("png", "jpeg"):
        out = codecs.decode_image(codecs.encode_image(arr, fmt), fmt)
        assert out.shape == arr.shape


# ---------------------------------------------------------------- checksum


def _checksum_scalar(band: np.ndarray) -> int:
    """Independent scalar reimplementation of alg/gdalchecksum.cpp:48."""
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    s = 0
    for i, v in enumerate(np.asarray(band).ravel()):
        v = int(v)
        r = v % primes[i % 11] if v >= 0 else -((-v) % primes[i % 11])
        s = (s + r) & 0xFFFF
    return s


@pytest.mark.parametrize("seed", [0, 3, 9])
def test_checksum_matches_scalar(seed):
    rng = np.random.default_rng(seed)
    band = rng.integers(0, 256, (20, 20), dtype=np.uint8)
    assert CK.checksum(band) == _checksum_scalar(band)


def test_checksum_float_rounding():
    band = np.array([[0.4, 0.5, 1.6], [2.49, -0.5, 10.0]])
    # IntFromDouble: floor(v + 0.5)
    expected = _checksum_scalar(np.floor(band + 0.5).astype(np.int64))
    assert CK.checksum(band) == expected


# ---------------------------------------------------------------- phash


def test_phash_stable_and_discriminative():
    a = datagen.make_pixels(1, 128, 128)
    b = datagen.make_pixels(2, 128, 128)
    ha, hb = quality.phash64(a), quality.phash64(b)
    assert ha == quality.phash64(a.copy())
    assert ha != hb
    # lossy round trip stays close
    dec = codecs.qdct_decode(codecs.qdct_encode(a))
    ham = bin((ha ^ quality.phash64(dec)) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 8


# ---------------------------------------------------------------- mercator


def test_mercator_known_tile():
    # Berlin (13.4E, 52.5N) at z=10 is XYZ (550, 335) on published tile maps
    tx, ty_tms = M.lonlat_to_tile_py(13.4, 52.5, 10)
    assert (tx, (1 << 10) - 1 - ty_tms) == (550, 335)
    assert M.quadkey_py(tx, ty_tms, 10) == "1202102332"


def test_mercator_roundtrip():
    for lon, lat in [(0.0, 0.0), (-73.99, 40.73), (139.7, -35.7)]:
        mx, my = M.lonlat_to_meters_py(lon, lat)
        lon2, lat2 = M.meters_to_lonlat_py(mx, my)
        assert math.isclose(lon, lon2, abs_tol=1e-9)
        assert math.isclose(lat, lat2, abs_tol=1e-9)


def test_resolution_halves_per_zoom():
    for z in range(5):
        assert math.isclose(M.resolution_py(z + 1), M.resolution_py(z) / 2)


def test_zoom_for_pixel_size():
    # gdal2tiles semantics: first zoom whose res < pixelSize, minus 1
    # ("we don't want to scale up"): coarser-than-z5 pixel -> z4
    assert M.zoom_for_pixel_size_py(M.resolution_py(5) * 1.001) == 4
    assert M.zoom_for_pixel_size_py(M.resolution_py(5) * 0.999) == 5
    assert M.zoom_for_pixel_size_py(M.resolution_py(5)) == 5


# ---------------------------------------------------------------- WKB/geom


def test_wkb_roundtrip_polygon_with_hole():
    rings = [
        np.array([[0.0, 0.0], [4, 0], [4, 4], [0, 4]]),
        np.array([[1.0, 1], [2, 1], [2, 2], [1, 2]]),
    ]
    buf = W.write_polygon(rings)
    gtype, parsed = W.parse(buf)
    assert gtype == W.WKB_POLYGON
    assert len(parsed) == 2
    assert np.allclose(parsed[0][:-1], rings[0])
    assert W.bbox(buf) == (0.0, 0.0, 4.0, 4.0)


def test_wkb_multipolygon():
    p1 = [np.array([[0.0, 0], [1, 0], [1, 1], [0, 1]])]
    p2 = [np.array([[5.0, 5], [6, 5], [6, 6], [5, 6]])]
    buf = W.write_multipolygon([p1, p2])
    assert len(W.polygon_rings(buf)) == 2
    assert W.bbox(buf) == (0.0, 0.0, 6.0, 6.0)


@pytest.mark.parametrize("txt,want", [
    ("MULTILINESTRING ((0 0,1 1),(2 2,3 3))", (0.0, 0.0, 3.0, 3.0)),
    ("MULTIPOINT ((5 -1),(2 7),(3 3))", (2.0, -1.0, 5.0, 7.0)),
    ("GEOMETRYCOLLECTION (POINT (9 9),LINESTRING (0 1,2 -3),"
     "POLYGON ((4 4,6 4,6 5,4 4)))", (0.0, -3.0, 9.0, 9.0)),
    ("MULTIPOLYGON (((0 0,1 0,1 1,0 0)),((5 5,8 5,8 6,5 5)))",
     (0.0, 0.0, 8.0, 6.0)),
    ("LINESTRING Z (1 2 3,-4 5 6)", (-4.0, 2.0, 1.0, 5.0)),
    ("POINT (3 4)", (3.0, 4.0, 3.0, 4.0)),
])
def test_wkb_bbox_covers_every_member(txt, want):
    from gdal_spark.functions.wkt import from_wkt

    assert W.bbox(from_wkt(txt)) == want


def test_wkb_parse_rejects_big_endian():
    """Big-endian WKB raises ValueError instead of being read as
    little-endian when asserts are stripped."""
    buf = b"\x00" + W.write_point(1.0, 2.0)[1:]
    with pytest.raises(ValueError, match="big-endian"):
        W.parse(buf)


def test_pip_matches_matplotlib_free_bruteforce():
    """Random concave polygon vs per-edge crossing count reference."""
    rng = np.random.default_rng(11)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
    r = rng.uniform(0.5, 2.0, 9)
    ring = np.c_[r * np.cos(ang), r * np.sin(ang)]
    px = rng.uniform(-2.5, 2.5, 400)
    py = rng.uniform(-2.5, 2.5, 400)
    got = geom.points_in_ring(px, py, ring)

    def scalar_pip(x, y):
        closed = np.vstack([ring, ring[:1]])
        c = 0
        for (x1, y1), (x2, y2) in zip(closed[:-1], closed[1:]):
            if (y1 <= y < y2) or (y2 <= y < y1):
                if x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                    c += 1
        return c % 2 == 1

    exp = np.array([scalar_pip(x, y) for x, y in zip(px, py)])
    assert np.array_equal(got, exp)


def test_polygon_area_and_clip():
    rings = [
        np.array([[0.0, 0], [4, 0], [4, 4], [0, 4]]),
        np.array([[1.0, 1], [2, 1], [2, 2], [1, 2]]),
    ]
    buf = W.write_polygon(rings)
    assert geom.wkb_area(buf) == pytest.approx(15.0)
    clipped = geom.clip_wkb_to_box(buf, 0.5, 0.5, 3.5, 3.5)
    assert geom.wkb_area(clipped) == pytest.approx(8.0)
    assert geom.clip_wkb_to_box(buf, 10, 10, 11, 11) is None


def test_footprint_twins_agree():
    idx = np.arange(50)
    np_fp = datagen.footprint_np(idx)
    # column twin is checked in test_cells via Spark; here sanity-range
    assert (np_fp["lat_max"] <= 85.0).all()
    assert (np_fp["lon_min"] >= -180.26).all()
