"""Pinned outputs of the Web-Mercator and geodetic tile schemes.

Covers the gdal2tiles renderers (``g2t.gdal2tiles_mercator`` through both
warp-grid branches at tile sizes 256 and 512, ``gdal2tiles_geodetic``
with and without ``tmscompatible``, ``gdal2tiles_raster`` on sizes that
are not multiples of 256), the MBTiles reader on files its writer made,
the MVT point and pyramid sinks, the PMTiles header and mercator's
plain-Python grid functions at every zoom gdal2tiles knows. Every input
is built in memory. A case pins the sha256 of its tile keys and of each
tile's shape, dtype and bytes; the pins were recorded before the tiling
and tile-format modules were moved onto ``functions/mercator.py`` and
must not move.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from gdal_spark.functions import mercator as M
from gdal_spark.sources import mbtiles as MB
from gdal_spark.tiles import g2t


def _feed(h, obj) -> None:
    if isinstance(obj, np.ndarray):
        h.update(repr(("nd", obj.shape, obj.dtype.str)).encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    elif isinstance(obj, (bytes, bytearray)):
        h.update(b"b%d:" % len(obj) + bytes(obj))
    elif isinstance(obj, (tuple, list)):
        h.update(f"seq{len(obj)}".encode())
        for o in obj:
            _feed(h, o)
    elif isinstance(obj, dict):
        h.update(f"map{len(obj)}".encode())
        for k in sorted(obj):
            _feed(h, k)
            _feed(h, hashlib.sha256(_tile_bytes(obj[k])).digest())
    else:
        h.update(repr(obj).encode())


def _tile_bytes(v) -> bytes:
    if isinstance(v, np.ndarray):
        return repr((v.shape, v.dtype.str)).encode() + v.tobytes()
    return bytes(v)


def _digest(obj) -> str:
    h = hashlib.sha256()
    _feed(h, obj)
    return h.hexdigest()[:16]


def _geo_src(w: int, h: int, nb: int = 3) -> np.ndarray:
    """Deterministic byte pixels with structure at every scale."""
    yy, xx = np.mgrid[0:h, 0:w]
    planes = [((xx * 37 + yy * 11 + 53 * b) ^ (xx * yy)) % 256 for b in range(nb)]
    return np.dstack(planes).astype(np.uint8)


# a geographic source inside the mercator square (GDALSuggestedWarpOutput2
# branch) and one crossing +-85.0511 degrees (forced outputBounds branch)
_INSIDE = (_geo_src(600, 420), (10.0, 0.01, 0.0, 47.4, 0.0, -0.01))
_CROSSING = (_geo_src(400, 180), (-20.0, 0.1, 0.0, 89.0, 0.0, -0.1))
_GEODETIC = (_geo_src(700, 500), (-30.0, 0.03, 0.0, 40.0, 0.0, -0.03))


def _mercator(src, tile_size, tminz=None, tmaxz=None):
    return g2t.gdal2tiles_mercator(src[0], src[1], tminz, tmaxz, tile_size)


CASES: dict = {
    "g2t_mercator_inside_256": lambda: _mercator(_INSIDE, 256),
    "g2t_mercator_inside_512": lambda: _mercator(_INSIDE, 512),
    "g2t_mercator_crossing_256": lambda: _mercator(_CROSSING, 256),
    "g2t_mercator_crossing_512": lambda: _mercator(_CROSSING, 512),
    "g2t_mercator_inside_512_z4_7": lambda: _mercator(_INSIDE, 512, 4, 7),
    "g2t_mercator_crossing_256_z0_3": lambda: _mercator(_CROSSING, 256, 0, 3),
    # a tile size that is not a power of two rounds differently when the
    # tile index or bounds is computed at another tile size
    "g2t_mercator_inside_384_z4_6": lambda: _mercator(_INSIDE, 384, 4, 6),
    "g2t_mercator_crossing_384": lambda: _mercator(_CROSSING, 384),
    "g2t_geodetic_tms": lambda: g2t.gdal2tiles_geodetic(*_GEODETIC),
    "g2t_geodetic_notms": lambda: g2t.gdal2tiles_geodetic(
        *_GEODETIC, tmscompatible=False),
    "g2t_geodetic_tms_512": lambda: g2t.gdal2tiles_geodetic(
        *_GEODETIC, tile_size=512),
    "g2t_geodetic_notms_384": lambda: g2t.gdal2tiles_geodetic(
        *_GEODETIC, tile_size=384, tmscompatible=False),
    "g2t_raster_520x300": lambda: g2t.gdal2tiles_raster(_geo_src(520, 300)),
    "g2t_raster_1x300x700": lambda: g2t.gdal2tiles_raster(
        _geo_src(700, 300, 1)[:, :, 0], tminz=1),
}


@pytest.fixture(scope="module")
def mbtiles_files(tmp_path_factory):
    """MBTiles files holding the inside-square renders at both tile sizes,
    with the source's lon/lat box as their bounds metadata."""
    root = tmp_path_factory.mktemp("mbtiles")
    out = {}
    for ts in (256, 512):
        p = str(root / f"inside_{ts}.mbtiles")
        MB.write_mbtiles(p, _mercator(_INSIDE, ts, 4, 6),
                         metadata={"bounds": "10.0,43.2,16.0,47.4"})
        out[ts] = p
    return out


def _mbtiles_read(path, ts, use_bounds, overview):
    zooms = MB.mbtiles_info(path)["zooms"]
    zoom = zooms[-2] if overview else None
    arr, gt, _ = MB.read_mbtiles(path, zoom=zoom, use_bounds=use_bounds,
                                 tile_size=ts)
    return arr, gt


def _grid_tables(ts: int):
    """mercator's _py grid functions at every zoom 0-31."""
    pts = [(-20037508.342789244, -20037508.342789244), (0.0, 0.0),
           (1234567.891, -7654321.123), (20037508.342789244, 1e-9),
           (-1.0, 19999999.0)]
    rows = []
    for z in range(32):
        res = M.resolution_py(z, ts)
        n = 1 << z
        rows.append((
            z, res,
            [M.meters_to_tile_py(x, y, z, ts) for x, y in pts],
            [M.tile_bounds_meters_py(t, t, z, ts)
             for t in (0, n // 3, n - 1)],
            [M.zoom_for_pixel_size_py(res * f, ts)
             for f in (1.001, 1.0, 0.999)] if z < 29 else [],
        ))
    return rows


GRID_CASES = {f"mercator_grid_{ts}": ts for ts in (256, 384, 512)}

PINNED = {
    "g2t_geodetic_notms": "6a2075aa9e909f7f",
    "g2t_geodetic_notms_384": "7741db7c3cab84a0",
    "g2t_geodetic_tms": "0a072520768a7571",
    "g2t_geodetic_tms_512": "66db398289cd0279",
    "g2t_mercator_crossing_256": "4a1b697b36d3da1f",
    "g2t_mercator_crossing_256_z0_3": "a9efdc843a922c69",
    "g2t_mercator_crossing_384": "4184f4edfbf19eac",
    "g2t_mercator_crossing_512": "8a55bd5e3cd21576",
    "g2t_mercator_inside_256": "784702767014914c",
    "g2t_mercator_inside_384_z4_6": "0182d27ed3c117c6",
    "g2t_mercator_inside_512": "1298f52683da63bf",
    "g2t_mercator_inside_512_z4_7": "88636beb8b32c32e",
    "g2t_raster_1x300x700": "714369c0135b0d67",
    "g2t_raster_520x300": "957bd49c19d5dafb",
    "mbtiles_256_bounds_max": "98b54851e46ddb55",
    "mbtiles_256_bounds_ovr": "42313ffbd0097a2d",
    "mbtiles_256_tiles_max": "2baf64cc9071bb28",
    "mbtiles_256_tiles_ovr": "e06c328306b6dab4",
    "mbtiles_512_bounds_max": "97361b15ca8c2203",
    "mbtiles_512_bounds_ovr": "3c51ddb497a9a813",
    "mbtiles_512_tiles_max": "5c18b4227d50f0e2",
    "mbtiles_512_tiles_ovr": "4c1a3a0d1692ef0d",
    "mercator_grid_256": "1b5078d55e334fac",
    "mercator_grid_384": "7462ca436d326d47",
    "mercator_grid_512": "39c652fa45864f94",
    "mvt_pyramid_z0_3": "a38c4f62c9002238",
    "mvt_tiles_z3": "51e8caa40047ff2e",
    "pmtiles_header": "9c87cc61c94e71ca",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_renderer_pins(name):
    assert _digest(CASES[name]()) == PINNED[name]


@pytest.mark.parametrize("ts", [256, 512])
@pytest.mark.parametrize("use_bounds", [True, False])
@pytest.mark.parametrize("overview", [False, True])
def test_mbtiles_read_pins(mbtiles_files, ts, use_bounds, overview):
    name = f"mbtiles_{ts}_{'bounds' if use_bounds else 'tiles'}_" \
           f"{'ovr' if overview else 'max'}"
    got = _mbtiles_read(mbtiles_files[ts], ts, use_bounds, overview)
    assert _digest(got) == PINNED[name]


@pytest.mark.parametrize("name", sorted(GRID_CASES))
def test_mercator_grid_pins(name):
    assert _digest(_grid_tables(GRID_CASES[name])) == PINNED[name]


def _pbf_tree(root: str) -> dict:
    out = {}
    for z in os.listdir(root):
        for x in os.listdir(os.path.join(root, z)):
            for f in os.listdir(os.path.join(root, z, x)):
                with open(os.path.join(root, z, x, f), "rb") as fh:
                    out[(int(z), int(x), int(f[:-4]))] = fh.read()
    return out


def _mvt_points(spark, zoom: int):
    """Points inside tiles plus points exactly on tile edges, where
    MVT's floor index and gdal2tiles' ceil - 1 index differ."""
    s = M.ORIGIN_SHIFT
    dim = 2 * s / (1 << zoom)
    rng = np.random.RandomState(7)
    pts = list(zip(rng.uniform(-s, s, 40), rng.uniform(-s, s, 40)))
    pts += [(-s + 2 * dim, 0.3 * s), (0.3 * s, s - 3 * dim),
            (-s + 5 * dim, s - 6 * dim), (0.0, 0.0)]
    rows = [(float(x), float(y), i) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "x double, y double, fid long").coalesce(1)


def _mvt_features(spark):
    from gdal_spark.functions import wkb as W

    s = M.ORIGIN_SHIFT
    q = s / 2  # zoom-2 tile edge
    geoms = [
        W.write_point(-q, q),
        W.write_point(1234567.0, -2345678.0),
        W.write_linestring(np.array([[-s * 0.9, -s * 0.3], [s * 0.4, s * 0.7],
                                     [s * 0.8, -s * 0.6]])),
        W.write_polygon([np.array([[-q, -q], [q, -q], [q, q], [-q, q],
                                   [-q, -q]])]),
        W.write_polygon([np.array([[0.1 * s, 0.1 * s], [0.6 * s, 0.15 * s],
                                   [0.3 * s, 0.7 * s], [0.1 * s, 0.1 * s]])]),
    ]
    rows = [(bytearray(g), i, f"f{i}") for i, g in enumerate(geoms)]
    return spark.createDataFrame(
        rows, "wkb binary, fid long, name string").coalesce(1)


def _mvt_tiles_tree(spark, root: str) -> dict:
    from gdal_spark.sources.mvt import write_mvt_tiles

    n = write_mvt_tiles(_mvt_points(spark, 3), root, 3, layer_name="pts")
    tree = _pbf_tree(root)
    assert n == len(tree)
    return tree


def _mvt_pyramid_tree(spark, root: str) -> dict:
    from gdal_spark.sources.mvt import write_mvt_pyramid

    n = write_mvt_pyramid(_mvt_features(spark), root, 0, 3, id_col="fid",
                          buffer_px=64)
    tree = _pbf_tree(root)
    assert n == len(tree)
    return tree


def _pmtiles_header(root: str, path: str) -> bytes:
    from gdal_spark.sources.pmtiles import tiles_from_mvt_tree, write_pmtiles

    write_pmtiles(path, sorted(tiles_from_mvt_tree(root)),
                  metadata={"name": "pyr"})
    with open(path, "rb") as fh:
        return fh.read(127)


def test_mvt_tiles_pin(spark, tmp_path):
    tree = _mvt_tiles_tree(spark, str(tmp_path / "pts"))
    assert _digest(tree) == PINNED["mvt_tiles_z3"]


def test_mvt_pyramid_and_pmtiles_pins(spark, tmp_path):
    root = str(tmp_path / "pyr")
    assert _digest(_mvt_pyramid_tree(spark, root)) == PINNED["mvt_pyramid_z0_3"]
    head = _pmtiles_header(root, str(tmp_path / "pyr.pmtiles"))
    assert _digest(head) == PINNED["pmtiles_header"]


# gdal2tiles.py ZoomForPixelSize loops over MAXZOOMLEVEL = 32 zooms and
# returns MAXZOOMLEVEL - 1 when the pixel is finer than every resolution
@pytest.mark.parametrize(
    "res, zoom_for",
    [(M.resolution_py, M.zoom_for_pixel_size_py),
     (M.geodetic_resolution_py, M.geodetic_zoom_for_pixel_size_py)],
    ids=["mercator", "geodetic"],
)
@pytest.mark.parametrize(
    "z, factor, zoom",
    [(29, 1.001, 28), (29, 1.0, 29), (29, 0.999, 29), (30, 1.0, 30),
     (30, 0.999, 30), (31, 1.0, 31), (31, 0.5, 31), (0, 1e-20, 31)],
)
def test_zoom_for_pixel_size_follows_gdal2tiles(res, zoom_for, z, factor,
                                                zoom):
    assert zoom_for(res(z) * factor) == zoom
