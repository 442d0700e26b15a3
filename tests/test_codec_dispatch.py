"""Pinned outputs of codec dispatch: the MRF driver, the quarantine
classifier and the tile decoders of MBTiles/GPKG, ESRIC and KML
SuperOverlay.

Every input is built in memory or under a temporary directory: MRF
datasets come from `raster.mrf.mrf_write`, or are written by hand for
layouts the writer does not produce (TIF pages, band-interleaved pages,
the PNG default compression, a missing page). A pin is `array
digest/metadata digest`, a decode status, or the name of the exception
raised; the pins were recorded before the magic-byte tests and the MRF
readers were merged into one of each, and must not move. The WebP tile
is the one recorded exception: MBTiles/GPKG tiles used to be PNG or
JPEG only and now decode WebP as well, as GDAL's drivers do.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np
import pytest

from gdal_spark.functions import codecs as C
from gdal_spark.functions.jpeg import jpeg_encode
from gdal_spark.functions.tiff import tiff_encode
from gdal_spark.raster import esric, kmlso
from gdal_spark.raster import mrf as M
from gdal_spark.sources import mbtiles

# ---------------------------------------------------------------------------
# digests
# ---------------------------------------------------------------------------


def _arrays_digest(arrs) -> str:
    h = hashlib.sha256()
    for a in arrs:
        a = np.asarray(a)
        h.update(repr((a.shape, a.dtype.str)).encode())
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:12]


def _meta_digest(meta) -> str:
    blob = json.dumps(meta, sort_keys=True, default=repr).encode()
    return hashlib.sha256(blob).hexdigest()[:12]


def digest(out) -> str:
    arrs, meta = out
    return f"{_arrays_digest(arrs)}/{_meta_digest(meta)}"


def _clean(info: dict) -> dict:
    """mrf_info without the temporary directory in its file names."""
    return {k: os.path.basename(v) if k.endswith("_file") else v
            for k, v in info.items()}


def _pixels(h, w, bands, dt, step=7):
    """A ramp that wraps in the dtype, so a byte-swapped read shows."""
    n = np.arange(h * w * bands, dtype=np.int64) * step
    a = (n / 4.0 - 100.0).astype(dt) if dt == "f4" else n.astype(dt)
    a = a.reshape(h, w, bands)
    return a[:, :, 0] if bands == 1 else a


def _smooth(h, w, bands):
    """A photo-like u1 image for the lossy JPEG pages."""
    y, x = np.mgrid[0:h, 0:w]
    planes = [(x * (5 + b) + y * 3 + 40 * b) % 256 for b in range(bands)]
    a = np.stack(planes, -1).astype(np.uint8)
    return a[:, :, 0] if bands == 1 else a


# ---------------------------------------------------------------------------
# MRF datasets: builder(tmp) -> .mrf path
# ---------------------------------------------------------------------------

MRF_FILES: dict = {}

for _comp in ("NONE", "DEFLATE"):
    for _nbo in (0, 1):
        for _dt in ("u1", "u2", "i2", "f4"):
            for _b in (1, 3):
                def _w(tmp, comp=_comp, nbo=_nbo, dt=_dt, b=_b):
                    p = os.path.join(tmp, "w.mrf")
                    M.mrf_write(_pixels(23, 37, b, dt), p, compression=comp,
                                blocksize=16, nbo=bool(nbo))
                    return p
                MRF_FILES[f"write_{_comp}_nbo{_nbo}_{_dt}_b{_b}"] = _w

for _comp in ("PNG", "JPEG"):
    for _b in (1, 3):
        def _w(tmp, comp=_comp, b=_b):
            p = os.path.join(tmp, "w.mrf")
            src = _pixels(23, 37, b, "u1") if comp == "PNG" else _smooth(23, 37, b)
            M.mrf_write(src, p, compression=comp, blocksize=16)
            return p
        MRF_FILES[f"write_{_comp}_b{_b}"] = _w


def _hand_mrf(tmp, pages: list, size: tuple, page: tuple, ext: str,
              comp: str | None, extra: str = "") -> str:
    """Pages (None = missing) back to back, a big-endian (offset, size)
    index and an XML header; ``comp=None`` leaves <Compression> out."""
    data, idx = b"", b""
    for blob in pages:
        if blob is None:
            idx += struct.pack(">qq", 0, 0)
            continue
        idx += struct.pack(">qq", len(data), len(blob))
        data += blob
    stem = os.path.join(tmp, "h")
    open(stem + ext, "wb").write(data)
    open(stem + ".idx", "wb").write(idx)
    xml = ["<MRF_META>", "  <Raster>",
           '    <Size x="%d" y="%d" c="%d" />' % size,
           '    <PageSize x="%d" y="%d" c="%d" />' % page]
    if comp is not None:
        xml.append("    <Compression>%s</Compression>" % comp)
    xml += [extra, "  </Raster>", "</MRF_META>"]
    open(stem + ".mrf", "w").write("\n".join(xml) + "\n")
    return stem + ".mrf"


def _tiles(a: np.ndarray, ps: int):
    """Padded ps x ps pages of (h, w[, c]) in row-major page order."""
    h, w = a.shape[:2]
    for y in range(0, h, ps):
        for x in range(0, w, ps):
            t = np.zeros((ps, ps) + a.shape[2:], a.dtype)
            sub = a[y:y + ps, x:x + ps]
            t[:sub.shape[0], :sub.shape[1]] = sub
            yield t


def _tif_pages(tmp, b):
    pages = [tiff_encode(t) for t in _tiles(_pixels(23, 37, b, "u1"), 16)]
    pages[4] = None  # missing page reads as NoData
    return _hand_mrf(tmp, pages, (37, 23, b), (16, 16, b), ".ptf", "TIF",
                     '    <DataValues NoData="9" />')


MRF_FILES["hand_tif_pages_b1"] = lambda tmp: _tif_pages(tmp, 1)
MRF_FILES["hand_tif_pages_b3"] = lambda tmp: _tif_pages(tmp, 3)


def _band_interleaved(tmp, pc):
    """Size c=3 with PageSize c=1 (one page per band, c fastest, as in
    mrf_util.cpp IdxOffset) or c=3 (pixel-interleaved pages), u2."""
    a = _pixels(23, 37, 3, "u2")
    pages = []
    for t in _tiles(a, 16):
        if pc == 1:
            pages += [t[:, :, c].astype("<u2").tobytes() for c in range(3)]
        else:
            pages.append(t.astype("<u2").tobytes())
    pages[1] = None
    return _hand_mrf(tmp, pages, (37, 23, 3), (16, 16, pc), ".til", "NONE",
                     "    <DataType>UInt16</DataType>")


MRF_FILES["hand_band_interleaved_c1"] = lambda tmp: _band_interleaved(tmp, 1)
MRF_FILES["hand_band_interleaved_c3"] = lambda tmp: _band_interleaved(tmp, 3)


def _png_default(tmp):
    pages = [C.png_encode(t) for t in _tiles(_pixels(23, 37, 3, "u1"), 16)]
    return _hand_mrf(tmp, pages, (37, 23, 3), (16, 16, 3), ".ppg", None)


MRF_FILES["hand_png_default_compression"] = _png_default


def _read(path: str):
    arr, info = M.mrf_read(path)
    return [arr], _clean(info)


CASES: dict = {f"read_{k}": (lambda tmp, f=f: _read(f(tmp)))
               for k, f in MRF_FILES.items()}


# ---- ByFour overviews: NNB/AVG x u1/f4 x with/without nodata -------------

def _ovr(tmp, kern, dt, nd):
    a = _pixels(37, 50, 1, dt, step=3)
    ndv = None
    if nd:
        ndv = 5
        a = a.copy()
        a[::3, ::2] = ndv
        a[10:20, 10:30] = ndv  # whole 2x2 cells of nodata
    p = os.path.join(tmp, "o.mrf")
    M.mrf_write(a, p, compression="DEFLATE", blocksize=16, nodata=ndv,
                uniform_scale=2)
    M.build_mrf_overviews(p, kern)
    info = M.mrf_info(p)
    levels = [M.mrf_read(p, lv)[0] for lv in range(len(info["levels"]))]
    return levels, _clean(info)


for _k in ("NNB", "AVG"):
    for _dt in ("u1", "f4"):
        for _nd in (0, 1):
            CASES[f"ovr_{_k}_{_dt}_nd{_nd}"] = (
                lambda tmp, k=_k, dt=_dt, nd=_nd: _ovr(tmp, k, dt, nd))


# ---- mrf_info on headers the writer does not produce ---------------------

_INFO_XML = {
    "nodata_element": '<MRF_META><Raster><Size x="10" y="7" c="2"/>'
                      '<DataValues><NoData>-3.5</NoData></DataValues>'
                      "<DataType>Float32</DataType></Raster></MRF_META>",
    "files_order_rsets": '<MRF_META><Raster><Size x="1000" y="600"/>'
                         '<PageSize x="256" y="256" c="1"/>'
                         "<Compression>lerc</Compression>"
                         "<DataType>Int16</DataType>"
                         "<NetByteOrder>yes</NetByteOrder>"
                         "<Order>band</Order>"
                         "<DataFile>sub/d.lrc</DataFile>"
                         "<IndexFile>/abs/i.idx</IndexFile></Raster>"
                         '<Rsets model="uniform" scale="2"/>'
                         '<GeoTags><BoundingBox minx="-10" miny="-5" maxx="10" '
                         'maxy="7"/><Projection>EPSG:4326</Projection>'
                         "</GeoTags></MRF_META>",
}


def _info(tmp, key):
    p = os.path.join(tmp, "i.mrf")
    open(p, "w").write(_INFO_XML[key])
    info = M.mrf_info(p)
    return [], {**_clean(info), "index_file": info["index_file"]
                if info["index_file"].startswith("/abs") else
                os.path.basename(info["index_file"])}


for _key in _INFO_XML:
    CASES[f"info_{_key}"] = lambda tmp, key=_key: _info(tmp, key)


PINNED: dict[str, str] = {
    "info_files_order_rsets": "e3b0c44298fc/74d20d61c7cb",
    "info_nodata_element": "e3b0c44298fc/51da77bf7195",
    "ovr_AVG_f4_nd0": "548d1c62feb5/5d830c7a6e06",
    "ovr_AVG_f4_nd1": "ab760ce51096/a40682c38977",
    "ovr_AVG_u1_nd0": "91718aa6c5e9/d16e12f6cc3f",
    "ovr_AVG_u1_nd1": "a60ebb768f90/598bd67e0757",
    "ovr_NNB_f4_nd0": "97534cdb28c7/5d830c7a6e06",
    "ovr_NNB_f4_nd1": "987eae0c2bcd/a40682c38977",
    "ovr_NNB_u1_nd0": "a71b09895723/d16e12f6cc3f",
    "ovr_NNB_u1_nd1": "4e0c68bf25f3/598bd67e0757",
    "read_hand_band_interleaved_c1": "3438e4b81897/acd097be3178",
    "read_hand_band_interleaved_c3": "b91d98fb8c72/9259cc10cca9",
    "read_hand_png_default_compression": "e0169109b76b/a74da81d96bc",
    "read_hand_tif_pages_b1": "12378ebe1037/ac0abd2005b9",
    "read_hand_tif_pages_b3": "f8851f869f62/2636bad29815",
    "read_write_DEFLATE_nbo0_f4_b1": "7b2338bd216d/6aa03aea465d",
    "read_write_DEFLATE_nbo0_f4_b3": "c6eafbc1d3ca/b82a64866cdd",
    "read_write_DEFLATE_nbo0_i2_b1": "ba036219addc/9fb6937be190",
    "read_write_DEFLATE_nbo0_i2_b3": "18f695423037/2d08b8762ed2",
    "read_write_DEFLATE_nbo0_u1_b1": "b21af39ccd55/76af45382629",
    "read_write_DEFLATE_nbo0_u1_b3": "e0169109b76b/c682080efaa9",
    "read_write_DEFLATE_nbo0_u2_b1": "d07e6cbe789a/0081979e2f3f",
    "read_write_DEFLATE_nbo0_u2_b3": "9181503323af/a361d38d0bb6",
    "read_write_DEFLATE_nbo1_f4_b1": "7b2338bd216d/419fa5f84676",
    "read_write_DEFLATE_nbo1_f4_b3": "c6eafbc1d3ca/294872cb8176",
    "read_write_DEFLATE_nbo1_i2_b1": "ba036219addc/98c9a3349979",
    "read_write_DEFLATE_nbo1_i2_b3": "18f695423037/2f5726974fd9",
    "read_write_DEFLATE_nbo1_u1_b1": "b21af39ccd55/ae06c7e1b522",
    "read_write_DEFLATE_nbo1_u1_b3": "e0169109b76b/d76e9a09eaba",
    "read_write_DEFLATE_nbo1_u2_b1": "d07e6cbe789a/bfbd8c997452",
    "read_write_DEFLATE_nbo1_u2_b3": "9181503323af/2f1975f0628f",
    "read_write_JPEG_b1": "fd44ee15dc5e/5992bd718cfa",
    "read_write_JPEG_b3": "b4b9fae0b952/23ecb099d795",
    "read_write_NONE_nbo0_f4_b1": "7b2338bd216d/3ae6bd551941",
    "read_write_NONE_nbo0_f4_b3": "c6eafbc1d3ca/e8a2e89dad46",
    "read_write_NONE_nbo0_i2_b1": "ba036219addc/db8f0a05835c",
    "read_write_NONE_nbo0_i2_b3": "18f695423037/45d8b1588719",
    "read_write_NONE_nbo0_u1_b1": "b21af39ccd55/932cd80915d1",
    "read_write_NONE_nbo0_u1_b3": "e0169109b76b/50d44b7869af",
    "read_write_NONE_nbo0_u2_b1": "d07e6cbe789a/c76ad37cc3d9",
    "read_write_NONE_nbo0_u2_b3": "9181503323af/df1402b44763",
    "read_write_NONE_nbo1_f4_b1": "7b2338bd216d/5f898e130705",
    "read_write_NONE_nbo1_f4_b3": "c6eafbc1d3ca/cd8125dcaa3a",
    "read_write_NONE_nbo1_i2_b1": "ba036219addc/e576681f7d1b",
    "read_write_NONE_nbo1_i2_b3": "18f695423037/a659d002fcae",
    "read_write_NONE_nbo1_u1_b1": "b21af39ccd55/bbd3d6a57ff0",
    "read_write_NONE_nbo1_u1_b3": "e0169109b76b/c80d93a70a0b",
    "read_write_NONE_nbo1_u2_b1": "d07e6cbe789a/21b9d2a58308",
    "read_write_NONE_nbo1_u2_b3": "9181503323af/ffc0f0b6789a",
    "read_write_PNG_b1": "b21af39ccd55/e2468643354e",
    "read_write_PNG_b3": "e0169109b76b/c2cecdce7907",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_pinned_output(name, tmp_path):
    assert digest(CASES[name](str(tmp_path))) == PINNED[name]


def test_every_case_is_pinned():
    assert sorted(PINNED) == sorted(CASES)


@pytest.mark.parametrize("name", sorted(k for k in MRF_FILES
                                        if "JPEG" not in k))
def test_lossless_read_matches_source(name, tmp_path):
    """Every lossless layout reads back its source pixels, missing
    pages as NoData (else zero)."""
    arr, info = M.mrf_read(MRF_FILES[name](str(tmp_path)))
    if name.startswith("hand_tif"):
        b = info["bands"]
        want = _pixels(23, 37, b, "u1").reshape(23, 37, b).copy()
        want[16:, 16:32] = 9
    elif name.startswith("hand_band"):
        want = _pixels(23, 37, 3, "u2")
        if name.endswith("c1"):
            want[:16, :16, 1] = 0
        else:
            want[:16, 16:32] = 0
    elif name.startswith("hand_png"):
        want = _pixels(23, 37, 3, "u1")
    else:
        _, comp, *rest = name.split("_")
        dt = rest[1] if comp in ("NONE", "DEFLATE") else "u1"
        b = int(rest[-1][1:])
        want = _pixels(23, 37, b, dt)
    np.testing.assert_array_equal(arr, want.reshape(arr.shape))


# ---------------------------------------------------------------------------
# distributed page scan
# ---------------------------------------------------------------------------

PINNED_SCAN = {
    "hand_tif_pages_b3": "a4b30e40b1ce",
    "ovr_AVG_u1_nd1_level1": "8abd58805713",
    "write_DEFLATE_nbo1_u2_b1": "deaae5a41a4b",
    "write_NONE_nbo0_f4_b3": "424f7cd092f0",
}


def _scan_digests(spark, tmp_path) -> dict:
    got = {}
    for name, lv in (("write_DEFLATE_nbo1_u2_b1", 0),
                     ("write_NONE_nbo0_f4_b3", 0),
                     ("hand_tif_pages_b3", 0)):
        d = tmp_path / name
        d.mkdir()
        rows = M.scan_mrf_pages(spark, MRF_FILES[name](str(d)), lv).collect()
        got[name] = _meta_digest(sorted(tuple(r) for r in rows))
    d = tmp_path / "ovr"
    d.mkdir()
    _ovr(str(d), "AVG", "u1", 1)
    rows = M.scan_mrf_pages(spark, str(d / "o.mrf"), 1).collect()
    got["ovr_AVG_u1_nd1_level1"] = _meta_digest(sorted(tuple(r) for r in rows))
    return got


def test_scan_mrf_pages_pinned(spark, tmp_path):
    assert _scan_digests(spark, tmp_path) == PINNED_SCAN


# ---------------------------------------------------------------------------
# quarantine classification
# ---------------------------------------------------------------------------

_PAD = bytes(range(16)) * 4
CLASSIFY_INPUTS = {
    "webp": b"RIFF\x40\x00\x00\x00WEBPVP8 " + _PAD,
    "avif": b"\x00\x00\x00\x1cftypavif" + _PAD,
    "avis": b"\x00\x00\x00\x1cftypavis" + _PAD,
    "heic": b"\x00\x00\x00\x1cftypheic" + _PAD,
    "heix": b"\x00\x00\x00\x1cftypheix" + _PAD,
    "hevc": b"\x00\x00\x00\x1cftyphevc" + _PAD,
    "hevx": b"\x00\x00\x00\x1cftyphevx" + _PAD,
    "mif1": b"\x00\x00\x00\x1cftypmif1" + _PAD,
    "msf1": b"\x00\x00\x00\x1cftypmsf1" + _PAD,
    "jxl_codestream": b"\xff\x0a" + _PAD,
    "jxl_container": b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a" + _PAD,
    "jp2_box": b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a" + _PAD,
    "j2k_codestream": b"\xff\x4f\xff\x51" + _PAD,
    "random": np.random.default_rng(7).integers(0, 256, 200, np.uint8).tobytes(),
    "empty": b"",
}
CLASSIFY_FMTS = ("png", "jpeg", "webp", "avif", "heif", "jxl", "jp2", "bogus")

# status per (input, fmt), in CLASSIFY_FMTS order: o = ok,
# u = unsupported_codec, c = corrupt
PINNED_STATUS = {
    "avif": "cccccccu",
    "avis": "cccccccu",
    "empty": "cccccccc",
    "heic": "cccccccu",
    "heix": "cccccccu",
    "hevc": "cccccccu",
    "hevx": "cccccccu",
    "j2k_codestream": "ccccccuu",
    "jp2_box": "ccccccuu",
    "jxl_codestream": "cccccucu",
    "jxl_container": "cccccucu",
    "mif1": "cccccccu",
    "msf1": "cccccccu",
    "random": "cccccccc",
    "webp": "cccccccu",
}


@pytest.mark.parametrize("key", sorted(CLASSIFY_INPUTS))
def test_classify_status_pinned(key):
    letter = {C.STATUS_OK: "o", C.STATUS_UNSUPPORTED: "u", C.STATUS_CORRUPT: "c"}
    got = "".join(letter[C.classify_image(CLASSIFY_INPUTS[key], f)]
                  for f in CLASSIFY_FMTS)
    assert got == PINNED_STATUS[key]


# ---------------------------------------------------------------------------
# tile decoders
# ---------------------------------------------------------------------------

_T = _pixels(16, 16, 4, "u1", step=5)
TILE_INPUTS = {
    "png_gray": C.png_encode(_T[:, :, :1]),
    "png_rgb": C.png_encode(_T[:, :, :3]),
    "png_rgba": C.png_encode(_T),
    "jpeg_gray": jpeg_encode(_smooth(16, 16, 1), gray=True),
    "jpeg_rgb": C.encode_image(_smooth(16, 16, 3), "jpeg"),
    "tiff_gray": tiff_encode(_T[:, :, 0]),
    "tiff_rgb": tiff_encode(_T[:, :, :3], compression="deflate"),
    "webp_rgb": C.encode_image(_T[:, :, :3], "webp"),
    "garbage": b"\x00\x01garbage bytes that no decoder claims" * 3,
}
TILE_DECODERS = {
    "mbtiles": mbtiles._decode_tile,
    "esric": lambda b: esric._decode_tile(b, 16),
    "kmlso": lambda b: kmlso._decode("icon", b),
}


def _tile_pin(fn, blob) -> str:
    try:
        return _arrays_digest([fn(blob)])
    except Exception as exc:  # the pin is the exception type
        return type(exc).__name__


# decoded digest or exception name per decoder and input; mbtiles_webp_rgb
# was "ValueError" before MBTiles/GPKG tiles were sniffed through identify
PINNED_TILES = {
    "esric_garbage": "ValueError",
    "esric_jpeg_gray": "e674dea15477",
    "esric_jpeg_rgb": "2b6a588de1ba",
    "esric_png_gray": "0aa62d027d32",
    "esric_png_rgb": "ee6ad3c7f539",
    "esric_png_rgba": "6402667e6310",
    "esric_tiff_gray": "ValueError",
    "esric_tiff_rgb": "ValueError",
    "esric_webp_rgb": "ValueError",
    "kmlso_garbage": "ValueError",
    "kmlso_jpeg_gray": "393346757caf",
    "kmlso_jpeg_rgb": "9e869e33c462",
    "kmlso_png_gray": "ae0061b2b82f",
    "kmlso_png_rgb": "b053904b5049",
    "kmlso_png_rgba": "6402667e6310",
    "kmlso_tiff_gray": "ae0061b2b82f",
    "kmlso_tiff_rgb": "b053904b5049",
    "kmlso_webp_rgb": "ValueError",
    "mbtiles_garbage": "ValueError",
    "mbtiles_jpeg_gray": "393346757caf",
    "mbtiles_jpeg_rgb": "9e869e33c462",
    "mbtiles_png_gray": "ae0061b2b82f",
    "mbtiles_png_rgb": "b053904b5049",
    "mbtiles_png_rgba": "6402667e6310",
    "mbtiles_tiff_gray": "ValueError",
    "mbtiles_tiff_rgb": "ValueError",
    "mbtiles_webp_rgb": "b053904b5049",
}


@pytest.mark.parametrize("dec", sorted(TILE_DECODERS))
@pytest.mark.parametrize("key", sorted(TILE_INPUTS))
def test_tile_decode_pinned(dec, key):
    assert _tile_pin(TILE_DECODERS[dec], TILE_INPUTS[key]) == \
        PINNED_TILES[f"{dec}_{key}"]


def test_mbtiles_webp_tile_decodes():
    """MBTiles and GPKG (which shares the decoder) read WebP tiles."""
    np.testing.assert_array_equal(
        mbtiles._decode_tile(TILE_INPUTS["webp_rgb"]), _T[:, :, :3])


def test_driver_codec_keys_are_codecs():
    assert set(C.DRIVER_CODEC.values()) <= set(C.DECODERS) | C.UNSUPPORTED_CODECS


@pytest.mark.parametrize("key", sorted(TILE_INPUTS))
def test_codec_of_names_the_tile_codec(key):
    want = {"png": "png", "jpeg": "jpeg", "tiff": "tiff", "webp": "webp"}
    assert C.codec_of(TILE_INPUTS[key]) == want.get(key.split("_")[0])
