"""Pinned outputs of the TIFF container: reader, writers and the drivers
that read TIFF headers.

Every case builds its input in memory, either with a package writer
(`tiff_encode`, `write_cog`, `tiff_encode_seq`) or with this file's own
IFD builder for layouts no writer produces (MM byte order, planar=2,
16/32/64-bit, predictor 3, complex, 1-bit, JPEG with JPEGTables, LZMA,
BigTIFF). A pin is `array digest/metadata digest`; the pins were
recorded before the writers, the chunk codec and the predictor were
merged into one of each, and must not move. `write_cog` cases also pin
the full output bytes. The tests after the pins check decoded pixels
against the source arrays, the defects that the merge fixed, and the
bounds on hostile headers and Deflate/LZMA bombs.
"""

from __future__ import annotations

import hashlib
import json
import lzma
import struct
import tracemalloc
import zlib

import numpy as np
import pytest

from gdal_spark.functions import tiff as TF
from gdal_spark.multimodal import tiff_encode_seq
from gdal_spark.raster import cog as CG

# ---------------------------------------------------------------------------
# the test's own TIFF builder (independent of the package writers)
# ---------------------------------------------------------------------------

_FMT = {1: "B", 3: "H", 4: "I", 5: "I", 11: "f", 12: "d", 16: "Q"}


def build(tags: dict, chunks: list[bytes], bo: str = "<", big: bool = False,
          tiled: bool = False) -> bytes:
    """header | chunks | out-of-line values | one IFD. `tags` maps tag ->
    (type, values), ASCII/UNDEFINED values as bytes; the strip or tile
    offsets and byte counts are filled in from `chunks`."""
    pos = 16 if big else 8
    offs = []
    for c in chunks:
        offs.append(pos)
        pos += len(c)
    tags = dict(tags)
    tags[324 if tiled else 273] = (16 if big else 4, offs)
    tags[325 if tiled else 279] = (4, [len(c) for c in chunks])
    inline, ptr = (8, "Q") if big else (4, "I")
    values, slots = b"", []
    for tag in sorted(tags):
        typ, vals = tags[tag]
        if isinstance(vals, bytes):
            payload, cnt = vals, len(vals)
        else:
            cnt = len(vals) // 2 if typ == 5 else len(vals)
            payload = struct.pack(bo + str(len(vals)) + _FMT[typ], *vals)
        if len(payload) > inline:
            slot = struct.pack(bo + ptr, pos + len(values))
            values += payload
        else:
            slot = payload.ljust(inline, b"\0")
        slots.append((tag, typ, cnt, slot))
    ifd_off = pos + len(values)
    ifd = struct.pack(bo + ("Q" if big else "H"), len(slots))
    for tag, typ, cnt, slot in slots:
        ifd += struct.pack(bo + ("HHQ" if big else "HHI"), tag, typ, cnt) + slot
    ifd += struct.pack(bo + ptr, 0)
    mark = b"II" if bo == "<" else b"MM"
    head = (struct.pack(bo + "2sHHHQ", mark, 43, 8, 0, ifd_off) if big
            else struct.pack(bo + "2sHI", mark, 42, ifd_off))
    return head + b"".join(chunks) + values + ifd


def base_tags(h, w, spp, bits, sfmt=1, comp=1, pred=1, planar=1, photo=None):
    t = {256: (4, [w]), 257: (4, [h]), 258: (3, [bits] * spp),
         259: (3, [comp]), 262: (3, [photo if photo is not None
                                     else (2 if spp == 3 else 1)]),
         277: (3, [spp]), 284: (3, [planar]), 339: (3, [sfmt] * spp)}
    if pred != 1:
        t[317] = (3, [pred])
    return t


def pred2(block: np.ndarray) -> np.ndarray:
    """Horizontal differencing of (rows, width, nsmp), modular."""
    u = block.view(f"u{block.dtype.itemsize}").copy()
    u[:, 1:] = u[:, 1:] - block.view(u.dtype)[:, :-1]
    return u.view(block.dtype)


def pred3(block: np.ndarray) -> bytes:
    """Floating-point predictor (TIFF Technote 3, libtiff fpDiff) of
    (rows, width, nsmp): per row, byte planes in big-endian significance
    order, then differenced with a stride of nsmp bytes."""
    rows, w, n = block.shape
    isz = block.dtype.itemsize
    be = block.astype(block.dtype.newbyteorder(">")).view(np.uint8)
    planes = be.reshape(rows, w * n, isz).transpose(0, 2, 1).reshape(rows, -1, n)
    out = planes.copy()
    out[:, 1:] = planes[:, 1:] - planes[:, :-1]
    return out.tobytes()


def compress(raw: bytes, comp: int) -> bytes:
    return {1: lambda b: b, 5: TF.lzw_encode, 32773: TF.packbits_encode,
            8: zlib.compress, 32946: zlib.compress,
            34925: lambda b: lzma.compress(b, lzma.FORMAT_XZ)}[comp](raw)


def strips(a: np.ndarray, rps: int, comp=1, pred=1, bo="<", planar=1):
    """(h, w, spp) -> strip chunks (band-major when planar=2)."""
    planes = [a[:, :, b:b + 1] for b in range(a.shape[2])] if planar == 2 else [a]
    out = []
    for p in planes:
        for y in range(0, a.shape[0], rps):
            blk = p[y:y + rps]
            if pred == 2:
                blk = pred2(blk)
            raw = (pred3(blk) if pred == 3
                   else blk.astype(blk.dtype.newbyteorder(bo)).tobytes())
            out.append(compress(raw, comp))
    return out


def tiles(a: np.ndarray, ts: int, comp=1, pred=1, bo="<", planar=1):
    planes = [a[:, :, b:b + 1] for b in range(a.shape[2])] if planar == 2 else [a]
    out = []
    for p in planes:
        for y in range(0, a.shape[0], ts):
            for x in range(0, a.shape[1], ts):
                t = np.zeros((ts, ts, p.shape[2]), p.dtype)
                sub = p[y:y + ts, x:x + ts]
                t[:sub.shape[0], :sub.shape[1]] = sub
                if pred == 2:
                    t = pred2(t)
                raw = (pred3(t) if pred == 3
                       else t.astype(t.dtype.newbyteorder(bo)).tobytes())
                out.append(compress(raw, comp))
    return out


def pix(h, w, spp, dt, seed=0) -> np.ndarray:
    dt = np.dtype(dt)
    rng = np.random.default_rng(seed)
    if dt.kind == "f":
        return (rng.standard_normal((h, w, spp)) * 1000).astype(dt)
    if dt.kind == "c":
        return (rng.standard_normal((h, w, spp))
                + 1j * rng.standard_normal((h, w, spp))).astype(dt)
    info = np.iinfo(dt)
    return rng.integers(info.min, info.max, (h, w, spp), dtype=dt,
                        endpoint=True)


_SFMT = {"u": 1, "i": 2, "f": 3}


def sample_tiff(a, *, comp=1, pred=1, bo="<", planar=1, rps=None, ts=None,
                big=False, extra=None):
    """A hand-built TIFF holding `a` (h, w, spp)."""
    h, w, spp = a.shape
    t = base_tags(h, w, spp, a.dtype.itemsize * 8, _SFMT[a.dtype.kind],
                  comp, pred, planar)
    if ts:
        t[322], t[323] = (3, [ts]), (3, [ts])
        chunks = tiles(a, ts, comp, pred, bo, planar)
    else:
        t[278] = (4, [rps or h])
        chunks = strips(a, rps or h, comp, pred, bo, planar)
    t.update(extra or {})
    return build(t, chunks, bo, big, tiled=bool(ts))


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


def _parse(buf: bytes, ifd_index: int = 0):
    arr, meta = TF.tiff_parse(buf, ifd_index)
    return [arr], meta


CASES: dict = {}


def _gray(h=23, w=37, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w)).astype(np.uint8)


def _rgb(h=23, w=37, seed=1):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3)).astype(np.uint8)


def _smooth(h=40, w=50, spp=1):
    """Compressible 8-bit image with edges that predictor 2 shrinks."""
    y, x = np.mgrid[0:h, 0:w]
    planes = [((x * (3 + b) + y * 2 + (x // 7) * 11) % 256) for b in range(spp)]
    a = np.stack(planes, -1).astype(np.uint8)
    return a[:, :, 0] if spp == 1 else a


# ---- tiff_encode: compression x predictor x gray/RGB x rows_per_strip ----

for _comp in ("none", "lzw", "packbits", "deflate"):
    for _pred in ((1, 2) if _comp in ("lzw", "deflate") else (1,)):
        for _kind in ("gray", "rgb"):
            for _rps in (7, 64):
                def _enc(comp=_comp, pred=_pred, kind=_kind, rps=_rps):
                    a = _gray() if kind == "gray" else _rgb()
                    buf = TF.tiff_encode(a, compression=comp, rows_per_strip=rps,
                                         predictor=pred)
                    arrs, meta = _parse(buf)
                    return arrs, {**meta, "length": len(buf)}
                CASES[f"encode_{_comp}_p{_pred}_{_kind}_rps{_rps}"] = _enc


def _enc_geo():
    gt = (-180.0, 0.1, 0.0, 85.0, 0.0, -0.1)
    buf = TF.tiff_encode(_smooth(), compression="deflate", geotransform=gt,
                         zlevel=9)
    arrs, meta = _parse(buf)
    return arrs, {**meta, "length": len(buf)}


CASES["encode_deflate_geotransform_z9"] = _enc_geo


# ---- write_cog: compress x predictor x bigtiff x blocksize, gray/RGB ----

def _cog_out(buf: bytes):
    info = CG.cog_info(buf)
    levels = [CG.read_cog_level(buf, i) for i in range(len(info["levels"]))]
    tiles_ = [CG.decode_cog_tile(buf[o:o + c], info["levels"][li])
              for li, _ty, _tx, o, c in CG.cog_tile_index(buf)]
    meta = {"sha": hashlib.sha256(buf).hexdigest(), "length": len(buf),
            "levels": info["levels"],
            "ghost": info["ghost"], "tiles": _arrays_digest(tiles_)}
    return levels, meta


COGS: dict = {}
for _comp in ("none", "lzw", "packbits", "deflate"):
    for _pred in ((1, 2) if _comp in ("lzw", "deflate") else (1,)):
        for _big in (False, True):
            for _bs in (16, 32):
                for _kind in ("gray", "rgb"):
                    def _cog(comp=_comp, pred=_pred, big=_big, bs=_bs, kind=_kind):
                        a = _smooth(40, 50, 1 if kind == "gray" else 3)
                        gt = (500000.0, 30.0, 0.0, 4200000.0, 0.0, -30.0)
                        return CG.write_cog(a, geotransform=gt, blocksize=bs,
                                            compress=comp, bigtiff=big,
                                            predictor=pred)
                    COGS[f"cog_{_comp}_p{_pred}_big{int(_big)}_bs{_bs}_{_kind}"] = _cog
COGS["cog_auto_near_rgb"] = lambda: CG.write_cog(
    _rgb(70, 45), blocksize=32, resampling="near", bigtiff="auto")
for _name, _fn in COGS.items():
    CASES[_name] = lambda fn=_fn: _cog_out(fn())


# ---- tiff_encode_seq ----

def _seq(rps):
    def run():
        frames = [_gray(11, 13, s) for s in range(3)] + [_rgb(9, 6, 7)]
        buf = tiff_encode_seq(frames, rows_per_strip=rps)
        n = len(TF.ifd_offsets(buf))
        outs = [TF.tiff_parse(buf, i) for i in range(n)]
        return ([a for a, _ in outs],
                {"metas": [m for _, m in outs], "length": len(buf)})
    return run


CASES["seq_rps4"] = _seq(4)
CASES["seq_rps64"] = _seq(64)


# ---- reader cases that no package writer produces ----

def _reader(a, **kw):
    return lambda: _parse(sample_tiff(a, **kw))


_READER = {
    "mm_u8_none": (pix(9, 11, 1, "u1"), {"bo": ">"}),
    "mm_rgb_lzw_pred2": (pix(9, 11, 3, "u1"), {"bo": ">", "comp": 5, "pred": 2}),
    "mm_i16_deflate": (pix(9, 11, 1, "i2"), {"bo": ">", "comp": 8, "rps": 4}),
    "mm_f32_lzw_pred3": (pix(9, 11, 1, "f4"), {"bo": ">", "comp": 5, "pred": 3}),
    "mm_f64_tiled": (pix(20, 18, 1, "f8"), {"bo": ">", "ts": 16}),
    "u16_none": (pix(9, 11, 1, "u2"), {}),
    "i16_packbits": (pix(9, 11, 1, "i2"), {"comp": 32773, "rps": 2}),
    "u32_lzw": (pix(9, 11, 1, "u4"), {"comp": 5}),
    "i32_deflate_pred2": (pix(9, 11, 1, "i4"), {"comp": 8, "pred": 2}),
    "u64_none": (pix(5, 4, 1, "u8"), {}),
    "i64_deflate": (pix(5, 4, 1, "i8"), {"comp": 8}),
    "i8_pred2": (pix(9, 11, 1, "i1"), {"comp": 8, "pred": 2}),
    "f32_deflate_pred3": (pix(9, 11, 1, "f4"), {"comp": 8, "pred": 3, "rps": 4}),
    "f64_lzw_pred3": (pix(9, 11, 1, "f8"), {"comp": 5, "pred": 3}),
    "f32_none": (pix(9, 11, 2, "f4"), {}),
    "rgb_olddeflate_pred2": (pix(9, 11, 3, "u1"), {"comp": 32946, "pred": 2}),
    "planar2_strips_rgb_lzw": (pix(9, 11, 3, "u1"), {"comp": 5, "planar": 2, "rps": 4}),
    "planar2_strips_u16_pred2": (pix(9, 11, 3, "u2"), {"comp": 8, "planar": 2, "pred": 2}),
    "planar2_tiles_u16": (pix(20, 24, 3, "u2"), {"comp": 8, "planar": 2, "ts": 16}),
    "planar2_tiles_rgb_mm": (pix(20, 24, 3, "u1"), {"planar": 2, "ts": 16, "bo": ">"}),
    "tiled_rgb_lzw_pred2": (pix(20, 24, 3, "u1"), {"comp": 5, "pred": 2, "ts": 16}),
    "lzma_gray": (pix(9, 11, 1, "u1"), {"comp": 34925, "rps": 4}),
    "lzma_tiled_u16": (pix(20, 18, 1, "u2"), {"comp": 34925, "ts": 16}),
    "bigtiff_mm_u16": (pix(9, 11, 1, "u2"), {"bo": ">", "big": True, "comp": 8}),
    "bigtiff_tiled_rgb": (pix(20, 18, 3, "u1"), {"big": True, "ts": 16}),
    "geotiff_nodata_geokeys": (pix(9, 11, 1, "i2"), {"extra": {
        33550: (12, [2.0, 3.0, 0.0]),
        33922: (12, [1.0, 2.0, 0.0, 100.0, 200.0, 0.0]),
        34735: (3, [1, 1, 0, 1, 3072, 0, 1, 32633]),
        42113: (2, b"-9999\0")}}),
}
for _name, (_a, _kw) in _READER.items():
    CASES[f"read_{_name}"] = _reader(_a, **_kw)


def _truncated_last_strip():
    # the last strip stores 1 of its 2 rows (writers may cut it short)
    t = base_tags(10, 7, 1, 8)
    t[278] = (4, [4])
    chunks = strips(pix(10, 7, 1, "u1"), 4)
    chunks[-1] = chunks[-1][:7]
    return _parse(build(t, chunks))


CASES["read_truncated_last_strip"] = _truncated_last_strip


def _complex(bits, sfmt, dt, struct_dt=None):
    def run():
        a = pix(6, 7, 1, dt)
        if struct_dt is not None:
            body = np.empty(a.shape, struct_dt)
            body["r"] = np.round(a.real * 10)
            body["i"] = np.round(a.imag * 10)
            raw = body.tobytes()
        else:
            raw = a.tobytes()
        t = base_tags(6, 7, 1, bits, sfmt)
        t[278] = (4, [6])
        return _parse(build(t, [raw]))
    return run


CASES["read_cfloat32"] = _complex(64, 6, "c8")
CASES["read_cfloat64"] = _complex(128, 6, "c16")
CASES["read_cint16"] = _complex(32, 5, "c8", [("r", "<i2"), ("i", "<i2")])
CASES["read_cint32"] = _complex(64, 5, "c16", [("r", "<i4"), ("i", "<i4")])


def _bits(h=13, w=19, seed=3):
    return (np.random.default_rng(seed).random((h, w)) < 0.3).astype(np.uint8)


def bilevel(comp, rps=5, extra=None):
    b = _bits()
    h, w = b.shape
    t = {256: (4, [w]), 257: (4, [h]), 258: (3, [1]), 259: (3, [comp]),
         262: (3, [0]), 277: (3, [1]), 278: (4, [rps])}
    t.update(extra or {})
    chunks = []
    for y in range(0, h, rps):
        blk = b[y:y + rps]
        if comp == 4:
            from gdal_spark.functions.ccitt import g4_encode
            chunks.append(g4_encode(blk))
        else:
            chunks.append(compress(np.packbits(blk, axis=1).tobytes(), comp))
    return build(t, chunks)


CASES["read_1bit_none"] = lambda: _parse(bilevel(1))
CASES["read_1bit_packbits"] = lambda: _parse(bilevel(32773))
CASES["read_1bit_g4"] = lambda: _parse(bilevel(4, rps=13))


def jpeg_split(stream: bytes) -> tuple[bytes, bytes]:
    """A full JPEG -> (JPEGTables: SOI DQT DHT EOI, abbreviated stream)."""
    tables, rest, i = b"\xff\xd8", b"\xff\xd8", 2
    while i < len(stream):
        marker = stream[i + 1]
        (n,) = struct.unpack(">H", stream[i + 2:i + 4])
        seg = stream[i:i + 2 + n]
        if marker == 0xDA:
            rest += stream[i:]
            break
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            rest += seg
        i += 2 + n
    return tables + b"\xff\xd9", rest


def jpeg_tiff(rgb: bool, tiled: bool):
    from gdal_spark.functions.jpeg import jpeg_encode

    a = _smooth(32, 32, 3 if rgb else 1)
    if a.ndim == 2:
        a = a[:, :, None]
    spp = a.shape[2]
    ts = 16 if tiled else None
    t = base_tags(32, 32, spp, 8, 1, 7, photo=6 if rgb else 1)
    pieces = []
    for y in range(0, 32, 16):
        for x in range(0, 32, 16 if tiled else 32):
            blk = a[y:y + 16, x:x + (16 if tiled else 32)]
            pieces.append(jpeg_encode(blk if rgb else blk[:, :, 0],
                                      quality=90, gray=not rgb))
    tables = jpeg_split(pieces[0])[0]
    chunks = [jpeg_split(p)[1] for p in pieces]
    t[347] = (7, tables)
    if tiled:
        t[322], t[323] = (3, [ts]), (3, [ts])
    else:
        t[278] = (4, [16])
    return build(t, chunks, tiled=tiled)


CASES["read_jpeg_tables_gray"] = lambda: _parse(jpeg_tiff(False, False))
CASES["read_jpeg_tables_ycbcr"] = lambda: _parse(jpeg_tiff(True, False))
CASES["read_jpeg_tables_tiled"] = lambda: _parse(jpeg_tiff(True, True))


def _cog_jpeg_tile():
    buf = jpeg_tiff(True, True)
    tags = TF._read_ifd(buf, "<", struct.unpack_from("<I", buf, 4)[0])
    lv = {"tile_w": 16, "tile_h": 16, "samples": 3, "compression": 7,
          "predictor": 1, "photometric": 6, "jpeg_tables": bytes(tags[347][1])}
    o, c = tags[324][1][1], tags[325][1][1]
    return [CG.decode_cog_tile(buf[o:o + c], lv)], {}


CASES["cog_tile_jpeg_tables"] = _cog_jpeg_tile


# ---- drivers that read TIFF headers themselves ----

def _colormap(bo):
    def run():
        from gdal_spark.raster.kmlso import _tiff_colormap

        cmap = (np.arange(3 * 16, dtype=np.uint16) * 1371).tolist()
        buf = sample_tiff(pix(4, 4, 1, "u1") % 16, bo=bo,
                          extra={262: (3, [3]), 320: (3, cmap)})
        return [_tiff_colormap(buf), _tiff_colormap(sample_tiff(pix(2, 2, 1, "u1")))
                is None], {}
    return run


CASES["kmlso_colormap_ii"] = _colormap("<")
CASES["kmlso_colormap_mm"] = _colormap(">")


def _tiff_block():
    from gdal_spark.raster.info import _tiff_block

    out = [_tiff_block(sample_tiff(pix(20, 18, 1, "u1"), ts=16), 18, 20),
           _tiff_block(sample_tiff(pix(20, 18, 1, "u1"), rps=3, bo=">"), 18, 20),
           _tiff_block(sample_tiff(pix(20, 18, 1, "u1"), big=True), 18, 20),
           _tiff_block(TF.tiff_encode(_gray(), rows_per_strip=5), 37, 23)]
    return [np.array(out)], {}


CASES["info_tiff_block"] = _tiff_block


def _snap(bo):
    def run():
        from gdal_spark.raster.snap_tiff import SNAPTiff

        dimap = (b"<Dimap><Spectral_Band_Info><BAND_NAME>VV</BAND_NAME>"
                 b"<NO_DATA_VALUE_USED>true</NO_DATA_VALUE_USED>"
                 b"<NO_DATA_VALUE>0</NO_DATA_VALUE></Spectral_Band_Info>"
                 b"</Dimap>\0")
        s = SNAPTiff(sample_tiff(pix(4, 5, 1, "f4"), bo=bo,
                                 extra={65000: (2, dimap),
                                        270: (2, b"scene\0"),
                                        34735: (3, [1, 1, 0, 1, 2048, 0, 1, 4326])}))
        return [np.zeros(0)], {k: getattr(s, k) for k in (
            "width", "height", "dtype_name", "samples", "epsg", "nodata",
            "band_name", "image_description")}
    return run


CASES["snap_tiff_ii"] = _snap("<")
CASES["snap_tiff_mm"] = _snap(">")


def _pds4_dims():
    import os
    import tempfile
    from types import SimpleNamespace

    from gdal_spark.raster.pds4 import PDS4Dataset

    out = []
    with tempfile.TemporaryDirectory() as tmp:
        for i, kw in enumerate(({}, {"bo": ">"}, {"big": True})):
            p = os.path.join(tmp, f"img{i}.tif")
            with open(p, "wb") as f:
                f.write(sample_tiff(pix(6, 7, 3, "u1"), **kw))
            ds = SimpleNamespace(image_kind="tiff", image_file=p)
            out.append(PDS4Dataset._image_dims(ds))
    return [np.array(out)], {}


CASES["pds4_image_dims"] = _pds4_dims


# The metadata halves of the three read_1bit_* pins moved on purpose: the
# 1-bit path now shares the metadata builder, so its meta gained width,
# height, samples and compression (and "geotransform" where georeferenced,
# no longer "gt"). Their array halves are unchanged.
PINNED: dict[str, str] = {
    "cog_auto_near_rgb": "0626f904345f/4e1dd23849b6",
    "cog_deflate_p1_big0_bs16_gray": "495283bc297f/5436bd731f1d",
    "cog_deflate_p1_big0_bs16_rgb": "f7c36eb2f6f6/2028d0f59f72",
    "cog_deflate_p1_big0_bs32_gray": "63c162189940/3c9283fac7e0",
    "cog_deflate_p1_big0_bs32_rgb": "0ab9f00ab2fc/7a046202dd68",
    "cog_deflate_p1_big1_bs16_gray": "495283bc297f/ce6a6eb35896",
    "cog_deflate_p1_big1_bs16_rgb": "f7c36eb2f6f6/eb8a326a961b",
    "cog_deflate_p1_big1_bs32_gray": "63c162189940/c4ce03bbf776",
    "cog_deflate_p1_big1_bs32_rgb": "0ab9f00ab2fc/6c54fca21216",
    "cog_deflate_p2_big0_bs16_gray": "495283bc297f/6a0eaacd3a60",
    "cog_deflate_p2_big0_bs16_rgb": "f7c36eb2f6f6/965c0f3669fb",
    "cog_deflate_p2_big0_bs32_gray": "63c162189940/0cae581d9639",
    "cog_deflate_p2_big0_bs32_rgb": "0ab9f00ab2fc/ac1fe35f71b3",
    "cog_deflate_p2_big1_bs16_gray": "495283bc297f/f553e56fb8c0",
    "cog_deflate_p2_big1_bs16_rgb": "f7c36eb2f6f6/ab2bd3c341b3",
    "cog_deflate_p2_big1_bs32_gray": "63c162189940/c460b836bc64",
    "cog_deflate_p2_big1_bs32_rgb": "0ab9f00ab2fc/08c3c4f59caa",
    "cog_lzw_p1_big0_bs16_gray": "495283bc297f/2a42bd20624e",
    "cog_lzw_p1_big0_bs16_rgb": "f7c36eb2f6f6/c5c5bf3c0dff",
    "cog_lzw_p1_big0_bs32_gray": "63c162189940/9bda2318c854",
    "cog_lzw_p1_big0_bs32_rgb": "0ab9f00ab2fc/9cf145908e0a",
    "cog_lzw_p1_big1_bs16_gray": "495283bc297f/6487c6b4ea50",
    "cog_lzw_p1_big1_bs16_rgb": "f7c36eb2f6f6/b1f1f293804c",
    "cog_lzw_p1_big1_bs32_gray": "63c162189940/f1a6c7eebde7",
    "cog_lzw_p1_big1_bs32_rgb": "0ab9f00ab2fc/b10c1362cd32",
    "cog_lzw_p2_big0_bs16_gray": "495283bc297f/6f5bcbd1b190",
    "cog_lzw_p2_big0_bs16_rgb": "f7c36eb2f6f6/9695e97f6f4d",
    "cog_lzw_p2_big0_bs32_gray": "63c162189940/60aaa76ecaa5",
    "cog_lzw_p2_big0_bs32_rgb": "0ab9f00ab2fc/622a882a08cc",
    "cog_lzw_p2_big1_bs16_gray": "495283bc297f/1521982b8b6e",
    "cog_lzw_p2_big1_bs16_rgb": "f7c36eb2f6f6/4a08e3338ad4",
    "cog_lzw_p2_big1_bs32_gray": "63c162189940/bc886b3e7719",
    "cog_lzw_p2_big1_bs32_rgb": "0ab9f00ab2fc/98b9773db77d",
    "cog_none_p1_big0_bs16_gray": "495283bc297f/c167b62b0b05",
    "cog_none_p1_big0_bs16_rgb": "f7c36eb2f6f6/c0003c076d31",
    "cog_none_p1_big0_bs32_gray": "63c162189940/c73a9a079b5f",
    "cog_none_p1_big0_bs32_rgb": "0ab9f00ab2fc/fc0be74c6389",
    "cog_none_p1_big1_bs16_gray": "495283bc297f/f96428955036",
    "cog_none_p1_big1_bs16_rgb": "f7c36eb2f6f6/951336ede1d9",
    "cog_none_p1_big1_bs32_gray": "63c162189940/c88725dbe2cc",
    "cog_none_p1_big1_bs32_rgb": "0ab9f00ab2fc/58daf668ff91",
    "cog_packbits_p1_big0_bs16_gray": "495283bc297f/fd13fa76100a",
    "cog_packbits_p1_big0_bs16_rgb": "f7c36eb2f6f6/7681240ca01c",
    "cog_packbits_p1_big0_bs32_gray": "63c162189940/4f226492e25b",
    "cog_packbits_p1_big0_bs32_rgb": "0ab9f00ab2fc/a3f70c5e3588",
    "cog_packbits_p1_big1_bs16_gray": "495283bc297f/0a144b6bf52f",
    "cog_packbits_p1_big1_bs16_rgb": "f7c36eb2f6f6/3da5de2c48c8",
    "cog_packbits_p1_big1_bs32_gray": "63c162189940/80d8537e2f9a",
    "cog_packbits_p1_big1_bs32_rgb": "0ab9f00ab2fc/b1d8adbb464e",
    "cog_tile_jpeg_tables": "9d2e170dc489/44136fa355b3",
    "encode_deflate_geotransform_z9": "0c423844d1e0/5e59757dda87",
    "encode_deflate_p1_gray_rps64": "e87f3fab3c3b/18d2dbc5fdd6",
    "encode_deflate_p1_gray_rps7": "e87f3fab3c3b/5cfbaa19fc94",
    "encode_deflate_p1_rgb_rps64": "4778979d2478/9e1258b07aaf",
    "encode_deflate_p1_rgb_rps7": "4778979d2478/b05c58dc3b9b",
    "encode_deflate_p2_gray_rps64": "e87f3fab3c3b/fd9333f22524",
    "encode_deflate_p2_gray_rps7": "e87f3fab3c3b/06d2b51a248e",
    "encode_deflate_p2_rgb_rps64": "4778979d2478/b92658c889cf",
    "encode_deflate_p2_rgb_rps7": "4778979d2478/86fa5626f7e7",
    "encode_lzw_p1_gray_rps64": "e87f3fab3c3b/98bd663b1309",
    "encode_lzw_p1_gray_rps7": "e87f3fab3c3b/470908a95979",
    "encode_lzw_p1_rgb_rps64": "4778979d2478/a0c93b0c5779",
    "encode_lzw_p1_rgb_rps7": "4778979d2478/1a5ff0226e1d",
    "encode_lzw_p2_gray_rps64": "e87f3fab3c3b/8942c9951622",
    "encode_lzw_p2_gray_rps7": "e87f3fab3c3b/c1a8ac1fbb50",
    "encode_lzw_p2_rgb_rps64": "4778979d2478/924fc4a11485",
    "encode_lzw_p2_rgb_rps7": "4778979d2478/aadee22123cd",
    "encode_none_p1_gray_rps64": "e87f3fab3c3b/7d65521814ae",
    "encode_none_p1_gray_rps7": "e87f3fab3c3b/75bcd487d297",
    "encode_none_p1_rgb_rps64": "4778979d2478/2edee8235da1",
    "encode_none_p1_rgb_rps7": "4778979d2478/dd1379c5c170",
    "encode_packbits_p1_gray_rps64": "e87f3fab3c3b/6ac3cf32f241",
    "encode_packbits_p1_gray_rps7": "e87f3fab3c3b/a4e1742e0f7a",
    "encode_packbits_p1_rgb_rps64": "4778979d2478/82fe0cecb8a0",
    "encode_packbits_p1_rgb_rps7": "4778979d2478/4e0f229aa508",
    "info_tiff_block": "9c9ed0bf3573/44136fa355b3",
    "kmlso_colormap_ii": "1e7af52cb4a5/44136fa355b3",
    "kmlso_colormap_mm": "1e7af52cb4a5/44136fa355b3",
    "pds4_image_dims": "307c093e4d8c/44136fa355b3",
    "read_1bit_g4": "70cd26bd85dd/6c48e1121d17",
    "read_1bit_none": "70cd26bd85dd/a628b276b2a6",
    "read_1bit_packbits": "70cd26bd85dd/5d08fd70e497",
    "read_bigtiff_mm_u16": "0e1563dfad94/0aa7fbe33dc5",
    "read_bigtiff_tiled_rgb": "91e0e86c5717/eb7a54c4b1e3",
    "read_cfloat32": "3abdba13f3dd/dede15c1c3c0",
    "read_cfloat64": "7d240b836574/dede15c1c3c0",
    "read_cint16": "118e969f6f40/dede15c1c3c0",
    "read_cint32": "930744a2918c/dede15c1c3c0",
    "read_f32_deflate_pred3": "7997eb4a8e9b/0aa7fbe33dc5",
    "read_f32_none": "1c176e72fbdb/9247d3bc4a3a",
    "read_f64_lzw_pred3": "d27f639cd82c/bc1df42164eb",
    "read_geotiff_nodata_geokeys": "e643d7b3948d/7bd4e2235b5c",
    "read_i16_packbits": "e643d7b3948d/bc6552685f89",
    "read_i32_deflate_pred2": "988509b4c7c1/0aa7fbe33dc5",
    "read_i64_deflate": "b266636dd442/5527b1dd74dd",
    "read_i8_pred2": "7b76f06b05ee/0aa7fbe33dc5",
    "read_jpeg_tables_gray": "7c851a047695/0ea3ab8eecef",
    "read_jpeg_tables_tiled": "06c158a9618e/51aeb5a5ccd9",
    "read_jpeg_tables_ycbcr": "06c158a9618e/51aeb5a5ccd9",
    "read_lzma_gray": "0ea32aeecb05/70904742d727",
    "read_lzma_tiled_u16": "1e4eb42a8cd2/9aa693a9a7c2",
    "read_mm_f32_lzw_pred3": "7997eb4a8e9b/bc1df42164eb",
    "read_mm_f64_tiled": "8398fe32b554/647b4cfe8b63",
    "read_mm_i16_deflate": "e643d7b3948d/0aa7fbe33dc5",
    "read_mm_rgb_lzw_pred2": "c3fa5368fdd9/8b4884abad7c",
    "read_mm_u8_none": "0ea32aeecb05/7f8051b0206e",
    "read_planar2_strips_rgb_lzw": "c3fa5368fdd9/8b4884abad7c",
    "read_planar2_strips_u16_pred2": "7dcd1f2acbe5/57f75f798b43",
    "read_planar2_tiles_rgb_mm": "302c352791ce/7f8f734f4de4",
    "read_planar2_tiles_u16": "190fe0be3dcb/f10aa448ba26",
    "read_rgb_olddeflate_pred2": "c3fa5368fdd9/c05513075c4b",
    "read_tiled_rgb_lzw_pred2": "302c352791ce/754395cf4dba",
    "read_truncated_last_strip": "c5993961e19e/3f9b28350341",
    "read_u16_none": "0e1563dfad94/7f8051b0206e",
    "read_u32_lzw": "70e422b38cb1/bc1df42164eb",
    "read_u64_none": "53f9a2a4df4f/b5ed4adddde9",
    "seq_rps4": "5f16e4576145/7208acd1a4b7",
    "seq_rps64": "5f16e4576145/1fec7b1d2937",
    "snap_tiff_ii": "621947aa9e79/69d062c2f699",
    "snap_tiff_mm": "621947aa9e79/69d062c2f699",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_pinned_output(name):
    assert digest(CASES[name]()) == PINNED[name]


def test_every_case_is_pinned():
    assert sorted(PINNED) == sorted(CASES)


# ---------------------------------------------------------------------------
# decoded pixels against the source arrays
# ---------------------------------------------------------------------------


def _want(a: np.ndarray) -> np.ndarray:
    return a[:, :, 0] if a.shape[2] == 1 else a


@pytest.mark.parametrize("name", sorted(_READER))
def test_reader_matches_source(name):
    a, kw = _READER[name]
    np.testing.assert_array_equal(TF.tiff_parse(sample_tiff(a, **kw))[0], _want(a))


# layouts that decoded wrong before the predictors were merged into one
_FIXED = {
    # predictor 2 summed across the interleaved channels of 16-bit RGB
    "rgb_u16_deflate_pred2": (
        np.random.default_rng(1).integers(0, 60000, (4, 5, 3), dtype=np.uint16),
        {"comp": 8, "pred": 2}),
    "rgb_i32_tiled_pred2": (pix(20, 18, 3, "i4"), {"comp": 5, "pred": 2, "ts": 16}),
    # predictor 2 re-read native sums as big-endian samples
    "mm_u16_deflate_pred2": (pix(9, 11, 1, "u2"), {"bo": ">", "comp": 8, "pred": 2}),
    "mm_i32_pred2_planar2": (pix(9, 11, 2, "i4"), {"bo": ">", "pred": 2, "planar": 2}),
    # predictor 3 on chunky data differences with a stride of one pixel
    "f32_rgb_pred3_tiled": (pix(20, 18, 3, "f4"), {"comp": 8, "pred": 3, "ts": 16}),
    "mm_f64_pred3_2smp": (pix(9, 11, 2, "f8"), {"bo": ">", "comp": 5, "pred": 3}),
}


@pytest.mark.parametrize("name", sorted(_FIXED))
def test_predictor_fixes_match_source(name):
    a, kw = _FIXED[name]
    np.testing.assert_array_equal(TF.tiff_parse(sample_tiff(a, **kw))[0], _want(a))


def test_rgb16_predictor2_pixel():
    # summed across the channels, the first pixel read [53670 16524 61043]
    a, kw = _FIXED["rgb_u16_deflate_pred2"]
    out = TF.tiff_parse(sample_tiff(a, **kw))[0]
    assert out[0, 0].tolist() == [53670, 28390, 44519]


@pytest.mark.parametrize("comp", ["none", "lzw", "packbits", "deflate"])
@pytest.mark.parametrize("kind", ["gray", "rgb"])
def test_writers_roundtrip(comp, kind):
    a = _gray() if kind == "gray" else _rgb()
    for pred in ((1, 2) if comp in ("lzw", "deflate") else (1,)):
        buf = TF.tiff_encode(a, compression=comp, rows_per_strip=5, predictor=pred)
        np.testing.assert_array_equal(TF.tiff_decode(buf), a)
        cog = CG.write_cog(a, blocksize=16, compress=comp, predictor=pred)
        np.testing.assert_array_equal(CG.read_cog_level(cog), a)
    seq = tiff_encode_seq([a, a[::-1]], rows_per_strip=5)
    np.testing.assert_array_equal(TF.tiff_parse(seq, 1)[0], a[::-1])


def test_long_page_chain():
    # more pages than the chain walker once allowed (65)
    frames = [np.full((3, 2), i, np.uint8) for i in range(70)]
    buf = tiff_encode_seq(frames)
    assert len(TF.ifd_offsets(buf)) == 70
    assert TF.tiff_parse(buf, 69)[0].tolist() == frames[69].tolist()
    loop = bytearray(buf)
    last = TF.ifd_offsets(buf)[-1]
    n = struct.unpack_from("<H", loop, last)[0]
    struct.pack_into("<I", loop, last + 2 + 12 * n, TF.ifd_offsets(buf)[3])
    with pytest.raises(TF.TiffError, match="loop"):
        TF.ifd_offsets(bytes(loop))


@pytest.mark.parametrize("name", sorted(COGS))
def test_cog_cases_validate(name):
    assert CG.validate_cog(COGS[name]()) == []


# ---------------------------------------------------------------------------
# the 1-bit path shares the metadata builder
# ---------------------------------------------------------------------------


def test_bilevel_geotiff_geotransform(tmp_path):
    geo = {33550: (12, [2.0, 3.0, 0.0]),
           33922: (12, [0.0, 0.0, 0.0, 100.0, 200.0, 0.0])}
    buf = bilevel(32773, extra=geo)
    arr, meta = TF.tiff_parse(buf)
    np.testing.assert_array_equal(arr, _bits())
    assert meta["geotransform"] == (100.0, 2.0, 0.0, 200.0, 0.0, -3.0)
    assert "gt" not in meta
    assert (meta["width"], meta["height"], meta["nbits"]) == (19, 13, 1)

    from gdal_spark.raster.vrt import _probe_source

    p = tmp_path / "mask.tif"
    p.write_bytes(buf)
    src = _probe_source(str(p))
    assert (src["w"], src["h"], src["gt"]) == (19, 13, meta["geotransform"])


# ---------------------------------------------------------------------------
# header, IFD and size checks; bounded inflate
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("head", [b"XX*\0\x08\0\0\0", b"II\x2c\0\x08\0\0\0",
                                  b"MM\0\x2a", b"II"])
def test_header_rejects_bad_mark_and_magic(head):
    with pytest.raises(TF.TiffError):
        TF.tiff_header(head)
    with pytest.raises(TF.TiffError):
        TF.tiff_parse(head)


def test_header_and_ifd_offsets():
    assert TF.tiff_header(sample_tiff(pix(2, 2, 1, "u1"), bo=">"))[:2] == (">", False)
    buf = sample_tiff(pix(2, 2, 1, "u1"), big=True)
    bo, big, first = TF.tiff_header(buf)
    assert (bo, big) == ("<", True) and TF.ifd_offsets(buf) == [first]


def test_ifd_past_end_raises():
    buf = bytearray(sample_tiff(pix(2, 2, 1, "u1")))
    struct.pack_into("<I", buf, 4, len(buf) - 3)
    with pytest.raises(TF.TiffError):
        TF.tiff_parse(bytes(buf))


def test_snap_tiff_keeps_classic_only():
    from gdal_spark.raster.snap_tiff import SNAPTiff

    with pytest.raises(ValueError, match="classic"):
        SNAPTiff(sample_tiff(pix(2, 2, 1, "u1"), big=True,
                             extra={65000: (2, b"<Dimap/>\0")}))


def _peak(fn) -> int:
    tracemalloc.start()
    try:
        fn()
    finally:
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
    return peak


def test_hostile_header_raises_before_allocating():
    # 60000 x 60000 RGB uint16 (21.6 GB) claimed over a 16-byte body
    t = base_tags(60000, 60000, 3, 16, comp=8)
    t[278] = (4, [60000])
    buf = build(t, [zlib.compress(b"\0" * 16)])
    with pytest.raises(TF.TiffError, match="too large"):
        TF.tiff_parse(buf)
    bits = {256: (4, [200000]), 257: (4, [200000]), 258: (3, [1]),
            259: (3, [1]), 277: (3, [1]), 278: (4, [200000])}
    with pytest.raises(TF.TiffError, match="too large"):
        TF.tiff_parse(build(bits, [b"\0" * 16]))

    def run():
        with pytest.raises(TF.TiffError):
            TF.tiff_parse(buf)
    assert _peak(run) < 1 << 20


def _bomb(comp: int, total: int) -> bytes:
    """A stream that inflates to `total` zero bytes, built in 1 MB steps."""
    if comp == 8:
        enc = zlib.compressobj(9)
    else:
        enc = lzma.LZMACompressor(lzma.FORMAT_XZ)
    block = b"\0" * (1 << 20)
    out = [enc.compress(block) for _ in range(total >> 20)]
    return b"".join(out) + enc.flush()


@pytest.mark.parametrize("comp", [8, 34925])
def test_inflate_bomb_is_bounded(comp):
    # a 64 x 64 strip whose stream inflates to 64 MB; the bound leaves
    # room for the xz decoder's 8 MB dictionary
    t = base_tags(64, 64, 1, 8, comp=comp)
    t[278] = (4, [64])
    buf = build(t, [_bomb(comp, 64 << 20)])
    out = []
    peak = _peak(lambda: out.append(TF.tiff_parse(buf)[0]))
    np.testing.assert_array_equal(out[0], np.zeros((64, 64), np.uint8))
    assert peak < 16 << 20


def test_truncated_deflate_strip_raises():
    a = pix(16, 16, 1, "u1")
    t = base_tags(16, 16, 1, 8, comp=8)
    t[278] = (4, [16])
    chunk = zlib.compress(a.tobytes())
    with pytest.raises((TF.TiffError, zlib.error)):
        TF.tiff_parse(build(t, [chunk[: len(chunk) // 2]]))
