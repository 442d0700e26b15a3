"""MRF (Meta Raster Format) driver — read, write, uniform-scale pyramid,
distributed page scan.  The package's only MRF reader.

Format facts transcribed (frmts/mrf — decode/layout re-derived, no code
copied):
  metadata  ``.mrf`` XML: Raster/Size(x,y,c), PageSize, Compression
            (default PNG), DataType (default Byte), Order, NetByteOrder,
            DataValues NoData, Rsets(model=uniform, scale), GeoTags
            BoundingBox/Projection (marfa_dataset.cpp Init_Raster).
  index     ``.idx``: 16-byte big-endian (offset, size) per page; page
            order c-fastest then x then y (mrf_util.cpp IdxOffset), one
            block per level appended base-first; levels shrink by
            Rsets.scale until a level's pagecount reaches 1x1
            (mrf_util.cpp IdxSize).  (0, 0) entries = missing page,
            read as NoData (else zero) fill.
  data      one blob per page in the companion file; default extension
            by compression (mrf_util.cpp ILComp_Ext): PNG .ppg, JPEG
            .pjg, NONE .til, DEFLATE .pzp, TIF .ptf, LERC .lrc.
  pages     raw layout is row-major (y, x, c); NetByteOrder=on means
            big-endian payload for the endian-dependent NONE/DEFLATE.
            PNG/JPEG/TIF pages decode through the codec registry
            (functions/codecs.py decode_image).
  overviews mrf_overview.cpp ByFour kernels, transcribed exactly:
            NearByFour = top-left of each 2x2 (with NoData: first valid
            of TL,TR,BL,BR); AverageByFour = (2+a+b+c+d)/4 integer /
            plain mean float; with NoData: ints (acc+count/2)/count,
            floats acc/count, empty cell -> NoData.  Each level is
            sampled from the previous one on the padded page canvas.

Parity: autotest/gdrivers/mrf.py — the static data/mrf fixtures
(none/tif/png/deflate/lerc/lerc_v1/jpeg byte.*, tests/test_mrf.py) and
the overview checksums 1087 (NNB), 1117 (NNB+nodata), 1152 (AVG), 1164
(AVG+nodata), 93 (implicit level cascade).  Writer, overview, page-scan
and hand-built layouts (TIF pages, band-interleaved pages) are pinned
in tests/test_codec_dispatch.py.
"""

from __future__ import annotations

import os
import re
import struct
import zlib
from typing import Iterator

import numpy as np

__all__ = [
    "mrf_info", "mrf_read", "mrf_write", "build_mrf_overviews",
    "near_by_four", "average_by_four", "scan_mrf_pages",
]

_DT = {
    "Byte": "u1", "UInt8": "u1", "Int8": "i1",
    "Int16": "i2", "UInt16": "u2", "Int32": "i4", "UInt32": "u4",
    "Int64": "i8", "UInt64": "u8", "Float32": "f4", "Float64": "f8",
    "Float": "f4", "Double": "f8",
}
_EXT = {"PNG": ".ppg", "PPNG": ".ppg", "JPEG": ".pjg", "NONE": ".til",
        "DEFLATE": ".pzp", "TIF": ".ptf", "LERC": ".lrc"}


def _pcount(n: int, sz: int) -> int:
    return 1 + (n - 1) // sz


def _levels(w: int, h: int, psx: int, psy: int, scale: int):
    """[(w, h, pages_x, pages_y)] base first, then shrinking by
    ``scale`` until a level has a single page (mrf_util IdxSize)."""
    out = [(w, h, _pcount(w, psx), _pcount(h, psy))]
    if scale:
        while out[-1][2] * out[-1][3] != 1:
            w = _pcount(w, scale)
            h = _pcount(h, scale)
            out.append((w, h, _pcount(w, psx), _pcount(h, psy)))
    return out


def mrf_info(mrf_path: str) -> dict:
    xml = open(mrf_path, "r", encoding="utf-8").read()

    def attr(elem, name, default=None):
        m = re.search(r"<%s\b[^>]*\b%s=\"([^\"]*)\"" % (elem, name), xml)
        return m.group(1) if m else default

    def elem(name, default=None):
        m = re.search(r"<%s[^>]*>([^<]*)</%s>" % (name, name), xml)
        return m.group(1).strip() if m else default

    w = int(attr("Size", "x"))
    h = int(attr("Size", "y"))
    c = int(attr("Size", "c", "1"))
    psx = int(attr("PageSize", "x", "512"))
    psy = int(attr("PageSize", "y", "512"))
    psc = int(attr("PageSize", "c", str(c)))
    comp = (elem("Compression", "PNG") or "PNG").upper()
    dt = _DT[elem("DataType", "Byte")]
    nbo = (elem("NetByteOrder", "No") or "").lower() in ("on", "yes", "1",
                                                         "true")
    nodata = attr("DataValues", "NoData")
    if nodata is None:
        m = re.search(r"<DataValues>.*?<NoData>([^<]*)</NoData>", xml,
                      re.S)
        nodata = m.group(1).strip() if m else None
    scale = 0
    m = re.search(r"<Rsets\b[^>]*\bscale=\"([^\"]*)\"", xml)
    if m:
        scale = int(m.group(1))
    bbox = None
    if attr("BoundingBox", "minx") is not None:
        bbox = tuple(float(attr("BoundingBox", k))
                     for k in ("minx", "miny", "maxx", "maxy"))
    base = os.path.splitext(mrf_path)[0]
    dfile = elem("DataFile") or base + _EXT.get(comp, ".til")
    ifile = elem("IndexFile") or base + ".idx"
    if not os.path.isabs(dfile):
        dfile = os.path.join(os.path.dirname(mrf_path) or ".",
                             os.path.basename(dfile))
    gt = None
    if bbox:
        gt = (bbox[0], (bbox[2] - bbox[0]) / w, 0.0,
              bbox[3], 0.0, -(bbox[3] - bbox[1]) / h)
    return {
        "w": w, "h": h, "bands": c, "psx": psx, "psy": psy, "psc": psc,
        "comp": comp, "dtype": dt, "nbo": nbo,
        "nodata": None if nodata is None else float(nodata),
        "scale": scale, "bbox": bbox, "gt": gt,
        "projection": elem("Projection"),
        "data_file": dfile, "index_file": ifile,
        "levels": _levels(w, h, psx, psy, scale),
        "order": (elem("Order", "PIXEL") or "PIXEL").upper(),
    }


# page compressions decoded by the codec registry; NONE, DEFLATE and LERC
# pages are read here
_PAGE_CODEC = {"PNG": "png", "PPNG": "png", "JPEG": "jpeg", "TIF": "tiff"}


def _decode_page(blob: bytes, info: dict, psc: int) -> np.ndarray:
    """One page blob -> (psy, psx, psc) array."""
    psy, psx = info["psy"], info["psx"]
    dt = info["dtype"]
    comp = info["comp"]
    if comp in ("NONE", "DEFLATE"):
        raw = zlib.decompress(blob) if comp == "DEFLATE" else blob
        bo = ">" if info["nbo"] else "<"
        arr = np.frombuffer(raw, bo + dt, psy * psx * psc)
        return arr.reshape(psy, psx, psc).astype(dt)
    if comp in _PAGE_CODEC:
        from gdal_spark.functions.codecs import decode_image
        arr = decode_image(blob, _PAGE_CODEC[comp])
    elif comp == "LERC":
        from gdal_spark.raster.lerc import lerc_strip_decode
        arr, mask, _ = lerc_strip_decode(blob)
        if np.dtype(dt).kind in "iu":  # GDALCopyWord rounds, not truncates
            arr = np.rint(arr)
        if info.get("nodata") is not None and not mask.all():
            arr = np.array(arr, copy=True)
            arr[~mask] = info["nodata"]
    else:
        raise ValueError(f"unsupported MRF compression {comp}")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    return arr.astype(dt, copy=False)


def _read_idx(info: dict, level: int):
    idx = open(info["index_file"], "rb").read()
    pos = 0
    for lv, (_, _, px, py) in enumerate(info["levels"]):
        n = px * py * (info["bands"] // info["psc"])
        if lv == level:
            ents = struct.unpack(">%dq" % (2 * n), idx[pos:pos + 16 * n])
            return [(ents[2 * i], ents[2 * i + 1]) for i in range(n)]
        pos += 16 * n
    raise ValueError(f"MRF has no level {level}")


def mrf_read(mrf_path: str, level: int = 0) -> tuple[np.ndarray, dict]:
    """Decode one level -> (h, w, bands) array + the metadata dict."""
    info = mrf_info(mrf_path)
    w, h, px, py = info["levels"][level]
    psx, psy, psc = info["psx"], info["psy"], info["psc"]
    nbands = info["bands"]
    per_page_bands = psc
    pages_c = nbands // psc
    fill = info["nodata"] if info["nodata"] is not None else 0
    canvas = np.full((py * psy, px * psx, nbands), fill,
                     np.dtype(info["dtype"]))
    entries = _read_idx(info, level)
    data = open(info["data_file"], "rb").read()
    i = 0
    for y in range(py):
        for x in range(px):
            for cb in range(pages_c):
                off, size = entries[i]
                i += 1
                if size == 0:
                    continue
                page = _decode_page(data[off:off + size], info, psc)
                canvas[y * psy:(y + 1) * psy, x * psx:(x + 1) * psx,
                       cb * per_page_bands:(cb + 1) * per_page_bands] = \
                    page[:psy, :psx, :per_page_bands]
    return canvas[:h, :w, :], info


def near_by_four(canvas: np.ndarray, ndv=None) -> np.ndarray:
    """mrf_overview.cpp NearByFour: top-left of each 2x2; with NoData,
    the first valid of TL, TR, BL, BR."""
    a = canvas[0::2, 0::2]
    if ndv is None:
        return a.copy()
    b = canvas[0::2, 1::2]
    c = canvas[1::2, 0::2]
    d = canvas[1::2, 1::2]
    out = np.where(a != ndv, a, np.where(b != ndv, b,
                   np.where(c != ndv, c, d)))
    return out


def average_by_four(canvas: np.ndarray, ndv=None) -> np.ndarray:
    """mrf_overview.cpp AverageByFour: ints (2+sum)/4 (with NoData:
    (acc+count/2)/count over valid), floats plain mean (acc/count)."""
    a = canvas[0::2, 0::2]
    b = canvas[0::2, 1::2]
    c = canvas[1::2, 0::2]
    d = canvas[1::2, 1::2]
    isint = canvas.dtype.kind in "iu"
    if ndv is None:
        if isint:
            acc = (a.astype(np.int64) + b.astype(np.int64)
                   + c.astype(np.int64) + d.astype(np.int64) + 2)
            return (acc // 4).astype(canvas.dtype)
        return ((a + b + c + d) * canvas.dtype.type(0.25)).astype(
            canvas.dtype)
    parts = [a, b, c, d]
    count = sum((p != ndv).astype(np.int64) for p in parts)
    if isint:
        acc = sum(np.where(p != ndv, p.astype(np.int64), 0) for p in parts)
        safe = np.maximum(count, 1)
        out = (acc + count // 2) // safe
        return np.where(count != 0, out, int(ndv)).astype(canvas.dtype)
    acc = sum(np.where(p != ndv, p.astype(np.float64), 0.0) for p in parts)
    out = acc / np.maximum(count, 1)
    return np.where(count != 0, out, ndv).astype(canvas.dtype)


def _encode_page(page: np.ndarray, comp: str, nbo: bool) -> bytes:
    if comp == "NONE":
        return (page.astype(page.dtype.newbyteorder(">" if nbo else "<"))
                .tobytes())
    if comp == "DEFLATE":
        return zlib.compress(
            page.astype(page.dtype.newbyteorder(">" if nbo else "<"))
            .tobytes())
    if comp in ("PNG", "PPNG"):
        from gdal_spark.functions.codecs import png_encode
        return png_encode(page[:, :, 0] if page.shape[2] == 1 else page)
    if comp == "JPEG":
        from gdal_spark.functions.jpeg import jpeg_encode
        return jpeg_encode(page[:, :, 0] if page.shape[2] == 1 else page,
                           gray=page.shape[2] == 1)
    raise ValueError(f"MRF write: unsupported compression {comp}")


def mrf_write(arr: np.ndarray, mrf_path: str, compression: str = "NONE",
              blocksize: int | tuple[int, int] = 512, nodata=None,
              uniform_scale: int = 0, bbox=None, projection: str = "",
              nbo: bool = False) -> dict:
    """Write (h, w[, bands]) to .mrf/.idx/data.  ``uniform_scale``
    reserves the Rsets pyramid (levels stay empty until
    build_mrf_overviews)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, bands = arr.shape
    psx, psy = ((blocksize, blocksize) if isinstance(blocksize, int)
                else blocksize)
    comp = compression.upper()
    levels = _levels(w, h, psx, psy, uniform_scale)
    base = os.path.splitext(mrf_path)[0]
    dfile = base + _EXT.get(comp, ".til")
    ifile = base + ".idx"
    n_entries = sum(px * py for (_, _, px, py) in levels)
    idx = bytearray(16 * n_entries)
    fill = nodata if nodata is not None else 0
    with open(dfile, "wb") as df:
        pos = 0
        ei = 0
        _, _, px, py = levels[0]
        for y in range(py):
            for x in range(px):
                page = np.full((psy, psx, bands), fill, arr.dtype)
                sub = arr[y * psy:(y + 1) * psy, x * psx:(x + 1) * psx]
                page[:sub.shape[0], :sub.shape[1]] = sub
                blob = _encode_page(page, comp, nbo)
                df.write(blob)
                struct.pack_into(">qq", idx, 16 * ei, pos, len(blob))
                pos += len(blob)
                ei += 1
    open(ifile, "wb").write(bytes(idx))
    dt_name = next(k for k, v in _DT.items() if v == arr.dtype.str[1:]
                   and k not in ("UInt8", "Float", "Double"))
    parts = ["<MRF_META>", "  <Raster>",
             '    <Size x="%d" y="%d" c="%d" />' % (w, h, bands),
             '    <PageSize x="%d" y="%d" c="%d" />' % (psx, psy, bands),
             "    <Compression>%s</Compression>" % comp,
             "    <DataType>%s</DataType>" % dt_name]
    if nbo:
        parts.append("    <NetByteOrder>on</NetByteOrder>")
    if nodata is not None:
        parts.append('    <DataValues NoData="%g" />' % nodata)
    parts.append("  </Raster>")
    if uniform_scale:
        parts.append('  <Rsets model="uniform" scale="%d" />'
                     % uniform_scale)
    if bbox:
        parts += ["  <GeoTags>",
                  '    <BoundingBox minx="%.8f" miny="%.8f" maxx="%.8f" '
                  'maxy="%.8f" />' % bbox]
        if projection:
            parts.append("    <Projection>%s</Projection>" % projection)
        parts.append("  </GeoTags>")
    parts.append("</MRF_META>")
    open(mrf_path, "w", encoding="utf-8").write("\n".join(parts) + "\n")
    return mrf_info(mrf_path)


def build_mrf_overviews(mrf_path: str, resampling: str = "NNB") -> None:
    """Fill every Rsets level from the one below it with the exact
    ByFour kernels (mrf_overview.cpp), page-canvas sampling included."""
    info = mrf_info(mrf_path)
    if not info["scale"]:
        raise ValueError("MRF has no Rsets pyramid")
    if info["scale"] != 2:
        raise ValueError("only uniform scale=2 pyramids supported")
    psx, psy = info["psx"], info["psy"]
    ndv = info["nodata"]
    kern = (near_by_four if resampling.upper() in ("NNB", "NEARNB", "NEAR")
            else average_by_four)
    idx = bytearray(open(info["index_file"], "rb").read())
    data = open(info["data_file"], "ab")
    pos = os.path.getsize(info["data_file"])
    cur, _ = mrf_read(mrf_path, 0)
    ei = info["levels"][0][2] * info["levels"][0][3]
    fill = ndv if ndv is not None else 0
    for (w, h, px, py) in info["levels"][1:]:
        # sample on the padded canvas so odd-size levels stay in-grid
        ch, cw = cur.shape[0], cur.shape[1]
        canvas = np.full((2 * py * psy, 2 * px * psx, cur.shape[2]), fill,
                         cur.dtype)
        canvas[:ch, :cw] = cur
        cur = kern(canvas, ndv)[:h, :w]
        for y in range(py):
            for x in range(px):
                page = np.full((psy, psx, cur.shape[2]), fill, cur.dtype)
                sub = cur[y * psy:(y + 1) * psy, x * psx:(x + 1) * psx]
                page[:sub.shape[0], :sub.shape[1]] = sub
                blob = _encode_page(page, info["comp"], info["nbo"])
                data.write(blob)
                struct.pack_into(">qq", idx, 16 * ei, pos, len(blob))
                pos += len(blob)
                ei += 1
    data.close()
    open(info["index_file"], "wb").write(bytes(idx))


def scan_mrf_pages(spark, mrf_path: str, level: int = 0):
    """Distributed page scan: one row per page, each task range-reads
    and decodes only its page (offset, nbytes) — the object-storage
    access pattern MRF's external index exists for.  Returns
    (level, py, px, offset, nbytes, psum, pmin, pmax) over the
    in-image region of each page."""
    import pandas as pd
    from pyspark.sql import types as T

    info = mrf_info(mrf_path)
    w, h, px_n, py_n = info["levels"][level]
    entries = _read_idx(info, level)
    rows = []
    i = 0
    for y in range(py_n):
        for x in range(px_n):
            off, size = entries[i]
            i += 1
            rows.append((level, y, x, off, size))
    pdf = spark.createDataFrame(
        rows, "level int, py int, px int, offset long, nbytes long")
    schema = T.StructType([
        T.StructField("level", T.IntegerType()),
        T.StructField("py", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("nbytes", T.LongType()),
        T.StructField("psum", T.DoubleType()),
        T.StructField("pmin", T.DoubleType()),
        T.StructField("pmax", T.DoubleType()),
    ])
    psx, psy, psc = info["psx"], info["psy"], info["psc"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(info["data_file"], "rb") as fh:
            for b in batches:
                out = []
                for r in b.itertuples(index=False):
                    if r.nbytes == 0:
                        out.append((r.level, r.py, r.px, r.offset,
                                    r.nbytes, 0.0, np.nan, np.nan))
                        continue
                    fh.seek(r.offset)
                    page = _decode_page(fh.read(r.nbytes), info, psc)
                    vy = min(psy, h - r.py * psy)
                    vx = min(psx, w - r.px * psx)
                    v = page[:vy, :vx].astype(np.float64)
                    out.append((r.level, r.py, r.px, r.offset, r.nbytes,
                                float(v.sum()), float(v.min()),
                                float(v.max())))
                yield pd.DataFrame(out, columns=[f.name for f in schema])

    return pdf.repartition(max(2, min(32, len(rows)))).mapInPandas(
        run, schema)
