"""Raw-family raster drivers: LAN, GSC, JDEM, CTG, PAux, DOQ1/DOQ2, MFF,
MFF2/HKV, BT, ZMap, HF2, Idrisi RST.

Each is a pure-numpy transcription of the reference driver's on-disk
layout (format facts only — the decode paths are re-derived):

  LAN    frmts/raw/landataset.cpp      (Erdas 7.x .lan/.gis, HEAD74/HEADER)
  GSC    frmts/raw/gscdataset.cpp      (GSC Geogrid, float32 + record marks)
  JDEM   frmts/jdem/jdemdataset.cpp    (Japanese DEM, 1011-byte ASCII header)
  CTG    frmts/ctg/ctgdataset.cpp      (USGS LULC Composite Theme Grid)
  PAux   frmts/raw/pauxdataset.cpp     (PCI .aux text header + raw)
  DOQ1   frmts/raw/doq1dataset.cpp     (USGS DOQ old-style binary header)
  DOQ2   frmts/raw/doq2dataset.cpp     (USGS DOQ new-style keyword header)
  MFF    frmts/raw/mffdataset.cpp      (Vexcel MFF .hdr + .b00/.i00/... bands)
  MFF2   frmts/raw/hkvdataset.cpp      (Vexcel HKV directory: attrib + image_data)
  BT     frmts/raw/btdataset.cpp       (VTP binary terrain, column-major)
  ZMap   frmts/zmap/zmapdataset.cpp    (Z-Map Plus ASCII grid, column-major)
  HF2    frmts/hf2/hf2dataset.cpp      (HF2/HFZ tiled delta-coded heightfield)
  RST    frmts/idrisi/IdrisiDataset.cpp (Idrisi .rst + .rdc text header)

All decoders take bytes/str (a whole small file per row of a binary
column); at cluster scale the engine maps them over mapInPandas batches
exactly like functions/codecs.py decoders — no driver-side IO.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from gdal_spark.raster.rawband import raw_read, raw_write

__all__ = [
    "lan_decode", "gsc_decode", "jdem_decode", "ctg_decode", "paux_decode",
    "doq1_decode", "doq2_decode", "mff_read", "hkv_read",
    "bt_decode", "bt_encode", "zmap_decode", "zmap_encode",
    "hf2_decode", "hf2_encode", "rst_decode", "rst_encode",
]


# ---------------------------------------------------------------------------
# LAN / GIS (Erdas 7.x)
# ---------------------------------------------------------------------------

def lan_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """Erdas 7.x .lan/.gis: 128-byte header (HEAD74 new / HEADER old),
    BIL band interleave; pixel types 0=8bit 1=4bit(packed) 2=16bit.
    Byte order flagged by header[8] (band-count low byte: 0 => big-endian).
    """
    if len(data) < 128 or data[:6].upper() not in (b"HEADER", b"HEAD74"):
        raise ValueError("not an Erdas LAN/GIS file")
    bo = ">" if data[8] == 0 else "<"
    pixtype, nbands = struct.unpack(bo + "hh", data[6:10])
    if data[:6].upper() == b"HEADER":
        w = int(struct.unpack(bo + "f", data[16:20])[0])
        h = int(struct.unpack(bo + "f", data[20:24])[0])
    else:
        w, h = struct.unpack(bo + "ii", data[16:24])
    if w <= 0 or h <= 0 or nbands <= 0:
        raise ValueError("bad LAN dimensions")
    ulx, uly, pxw, pxh = struct.unpack(bo + "4f", data[112:128])
    gt = (ulx - pxw * 0.5, pxw, 0.0, uly + pxh * 0.5, 0.0, -pxh)
    meta = {"gt": gt, "coordsys": struct.unpack(bo + "h", data[88:90])[0]}
    if pixtype != 1:
        # the LAN reader keeps the file's byte order in its output dtype
        dt = np.dtype(bo + ("i2" if pixtype == 2 else "u1"))
        out = raw_read(data, h, w, nbands, dt, "bil", 128, zero_fill=False)
        return out.astype(dt, copy=False), meta
    body = data[128:]  # 4-bit: rows of nbands half-width byte runs
    half = w // 2 + (w & 1)
    out = np.empty((h, w, nbands), dtype=np.uint8)
    for y in range(h):
        for b in range(nbands):
            off = (y * w * nbands) // 2 + (b * w) // 2
            row = np.frombuffer(body, np.uint8, half, off)
            px = np.empty(half * 2, np.uint8)
            px[0::2] = row >> 4
            px[1::2] = row & 0x0F
            out[y, :, b] = px[:w]
    return (out[:, :, 0] if nbands == 1 else out), meta


# ---------------------------------------------------------------------------
# GSC Geogrid
# ---------------------------------------------------------------------------

GSC_NODATA = -1.0000000150474662199e30


def gsc_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """GSC Geogrid: Fortran-style records (int32 length marks either side);
    record 0 = 20-byte header (reclen, pixels, lines, check 0x02),
    record 1 = 8 float32 header values, then one float32 record per line."""
    if len(data) < 20 or data[12:16] != b"\x02\x00\x00\x00":
        raise ValueError("not a GSC Geogrid file")
    reclen, w, h = struct.unpack("<iii", data[:12])
    if w < 1 or h < 1 or w > 100000 or h > 100000 or reclen != w * 4:
        raise ValueError("bad GSC dimensions")
    reclen += 8  # record length markers
    hdr = np.frombuffer(data, "<f4", 8, reclen + 12)
    gt = (float(hdr[2]), float(hdr[0]), 0.0, float(hdr[5]), 0.0, -float(hdr[1]))
    rows = [
        np.frombuffer(data, "<f4", w, reclen * (2 + y) + 4)
        for y in range(h)
    ]
    return np.vstack(rows).reshape(h, w), {"gt": gt, "nodata": GSC_NODATA}


# ---------------------------------------------------------------------------
# JDEM (Japanese DEM .mem)
# ---------------------------------------------------------------------------

def _jdem_field(buf: bytes, off: int, width: int) -> int:
    txt = buf[off:off + width].decode("ascii", "replace").strip()
    try:
        return int(txt)
    except ValueError:
        return 0


def _jdem_angle(buf: bytes, off: int) -> float:
    v = _jdem_field(buf, off, 7)
    deg, mn, sec = v // 10000, (v // 100) % 100, v % 100
    return deg + mn / 60.0 + sec / 3600.0


def jdem_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """JDEM: 1011-byte ASCII header; per row a record of (9-byte prefix +
    5 chars per sample + CRLF); value = int field * 0.1 (float32)."""
    if len(data) < 1011:
        raise ValueError("JDEM too short")
    for off in (11, 15, 19):
        if data[off:off + 2] not in (b"19", b"20"):
            raise ValueError("not a JDEM file (date check)")
    w = _jdem_field(data, 23, 3)
    h = _jdem_field(data, 26, 3)
    if w <= 0 or h <= 0:
        raise ValueError("bad JDEM dimensions")
    lllat, lllon = _jdem_angle(data, 29), _jdem_angle(data, 36)
    urlat, urlon = _jdem_angle(data, 43), _jdem_angle(data, 50)
    gt = (lllon, (urlon - lllon) / w, 0.0, urlat, 0.0, -(urlat - lllat) / h)
    recsize = w * 5 + 9 + 2
    out = np.empty((h, w), np.float32)
    for y in range(h):
        rec = data[1011 + recsize * y: 1011 + recsize * (y + 1)]
        if len(rec) < 9 + 5 * w:
            raise ValueError("JDEM scanline truncated")
        for x in range(w):
            out[y, x] = _jdem_field(rec, 9 + 5 * x, 5) * np.float32(0.1)
    return out, {"gt": gt}


# ---------------------------------------------------------------------------
# CTG (USGS LULC Composite Theme Grid)
# ---------------------------------------------------------------------------

def ctg_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """CTG: 5 x 80-char header records then 80-char cell records:
    zone(3) easting(8) northing(8) pad(?) + 6 x int32-as-10-chars values.
    Returns (h, w, 6) int32; values >= 2e9 map to 0."""
    if len(data) < 400:
        raise ValueError("CTG too short")
    hdr = data[:400].decode("ascii", "replace")
    for ch in hdr[:320]:
        if not (ch.isdigit() or ch in " -"):
            raise ValueError("not a CTG file")

    def fld(base: str, off: int, n: int) -> int:
        t = base[off:off + n].strip()
        return int(t) if t and t not in ("-",) else 0

    rows = fld(hdr, 0, 10)
    cols = fld(hdr, 20, 10)
    mincol, minrow = fld(hdr[80:], 0, 5), fld(hdr[80:], 5, 5)
    maxcol, maxrow = fld(hdr[80:], 10, 5), fld(hdr[80:], 15, 5)
    if rows <= 0 or cols <= 0 or mincol != 1 or minrow != 1 \
            or maxrow != rows or maxcol != cols:
        raise ValueError("not a CTG grid")
    cell = fld(hdr, 35, 5)
    zone = fld(hdr, 50, 5)
    nwe = fld(hdr[240:], 40, 10)
    nwn = fld(hdr[240:], 50, 10)
    if cell <= 0 or cell >= 10000 or zone <= 0 or zone > 60:
        raise ValueError("bad CTG cell/zone")
    out = np.zeros((rows, cols, 6), np.int32)
    pos = 400
    while pos + 80 <= len(data):
        line = data[pos:pos + 80].decode("ascii", "replace")
        pos += 80
        if fld(line, 0, 3) != zone:
            raise ValueError("CTG unexpected UTM zone in cell record")
        x = fld(line, 3, 8) - cell // 2
        y = fld(line, 11, 8) + cell // 2
        dx, dy = x - nwe, nwn - y
        if dx < 0 or dx % cell or dy < 0 or dy % cell:
            raise ValueError("CTG unexpected cell coordinates")
        cx, cy = dx // cell, dy // cell
        if cx >= cols or cy >= rows:
            raise ValueError("CTG cell out of range")
        for i in range(6):
            v = fld(line, 20 + 10 * i, 10)
            out[cy, cx, i] = 0 if v >= 2000000000 else v
    gt = (float(nwe), float(cell), 0.0, float(nwn), 0.0, -float(cell))
    return out, {"gt": gt, "utm_zone": zone, "epsg": 32600 + zone}


# ---------------------------------------------------------------------------
# PAux (PCI .aux + raw)
# ---------------------------------------------------------------------------

_PAUX_TYPES = {"16U": "u2", "16S": "i2", "32R": "f4"}


def paux_decode(aux_text: str, raw: bytes) -> tuple[list[np.ndarray], dict]:
    """PCI PAux: `.aux` name:value lines. RawDefinition: w h nbands;
    ChanDefinition-N: type offset pixoff lineoff [Swapped|Unswapped]
    (Swapped == little-endian data; the reference flips the meaning by
    host order — this engine always interprets on-disk order directly)."""
    kv = {}
    for line in aux_text.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            kv[k.strip()] = v.strip()
    if "AuxilaryTarget" not in kv and "RawDefinition" not in kv:
        raise ValueError("not a PAux header")
    toks = kv.get("RawDefinition", "").split()
    if len(toks) < 3:
        raise ValueError("PAux RawDefinition missing")
    w, h, nbands = int(toks[0]), int(toks[1]), int(toks[2])
    bands = []
    for i in range(1, nbands + 1):
        line = kv.get(f"ChanDefinition-{i}")
        if line is None:
            continue
        t = line.split()
        if len(t) < 4:
            continue
        dtype = _PAUX_TYPES.get(t[0].upper(), "u1")
        bo = "<" if (len(t) < 5 or t[4].lower() == "swapped") else ">"
        boff, poff, loff = int(t[1]), int(t[2]), int(t[3])
        itemsz = np.dtype(dtype).itemsize
        band = np.empty((h, w), np.dtype(bo + dtype))
        if poff == itemsz:
            for y in range(h):
                band[y] = np.frombuffer(raw, bo + dtype, w, boff + y * loff)
        else:
            for y in range(h):
                rowbuf = raw[boff + y * loff: boff + y * loff + poff * w]
                band[y] = np.frombuffer(rowbuf, np.uint8).reshape(w, poff)[
                    :, :itemsz].copy().view(bo + dtype)[:, 0]
        bands.append(band.astype(band.dtype.newbyteorder("=")))
    meta = {}
    if all(k in kv for k in ("UpLeftX", "UpLeftY", "LoRightX", "LoRightY")):
        ulx, uly = float(kv["UpLeftX"]), float(kv["UpLeftY"])
        lrx, lry = float(kv["LoRightX"]), float(kv["LoRightY"])
        meta["gt"] = (ulx, (lrx - ulx) / w, 0.0, uly, 0.0, (lry - uly) / h)
    return bands, meta


# ---------------------------------------------------------------------------
# DOQ1 / DOQ2 (USGS digital ortho quads)
# ---------------------------------------------------------------------------

def _doq_field(data: bytes, off: int, n: int) -> float:
    txt = data[off:off + n].decode("ascii", "replace")
    txt = txt.replace("D", "E").replace("d", "E").strip()
    try:
        return float(txt)
    except ValueError:
        return math.nan


def doq1_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """DOQ1 old-style: ASCII-numeric fields in a binary header.
    height@144(6) width@150(6) band-types@156(3) band-storage@162(3);
    data = byte BIP after 4 header 'lines' of width*bytes-per-pixel."""
    if len(data) < 212:
        raise ValueError("DOQ1 too short")
    w = _doq_field(data, 150, 6)
    h = _doq_field(data, 144, 6)
    storage = _doq_field(data, 162, 3)
    btypes = _doq_field(data, 156, 3)
    if not (500 <= w <= 25000) or not (500 <= h <= 25000) \
            or not (0 <= storage <= 4) or not (1 <= btypes <= 9) \
            or any(map(math.isnan, (w, h, storage, btypes))):
        raise ValueError("not a DOQ1 file")
    if btypes > 5:
        raise ValueError("unsupported DOQ1 band type")
    w, h = int(w), int(h)
    bpp = 1 if btypes < 5 else 3
    skip = 4 * bpp * w
    need = skip + w * h * bpp
    if len(data) < need:
        raise ValueError("DOQ1 image data truncated")
    arr = np.frombuffer(data, np.uint8, w * h * bpp, skip).reshape(h, w, bpp)
    return (arr[:, :, 0] if bpp == 1 else arr), {}


def doq2_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """DOQ2 new-style: BEGIN_USGS_DOQ_HEADER keyword block, then raw
    bytes. BAND_ORGANIZATION BIP => pixel-interleaved; BYTE_COUNT =
    header skip. Truncated data reads as zeros through
    `rawband.raw_read` (bounded by MAX_RAW_BYTES)."""
    if not data.startswith(b"BEGIN_USGS_DOQ_HEADER"):
        raise ValueError("not a DOQ2 file")
    # header is newline-separated keyword lines up to END_USGS_DOQ_HEADER
    pos = data.find(b"\n") + 1
    w = h = skip = 0
    n_content = 0
    bpp = 0
    interleave = 1
    ulx = uly = res = 0.0
    meta = {}
    while pos < len(data):
        eol = data.find(b"\n", pos)
        if eol < 0:
            break
        line = data[pos:eol].rstrip(b"\r").decode("ascii", "replace")
        pos = eol + 1
        if line.startswith("END_USGS_DOQ_HEADER"):
            break
        toks = _doq2_tokens(line)
        if len(toks) < 2:
            break
        key = toks[0].upper()
        if key == "SAMPLES_AND_LINES" and len(toks) >= 3:
            w, h = int(toks[1]), int(toks[2])
        elif key == "BYTE_COUNT":
            skip = int(toks[1])
        elif key == "XY_ORIGIN" and len(toks) >= 3:
            ulx, uly = float(toks[1]), float(toks[2])
        elif key == "HORIZONTAL_RESOLUTION":
            res = float(toks[1])
        elif key == "BAND_ORGANIZATION":
            interleave = 4 if toks[1].upper() == "BIP" else 1
        elif key == "BAND_CONTENT":
            n_content += 1
        elif key == "BITS_PER_PIXEL":
            bpp = int(toks[1]) // 8
        else:
            meta[key] = " ".join(t for t in toks[1:] if t != "*")
    if w < 500 or w > 25000 or h < 500 or h > 25000 or bpp < 1:
        raise ValueError("not a coherent DOQ2 file")
    nbands = n_content if n_content >= 2 else bpp
    pixsz = bpp * nbands if n_content >= 2 else bpp
    arr = raw_read(data, h, w, pixsz, np.uint8, "bip", skip)
    meta["gt"] = (ulx, res, 0.0, uly, 0.0, -res)
    meta["interleave"] = "BIP" if interleave == 4 else "BSQ"
    return arr, meta


def _doq2_tokens(line: str) -> list[str]:
    """CSLTokenizeString-style split honoring double quotes."""
    out: list[str] = []
    cur = ""
    q = False
    for ch in line:
        if ch == '"':
            q = not q
        elif ch.isspace() and not q:
            if cur:
                out.append(cur)
            cur = ""
        else:
            cur += ch
    if cur:
        out.append(cur)
    return out


# ---------------------------------------------------------------------------
# MFF (Vexcel) — .hdr name=value + per-band raw/tiled files
# ---------------------------------------------------------------------------

_MFF_EXT_TYPES = {"b": "u1", "i": "u2", "r": "f4"}


def mff_read(hdr_text: str, band_files: dict[str, bytes]) -> tuple[list[np.ndarray], dict]:
    """MFF: .hdr `KEY = VALUE` lines (IMAGE_LINES / LINE_SAMPLES /
    BYTE_ORDER LSB|MSB / tile_size_rows / tile_size_columns); band files
    keyed by extension: first letter b/i/j/r/x = type, digits = band
    index. Tiled layout: row-major tiles, each tile_rows x tile_cols.
    Short band files read as zeros through `rawband.raw_read` (bounded by
    MAX_RAW_BYTES)."""
    kv = {}
    for line in hdr_text.splitlines():
        if "=" in line:
            k, _, v = line.partition("=")
            kv[k.strip()] = v.strip()
    if "IMAGE_LINES" not in kv or "LINE_SAMPLES" not in kv:
        raise ValueError("MFF header missing IMAGE_LINES/LINE_SAMPLES")
    h, w = int(kv["IMAGE_LINES"]), int(kv["LINE_SAMPLES"])
    bo = "<" if kv.get("BYTE_ORDER", "LSB").upper().startswith("L") else ">"
    tr = int(kv.get("tile_size_rows", 0) or 0)
    tc = int(kv.get("tile_size_columns", 0) or 0)
    tiled = tr > 0 and tc > 0
    bands = []
    for ext in sorted(band_files,
                      key=lambda e: int("".join(c for c in e[1:] if c.isdigit()) or 0)):
        tchar = ext[0].lower()
        if tchar not in _MFF_EXT_TYPES:
            continue
        dt = bo + _MFF_EXT_TYPES[tchar]
        raw = band_files[ext]
        if tiled:
            ntx = (w + tc - 1) // tc
            nty = (h + tr - 1) // tr
            tiles = raw_read(raw, nty * ntx, tr * tc, 1, dt, "bsq")
            band = tiles.reshape(nty, ntx, tr, tc).transpose(0, 2, 1, 3)
            band = np.ascontiguousarray(
                band.reshape(nty * tr, ntx * tc)[:h, :w])
        else:
            band = raw_read(raw, h, w, 1, dt, "bsq")
        bands.append(band)
    if not bands:
        raise ValueError("MFF: no band files found")
    meta = {k: v for k, v in kv.items()}
    return bands, meta


def hkv_read(attrib_text: str, image_data: bytes) -> tuple[np.ndarray, dict]:
    """MFF2/HKV: directory with `attrib` (key = value, `{ *chosen other }`
    option groups) + `image_data` blob. Supports the pixel-interleaved
    and band-sequential layouts used by the reference autotest."""
    kv = {}
    for line in attrib_text.splitlines():
        if "=" in line:
            k, _, v = line.partition("=")
            v = v.strip()
            if v.startswith("{"):
                # pick the *-marked option
                chosen = [t for t in v.strip("{} \t").split() if t.startswith("*")]
                v = chosen[0][1:] if chosen else v
            kv[k.strip()] = v
    w = int(kv["extent.cols"])
    h = int(kv["extent.rows"])
    nb = int(kv.get("channel.enumeration", "1"))
    bits = int(kv.get("pixel.size", "8"))
    enc = kv.get("pixel.encoding", "unsigned")
    bo = "<" if kv.get("pixel.order", "lsbf").startswith("lsbf") else ">"
    if enc == "ieee-754":
        base = {32: "f4", 64: "f8"}[bits]
    elif enc == "twos-complement":
        base = {8: "i1", 16: "i2", 32: "i4"}[bits]
    else:
        base = {8: "u1", 16: "u2", 32: "u4"}[bits]
    inter = kv.get("channel.interleave", "pixel")
    layout = {"pixel": "bip", "sequential": "bsq"}.get(inter)
    if layout is None:
        raise ValueError(f"HKV interleave {inter!r} not supported")
    return raw_read(image_data, h, w, nb, bo + base, layout,
                    zero_fill=False), kv


# ---------------------------------------------------------------------------
# BT (VTP binary terrain) — column-major, bottom-up
# ---------------------------------------------------------------------------

def bt_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """BT 1.x: 256-byte header 'binterr<ver>'; cols@10 rows@14 (int32 LE),
    datasize@18 (int16), float-flag@20; extents 4 x float64 LE @28.
    Data: one column at a time, each bottom-to-top."""
    if len(data) < 256 or not data.startswith(b"binterr"):
        raise ValueError("not a BT file")
    w, = struct.unpack("<i", data[10:14])
    h, = struct.unpack("<i", data[14:18])
    dsize, = struct.unpack("<h", data[18:20])
    isfloat = data[20] != 0
    if isfloat and dsize == 4:
        dt = np.dtype("<f4")
    elif not isfloat and dsize == 4:
        dt = np.dtype("<i4")
    elif not isfloat and dsize == 2:
        dt = np.dtype("<i2")
    else:
        raise ValueError("BT unknown data type")
    left, right, bottom, top = struct.unpack("<4d", data[28:60])
    gt = (left, (right - left) / w, 0.0, top, 0.0, -(top - bottom) / h)
    cols = np.frombuffer(data, dt, w * h, 256).reshape(w, h)
    arr = cols.T[::-1]  # transpose to rows, flip bottom-up to top-down
    vscale, = struct.unpack("<f", data[62:66])
    return np.ascontiguousarray(arr).astype(dt.newbyteorder("=")), {
        "gt": gt, "vscale": vscale if vscale != 0 else 1.0,
    }


def bt_encode(arr: np.ndarray, gt: tuple | None = None) -> bytes:
    """BT 1.3 writer (reference CreateCopy semantics: byte input promotes
    to int16; int32/float32 kept)."""
    if arr.ndim != 2:
        raise ValueError("BT is single-band")
    if arr.dtype == np.uint8 or arr.dtype == np.int16:
        out, dsize, isfloat = arr.astype("<i2"), 2, 0
    elif arr.dtype == np.int32:
        out, dsize, isfloat = arr.astype("<i4"), 4, 0
    else:
        out, dsize, isfloat = arr.astype("<f4"), 4, 1
    h, w = arr.shape
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    left = gt[0]
    right = gt[0] + gt[1] * w
    top = gt[3]
    bottom = gt[3] + gt[5] * h
    hdr = bytearray(256)
    hdr[0:10] = b"binterr1.3"
    struct.pack_into("<i", hdr, 10, w)
    struct.pack_into("<i", hdr, 14, h)
    struct.pack_into("<h", hdr, 18, dsize)
    struct.pack_into("<h", hdr, 20, isfloat)
    struct.pack_into("<h", hdr, 22, 1)   # horizontal units: meters
    struct.pack_into("<h", hdr, 24, 0)   # UTM zone
    struct.pack_into("<h", hdr, 26, -2)  # datum unknown
    struct.pack_into("<4d", hdr, 28, left, right, bottom, top)
    struct.pack_into("<h", hdr, 60, 0)   # external projection flag
    struct.pack_into("<f", hdr, 62, 1.0)
    body = out[::-1].T  # columns, each bottom-to-top
    return bytes(hdr) + np.ascontiguousarray(body).tobytes()


# ---------------------------------------------------------------------------
# ZMap Plus ASCII grid — column-major
# ---------------------------------------------------------------------------

def zmap_decode(text: str) -> tuple[np.ndarray, dict]:
    """ZMap: '!' comments, '@<name>, GRID, <vals/line>' then
    'fieldsize, nodata, , decimals, 1' then 'rows, cols, xmin, xmax,
    ymin, ymax', '0.0, 0.0, 0.0', '@', column-major fixed-width values."""
    lines = text.splitlines()
    i = 0
    while i < len(lines) and lines[i].startswith("!"):
        i += 1
    if i >= len(lines) or not lines[i].startswith("@"):
        raise ValueError("not a ZMap grid")
    t1 = [t.strip() for t in lines[i][1:].split(",")]
    if len(t1) < 3 or not t1[1].startswith("GRID"):
        raise ValueError("not a ZMap GRID file")
    t2 = [t.strip() for t in lines[i + 1].split(",")]
    fieldsize = int(t2[0])
    nodata = float(t2[1])
    dec = int(t2[3])
    t3 = [t.strip() for t in lines[i + 2].split(",")]
    h, w = int(t3[0]), int(t3[1])
    xmin, xmax, ymin, ymax = map(float, t3[2:6])
    j = i + 3
    while j < len(lines) and not lines[j].startswith("@"):
        j += 1
    vals: list[float] = []
    exp = 10.0 ** dec
    for line in lines[j + 1:]:
        if not line:
            continue
        for k in range(0, len(line), fieldsize):
            fld = line[k:k + fieldsize]
            if not fld.strip():
                continue
            vals.append(float(fld) if "." in fld else int(fld) * exp)
        if len(vals) >= w * h:
            break
    if len(vals) < w * h:
        raise ValueError("ZMap data truncated")
    arr = np.array(vals[: w * h], np.float64).reshape(w, h).T
    gt = (xmin, (xmax - xmin) / w, 0.0, ymax, 0.0, -(ymax - ymin) / h)
    return np.ascontiguousarray(arr), {"gt": gt, "nodata": nodata}


def zmap_encode(arr: np.ndarray, gt: tuple | None = None,
                nodata: float = 1.0e30) -> str:
    """ZMap writer matching the reference CreateCopy layout (field size 20,
    4 values/line, 7 decimals, EOL at end of each column)."""
    if arr.ndim != 2:
        raise ValueError("ZMap is single-band")
    h, w = arr.shape
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)

    def rj(v: str, width: int) -> str:
        return " " * (width - len(v)) + v

    def rjf(v: float, width: int, dec: int) -> str:
        s = f"%.{dec}f" % v
        if len(s) > width:
            s = (f"%.{dec}g" % v).replace("e", "E")
        return rj(s, width)

    out = ["!", "! Created by GDAL.", "!",
           "@GRID FILE, GRID, 4",
           rj("20", 10) + "," + rjf(nodata, 20, 7) + "," + rj("", 10)
           + "," + rj("7", 10) + "," + rj("1", 10),
           rj(str(h), 10) + "," + rj(str(w), 10) + ","
           + rjf(gt[0], 14, 7) + "," + rjf(gt[0] + gt[1] * w, 14, 7) + ","
           + rjf(gt[3] + gt[5] * h, 14, 7) + "," + rjf(gt[3], 14, 7),
           "0.0, 0.0, 0.0",
           "@"]
    body: list[str] = []
    cur = ""
    n = 0
    for x in range(w):
        for y in range(h):
            cur += rjf(float(arr[y, x]), 20, 7)
            n += 1
            if n == 4:
                body.append(cur)
                cur = ""
                n = 0
        if cur:
            body.append(cur)
            cur = ""
            n = 0
    return "\n".join(out + body) + "\n"


# ---------------------------------------------------------------------------
# HF2 tiled delta-coded heightfield
# ---------------------------------------------------------------------------

def hf2_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """HF2: 28-byte header (magic HF2\\0, reserved i16, xsize, ysize i32,
    tilesize u16, vert-precision f32, horiz-scale f32, ext-header-len
    u32), extended blocks, then tiles bottom-up/left-right: per tile
    fScale+fOff f32, per row: wordsize u8, first value i32, deltas."""
    if len(data) < 28 or data[:4] != b"HF2\x00":
        raise ValueError("not an HF2 file")
    w, h = struct.unpack("<ii", data[6:14])
    tile, = struct.unpack("<H", data[14:16])
    vertpres, hscale = struct.unpack("<ff", data[16:24])
    extlen, = struct.unpack("<I", data[24:28])
    if tile < 8 or w <= 0 or h <= 0:
        raise ValueError("bad HF2 header")
    meta: dict = {"vert_pres": vertpres, "horiz_scale": hscale}
    pos = 28
    end_ext = 28 + extlen
    while pos < end_ext:
        name = data[pos + 4:pos + 20].rstrip(b"\x00").decode("ascii", "replace")
        bsz, = struct.unpack("<I", data[pos + 20:pos + 24])
        blk = data[pos + 24:pos + 24 + bsz]
        if name == "georef-extents" and bsz == 34:
            xmin, xmax, ymin, ymax = struct.unpack("<4d", blk[:32])
            meta["extent"] = (xmin, xmax, ymin, ymax)
            meta["gt"] = (xmin, (xmax - xmin) / w, 0.0, ymax, 0.0,
                          -(ymax - ymin) / h)
        pos += 24 + bsz
    pos = end_ext
    ntx = (w + tile - 1) // tile
    nty = (h + tile - 1) // tile
    out = np.zeros((h, w), np.float32)
    for tj in range(nty):
        for ti in range(ntx):
            fscale, foff = struct.unpack("<ff", data[pos:pos + 8])
            pos += 8
            tw = min(tile, w - ti * tile)
            th = min(tile, h - tj * tile)
            for r in range(th):
                wsz = data[pos]
                pos += 1
                val, = struct.unpack("<i", data[pos:pos + 4])
                pos += 4
                n = tw - 1
                if wsz == 1:
                    diffs = np.frombuffer(data, np.int8, n, pos)
                elif wsz == 2:
                    diffs = np.frombuffer(data, "<i2", n, pos)
                elif wsz == 4:
                    diffs = np.frombuffer(data, "<i4", n, pos)
                else:
                    raise ValueError(f"HF2 unexpected word size {wsz}")
                pos += n * wsz
                ints = np.empty(tw, np.int64)
                ints[0] = val
                if n:
                    ints[1:] = val + np.cumsum(diffs.astype(np.int64))
                # bottom-up row r of tile row tj
                y = h - 1 - (tj * tile + r)
                vals = (ints * np.float64(fscale)
                        + np.float64(foff)).astype(np.float32)
                out[y, ti * tile: ti * tile + tw] = vals
    return out, meta


def _hf2_row_encode(ints: np.ndarray, chunks: list[bytes]) -> None:
    diffs = np.diff(ints)
    if len(diffs) and (diffs.max(initial=0) > 32767 or diffs.min(initial=0) < -32768):
        wsz = 4
    elif len(diffs) and (diffs.max(initial=0) > 127 or diffs.min(initial=0) < -128):
        wsz = 2
    else:
        wsz = 1
    chunks.append(struct.pack("<Bi", wsz, int(ints[0])))
    if len(diffs):
        dt = {1: np.int8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[wsz]
        chunks.append(diffs.astype(dt).tobytes())


def hf2_encode(arr: np.ndarray, gt: tuple | None = None,
               vert_pres: float = 0.01, tile: int = 256) -> bytes:
    """HF2 writer (reference CreateCopy): byte/int16 source -> int16 path
    scale=1 off=0; everything else float path with per-tile offset=min,
    scale=vert_pres (float32 arithmetic, truncation to int like the C
    cast so round-trips are bit-faithful)."""
    if arr.ndim != 2:
        raise ValueError("HF2 is single-band")
    h, w = arr.shape
    int_path = arr.dtype in (np.uint8, np.int16)
    if int_path:
        vert = 1.0
        src = arr.astype(np.int16)
    else:
        vert = float(vert_pres)
        src = arr.astype(np.float32)
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    hscale = (abs(gt[1]) + abs(gt[5])) / 2
    ext = bytearray()
    xmin = gt[0]
    xmax = gt[0] + gt[1] * w
    ymax = gt[3]
    ymin = gt[3] + gt[5] * h
    blk = struct.pack("<4d", xmin, xmax, ymin, ymax) + struct.pack("<h", 1)
    ext += struct.pack("<i", 0) + b"georef-extents".ljust(16, b"\x00") \
        + struct.pack("<I", len(blk)) + blk
    hdr = b"HF2\x00" + struct.pack("<hiiHffI", 0, w, h, tile,
                                   np.float32(vert), np.float32(hscale),
                                   len(ext))
    chunks: list[bytes] = [hdr, bytes(ext)]
    ntx = (w + tile - 1) // tile
    nty = (h + tile - 1) // tile
    for tj in range(nty):
        for ti in range(ntx):
            tw = min(tile, w - ti * tile)
            th = min(tile, h - tj * tile)
            # source window: rows counted from the bottom
            y1 = max(0, h - (tj + 1) * tile)
            win = src[y1:y1 + th, ti * tile: ti * tile + tw]
            if int_path:
                chunks.append(struct.pack("<ff", 1.0, 0.0))
                for r in range(th):
                    row = win[th - 1 - r].astype(np.int64)
                    _hf2_row_encode(row, chunks)
            else:
                fmin = np.float32(win.min())
                fmax = np.float32(win.max())
                frange = np.float32((fmax - fmin) / np.float32(vert))
                fscale = np.float32(1.0) if fmin == fmax else \
                    np.float32((fmax - fmin) / frange)
                foff = fmin
                chunks.append(struct.pack("<ff", fscale, foff))
                for r in range(th):
                    row = win[th - 1 - r]
                    # float32 arithmetic + C-style truncation toward zero
                    ints = ((row - foff) / fscale).astype(np.float32)
                    ints = np.trunc(ints).astype(np.int64)
                    _hf2_row_encode(ints, chunks)
    return b"".join(chunks)


# ---------------------------------------------------------------------------
# EOSAT FAST format (frmts/raw/fastdataset.cpp)
# ---------------------------------------------------------------------------

_LISS_NAMES = [
    "02345", "6789a", "bcdef", "ghijk", "lmnop", "qrstu", "vwxyz",
]


def _fast_value(header: str, name: str, size: int) -> str | None:
    pos = header.find(name)
    if pos < 0:
        return None
    pos += len(name)
    while pos < len(header) and header[pos] == " ":
        pos += 1
    while pos < len(header) and header[pos] == "=":
        pos += 1
    return header[pos:pos + size].strip()


def _fast_band_names(header: str, header_name: str) -> list[str]:
    """Replicates the FAST band-file discovery conventions: FILENAME
    fields, L7 .b0N fallbacks, and the Euromap IRS 1C/1D PAN/LISS3/WIFS
    last-letter tables (em_names.pdf as transcribed by the reference)."""
    sat = (_fast_value(header, "SATELLITE", 10) or "").upper()
    sensor = (_fast_value(header, "SENSOR", 10) or "").upper()
    names: list[str] = []
    if "FILENAME" not in header and "GENERATING AGENCY =EUROMAP" in header:
        last = header_name[-1]
        if sat in ("IRS 1C", "IRS 1D") and sensor == "PAN":
            c = last.lower()
            if "a" <= c <= "j":
                names.append(header_name[:-1] + chr(ord("0") + ord(c) - ord("a")))
            elif "k" <= c <= "m":
                names.append(header_name[:-1] + chr(ord("n") + ord(c) - ord("k")))
        elif sat in ("IRS 1C", "IRS 1D") and sensor == "LISS3":
            for row in _LISS_NAMES:
                if last.lower() == row[0] or last == row[0]:
                    names.extend(header_name[:-1] + ch for ch in row[1:])
                    break
        elif sat in ("IRS 1C", "IRS 1D") and sensor == "WIFS":
            if last == "0":
                names.extend(header_name[:-1] + ch for ch in "12")
        return names
    # FILENAME fields (up to 7); empty fields are skipped
    pos = 0
    for _ in range(7):
        pos = header.find("FILENAME", pos)
        if pos < 0:
            break
        pos += len("FILENAME")
        while pos < len(header) and header[pos] == " ":
            pos += 1
        while pos < len(header) and header[pos] == "=":
            pos += 1
        val = header[pos:pos + 29].strip()
        if val:
            names.append(val)
    return names


def _gcps_to_gt(gcps: list[tuple[float, float, float, float]]) -> tuple:
    """Least-squares affine fit (GDALGCPsToGeoTransform):
    X = gt0 + gt1*pixel + gt2*line, Y = gt3 + gt4*pixel + gt5*line."""
    A = np.array([[1.0, px, ln] for px, ln, _, _ in gcps])
    bx = np.array([x for _, _, x, _ in gcps])
    by = np.array([y for _, _, _, y in gcps])
    cx, *_ = np.linalg.lstsq(A, bx, rcond=None)
    cy, *_ = np.linalg.lstsq(A, by, rcond=None)
    return (cx[0], cx[1], cx[2], cy[0], cy[1], cy[2])


def fast_read(header_text: str, files: dict[str, bytes], header_name: str
              ) -> tuple[list[np.ndarray], dict]:
    """EOSAT FAST: fixed-layout ASCII administrative record + raw band
    files. `files` maps sibling filenames to bytes (case preserved;
    lookups are case-insensitive). Short band files read as zeros through
    `rawband.raw_read` (bounded by MAX_RAW_BYTES)."""
    header = header_text
    if "ACQUISITION DATE =" not in header[:1024]:
        raise ValueError("not a FAST header")
    meta: dict = {
        "ACQUISITION_DATE": _fast_value(header, "ACQUISITION DATE", 8) or "",
        "SATELLITE": _fast_value(header, "SATELLITE", 10) or "",
        "SENSOR": _fast_value(header, "SENSOR", 10) or "",
    }
    w = int(_fast_value(header, "PIXELS PER LINE", 5) or 0)
    lines = _fast_value(header, "LINES PER BAND", 5) \
        or _fast_value(header, "LINES PER IMAGE", 5)
    h = int(lines or 0)
    if w <= 0 or h <= 0:
        raise ValueError("FAST missing dimensions")
    bits = int(_fast_value(header, "OUTPUT BITS PER PIXEL", 2) or 8)
    dt = np.dtype(">u2") if bits == 16 else np.dtype("u1")
    lower = {k.lower(): k for k in files}
    bands = []
    for name in _fast_band_names(header, header_name):
        key = lower.get(name.lower())
        if key is None:
            continue
        bands.append(raw_read(files[key], h, w, 1, dt, "bsq"))
    if not bands:
        raise ValueError("FAST: no band files found")
    zone = int(_fast_value(header, "USGS MAP ZONE", 3) or 0)
    meta["projection"] = _fast_value(header, "MAP PROJECTION", 4) or "UTM"
    meta["zone"] = zone
    geom = header[header.find("PROJECTION"):]
    corners = {}
    for tag in ("UL ", "UR ", "LR ", "LL "):
        p = geom.find(tag)
        if p < 0:
            continue
        p += len(tag) + 28
        try:
            x = float(geom[p:p + 13].replace("D", "E"))
            y = float(geom[p + 14:p + 27].replace("D", "E"))
        except ValueError:
            continue
        corners[tag.strip()] = (x, y)
    if len(corners) == 4 and all(
        v != 0.0 for xy in corners.values() for v in xy
    ):
        adj = {
            k: (x - zone * 1e6 if x >= 1e6 else x, y)
            for k, (x, y) in corners.items()
        }
        gcps = [
            (0.5, 0.5, *adj["UL"]),
            (w - 0.5, 0.5, *adj["UR"]),
            (w - 0.5, h - 0.5, *adj["LR"]),
            (0.5, h - 0.5, *adj["LL"]),
        ]
        meta["gt"] = _gcps_to_gt(gcps)
    params = []
    p = header.find("USGS PROJECTION PARAMETERS")
    if p >= 0:
        txt = header[p + len("USGS PROJECTION PARAMETERS"):]
        for tok in txt.replace("=", " ").split():
            try:
                params.append(float(tok.replace("D", "E")))
            except ValueError:
                break
            if len(params) == 15:
                break
    meta["usgs_params"] = params
    return bands, meta


# ---------------------------------------------------------------------------
# EHdr (ESRI .bil/.flt + .hdr)
# ---------------------------------------------------------------------------

def ehdr_decode(hdr_text: str, data: bytes, ext: str = "bil"
                ) -> tuple[np.ndarray, dict]:
    """ESRI BIL/GridFloat (frmts/raw/ehdrdataset.cpp): whitespace
    key-value .hdr in either the BIL (NCOLS/NROWS/NBITS/PIXELTYPE/
    BYTEORDER/ULXMAP...) or GridFloat (ncols/nrows/cellsize/xllcorner)
    dialect. NBITS absent => inferred from data size (4 bytes/px => F),
    then from a .flt extension."""
    kv: dict[str, str] = {}
    for line in hdr_text.splitlines():
        toks = line.split()
        if len(toks) >= 2:
            kv[toks[0].lower()] = toks[1]
    if "ncols" not in kv or "nrows" not in kv:
        raise ValueError("not an EHdr header")
    w, h = int(kv["ncols"]), int(kv["nrows"])
    nbands = int(kv.get("nbands", "1"))
    nbits = int(kv["nbits"]) if "nbits" in kv else -1
    pixtype = kv.get("pixeltype", "N").upper()[0] if "pixeltype" in kv else "N"
    if kv.get("signbit", "0") == "1":
        pixtype = "S"
    bo = "<"
    border = kv.get("byteorder", "I").upper()
    if border.startswith("M"):
        bo = ">"
    if nbits == -1 and pixtype == "N":
        nbytes = len(data) // max(1, w * h * nbands)
        if nbytes > 8:
            raise ValueError("EHdr cannot infer NBITS")
        if nbytes > 0 and nbytes != 3:
            nbits = nbytes * 8
        if nbytes == 4:
            pixtype = "F"
    if pixtype == "N" and ext.lower() == "flt":
        pixtype = "F"
    nodata = None
    if "nodata" in kv or "nodata_value" in kv:
        nodata = float(kv.get("nodata", kv.get("nodata_value")))
        if nodata < 0 and pixtype == "N":
            pixtype = "S"
    if nbits == 16:
        base = "i2" if pixtype == "S" else "u2"
    elif nbits == 32:
        base = {"S": "i4", "F": "f4"}.get(pixtype, "u4")
    elif nbits == -1:
        base, nbits = ("f4", 32) if pixtype == "F" else ("u1", 8)
    elif 1 <= nbits <= 8:
        base, nbits = ("i1" if pixtype == "S" else "u1"), 8
    else:
        raise ValueError(f"EHdr NBITS {nbits} not supported")
    layout = kv.get("layout", "BIL").upper()
    out = raw_read(data, h, w, nbands, bo + base,
                   layout if layout in ("BIL", "BIP") else "BSQ",
                   zero_fill=False)
    meta: dict = {}
    if nodata is not None:
        meta["nodata"] = nodata
    if "cellsize" in kv or "xdim" in kv:
        cx = float(kv.get("xdim", kv.get("cellsize", "1")))
        cy = float(kv.get("ydim", kv.get("cellsize", "1")))
        if "ulxmap" in kv:  # center-of-pixel convention
            meta["gt"] = (float(kv["ulxmap"]) - cx / 2, cx, 0.0,
                          float(kv["ulymap"]) + cy / 2, 0.0, -cy)
        elif "xllcorner" in kv:
            meta["gt"] = (float(kv["xllcorner"]), cx, 0.0,
                          float(kv["yllcorner"]) + cy * h, 0.0, -cy)
    return out, meta


def ehdr_encode(arr: np.ndarray, gt: tuple | None = None,
                nodata: float | None = None) -> tuple[str, bytes]:
    """Minimal EHdr writer: BIL layout, Intel order."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    if arr.dtype == np.uint8:
        base, nbits, ptype = "u1", 8, "UNSIGNEDINT"
    elif arr.dtype == np.int16:
        base, nbits, ptype = "i2", 16, "SIGNEDINT"
    elif arr.dtype == np.int32:
        base, nbits, ptype = "i4", 32, "SIGNEDINT"
    else:
        base, nbits, ptype = "f4", 32, "FLOAT"
    dt = np.dtype("<" + base)
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    lines = [
        "BYTEORDER      I",
        "LAYOUT         BIL",
        f"NROWS          {h}",
        f"NCOLS          {w}",
        f"NBANDS         {nb}",
        f"NBITS          {nbits}",
        f"BANDROWBYTES   {w * dt.itemsize}",
        f"TOTALROWBYTES  {w * dt.itemsize * nb}",
        f"PIXELTYPE      {ptype}",
        f"ULXMAP         {gt[0] + gt[1] / 2:.10g}",
        f"ULYMAP         {gt[3] + gt[5] / 2:.10g}",
        f"XDIM           {gt[1]:.10g}",
        f"YDIM           {-gt[5]:.10g}",
    ]
    if nodata is not None:
        lines.append(f"NODATA         {nodata:.8g}")
    return "\n".join(lines) + "\n", raw_write(arr, dt, "bil")


# ---------------------------------------------------------------------------
# Idrisi RST (+ .rdc text header)
# ---------------------------------------------------------------------------

_RST_TYPES = {"byte": "u1", "integer": "<i2", "real": "<f4", "rgb24": "u1"}


def rst_decode(rdc_text: str, rst: bytes) -> tuple[np.ndarray, dict]:
    """Idrisi: .rdc `key : value` lines; .rst raw little-endian
    row-major. rgb24 stores BGR triplets."""
    kv = {}
    for line in rdc_text.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            kv[k.strip().lower()] = v.strip()
    dtype_name = kv.get("data type", "byte").lower()
    if dtype_name not in _RST_TYPES:
        raise ValueError(f"RST data type {dtype_name!r} not supported")
    w = int(kv["columns"])
    h = int(kv["rows"])
    dt = np.dtype(_RST_TYPES[dtype_name])
    meta = {}
    if all(k in kv for k in ("min. x", "max. x", "min. y", "max. y")):
        xmin, xmax = float(kv["min. x"]), float(kv["max. x"])
        ymin, ymax = float(kv["min. y"]), float(kv["max. y"])
        meta["gt"] = (xmin, (xmax - xmin) / w, 0.0, ymax, 0.0,
                      -(ymax - ymin) / h)
    if kv.get("flag value", "none").lower() != "none":
        try:
            meta["nodata"] = float(kv["flag value"])
        except ValueError:
            pass
    if dtype_name == "rgb24":
        arr = np.frombuffer(rst, np.uint8, h * w * 3).reshape(h, w, 3)
        return arr[:, :, ::-1].copy(), meta  # BGR -> RGB
    arr = np.frombuffer(rst, dt, h * w).reshape(h, w)
    return arr.astype(dt.newbyteorder("=")), meta


def rst_encode(arr: np.ndarray, gt: tuple | None = None) -> tuple[str, bytes]:
    """Minimal Idrisi writer: .rdc header + raw .rst bytes."""
    if arr.ndim == 3:
        name = "rgb24"
        body = arr[:, :, ::-1].astype(np.uint8).tobytes()
        h, w = arr.shape[:2]
    else:
        h, w = arr.shape
        if arr.dtype == np.uint8:
            name, body = "byte", arr.tobytes()
        elif arr.dtype == np.int16:
            name, body = "integer", arr.astype("<i2").tobytes()
        else:
            name, body = "real", arr.astype("<f4").tobytes()
    if gt is None:
        gt = (0.0, 1.0, 0.0, float(h), 0.0, -1.0)
    xmin, xmax = gt[0], gt[0] + gt[1] * w
    ymax, ymin = gt[3], gt[3] + gt[5] * h
    mn = float(np.min(arr)) if arr.size else 0.0
    mx = float(np.max(arr)) if arr.size else 0.0
    rdc = "\n".join([
        "file format : IDRISI Raster A.1",
        "file title  : ",
        f"data type   : {name}",
        "file type   : binary",
        f"columns     : {w}",
        f"rows        : {h}",
        "ref. system : plane",
        "ref. units  : m",
        "unit dist.  : 1.0000000",
        f"min. X      : {xmin:.7f}",
        f"max. X      : {xmax:.7f}",
        f"min. Y      : {ymin:.7f}",
        f"max. Y      : {ymax:.7f}",
        "pos`n error : unknown",
        "resolution  : unknown",
        f"min. value  : {mn:g}",
        f"max. value  : {mx:g}",
        f"display min : {mn:g}",
        f"display max : {mx:g}",
        "value units : unspecified",
        "value error : unknown",
        "flag value  : none",
        "flag def`n  : none",
        "legend cats : 0",
    ]) + "\n"
    return rdc, body
