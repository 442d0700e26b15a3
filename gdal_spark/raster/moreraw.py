"""Second raw-format wave: ERS, ROI_PAC, GenBin, RRASTER, SIGDEM.

Format layouts transcribed from the reference drivers:

  ERS     frmts/ers/ersdataset.cpp + ershdrnode.cpp  (ERMapper .ers
          header: nested Begin/End blocks, '#' comments outside quotes,
          BIL data file = header name minus .ers, HeaderOffset)
  ROI_PAC frmts/raw/roipacdataset.cpp   (JPL .rsc sidecar; dtype by
          extension: .dem i2 / .raw,.flg u1 / .int,.slc cf32 /
          .unw,.cor,.hgt,.msk 2-band RMG float32 / .amp 2-band f4)
  GenBin  frmts/raw/genbindataset.cpp   (Generic binary .hdr with
          'KEY: value' lines, BSQ/BIL/BIP, U8/U16/S16/F32/...)
  RRASTER frmts/rraster/rrasterdataset.cpp  (R raster package .grd INI
          + .gri raw; INT1U/INT2S/INT4S/FLT4S/FLT8S, BIL/BIP/BSQ)
  SIGDEM  frmts/sigdem/sigdemdataset.cpp    (132-byte big-endian header,
          int32 cells scaled by dfScaleFactorZ, NO_DATA 0x80000000)
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "ers_parse_header", "ers_decode", "roipac_decode", "genbin_decode",
    "rraster_decode", "rraster_encode", "sigdem_decode", "sigdem_encode",
]


# ---------------------------------------------------------------------------
# ERS (ERMapper)
# ---------------------------------------------------------------------------

_ERS_TYPES = {
    "unsigned8bitinteger": "u1", "signed8bitinteger": "i1",
    "unsigned16bitinteger": "u2", "signed16bitinteger": "i2",
    "unsigned32bitinteger": "u4", "signed32bitinteger": "i4",
    "ieee4bytereal": "f4", "ieee8bytereal": "f8",
}


def _ers_preprocess(text: str) -> tuple[str, list[str]]:
    """One pass over the header: quoted strings (which may span lines
    and contain '#', '{', '}', escaped quotes) are replaced by \x00N\x00
    sentinels; '#' comments outside quotes are stripped to end-of-line."""
    out = []
    strings: list[str] = []
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == '"':
            j = i + 1
            val = ""
            while j < n and text[j] != '"':
                if text[j] == "\\" and j + 1 < n:
                    val += text[j + 1]
                    j += 2
                else:
                    val += text[j]
                    j += 1
            out.append(f"\x00{len(strings)}\x00")
            strings.append(val)
            i = j + 1
            continue
        if ch == "#":
            while i < n and text[i] != "\n":
                i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out), strings


def _ers_unquote(tok: str, strings: list[str]) -> str:
    if tok.startswith("\x00") and tok.endswith("\x00"):
        return strings[int(tok.strip("\x00"))]
    return tok


def ers_parse_header(text: str) -> dict:
    """Line-oriented ERS header parse (ershdrnode.cpp): `X Begin` /
    `X End` nesting flattened to dotted keys ('RasterInfo.CellType',
    'RasterInfo.CellInfo.Xdimension', ...). Values take the remainder
    of the line after '='; quoted values lose their quotes; multi-line
    brace values keep only the first scalar token. Repeated keys keep
    the first value (ERSHdrNode::Find semantics)."""
    clean, strings = _ers_preprocess(text)
    kv: dict[str, str] = {}
    path: list[str] = []
    brace_depth = 0
    pending_key: str | None = None
    for raw in clean.splitlines():
        line = raw.strip()
        if not line:
            continue
        if brace_depth > 0:
            # inside a multi-line { ... } value: capture first scalar
            if pending_key is not None:
                tok = line.strip("{} \t")
                if tok:
                    kv.setdefault(
                        pending_key, _ers_unquote(tok.split()[0], strings)
                    )
                    pending_key = None
            brace_depth += line.count("{") - line.count("}")
            if brace_depth <= 0:
                brace_depth = 0
                pending_key = None
            continue
        if "=" in line:
            k, _, v = line.partition("=")
            k = k.strip()
            v = v.strip()
            key = (".".join(path[1:] + [k]) if len(path) > 1 else k).lower()
            if v.startswith("{"):
                inner = v.strip("{} \t")
                if inner:
                    kv.setdefault(key, _ers_unquote(inner.split()[0], strings))
                    pending_key = None
                else:
                    pending_key = key
                brace_depth = v.count("{") - v.count("}")
                if brace_depth <= 0:
                    brace_depth = 0
                    pending_key = None
                continue
            kv.setdefault(key, _ers_unquote(v, strings))
            continue
        toks = line.split()
        if len(toks) == 2 and toks[1].lower() == "begin":
            path.append(toks[0])
        elif len(toks) == 2 and toks[1].lower() == "end":
            if path and path[-1] == toks[0]:
                path.pop()
    return kv


def _dms(s: str) -> float:
    parts = s.split(":")
    sign = -1.0 if parts[0].strip().startswith("-") else 1.0
    d = abs(float(parts[0]))
    m = float(parts[1]) if len(parts) > 1 else 0.0
    sec = float(parts[2]) if len(parts) > 2 else 0.0
    return sign * (d + m / 60.0 + sec / 3600.0)


def ers_decode(header_text: str, data: bytes) -> tuple[np.ndarray, dict]:
    """ERS raster: BIL interleave in the companion data file."""
    kv = ers_parse_header(header_text)
    if kv.get("datasettype", "").lower() != "erstorage":
        raise ValueError("not an ERS header")
    w = int(kv["rasterinfo.nrofcellsperline"])
    h = int(kv["rasterinfo.nroflines"])
    nb = int(kv.get("rasterinfo.nrofbands", "1"))
    celltype = kv.get("rasterinfo.celltype", "Unsigned8BitInteger").lower()
    base = _ERS_TYPES.get(celltype)
    if base is None:
        raise ValueError(f"ERS cell type {celltype!r} not supported")
    bo = ">" if kv.get("byteorder", "LSBFirst").lower().startswith("msb") \
        else "<"
    dt = np.dtype(bo + base)
    off = int(kv.get("headeroffset", "0"))
    total = w * h * nb
    need = off + total * dt.itemsize
    if len(data) < need:  # placeholder/truncated data files read as zero
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, dt, total, off).reshape(h, nb, w)
    out = np.ascontiguousarray(arr.transpose(0, 2, 1))
    if nb == 1:
        out = out[:, :, 0]
    meta: dict = {}
    if "rasterinfo.nullcellvalue" in kv:
        meta["nodata"] = float(kv["rasterinfo.nullcellvalue"])
    try:
        xd = float(kv["rasterinfo.cellinfo.xdimension"])
        yd = float(kv["rasterinfo.cellinfo.ydimension"])
        if "rasterinfo.registrationcoord.eastings" in kv:
            lon = float(kv["rasterinfo.registrationcoord.eastings"])
            lat = float(kv["rasterinfo.registrationcoord.northings"])
        else:
            lon = _dms(kv["rasterinfo.registrationcoord.longitude"])
            lat = _dms(kv["rasterinfo.registrationcoord.latitude"])
        regx = float(kv.get("rasterinfo.registrationcellx", "0"))
        regy = float(kv.get("rasterinfo.registrationcelly", "0"))
        meta["gt"] = (lon - regx * xd, xd, 0.0, lat + regy * yd, 0.0, -yd)
    except KeyError:
        pass
    meta["datum"] = kv.get("coordinatespace.datum", "")
    meta["projection"] = kv.get("coordinatespace.projection", "")
    return out.astype(dt.newbyteorder("=")), meta


# ---------------------------------------------------------------------------
# ROI_PAC (JPL Repeat Orbit Interferometry package)
# ---------------------------------------------------------------------------

_ROIPAC_TYPES = {
    "raw": ("u1", 1), "flg": ("u1", 1), "dem": ("<i2", 1),
    "int": ("<c8", 1), "slc": ("<c8", 1), "amp": ("<f4", 2),
    "unw": ("<f4", 2), "cor": ("<f4", 2), "hgt": ("<f4", 2),
    "msk": ("<f4", 2),
}


def roipac_decode(rsc_text: str, data: bytes, ext: str
                  ) -> tuple[np.ndarray, dict]:
    """ROI_PAC: whitespace key-value .rsc sidecar; band layout is RMG
    (two band-interleaved-by-line float32 bands) for unw/cor/hgt/msk."""
    kv = {}
    for line in rsc_text.splitlines():
        toks = line.split(None, 1)
        if len(toks) == 2:
            kv[toks[0].upper()] = toks[1].strip()
    if "WIDTH" not in kv or "FILE_LENGTH" not in kv:
        raise ValueError("not a ROI_PAC .rsc")
    w = int(kv["WIDTH"])
    h = int(kv["FILE_LENGTH"])
    ext = ext.lower().lstrip(".")
    if ext not in _ROIPAC_TYPES:
        raise ValueError(f"ROI_PAC extension {ext!r} not supported")
    base, nb = _ROIPAC_TYPES[ext]
    dt = np.dtype(base)
    total = w * h * nb
    need = total * dt.itemsize
    if len(data) < need:
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, dt, total)
    if nb == 2:  # RMG: per line, band-1 row then band-2 row
        out = arr.reshape(h, 2, w).transpose(0, 2, 1)
        out = np.ascontiguousarray(out)
    else:
        out = arr.reshape(h, w)
    meta: dict = {k.lower(): v for k, v in kv.items()}
    if "X_FIRST" in kv:
        meta["gt"] = (
            float(kv["X_FIRST"]), float(kv.get("X_STEP", "1")), 0.0,
            float(kv["Y_FIRST"]), 0.0, float(kv.get("Y_STEP", "-1")),
        )
    return out.astype(dt.newbyteorder("=")) if out.dtype.kind != "c" \
        else out, meta


# ---------------------------------------------------------------------------
# GenBin (Generic binary .hdr)
# ---------------------------------------------------------------------------

_GENBIN_TYPES = {
    "U8": "u1", "S8": "i1", "U16": "u2", "S16": "i2",
    "U32": "u4", "S32": "i4", "F32": "f4", "F64": "f8",
}


def genbin_decode(hdr_text: str, data: bytes) -> tuple[np.ndarray, dict]:
    """Generic binary: 'KEY: value' header; BSQ/BIL/BIP interleave.
    BYTE_ORDER 'NA' or 'M' reads big-endian (the reference treats only
    'I'/'L*' as little-endian). Truncated data zero-pads."""
    kv = {}
    for line in hdr_text.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            kv[k.strip().upper()] = v.strip()
    if "BANDS" not in kv or "ROWS" not in kv or "COLS" not in kv:
        raise ValueError("not a GenBin header")
    nb = int(kv["BANDS"])
    h = int(kv["ROWS"])
    w = int(kv["COLS"])
    base = _GENBIN_TYPES.get(kv.get("DATATYPE", "U8").upper())
    if base is None:
        raise ValueError(f"GenBin datatype {kv.get('DATATYPE')!r}")
    border = kv.get("BYTE_ORDER", "NA").upper()
    bo = "<" if border.startswith("I") or border.startswith("L") else ">"
    dt = np.dtype(bo + base)
    total = w * h * nb
    need = total * dt.itemsize
    if len(data) < need:
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, dt, total)
    inter = kv.get("INTERLEAVING", "BSQ").upper()
    if nb == 1:
        out = arr.reshape(h, w)
    elif inter == "BIL":
        out = np.ascontiguousarray(arr.reshape(h, nb, w).transpose(0, 2, 1))
    elif inter == "BIP":
        out = arr.reshape(h, w, nb)
    else:
        out = np.ascontiguousarray(arr.reshape(nb, h, w).transpose(1, 2, 0))
    meta: dict = {k.lower(): v for k, v in kv.items()}
    if "UL_X_COORDINATE" in kv and "PIXEL_WIDTH" in kv:
        pw, ph = float(kv["PIXEL_WIDTH"]), float(kv["PIXEL_HEIGHT"])
        meta["gt"] = (float(kv["UL_X_COORDINATE"]), pw, 0.0,
                      float(kv["UL_Y_COORDINATE"]), 0.0, -ph)
    return out.astype(dt.newbyteorder("=")), meta


# ---------------------------------------------------------------------------
# RRASTER (R raster package .grd/.gri)
# ---------------------------------------------------------------------------

_RR_TYPES = {
    "INT1U": "u1", "INT1S": "i1", "INT2U": "u2", "INT2S": "i2",
    "INT4U": "u4", "INT4S": "i4", "FLT4S": "f4", "FLT8S": "f8",
    "LOG1S": "u1",
}
_RR_NAMES = {v: k for k, v in _RR_TYPES.items() if k != "LOG1S"}


def rraster_decode(grd_text: str, gri: bytes) -> tuple[np.ndarray, dict]:
    kv = {}
    for line in grd_text.splitlines():
        line = line.strip()
        if "=" in line and not line.startswith("["):
            k, _, v = line.partition("=")
            kv[k.strip().lower()] = v.strip()
    if "nrows" not in kv or "ncols" not in kv or "datatype" not in kv:
        raise ValueError("not an RRASTER .grd")
    h, w = int(kv["nrows"]), int(kv["ncols"])
    nb = int(kv.get("nbands", "1"))
    base = _RR_TYPES.get(kv["datatype"].upper())
    if base is None:
        raise ValueError(f"RRASTER datatype {kv['datatype']!r}")
    bo = ">" if kv.get("byteorder", "little").lower() == "big" else "<"
    dt = np.dtype(bo + base)
    arr = np.frombuffer(gri, dt, w * h * nb)
    order = kv.get("bandorder", "BIL").upper()
    if nb == 1:
        out = arr.reshape(h, w)
    elif order == "BIL":
        out = np.ascontiguousarray(arr.reshape(h, nb, w).transpose(0, 2, 1))
    elif order == "BIP":
        out = arr.reshape(h, w, nb)
    else:
        out = np.ascontiguousarray(arr.reshape(nb, h, w).transpose(1, 2, 0))
    xmin, xmax = float(kv["xmin"]), float(kv["xmax"])
    ymin, ymax = float(kv["ymin"]), float(kv["ymax"])
    meta: dict = {
        "gt": (xmin, (xmax - xmin) / w, 0.0, ymax, 0.0, -(ymax - ymin) / h),
        "projection": kv.get("projection", ""),
    }
    nod = kv.get("nodatavalue", "NA")
    if nod not in ("", "NA"):
        meta["nodata"] = float(nod)
    return out.astype(dt.newbyteorder("=")), meta


def rraster_encode(arr: np.ndarray, gt: tuple | None = None,
                   nodata: float | None = None) -> tuple[str, bytes]:
    """RRASTER writer (BIL, native little-endian)."""
    if arr.ndim == 2:
        arr3 = arr[:, :, None]
    else:
        arr3 = arr
    h, w, nb = arr3.shape
    base = {
        np.dtype(np.uint8): "u1", np.dtype(np.int16): "i2",
        np.dtype(np.int32): "i4", np.dtype(np.float32): "f4",
    }.get(arr.dtype, "f8")
    dt = np.dtype("<" + base)
    if gt is None:
        gt = (0.0, 1.0, 0.0, float(h), 0.0, -1.0)
    xmin, xmax = gt[0], gt[0] + gt[1] * w
    ymax, ymin = gt[3], gt[3] + gt[5] * h
    mn = float(np.nanmin(arr)) if arr.size else 0.0
    mx = float(np.nanmax(arr)) if arr.size else 0.0
    grd = "\n".join([
        "[general]",
        "creator=gdal_spark",
        "created=",
        "[georeference]",
        f"nrows={h}",
        f"ncols={w}",
        f"xmin={xmin:.10g}",
        f"ymin={ymin:.10g}",
        f"xmax={xmax:.10g}",
        f"ymax={ymax:.10g}",
        "projection=",
        "[data]",
        f"datatype={_RR_NAMES[base]}",
        "byteorder=little",
        f"nbands={nb}",
        "bandorder=BIL",
        f"minvalue={mn:g}",
        f"maxvalue={mx:g}",
        f"nodatavalue={nodata if nodata is not None else 'NA'}",
        "[description]",
        "layername=band",
    ]) + "\n"
    body = np.ascontiguousarray(
        arr3.transpose(0, 2, 1).astype(dt)
    ).tobytes()
    return grd, body


# ---------------------------------------------------------------------------
# SIGDEM
# ---------------------------------------------------------------------------

SIGDEM_NO_DATA = -0x80000000


def sigdem_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """SIGDEM: 132-byte big-endian header then int32-BE cells; elevation
    = cell / scaleZ + offsetZ as float64; NO_DATA = 0x80000000."""
    if len(data) < 132 or data[:6] != b"SIGDEM":
        raise ValueError("not a SIGDEM file")
    version, csid = struct.unpack(">hi", data[6:12])
    (offx, sclx, offy, scly, offz, sclz, minx, miny, minz,
     maxx, maxy, maxz) = struct.unpack(">12d", data[12:108])
    cols, rows = struct.unpack(">ii", data[108:116])
    xdim, ydim = struct.unpack(">dd", data[116:132])
    cells = np.frombuffer(data, ">i4", cols * rows, 132).reshape(rows, cols)
    out = cells.astype(np.float64) / (sclz if sclz else 1.0) + offz
    out[cells == SIGDEM_NO_DATA] = np.nan
    meta = {
        "gt": (minx, xdim, 0.0, maxy, 0.0, -ydim),
        "version": version, "coordinate_system_id": csid,
        "nodata": np.nan,
    }
    return out, meta


def sigdem_encode(arr: np.ndarray, gt: tuple | None = None,
                  scale_z: float = 1000.0) -> bytes:
    """SIGDEM writer (CreateCopy semantics: int32 round((z-offZ)*scaleZ),
    offsets = min extents)."""
    if arr.ndim != 2:
        raise ValueError("SIGDEM is single-band")
    h, w = arr.shape
    if gt is None:
        gt = (0.0, 1.0, 0.0, float(h), 0.0, -1.0)
    minx = gt[0]
    maxx = minx + gt[1] * w
    maxy = gt[3]
    miny = maxy + gt[5] * h
    a = np.asarray(arr, np.float64)
    finite = a[np.isfinite(a)]
    minz = float(finite.min()) if finite.size else 0.0
    maxz = float(finite.max()) if finite.size else 0.0
    hdr = b"SIGDEM" + struct.pack(
        ">hi12dii2d", 1, 0,
        minx, 1000.0, miny, 1000.0, 0.0, scale_z,
        minx, miny, minz, maxx, maxy, maxz,
        w, h, gt[1], -gt[5],
    )
    cells = np.where(
        np.isfinite(a),
        np.round(a * scale_z),
        float(SIGDEM_NO_DATA),
    ).astype(">i4")
    return hdr + cells.tobytes()


# ---------------------------------------------------------------------------
# GTX (NOAA VDatum vertical shift grid) — frmts/raw/gtxdataset.cpp
# ---------------------------------------------------------------------------

GTX_NODATA = -88.8888


def gtx_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """GTX: 40-byte big-endian header (lat0, lon0, dlat, dlon doubles +
    rows, cols int32); float32-BE rows stored south-to-north."""
    if len(data) < 40:
        raise ValueError("GTX too short")
    lat0, lon0, dlat, dlon = struct.unpack(">4d", data[:32])
    rows, cols = struct.unpack(">ii", data[32:40])
    if rows <= 0 or cols <= 0:
        raise ValueError("bad GTX dimensions")
    arr = np.frombuffer(data, ">f4", rows * cols, 40).reshape(rows, cols)
    out = np.ascontiguousarray(arr[::-1]).astype("=f4")  # south-up -> north-up
    if lon0 > 180.0:
        lon0 -= 360.0
    elif lon0 < -180.0 - dlon:
        lon0 += 360.0
    gt = (lon0 - dlon * 0.5, dlon, 0.0,
          lat0 + dlat * (rows - 1) + dlat * 0.5, 0.0, -dlat)
    return out, {"gt": gt, "nodata": GTX_NODATA}


# ---------------------------------------------------------------------------
# BYN (Natural Resources Canada vertical grids) — frmts/raw/byndataset.cpp
# ---------------------------------------------------------------------------

def byn_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """BYN: 80-byte little-endian header; extents in arc-seconds
    (x1000 when nScale==1); int16/int32 rows north-to-south."""
    if len(data) < 80:
        raise ValueError("BYN too short")
    south, north, west, east = struct.unpack("<4i", data[:16])
    dlat, dlon, nglobal, ntype = struct.unpack("<4h", data[16:24])
    factor, = struct.unpack("<d", data[24:32])
    sizeof, vdatum = struct.unpack("<hh", data[32:36])
    descrip, subtype, datum, ellipsoid, byteorder, scale = struct.unpack(
        "<6h", data[40:52]
    )
    s, n, w_, e, dla, dlo = (float(v) for v in
                             (south, north, west, east, dlat, dlon))
    if scale == 1:
        s *= 1000.0
        n *= 1000.0
        w_ *= 1000.0
        e *= 1000.0
        dla *= 1000.0
        dlo *= 1000.0
    if dla == 0 or dlo == 0:
        raise ValueError("bad BYN spacing")
    cols = int((e - w_ + 1.0) / dlo + 1.0)
    rows = int((n - s + 1.0) / dla + 1.0)
    bo = ">" if byteorder == 0 else "<"
    if sizeof == 2:
        dt = np.dtype(bo + "i2")
    elif sizeof == 4:
        dt = np.dtype(bo + "i4")
    else:
        raise ValueError(f"BYN nSizeOf {sizeof}")
    total = rows * cols
    need = 80 + total * dt.itemsize
    if len(data) < need:
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, dt, total, 80).reshape(rows, cols)
    gt = ((w_ - dlo / 2.0) / 3600.0, dlo / 3600.0, 0.0,
          (n + dla / 2.0) / 3600.0, 0.0, -dla / 3600.0)
    meta = {"gt": gt, "factor": factor, "vdatum": vdatum,
            "nodata": 32767.0 if sizeof == 2 else 9999.0 * (factor or 1.0)}
    return arr.astype(dt.newbyteorder("=")), meta


# ---------------------------------------------------------------------------
# ISG (International Service for the Geoid) — ASCII geoid grids
# ---------------------------------------------------------------------------

def isg_decode(text: str) -> tuple[np.ndarray, dict]:
    """ISG: free text, 'begin_of_head', 'key : value' / 'key = value'
    lines, 'end_of_head', then whitespace float rows north-first
    (frmts/aaigrid ISGDataset)."""
    lines = text.splitlines()
    i = 0
    while i < len(lines) and not lines[i].startswith("begin_of_head"):
        i += 1
    if i >= len(lines):
        raise ValueError("not an ISG file")
    kv = {}
    i += 1
    while i < len(lines) and not lines[i].startswith("end_of_head"):
        line = lines[i]
        sep = "=" if "=" in line else (":" if ":" in line else None)
        if sep:
            k, _, v = line.partition(sep)
            kv[k.strip().lower()] = v.strip()
        i += 1
    rows = int(kv["nrows"])
    cols = int(kv["ncols"])
    latmin, latmax = float(kv["lat min"]), float(kv["lat max"])
    lonmin, lonmax = float(kv["lon min"]), float(kv["lon max"])
    dlat = float(kv.get("delta lat", (latmax - latmin) / rows))
    dlon = float(kv.get("delta lon", (lonmax - lonmin) / cols))
    nodata = float(kv.get("nodata", "-9999"))
    vals: list[float] = []
    for line in lines[i + 1:]:
        vals.extend(float(t) for t in line.split())
        if len(vals) >= rows * cols:
            break
    if len(vals) < rows * cols:
        raise ValueError("ISG data truncated")
    arr = np.array(vals[: rows * cols], np.float64).reshape(rows, cols)
    gt = (lonmin, dlon, 0.0, latmax, 0.0, -dlat)
    return arr, {"gt": gt, "nodata": nodata, "model": kv.get("model name", "")}


# ---------------------------------------------------------------------------
# KRO (KOLOR raw) — frmts/raw/krodataset.cpp
# ---------------------------------------------------------------------------

def kro_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """KRO: 'KRO\\x01' + w,h,depth,ncomp int32-BE; interleaved raw."""
    if not data.startswith(b"KRO\x01"):
        raise ValueError("not a KRO file")
    w, h, depth, ncomp = struct.unpack(">4i", data[4:20])
    dt = {8: np.dtype("u1"), 16: np.dtype(">u2"), 32: np.dtype(">f4")}.get(depth)
    if dt is None:
        raise ValueError(f"KRO depth {depth}")
    total = w * h * ncomp
    arr = np.frombuffer(data, dt, total, 20)
    out = arr.reshape(h, w, ncomp) if ncomp > 1 else arr.reshape(h, w)
    return np.ascontiguousarray(out).astype(dt.newbyteorder("=")), {
        "depth": depth, "ncomp": ncomp,
    }


def kro_encode(arr: np.ndarray) -> bytes:
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ncomp = arr.shape
    if arr.dtype == np.uint8:
        depth, dt = 8, np.dtype("u1")
    elif arr.dtype == np.uint16:
        depth, dt = 16, np.dtype(">u2")
    else:
        depth, dt = 32, np.dtype(">f4")
    hdr = b"KRO\x01" + struct.pack(">4i", w, h, depth, ncomp)
    return hdr + np.ascontiguousarray(arr.astype(dt)).tobytes()


# ---------------------------------------------------------------------------
# ACE2 — frmts/raw/ace2dataset.cpp (everything from the filename)
# ---------------------------------------------------------------------------

_ACE2_SIZES = {"_5M": (180, 5.0 / 60), "_30S": (1800, 30.0 / 3600),
               "_9S": (6000, 9.0 / 3600), "_3S": (18000, 3.0 / 3600)}


def ace2_decode(data: bytes, filename: str) -> tuple[np.ndarray, dict]:
    """ACE2: raw little-endian tiles; SW corner, cell size and data type
    all encoded in the filename (e.g. 45N015E_5M.ACE2)."""
    base = filename.rsplit("/", 1)[-1].split(".")[0]
    if len(base) < 7:
        raise ValueError("ACE2 filename too short")
    lat = int(base[0:2])
    lon = int(base[3:6])
    if base[2] in "Ss":
        lat = -lat
    elif base[2] not in "Nn":
        raise ValueError("bad ACE2 filename")
    if base[6] in "Ww":
        lon = -lon
    elif base[6] not in "Ee":
        raise ValueError("bad ACE2 filename")
    int16 = any(t in base for t in ("_CONF_", "_QUALITY_", "_SOURCE_"))
    dt = np.dtype("<i2") if int16 else np.dtype("<f4")
    size = None
    cell = None
    for tag, (n, c) in _ACE2_SIZES.items():
        if tag in base:
            size, cell = n, c
            break
    if size is None:
        size = int((len(data) // dt.itemsize) ** 0.5)
        cell = 15.0 / size  # 15-degree tiles
    total = size * size
    need = total * dt.itemsize
    if len(data) < need:
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, dt, total).reshape(size, size)
    gt = (float(lon), cell, 0.0, lat + size * cell, 0.0, -cell)
    return arr.astype(dt.newbyteorder("=")), {"gt": gt}


# ---------------------------------------------------------------------------
# SNODAS — frmts/raw/snodasdataset.cpp (NOHRSC .hdr + .dat)
# ---------------------------------------------------------------------------

def snodas_decode(hdr_text: str, dat: bytes | None
                  ) -> tuple[np.ndarray, dict]:
    """SNODAS: 'Key: value' header; int16 big-endian .dat named by
    'Data file pathname'. A missing/placeholder .dat reads as zeros."""
    kv = {}
    for line in hdr_text.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            kv[k.strip().lower()] = v.strip()
    if not kv.get("format version", "").startswith("NOHRSC"):
        raise ValueError("not a SNODAS header")
    w = int(kv["number of columns"])
    h = int(kv["number of rows"])
    xmin = float(kv["minimum x-axis coordinate"])
    ymax = float(kv["maximum y-axis coordinate"])
    dx = float(kv["x-axis resolution"])
    dy = float(kv["y-axis resolution"])
    nodata = float(kv.get("no data value", "-9999"))
    total = w * h
    body = dat or b""
    need = total * 2
    if len(body) < need:
        body = body + b"\x00" * (need - len(body))
    arr = np.frombuffer(body, ">i2", total).reshape(h, w).astype("=i2")
    meta = {
        "gt": (xmin, dx, 0.0, ymax, 0.0, -dy),
        "nodata": nodata,
        "slope": float(kv.get("data slope", "1")),
        "intercept": float(kv.get("data intercept", "0")),
        "units": kv.get("data units", ""),
        "datafile": kv.get("data file pathname", ""),
    }
    return arr, meta


# ---------------------------------------------------------------------------
# NDF (NLAPS) — frmts/raw/ndfdataset.cpp
# ---------------------------------------------------------------------------

def ndf_read(header_text: str, files: dict[str, bytes]
             ) -> tuple[list[np.ndarray], dict]:
    """NDF: 'KEY=VALUE;' header; bands via BANDn_FILENAME (or .In
    extension fallback); BYTE BSQ pixels. Short band files zero-pad."""
    kv = {}
    for line in header_text.splitlines():
        line = line.strip().rstrip(";")
        if "=" in line:
            k, _, v = line.partition("=")
            kv[k.strip().upper()] = v.strip()
    if kv.get("PIXEL_FORMAT", "BYTE").upper() != "BYTE":
        raise ValueError("NDF pixel format not supported")
    w = int(kv["PIXELS_PER_LINE"])
    h = int(kv["LINES_PER_DATA_FILE"])
    nb = int(kv.get("NUMBER_OF_BANDS_IN_VOLUME", "1"))
    lower = {k.lower(): k for k in files}
    bands = []
    for i in range(1, nb + 1):
        name = kv.get(f"BAND{i}_FILENAME", "")
        key = lower.get(name.lower()) if name else None
        if key is None:
            continue
        raw = files[key]
        need = w * h
        if len(raw) < need:
            raw = raw + b"\x00" * (need - len(raw))
        bands.append(np.frombuffer(raw, np.uint8, need).reshape(h, w))
    if not bands:
        raise ValueError("NDF: no band files found")
    return bands, kv


# ---------------------------------------------------------------------------
# NWT_GRD (Northwood/VerticalMapper .grd) — frmts/northwood
# ---------------------------------------------------------------------------

def _nwt_create_ip(index, r, g, b, cmap, marker):
    """northwood.cpp createIP: linear ramp from the last watermark."""
    if index == 0:
        cmap[0] = (r, g, b)
        return 0
    if index <= marker:
        return marker
    wm = marker
    r0, g0, b0 = cmap[wm]
    span = index - wm
    for i in range(wm + 1, index):
        f = (i - wm)
        cmap[i] = (
            int(r0 + f * np.float32(r - r0) / np.float32(span) + 0.5),
            int(g0 + f * np.float32(g - g0) / np.float32(span) + 0.5),
            int(b0 + f * np.float32(b - b0) / np.float32(span) + 0.5),
        )
    cmap[index] = (r, g, b)
    return index


def _nwt_linear_color(lo, hi, mid):
    zl, rl, gl, bl = lo
    zh, rh, gh, bh = hi
    if mid < zl:
        return rl, gl, bl
    if mid > zh:
        return rh, gh, bh
    s = (mid - zl) / (zh - zl)
    return (int(s * (rh - rl) + rl + 0.5), int(s * (gh - gl) + gl + 0.5),
            int(s * (bh - bl) + bl + 0.5))


def _nwt_colormap(zmin, zmax, inflections, mapsize=4096):
    cmap = [(255, 255, 255)] * mapsize
    marker = _nwt_create_ip(0, 255, 255, 255, cmap, 0)
    if not inflections:
        return np.array(cmap, np.uint8)
    if zmin <= inflections[0][0]:
        marker = _nwt_create_ip(1, *inflections[0][1:], cmap, marker)
        i = 1
    else:
        i = 1
        while i < len(inflections):
            if zmin < inflections[i][0]:
                c = _nwt_linear_color(inflections[i - 1], inflections[i], zmin)
                marker = _nwt_create_ip(1, *c, cmap, marker)
                break
            i += 1
    if i >= len(inflections):
        marker = _nwt_create_ip(1, *inflections[-1][1:], cmap, marker)
        _nwt_create_ip(mapsize - 1, *inflections[-1][1:], cmap, marker)
    else:
        index = 0
        while i < len(inflections):
            if zmax < inflections[i][0]:
                c = _nwt_linear_color(inflections[i - 1], inflections[i], zmax)
                index = mapsize - 1
                marker = _nwt_create_ip(index, *c, cmap, marker)
                break
            index = int(
                (inflections[i][0] - zmin) / (zmax - zmin) * mapsize
            )
            index = min(index, mapsize - 1)
            marker = _nwt_create_ip(index, *inflections[i][1:], cmap, marker)
            i += 1
        if index < mapsize - 1:
            _nwt_create_ip(mapsize - 1, *inflections[-1][1:], cmap, marker)
    return np.array(cmap, np.uint8)


NWT_NODATA = np.float32(-1.0e37)


def nwt_grd_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """Northwood GRD surface grid: 1024-byte header, uint16-LE cells
    (0 = nodata, else z = zmin + (raw-1)*(zmax-zmin)/65534). Returns an
    (h, w, 4) array: the reference's 3 virtual color-ramp bands from the
    4096-entry inflection colormap + the float z band (as the 4th plane
    via meta['z'])."""
    if len(data) < 1024 or data[:4] not in (b"HGPC", b"GRD\x00") \
            and not data[:8].startswith(b"HGPC"):
        # magic: first bytes 'HGPC' + format char; be tolerant, verify size
        pass
    fmt_c = data[4:5]
    w = struct.unpack("<H", data[9:11])[0]
    h = struct.unpack("<H", data[11:13])[0]
    if w == 0:
        w = struct.unpack("<I", data[128:132])[0]
    if h == 0:
        h = struct.unpack("<I", data[132:136])[0]
    minx, maxx, miny, maxy = struct.unpack("<4d", data[13:45])
    zmin, zmax = struct.unpack("<ff", data[45:53])
    ninf = struct.unpack("<H", data[516:518])[0]
    inflections = []
    for i in range(min(ninf, 32)):
        z, = struct.unpack("<f", data[518 + 7 * i:522 + 7 * i])
        r, g, b = data[522 + 7 * i], data[523 + 7 * i], data[524 + 7 * i]
        inflections.append((z, r, g, b))
    raw = np.frombuffer(data, "<u2", w * h, 1024).reshape(h, w)
    scale = (zmax - zmin) / 65534.0
    z = np.where(raw == 0, NWT_NODATA,
                 (zmin + (raw.astype(np.float64) - 1) * scale)
                 .astype(np.float32))
    cmap = _nwt_colormap(np.float32(zmin), np.float32(zmax), inflections)
    rgb = cmap[np.minimum(raw // 16, 4095)]
    step = (maxx - minx) / (w - 1)
    gt = (minx - step / 2, step, 0.0, maxy + step / 2, 0.0, -step)
    out = np.dstack([rgb, np.zeros((h, w, 1), np.uint8)])
    meta = {"gt": gt, "z": z, "zmin": zmin, "zmax": zmax,
            "nodata": float(NWT_NODATA)}
    return out, meta


def nwt_grc_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """Northwood Classified Grid (.grc) — frmts/northwood/grcdataset.cpp +
    northwood.cpp nwt_ParseHeader (GRC branch :150-238).

    Header is the shared 1024-byte Northwood layout with 'HGPC' magic and
    format char '8' (classified; '1' is the .grd surface handled by
    nwt_grd_decode). Band 1 is the raw class-index plane (uint8/16/32 LE,
    nBitsPerPixel = header[1023]*4, or 16 when header[1023]==0 —
    northwood.cpp:144-148; 0 = nodata). The classification dictionary sits
    AFTER the pixel block (u16 item count, then 9-byte records
    {u16 pixval, res, r, g, b, res, u16 namelen} + name bytes). Returns
    the index plane plus meta: a GDAL-style color table (entry 0
    transparent white, grcdataset.cpp:104-122), category names ('No Data'
    + per-value names, '' for undefined values :133-160), geotransform
    (pixel-center bounds -> half-cell shift) and the MapInfo coordsys
    string."""
    if len(data) < 1024 or data[:4] != b"HGPC" or data[4:5] != b"8":
        raise ValueError("not a Northwood GRC grid")
    w = struct.unpack("<H", data[9:11])[0]
    h = struct.unpack("<H", data[11:13])[0]
    if w == 0:
        w = struct.unpack("<I", data[128:132])[0]
    if h == 0:
        h = struct.unpack("<I", data[132:136])[0]
    if w <= 1 or h < 1:
        raise ValueError("bad GRC dimensions")
    minx, maxx, miny, maxy = struct.unpack("<4d", data[13:45])
    bpp = data[1023] * 4 if data[1023] else 16
    if bpp not in (8, 16, 32):
        raise ValueError(f"unsupported GRC depth {bpp}")
    dt = {8: "<u1", 16: "<u2", 32: "<u4"}[bpp]
    idx = np.frombuffer(data, dt, w * h, 1024).reshape(h, w)

    # classification dictionary after the pixel block
    p = 1024 + w * h * (bpp // 8)
    nitems = struct.unpack("<H", data[p:p + 2])[0]
    p += 2
    items = []
    for _ in range(nitems):
        pixval = struct.unpack("<H", data[p:p + 2])[0]
        r, g, b = data[p + 3], data[p + 4], data[p + 5]
        nlen = struct.unpack("<H", data[p + 7:p + 9])[0]
        p += 9
        name = data[p:p + nlen].split(b"\0")[0].decode("latin-1")
        p += nlen
        items.append((pixval, r, g, b, name))

    maxval = max((it[0] for it in items), default=0)
    color_table = {0: (255, 255, 255, 0)}
    for pixval, r, g, b, _ in items:
        color_table[pixval] = (r, g, b, 255)
    categories = ["No Data"]
    byval = {it[0]: it[4] for it in items}
    for val in range(1, maxval + 1):
        categories.append(byval.get(val, ""))

    step = (maxx - minx) / (w - 1)
    gt = (minx - step / 2, step, 0.0, maxy + step / 2, 0.0, -step)
    meta = {
        "gt": gt,
        "nodata": 0.0,
        "color_table": color_table,
        "categories": categories,
        "mi_coordsys": data[256:512].split(b"\0")[0].decode("latin-1"),
        "description": data[61:93].split(b"\0")[0].decode("latin-1"),
    }
    return idx, meta


# ---------------------------------------------------------------------------
# LCP (FARSITE v4 landscape) — frmts/raw/lcpdataset.cpp
# ---------------------------------------------------------------------------

_LCP_SLOTS = {
    # slot -> (description, metadata prefix, unit-value names)
    1: ("Elevation", "ELEVATION", {0: "Meters", 1: "Feet"}),
    2: ("Slope", "SLOPE", {0: "Degrees", 1: "Percent"}),
    3: ("Aspect", "ASPECT", {0: "Grass categories", 1: "Grass degrees",
                             2: "Azimuth degrees"}),
    4: ("Fuel models", "FUEL_MODEL", {}),
    5: ("Canopy cover", "CANOPY_COV", {0: "Categories (0-4)", 1: "Percent"}),
    6: ("Canopy height", "CANOPY_HT", {1: "Meters", 2: "Feet",
                                       3: "Meters x 10", 4: "Feet x 10"}),
    7: ("Canopy base height", "CBH", {1: "Meters", 2: "Feet",
                                      3: "Meters x 10", 4: "Feet x 10"}),
    8: ("Canopy bulk density", "CBD", {1: "kg/m^3", 2: "lb/ft^3",
                                       3: "kg/m^3 x 100",
                                       4: "lb/ft^3 x 1000"}),
    9: ("Duff", "DUFF", {1: "Mg/ha", 2: "t/ac"}),
    10: ("Coarse woody debris", "CWD", {}),
}

_LCP_FUEL_DESC = {
    0: "no custom models AND no conversion file needed",
    1: "custom models BUT no conversion file needed",
    2: "no custom models BUT conversion file needed",
    3: "custom models AND conversion file needed",
}


def lcp_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """FARSITE v4 .lcp: 7316-byte little-endian header, BIP int16 bands.
    Band set: elevation/slope/aspect/fuel/canopy-cover (+canopy height,
    base height, bulk density with crown fuels; +duff, coarse woody
    with ground fuels). Per-band metadata from the fixed header slots:
    unit shorts at 4224+2*(slot-1), min/max/classes blocks at
    44+412*(slot-1), file names at 4244+256*(slot-1)."""
    if len(data) < 7316:
        raise ValueError("LCP too short")
    crown, ground, lat = struct.unpack("<iii", data[:12])
    if crown not in (20, 21) or ground not in (20, 21) or not -90 <= lat <= 90:
        raise ValueError("not a FARSITE v4 LCP")
    have_crown = crown == 21
    have_ground = ground == 21
    w, h = struct.unpack("<ii", data[4164:4172])
    east, west, north, south = struct.unpack("<4d", data[4172:4204])
    lunit, = struct.unpack("<i", data[4204:4208])
    cellx, celly = struct.unpack("<dd", data[4208:4224])
    slots = [1, 2, 3, 4, 5]
    if have_crown:
        slots += [6, 7, 8]
    if have_ground:
        slots += [9, 10]
    nb = len(slots)
    total = w * h * nb
    need = 7316 + total * 2
    if len(data) < need:
        data = data + b"\x00" * (need - len(data))
    arr = np.frombuffer(data, "<i2", total, 7316).reshape(h, w, nb)
    meta: dict = {
        "gt": (west, cellx, 0.0, north, 0.0, -celly),
        "LATITUDE": str(lat),
        "LINEAR_UNIT": {0: "Meters", 1: "Feet"}.get(lunit, ""),
        "DESCRIPTION": data[6804:7316].split(b"\x00")[0]
        .decode("latin-1", "replace"),
    }
    bands_md = []
    for slot in slots:
        desc, pfx, units = _LCP_SLOTS[slot]
        md = {"description": desc}
        unit, = struct.unpack("<H", data[4224 + 2 * (slot - 1):
                                         4226 + 2 * (slot - 1)])
        base = 44 + 412 * (slot - 1)
        mn, mx, ncls = struct.unpack("<iii", data[base:base + 12])
        foff = 4244 + 256 * (slot - 1)
        fname = data[foff:foff + 256].split(b"\x00")[0].decode(
            "latin-1", "replace")
        if slot == 4:
            md[f"{pfx}_OPTION"] = str(unit)
            md[f"{pfx}_OPTION_DESC"] = _LCP_FUEL_DESC.get(unit, "")
            vals = []
            if 0 < ncls <= 100:
                for i in range(ncls + 1):
                    v, = struct.unpack("<i", data[base + 12 + 4 * i:
                                                  base + 16 + 4 * i])
                    if mn <= v <= mx:
                        vals.append(str(v))
            md[f"{pfx}_VALUES"] = ",".join(vals)
        elif slot == 10:
            md[f"{pfx}_OPTION"] = str(unit)
        else:
            md[f"{pfx}_UNIT"] = str(unit)
            if unit in units:
                md[f"{pfx}_UNIT_NAME"] = units[unit]
        md[f"{pfx}_MIN"] = str(mn)
        md[f"{pfx}_MAX"] = str(mx)
        md[f"{pfx}_NUM_CLASSES"] = str(ncls)
        md[f"{pfx}_FILE"] = fname
        bands_md.append(md)
    meta["bands"] = bands_md
    return np.ascontiguousarray(arr).astype("=i2"), meta
