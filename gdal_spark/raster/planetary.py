"""Planetary label formats: PDS3, ISIS2, ISIS3.

Label grammar and keyword semantics transcribed from the reference
drivers (format facts only):

  PDS3   frmts/pds/pdsdataset.cpp   (ODL label; ^IMAGE record/byte/
         detached-file pointers, SAMPLE_TYPE x SAMPLE_BITS data types,
         BAND_STORAGE_TYPE, SCALING_FACTOR/OFFSET/MISSING,
         IMAGE_MAP_PROJECTION MAP_SCALE <KM>/<M> + the
         PDS_SampleProjOffset_Shift/-Mult geotransform rule)
  ISIS2  frmts/pds/isis2dataset.cpp (QUBE object: AXIS_NAME order,
         CORE_ITEMS/CORE_ITEM_BYTES/CORE_ITEM_TYPE SUN_/PC_/VAX_,
         CORE_BASE + CORE_MULTIPLIER)
  ISIS3  frmts/pds/isis3dataset.cpp (PVL: IsisCube/Core StartByte,
         Format Tile|BandSequential, Dimensions, Pixels Type/ByteOrder/
         Base/Multiplier; detached ^Core filenames)
"""

from __future__ import annotations

import re
import struct

import numpy as np

from gdal_spark.raster.rawband import raw_layout, raw_read

__all__ = ["odl_parse", "pds_open", "isis2_open", "isis3_open"]


# ---------------------------------------------------------------------------
# ODL / PVL label parser
# ---------------------------------------------------------------------------

def _odl_lines(text: str):
    """Logical lines: strips /* */ comments and '#' CR padding, joins
    continuation lines for ( ... ) lists spanning multiple lines."""
    text = re.sub(r"/\*.*?\*/", " ", text, flags=re.S)
    buf = ""
    for raw in text.splitlines():
        line = raw.strip()
        if not line:
            continue
        buf = (buf + " " + line).strip() if buf else line
        # unbalanced parens or quotes -> continuation
        if buf.count("(") > buf.count(")") or buf.count('"') % 2 == 1:
            continue
        yield buf
        buf = ""
    if buf:
        yield buf


def odl_parse(text: str) -> dict:
    """ODL/PVL -> flat dict with dotted keys per OBJECT/GROUP nesting.
    Values keep their raw string (quotes stripped, <units> removed is
    left to accessors). First value wins for duplicate keys."""
    kv: dict[str, str] = {}
    path: list[str] = []
    for line in _odl_lines(text):
        if "=" not in line:
            lu = line.upper()
            if lu == "END":
                break
            if lu in ("END_OBJECT", "END_GROUP", "ENDOBJECT", "ENDGROUP"):
                if path:
                    path.pop()
            continue
        k, _, v = line.partition("=")
        k = k.strip()
        v = v.strip()
        ku = k.upper()
        if ku in ("OBJECT", "GROUP"):
            path.append(v.strip().strip('"'))
            continue
        if ku in ("END_OBJECT", "END_GROUP"):
            if path:
                path.pop()
            continue
        if ku == "END":
            break
        key = ".".join(path + [k])
        if v.startswith('"') and v.endswith('"') and len(v) >= 2:
            v = v[1:-1]
        kv.setdefault(key, v)
        kv.setdefault(key.upper(), v)
    return kv


def _num(v: str | None, default: float = 0.0) -> float:
    if v is None:
        return default
    v = v.strip()
    m = re.match(r"16#([0-9A-Fa-f]+)#", v)
    if m:  # ISIS2 hex constant: raw float32 bits
        bits = int(m.group(1), 16)
        return struct.unpack(">f", struct.pack(">I", bits))[0]
    v = re.sub(r"<[^>]*>", "", v).strip().strip("'\"")
    try:
        return float(v)
    except ValueError:
        return default


def _unit(v: str | None) -> str:
    if not v:
        return ""
    m = re.search(r"<([^>]*)>", v)
    return m.group(1).strip().upper() if m else ""


def _tuple(v: str) -> list[str]:
    return [t.strip().strip('"\'') for t in v.strip("() ").split(",")]


def _pds_dtype(sample_type: str, bits: int) -> np.dtype:
    st = sample_type.upper()
    if "REAL" in st or "FLOAT" in st:
        bo = "<" if st.startswith(("PC", "LSB")) else ">"
        return np.dtype(bo + ("f8" if bits == 64 else "f4"))
    signed = "UNSIGNED" not in st
    bo = "<" if st.startswith(("LSB", "PC", "VAX")) else ">"
    size = max(1, bits // 8)
    kind = "i" if signed else "u"
    return np.dtype(f"{bo}{kind}{size}")


def pds_open(data: bytes, siblings: dict[str, bytes] | None = None,
             proj_offset_shift: float = 0.5) -> tuple[np.ndarray, dict]:
    """PDS3 attached or detached-label image. `siblings` supplies
    detached data files by (case-insensitive) name. Truncated imagery
    reads as zeros through `rawband.raw_read` (bounded by MAX_RAW_BYTES).
    Returns (array, meta{gt, scale, offset, nodata, ...})."""
    head = data[:32768].decode("latin-1", "replace")
    if "PDS_VERSION_ID" not in head and "NJPL1I" not in head \
            and "CCSD" not in head:
        raise ValueError("not a PDS label")
    kv = odl_parse(data.decode("latin-1", "replace"))
    record_bytes = int(_num(kv.get("RECORD_BYTES"), 0))
    img_ptr = kv.get("^IMAGE")
    if img_ptr is None:
        raise ValueError("PDS label has no ^IMAGE pointer")
    body = data
    offset = 0
    ptr = img_ptr.strip()
    if ptr.startswith("("):
        fname, off = _tuple(ptr)[:2]
        low = {k.lower(): k for k in (siblings or {})}
        key = low.get(fname.lower())
        if key is None:
            raise ValueError(f"PDS detached file {fname!r} not supplied")
        body = siblings[key]
        n = _num(off)
        offset = int(n) - 1 if _unit(off) == "BYTES" \
            else (int(n) - 1) * record_bytes
    elif ptr.startswith('"') or ptr.lower().endswith((".img", ".raw")):
        fname = ptr.strip('"')
        low = {k.lower(): k for k in (siblings or {})}
        key = low.get(fname.lower())
        if key is None:
            raise ValueError(f"PDS detached file {fname!r} not supplied")
        body = siblings[key]
    else:
        n = _num(ptr)
        offset = int(n) - 1 if _unit(img_ptr) == "BYTES" \
            else (int(n) - 1) * record_bytes
    h = int(_num(kv.get("IMAGE.LINES")))
    w = int(_num(kv.get("IMAGE.LINE_SAMPLES")))
    nb = int(_num(kv.get("IMAGE.BANDS"), 1))
    bits = int(_num(kv.get("IMAGE.SAMPLE_BITS"), 8))
    stype = kv.get("IMAGE.SAMPLE_TYPE", "UNSIGNED_INTEGER")
    dt = _pds_dtype(stype, bits)
    storage = kv.get("IMAGE.BAND_STORAGE_TYPE", "BAND_SEQUENTIAL").upper()
    layout = "bil" if storage.startswith("LINE") else \
        "bip" if storage.startswith("SAMPLE") else "bsq"
    prefix = int(_num(kv.get("IMAGE.LINE_PREFIX_BYTES"), 0))
    suffix = int(_num(kv.get("IMAGE.LINE_SUFFIX_BYTES"), 0))
    if prefix or suffix:
        # whole lines as bytes, then strip each line's prefix and suffix
        rowbytes = prefix + w * nb * dt.itemsize + suffix
        rows = raw_read(body, h, rowbytes, 1, np.uint8, "bsq", offset)
        flat = np.ascontiguousarray(rows[:, prefix:rowbytes - suffix])
        out = raw_layout(flat.view(dt).ravel(), h, w, nb, layout)
        out = out.astype(dt.newbyteorder("="))
    else:
        out = raw_read(body, h, w, nb, dt, layout, offset)
    meta: dict = {
        "scale": _num(kv.get("IMAGE.SCALING_FACTOR"), 1.0),
        "offset": _num(kv.get("IMAGE.OFFSET"), 0.0),
    }
    for nod_key in ("IMAGE.MISSING", "IMAGE.MISSING_CONSTANT",
                    "IMAGE.NULL"):
        if nod_key in kv:
            meta["nodata"] = _num(kv[nod_key])
            break
    # geotransform (pdsdataset.cpp): MAP_SCALE in KM unless <M>/<CM>
    pfx = "IMAGE_MAP_PROJECTION."
    ms = kv.get(pfx + "MAP_SCALE")
    if ms is not None:
        dim = _num(ms)
        u = _unit(ms)
        if u in ("M", "METER", "METERS"):
            pass
        elif u == "CM":
            dim /= 100.0
        else:
            dim *= 1000.0
        xul = _num(kv.get(pfx + "SAMPLE_PROJECTION_OFFSET"))
        yul = _num(kv.get(pfx + "LINE_PROJECTION_OFFSET"))
        meta["gt"] = (
            (xul + proj_offset_shift) * dim * -1.0, dim, 0.0,
            (yul + proj_offset_shift) * dim * 1.0, 0.0, -dim,
        )
        meta["map_projection_type"] = kv.get(pfx + "MAP_PROJECTION_TYPE", "")
    return out, meta


# ---------------------------------------------------------------------------
# ISIS2
# ---------------------------------------------------------------------------

_ISIS2_TYPES = {
    "SUN_INTEGER": ">i", "SUN_UNSIGNED_INTEGER": ">u", "SUN_REAL": ">f",
    "MSB_INTEGER": ">i", "MSB_UNSIGNED_INTEGER": ">u", "IEEE_REAL": ">f",
    "PC_INTEGER": "<i", "PC_UNSIGNED_INTEGER": "<u", "PC_REAL": "<f",
    "UNSIGNED_INTEGER": ">u", "INTEGER": ">i", "REAL": ">f",
}


def isis2_open(data: bytes) -> tuple[np.ndarray, dict]:
    """ISIS2 .cub QUBE object (frmts/pds/isis2dataset.cpp)."""
    head = data[:256].decode("latin-1", "replace")
    if "NJPL" not in head and "CCSD" not in head:
        raise ValueError("not an ISIS2 cube")
    kv = odl_parse(data.decode("latin-1", "replace"))
    record_bytes = int(_num(kv.get("RECORD_BYTES"), 512))
    qube = kv.get("^QUBE")
    if qube is None:
        raise ValueError("no ^QUBE pointer")
    offset = (int(_num(qube)) - 1) * record_bytes
    axes = _tuple(kv.get("QUBE.AXIS_NAME", "(SAMPLE,LINE,BAND)"))
    items = [int(float(t)) for t in _tuple(kv["QUBE.CORE_ITEMS"])]
    dims = dict(zip([a.upper() for a in axes], items))
    w = dims.get("SAMPLE", 1)
    h = dims.get("LINE", 1)
    nb = dims.get("BAND", 1)
    nbytes = int(_num(kv.get("QUBE.CORE_ITEM_BYTES"), 1))
    ctype = kv.get("QUBE.CORE_ITEM_TYPE", "UNSIGNED_INTEGER").strip().upper()
    base = _ISIS2_TYPES.get(ctype)
    if base is None:
        raise ValueError(f"ISIS2 core type {ctype!r}")
    # axis order of CORE_ITEMS is (fastest..slowest); (SAMPLE,LINE,BAND)
    # means sample varies fastest -> BSQ
    out = raw_read(data, h, w, nb, f"{base}{nbytes}", "bsq", offset)
    meta = {
        "base": _num(kv.get("QUBE.CORE_BASE"), 0.0),
        "multiplier": _num(kv.get("QUBE.CORE_MULTIPLIER"), 1.0),
        "nodata": _num(kv.get("QUBE.CORE_NULL")),
        "target": kv.get("QUBE.TARGET_NAME", ""),
    }
    return out, meta


# ---------------------------------------------------------------------------
# ISIS3
# ---------------------------------------------------------------------------

_ISIS3_TYPES = {
    "UNSIGNEDBYTE": "u1", "SIGNEDWORD": "i2", "UNSIGNEDWORD": "u2",
    "SIGNEDINTEGER": "i4", "UNSIGNEDINTEGER": "u4", "REAL": "f4",
    "DOUBLE": "f8",
}


def isis3_open(data: bytes, siblings: dict[str, bytes] | None = None
               ) -> tuple[np.ndarray, dict]:
    """ISIS3 cube (frmts/pds/isis3dataset.cpp): PVL IsisCube/Core with
    BandSequential or Tile format; detached cores via ^Core = file."""
    if "IsisCube" not in data[:4096].decode("latin-1", "replace"):
        raise ValueError("not an ISIS3 cube")
    kv = odl_parse(data.decode("latin-1", "replace"))
    pfx = "IsisCube.Core."
    core_ptr = kv.get("IsisCube.Core.^Core") or kv.get("^Core")
    start = int(_num(kv.get(pfx + "StartByte"), 1)) - 1
    body = data
    if core_ptr and not core_ptr.replace(".", "").isdigit():
        fname = core_ptr.strip('"')
        low = {k.lower(): k for k in (siblings or {})}
        key = low.get(fname.lower())
        if key is None:
            raise ValueError(f"ISIS3 detached core {fname!r} not supplied")
        body = siblings[key]
    w = int(_num(kv.get(pfx + "Dimensions.Samples")))
    h = int(_num(kv.get(pfx + "Dimensions.Lines")))
    nb = int(_num(kv.get(pfx + "Dimensions.Bands"), 1))
    ptype = kv.get(pfx + "Pixels.Type", "Real").upper()
    base = _ISIS3_TYPES.get(ptype)
    if base is None:
        raise ValueError(f"ISIS3 pixel type {ptype!r}")
    border = kv.get(pfx + "Pixels.ByteOrder", "Lsb").upper()
    bo = ">" if border.startswith("M") else "<"
    dt = np.dtype(bo + base)
    fmt = kv.get(pfx + "Format", "BandSequential")
    if fmt.lower() == "tile":
        tw = int(_num(kv.get(pfx + "TileSamples"), w))
        th = int(_num(kv.get(pfx + "TileLines"), h))
        ntx = (w + tw - 1) // tw
        nty = (h + th - 1) // th
        # band-major stream of row-major th x tw tiles
        tiles = raw_read(body, nb * nty * ntx, th * tw, 1, dt, "bsq", start)
        cube = tiles.reshape(nb, nty, ntx, th, tw).transpose(0, 1, 3, 2, 4)
        cube = cube.reshape(nb, nty * th, ntx * tw)[:, :h, :w]
        out = raw_layout(cube.ravel(), h, w, nb, "bsq")
    else:
        out = raw_read(body, h, w, nb, dt, "bsq", start)
    meta = {
        "base": _num(kv.get(pfx + "Pixels.Base"), 0.0),
        "multiplier": _num(kv.get(pfx + "Pixels.Multiplier"), 1.0),
        "target": kv.get("IsisCube.Instrument.TargetName", ""),
        "format": fmt,
    }
    return out, meta
