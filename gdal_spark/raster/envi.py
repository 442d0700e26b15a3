"""ENVI .hdr labelled raster driver.

Pure-numpy transcription of the reference's on-disk facts
(frmts/raw/envidataset.cpp — decode paths re-derived):

  header parse       ReadHeader / SplitList
  dtype codes        ENVIDataset::Open            :2010-2060
  map info + rotation ProcessMapinfo              :1239-1310
  geo points (GCPs)  ProcessGeoPoints             (1-based pixel/line)
  .sta statistics    ProcessStatsFile             :1692-1775
  rpc info           ProcessRPCinfo               (off/scale + 4x20 coeffs)
  writer             WriteHeader / map-info print :560-610

Decoders take whole (small) files as bytes/str — at cluster scale they
run inside mapInPandas batches over binary columns like every codec in
functions/codecs.py; no driver-side IO.
"""

from __future__ import annotations

import gzip
import math
import struct

import numpy as np

from gdal_spark.raster.rawband import raw_read, raw_write

__all__ = [
    "envi_parse_header", "envi_decode", "envi_encode", "envi_stats_decode",
]

_DTYPES = {
    1: np.uint8, 2: np.int16, 3: np.int32, 4: np.float32, 5: np.float64,
    6: np.complex64, 9: np.complex128, 12: np.uint16, 13: np.uint32,
    14: np.int64, 15: np.uint64,
}
_CODES = {np.dtype(v): k for k, v in _DTYPES.items()}


def envi_parse_header(text: str) -> dict:
    """ENVI .hdr: `key = value` lines, `{...}` values may span lines.
    Keys are normalized to lowercase with spaces -> underscores (the
    reference's m_aosHeader convention)."""
    if not text.lstrip().startswith("ENVI"):
        raise ValueError("not an ENVI header")
    out: dict[str, str] = {}
    body = text.lstrip()[4:]
    i = 0
    n = len(body)
    while i < n:
        eq = body.find("=", i)
        nl = body.find("\n", i)
        if nl == -1:
            nl = n
        if eq == -1 or eq > nl:
            i = nl + 1
            continue
        key = body[i:eq].strip().lower().replace(" ", "_")
        j = eq + 1
        while j < n and body[j] in " \t":
            j += 1
        if j < n and body[j] == "{":
            end = body.find("}", j)
            if end == -1:
                end = n
            val = body[j + 1:end]
            i = body.find("\n", end) + 1 or n
        else:
            val = body[j:nl].strip()
            i = nl + 1
        if key:
            out[key] = val.strip()
    return out


def _split_list(val: str) -> list[str]:
    return [f.strip() for f in val.split(",") if f.strip() != ""]


def _map_info_gt(hdr: dict) -> tuple | None:
    mi = hdr.get("map_info")
    if not mi:
        return None
    fields = _split_list(mi)
    if len(fields) < 7:
        return None
    rotation = 0.0
    upside_down = False
    for f in fields:
        if f.startswith("rotation="):
            deg = float(f[len("rotation="):])
            upside_down = abs(deg) == 180.0
            rotation = -deg * math.pi / 180.0
    xref, yref = float(fields[1]), float(fields[2])
    easting, northing = float(fields[3]), float(fields[4])
    psx, psy = float(fields[5]), float(fields[6])
    x0 = easting - (xref - 1) * psx
    y0 = northing + (yref - 1) * psy
    if upside_down:  # reference's exact-180 shortcut (:1301-1307)
        return (x0, psx, 0.0, y0, 0.0, psy)
    return (x0, math.cos(rotation) * psx, -math.sin(rotation) * psx,
            y0, -math.sin(rotation) * psy, -math.cos(rotation) * psy)


_RPC_KEYS = ("LINE_OFF", "SAMP_OFF", "LAT_OFF", "LONG_OFF", "HEIGHT_OFF",
             "LINE_SCALE", "SAMP_SCALE", "LAT_SCALE", "LONG_SCALE",
             "HEIGHT_SCALE")


def _rpc_dict(val: str) -> dict:
    v = [float(x) for x in _split_list(val)]
    if len(v) < 90:
        return {}
    out = {k: v[i] for i, k in enumerate(_RPC_KEYS)}
    out["LINE_NUM_COEFF"] = v[10:30]
    out["LINE_DEN_COEFF"] = v[30:50]
    out["SAMP_NUM_COEFF"] = v[50:70]
    out["SAMP_DEN_COEFF"] = v[70:90]
    return out


def envi_decode(hdr_text: str, data: bytes) -> tuple[np.ndarray, dict]:
    """-> (HxW or HxWxB array, meta). Truncated files read as zeros past
    EOF (GDAL's sparse-ENVI rule) through `rawband.raw_read`, which
    rejects claims over MAX_RAW_BYTES."""
    hdr = envi_parse_header(hdr_text)
    w = int(hdr["samples"])
    h = int(hdr["lines"])
    nb = int(hdr.get("bands", "1"))
    off = int(hdr.get("header_offset", "0"))
    code = int(hdr.get("data_type", "1"))
    interleave = hdr.get("interleave", "bsq").lower()
    bo = ">" if hdr.get("byte_order", "0").strip() == "1" else "<"
    if code not in _DTYPES:
        raise ValueError(f"unsupported ENVI data type {code}")
    if hdr.get("file_compression", "0").strip() == "1":
        data = gzip.decompress(data)
    arr = raw_read(data, h, w, nb, np.dtype(_DTYPES[code]).newbyteorder(bo),
                   interleave if interleave in ("bil", "bip") else "bsq", off)

    meta: dict = {"interleave": interleave.upper(),
                  "dtype": np.dtype(_DTYPES[code]).name}
    gt = _map_info_gt(hdr)
    if gt is not None:
        meta["gt"] = gt
    if "data_ignore_value" in hdr:
        meta["nodata"] = float(hdr["data_ignore_value"])
    if "band_names" in hdr:
        meta["band_names"] = _split_list(hdr["band_names"])
    if "description" in hdr:
        meta["description"] = hdr["description"].strip()
    if "sensor_type" in hdr:
        meta["sensor_type"] = hdr["sensor_type"]
    if "coordinate_system_string" in hdr:
        meta["coordinate_system_string"] = hdr["coordinate_system_string"]
    if "classes" in hdr:
        ncl = int(hdr["classes"])
        meta["class_names"] = _split_list(hdr.get("class_names", ""))[:ncl]
        lut = [int(x) for x in _split_list(hdr.get("class_lookup", ""))]
        meta["color_table"] = [
            (lut[3 * i], lut[3 * i + 1], lut[3 * i + 2], 255)
            for i in range(min(ncl, len(lut) // 3))
        ]
    if "rpc_info" in hdr:
        rpc = _rpc_dict(hdr["rpc_info"])
        if rpc:
            meta["rpc"] = rpc
    if "geo_points" in hdr:
        f = [float(x) for x in _split_list(hdr["geo_points"])]
        meta["gcps"] = [
            # ENVI stores 1-based pixel/line and (Y, X) order
            {"pixel": f[i] - 1, "line": f[i + 1] - 1,
             "y": f[i + 2], "x": f[i + 3]}
            for i in range(0, len(f) - len(f) % 4, 4)
        ]
    extra = {k: v for k, v in hdr.items() if k.startswith("envi_")}
    if extra:
        meta["metadata"] = extra
    return arr, meta


def envi_stats_decode(sta: bytes, n_bands: int) -> list[tuple]:
    """ENVI .sta: exact ProcessStatsFile offset dance (:1692-1775).
    -> [(min, max, mean, stddev)] per band."""
    if len(sta) < 40:
        return []
    head = struct.unpack(">10i", sta[:40])
    is_float = head[0] == 1111838282
    nb = head[3]
    if nb < 0 or nb > n_bands:
        nb = n_bands
    (l_offset,) = struct.unpack(">I", sta[40 + (nb + 1) * 4:
                                          40 + (nb + 1) * 4 + 4])
    pos = 40 + (nb + 1) * 8 + l_offset + nb
    cnt = nb * 4
    if is_float:
        vals = struct.unpack(">%df" % cnt, sta[pos:pos + 4 * cnt])
    else:
        vals = struct.unpack(">%dd" % cnt, sta[pos:pos + 8 * cnt])
    out = []
    for i in range(nb):
        mn, mx = vals[i], vals[nb + i]
        mean, std = vals[2 * nb + i], vals[3 * nb + i]
        if not is_float and (mn == mx or std == 0):
            continue
        out.append((mn, mx, mean, std))
    return out


def envi_encode(arr: np.ndarray, gt: tuple | None = None,
                interleave: str = "bsq", nodata: float | None = None,
                band_names: list[str] | None = None,
                description: str | None = None,
                class_names: list[str] | None = None,
                color_table: list[tuple] | None = None,
                byte_order: int = 0) -> tuple[str, bytes]:
    """-> (hdr_text, raw bytes). South-up geotransforms are written with
    the reference's rotation=180 convention (:579-583)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    code = _CODES[arr.dtype.newbyteorder("=")]
    il = interleave.lower()
    if il not in ("bil", "bip"):
        il = "bsq"
    body = raw_write(arr, arr.dtype.newbyteorder(">" if byte_order else "<"),
                     il)

    lines = ["ENVI"]
    lines.append("description = {\n%s}"
                 % (description if description is not None else "raw"))
    lines.append("samples = %d" % w)
    lines.append("lines   = %d" % h)
    lines.append("bands   = %d" % nb)
    lines.append("header offset = 0")
    lines.append("file type = ENVI %s"
                 % ("Classification" if class_names else "Standard"))
    lines.append("data type = %d" % code)
    lines.append("interleave = %s" % il)
    lines.append("byte order = %d" % byte_order)
    if gt is not None:
        psx = math.hypot(gt[1], gt[2])
        psy = math.hypot(gt[4], gt[5])
        if gt[1] > 0 and gt[2] == 0 and gt[4] == 0 and gt[5] > 0:
            rot = ", rotation=180"
        else:
            r1 = -math.atan2(-gt[2], gt[1]) * 180.0 / math.pi
            r2 = -math.atan2(-gt[4], -gt[5]) * 180.0 / math.pi
            r = (r1 + r2) / 2.0
            rot = (", rotation=%.15g" % r) if abs(r) > 1e-5 else ""
        lines.append(
            "map info = {Arbitrary, 1, 1, %.15g, %.15g, %.15g, %.15g, "
            "units=Meters%s}" % (gt[0], gt[3], psx, psy, rot))
    if nodata is not None:
        lines.append("data ignore value = %.17g" % nodata)
    if class_names:
        lines.append("classes = %d" % len(class_names))
        if color_table:
            lut = ", ".join(
                "%d, %d, %d" % (c[0], c[1], c[2]) for c in color_table)
            lines.append("class lookup = {\n%s}" % lut)
        lines.append("class names = {\n%s}" % ", ".join(class_names))
    if band_names is None:
        band_names = ["Band %d" % (i + 1) for i in range(nb)]
    lines.append("band names = {\n%s}" % ",\n".join(band_names))
    return "\n".join(lines) + "\n", body
