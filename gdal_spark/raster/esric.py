"""ESRIC (Esri compact cache V2 / .tpkx) driver
(frmts/esric/esric_dataset.cpp — re-derived).

Facts transcribed:
  conf.xml    CacheStorageInfo StorageFormat must be
              esriMapCacheStorageModeCompactV2, PacketSize 128;
              TileCacheInfo TileOrigin/TileEnd extent, TileCols size,
              LODInfos resolutions (sorted ascending; finest first)
  root.json   (.tpkx) storageInfo.packetSize, tileInfo.lods
              resolutions, tileBundlesPath, minLOD/maxLOD
  bundles     L%02d/R%04xC%04x.bundle (hex tile-origin row/col);
              64-byte header (u32 3 @0, 5 @12, 40 @32, 0 @36,
              128*128*8 @60) + 128x128 u64 index: offset = low 40
              bits, tile size = high 24 bits; 0 size = missing tile
  tiles       PNG/JPEG blobs; grayscale replicates to RGB, alpha
              defaults opaque; missing tiles render black/transparent
"""

from __future__ import annotations

import json
import math
import struct
import xml.etree.ElementTree as ET

import numpy as np

__all__ = ["esric_conf", "tpkx_conf", "esric_level"]

BSZ = 128


def _strip(tag):
    return tag.rsplit("}", 1)[-1]


def esric_conf(conf_xml: str | bytes) -> dict:
    root = ET.fromstring(conf_xml)
    vals = {}
    for el in root.iter():
        t = _strip(el.tag)
        if t in ("StorageFormat", "PacketSize", "TileCols", "TileRows",
                 "WKID") and el.text:
            vals[t] = el.text.strip()
        elif t in ("TileOrigin", "TileEnd"):
            for sub in el:
                vals[t + "." + _strip(sub.tag)] = float(sub.text)
    if vals.get("StorageFormat") != "esriMapCacheStorageModeCompactV2":
        raise ValueError("not an esri V2 bundled cache")
    resolutions = []
    lods = []
    for el in root.iter():
        if _strip(el.tag) == "LODInfo":
            lod = res = None
            for sub in el:
                if _strip(sub.tag) == "LevelID":
                    lod = int(sub.text)
                elif _strip(sub.tag) == "Resolution":
                    res = float(sub.text)
            if res is not None:
                resolutions.append(res)
                lods.append(lod if lod is not None else len(lods))
    minx = vals.get("TileOrigin.X", -180.0)
    maxy = vals.get("TileOrigin.Y", 90.0)
    maxx = vals.get("TileEnd.X", -minx)
    miny = vals.get("TileEnd.Y", -maxy)
    return {
        "tsz": int(float(vals.get("TileCols", "256"))),
        "extent": (minx, miny, maxx, maxy),
        "lods": dict(zip(lods, resolutions)),
        "bundles_path": "_alllayers",
        "wkid": int(vals.get("WKID", "0") or 0),
    }


def tpkx_conf(root_json: str | bytes) -> dict:
    doc = json.loads(root_json)
    ti = doc.get("tileInfo", {})
    lods = {int(l["level"]): float(l["resolution"])
            for l in ti.get("lods", [])}
    origin = ti.get("origin", {})
    x0 = float(origin.get("x", -20037508.342787))
    y0 = float(origin.get("y", 20037508.342787))
    fe = doc.get("fullExtent", {})
    path = doc.get("tileBundlesPath", "./tile")
    if path.startswith("./"):
        path = path[2:]
    return {
        "tsz": int(ti.get("rows", 256)),
        "extent": (x0, -y0, -x0, y0),
        "full_extent": (float(fe.get("xmin", x0)), float(fe.get("ymin", 0)),
                        float(fe.get("xmax", -x0)),
                        float(fe.get("ymax", y0))) if fe else None,
        "lods": {k: v for k, v in lods.items()
                 if doc.get("minLOD", min(lods)) <= k <=
                 doc.get("maxLOD", max(lods))},
        "bundles_path": path,
        "wkid": int(doc.get("spatialReference", {}).get("latestWkid", 0)),
    }


def _decode_tile(blob: bytes, tsz: int) -> np.ndarray:
    from gdal_spark.functions.codecs import codec_of, decode_image

    fmt = codec_of(blob)
    if fmt not in ("png", "jpeg"):
        raise ValueError("unsupported tile format")
    arr = decode_image(blob, fmt)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    out = np.empty((tsz, tsz, 4), np.uint8)
    out[:, :, 3] = 255
    if nb == 1:
        for b in range(3):
            out[:h, :w, b] = arr[:, :, 0]
    elif nb >= 3:
        out[:h, :w, :3] = arr[:, :, :3]
        if nb >= 4:
            out[:h, :w, 3] = arr[:, :, 3]
    else:  # gray + alpha
        for b in range(3):
            out[:h, :w, b] = arr[:, :, 0]
        out[:h, :w, 3] = arr[:, :, 1]
    return out


def _bundle_index(data: bytes) -> np.ndarray | None:
    if len(data) < 64 + BSZ * BSZ * 8:
        return None
    h = struct.unpack_from("<IIIIIIIIIIIIIIII", data, 0)
    if h[0] != 3 or h[3] != 5 or h[8] != 40 or h[9] != 0 or \
            h[15] != BSZ * BSZ * 8:
        return None
    return np.frombuffer(data, "<u8", BSZ * BSZ, 64)


def esric_level(read, conf: dict, lod: int) -> tuple[np.ndarray, dict]:
    """``read(name) -> bytes | None`` resolves bundle files relative to
    the cache root. -> (HxWx4 RGBA for the LOD, meta with gt)."""
    tsz = conf["tsz"]
    minx, miny, maxx, maxy = conf["extent"]
    res = conf["lods"][lod]
    w = int((maxx - minx) / res + 0.5)
    h = int((maxy - miny) / res + 0.5)
    tiles_x = (w + tsz - 1) // tsz
    tiles_y = (h + tsz - 1) // tsz
    arr = np.zeros((tiles_y * tsz, tiles_x * tsz, 4), np.uint8)
    for brow in range(0, tiles_y, BSZ):
        for bcol in range(0, tiles_x, BSZ):
            fname = "%s/L%02d/R%04xC%04x.bundle" % (
                conf["bundles_path"], lod, brow, bcol)
            data = read(fname)
            if data is None:
                continue
            index = _bundle_index(data)
            if index is None:
                continue
            for ty in range(min(BSZ, tiles_y - brow)):
                for tx in range(min(BSZ, tiles_x - bcol)):
                    entry = int(index[ty * BSZ + tx])
                    offset = entry & 0xFFFFFFFFFF
                    size = entry >> 40
                    if size == 0:
                        continue
                    tile = _decode_tile(data[offset:offset + size], tsz)
                    y0 = (brow + ty) * tsz
                    x0 = (bcol + tx) * tsz
                    arr[y0:y0 + tsz, x0:x0 + tsz, :] = tile
    arr = arr[:h, :w]
    gt = (minx, res, 0.0, maxy, 0.0, -res)
    return arr, {"gt": gt, "lod": lod, "wkid": conf.get("wkid"),
                 "lods": sorted(conf["lods"])}
