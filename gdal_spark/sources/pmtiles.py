"""PMTiles v3 single-file tile archives (ogr/ogrsf_frmts/pmtiles).

Byte layout per the reference's vendored spec implementation
(ogr/ogrsf_frmts/pmtiles/pmtiles/pmtiles.hpp):

  * 127-byte little-endian header, magic ``PMTiles\\x03``
    (pmtiles.hpp:54-186);
  * tile addressing by Hilbert tile id — ``zxy_to_tileid`` /
    ``tileid_to_zxy`` (pmtiles.hpp:428-462);
  * directories are four varint columns: entry count, delta-coded
    tile ids, run lengths, lengths, then offsets where 0 means
    "previous offset + previous length" (pmtiles.hpp:463-570);
  * the root directory is capped (16384 bytes in the spec); overflow
    spills into leaf directories — a root entry with run_length == 0
    points into the leaf section (pmtiles.hpp:571-600, find path
    :640-676);
  * internal_compression / tile_compression: 1 = none, 2 = gzip.

Scale story: the directory is a few KB and stays driver-side; tile
payloads are fetched with per-task byte-range reads (offset/length
straight from the directory), so a distributed scan of a 100 TB
archive never funnels through one reader — the same access pattern
the reference uses over /vsicurl range requests.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import struct
import zlib

import numpy as np

from gdal_spark.functions import mercator as M
from gdal_spark.sources.mvt import (
    _rvarint,
    _wvarint,
    decode_geometry,
    parse_mvt_tile,
    tile_geo,
)

HEADER_SIZE = 127
MAGIC = b"PMTiles\x03"

COMPRESSION_UNKNOWN = 0
COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2

TILETYPE_UNKNOWN = 0
TILETYPE_MVT = 1
TILETYPE_PNG = 2
TILETYPE_JPEG = 3

MAX_ROOT_BYTES = 16384

_H_U64 = (
    "root_dir_offset",
    "root_dir_bytes",
    "json_metadata_offset",
    "json_metadata_bytes",
    "leaf_dirs_offset",
    "leaf_dirs_bytes",
    "tile_data_offset",
    "tile_data_bytes",
    "addressed_tiles_count",
    "tile_entries_count",
    "tile_contents_count",
)


def _decompress(data: bytes, comp: int) -> bytes:
    if comp == COMPRESSION_UNKNOWN:
        # the spec allows UNKNOWN; sniff the gzip magic like the reference
        # does when re-serving tiles (ogrpmtilesdataset.cpp)
        comp = COMPRESSION_GZIP if data[:2] == b"\x1f\x8b" else COMPRESSION_NONE
    if comp == COMPRESSION_NONE:
        return data
    if comp == COMPRESSION_GZIP:
        return zlib.decompress(data, 16 + zlib.MAX_WBITS)
    raise ValueError(f"unsupported pmtiles compression {comp}")


def _compress(data: bytes, comp: int) -> bytes:
    if comp == COMPRESSION_NONE:
        return data
    if comp == COMPRESSION_GZIP:
        buf = io.BytesIO()
        # mtime pinned so identical tiles dedup byte-identically
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(data)
        return buf.getvalue()
    raise ValueError(f"unsupported pmtiles compression {comp}")


# ---------------------------------------------------------------------------
# header (pmtiles.hpp:54-186)
# ---------------------------------------------------------------------------


def deserialize_header(buf: bytes) -> dict:
    if buf[:8] != MAGIC:
        raise ValueError("not a PMTiles v3 archive")
    h = {}
    for i, name in enumerate(_H_U64):
        (h[name],) = struct.unpack_from("<Q", buf, 8 + 8 * i)
    h["clustered"] = buf[96] == 1
    h["internal_compression"] = buf[97]
    h["tile_compression"] = buf[98]
    h["tile_type"] = buf[99]
    h["min_zoom"] = buf[100]
    h["max_zoom"] = buf[101]
    (h["min_lon_e7"],) = struct.unpack_from("<i", buf, 102)
    (h["min_lat_e7"],) = struct.unpack_from("<i", buf, 106)
    (h["max_lon_e7"],) = struct.unpack_from("<i", buf, 110)
    (h["max_lat_e7"],) = struct.unpack_from("<i", buf, 114)
    h["center_zoom"] = buf[118]
    (h["center_lon_e7"],) = struct.unpack_from("<i", buf, 119)
    (h["center_lat_e7"],) = struct.unpack_from("<i", buf, 123)
    return h


def serialize_header(h: dict) -> bytes:
    out = bytearray(MAGIC)
    for name in _H_U64:
        out += struct.pack("<Q", h[name])
    out.append(1 if h.get("clustered") else 0)
    out.append(h["internal_compression"])
    out.append(h["tile_compression"])
    out.append(h["tile_type"])
    out.append(h["min_zoom"])
    out.append(h["max_zoom"])
    out += struct.pack("<i", h["min_lon_e7"])
    out += struct.pack("<i", h["min_lat_e7"])
    out += struct.pack("<i", h["max_lon_e7"])
    out += struct.pack("<i", h["max_lat_e7"])
    out.append(h["center_zoom"])
    out += struct.pack("<i", h["center_lon_e7"])
    out += struct.pack("<i", h["center_lat_e7"])
    assert len(out) == HEADER_SIZE
    return bytes(out)


# ---------------------------------------------------------------------------
# Hilbert tile ids (pmtiles.hpp:341-357 rotate, :428-462)
# ---------------------------------------------------------------------------


def _rotate_hxy(n: int, x: int, y: int, rx: int, ry: int) -> tuple[int, int]:
    if ry == 0:
        if rx == 1:
            x = n - 1 - x
            y = n - 1 - y
        x, y = y, x
    return x, y


def tileid_to_zxy(tileid: int) -> tuple[int, int, int]:
    acc = 0
    for z in range(32):
        num = 1 << (2 * z)
        if acc + num > tileid:
            t = tileid - acc
            n = 1 << z
            tx = ty = 0
            s = 1
            while s < n:
                rx = 1 & (t // 2)
                ry = 1 & (t ^ rx)
                tx, ty = _rotate_hxy(s, tx, ty, rx, ry)
                tx += s * rx
                ty += s * ry
                t //= 4
                s *= 2
            return z, tx, ty
        acc += num
    raise OverflowError("tile zoom exceeds 64-bit limit")


def zxy_to_tileid(z: int, x: int, y: int) -> int:
    if z > 31 or x > (1 << z) - 1 or y > (1 << z) - 1 or x < 0 or y < 0:
        raise OverflowError("tile coords outside zoom bounds")
    acc = ((1 << (2 * z)) - 1) // 3  # sum of 4^t for t < z
    n = 1 << z
    d = 0
    tx, ty = x, y
    s = n // 2
    while s > 0:
        rx = 1 if (tx & s) else 0
        ry = 1 if (ty & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        tx, ty = _rotate_hxy(s, tx, ty, rx, ry)
        s //= 2
    return acc + d


# ---------------------------------------------------------------------------
# directories (pmtiles.hpp:463-570)
# ---------------------------------------------------------------------------


def serialize_directory(entries: list[dict]) -> bytes:
    out = bytearray(_wvarint(len(entries)))
    last = 0
    for e in entries:
        out += _wvarint(e["tile_id"] - last)
        last = e["tile_id"]
    for e in entries:
        out += _wvarint(e["run_length"])
    for e in entries:
        out += _wvarint(e["length"])
    prev = None
    for e in entries:
        if prev is not None and e["offset"] == prev["offset"] + prev["length"]:
            out += _wvarint(0)
        else:
            out += _wvarint(e["offset"] + 1)
        prev = e
    return bytes(out)


def deserialize_directory(buf: bytes) -> list[dict]:
    pos = 0
    n, pos = _rvarint(buf, pos)
    if n // 4 > len(buf):
        raise ValueError("malformed pmtiles directory")
    entries = [
        {"tile_id": 0, "offset": 0, "length": 0, "run_length": 0}
        for _ in range(n)
    ]
    last = 0
    for e in entries:
        v, pos = _rvarint(buf, pos)
        last += v
        e["tile_id"] = last
    for e in entries:
        e["run_length"], pos = _rvarint(buf, pos)
    for e in entries:
        e["length"], pos = _rvarint(buf, pos)
    prev = None
    for e in entries:
        v, pos = _rvarint(buf, pos)
        if prev is not None and v == 0:
            e["offset"] = prev["offset"] + prev["length"]
        else:
            e["offset"] = v - 1
        prev = e
    if pos != len(buf):
        raise ValueError("trailing bytes in pmtiles directory")
    return entries


def find_tile(entries: list[dict], tile_id: int) -> dict | None:
    """Binary search with run-length semantics (pmtiles.hpp:398-424)."""
    m, n = 0, len(entries) - 1
    while m <= n:
        k = (m + n) >> 1
        if tile_id > entries[k]["tile_id"]:
            m = k + 1
        elif tile_id < entries[k]["tile_id"]:
            n = k - 1
        else:
            return entries[k]
    if n >= 0:
        e = entries[n]
        if e["run_length"] == 0:
            return e  # leaf-dir pointer: caller recurses
        if tile_id - e["tile_id"] < e["run_length"]:
            return e
    return None


# ---------------------------------------------------------------------------
# archive read
# ---------------------------------------------------------------------------


def read_metadata(buf: bytes) -> dict:
    h = deserialize_header(buf[:HEADER_SIZE])
    raw = buf[
        h["json_metadata_offset"] : h["json_metadata_offset"]
        + h["json_metadata_bytes"]
    ]
    if not raw:
        return {}
    return json.loads(_decompress(bytes(raw), h["internal_compression"]))


def get_tile_bytes(buf: bytes, z: int, x: int, y: int) -> bytes | None:
    """Fetch one tile's decompressed payload (pmtiles.hpp get_tile,
    :640-676): root dir -> up to 3 leaf hops -> ranged tile read."""
    h = deserialize_header(buf[:HEADER_SIZE])
    tid = zxy_to_tileid(z, x, y)
    off, ln = h["root_dir_offset"], h["root_dir_bytes"]
    for _ in range(4):
        d = deserialize_directory(
            _decompress(bytes(buf[off : off + ln]), h["internal_compression"])
        )
        e = find_tile(d, tid)
        if e is None or e["length"] == 0:
            return None
        if e["run_length"] > 0:
            start = h["tile_data_offset"] + e["offset"]
            return _decompress(
                bytes(buf[start : start + e["length"]]), h["tile_compression"]
            )
        off = h["leaf_dirs_offset"] + e["offset"]
        ln = e["length"]
    return None


def enumerate_entries(buf: bytes) -> list[dict]:
    """All tile entries (run lengths NOT expanded), leaf dirs resolved.
    Offsets stay relative to tile_data_offset."""
    h = deserialize_header(buf[:HEADER_SIZE])
    root = deserialize_directory(
        _decompress(
            bytes(buf[h["root_dir_offset"] : h["root_dir_offset"] + h["root_dir_bytes"]]),
            h["internal_compression"],
        )
    )
    out = []
    for e in root:
        if e["run_length"] == 0 and e["length"] > 0:
            off = h["leaf_dirs_offset"] + e["offset"]
            leaf = deserialize_directory(
                _decompress(
                    bytes(buf[off : off + e["length"]]), h["internal_compression"]
                )
            )
            out.extend(leaf)
        else:
            out.append(e)
    return out


def addressed_tiles(
    buf: bytes, zoom_level: int | None = None, max_tiles: int = 4_000_000
) -> list[tuple[int, int, int, int, int]]:
    """Expand run-length entries into (z, x, y, abs_offset, length) rows
    for every addressed tile (optionally one zoom level). Guarded so a
    pathological run_length (the spec allows 2^32) can't OOM the driver."""
    h = deserialize_header(buf[:HEADER_SIZE])
    rows = []
    for e in enumerate_entries(buf):
        for i in range(e["run_length"]):
            z, x, y = tileid_to_zxy(e["tile_id"] + i)
            if zoom_level is not None and z != zoom_level:
                continue
            rows.append(
                (z, x, y, h["tile_data_offset"] + e["offset"], e["length"])
            )
            if len(rows) > max_tiles:
                raise ValueError("pmtiles archive expands past max_tiles")
    return rows


def read_pmtiles(spark, path: str, zoom_level: int | None = None,
                 force_multi: bool = True):
    """Distributed feature scan of an MVT-typed PMTiles archive ->
    DataFrame(z, x, y, layer, mvt_id, wkt, fields_json).

    The directory (KB-scale) is resolved driver-side into
    (z, x, y, offset, length) rows; each task then byte-range reads and
    decodes only its own tiles — no full-archive read anywhere
    (the reference's /vsicurl access pattern, ogrpmtilesdataset.cpp)."""
    from pyspark.sql import types as T

    with open(path, "rb") as fh:
        head = fh.read(HEADER_SIZE)
        h = deserialize_header(head)
        fh.seek(0)
        # directories + metadata live in the prologue before tile data
        prologue = fh.read(h["tile_data_offset"])
    if zoom_level is None:
        zoom_level = h["max_zoom"]
    if not (h["min_zoom"] <= zoom_level <= h["max_zoom"]):
        raise ValueError("Invalid zoom level")
    rows = addressed_tiles(prologue, zoom_level=zoom_level)
    comp = h["tile_compression"]
    pdf = spark.createDataFrame(
        rows, "z: int, x: int, y: int, offset: long, length: int"
    )

    sch = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("layer", T.StringType()),
            T.StructField("mvt_id", T.LongType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("fields_json", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        with open(path, "rb") as fh:
            for b in batches:
                out = []
                for z, x, y, off, ln in zip(
                    b["z"], b["x"], b["y"], b["offset"], b["length"]
                ):
                    fh.seek(int(off))
                    data = _decompress(fh.read(int(ln)), comp)
                    geo = tile_geo(int(z), int(x), int(y))
                    for lyr in parse_mvt_tile(data):
                        for feat in lyr["features"]:
                            wkt = decode_geometry(
                                feat["type"], feat["geometry"], lyr["extent"],
                                geo=geo, force_multi=force_multi,
                            )
                            out.append(
                                (int(z), int(x), int(y), lyr["name"],
                                 feat["id"],
                                 wkt, json.dumps(feat["fields"]))
                            )
                yield pd.DataFrame(out, columns=[f.name for f in sch.fields])

    return pdf.repartition("z", "x").mapInPandas(run, sch)


# ---------------------------------------------------------------------------
# archive write (ogrpmtilesfromtileset.cpp / pmtiles.hpp build_root_leaves)
# ---------------------------------------------------------------------------


def _build_root_leaves(
    entries: list[dict], internal_comp: int, max_root_bytes: int, leaf_size: int
) -> tuple[bytes, bytes, int]:
    """Spill entries into leaf directories until the root fits
    (pmtiles.hpp:571-612 make_root_leaves / build_root_leaves)."""
    root_raw = serialize_directory(entries)
    root = _compress(root_raw, internal_comp)
    if len(root) <= max_root_bytes:
        return root, b"", 0
    while True:
        root_entries = []
        leaves = bytearray()
        n_leaves = 0
        for i in range(0, len(entries), leaf_size):
            chunk = entries[i : i + leaf_size]
            blob = _compress(serialize_directory(chunk), internal_comp)
            root_entries.append(
                {
                    "tile_id": chunk[0]["tile_id"],
                    "offset": len(leaves),
                    "length": len(blob),
                    "run_length": 0,
                }
            )
            leaves += blob
            n_leaves += 1
        root = _compress(serialize_directory(root_entries), internal_comp)
        if len(root) <= max_root_bytes:
            return root, bytes(leaves), n_leaves
        leaf_size *= 2


def _merc_tile_lonlat_bounds(zxys: list[tuple[int, int, int]]) -> tuple:
    # own inverse: meters_to_lonlat_py differs in the last bit at 1136/8214 z0-11 edges
    lons, lats = [], []
    for z, x, y in zxys:
        top_x, top_y, dim, _ = tile_geo(z, x, y)
        for mx in (top_x, top_x + dim):
            lons.append(mx / M.ORIGIN_SHIFT * 180.0)
        for my in (top_y - dim, top_y):
            lat = np.degrees(
                2.0 * np.arctan(np.exp(my / M.ORIGIN_SHIFT * np.pi)) - np.pi / 2.0
            )
            lats.append(float(lat))
    return min(lons), min(lats), max(lons), max(lats)


def write_pmtiles(
    path: str,
    tiles,
    metadata: dict | None = None,
    tile_type: int = TILETYPE_MVT,
    tile_compression: int = COMPRESSION_GZIP,
    internal_compression: int = COMPRESSION_GZIP,
    max_root_bytes: int = MAX_ROOT_BYTES,
    leaf_size: int = 4096,
) -> dict:
    """Write a clustered PMTiles v3 archive from (z, x, y, raw_bytes)
    tiles. Identical tile payloads are stored once (content dedup) and
    consecutive tile ids sharing a payload coalesce into run-length
    entries — the layout ogrpmtilesfrommbtiles.cpp produces. Returns the
    header dict."""
    items = sorted(
        (zxy_to_tileid(z, x, y), z, x, y, data) for z, x, y, data in tiles
    )
    tile_data = bytearray()
    content: dict[bytes, tuple[int, int]] = {}
    entries: list[dict] = []
    addressed = 0
    zxys = []
    for tid, z, x, y, raw in items:
        zxys.append((z, x, y))
        blob = _compress(raw, tile_compression)
        key = hashlib.sha1(blob).digest()
        if key in content:
            off, ln = content[key]
        else:
            off, ln = len(tile_data), len(blob)
            tile_data += blob
            content[key] = (off, ln)
        addressed += 1
        last = entries[-1] if entries else None
        if (
            last is not None
            and last["offset"] == off
            and last["length"] == ln
            and last["tile_id"] + last["run_length"] == tid
        ):
            last["run_length"] += 1
        else:
            entries.append(
                {"tile_id": tid, "offset": off, "length": ln, "run_length": 1}
            )

    root, leaves, _ = _build_root_leaves(
        entries, internal_compression, max_root_bytes, leaf_size
    )
    meta_blob = _compress(
        json.dumps(metadata or {}, sort_keys=True).encode(), internal_compression
    )

    zs = [z for z, _, _ in zxys] or [0]
    min_lon, min_lat, max_lon, max_lat = (
        _merc_tile_lonlat_bounds(zxys) if zxys else (0.0, 0.0, 0.0, 0.0)
    )
    h = {
        "root_dir_offset": HEADER_SIZE,
        "root_dir_bytes": len(root),
        "json_metadata_offset": HEADER_SIZE + len(root),
        "json_metadata_bytes": len(meta_blob),
        "leaf_dirs_offset": HEADER_SIZE + len(root) + len(meta_blob),
        "leaf_dirs_bytes": len(leaves),
        "tile_data_offset": HEADER_SIZE + len(root) + len(meta_blob) + len(leaves),
        "tile_data_bytes": len(tile_data),
        "addressed_tiles_count": addressed,
        "tile_entries_count": len(entries),
        "tile_contents_count": len(content),
        "clustered": True,
        "internal_compression": internal_compression,
        "tile_compression": tile_compression,
        "tile_type": tile_type,
        "min_zoom": min(zs),
        "max_zoom": max(zs),
        "min_lon_e7": int(round(min_lon * 1e7)),
        "min_lat_e7": int(round(min_lat * 1e7)),
        "max_lon_e7": int(round(max_lon * 1e7)),
        "max_lat_e7": int(round(max_lat * 1e7)),
        "center_zoom": min(zs),
        "center_lon_e7": int(round((min_lon + max_lon) / 2 * 1e7)),
        "center_lat_e7": int(round((min_lat + max_lat) / 2 * 1e7)),
    }
    with open(path, "wb") as fh:
        fh.write(serialize_header(h))
        fh.write(root)
        fh.write(meta_blob)
        fh.write(leaves)
        fh.write(tile_data)
    return h


def tiles_from_mvt_tree(root: str):
    """(z, x, y, raw_pbf) tuples from a z/x/y .pbf tree (the
    write_mvt_tiles / write_mvt_pyramid sink layout)."""
    out = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".pbf"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), root).split(os.sep)
            if len(rel) != 3:
                continue
            with open(os.path.join(dirpath, fn), "rb") as fh:
                out.append((int(rel[0]), int(rel[1]), int(rel[2][:-4]), fh.read()))
    return out


def pmtiles_from_mbtiles(mbtiles_path: str, out_path: str) -> dict:
    """MBTiles -> PMTiles conversion (ogrpmtilesfrommbtiles.cpp):
    re-keys TMS rows to XYZ, carries the metadata table across, and
    relies on write_pmtiles' content dedup for the spec's clustered
    layout."""
    import sqlite3

    con = sqlite3.connect(mbtiles_path)
    try:
        meta = dict(con.execute("SELECT name, value FROM metadata"))
        rows = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
        ).fetchall()
    finally:
        con.close()
    tiles = []
    for z, x, tms_y, data in rows:
        data = bytes(data)
        if data[:2] == b"\x1f\x8b":  # MBTiles stores MVT gzipped already
            data = zlib.decompress(data, 16 + zlib.MAX_WBITS)
        tiles.append((z, x, (1 << z) - 1 - tms_y, data))
    fmt = meta.get("format", "pbf")
    ttype = {"pbf": TILETYPE_MVT, "png": TILETYPE_PNG, "jpg": TILETYPE_JPEG}.get(
        fmt, TILETYPE_UNKNOWN
    )
    comp = COMPRESSION_GZIP if ttype == TILETYPE_MVT else COMPRESSION_NONE
    return write_pmtiles(
        out_path, tiles, metadata=meta, tile_type=ttype, tile_compression=comp
    )
