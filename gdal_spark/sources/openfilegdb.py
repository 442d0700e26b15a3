"""OpenFileGDB reader (ogr/ogrsf_frmts/openfilegdb/filegdbtable.cpp) —
the Esri FileGeodatabase .gdbtable/.gdbtablx format, read-only.

Format per the reference transcription:

  * .gdbtable header (filegdbtable.cpp:841-1008): int32 version (3),
    int32 valid record count (V3 at +4), uint32 header-buffer max size,
    uint64 field-descriptor offset at +32;
  * field descriptor section (:1010-1438): uint32 length, uint32
    version, geom type byte, UTF8 flag, geom Z/M flag byte, uint16
    field count, then per field: UTF16 name/alias, type byte, per-type
    width/flags/default, and for geometry the WKT SRS, XY origin/scale,
    optional M/Z origin/scale, tolerances, bbox and spatial-index grid
    sizes;
  * .gdbtablx (:631-718): 16-byte header (version, n 1024-blocks, total
    rows, offset size 4..6), offset array, 16-byte trailer with an
    optional sparse block map;
  * row blob (:1690-2140): uint32 size at the tablx offset, then a
    null bitmap (one bit per NULLABLE field, set = null), then values
    in field order — OBJECTID is implicit (the row id), strings/xml/
    binary/geometry are varuint-length-prefixed, numerics fixed-size
    LE, datetimes float64 days since 1899-12-30;
  * shape buffer (:3298-3357 ReadPartDefs, :3830+ GetAsGeometry):
    varuint geom type (SHPT_* | Z 0x80000000 / M 0x40000000 / curves
    0x20000000 flags), point = varuint (v-1)/xyscale + origin with
    0 = empty, line/polygon = varuint npoints, nparts, bbox skip,
    part sizes, then per-vertex FileGDB signed varints (6-bit first
    byte + 0x40 sign, 7-bit continuations) accumulated and descaled.

Scale shape: layer discovery + the field descriptor parse stay
driver-side; the .gdbtablx offset array is sliced into row ranges and
each task decodes only its own byte ranges of the .gdbtable — same
ranged-scan contract as the GPKG/SQLite readers.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.functions import geom as G
from gdal_spark.functions import wkb as W
# protobuf-style varuints (filegdbtable.cpp ReadVarUInt)
from gdal_spark.sources.mvt import _rvarint, _wvarint

FGFT_INT16, FGFT_INT32, FGFT_FLOAT32, FGFT_FLOAT64 = 0, 1, 2, 3
FGFT_STRING, FGFT_DATETIME, FGFT_OBJECTID, FGFT_GEOMETRY = 4, 5, 6, 7
FGFT_BINARY, FGFT_RASTER, FGFT_GUID, FGFT_GLOBALID, FGFT_XML = 8, 9, 10, 11, 12
FGFT_INT64, FGFT_DATE, FGFT_TIME = 13, 14, 15

SHPT_NULL, SHPT_POINT, SHPT_ARC, SHPT_POLYGON, SHPT_MULTIPOINT = 0, 1, 3, 5, 8
SHPT_GENERALPOLYLINE, SHPT_GENERALPOLYGON, SHPT_GENERALPOINT = 50, 51, 52
EXT_Z = 0x80000000
EXT_M = 0x40000000
EXT_CURVE = 0x20000000
_POINT_TYPES = {SHPT_POINT, 9, 11, 21, SHPT_GENERALPOINT}
_LINE_TYPES = {SHPT_ARC, 10, 13, 23, SHPT_GENERALPOLYLINE}
_POLY_TYPES = {SHPT_POLYGON, 15, 19, 25, SHPT_GENERALPOLYGON}
_MPOINT_TYPES = {SHPT_MULTIPOINT, 18, 20, 28, 53}


def _test_bit(buf: bytes, i: int) -> bool:
    return (buf[i >> 3] & (1 << (i & 7))) != 0


def _rvsigned(buf, pos, acc):
    """FileGDB delta varint (ReadVarIntAndAddNoCheck,
    filegdbtable.cpp:1471): 6 bits + sign in the first byte."""
    b = buf[pos]
    pos += 1
    val = b & 0x3F
    neg = (b & 0x40) != 0
    shift = 6
    while b & 0x80:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        shift += 7
    return (acc - val) if neg else (acc + val), pos


def _utf16(buf, pos, nchars):
    return buf[pos : pos + 2 * nchars].decode("utf-16-le"), pos + 2 * nchars


# ---------------------------------------------------------------------------
# table header / field descriptors
# ---------------------------------------------------------------------------


def parse_table_header(path: str) -> dict:
    with open(path, "rb") as fh:
        head = fh.read(40)
        version = struct.unpack_from("<i", head, 0)[0]
        if version != 3:
            raise ValueError(f"unsupported gdbtable version {version}")
        valid_count = struct.unpack_from("<i", head, 4)[0]
        field_off = struct.unpack_from("<Q", head, 32)[0]
        fh.seek(field_off)
        fd_head = fh.read(14)
        fd_len = struct.unpack_from("<I", fd_head, 0)[0]
        geom_type = fd_head[8]
        utf8 = (fd_head[9] & 1) != 0
        gflags = fd_head[11]
        has_m = (gflags & (1 << 6)) != 0
        has_z = (gflags & (1 << 7)) != 0
        nfields = struct.unpack_from("<H", fd_head, 12)[0]
        buf = fh.read(fd_len - 10)

    fields = []
    pos = 0
    for _ in range(nfields):
        name, pos = _utf16(buf, pos + 1, buf[pos])
        alias, pos = _utf16(buf, pos + 1, buf[pos])
        ftype = buf[pos]
        pos += 1
        fld = {"name": name, "alias": alias, "type": ftype, "nullable": True}
        if ftype not in (FGFT_GEOMETRY, FGFT_RASTER):
            if ftype == FGFT_STRING:
                fld["width"] = struct.unpack_from("<i", buf, pos)[0]
                flags = buf[pos + 4]
                pos += 5
                dlen, pos = _rvarint(buf, pos)
            elif ftype in (FGFT_OBJECTID, FGFT_BINARY, FGFT_GUID,
                           FGFT_GLOBALID, FGFT_XML):
                flags = buf[pos + 1]
                pos += 2
                dlen = 0
            else:
                flags = buf[pos + 1]
                dlen = buf[pos + 2]
                pos += 3
            if flags & 4:  # MASK_EDITABLE: default value present
                pos += dlen
            fld["nullable"] = (flags & 1) != 0
        else:
            flags = buf[pos + 1]
            fld["nullable"] = (flags & 1) != 0
            pos += 2
            wkt_len = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
            fld["wkt"], pos = _utf16(buf, pos, wkt_len // 2)
            gf = buf[pos]
            pos += 1
            has_m_ost = (gf & 2) != 0
            has_z_ost = (gf & 4) != 0
            if ftype == FGFT_GEOMETRY or gf > 0:
                (fld["xorigin"], fld["yorigin"], fld["xyscale"]) = (
                    struct.unpack_from("<3d", buf, pos)
                )
                pos += 24
                if has_m_ost:
                    fld["morigin"], fld["mscale"] = struct.unpack_from(
                        "<2d", buf, pos
                    )
                    pos += 16
                if has_z_ost:
                    fld["zorigin"], fld["zscale"] = struct.unpack_from(
                        "<2d", buf, pos
                    )
                    pos += 16
                pos += 8  # xytolerance
                if has_m_ost:
                    pos += 8
                if has_z_ost:
                    pos += 8
            if ftype == FGFT_GEOMETRY:
                fld["bbox"] = struct.unpack_from("<4d", buf, pos)
                pos += 32
                if has_z:
                    pos += 16
                if has_m:
                    pos += 16
                pos += 1  # zero byte
                ngrid = struct.unpack_from("<I", buf, pos)[0]
                pos += 4 + 8 * ngrid
        fields.append(fld)
    return {
        "valid_count": valid_count,
        "geom_type": geom_type,
        "utf8": utf8,
        "has_z": has_z,
        "has_m": has_m,
        "fields": fields,
    }


def read_tablx_offsets(path: str) -> list[int]:
    """Row -> .gdbtable offset (0 = absent row), sparse block map aware
    (ReadTableXHeaderV3, filegdbtable.cpp:631-718)."""
    with open(path, "rb") as fh:
        head = fh.read(16)
        if struct.unpack_from("<I", head, 0)[0] != 3:
            raise ValueError("unsupported gdbtablx version")
        nblocks = struct.unpack_from("<I", head, 4)[0]
        total = struct.unpack_from("<i", head, 8)[0]
        osize = struct.unpack_from("<I", head, 12)[0]
        arr = fh.read(osize * 1024 * nblocks)
        trailer = fh.read(16)
        block_map = None
        if trailer and nblocks:
            nbitmap_words = struct.unpack_from("<I", trailer, 0)[0]
            nbits = struct.unpack_from("<I", trailer, 4)[0]
            if nbitmap_words:
                block_map = fh.read((nbits + 7) // 8)
    raw = np.frombuffer(arr, dtype=np.uint8).reshape(-1, osize)
    vals = np.zeros(len(raw), dtype=np.int64)
    for i in range(osize):
        vals |= raw[:, i].astype(np.int64) << (8 * i)
    if block_map is None:
        return vals[:total].tolist()
    out = []
    present_block = 0
    for blk in range((total + 1023) // 1024):
        if _test_bit(block_map, blk):
            base = present_block * 1024
            out.extend(vals[base : base + 1024].tolist())
            present_block += 1
        else:
            out.extend([0] * 1024)
    return out[:total]


# ---------------------------------------------------------------------------
# row + shape decode
# ---------------------------------------------------------------------------

_EPOCH_1899 = np.datetime64("1899-12-30T00:00:00")


def decode_row(buf: bytes, fields: list[dict], fid: int) -> dict:
    n_nullable = sum(1 for f in fields if f["nullable"])
    bitmap_bytes = (n_nullable + 7) // 8
    pos = bitmap_bytes
    iacc = 0
    out = {}
    for f in fields:
        if f["nullable"]:
            is_null = _test_bit(buf, iacc)
            iacc += 1
            if is_null:
                out[f["name"]] = None
                continue
        t = f["type"]
        if t == FGFT_OBJECTID:
            out[f["name"]] = fid
        elif t in (FGFT_STRING, FGFT_XML):
            ln, pos = _rvarint(buf, pos)
            out[f["name"]] = buf[pos : pos + ln].decode("utf-8")
            pos += ln
        elif t == FGFT_BINARY:
            ln, pos = _rvarint(buf, pos)
            out[f["name"]] = bytes(buf[pos : pos + ln])
            pos += ln
        elif t == FGFT_GEOMETRY:
            ln, pos = _rvarint(buf, pos)
            out[f["name"]] = decode_shape(buf[pos : pos + ln], f)
            pos += ln
        elif t == FGFT_INT16:
            out[f["name"]] = struct.unpack_from("<h", buf, pos)[0]
            pos += 2
        elif t == FGFT_INT32:
            out[f["name"]] = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        elif t == FGFT_INT64:
            out[f["name"]] = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif t == FGFT_FLOAT32:
            out[f["name"]] = struct.unpack_from("<f", buf, pos)[0]
            pos += 4
        elif t == FGFT_FLOAT64:
            out[f["name"]] = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif t in (FGFT_DATETIME, FGFT_DATE, FGFT_TIME):
            days = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
            dt = _EPOCH_1899 + np.timedelta64(round(days * 86400), "s")
            out[f["name"]] = str(dt).replace("T", " ")
        elif t in (FGFT_GUID, FGFT_GLOBALID):
            raw = bytes(buf[pos : pos + 16])
            pos += 16
            # UUID little-endian first three groups (Esri layout)
            out[f["name"]] = "{%08X-%04X-%04X-%04X-%012X}" % (
                struct.unpack_from("<I", raw, 0)[0],
                struct.unpack_from("<H", raw, 4)[0],
                struct.unpack_from("<H", raw, 6)[0],
                struct.unpack_from(">H", raw, 8)[0],
                int.from_bytes(raw[10:16], "big"),
            )
        else:
            raise ValueError(f"unsupported field type {t}")
    return out


def decode_shape(buf: bytes, gf: dict) -> bytes | None:
    """FileGDB compressed shape buffer -> standard WKB (XY)."""
    if not buf:
        return None
    gtype, pos = _rvarint(buf, 0)
    base = gtype & 0xFF
    has_z = bool(gtype & EXT_Z) or base in (9, 10, 11, 15, 18, 19, 20)
    has_m = bool(gtype & EXT_M) or base in (21, 23, 25, 28)
    has_curves = bool(gtype & EXT_CURVE)
    xs, ys = gf["xyscale"], gf["xyscale"]
    xo, yo = gf["xorigin"], gf["yorigin"]
    if base == SHPT_NULL:
        return None
    if base in (31, 32, 54):  # multipatch: TIN surfaces, out of scope
        return None
    if base in _POINT_TYPES:
        x, pos = _rvarint(buf, pos)
        y, pos = _rvarint(buf, pos)
        if x == 0 or y == 0:
            return None
        return W.write_point((x - 1) / xs + xo, (y - 1) / ys + yo)
    if base in _MPOINT_TYPES:
        npts, pos = _rvarint(buf, pos)
        if npts == 0:
            return None
        for _ in range(4):
            _, pos = _rvarint(buf, pos)
        pts = np.empty((npts, 2))
        dx = dy = 0
        for i in range(npts):
            dx, pos = _rvsigned(buf, pos, dx)
            dy, pos = _rvsigned(buf, pos, dy)
            pts[i] = (dx / xs + xo, dy / ys + yo)
        # emit as WKB multipoint
        body = struct.pack("<I", npts) + b"".join(
            W.write_point(px, py) for px, py in pts
        )
        return b"\x01" + struct.pack("<I", 4) + body
    if base in _LINE_TYPES or base in _POLY_TYPES:
        npts, pos = _rvarint(buf, pos)
        if npts == 0:
            return None
        nparts, pos = _rvarint(buf, pos)
        ncurves = 0
        if has_curves:
            ncurves, pos = _rvarint(buf, pos)
        for _ in range(4):  # bbox varuints
            _, pos = _rvarint(buf, pos)
        counts = []
        for _ in range(max(nparts - 1, 0)):
            c, pos = _rvarint(buf, pos)
            counts.append(c)
        counts.append(npts - sum(counts))
        dx = dy = 0
        parts = []
        for c in counts:
            arr = np.empty((c, 2))
            for i in range(c):
                dx, pos = _rvsigned(buf, pos, dx)
                dy, pos = _rvsigned(buf, pos, dy)
                arr[i] = (dx / xs + xo, dy / ys + yo)
            parts.append(arr)
        # curves are tessellated away in this engine: the vertex stream
        # already contains the densified points only when no curve flag;
        # with curves present we return the raw vertices (documented
        # deviation — matches OGR's fallback path when curve parse fails)
        if base in _LINE_TYPES:
            if len(parts) == 1:
                return W.write_linestring(parts[0])
            body = struct.pack("<I", len(parts)) + b"".join(
                W.write_linestring(p) for p in parts
            )
            return b"\x01" + struct.pack("<I", 5) + body
        polys = G.organize_polygons(parts, only_ccw=True)
        if len(polys) == 1:
            return W.write_polygon(polys[0])
        return W.write_multipolygon(polys)
    raise ValueError(f"unsupported shape type {base}")


# ---------------------------------------------------------------------------
# catalog + distributed scan
# ---------------------------------------------------------------------------


def _table_rows_local(gdb_dir: str, table_base: str):
    """All (fid, row_offset) for one table, from the .gdbtablx."""
    offsets = read_tablx_offsets(os.path.join(gdb_dir, table_base + ".gdbtablx"))
    return [(i + 1, off) for i, off in enumerate(offsets) if off > 0]


def list_layers(gdb_dir: str) -> list[dict]:
    """System catalog (a00000001.gdbtable GDB_SystemCatalog: Name field)
    minus the GDB_* system tables."""
    base = os.path.join(gdb_dir, "a00000001")
    hdr = parse_table_header(base + ".gdbtable")
    out = []
    with open(base + ".gdbtable", "rb") as fh:
        for fid, off in _table_rows_local(gdb_dir, "a00000001"):
            fh.seek(off)
            (blob_len,) = struct.unpack("<I", fh.read(4))
            row = decode_row(fh.read(blob_len), hdr["fields"], fid)
            name = row.get("Name")
            if name and not name.startswith("GDB_"):
                out.append({"name": name, "table": f"a{fid:08x}", "id": fid})
    return out


_SPARK_TYPE = {
    FGFT_INT16: T.IntegerType(),
    FGFT_INT32: T.IntegerType(),
    FGFT_INT64: T.LongType(),
    FGFT_OBJECTID: T.LongType(),
    FGFT_FLOAT32: T.DoubleType(),
    FGFT_FLOAT64: T.DoubleType(),
    FGFT_STRING: T.StringType(),
    FGFT_XML: T.StringType(),
    FGFT_DATETIME: T.StringType(),
    FGFT_DATE: T.StringType(),
    FGFT_TIME: T.StringType(),
    FGFT_GUID: T.StringType(),
    FGFT_GLOBALID: T.StringType(),
    FGFT_BINARY: T.BinaryType(),
    FGFT_GEOMETRY: T.BinaryType(),
}


def read_openfilegdb(
    spark: SparkSession,
    gdb_dir: str,
    layer: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """FileGDB layer -> DataFrame(fid, <fields>, wkb). Field metadata +
    the offset index load driver-side; tasks decode disjoint row-offset
    slices of the .gdbtable (ranged reads)."""
    layers = list_layers(gdb_dir)
    if not layers:
        raise ValueError(f"no layers in {gdb_dir}")
    meta = layers[0] if layer is None else next(
        l for l in layers if l["name"].lower() == layer.lower()
    )
    table_base = meta["table"]
    tpath = os.path.join(gdb_dir, table_base + ".gdbtable")
    hdr = parse_table_header(tpath)
    fields = hdr["fields"]
    rows = _table_rows_local(gdb_dir, table_base)
    if num_partitions is None:
        num_partitions = min(
            max(1, len(rows) // 4096), spark.sparkContext.defaultParallelism
        )
    schema_fields = [T.StructField("fid", T.LongType())]
    for f in fields:
        if f["type"] == FGFT_OBJECTID:
            continue
        name = "wkb" if f["type"] == FGFT_GEOMETRY else f["name"]
        schema_fields.append(T.StructField(name, _SPARK_TYPE[f["type"]]))
    out_schema = T.StructType(schema_fields)
    rdf = spark.createDataFrame(rows, "fid: long, off: long").repartition(
        num_partitions
    )

    def run(batches):
        with open(tpath, "rb") as fh:
            for b in batches:
                recs = []
                for fid, off in zip(b["fid"], b["off"]):
                    fh.seek(int(off))
                    (blob_len,) = struct.unpack("<I", fh.read(4))
                    row = decode_row(fh.read(blob_len), fields, int(fid))
                    rec = {"fid": int(fid)}
                    for f in fields:
                        if f["type"] == FGFT_OBJECTID:
                            continue
                        key = "wkb" if f["type"] == FGFT_GEOMETRY else f["name"]
                        rec[key] = row[f["name"]]
                    recs.append(rec)
                yield pd.DataFrame(
                    recs, columns=[f.name for f in out_schema.fields]
                )

    return rdf.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# minimal writer (filegdbtable_write.cpp WriteHeader/WriteHeaderX + the
# field-descriptor and row layouts the reader above transcribes)
# ---------------------------------------------------------------------------


def _wvsigned_delta(v: int) -> bytes:
    """FileGDB signed varint (inverse of _rvsigned)."""
    neg = v < 0
    v = -v if neg else v
    first = (v & 0x3F) | (0x40 if neg else 0)
    v >>= 6
    out = bytearray()
    if v:
        out.append(first | 0x80)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    else:
        out.append(first)
    return bytes(out)


def _utf16_field(s: str) -> bytes:
    enc = s.encode("utf-16-le")
    return bytes([len(s)]) + enc


def _field_desc(fields: list[dict], geom_type: int) -> bytes:
    body = bytearray()
    for f in fields:
        body += _utf16_field(f["name"])
        body += _utf16_field(f.get("alias", ""))
        body.append(f["type"])
        flags = (1 if f.get("nullable", True) else 0)
        if f["type"] == FGFT_GEOMETRY:
            body += bytes([0, flags | 2])  # [0]=unknown, [1]=flags
            wkt = f.get("wkt", "")
            enc = wkt.encode("utf-16-le")
            body += struct.pack("<H", len(enc)) + enc
            body.append(0)  # no M/Z origin-scale blocks
            body += struct.pack(
                "<3d", f["xorigin"], f["yorigin"], f["xyscale"]
            )
            body += struct.pack("<d", 1.0 / f["xyscale"])  # xytolerance
            body += struct.pack("<4d", *f.get("bbox", (0.0, 0.0, 0.0, 0.0)))
            body.append(0)
            body += struct.pack("<I", 1)  # one spatial-index grid size
            body += struct.pack("<d", 1.0)
        elif f["type"] == FGFT_STRING:
            body += struct.pack("<i", f.get("width", 65536))
            body.append(flags)
            body += _wvarint(0)  # no default
        elif f["type"] in (FGFT_OBJECTID, FGFT_BINARY, FGFT_GUID,
                           FGFT_GLOBALID, FGFT_XML):
            body += bytes([0, flags])
        else:
            size = {FGFT_INT16: 2, FGFT_INT32: 4, FGFT_FLOAT32: 4,
                    FGFT_FLOAT64: 8, FGFT_DATETIME: 8, FGFT_INT64: 8,
                    FGFT_DATE: 8, FGFT_TIME: 8}[f["type"]]
            body += bytes([size, flags, 0])
    head = bytearray()
    head += struct.pack("<I", 10 + len(body))  # length from version field on
    head += struct.pack("<I", 4)  # secondary header version
    head.append(geom_type)
    head.append(1)  # strings are UTF8
    head.append(0)
    head.append(0)  # no Z / no M
    head += struct.pack("<H", len(fields))
    return bytes(head) + bytes(body)


def _encode_row(fields: list[dict], values: dict) -> bytes:
    nullable = [f for f in fields if f.get("nullable", True)]
    bitmap = bytearray((len(nullable) + 7) // 8)
    body = bytearray()
    iacc = 0
    for f in fields:
        v = values.get(f["name"])
        if f.get("nullable", True):
            if v is None:
                bitmap[iacc >> 3] |= 1 << (iacc & 7)
                iacc += 1
                continue
            iacc += 1
        t = f["type"]
        if t == FGFT_OBJECTID:
            continue
        if t in (FGFT_STRING, FGFT_XML):
            enc = str(v).encode("utf-8")
            body += _wvarint(len(enc)) + enc
        elif t == FGFT_BINARY:
            body += _wvarint(len(v)) + bytes(v)
        elif t == FGFT_GEOMETRY:
            shape = encode_shape(bytes(v), f)
            body += _wvarint(len(shape)) + shape
        elif t == FGFT_INT16:
            body += struct.pack("<h", int(v))
        elif t == FGFT_INT32:
            body += struct.pack("<i", int(v))
        elif t == FGFT_INT64:
            body += struct.pack("<q", int(v))
        elif t == FGFT_FLOAT32:
            body += struct.pack("<f", float(v))
        elif t == FGFT_FLOAT64:
            body += struct.pack("<d", float(v))
        else:
            raise ValueError(f"unsupported write type {t}")
    return bytes(bitmap) + bytes(body)


def encode_shape(wkb_buf: bytes, gf: dict) -> bytes:
    """Standard WKB (point / linestring / polygon XY) -> FileGDB
    compressed shape buffer."""
    code, parsed = W.parse(wkb_buf)
    xs = gf["xyscale"]
    xo, yo = gf["xorigin"], gf["yorigin"]

    def sx(x):
        return round((x - xo) * xs)

    def sy(y):
        return round((y - yo) * xs)

    if code == 1:
        px, py = parsed
        return _wvarint(SHPT_POINT) + _wvarint(sx(px) + 1) + _wvarint(sy(py) + 1)
    if code == 2:
        pts = parsed
        parts = [np.asarray(pts)]
        base = SHPT_ARC
    elif code == 3:
        rings = W.polygon_rings(wkb_buf)[0]
        parts = [np.asarray(r) for r in rings]
        base = SHPT_POLYGON
    elif code == 6:
        parts = [
            np.asarray(r)
            for poly in W.polygon_rings(wkb_buf)
            for r in poly
        ]
        base = SHPT_POLYGON
    else:
        raise ValueError(f"unsupported WKB code {code} for gdb write")
    npts = sum(len(p) for p in parts)
    allp = np.vstack(parts)
    out = bytearray(_wvarint(base))
    out += _wvarint(npts)
    out += _wvarint(len(parts))
    vxmin, vymin = sx(allp[:, 0].min()), sy(allp[:, 1].min())
    vxmax, vymax = sx(allp[:, 0].max()), sy(allp[:, 1].max())
    out += (_wvarint(vxmin) + _wvarint(vymin) + _wvarint(vxmax - vxmin)
            + _wvarint(vymax - vymin))
    for p in parts[:-1]:
        out += _wvarint(len(p))
    dx = dy = 0
    for p in parts:
        for px, py in p:
            nx, ny = sx(px), sy(py)
            out += _wvsigned_delta(nx - dx) + _wvsigned_delta(ny - dy)
            dx, dy = nx, ny
    return bytes(out)


def _write_table(path_base: str, fields: list[dict], rows: list[dict],
                 geom_type: int) -> None:
    fd = _field_desc(fields, geom_type)
    blobs = [_encode_row(fields, r) for r in rows]
    max_blob = max((len(b) for b in blobs), default=0)
    offsets = []
    with open(path_base + ".gdbtable", "wb") as fh:
        fh.write(struct.pack("<IIIIII", 3, len(rows), max(max_blob, len(fd)),
                             5, 0, 0))
        fh.write(struct.pack("<QQ", 0, 0))  # file size + fd offset: patched
        for b in blobs:
            offsets.append(fh.tell())
            fh.write(struct.pack("<I", len(b)))
            fh.write(b)
        fd_off = fh.tell()
        fh.write(fd)
        size = fh.tell()
        fh.seek(24)
        fh.write(struct.pack("<QQ", size, fd_off))
    osize = 5
    nblocks = (len(rows) + 1023) // 1024 if rows else 0
    with open(path_base + ".gdbtablx", "wb") as fh:
        fh.write(struct.pack("<IIiI", 3, nblocks, len(rows), osize))
        for i in range(nblocks * 1024):
            off = offsets[i] if i < len(offsets) else 0
            fh.write(off.to_bytes(osize, "little"))
        fh.write(struct.pack("<IIII", 0, nblocks, nblocks, 0))


_GDB_SYSTEM = [
    "GDB_SystemCatalog", "GDB_DBTune", "GDB_SpatialRefs", "GDB_Items",
    "GDB_ItemTypes", "GDB_ItemRelationships", "GDB_ItemRelationshipTypes",
    "GDB_ReplicaLog",
]


def write_openfilegdb(
    df: DataFrame,
    gdb_dir: str,
    layer: str = "layer",
    wkb_col: str = "wkb",
    xorigin: float = -400.0,
    yorigin: float = -400.0,
    xyscale: float = 1e9,
) -> int:
    """DataFrame -> a readable FileGDB directory (system catalog +
    one layer table). Geometry snaps to the layer's integer grid
    (origin/scale), exactly like the SDK. Collected through
    toLocalIterator (single-writer format; the distributed sinks are
    GeoParquet/FlatGeobuf/PMTiles)."""
    os.makedirs(gdb_dir, exist_ok=True)
    cat_fields = [
        {"name": "ID", "type": FGFT_OBJECTID, "nullable": False},
        {"name": "Name", "type": FGFT_STRING, "nullable": False, "width": 160},
        {"name": "FileFormat", "type": FGFT_INT32, "nullable": False},
    ]
    cat_rows = [
        {"Name": n, "FileFormat": 0} for n in _GDB_SYSTEM
    ] + [{"Name": layer, "FileFormat": 0}]
    _write_table(os.path.join(gdb_dir, "a00000001"), cat_fields, cat_rows, 0)

    type_map = {
        T.LongType: FGFT_INT32, T.IntegerType: FGFT_INT32,
        T.ShortType: FGFT_INT16, T.DoubleType: FGFT_FLOAT64,
        T.FloatType: FGFT_FLOAT64, T.StringType: FGFT_STRING,
        T.BinaryType: FGFT_BINARY,
    }
    fields = [
        {
            "name": "SHAPE", "type": FGFT_GEOMETRY, "nullable": True,
            "wkt": "", "xorigin": xorigin, "yorigin": yorigin,
            "xyscale": xyscale,
        },
        {"name": "OBJECTID", "type": FGFT_OBJECTID, "nullable": False},
    ]
    for f in df.schema.fields:
        if f.name == wkb_col:
            continue
        fields.append(
            {"name": f.name, "type": type_map[type(f.dataType)],
             "nullable": True}
        )
    rows = []
    for r in df.toLocalIterator():
        d = r.asDict()
        rec = {"SHAPE": d.get(wkb_col)}
        for f in fields[2:]:
            rec[f["name"]] = d.get(f["name"])
        rows.append(rec)
    tbl = os.path.join(gdb_dir, f"a{len(cat_rows):08x}")
    _write_table(tbl, fields, rows, 4)
    return len(rows)
