"""FlatGeobuf driver (read path) — ogr/ogrsf_frmts/flatgeobuf
(ogrflatgeobuflayer.cpp, packedrtree.cpp, header/feature flatbuffer
schemas in header_generated.h / feature_generated.h).

File layout: 8-byte magic ``fgb <ver> fgb <patch>``, uint32 header
size + Header flatbuffer, the packed Hilbert R-tree (40-byte NodeItems:
4 doubles + uint64 offset; bottom-up level sizes ceil-divided by the
node size, stored top-down — packedrtree.cpp generateLevelBounds:219),
then length-prefixed Feature flatbuffers.

A minimal flatbuffers reader (vtable slot = 4 + 2*field_id) decodes the
Header (name=0, envelope=1, geometry_type=2, has_z=3, columns=7,
features_count=8, index_node_size=9) and Feature (geometry=0,
properties=1) tables; Geometry carries ends=0, xy=1, z=2, type=6,
parts=7. Properties are a byte stream of (uint16 column index, value by
ColumnType) with uint32-length-prefixed String/Json/DateTime/Binary.

Scale shape: the header + index are driver-side metadata (bytes, not
features); ``packed_rtree_search`` reproduces PackedRTree::streamSearch
(:360-408) so a bbox query prunes to the matching feature byte ranges
BEFORE any task reads a feature — the distributed scan partitions the
surviving offset list and each task reads only its slice of the file.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"fgb"

GEOM_NAMES = {
    0: "Unknown", 1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}

COL_BYTE, COL_UBYTE, COL_BOOL = 0, 1, 2
COL_SHORT, COL_USHORT, COL_INT, COL_UINT = 3, 4, 5, 6
COL_LONG, COL_ULONG, COL_FLOAT, COL_DOUBLE = 7, 8, 9, 10
COL_STRING, COL_JSON, COL_DATETIME, COL_BINARY = 11, 12, 13, 14

_NODE = 40  # sizeof(NodeItem)


# ---------------------------------------------------------------------------
# minimal flatbuffers table reader
# ---------------------------------------------------------------------------


class _Table:
    __slots__ = ("buf", "pos", "vt", "vsize")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.vt = pos - struct.unpack_from("<i", buf, pos)[0]
        self.vsize = struct.unpack_from("<H", buf, self.vt)[0]

    def _off(self, fid: int) -> int:
        slot = 4 + 2 * fid
        if slot >= self.vsize:
            return 0
        rel = struct.unpack_from("<H", buf := self.buf, self.vt + slot)[0]
        del buf
        return self.pos + rel if rel else 0

    def scalar(self, fid: int, fmt: str, default=0):
        o = self._off(fid)
        return struct.unpack_from(fmt, self.buf, o)[0] if o else default

    def string(self, fid: int) -> str | None:
        o = self._off(fid)
        if not o:
            return None
        p = o + struct.unpack_from("<I", self.buf, o)[0]
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4:p + 4 + n].decode("utf-8")

    def vector(self, fid: int, dtype: str) -> np.ndarray | None:
        o = self._off(fid)
        if not o:
            return None
        p = o + struct.unpack_from("<I", self.buf, o)[0]
        n = struct.unpack_from("<I", self.buf, p)[0]
        return np.frombuffer(self.buf, dtype=dtype, count=n, offset=p + 4)

    def table_vector(self, fid: int) -> list["_Table"]:
        o = self._off(fid)
        if not o:
            return []
        p = o + struct.unpack_from("<I", self.buf, o)[0]
        n = struct.unpack_from("<I", self.buf, p)[0]
        out = []
        for i in range(n):
            ep = p + 4 + 4 * i
            out.append(
                _Table(self.buf, ep + struct.unpack_from("<I", self.buf, ep)[0])
            )
        return out

    def table(self, fid: int) -> "_Table | None":
        o = self._off(fid)
        if not o:
            return None
        return _Table(self.buf, o + struct.unpack_from("<I", self.buf, o)[0])


def _root(buf: bytes, base: int = 0) -> _Table:
    return _Table(buf, base + struct.unpack_from("<I", buf, base)[0])


# ---------------------------------------------------------------------------
# header / index
# ---------------------------------------------------------------------------


def parse_header(data: bytes) -> dict:
    if data[:3] != MAGIC or data[4:7] != MAGIC:
        raise ValueError("not a FlatGeobuf file")
    hsize = struct.unpack_from("<I", data, 8)[0]
    t = _root(data[12:12 + hsize])
    cols = []
    for c in t.table_vector(7):
        cols.append((c.string(0), c.scalar(1, "<B", 0)))
    count = t.scalar(8, "<Q", 0)
    node_size = t.scalar(9, "<H", 16)
    env = t.vector(1, "<f8")
    index_size = (
        packed_rtree_size(count, node_size)
        if node_size >= 2 and count > 0
        else 0
    )
    return {
        "name": t.string(0),
        "envelope": None if env is None else [float(v) for v in env],
        "geometry_type": t.scalar(2, "<B", 0),
        "has_z": bool(t.scalar(3, "<B", 0)),
        "columns": cols,
        "features_count": count,
        "index_node_size": node_size,
        "header_size": hsize,
        "index_offset": 12 + hsize,
        "features_offset": 12 + hsize + index_size,
    }


def _level_bounds(num_items: int, node_size: int):
    """generateLevelBounds (packedrtree.cpp:219): bottom-up level sizes,
    bounds stored top-down."""
    level_num = []
    n = num_items
    num_nodes = n
    level_num.append(n)
    while True:  # do-while (packedrtree.cpp:236-241): 1 item -> 2 nodes
        n = -(-n // node_size)
        num_nodes += n
        level_num.append(n)
        if n == 1:
            break
    bounds = []
    n = num_nodes
    offs = []
    for size in level_num:
        n -= size
        offs.append(n)
    for i, size in enumerate(level_num):
        bounds.append((offs[i], offs[i] + size))
    return bounds, num_nodes


def packed_rtree_size(num_items: int, node_size: int) -> int:
    _, num_nodes = _level_bounds(num_items, max(2, node_size))
    return num_nodes * _NODE


def packed_rtree_search(
    data: bytes, header: dict,
    xmin: float, ymin: float, xmax: float, ymax: float,
) -> list[tuple[int, int]]:
    """PackedRTree::streamSearch (:360-408) -> [(feature_byte_offset,
    feature_index)] for items intersecting the query box."""
    count = header["features_count"]
    node_size = header["index_node_size"]
    if count == 0 or node_size < 2:
        return []
    bounds, num_nodes = _level_bounds(count, node_size)
    leaf_off = bounds[0][0]
    base = header["index_offset"]
    queue = {0: len(bounds) - 1}
    results = []
    while queue:
        node_index = min(queue)
        level = queue.pop(node_index)
        is_leaf = node_index >= num_nodes - count
        end = min(node_index + node_size, bounds[level][1])
        raw = data[base + node_index * _NODE: base + end * _NODE]
        items = np.frombuffer(
            raw, dtype=[("minx", "<f8"), ("miny", "<f8"), ("maxx", "<f8"),
                        ("maxy", "<f8"), ("off", "<u8")],
        )
        for pos, it in enumerate(items, start=node_index):
            if (it["maxx"] < xmin or it["maxy"] < ymin
                    or it["minx"] > xmax or it["miny"] > ymax):
                continue
            if is_leaf:
                results.append((int(it["off"]), pos - leaf_off))
            else:
                queue[int(it["off"])] = level - 1
    return results


# ---------------------------------------------------------------------------
# feature decode
# ---------------------------------------------------------------------------


def _geometry_wkt(g: _Table, gtype: int, has_z: bool) -> str | None:
    xy = g.vector(1, "<f8")
    ends = g.vector(0, "<u4")
    t = g.scalar(6, "<B", 0) or gtype

    def fmt(i):
        def f1(v):
            return str(int(v)) if float(v).is_integer() else repr(float(v))

        return f"{f1(xy[2 * i])} {f1(xy[2 * i + 1])}"

    if t == 1:
        return f"POINT ({fmt(0)})"
    if t == 4:
        n = len(xy) // 2
        return "MULTIPOINT (" + ",".join(f"({fmt(i)})" for i in range(n)) + ")"
    if t == 2:
        n = len(xy) // 2
        return "LINESTRING (" + ",".join(fmt(i) for i in range(n)) + ")"

    def parts_of(xy, ends):
        n = len(xy) // 2
        if ends is None or len(ends) == 0:
            return [(0, n)]
        out = []
        s = 0
        for e in ends:
            out.append((s, int(e)))
            s = int(e)
        return out

    if t == 5:
        segs = parts_of(xy, ends)
        return (
            "MULTILINESTRING ("
            + ",".join(
                "(" + ",".join(fmt(i) for i in range(a, b)) + ")"
                for a, b in segs
            )
            + ")"
        )
    if t == 3:
        rings = parts_of(xy, ends)
        return (
            "POLYGON ("
            + ",".join(
                "(" + ",".join(fmt(i) for i in range(a, b)) + ")"
                for a, b in rings
            )
            + ")"
        )
    if t == 6:
        # MultiPolygon: parts vector of Geometry (each a Polygon)
        parts = g.table_vector(7)
        if parts:
            inner = [
                _geometry_wkt(p, 3, has_z)[len("POLYGON "):] for p in parts
            ]
            return "MULTIPOLYGON (" + ",".join(inner) + ")"
        rings = parts_of(xy, ends)
        return (
            "MULTIPOLYGON (("
            + ",".join(
                "(" + ",".join(fmt(i) for i in range(a, b)) + ")"
                for a, b in rings
            )
            + "))"
        )
    raise ValueError(f"unsupported FlatGeobuf geometry type {t}")


_SCALARS = {
    COL_BYTE: ("<b", 1), COL_UBYTE: ("<B", 1), COL_BOOL: ("<B", 1),
    COL_SHORT: ("<h", 2), COL_USHORT: ("<H", 2),
    COL_INT: ("<i", 4), COL_UINT: ("<I", 4),
    COL_LONG: ("<q", 8), COL_ULONG: ("<Q", 8),
    COL_FLOAT: ("<f", 4), COL_DOUBLE: ("<d", 8),
}


def _decode_properties(buf: bytes, columns: list) -> dict:
    out = {}
    pos = 0
    n = len(buf)
    while pos + 2 <= n:
        ci = struct.unpack_from("<H", buf, pos)[0]
        pos += 2
        name, ctype = columns[ci]
        if ctype in _SCALARS:
            fmt, size = _SCALARS[ctype]
            v = struct.unpack_from(fmt, buf, pos)[0]
            pos += size
            if ctype == COL_BOOL:
                v = bool(v)
            out[name] = v
        else:  # length-prefixed
            ln = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
            raw = buf[pos:pos + ln]
            pos += ln
            out[name] = raw if ctype == COL_BINARY else raw.decode("utf-8")
    return out


def iter_features(data: bytes, header: dict,
                  offsets: list[int] | None = None):
    """Yield (feature_index, wkt, fields). ``offsets`` (byte offsets
    relative to the feature section, e.g. from packed_rtree_search)
    restricts and orders the scan; None = full sequential scan."""
    base = header["features_offset"]
    cols = header["columns"]
    gtype = header["geometry_type"]
    has_z = header["has_z"]

    def one(pos):
        size = struct.unpack_from("<I", data, pos)[0]
        t = _root(data[pos + 4:pos + 4 + size])
        g = t.table(0)
        wkt = _geometry_wkt(g, gtype, has_z) if g is not None else None
        props = t.vector(1, "u1")
        fields = (
            _decode_properties(props.tobytes(), cols)
            if props is not None and len(cols)
            else {}
        )
        return wkt, fields, pos + 4 + size

    if offsets is not None:
        for i, off in enumerate(offsets):
            wkt, fields, _ = one(base + off)
            yield i, wkt, fields
        return
    pos = base
    i = 0
    n = len(data)
    want = header["features_count"] or None
    while pos + 4 <= n and (want is None or i < want):
        wkt, fields, pos = one(pos)
        yield i, wkt, fields
        i += 1


def read_flatgeobuf(spark, path: str, bbox=None, num_partitions: int = 8):
    """Distributed scan -> DataFrame(fid, wkt, fields json). With
    ``bbox`` the packed R-tree prunes feature byte ranges driver-side
    (index bytes only); tasks read only their slice of the file."""
    import json

    from pyspark.sql import types as T

    with open(path, "rb") as fh:
        head = fh.read(12)
        hsize = struct.unpack_from("<I", head, 8)[0]
        head += fh.read(hsize)
        header = parse_header(head + b"")
        if bbox is not None:
            fh.seek(header["index_offset"])
            head += fh.read(header["features_offset"] - header["index_offset"])
            hits = packed_rtree_search(head, header, *bbox)
            offsets = [(off, idx) for off, idx in hits]
        else:
            offsets = None

    if offsets is None:
        # sequential section: single pre-pass for offsets (driver reads
        # the size prefixes only at small scale; with an index present
        # the leaf nodes would supply these without the pre-pass)
        with open(path, "rb") as fh:
            data = fh.read()
        offsets = []
        pos = header["features_offset"]
        i = 0
        while pos + 4 <= len(data) and (
            not header["features_count"] or i < header["features_count"]
        ):
            offsets.append((pos - header["features_offset"], i))
            pos += 4 + struct.unpack_from("<I", data, pos)[0]
            i += 1

    sch = T.StructType(
        [
            T.StructField("fid", T.LongType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("fields", T.StringType()),
        ]
    )
    rows = spark.createDataFrame(
        [(int(o), int(i)) for o, i in offsets], "off: long, idx: long"
    ).repartition(min(num_partitions, max(1, len(offsets))))

    feat_base = header["features_offset"]
    cols = header["columns"]
    gtype = header["geometry_type"]
    has_z = header["has_z"]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            with open(path, "rb") as fh:
                for off, idx in zip(pdf["off"], pdf["idx"]):
                    fh.seek(feat_base + int(off))
                    size = struct.unpack("<I", fh.read(4))[0]
                    buf = fh.read(size)
                    t = _root(buf)
                    g = t.table(0)
                    wkt = (
                        _geometry_wkt(g, gtype, has_z)
                        if g is not None else None
                    )
                    props = t.vector(1, "u1")
                    fields = (
                        _decode_properties(props.tobytes(), cols)
                        if props is not None and cols else {}
                    )
                    out.append(
                        (int(idx), wkt,
                         json.dumps(fields, default=str, sort_keys=True))
                    )
            yield pd.DataFrame(out, columns=["fid", "wkt", "fields"])

    return rows.mapInPandas(run, sch)


# ---------------------------------------------------------------------------
# Write path — minimal flatbuffers emission for the fgb schemas
# (children placed after parents so every uoffset is forward-positive,
# mirroring what the reference writer produces structurally; index is
# optional and written as the same packed Hilbert layout)
# ---------------------------------------------------------------------------


class _Builder:
    """Backward-building flatbuffers writer (children at higher final
    addresses, so every uoffset is forward-positive, like the real
    flatbuffers builder). Objects are tracked by END-OFFSET E = bytes
    from object start to buffer end; uoffset = E_field - E_target."""

    def __init__(self):
        self.rev = bytearray()  # reversed buffer: rev[0] == final last byte

    def _chunk(self, b: bytes) -> int:
        pad = (4 - len(b) % 4) % 4
        self.rev += b"\x00" * pad
        self.rev += bytes(b)[::-1]
        return len(self.rev)  # end-offset of chunk start

    def string(self, s: str) -> int:
        raw = s.encode("utf-8")
        return self._chunk(struct.pack("<I", len(raw)) + raw + b"\x00")

    def vector(self, fmt: str, items) -> int:
        b = struct.pack("<I", len(items))
        for it in items:
            b += struct.pack(fmt, it)
        return self._chunk(b)

    def bytes_vector(self, raw: bytes) -> int:
        return self._chunk(struct.pack("<I", len(raw)) + raw)

    def offset_vector(self, targets: list[int]) -> int:
        n = len(targets)
        size = 4 + 4 * n
        pad = (4 - size % 4) % 4
        e_chunk = len(self.rev) + pad + size
        b = struct.pack("<I", n)
        for i, et in enumerate(targets):
            e_elem = e_chunk - (4 + 4 * i)
            b += struct.pack("<I", e_elem - et)
        got = self._chunk(b)
        assert got == e_chunk
        return got

    def table(self, fields: list) -> int:
        """fields: [(fid, kind, value)]; kind is a struct fmt for inline
        scalars or 'off' (value = target end-offset). Returns the
        table's end-offset."""
        present = [f for f in fields if f[2] is not None]
        vslots = (max(f[0] for f in present) + 1) if present else 0
        vsize = 4 + 2 * vslots
        slot_off: dict[int, int] = {}
        tsize = 4
        for fid, kind, v in present:
            sz = 4 if kind == "off" else struct.calcsize(kind)
            while tsize % min(sz, 4):
                tsize += 1
            slot_off[fid] = tsize
            tsize += sz
        total = vsize + tsize
        pad = (4 - total % 4) % 4
        e_chunk = len(self.rev) + pad + total
        e_table = e_chunk - vsize
        vt = bytearray(struct.pack("<HH", vsize, tsize))
        slots = [0] * vslots
        for fid in slot_off:
            slots[fid] = slot_off[fid]
        for sl in slots:
            vt += struct.pack("<H", sl)
        body = bytearray(tsize)
        struct.pack_into("<i", body, 0, vsize)  # soffset: table - vtable
        for fid, kind, v in present:
            d = slot_off[fid]
            if kind == "off":
                e_field = e_table - d
                struct.pack_into("<I", body, d, e_field - v)
            else:
                struct.pack_into(kind, body, d, v)
        got = self._chunk(bytes(vt) + bytes(body))
        assert got == e_chunk
        return e_table

    def finish(self, root_e: int) -> bytes:
        n = 4 + len(self.rev)
        return struct.pack("<I", n - root_e) + bytes(self.rev[::-1])


def _build_header(name: str, columns: list, count: int,
                  envelope=None) -> bytes:
    b = _Builder()
    name_pos = b.string(name)
    col_pos = []
    for cname, ctype in columns:
        cp = b.table([(0, "off", b.string(cname)), (1, "<B", ctype)])
        col_pos.append(cp)
    cols_vec = b.offset_vector(col_pos)
    env_pos = b.vector("<d", envelope) if envelope else None
    fields = [
        (0, "off", name_pos),
        (2, "<B", 0),  # geometry_type Unknown (per-feature types)
        (7, "off", cols_vec),
        (8, "<Q", count),
        (9, "<H", 0),  # no index
    ]
    if env_pos is not None:
        fields.insert(1, (1, "off", env_pos))
    root = b.table(fields)
    return b.finish(root)


def _build_feature(gtype: int, xy, ends, props: bytes) -> bytes:
    b = _Builder()
    gfields = []
    if ends:
        gfields.append((0, "off", b.vector("<I", ends)))
    gfields.append((1, "off", b.vector("<d", xy)))
    gfields.append((6, "<B", gtype))
    gpos = b.table(gfields)
    ffields = [(0, "off", gpos)]
    if props:
        ffields.append((1, "off", b.bytes_vector(props)))
    root = b.table(ffields)
    return b.finish(root)


def _encode_properties(fields: dict, columns: list) -> bytes:
    import struct as _s

    out = bytearray()
    cidx = {c[0]: (i, c[1]) for i, c in enumerate(columns)}
    for k, v in fields.items():
        if v is None:
            continue
        i, ctype = cidx[k]
        out += _s.pack("<H", i)
        if ctype in _SCALARS:
            fmt, _ = _SCALARS[ctype]
            out += _s.pack(fmt, int(v) if ctype != COL_FLOAT
                           and ctype != COL_DOUBLE else float(v))
        else:
            raw = v if isinstance(v, bytes) else str(v).encode("utf-8")
            out += _s.pack("<I", len(raw)) + raw
    return bytes(out)


def write_flatgeobuf(path: str, name: str, columns: list,
                     features: list[dict], envelope=None) -> None:
    """features: [{gtype, xy (flat list), ends (or None), fields}].
    Written without an index (index_node_size=0), the layout
    poly_no_index.fgb uses."""
    header = _build_header(name, columns, len(features), envelope)
    with open(path, "wb") as fh:
        fh.write(MAGIC + bytes([3]) + MAGIC + bytes([1]))
        fh.write(struct.pack("<I", len(header)))
        fh.write(header)
        for f in features:
            props = _encode_properties(f.get("fields") or {}, columns)
            blob = _build_feature(
                f["gtype"], f["xy"], f.get("ends"), props
            )
            fh.write(struct.pack("<I", len(blob)))
            fh.write(blob)
