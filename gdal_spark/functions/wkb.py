"""Minimal WKB geometry I/O (numpy) — the wire format for geometry columns.

Geometry travels through the engine as WKB bytes in BinaryType columns,
exactly how OGR's Arrow path encodes it (ogr/ogrsf_frmts/generic/
ogrlayerarrow.cpp — WKB geometry column in Arrow batches). Supported:
Point, LineString, Polygon, MultiPolygon, little-endian, 2-D, and the
ISO Z (type + 1000) Point, LineString, Polygon, MultiLineString and
MultiPolygon. Parsed
representation: list of rings, each an (N,2) float64 array (first ring
exterior, rest holes); multipolygon -> list of such lists.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
# ISO WKB 2.5D (type = 2D + 1000, ogr/ogrgeometry.cpp exportToWkb)
WKB_POINT_Z = 1001
WKB_LINESTRING_Z = 1002
WKB_POLYGON_Z = 1003
WKB_MULTILINESTRING_Z = 1005
WKB_MULTIPOLYGON_Z = 1006
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7


def write_polygon(rings: list[np.ndarray]) -> bytes:
    """rings: list of (N,2) arrays; rings need not be explicitly closed."""
    out = [struct.pack("<BI", 1, WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def write_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BI", 1, WKB_MULTIPOLYGON), struct.pack("<I", len(polys))]
    for rings in polys:
        out.append(write_polygon(rings))
    return b"".join(out)


def write_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, x, y)


def write_multipoint(pts) -> bytes:
    pts = np.asarray(pts, dtype=np.float64)
    out = [struct.pack("<BII", 1, WKB_MULTIPOINT, len(pts))]
    for x, y in pts:
        out.append(write_point(x, y))
    return b"".join(out)


def write_multilinestring(lines) -> bytes:
    out = [struct.pack("<BII", 1, WKB_MULTILINESTRING, len(lines))]
    for ln in lines:
        out.append(write_linestring(ln))
    return b"".join(out)


def write_collection(children: list[bytes]) -> bytes:
    """children: already-encoded WKB buffers."""
    return (struct.pack("<BII", 1, WKB_GEOMETRYCOLLECTION, len(children))
            + b"".join(children))


def write_point_z(x: float, y: float, z: float) -> bytes:
    return struct.pack("<BIddd", 1, WKB_POINT_Z, x, y, z)


def write_linestring_z(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    return (
        struct.pack("<BII", 1, WKB_LINESTRING_Z, len(coords))
        + coords.astype("<f8").tobytes()
    )


def write_linestring(coords: np.ndarray) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    return (
        struct.pack("<BII", 1, WKB_LINESTRING, len(coords)) + coords.astype("<f8").tobytes()
    )


def _read_polygon_body(buf: bytes, pos: int,
                       nd: int = 2) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        ring = np.frombuffer(buf, dtype="<f8", count=npts * nd, offset=pos).reshape(npts, nd)
        rings.append(np.asarray(ring, dtype=np.float64))
        pos += npts * nd * 8
    return rings, pos


def parse(buf: bytes) -> tuple[int, object]:
    """Parse WKB -> (geom_type, payload).

    payload: Point -> (x, y); LineString -> (N,2) array;
    Polygon -> [rings]; MultiPolygon -> [[rings], ...];
    MultiLineString -> [lines]. The ISO Z kinds (Point, LineString,
    Polygon, MultiLineString, MultiPolygon + 1000) keep their type code
    and carry (x, y, z) tuples / (N,3) arrays.
    """
    buf = bytes(buf)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("big-endian WKB not supported")
    pos = 5
    if gtype in (WKB_POINT_Z, WKB_LINESTRING_Z, WKB_POLYGON_Z,
                 WKB_MULTILINESTRING_Z, WKB_MULTIPOLYGON_Z):
        nd, base = 3, gtype - 1000
    else:
        gtype = base = gtype & 0xFF  # strip EWKB dimension flag bits
        nd = 2
    if base == WKB_POINT:
        return gtype, struct.unpack_from("<" + "d" * nd, buf, pos)
    if base == WKB_LINESTRING:
        (npts,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        arr = np.frombuffer(buf, dtype="<f8", count=npts * nd, offset=pos).reshape(npts, nd)
        return gtype, np.asarray(arr)
    if base == WKB_POLYGON:
        rings, _ = _read_polygon_body(buf, pos, nd)
        return gtype, rings
    if base == WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        polys = []
        for _ in range(npolys):
            pos += 5  # inner byte-order + type
            rings, pos = _read_polygon_body(buf, pos, nd)
            polys.append(rings)
        return gtype, polys
    if gtype == WKB_MULTIPOINT:
        (npts,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        pts = np.empty((npts, 2), np.float64)
        for i in range(npts):
            pos += 5  # inner byte-order + type
            pts[i] = struct.unpack_from("<dd", buf, pos)
            pos += 16
        return gtype, pts
    if base == WKB_MULTILINESTRING:
        (nlines,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        lines = []
        for _ in range(nlines):
            pos += 5
            (npts,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            arr = np.frombuffer(buf, dtype="<f8", count=npts * nd,
                                offset=pos).reshape(npts, nd)
            lines.append(np.asarray(arr))
            pos += npts * nd * 8
        return gtype, lines
    if gtype == WKB_GEOMETRYCOLLECTION:
        (ngeoms,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        geoms = []
        for _ in range(ngeoms):
            child_len = _geom_length(buf, pos)
            geoms.append(parse(buf[pos:pos + child_len]))
            pos += child_len
        return gtype, geoms
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _geom_length(buf: bytes, pos: int) -> int:
    """Byte length of the LE WKB geometry starting at pos (2-D and
    ISO-WKB Z variants)."""
    start = pos
    (gtype,) = struct.unpack_from("<I", buf, pos + 1)
    if gtype >= 1000:
        base = gtype % 1000
        psize = 24  # Z: three doubles per point
    else:
        base = gtype & 0xFF
        psize = 16
    pos += 5
    if base == WKB_POINT:
        return pos + psize - start
    if base == WKB_LINESTRING:
        (npts,) = struct.unpack_from("<I", buf, pos)
        return pos + 4 + npts * psize - start
    if base == WKB_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        for _ in range(nrings):
            (npts,) = struct.unpack_from("<I", buf, pos)
            pos += 4 + npts * psize
        return pos - start
    if base in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON,
                WKB_GEOMETRYCOLLECTION):
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        for _ in range(n):
            pos += _geom_length(buf, pos)
        return pos - start
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def polygon_rings(buf: bytes) -> list[list[np.ndarray]]:
    """Normalize Polygon/MultiPolygon WKB to a list of polygons (ring
    lists). Z rings come back as their (N,2) x/y: the kernels are planar."""
    gtype, payload = parse(buf)
    if gtype in (WKB_POLYGON, WKB_POLYGON_Z):
        payload = [payload]
    elif gtype not in (WKB_MULTIPOLYGON, WKB_MULTIPOLYGON_Z):
        raise ValueError(f"not a polygon: type {gtype}")
    if gtype > 1000:
        return [[r[:, :2] for r in rings] for rings in payload]
    return payload


def _vertices(gtype: int, payload) -> list[np.ndarray]:
    """Every vertex of a parsed geometry, as (N, >= 2) arrays."""
    base = gtype % 1000
    if base == WKB_POINT:
        return [np.asarray([payload], np.float64)]
    if base in (WKB_LINESTRING, WKB_MULTIPOINT):
        return [payload]
    if base in (WKB_POLYGON, WKB_MULTILINESTRING):
        return list(payload)
    if base == WKB_MULTIPOLYGON:
        return [ring for rings in payload for ring in rings]
    return [v for g, p in payload for v in _vertices(g, p)]  # collection


def bbox(buf: bytes) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) over every vertex of every member; the
    x/y extent of a Z geometry."""
    xy = [v[:, :2] for v in _vertices(*parse(buf)) if len(v)]
    if not xy:
        raise ValueError("empty geometry has no extent")
    xy = np.vstack(xy)
    return (float(xy[:, 0].min()), float(xy[:, 1].min()),
            float(xy[:, 0].max()), float(xy[:, 1].max()))


def map_coords(buf: bytes, fn) -> bytes:
    """Rebuild a WKB geometry with ``fn(xs, ys) -> (xs2, ys2)`` applied to
    every vertex (OGRGeometry::transform's coordinate walk). fn is
    called ONCE per geometry on flat arrays — array-at-a-time, so a
    vectorized CRS kernel stays vectorized."""
    gtype, payload = parse(buf)
    if gtype == WKB_POINT:
        xs, ys = fn(np.array([payload[0]]), np.array([payload[1]]))
        return write_point(float(xs[0]), float(ys[0]))
    if gtype == WKB_LINESTRING:
        xs, ys = fn(payload[:, 0], payload[:, 1])
        return write_linestring(np.column_stack([xs, ys]))
    if gtype == WKB_POLYGON:
        flat = np.vstack(payload)
        xs, ys = fn(flat[:, 0], flat[:, 1])
        out, pos = [], 0
        for ring in payload:
            n = len(ring)
            out.append(np.column_stack([xs[pos : pos + n], ys[pos : pos + n]]))
            pos += n
        return write_polygon(out)
    if gtype == WKB_MULTIPOLYGON:
        flat = np.vstack([r for rings in payload for r in rings])
        xs, ys = fn(flat[:, 0], flat[:, 1])
        polys, pos = [], 0
        for rings in payload:
            nr = []
            for ring in rings:
                n = len(ring)
                nr.append(
                    np.column_stack([xs[pos : pos + n], ys[pos : pos + n]])
                )
                pos += n
            polys.append(nr)
        return write_multipolygon(polys)
    raise ValueError(f"unsupported WKB geometry type {gtype}")
