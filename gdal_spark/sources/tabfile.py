"""MapInfo TAB binary reader (ogr/ogrsf_frmts/mitab — re-derived, no
code copied), completing the MIF/MID text twin in sources/mif.py.

A TAB dataset is four files: .tab (text descriptor), .dat (xBase-style
attribute table), .id (one little-endian int32 per feature: absolute
byte offset of its object record in the .map, 0 = no geometry) and
.map (binary geometry):

  header block: magic cookie at 0x100, version + block size at 0x104,
  MBR, coordinate origin quadrant + X/Y scale and displacement doubles
  (Int2Coordsys: quadrant 2/3/0 negates X, 3/4/0 negates Y).
  object blocks (type 2): 20-byte header with the block's compressed-
  coordinate center; object records = [type u1][id i4][payload].
  coordinate blocks (type 3): 8-byte header (numDataBytes i2 at 0x2,
  next block ptr i4) chaining vertex data across 512-byte blocks.

Object payloads follow mitab_mapobjectblock.cpp: SYMBOL/FONTSYMBOL/
CUSTOMSYMBOL points, LINE, PLINE, REGION/MULTIPLINE (coord-block
section headers: V300 16/24 bytes, V450+ with int32 vertex counts),
ARC + ELLIPSE (defining-MBR semantics, TABGenerateArc tessellation
with the same parameters as the feature layer), TEXT (string in the
coord block, MBR-min point geometry), MULTIPOINT and COLLECTION
(mini-headers per sub-part). Compressed variants store int16 coords
relative to the object block center (record fields) or the object's
compressed origin (coord/label/MBR data).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from gdal_spark.sources.mif import (
    _region_to_geom,
    _tab_close_ring,
    _tab_generate_arc,
)

__all__ = ["TabFile", "tab_read"]


class _MapHeader:
    def __init__(self, data: bytes):
        (magic,) = struct.unpack_from("<i", data, 0x100)
        if magic != 42424242:
            raise ValueError("TAB .map: invalid magic cookie")
        self.version, self.block_size = struct.unpack_from("<hh", data, 0x104)
        self.quadrant = data[0x161]
        self.xscale, self.yscale, self.xdispl, self.ydispl = \
            struct.unpack_from("<4d", data, 0x170)
        if self.version <= 100:
            prec = data[0x160]
            self.xscale = self.yscale = 10.0 ** prec
            self.xdispl = self.ydispl = 0.0

    def int2coord(self, nx, ny):
        if self.quadrant in (0, 2, 3):
            dx = -1.0 * (np.asarray(nx, np.float64) + self.xdispl) / self.xscale
        else:
            dx = (np.asarray(nx, np.float64) - self.xdispl) / self.xscale
        if self.quadrant in (0, 3, 4):
            dy = -1.0 * (np.asarray(ny, np.float64) + self.ydispl) / self.yscale
        else:
            dy = (np.asarray(ny, np.float64) - self.ydispl) / self.yscale
        return dx, dy


class _Reader:
    """Sequential reader over .map bytes with int16/int32 helpers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos

    def u1(self):
        v = self.data[self.pos]
        self.pos += 1
        return v

    def i2(self):
        (v,) = struct.unpack_from("<h", self.data, self.pos)
        self.pos += 2
        return v

    def i4(self):
        (v,) = struct.unpack_from("<i", self.data, self.pos)
        self.pos += 4
        return v


class _CoordReader(_Reader):
    """Reader over chained coordinate blocks: skips each block's 8-byte
    header and follows the next-block pointer at block end."""

    def __init__(self, data: bytes, pos: int, block_size: int,
                 compr_org=(0, 0)):
        super().__init__(data, pos)
        self.bs = block_size
        self.ox, self.oy = compr_org
        self._load_block()

    def _load_block(self):
        start = (self.pos // self.bs) * self.bs
        (ndata,) = struct.unpack_from("<h", self.data, start + 2)
        (self.next_block,) = struct.unpack_from("<i", self.data, start + 4)
        self.block_end = start + 8 + ndata
        if self.pos < start + 8:
            self.pos = start + 8

    def _ensure(self, n: int):
        if self.pos + n > self.block_end:
            if self.next_block <= 0:
                raise ValueError("TAB: coord chain exhausted")
            self.pos = self.next_block
            self._load_block()

    def u1(self):
        self._ensure(1)
        return super().u1()

    def i2(self):
        self._ensure(2)
        return super().i2()

    def i4(self):
        self._ensure(4)
        return super().i4()

    def raw(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            self._ensure(1)
            take = min(n, self.block_end - self.pos)
            out.extend(self.data[self.pos:self.pos + take])
            self.pos += take
            n -= take
        return bytes(out)

    def coord(self, compressed: bool):
        if compressed:
            return self.i2() + self.ox, self.i2() + self.oy
        return self.i4(), self.i4()

    def coords(self, compressed: bool, n: int) -> np.ndarray:
        out = np.empty((n, 2), np.int64)
        for i in range(n):
            out[i] = self.coord(compressed)
        return out


def _fmt(v: float) -> str:
    return f"{v:.15g}"


def _coords_txt(arr) -> str:
    return ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in arr)


class TabFile:
    """files: {'tab': text, 'dat': bytes, 'map': bytes, 'id': bytes}."""

    def __init__(self, files: dict):
        self.fields = self._parse_dat(files["dat"])
        self.map_data = files.get("map", b"")
        self.id_data = files.get("id", b"")
        self.header = _MapHeader(self.map_data) if self.map_data else None

    # -- .dat (xBase) ------------------------------------------------------
    @staticmethod
    def _parse_dat(data: bytes):
        nrec, hdr_len, rec_len = struct.unpack_from("<IHH", data, 4)
        if rec_len:
            # MapInfo sometimes writes 0 records in the header; the
            # reference derives the count from the file size
            nrec = max(nrec, (len(data) - hdr_len) // rec_len)
        fields = []
        pos = 32
        while pos + 32 <= hdr_len and data[pos] != 0x0D:
            name = data[pos:pos + 11].split(b"\x00")[0].decode("latin-1")
            ftype = chr(data[pos + 11])
            flen = data[pos + 16]
            fdec = data[pos + 17]
            fields.append((name, ftype, flen, fdec))
            pos += 32
        rows = []
        for r in range(nrec):
            off = hdr_len + r * rec_len
            rec = data[off:off + rec_len]
            row = {}
            fpos = 1  # deletion flag byte
            for name, ftype, flen, fdec in fields:
                raw = rec[fpos:fpos + flen]
                fpos += flen
                if ftype == "C":
                    row[name] = raw.decode("latin-1").rstrip("\x00 ").rstrip()
                elif ftype == "N":
                    txt = raw.decode("latin-1").strip()
                    try:
                        row[name] = float(txt) if ("." in txt or fdec) \
                            else int(txt)
                    except ValueError:
                        row[name] = None
                else:
                    row[name] = raw.decode("latin-1").strip()
            rows.append(row)
        return {"defs": fields, "rows": rows}

    # -- features ----------------------------------------------------------
    def features(self) -> list[dict]:
        rows = self.fields["rows"]
        n = len(rows)
        offsets = struct.unpack_from(f"<{n}i", self.id_data, 0) \
            if len(self.id_data) >= 4 * n else [0] * n
        out = []
        for i in range(n):
            wkt = None
            if offsets[i] > 0:
                wkt = self._object_wkt(offsets[i])
            out.append({"fields": rows[i], "wkt": wkt})
        return out

    # -- object decode ----------------------------------------------------
    def _block_center(self, offset: int):
        start = (offset // self.header.block_size) * self.header.block_size
        cx, cy = struct.unpack_from("<ii", self.map_data, start + 4)
        return cx, cy

    def _object_wkt(self, offset: int) -> str | None:
        hd = self.header
        r = _Reader(self.map_data, offset)
        otype = r.u1()
        r.i4()  # object id
        # _C (compressed) codes from the TABGeomType enum
        # (mitab_priv.h:88-132): every even/odd pair is (name_C, name);
        # V450 adds 0x2e/0x31, V800 adds 0x3a/0x3d/0x40/0x43/0x46.
        compressed = bool(otype in
                          (0x01, 0x04, 0x07, 0x0a, 0x0d, 0x10, 0x13, 0x16,
                           0x19, 0x25, 0x28, 0x2b, 0x2e, 0x31, 0x34, 0x37,
                           0x3a, 0x3d, 0x40, 0x43, 0x46))
        cx0, cy0 = self._block_center(offset)

        def rc():  # record-level int coord (relative to block center)
            if compressed:
                return r.i2() + cx0, r.i2() + cy0
            return r.i4(), r.i4()

        def pt_txt(nx, ny):
            x, y = hd.int2coord(nx, ny)
            return f"{_fmt(float(x))} {_fmt(float(y))}"

        if otype in (0x01, 0x02):            # SYMBOL point
            nx, ny = rc()
            return f"POINT ({pt_txt(nx, ny)})"
        if otype in (0x28, 0x29):            # FONTSYMBOL point
            r.pos += 10  # symbol, size, style, rgb, 3 unknowns
            r.i2()       # angle
            nx, ny = rc()
            return f"POINT ({pt_txt(nx, ny)})"
        if otype in (0x2b, 0x2c):            # CUSTOMSYMBOL point
            r.u1()
            r.u1()
            nx, ny = rc()
            return f"POINT ({pt_txt(nx, ny)})"
        if otype in (0x04, 0x05):            # LINE
            x1, y1 = rc()
            x2, y2 = rc()
            return f"LINESTRING ({pt_txt(x1, y1)},{pt_txt(x2, y2)})"
        if otype in (0x07, 0x08, 0x0d, 0x0e, 0x25, 0x26,
                     0x2e, 0x2f, 0x31, 0x32,
                     0x3d, 0x3e, 0x40, 0x41):
            return self._pline_wkt(r, otype, compressed)
        if otype in (0x0a, 0x0b):            # ARC
            a0 = r.i2() / 10.0
            a1 = r.i2() / 10.0
            ex0, ey0 = rc()
            ex1, ey1 = rc()
            dx0, dy0 = hd.int2coord(ex0, ey0)
            dx1, dy1 = hd.int2coord(ex1, ey1)
            cx = (dx0 + dx1) / 2
            cy = (dy0 + dy1) / 2
            rx = abs(dx1 - dx0) / 2
            ry = abs(dy1 - dy0) / 2
            if a1 < a0:
                npts = max(2, int(abs((a1 + 360.0) - a0) / 2.0 + 1))
            else:
                npts = max(2, int(abs(a1 - a0) / 2.0 + 1))
            arc = _tab_generate_arc(cx, cy, rx, ry, math.radians(a0),
                                    math.radians(a1), npts)
            return "LINESTRING (" + _coords_txt(arc) + ")"
        if otype in (0x13, 0x14, 0x19, 0x1a, 0x16, 0x17):
            # RECT / ROUNDRECT / ELLIPSE (roundrect: corner radii first)
            rrx = rry = 0.0
            if otype in (0x16, 0x17):
                cw = r.i2() if compressed else r.i4()
                ch = r.i2() if compressed else r.i4()
                # corner diameters -> radii (Int2CoordsysDist / 2)
                rrx = cw / hd.xscale / 2.0
                rry = ch / hd.yscale / 2.0
            x0, y0 = rc()
            x1, y1 = rc()
            dx0, dy0 = hd.int2coord(x0, y0)
            dx1, dy1 = hd.int2coord(x1, y1)
            if otype in (0x19, 0x1a):        # ellipse -> polygon
                cx = (dx0 + dx1) / 2
                cy = (dy0 + dy1) / 2
                ring = _tab_generate_arc(cx, cy, abs(dx1 - dx0) / 2,
                                         abs(dy1 - dy0) / 2, 0.0,
                                         2.0 * math.pi, 180)
                ring = _tab_close_ring(ring)
                return "POLYGON ((" + _coords_txt(ring) + "))"
            lo_x, hi_x = min(dx0, dx1), max(dx0, dx1)
            lo_y, hi_y = min(dy0, dy1), max(dy0, dy1)
            if otype in (0x16, 0x17) and rrx != 0.0 and rry != 0.0:
                rx = min(rrx, (hi_x - lo_x) / 2.0)
                ry = min(rry, (hi_y - lo_y) / 2.0)
                segs = [
                    _tab_generate_arc(lo_x + rx, lo_y + ry, rx, ry,
                                      math.pi, 3 * math.pi / 2, 45),
                    _tab_generate_arc(hi_x - rx, lo_y + ry, rx, ry,
                                      3 * math.pi / 2, 2 * math.pi, 45),
                    _tab_generate_arc(hi_x - rx, hi_y - ry, rx, ry,
                                      0.0, math.pi / 2, 45),
                    _tab_generate_arc(lo_x + rx, hi_y - ry, rx, ry,
                                      math.pi / 2, math.pi, 45),
                ]
                ring = _tab_close_ring(np.vstack(segs))
                return "POLYGON ((" + _coords_txt(ring) + "))"
            ring = [(lo_x, lo_y), (hi_x, lo_y), (hi_x, hi_y),
                    (lo_x, hi_y), (lo_x, lo_y)]
            return "POLYGON ((" + _coords_txt(ring) + "))"
        if otype in (0x10, 0x11):            # TEXT
            r.i4()  # string ptr
            r.i2()  # string length
            r.i2()  # alignment
            angle = r.i2() / 10.0
            r.i2()  # font style
            r.pos += 6  # fg + bg rgb
            rc()    # label line end
            nheight = r.i2() if compressed else r.i4()
            height = nheight / hd.yscale
            r.u1()  # font id
            x0, y0 = rc()
            x1, y1 = rc()
            dx0, dy0 = hd.int2coord(x0, y0)
            dx1, dy1 = hd.int2coord(x1, y1)
            ds = math.sin(math.radians(angle))
            dc = math.cos(math.radians(angle))
            if ds > 0.0 and dc > 0.0:
                px, py = dx0 + height * ds, dy0
            elif ds > 0.0 and dc < 0.0:
                px, py = dx1, dy0 - height * dc
            elif ds < 0.0 and dc < 0.0:
                px, py = dx1 + height * ds, dy1
            else:
                px, py = dx0, dy1 - height * dc
            return f"POINT ({_fmt(px)} {_fmt(py)})"
        if otype in (0x34, 0x35, 0x43, 0x44):  # MULTIPOINT (+V800)
            return self._multipoint_wkt(r, compressed,
                                        v800=otype in (0x43, 0x44))
        if otype in (0x37, 0x38):            # COLLECTION
            return self._collection_wkt(r, compressed)
        if otype in (0x46, 0x47):            # V800 COLLECTION
            raise ValueError(
                "TAB V800 COLLECTION object type 0x%02x not supported"
                % otype)
        return None

    # -- pline/region ------------------------------------------------------
    def _pline_wkt(self, r: _Reader, otype: int, compressed: bool):
        hd = self.header
        coord_ptr = r.i4()
        coord_size = r.i4() & 0x7FFFFFFF
        # V450_REGION_C/V450_REGION/V450_MULTIPLINE_C/V450_MULTIPLINE
        # (mitab_priv.h:113-116) and the V800 twins (0x3d-0x41); both
        # use int32 section vertex counts.
        v800 = otype in (0x3d, 0x3e, 0x40, 0x41)
        v450 = v800 or otype in (0x2e, 0x2f, 0x31, 0x32)
        if otype in (0x07, 0x08):
            nsections = 1
        elif v800:
            # int32 numSections + 33 unknown bytes
            # (TABMAPObjPLine::ReadObj, mitab_mapobjectblock.cpp:998-1015)
            nsections = r.i4()
            r.pos += 33
        else:
            nsections = r.i2()
        if compressed:
            r.i2()
            r.i2()
            org = (r.i4(), r.i4())
        else:
            r.i4()
            r.i4()
            org = (0, 0)
        cr = _CoordReader(self.map_data, coord_ptr,
                          hd.block_size, org)
        if otype in (0x07, 0x08):
            npts = coord_size // (4 if compressed else 8)
            pts = cr.coords(compressed, npts)
            xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
            return ("LINESTRING ("
                    + _coords_txt(np.column_stack([xs, ys])) + ")")
        secs = _read_sec_hdrs(cr, compressed, nsections, v450, v800)
        parts = []
        for nv, _off in secs:
            pts = cr.coords(compressed, nv)
            xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
            parts.append(np.column_stack([xs, ys]))
        if otype in (0x0d, 0x0e, 0x2e, 0x2f, 0x3d, 0x3e):  # REGION
            return _region_wkt(parts)
        if len(parts) == 1:
            return "LINESTRING (" + _coords_txt(parts[0]) + ")"
        return ("MULTILINESTRING ("
                + ",".join("(" + _coords_txt(p) + ")" for p in parts) + ")")

    def _multipoint_wkt(self, r: _Reader, compressed: bool,
                        v800: bool = False):
        hd = self.header
        coord_ptr = r.i4()
        npts = r.i4()
        r.pos += 15  # 3 int32 + 3 bytes unknown
        if v800:
            r.pos += 33  # V800: 8 int32 + 1 byte, all zeros
                         # (mitab_mapobjectblock.cpp:1653-1665)
        r.u1()       # symbol id
        r.u1()       # unknown
        if compressed:
            r.i2()
            r.i2()
            org = (r.i4(), r.i4())
        else:
            r.i4()
            r.i4()
            org = (0, 0)
        cr = _CoordReader(self.map_data, coord_ptr, hd.block_size, org)
        pts = cr.coords(compressed, npts)
        xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
        return ("MULTIPOINT ("
                + ",".join(f"({_fmt(x)} {_fmt(y)})"
                           for x, y in zip(xs, ys)) + ")")

    def _collection_wkt(self, r: _Reader, compressed: bool):
        hd = self.header
        coord_ptr = r.i4()
        n_mpoints = r.i4()
        region_size = r.i4()
        pline_size = r.i4()
        n_reg = r.i2()
        n_pline = r.i2()
        region_size -= 2 * n_reg
        pline_size -= 2 * n_pline
        r.pos += 15
        r.u1()  # multipoint symbol
        r.u1()
        r.u1()  # region pen
        r.u1()  # pline pen
        r.u1()  # region brush
        if compressed:
            org = (r.i4(), r.i4())
        else:
            org = (0, 0)
        cr = _CoordReader(self.map_data, coord_ptr, hd.block_size, org)
        geoms = []
        if n_reg > 0:
            _skip_label_mbr(cr, compressed)
            secs = _read_sec_hdrs(cr, compressed, n_reg, v450=True)
            parts = []
            for nv, _off in secs:
                pts = cr.coords(compressed, nv)
                xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
                parts.append(np.column_stack([xs, ys]))
            geoms.append(_region_wkt(parts))
        if n_pline > 0:
            _skip_label_mbr(cr, compressed)
            secs = _read_sec_hdrs(cr, compressed, n_pline, v450=True)
            parts = []
            for nv, _off in secs:
                pts = cr.coords(compressed, nv)
                xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
                parts.append(np.column_stack([xs, ys]))
            if len(parts) == 1:
                geoms.append("LINESTRING (" + _coords_txt(parts[0]) + ")")
            else:
                geoms.append("MULTILINESTRING ("
                             + ",".join("(" + _coords_txt(p) + ")"
                                        for p in parts) + ")")
        if n_mpoints > 0:
            _skip_label_mbr(cr, compressed)
            pts = cr.coords(compressed, n_mpoints)
            xs, ys = hd.int2coord(pts[:, 0], pts[:, 1])
            geoms.append("MULTIPOINT ("
                         + ",".join(f"({_fmt(x)} {_fmt(y)})"
                                    for x, y in zip(xs, ys)) + ")")
        return "GEOMETRYCOLLECTION (" + ",".join(geoms) + ")"


def _skip_label_mbr(cr: _CoordReader, compressed: bool) -> None:
    if compressed:
        for _ in range(6):
            cr.i2()
    else:
        for _ in range(6):
            cr.i4()


def _read_sec_hdrs(cr: _CoordReader, compressed: bool, n: int,
                   v450: bool, v800: bool = False) -> list[tuple[int, int]]:
    # Stream layout per TABMAPCoordBlock::ReadCoordSecHdrs
    # (mitab_mapcoordblock.cpp:388-455): numVertices(i4 for V450+, else
    # i2) + numHoles(i2; i4 for V800) + MBR + dataOffset(i4).  There are
    # NO padding bytes in the stream — the 28-byte nSectionSize figure
    # only feeds the logical nDataOffset/nVertexOffset calculation.
    out = []
    for _ in range(n):
        nv = cr.i4() if v450 else cr.i2()
        if v800:
            cr.i4()  # numHoles (i4 at V800)
        else:
            cr.i2()  # numHoles (i2 below V800)
        cr.coord(compressed)  # MBR min
        cr.coord(compressed)  # MBR max
        off = cr.i4()
        out.append((nv, off))
    return out


def _region_wkt(parts: list[np.ndarray]) -> str:
    rings = [_tab_close_ring(p) for p in parts]
    geom = _region_to_geom(rings)
    return geom if isinstance(geom, str) else _geom_to_wkt(geom)


def _geom_to_wkt(geom) -> str:
    """_region_to_geom result (kind, payload) -> WKT."""
    kind, payload = geom
    if kind == "POLYGON":
        return ("POLYGON ("
                + ",".join("(" + _coords_txt(rg) + ")" for rg in payload)
                + ")")
    return ("MULTIPOLYGON ("
            + ",".join(
                "(" + ",".join("(" + _coords_txt(rg) + ")" for rg in poly)
                + ")" for poly in payload) + ")")


def tab_read(files: dict) -> list[dict]:
    return TabFile(files).features()
