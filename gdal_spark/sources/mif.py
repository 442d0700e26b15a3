"""MapInfo MIF/MID reader — ogr/ogrsf_frmts/mitab (mitab_feature_mif.cpp).

Header: Version / Charset / Delimiter / CoordSys / Columns block with
field name + MapInfo type. Data section objects supported:

  * Point x y                      -> POINT
  * Line x1 y1 x2 y2               -> LINESTRING
  * Pline [n] / Pline MULTIPLE k   -> LINESTRING / MULTILINESTRING
  * Region n (n rings)             -> POLYGON (holes by containment) or
                                      MULTIPOLYGON for disjoint rings
  * Rect x1 y1 x2 y2               -> POLYGON (the golden 5-point ring)
  * MultiPoint n                   -> MULTIPOINT
  * Collection n                   -> GEOMETRYCOLLECTION
  * NONE                           -> no geometry
  * Ellipse x1 y1 x2 y2            -> POLYGON (TABGenerateArc 180-pt
                                      2-degree tessellation + TABCloseRing,
                                      mitab_feature_mif.cpp:1379-1421)
  * Arc bbox [a0 a1]               -> LINESTRING (numPts = |sweep|/2 + 1
                                      with the duplicated final vertex,
                                      :1497-1591; >=721-degree sweep rejected)
  * Roundrect x1 y1 x2 y2 [a]      -> POLYGON (four 45-pt corner arcs,
                                      radius a/2 clamped to the half-MBR,
                                      :1196-1290; zero radius -> plain rect)
  * Text ["str"] bbox [Angle a]    -> POINT at the pre-rotation lower-left
                                      corner (quadrant formula over the
                                      rotated MBR, :1670-1720)
  Styling clauses (Pen/Brush/Symbol/Font/Smooth/Center/
  Spacing/Justify/Angle/Label) are skipped.

MID rows follow the declared Delimiter with doubled-quote escaping
(mitab's "" convention); values are cast per the Columns types.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from gdal_spark.functions import geom as G
from gdal_spark.functions.geomops import _rebuild_wkt


_STYLE = (
    "pen", "brush", "symbol", "font", "smooth", "center", "spacing",
    "justify", "angle", "label",
)


def _parse_mid_line(line: str, delim: str) -> list[str]:
    out, cur, in_q, i = [], [], False, 0
    while i < len(line):
        c = line[i]
        if in_q:
            if c == '"':
                if i + 1 < len(line) and line[i + 1] == '"':
                    cur.append('"')
                    i += 1
                else:
                    in_q = False
            else:
                cur.append(c)
        elif c == '"':
            in_q = True
        elif c == delim:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _region_to_geom(rings: list[np.ndarray]):
    """mitab region: closed rings nested by geom.organize_polygons."""
    polys = G.organize_polygons(
        [_tab_close_ring(r) if len(r) else r for r in rings])
    if len(polys) == 1:
        return "POLYGON", polys[0]
    return "MULTIPOLYGON", polys


class _Lines:
    def __init__(self, text: str):
        self.lines = text.splitlines()
        self.i = 0

    def peek(self):
        while self.i < len(self.lines) and not self.lines[self.i].strip():
            self.i += 1
        return self.lines[self.i].strip() if self.i < len(self.lines) else None

    def next(self):
        ln = self.peek()
        self.i += 1
        return ln


def _read_points(it: _Lines, n: int) -> np.ndarray:
    pts = []
    for _ in range(n):
        vals = it.next().split()
        pts.append((float(vals[0]), float(vals[1])))
    return np.array(pts, float)


def _parse_object(it: _Lines):
    """One Data-section object -> (KIND, payload) or None geometry."""
    ln = it.next()
    tok = ln.split()
    kw = tok[0].upper()
    if kw == "POINT":
        return "POINT", (float(tok[1]), float(tok[2]))
    if kw == "LINE":
        return "LINESTRING", np.array(
            [(float(tok[1]), float(tok[2])), (float(tok[3]), float(tok[4]))]
        )
    if kw == "PLINE":
        if len(tok) > 1 and tok[1].upper() == "MULTIPLE":
            k = int(tok[2])
            parts = []
            for _ in range(k):
                n = int(it.next())
                parts.append(_read_points(it, n))
            return "MULTILINESTRING", parts
        n = int(tok[1]) if len(tok) > 1 else int(it.next())
        return "LINESTRING", _read_points(it, n)
    if kw == "REGION":
        k = int(tok[1])
        rings = []
        for _ in range(k):
            n = int(it.next())
            rings.append(_read_points(it, n))
        return _region_to_geom(rings)
    if kw == "RECT":
        x1, y1, x2, y2 = (float(v) for v in tok[1:5])
        ring = np.array([(x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1)])
        return "POLYGON", [ring]
    if kw == "MULTIPOINT":
        n = int(tok[1])
        return "MULTIPOINT", _read_points(it, n)
    if kw == "COLLECTION":
        k = int(tok[1])
        return "GEOMETRYCOLLECTION", [_parse_object(it) for _ in range(k)]
    if kw == "NONE":
        return None
    if kw == "ELLIPSE":
        x1, y1, x2, y2 = (float(v) for v in tok[1:5])
        cx, cy = (x1 + x2) / 2.0, (y1 + y2) / 2.0
        rx, ry = abs(x2 - x1) / 2.0, abs(y2 - y1) / 2.0
        ring = _tab_close_ring(
            _tab_generate_arc(cx, cy, rx, ry, 0.0, 2.0 * np.pi, 180)
        )
        return "POLYGON", [ring]
    if kw == "ROUNDRECT":
        x1, y1, x2, y2 = (float(v) for v in tok[1:5])
        x1, x2 = min(x1, x2), max(x1, x2)
        y1, y2 = min(y1, y2), max(y1, y2)
        if len(tok) >= 6:
            r = float(tok[5]) / 2.0
        else:
            r = float(it.next().split()[0]) / 2.0
        if r != 0.0:
            # corner radius clamped to the half-MBR (:1259-1262)
            rx = min(r, (x2 - x1) / 2.0)
            ry = min(r, (y2 - y1) / 2.0)
            pi = np.pi
            ring = np.concatenate(
                [
                    _tab_generate_arc(x1 + rx, y1 + ry, rx, ry, pi, 1.5 * pi, 45),
                    _tab_generate_arc(x2 - rx, y1 + ry, rx, ry, 1.5 * pi, 2 * pi, 45),
                    _tab_generate_arc(x2 - rx, y2 - ry, rx, ry, 0.0, 0.5 * pi, 45),
                    _tab_generate_arc(x1 + rx, y2 - ry, rx, ry, 0.5 * pi, pi, 45),
                ]
            )
            ring = _tab_close_ring(ring)
        else:
            ring = np.array([(x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1)])
        return "POLYGON", [ring]
    if kw == "ARC":
        x1, y1, x2, y2 = (float(v) for v in tok[1:5])
        if len(tok) >= 7:
            a0, a1 = float(tok[5]), float(tok[6])
        else:
            a_tok = it.next().split()
            a0, a1 = float(a_tok[0]), float(a_tok[1])
        if abs(a1 - a0) >= 721:
            raise ValueError(f"wrong start and end angles: {a0} {a1}")
        cx, cy = (x1 + x2) / 2.0, (y1 + y2) / 2.0
        rx, ry = abs(x2 - x1) / 2.0, abs(y2 - y1) / 2.0
        sweep = (a1 + 360.0 - a0) if a1 < a0 else (a1 - a0)
        num = max(2, int(abs(sweep) / 2.0) + 1)
        line = _tab_generate_arc(
            cx, cy, rx, ry, a0 * np.pi / 180.0, a1 * np.pi / 180.0, num
        )
        return "LINESTRING", line
    if kw == "TEXT":
        # string either inline ("Text ""str""") or on its own line
        # (:8-33); the 4-coord MBR always follows on the next line (:58-62)
        if len(tok) == 1:
            it.next()  # the quoted string line
        bbox = it.next().split()
        x1, y1, x2, y2 = (float(v) for v in bbox[:4])
        x1, x2 = min(x1, x2), max(x1, x2)
        y1, y2 = min(y1, y2), max(y1, y2)
        height = y2 - y1
        angle = 0.0
        # the Angle clause lives among the trailing style lines
        while True:
            nxt = it.peek()
            if nxt is None:
                break
            first = nxt.split()[0].lower()
            if not any(first.startswith(s) for s in _STYLE):
                break
            if first.startswith("angle"):
                angle = float(nxt.split()[1])
            it.next()
        ds, dc = np.sin(angle * np.pi / 180.0), np.cos(angle * np.pi / 180.0)
        # pre-rotation lower-left corner (mitab_feature_mif.cpp:1682-1706)
        if ds > 0.0 and dc > 0.0:
            pt = (x1 + height * ds, y1)
        elif ds > 0.0 and dc < 0.0:
            pt = (x2, y1 - height * dc)
        elif ds < 0.0 and dc < 0.0:
            pt = (x2 + height * ds, y2)
        else:
            pt = (x1, y2 - height * dc)
        return "POINT", pt
    raise ValueError(f"unsupported MIF object {kw}")


def _tab_generate_arc(
    cx: float, cy: float, rx: float, ry: float,
    a0: float, a1: float, num_points: int,
) -> np.ndarray:
    """TABGenerateArc (mitab_utils.cpp:46-72): counterclockwise sweep in
    num_points steps, plus the reference's duplicated final vertex."""
    if a1 < a0:
        a1 += 2.0 * np.pi
    step = (a1 - a0) / (num_points - 1.0)
    ang = a0 + step * np.arange(num_points)
    xs = cx + rx * np.cos(ang)
    ys = cy + ry * np.sin(ang)
    return np.column_stack([np.append(xs, xs[-1]), np.append(ys, ys[-1])])


def _tab_close_ring(ring: np.ndarray) -> np.ndarray:
    """TABCloseRing (mitab_utils.cpp:78-94): append the first vertex when
    the ring isn't exactly closed."""
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        return np.vstack([ring, ring[0]])
    return ring


def parse_mif(mif_text: str, mid_text: str | None = None) -> list[dict]:
    """-> [{wkt, fields...}] in object order."""
    it = _Lines(mif_text)
    delim = ","
    columns: list[tuple[str, str]] = []
    while True:
        ln = it.peek()
        if ln is None:
            return []
        up = ln.upper()
        if up.startswith("DELIMITER"):
            m = re.search(r'"(.)"', ln)
            if m:
                delim = m.group(1)
            it.next()
        elif up.startswith("COLUMNS"):
            n = int(ln.split()[1])
            it.next()
            for _ in range(n):
                parts = it.next().split()
                columns.append((parts[0], parts[1].rstrip("(").upper()))
        elif up == "DATA":
            it.next()
            break
        else:
            it.next()

    feats = []
    while True:
        ln = it.peek()
        if ln is None:
            break
        first = ln.split()[0].lower()
        if any(first.startswith(s) for s in _STYLE):
            it.next()
            continue
        geom = _parse_object(it)
        if geom is None:
            feats.append({"wkt": None})
        else:
            kind, payload = geom
            if kind == "GEOMETRYCOLLECTION":
                payload = [g for g in payload if g is not None]
            feats.append({"wkt": _rebuild_wkt(kind, payload)})

    if mid_text is not None:
        rows = [r for r in mid_text.splitlines() if r.strip() != ""]
        for feat, row in zip(feats, rows):
            vals = _parse_mid_line(row, delim)
            for (name, typ), v in zip(columns, vals):
                if typ.startswith("INTEGER") or typ.startswith("SMALLINT"):
                    feat[name] = int(v) if v.strip() else None
                elif typ.startswith("FLOAT") or typ.startswith("DECIMAL"):
                    feat[name] = float(v) if v.strip() else None
                else:
                    feat[name] = v
    return feats


def read_mif(spark, files: list[str]):
    """MIF(+MID) files -> (path, fid, wkt, fields) DataFrame."""
    import os

    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("fid", T.LongType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    fdf = spark.createDataFrame([(p,) for p in files], "path: string")

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mif = open(r.path).read()
                mid_path = os.path.splitext(r.path)[0] + ".mid"
                mid = open(mid_path).read() if os.path.exists(mid_path) else None
                for i, f in enumerate(parse_mif(mif, mid)):
                    rows.append(
                        (
                            r.path, i, f["wkt"],
                            {
                                k: str(v)
                                for k, v in f.items()
                                if k != "wkt" and v is not None
                            },
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return fdf.mapInPandas(run, sch)
