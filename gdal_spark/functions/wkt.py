"""WKT <-> WKB codec (OGR exportToWkt / importFromWkt analog).

The reference round-trips geometry text through OGRGeometry::exportToWkt
/ importFromWkt (ogr/ogrgeometry.cpp; number formatting via
OGRFormatDouble, ogr/ogr_p.h). Here WKT is the text wire format for the
CSV driver (GEOMETRY=AS_WKT, ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp) and the
ST_AsText/ST_GeomFromText pair. Coordinates print shortest-round-trip
(integer-valued coords as integers, else Python repr — bit-exact on
re-parse), matching the convention of queries/rat_entries.py's
OGR_GEOM_WKT field.

Supported: POINT, LINESTRING, POLYGON, MULTIPOLYGON, MULTIPOINT,
MULTILINESTRING, GEOMETRYCOLLECTION, 2-D, plus POINT Z / LINESTRING Z
and EMPTY (-> None); to_wkt also prints the POLYGON Z, MULTILINESTRING
Z and MULTIPOLYGON Z that curves.linearize_wkb makes of 3-D curves.
Curved ISO kinds (CIRCULARSTRING,
COMPOUNDCURVE, CURVEPOLYGON, MULTICURVE, MULTISURFACE) parse to the
curved WKB types of functions/curves.py (linearize with
curves.linearize_wkb / SQL ST_CurveToLine).
"""

from __future__ import annotations

import re

import numpy as np

from gdal_spark.functions import wkb as W


def _fmt(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def _ring_txt(ring: np.ndarray) -> str:
    return "(" + ",".join(" ".join(map(_fmt, p)) for p in ring) + ")"


def to_wkt(buf: bytes) -> str:
    """WKB -> WKT string."""
    gtype, payload = W.parse(bytes(buf))
    kind = {W.WKB_POINT: "POINT", W.WKB_LINESTRING: "LINESTRING",
            W.WKB_POLYGON: "POLYGON", W.WKB_MULTILINESTRING: "MULTILINESTRING",
            W.WKB_MULTIPOLYGON: "MULTIPOLYGON"}.get(gtype % 1000)
    if kind is None:
        raise ValueError(f"unsupported geometry type {gtype}")
    if gtype > 1000:
        kind += " Z"
    if kind.startswith("POINT"):
        return f"{kind} ({' '.join(map(_fmt, payload))})"
    if kind.startswith("LINESTRING"):
        return f"{kind} " + _ring_txt(payload)
    if kind.startswith("MULTIPOLYGON"):
        return f"{kind} (" + ",".join(
            "(" + ",".join(_ring_txt(r) for r in rings) + ")" for rings in payload
        ) + ")"
    # POLYGON rings and MULTILINESTRING lines print alike
    return f"{kind} (" + ",".join(_ring_txt(r) for r in payload) + ")"


def _tuples(txt: str) -> list[list[float]]:
    """'(x y[ z], ...)' -> one float list per comma-separated tuple. Every
    token goes through float(), so a malformed vertex raises ValueError
    (and nan / inf parse)."""
    return [[float(v) for v in t.split()]
            for t in txt.strip().strip("()").split(",")]


def _parse_pairs(txt: str) -> np.ndarray:
    pts = _tuples(txt)
    if any(len(p) != 2 for p in pts):
        raise ValueError(f"expected x y tuples: {txt[:40]!r}")
    return np.asarray(pts, dtype=np.float64)


def _parse_triples(txt: str, force: bool = False):
    """(N,3) array when EVERY comma-separated tuple carries 3 numbers
    (the importFromWkt 2.5D detection), else None."""
    pts = _tuples(txt)
    if all(len(p) == 3 for p in pts):
        return np.asarray(pts, dtype=np.float64)
    if force:
        raise ValueError(f"expected x y z tuples: {txt[:40]!r}")
    return None


def _split_groups(body: str) -> list[str]:
    """Split a WKT body on top-level commas: '(a),(b)' -> ['a', 'b']."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(body):
        if c == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                out.append(body[start:i])
    return out


def from_wkt(txt: str) -> bytes | None:
    """WKT string -> WKB bytes (None for EMPTY)."""
    txt = txt.strip()
    m = re.match(r"^([A-Za-z]+)\s*(.*)$", txt, re.S)
    if not m:
        raise ValueError(f"bad WKT: {txt[:40]!r}")
    kind, body = m.group(1).upper(), m.group(2).strip()
    if body.upper().startswith("Z"):  # "POINT Z (...)" ISO form
        kind, body = kind + "Z", body[1:].strip()
    if body.upper() == "EMPTY":
        return None
    if kind == "POINT":
        trip = _parse_triples(body)
        if trip is not None:
            return W.write_point_z(*trip[0])
        pts = _parse_pairs(body)
        return W.write_point(float(pts[0, 0]), float(pts[0, 1]))
    if kind == "POINTZ":
        return W.write_point_z(*_parse_triples(body, force=True)[0])
    if kind == "LINESTRINGZ":
        return W.write_linestring_z(_parse_triples(body, force=True))
    if kind == "LINESTRING":
        trip = _parse_triples(body)
        if trip is not None:
            return W.write_linestring_z(trip)
        return W.write_linestring(_parse_pairs(body))
    if kind == "POLYGON":
        rings = [_parse_pairs(g) for g in _split_groups(body[1:-1])]
        return W.write_polygon(rings)
    if kind == "MULTIPOLYGON":
        polys = [
            [_parse_pairs(g) for g in _split_groups(p)]
            for p in _split_groups(body[1:-1])
        ]
        return W.write_multipolygon(polys)
    if kind == "MULTIPOINT":  # members "(x y)" or bare "x y"
        return W.write_multipoint(
            _parse_pairs(body.replace("(", "").replace(")", "")))
    if kind == "MULTILINESTRING":
        return W.write_multilinestring(
            [_parse_pairs(g) for g in _split_groups(body[1:-1])])
    if kind == "GEOMETRYCOLLECTION":
        members = [from_wkt(g) for g in _split_top(body[1:-1])]
        if None in members:
            raise ValueError("EMPTY GEOMETRYCOLLECTION member")
        return W.write_collection(members)
    if kind in ("CIRCULARSTRING", "CIRCULARSTRINGZ"):
        from gdal_spark.functions import curves as CV

        trip = (_parse_triples(body, force=kind.endswith("Z"))
                if kind.endswith("Z") else _parse_triples(body))
        if trip is not None:
            return CV.write_circularstring(trip)
        return CV.write_circularstring(_parse_pairs(body))
    if kind == "COMPOUNDCURVE":
        from gdal_spark.functions import curves as CV

        return CV.write_compoundcurve(
            [_curve_component(s) for s in _split_top(body[1:-1])])
    if kind == "CURVEPOLYGON":
        from gdal_spark.functions import curves as CV

        return CV.write_curvepolygon(
            [_curve_component(s) for s in _split_top(body[1:-1])])
    if kind == "MULTICURVE":
        from gdal_spark.functions import curves as CV

        return CV.write_multicurve(
            [_curve_component(s) for s in _split_top(body[1:-1])])
    if kind == "MULTISURFACE":
        from gdal_spark.functions import curves as CV

        comps = []
        for s in _split_top(body[1:-1]):
            su = s.strip()
            if su.upper().startswith("CURVEPOLYGON"):
                comps.append(from_wkt(su))
            else:  # bare ((ring),(ring)) -> plain polygon
                comps.append(W.write_polygon(
                    [_parse_pairs(g) for g in _split_groups(su)]))
        return CV.write_multisurface(comps)
    raise ValueError(f"unsupported WKT kind {kind}")


def _split_top(body: str) -> list[str]:
    """Split on depth-0 commas: 'CIRCULARSTRING(a,b),(c,d)' -> 2 items."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(body):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(body[start:i].strip())
            start = i + 1
    tail = body[start:].strip()
    if tail:
        out.append(tail)
    return out


def _curve_component(txt: str) -> bytes:
    """One CompoundCurve segment / CurvePolygon ring: a named curved
    geometry or a bare parenthesized point list (implicit LINESTRING)."""
    t = txt.strip()
    if t and t[0] != "(":
        return from_wkt(t)
    return W.write_linestring(_parse_pairs(t))
