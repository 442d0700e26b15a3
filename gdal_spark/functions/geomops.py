"""OGRGeometry method verbs over a full-WKT model — the geometry
surface of ogr/ogrgeometry.cpp / ogrlinestring.cpp / ogrpolygon.cpp the
4-type WKB core doesn't carry (GeometryCollection, MultiPoint,
MultiLineString, Triangle, LinearRing):

  * wkt_area       — OGRGeometry::get_Area: polygon = |outer| - |holes|
    (offset-robust shoelace, first-vertex subtraction — the big-offset
    autotest needs exact 100.0 at 1e11), Triangle as its ring,
    Multi*/GeometryCollection recurse, 0 for points/lines.
  * wkt_length     — get_Length over line-bearing members.
  * wkt_boundary   — OGRGeometry::Boundary: Point/MultiPoint ->
    GEOMETRYCOLLECTION EMPTY, LineString -> MULTIPOINT of endpoints
    (EMPTY when closed), Polygon single ring -> LINESTRING, multi-ring
    / MultiPolygon -> MULTILINESTRING.
  * wkt_value      — OGRLineString::Value: point at arc distance,
    clamped to the endpoints (ogrlinestring.cpp Value()).
  * close_rings    — OGRGeometry::closeRings: append the first vertex
    to any unclosed polygon/triangle ring; idempotent.
  * segmentize_wkt — delegates to the shared segmentize kernel.

Formatting follows OGR's ExportToWkt: "TYPE (" and comma-joined pairs.
"""

from __future__ import annotations

import math
import re

import numpy as np

from gdal_spark.functions.wkt import _split_groups

_NUM = r"[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?"
_PAIR_RE = re.compile(rf"({_NUM})\s+({_NUM})")


def _split_top(body: str) -> list[str]:
    """Split on top-level commas (for GEOMETRYCOLLECTION members)."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(body):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(body[start:i].strip())
            start = i + 1
    out.append(body[start:].strip())
    return out


def parse_wkt_any(txt: str):
    """WKT -> (KIND, payload). Points: (x, y); LINESTRING/LINEARRING:
    (n,2) array; POLYGON/TRIANGLE: [rings]; MULTI*: list of parts;
    GEOMETRYCOLLECTION: list of (kind, payload); EMPTY: None payload."""
    txt = txt.strip()
    m = re.match(r"^([A-Za-z]+)\s*(.*)$", txt, re.S)
    if not m:
        raise ValueError(f"bad WKT: {txt[:40]!r}")
    kind, body = m.group(1).upper(), m.group(2).strip()
    if body.upper() == "EMPTY" or not body:
        return kind, None

    def pairs(s):
        return np.array(
            [(float(a), float(b)) for a, b in _PAIR_RE.findall(s)], float
        )

    inner = body[1:-1]
    if kind == "POINT":
        p = pairs(body)
        return kind, (float(p[0, 0]), float(p[0, 1]))
    if kind in ("LINESTRING", "LINEARRING"):
        return kind, pairs(body)
    if kind == "MULTIPOINT":
        return kind, pairs(body)
    if kind == "MULTILINESTRING":
        return kind, [pairs(g) for g in _split_groups(inner)]
    if kind in ("POLYGON", "TRIANGLE"):
        return kind, [pairs(g) for g in _split_groups(inner)]
    if kind == "MULTIPOLYGON":
        return kind, [
            [pairs(g) for g in _split_groups(p)] for p in _split_groups(inner)
        ]
    if kind == "GEOMETRYCOLLECTION":
        return kind, [parse_wkt_any(p) for p in _split_top(inner)]
    raise ValueError(f"unsupported WKT kind {kind}")


def _ring_area(r: np.ndarray) -> float:
    """Offset-robust shoelace: subtract the first vertex before the
    cross products (OGRLinearRing::get_Area works on differences, so
    1e11 offsets stay exact)."""
    if len(r) < 3:
        return 0.0
    x = r[:, 0] - r[0, 0]
    y = r[:, 1] - r[0, 1]
    if x[-1] != 0.0 or y[-1] != 0.0:  # treat as closed
        x = np.append(x, 0.0)
        y = np.append(y, 0.0)
    return 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))


def wkt_area(txt_or_parsed) -> float:
    kind, payload = (
        parse_wkt_any(txt_or_parsed)
        if isinstance(txt_or_parsed, str)
        else txt_or_parsed
    )
    if payload is None:
        return 0.0
    if kind in ("POLYGON", "TRIANGLE"):
        outer = _ring_area(payload[0]) if payload else 0.0
        return outer - sum(_ring_area(r) for r in payload[1:])
    if kind == "LINEARRING":
        return _ring_area(payload)
    if kind == "MULTIPOLYGON":
        return sum(
            _ring_area(p[0]) - sum(_ring_area(r) for r in p[1:])
            for p in payload
        )
    if kind == "GEOMETRYCOLLECTION":
        return sum(wkt_area(member) for member in payload)
    return 0.0


def wkt_length(txt_or_parsed) -> float:
    kind, payload = (
        parse_wkt_any(txt_or_parsed)
        if isinstance(txt_or_parsed, str)
        else txt_or_parsed
    )
    if payload is None:
        return 0.0
    if kind in ("LINESTRING", "LINEARRING"):
        d = np.diff(payload, axis=0)
        return float(np.hypot(d[:, 0], d[:, 1]).sum())
    if kind == "MULTILINESTRING":
        return sum(wkt_length(("LINESTRING", p)) for p in payload)
    if kind == "GEOMETRYCOLLECTION":
        return sum(wkt_length(m) for m in payload)
    return 0.0


def _fmt(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def _pts_txt(pts) -> str:
    return ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


def wkt_boundary(txt: str) -> str:
    kind, payload = parse_wkt_any(txt)
    if kind in ("POINT", "MULTIPOINT") or payload is None:
        return "GEOMETRYCOLLECTION EMPTY"
    if kind == "LINESTRING":
        a, b = payload[0], payload[-1]
        if a[0] == b[0] and a[1] == b[1]:
            return "MULTIPOINT EMPTY"
        return f"MULTIPOINT (({_fmt(a[0])} {_fmt(a[1])}),({_fmt(b[0])} {_fmt(b[1])}))"
    if kind in ("POLYGON", "TRIANGLE"):
        if len(payload) == 1:
            return "LINESTRING (" + _pts_txt(payload[0]) + ")"
        return (
            "MULTILINESTRING ("
            + ",".join("(" + _pts_txt(r) + ")" for r in payload)
            + ")"
        )
    if kind == "MULTIPOLYGON":
        rings = [r for p in payload for r in p]
        return (
            "MULTILINESTRING ("
            + ",".join("(" + _pts_txt(r) + ")" for r in rings)
            + ")"
        )
    raise ValueError(f"boundary unsupported for {kind}")


def wkt_value(txt: str, distance: float) -> tuple[float, float]:
    """OGRLineString::Value — point at arc distance, endpoint-clamped."""
    kind, pts = parse_wkt_any(txt)
    if kind != "LINESTRING":
        raise ValueError("Value() needs a LINESTRING")
    if distance <= 0:
        return float(pts[0, 0]), float(pts[0, 1])
    acc = 0.0
    for i in range(len(pts) - 1):
        seg = math.hypot(
            pts[i + 1, 0] - pts[i, 0], pts[i + 1, 1] - pts[i, 1]
        )
        if acc + seg >= distance and seg > 0:
            t = (distance - acc) / seg
            return (
                float(pts[i, 0] + t * (pts[i + 1, 0] - pts[i, 0])),
                float(pts[i, 1] + t * (pts[i + 1, 1] - pts[i, 1])),
            )
        acc += seg
    return float(pts[-1, 0]), float(pts[-1, 1])


def _wrap_lon(v: float) -> float:
    """Normalize into [-180, 180] (OGRGeometryFactory point wrapping)."""
    w = math.fmod(v + 180.0, 360.0)
    if w < 0:
        w += 360.0
    return w - 180.0


def _split_line_dateline(pts: np.ndarray) -> list[np.ndarray]:
    """Split a lon/lat polyline at +/-180 crossings (the WRAPDATELINE
    path of OGRGeometryFactory::transformWithOptions): a segment whose
    longitude jump exceeds 180 deg takes the short way across the
    dateline; the crossing point interpolates latitude and each part
    ends/starts at the signed 180 of its own side."""
    parts: list[list] = [[pts[0]]]
    for i in range(len(pts) - 1):
        (x0, y0), (x1, y1) = pts[i], pts[i + 1]
        if abs(x1 - x0) > 180.0:
            # continuous frame: shift x1 to within 180 of x0
            x1c = x1 - 360.0 if x1 > x0 else x1 + 360.0
            edge = 180.0 if x0 > 0 else -180.0
            t = (edge - x0) / (x1c - x0)
            yc = y0 + t * (y1 - y0)
            parts[-1].append(np.array([edge, yc]))
            parts.append([np.array([-edge, yc])])
            if not (x1 == -edge and y1 == yc):
                parts[-1].append(np.array([x1, y1]))
        else:
            parts[-1].append(np.array([x1, y1]))
    return [np.array(p) for p in parts if len(p) >= 2]


def wrapdateline(txt: str) -> str:
    """GeomTransformer WRAPDATELINE=YES
    (ogr/ogrgeometryfactory.cpp transformWithOptions): points wrap into
    [-180, 180]; linestrings split into MULTILINESTRING parts at the
    dateline; polygons unwrap to a continuous frame, box-clip at 180,
    and the far piece shifts back by 360 (MULTIPOLYGON out);
    GeometryCollections recurse with split lines as separate members."""
    kind, payload = parse_wkt_any(txt)
    if payload is None:
        return txt.strip()
    if kind == "POINT":
        x, y = payload
        return f"POINT ({_fmt(_wrap_lon(x))} {_fmt(y)})"
    if kind == "MULTIPOINT":
        pts = ",".join(
            f"({_fmt(_wrap_lon(x))} {_fmt(y)})" for x, y in payload
        )
        return f"MULTIPOINT ({pts})"
    if kind == "LINESTRING":
        parts = _split_line_dateline(payload)
        if len(parts) == 1:
            return "LINESTRING (" + _pts_txt(parts[0]) + ")"
        return (
            "MULTILINESTRING ("
            + ",".join("(" + _pts_txt(p) + ")" for p in parts)
            + ")"
        )
    if kind in ("POLYGON", "MULTIPOLYGON"):
        from gdal_spark.functions import wkb as W
        from gdal_spark.functions.geom import clip_wkb_to_box

        polys = [payload] if kind == "POLYGON" else payload
        out_parts: list[list[np.ndarray]] = []
        for rings in polys:
            crosses = any(
                abs(r[i + 1, 0] - r[i, 0]) > 180.0
                for r in rings
                for i in range(len(r) - 1)
            )
            if not crosses:
                out_parts.append(rings)
                continue
            # unwrap each ring continuously (vertices within 180 of the
            # previous one), then clip at the 180 meridian
            unwrapped = []
            for r in rings:
                rr = r.copy()
                for i in range(1, len(rr)):
                    while rr[i, 0] - rr[i - 1, 0] > 180.0:
                        rr[i, 0] -= 360.0
                    while rr[i, 0] - rr[i - 1, 0] < -180.0:
                        rr[i, 0] += 360.0
                if rr[:, 0].min() < -180.0:
                    rr[:, 0] += 360.0
                unwrapped.append(rr)
            buf = W.write_polygon(unwrapped)
            left = clip_wkb_to_box(buf, -180.0, -90.0, 180.0, 90.0)
            right = clip_wkb_to_box(buf, 180.0, -90.0, 540.0, 90.0)
            if left is not None:
                for poly in W.polygon_rings(left):
                    out_parts.append(poly)
            if right is not None:
                for poly in W.polygon_rings(right):
                    out_parts.append(
                        [r - np.array([360.0, 0.0]) for r in poly]
                    )
        if len(out_parts) == 1 and kind == "POLYGON":
            return (
                "POLYGON ("
                + ",".join("(" + _pts_txt(r) + ")" for r in out_parts[0])
                + ")"
            )
        return (
            "MULTIPOLYGON ("
            + ",".join(
                "(" + ",".join("(" + _pts_txt(r) + ")" for r in p) + ")"
                for p in out_parts
            )
            + ")"
        )
    if kind == "GEOMETRYCOLLECTION":
        members = []
        for mk, mp in payload:
            sub = wrapdateline(_rebuild_wkt(mk, mp))
            skind = sub.split(" ", 1)[0].split("(")[0]
            if skind == "MULTILINESTRING":
                body = sub[sub.index("(") + 1 : sub.rindex(")")]
                for g in _split_groups(body):
                    members.append("LINESTRING (" + g + ")")
            else:
                members.append(sub)
        return "GEOMETRYCOLLECTION (" + ",".join(members) + ")"
    return txt.strip()


def _rebuild_wkt(kind: str, payload) -> str:
    if payload is None:
        return f"{kind} EMPTY"
    if kind == "POINT":
        return f"POINT ({_fmt(payload[0])} {_fmt(payload[1])})"
    if kind in ("LINESTRING", "LINEARRING"):
        return f"{kind} (" + _pts_txt(payload) + ")"
    if kind == "MULTIPOINT":
        return "MULTIPOINT (" + ",".join(
            f"({_fmt(x)} {_fmt(y)})" for x, y in payload
        ) + ")"
    if kind == "MULTILINESTRING":
        return "MULTILINESTRING (" + ",".join(
            "(" + _pts_txt(p) + ")" for p in payload
        ) + ")"
    if kind in ("POLYGON", "TRIANGLE"):
        return f"{kind} (" + ",".join(
            "(" + _pts_txt(r) + ")" for r in payload
        ) + ")"
    if kind == "MULTIPOLYGON":
        return "MULTIPOLYGON (" + ",".join(
            "(" + ",".join("(" + _pts_txt(r) + ")" for r in p) + ")"
            for p in payload
        ) + ")"
    if kind == "GEOMETRYCOLLECTION":
        return "GEOMETRYCOLLECTION (" + ",".join(
            _rebuild_wkt(mk, mp) for mk, mp in payload
        ) + ")"
    raise ValueError(kind)


def close_rings(txt: str) -> str:
    """OGRGeometry::closeRings — idempotent ring closing, OGR WKT out."""
    kind, payload = parse_wkt_any(txt)

    def close(r):
        if len(r) and (r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]):
            return np.vstack([r, r[0]])
        return r

    if kind in ("POLYGON", "TRIANGLE"):
        rings = [close(r) for r in payload]
        return (
            f"{kind} ("
            + ",".join("(" + _pts_txt(r) + ")" for r in rings)
            + ")"
        )
    if kind == "MULTIPOLYGON":
        polys = [[close(r) for r in p] for p in payload]
        return (
            "MULTIPOLYGON ("
            + ",".join(
                "(" + ",".join("(" + _pts_txt(r) + ")" for r in p) + ")"
                for p in polys
            )
            + ")"
        )
    return txt.strip()
