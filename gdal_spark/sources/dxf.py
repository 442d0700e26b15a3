"""DXF entity reader — ogr/ogrsf_frmts/dxf (ogrdxflayer.cpp), the
ENTITIES-section subset over this engine's geometry model:

  * group-code/value pair stream; one `entities` layer (the reference's
    layer model);
  * POINT, LINE (2.5D kept when any z != 0), LWPOLYLINE (90-count,
    70 bit-1 closed, bulge arcs via the tan(theta/4) construction),
    POLYLINE/VERTEX/SEQEND, SOLID (the reference's 1-2-4-3-1 corner
    join, :2681), TEXT/MTEXT as the anchor POINT with the Text field;
  * CIRCLE / ARC / ELLIPSE tessellated with the EXACT
    OGRGeometryFactory::approximateArcAngles math (:4800-4910):
    4-degree default step (OGR_ARC_STEPSIZE), direction switch
    (angles * -1), ceil(span/step)+1 vertices, rotation =
    -atan2(axisY, axisX), ratio * primary = secondary radius;
  * entity fields: Layer (8), SubClasses (100s joined ':'),
    Linetype (6), EntityHandle (5), Text (1), PaperSpace (67);
  * SPLINE via an exact transcription of the intronurbs.cpp rational
    B-spline kernel (knot/basis/rbasis/rbspline2, p1 = nctrl*8 points,
    the 5e-6 final-knot guard, the #1969 negative-knot snap);
  * HATCH boundary paths (polyline loops with bulges; line / circular-arc
    / elliptic-arc / spline edges) assembled through transcriptions of
    OGRBuildPolygonFromEdges (ograssemblepolygon.cpp, tolerance chaining +
    auto-close) and organizePolygons METHOD_NORMAL (area-sorted envelope
    containment nesting);
  * WIPEOUT boundary polygons (#11022 vertex mapping);
  * entities the reference translates but this engine doesn't render
    (DIMENSION/LEADER/MLINE/...) emit a feature with fields and a None
    geometry so FIDs stay aligned; entities the reference IGNORES
    (VIEWPORT/SEQEND/...) are skipped, matching its feature counts
    (documented deviation: no dimension-block rendering).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from gdal_spark.functions import geom as G
from gdal_spark.sources import dxf_style as _ST


def _fmt(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def _wkt(kind: str, pts, closed=False, want_z=False) -> str:
    def p(pt):
        s = f"{_fmt(pt[0])} {_fmt(pt[1])}"
        if want_z:
            s += f" {_fmt(pt[2] if len(pt) > 2 else 0.0)}"
        return s

    if kind == "POINT":
        return f"POINT ({p(pts[0])})"
    if kind == "LINESTRING":
        return "LINESTRING (" + ",".join(p(q) for q in pts) + ")"
    if kind == "POLYGON":
        ring = list(pts)
        if ring[0][:2] != ring[-1][:2]:
            ring.append(ring[0])
        return "POLYGON ((" + ",".join(p(q) for q in ring) + "))"
    raise ValueError(kind)


def approximate_arc_angles(
    cx, cy, z, primary_r, secondary_r, rotation_deg,
    start_deg, end_deg, step_deg=4.0,
):
    """Exact transcription of approximateArcAngles (2D + constant z)."""
    rot = rotation_deg * math.pi / 180.0
    full_circle = abs(end_deg - start_deg) == 360.0
    start, end = -start_deg, -end_deg
    n = max(2, int(math.ceil(abs(end - start) / step_deg) + 1))
    dslice = (end - start) / (n - 1)
    if full_circle:
        n -= 1
    pts = []
    for i in range(n):
        a = (start + i * dslice) * math.pi / 180.0
        ex = math.cos(a) * primary_r
        ey = math.sin(a) * secondary_r
        x = cx + ex * math.cos(rot) + ey * math.sin(rot)
        y = cy - ex * math.sin(rot) + ey * math.cos(rot)
        pts.append((x, y, z))
    if full_circle:
        pts.append(pts[0])
    return pts


def _pairs(text: str):
    lines = text.splitlines()
    for i in range(0, len(lines) - 1, 2):
        try:
            yield int(lines[i].strip()), lines[i + 1].strip()
        except ValueError:
            continue


def _bulge_arc(p1, p2, bulge):
    """Insert the bulge arc between p1 and p2 (bulge = tan(theta/4))."""
    theta = 4.0 * math.atan(bulge)
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    chord = math.hypot(dx, dy)
    if chord == 0 or theta == 0:
        return []
    r = chord / (2.0 * math.sin(abs(theta) / 2.0))
    # center: perpendicular from the chord midpoint
    mx, my = (p1[0] + p2[0]) / 2.0, (p1[1] + p2[1]) / 2.0
    h = math.sqrt(max(r * r - (chord / 2.0) ** 2, 0.0))
    sign = 1.0 if theta > 0 else -1.0
    cx = mx - sign * h * dy / chord
    cy = my + sign * h * dx / chord
    a1 = math.atan2(p1[1] - cy, p1[0] - cx)
    a2 = a1 + theta
    n = max(2, int(math.ceil(abs(math.degrees(theta)) / 4.0) + 1))
    return [
        (
            cx + r * math.cos(a1 + (a2 - a1) * i / (n - 1)),
            cy + r * math.sin(a1 + (a2 - a1) * i / (n - 1)),
        )
        for i in range(1, n - 1)
    ]


def _knot_open(n: int, c: int) -> list[float]:
    """Open uniform knot vector with end multiplicity = order
    (intronurbs.cpp knot(), 1-indexed like the reference)."""
    x = [0.0] * (n + c + 1)
    for i in range(2, n + c + 1):
        x[i] = x[i - 1] + (1.0 if c < i < n + 2 else 0.0)
    return x


def _basis(c: int, t: float, npts: int, x: list[float]) -> list[float]:
    """Cox-de-Boor nonrational basis (intronurbs.cpp basis(), including
    the t==x[nplusc] last-point pickup)."""
    nplusc = npts + c
    N = [0.0] * (nplusc + 1)
    for i in range(1, nplusc):
        N[i] = 1.0 if x[i] <= t < x[i + 1] else 0.0
    for k in range(2, c + 1):
        for i in range(1, nplusc - k + 1):
            d = e = 0.0
            if N[i] != 0.0:
                den = x[i + k - 1] - x[i]
                if den != 0.0:
                    d = (t - x[i]) * N[i] / den
            if N[i + 1] != 0.0:
                den = x[i + k] - x[i + 1]
                if den != 0.0:
                    e = (x[i + k] - t) * N[i + 1] / den
            N[i] = d + e
    if t == x[nplusc]:
        N[npts] = 1.0
    return N


def rbspline2(npts, k, p1, b, h, calc_knots, knots):
    """Rational B-spline curve points — exact transcription of
    intronurbs.cpp rbspline2 (Rogers' NURBS code as adapted by the
    reference): 1-indexed b (x,y,z triplets), h weights, knots; p1
    output points with the 5e-6 final-knot undershoot guard."""
    nplusc = npts + k
    if calc_knots:
        knots[:] = _knot_open(npts, k)
    t = knots[1]
    step = (knots[nplusc] - knots[1]) / (p1 - 1)
    eps = 5e-6 * (knots[nplusc] - knots[1])
    out = []
    for _ in range(p1):
        if knots[nplusc] - t < eps:
            t = knots[nplusc]
        nb = _basis(k, t, npts, knots)
        s = sum(nb[i] * h[i] for i in range(1, npts + 1))
        r = [0.0] * (npts + 1)
        if s != 0.0:
            for i in range(1, npts + 1):
                r[i] = nb[i] * h[i] / s
        pt = [0.0, 0.0, 0.0]
        for j in range(3):
            pt[j] = sum(r[i] * b[(i - 1) * 3 + j + 1] for i in range(1, npts + 1))
        out.append(tuple(pt))
        t += step
    return out


def _spline_points(codes: dict[int, list[str]]):
    """TranslateSPLINE + InsertSplineWithChecks (:2156-2292): group-code
    collection, the -1e-10 knot snap (#1969), count validation, default
    knots/weights, p1 = nctrl * 8 interpolation."""
    xs = [float(v) for v in codes.get(10, [])]
    ys = [float(v) for v in codes.get(20, [])]
    zs = [float(v) for v in codes.get(30, [])]
    has_z = 30 in codes and any(z != 0.0 for z in zs)
    nctrl_read = len(xs)
    if nctrl_read == 0 or len(ys) != nctrl_read:
        return None, False
    if len(zs) != nctrl_read:
        zs = [0.0] * nctrl_read
    degree = int(codes.get(71, ["-1"])[0])
    order = degree + 1
    if order < 2:
        return None, False
    nctrl = int(codes.get(73, [str(nctrl_read)])[0])
    if nctrl == -1:
        nctrl = nctrl_read
    if nctrl < order or nctrl != nctrl_read:
        return None, False
    knots = [0.0 if -1e-10 < float(v) < 0 else float(v)
             for v in codes.get(40, [])]
    calc_knots = len(knots) == 0
    if calc_knots:
        knots = [0.0] * (nctrl + order)
    nknots = int(codes.get(72, [str(len(knots))])[0])
    if nknots == -1:
        nknots = len(knots)
    if nknots != nctrl + order or nknots != len(knots):
        return None, False
    weights = [float(v) for v in codes.get(41, [])]
    if not weights:
        weights = [1.0] * nctrl
    if len(weights) != nctrl:
        return None, False
    b = [0.0] + [c for xyz in zip(xs, ys, zs) for c in xyz]
    h = [0.0] + weights
    kn = [0.0] + knots
    return rbspline2(nctrl, order, nctrl * 8, b, h, calc_knots, kn), has_z


# ---------------------------------------------------------------------------
# HATCH (ogrdxf_hatch.cpp): boundary paths -> edges; the rings are then
# chained and nested by geom.build_rings (OGRBuildPolygonFromEdges) and
# geom.organize_polygons (organizePolygons).


class _Cursor:
    """Sequential ReadValue/UnreadValue over an entity's ordered pairs."""

    def __init__(self, pairs):
        self.pairs = pairs
        self.i = 0

    def read(self):
        if self.i >= len(self.pairs):
            return None, None
        c, v = self.pairs[self.i]
        self.i += 1
        return c, v

    def unread(self):
        self.i -= 1


def _hatch_polyline_path(cur: _Cursor, elev: float, step: float):
    """CollectPolylinePath (:600-736): 93 count, 72 bulge flag, 73 closed,
    10/20/42 vertex state machine, bulge tessellation, close."""
    pts: list[tuple] = []
    bulges: list[float] = []
    have_x = have_y = False
    x = y = 0.0
    bulge = 0.0
    closed = False
    nvert = -1
    have_bulges = False

    def add_pt():
        nonlocal bulge
        pts.append((x, y))
        bulges.append(bulge)
        bulge = 0.0

    while True:
        if nvert > 0 and len(pts) == nvert:
            break
        c, v = cur.read()
        if c is None:
            break
        if c == 93:
            nvert = int(v)
        elif c == 72:
            have_bulges = bool(int(v))
        elif c == 73:
            closed = bool(int(v))
        elif c == 10:
            if have_x and have_y:
                add_pt()
                have_y = False
            x, have_x = float(v), True
        elif c == 20:
            if have_x and have_y:
                add_pt()
                have_x = False
            y, have_y = float(v), True
            if have_x and not have_bulges:
                add_pt()
                have_x = have_y = False
        elif c == 42:
            bulge = float(v)
            if have_x and have_y:
                add_pt()
                have_x = have_y = False
        else:
            cur.unread()
            break
    if have_x and have_y:
        add_pt()
    if not pts:
        return None
    out = []
    n = len(pts)
    ring = pts + ([pts[0]] if closed else [])
    for j in range(len(ring)):
        out.append(ring[j])
        if j < len(ring) - 1 and j < n and bulges[j % n]:
            out.extend(_bulge_arc(ring[j], ring[j + 1], bulges[j % n]))
    _hatch_skip_source_objects(cur)
    if len(out) < 2:
        return None
    return [(px, py, elev) for px, py in out] if elev else out


def _hatch_skip_source_objects(cur: _Cursor):
    c, v = cur.read()
    if c is None:
        return
    if c != 97:
        cur.unread()
    else:
        for _ in range(int(v)):
            cur.read()


def _read_seq(cur: _Cursor, codes: list[int]):
    """Read values for an exact code sequence; None on mismatch."""
    out = []
    for want in codes:
        c, v = cur.read()
        if c != want:
            return None
        out.append(float(v))
    return out


def _ellip_param(ang: float, ratio: float) -> float:
    """Circular angle -> elliptical parameter (ogrdxf_hatch.cpp:426-438)."""
    half = math.floor(ang / 180.0 + 0.5)  # C round(): half away from zero
    if ang < 0 and (ang / 180.0) % 1 == 0.5:
        half = -math.floor(-ang / 180.0 + 0.5)
    corr = 0.0
    if abs(math.fmod(ang, 180.0)) == 90.0:
        corr = 180.0 if (ang < 0 or (ang == 0 and math.copysign(1, ang) < 0)) else -180.0
    return (
        180.0 * half + corr
        + math.atan((1.0 / ratio) * math.tan(ang * math.pi / 180.0)) * 180.0 / math.pi
    )


def _hatch_edges_path(cur: _Cursor, elev: float, step: float):
    """Non-polyline loop: 93 edge count, per-edge 72 type dispatch."""
    c, v = cur.read()
    if c != 93:
        return []
    edges = []
    for _ in range(int(v)):
        c, v = cur.read()
        if c != 72:
            break
        et = int(v)
        if et == 1:  # line
            vals = _read_seq(cur, [10, 20, 11, 21])
            if vals is None:
                break
            x1, y1, x2, y2 = vals
            edges.append([(x1, y1, elev), (x2, y2, elev)])
        elif et == 2:  # circular arc
            vals = _read_seq(cur, [10, 20, 40, 50, 51])
            if vals is None:
                break
            cx, cy, r, s, e = vals
            c2, v2 = cur.read()
            ccw = False
            if c2 == 73:
                ccw = int(v2) != 0
            elif c2 is not None:
                cur.unread()
            if s > e:
                e += 360.0
            if ccw:
                s, e = -s, -e
            if abs(e - s) <= 361.0:
                pts = approximate_arc_angles(cx, cy, elev, r, r, 0.0, s, e, step)
                edges.append(pts if elev else [(p[0], p[1]) for p in pts])
        elif et == 3:  # elliptic arc
            vals = _read_seq(cur, [10, 20, 11, 21, 40, 50, 51])
            if vals is None:
                break
            cx, cy, mx, my, ratio, s, e = vals
            if ratio == 0.0:
                break
            c2, v2 = cur.read()
            ccw = False
            if c2 == 73:
                ccw = int(v2) != 0
            elif c2 is not None:
                cur.unread()
            if s > e:
                e += 360.0
            if ccw:
                s, e = -s, -e
            major = math.hypot(mx, my)
            rot = -math.atan2(my, mx) * 180.0 / math.pi
            s, e = _ellip_param(s, ratio), _ellip_param(e, ratio)
            if abs(e - s) <= 361.0:
                pts = approximate_arc_angles(
                    cx, cy, elev, major, major * ratio, rot, s, e, step
                )
                edges.append(pts if elev else [(p[0], p[1]) for p in pts])
        elif et == 4:  # spline edge
            c2, v2 = cur.read()
            if c2 != 94:
                break
            degree = int(v2)
            if cur.read()[0] != 73 or cur.read()[0] != 74:
                break
            c2, v2 = cur.read()
            if c2 != 95:
                break
            nknots = int(v2)
            c2, v2 = cur.read()
            if c2 != 96:
                break
            nctrl = int(v2)
            knots, xs, ys, ws = [], [], [], []
            c2, v2 = cur.read()
            if c2 != 40:
                break
            while c2 == 40:
                knots.append(v2)
                c2, v2 = cur.read()
            if c2 != 10:
                break
            while c2 == 10:
                xs.append(v2)
                c2, v2 = cur.read()
                if c2 != 20:
                    break
                ys.append(v2)
                c2, v2 = cur.read()
                if c2 == 42:
                    ws.append(v2)
                    c2, v2 = cur.read()
            if c2 != 97:
                break
            # eat to next 72 / 97
            c2, v2 = cur.read()
            while c2 is not None and c2 not in (72, 97):
                c2, v2 = cur.read()
            if c2 is not None:
                cur.unread()
            codes = {10: xs, 20: ys, 71: [str(degree)],
                     40: knots, 72: [str(nknots)], 73: [str(nctrl)]}
            if ws:
                codes[41] = ws
            pts, _ = _spline_points(codes)
            if pts is None:
                return []
            edges.append([(p[0], p[1]) for p in pts])
    _hatch_skip_source_objects(cur)
    return edges


def _poly_wkt(polys, want_z):
    def ring_s(r):
        return "(" + ",".join(
            f"{_fmt(p[0])} {_fmt(p[1])}" + (f" {_fmt(p[2] if len(p) > 2 else 0.0)}" if want_z else "")
            for p in r
        ) + ")"

    if len(polys) == 1:
        return "POLYGON (" + ",".join(ring_s(r) for r in polys[0]) + ")"
    return "MULTIPOLYGON (" + ",".join(
        "(" + ",".join(ring_s(r) for r in rings) + ")" for rings in polys
    ) + ")"


def _parse_hatch(pairs, step=4.0):
    """TranslateHATCH: 30 elevation, 91 path count, per-path dispatch,
    edge->ring assembly with the bbox-derived 1e-7 tolerance."""
    cur = _Cursor(pairs)
    elev = 0.0
    edges = []
    while True:
        c, v = cur.read()
        if c is None:
            break
        if c == 30:
            elev = float(v)
        elif c == 91:
            for _ in range(int(v)):
                c2, v2 = cur.read()
                if c2 != 92:
                    return None
                ptype = int(v2)
                if ptype & 0x02:
                    pl = _hatch_polyline_path(cur, elev, step)
                    if pl:
                        edges.append(pl)
                else:
                    edges.extend(_hatch_edges_path(cur, elev, step))
    if not edges:
        return None
    xs = [p[0] for e in edges for p in e]
    ys = [p[1] for e in edges for p in e]
    tol = max(max(xs) - min(xs), max(ys) - min(ys)) * 1e-7
    rings = G.build_rings(edges, tol)
    want_z = any(len(p) > 2 for e in edges for p in e)
    return _poly_wkt(G.organize_polygons(rings), want_z)


# ---------------------------------------------------------------------------
# OCS: the Arbitrary Axis Algorithm (ogrdxf_ocstransformer.cpp:51-140).


def _ocs_axes(n):
    """Extrusion direction -> (AX, AY, N) orthonormal OCS basis."""
    ln = math.sqrt(n[0] ** 2 + n[1] ** 2 + n[2] ** 2)
    if ln:
        n = (n[0] / ln, n[1] / ln, n[2] / ln)
    w = (0.0, 1.0, 0.0) if (abs(n[0]) < 1 / 64 and abs(n[1]) < 1 / 64) else (0.0, 0.0, 1.0)
    ax = (
        w[1] * n[2] - w[2] * n[1],
        w[2] * n[0] - w[0] * n[2],
        w[0] * n[1] - w[1] * n[0],
    )
    ln = math.sqrt(ax[0] ** 2 + ax[1] ** 2 + ax[2] ** 2)
    if ln:
        ax = (ax[0] / ln, ax[1] / ln, ax[2] / ln)
    ay = (
        n[1] * ax[2] - n[2] * ax[1],
        n[2] * ax[0] - n[0] * ax[2],
        n[0] * ax[1] - n[1] * ax[0],
    )
    ln = math.sqrt(ay[0] ** 2 + ay[1] ** 2 + ay[2] ** 2)
    if ln:
        ay = (ay[0] / ln, ay[1] / ln, ay[2] / ln)
    return ax, ay, n


def _ocs_fwd(axes, x, y, z=0.0):
    ax, ay, n = axes
    return (
        x * ax[0] + y * ay[0] + z * n[0],
        x * ax[1] + y * ay[1] + z * n[1],
        x * ax[2] + y * ay[2] + z * n[2],
    )


def _ocs_inv(axes, x, y, z=0.0):
    ax, ay, n = axes
    return (
        x * ax[0] + y * ax[1] + z * ax[2],
        x * ay[0] + y * ay[1] + z * ay[2],
        x * n[0] + y * n[1] + z * n[2],
    )


def _ocs_wkt(wkt: str, axes) -> str:
    """Apply the OCS forward transform to every coordinate in a WKT
    string, preserving the input's 2D/3D dimensionality."""
    import re as _re

    num = r"-?[\d.]+(?:[eE][-+]?\d+)?"

    def rep(m):
        parts = m.group(0).split()
        z = float(parts[2]) if len(parts) > 2 else 0.0
        x, y, z2 = _ocs_fwd(axes, float(parts[0]), float(parts[1]), z)
        out = f"{_fmt(x)} {_fmt(y)}"
        if len(parts) > 2:
            out += f" {_fmt(z2)}"
        return out

    return _re.sub(f"{num} {num}(?: {num})?", rep, wkt)


def _polygon_rings(wkt: str):
    """POLYGON wkt -> [[(x, y[, z]), ...], ...] ring coordinate lists."""
    import re as _re

    return [
        [tuple(float(c) for c in p.split()) for p in m.group(1).split(",")]
        for m in _re.finditer(r"\(([^()]+)\)", wkt)
    ]


def _merge_wkts(wkts: list[str]) -> str | None:
    """SimplifyBlockGeometry (ogrdxflayer.cpp:2789-2860): same-kind
    geometries promote to the Multi form (polygons are assembled by
    organizePolygons, nesting holes), mixed kinds to a collection, one
    geometry stays itself."""
    if not wkts:
        return None
    if len(wkts) == 1:
        return wkts[0]
    kinds = {w.split("(", 1)[0].strip() for w in wkts}
    bodies = [w[w.index("("):] for w in wkts]
    if kinds == {"LINESTRING"}:
        return "MULTILINESTRING (" + ",".join(bodies) + ")"
    if kinds == {"POLYGON"}:
        # the reference drops polygons equal to the last one (oss-fuzz
        # #8067 guard), then routes through organizePolygons
        kept = [w for w in wkts[:-1] if w != wkts[-1]] + [wkts[-1]]
        rings = [r for w in kept for r in _polygon_rings(w)]
        if any(len(p) > 2 for r in rings for p in r):
            return "MULTIPOLYGON (" + ",".join(
                w[w.index("("):] for w in kept) + ")"
        return _poly_wkt(G.organize_polygons(rings), want_z=False)
    if kinds == {"POINT"}:
        return "MULTIPOINT (" + ",".join(bodies) + ")"
    return "GEOMETRYCOLLECTION (" + ",".join(wkts) + ")"


# AutoCAD defaults (ogr_autocad_services.cpp ACGetDimStylePropertyDefault)
_DIMSTYLE_DEFAULTS = {
    "DIMSCALE": 1.0, "DIMASZ": 0.18, "DIMEXO": 0.0625, "DIMEXE": 0.18,
    "DIMSE1": 0, "DIMSE2": 0, "DIMTAD": 0, "DIMTXT": 0.18, "DIMGAP": 0.09,
    "DIMCLRD": 0, "DIMCLRT": 0, "DIMDEC": 4, "DIMLDRBLK": "",
}
# the 13 codes of ACGetDimStylePropertyName (ogr_autocad_services.cpp:501)
_DIMSTYLE_CODES = {40: "DIMSCALE", 41: "DIMASZ", 42: "DIMEXO", 44: "DIMEXE",
                   75: "DIMSE1", 76: "DIMSE2", 77: "DIMTAD", 140: "DIMTXT",
                   147: "DIMGAP", 176: "DIMCLRD", 178: "DIMCLRT",
                   271: "DIMDEC", 341: "DIMLDRBLK"}


def _text_unescape(s: str, mtext: bool = True) -> str:
    """ACTextUnescape (ogr_autocad_services.cpp:18-209): pass 1 resolves
    %%c/%%d/%%p symbols and ^-control escapes; pass 2 (MTEXT and
    DIMENSION text) resolves \\P newline, \\~ space, \\U+XXXX, strips
    {} grouping and inline \\W/\\T/\\f... formatting codes, and keeps
    \\\\ / \\{ / \\} character escapes."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        low3 = s[i:i + 3].lower()
        if c == "^" and i + 1 < n:
            nxt = s[i + 1]
            out.append("^" if nxt == " " else chr(ord(nxt.upper()) ^ 0x40))
            i += 2
        elif low3 == "%%c":
            out.append("⌀")
            i += 3
        elif low3 == "%%d":
            out.append("°")
            i += 3
        elif low3 == "%%p":
            out.append("±")
            i += 3
        elif not mtext and low3 in ("%%u", "%%o", "%%k"):
            i += 3
        else:
            out.append(c)
            i += 1
    if not mtext:
        return "".join(out)
    s = "".join(out)
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        nxt = s[i + 1] if i + 1 < n else ""
        if c == "\\" and nxt == "P":
            out.append("\n")
            i += 2
        elif c == "\\" and nxt == "~":
            out.append(" ")
            i += 2
        elif c == "\\" and nxt == "U" and s[i + 2:i + 3] == "+" \
                and len(s) - i >= 7:
            try:
                out.append(chr(int(s[i + 3:i + 7], 16)))
            except ValueError:
                pass
            i += 7
        elif c in "{}":
            i += 1
        elif c == "\\" and nxt in "WTAHFfCcQp":
            j = s.find(";", i)
            i = n if j < 0 else j + 1
        elif c == "\\" and nxt in "KkLlOo":
            i += 2
        elif c == "\\" and nxt == "S":
            i += 2
            while i < n and s[i] != ";":
                if s[i] == "\\" and i + 1 < n and s[i + 1] in "^/#~":
                    out.append(s[i + 1])
                    i += 2
                else:
                    if s[i] not in "^/#~":
                        out.append(s[i])
                    i += 1
            if i < n:
                i += 1
        elif c == "\\" and nxt in "\\{}":
            out.append(nxt)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _dimstyle_overrides(seq) -> dict:
    """1001 ACAD / DSTYLE XDATA overrides (ogrdxf_dimension.cpp:138-157):
    each 1070 group carries a DIMSTYLE table group code, the following
    1005/1040/1070 group carries its value."""
    out = {}
    ready = False
    i = 0
    while i < len(seq):
        code, val = seq[i]
        if code == 1001:
            ready = val.strip().upper() == "ACAD"
        elif code == 1070 and ready:
            # the value group is consumed only when the inner code is a
            # known dimstyle property (ACGetDimStylePropertyName != NULL)
            try:
                prop = _DIMSTYLE_CODES.get(int(val))
            except ValueError:
                prop = None
            if prop and i + 1 < len(seq):
                nxt_code, nxt_val = seq[i + 1]
                if nxt_code in (1005, 1040, 1070):
                    out[prop] = nxt_val
                i += 1
        i += 1
    return out


def _arrowhead_wkt(p1, p2, scale):
    """GenerateDefaultArrowhead (ogrdxf_leader.cpp): solid wedge at p1
    pointing along p1->p2, scale = arrowhead size / segment length."""
    parx, pary = scale * (p2[0] - p1[0]), scale * (p2[1] - p1[1])
    perpx, perpy = pary, -parx
    ring = [
        (p1[0] + parx + perpx / 6, p1[1] + pary + perpy / 6),
        (p1[0], p1[1]),
        (p1[0] + parx - perpx / 6, p1[1] + pary - perpy / 6),
    ]
    return _wkt("POLYGON", ring)


def _dimension_features(codes, dimstyle, fields, sp=None, ctx=None):
    """TranslateDIMENSION fallback renderer (ogrdxf_dimension.cpp:190-440):
    arrow2 from the vec1/vec2 line intersection, main + extension lines
    as MULTILINESTRING, conditional default arrowheads, '<>' label with
    the DIMDEC-formatted distance. Returns features in the reference's
    pending-queue order: [mls, arrowhead*, label]."""
    # code 1 is consumed as osText, never TranslateGenericProperty'd
    fields = {k: v for k, v in fields.items() if k != "Text"}
    gf = lambda c, d=0.0: float(codes.get(c, [d])[0] or d)  # noqa: E731
    a1 = (gf(10), gf(20))
    txt_pt = (gf(11), gf(21))
    t2 = (gf(13), gf(23))
    t1 = (gf(14), gf(24))
    v1x, v1y = a1[0] - t1[0], a1[1] - t1[1]
    ln = math.hypot(v1x, v1y)
    if ln > 0:
        v1x, v1y = v1x / ln, v1y / ln
    if v1x == 0.0 and v1y == 0.0:
        a2 = t2
    elif v1x == 0.0:
        a2 = (t2[0], a1[1])
    elif v1y == 0.0:
        a2 = (a1[0], t2[1])
    else:
        m1 = v1y / v1x
        b1 = t2[1] - m1 * t2[0]
        m2 = -v1x / v1y  # vec2 = (v1y, -v1x)
        b2 = a1[1] - m2 * a1[0]
        x = (b2 - b1) / (m1 - m2)
        a2 = (x, m2 * x + b2)

    scale = float(dimstyle.get("DIMSCALE", 1.0))
    asz = float(dimstyle.get("DIMASZ", 0.18)) * scale
    exo = float(dimstyle.get("DIMEXO", 0.0625))
    exe = float(dimstyle.get("DIMEXE", 0.18))
    lines = [[a1, a2]]
    heads = []
    seg = math.hypot(a2[0] - a1[0], a2[1] - a1[1])
    for p1, p2 in ((a1, a2), (a2, a1)):
        if asz > 0.0 and seg > 0.0 and asz <= 0.5 * seg:
            heads.append(_arrowhead_wkt(p1, p2, asz / seg))
    for tgt, arr, want in (
        (t1, a1, int(float(dimstyle.get("DIMSE1", 0))) == 0),
        (t2, a2, int(float(dimstyle.get("DIMSE2", 0))) == 0),
    ):
        ext = [
            (tgt[0] + v1x * exo, tgt[1] + v1y * exo),
            (arr[0] + v1x * exe, arr[1] + v1y * exe),
        ]
        if want and (ext[0] != ext[1]):
            lines.append(ext)
    bodies = [_wkt("LINESTRING", ps)[len("LINESTRING "):] for ps in lines]
    sp = dict(sp or {})
    mls_feat = {
        "wkt": "MULTILINESTRING (" + ",".join(bodies) + ")",
        "Entity": "DIMENSION",
        **fields,
        "_sp": sp,
        "_kind": "pen",
    }
    if ctx is not None:
        mls_feat["Style"] = _ST.pen_style(
            mls_feat, ctx["layers"], ctx["linetypes"], ctx["ltscale"]
        )
    out = [mls_feat]
    for h in heads:
        hf = {"wkt": h, "Entity": "DIMENSION", **fields,
              "_sp": dict(sp), "_kind": "brush"}
        if ctx is not None:
            hf["Style"] = _ST.brush_style(hf, ctx["layers"])
        out.append(hf)
    text = codes.get(1, [""])[0] or ""
    if text == " ":
        return out
    if not text:
        text = "<>"
    if "<>" in text:
        prec = max(0, min(20, int(float(dimstyle.get("DIMDEC", 4)))))
        text = text.replace("<>", f"{seg:.{prec}f}", 1)
    text = _text_unescape(text)
    label = {"wkt": _wkt("POINT", [txt_pt]), "Entity": "DIMENSION",
             **{**fields, "Text": text}, "_kind": "label"}
    if ctx is not None:
        # label styling (ogrdxf_dimension.cpp:360-425): p:11 when DIMTAD
        # is 0 (supposedly centered), atan-folded angle, DIMTXT height,
        # DIMCLRT color
        lsp = dict(sp)
        lsp["Color"] = str(dimstyle.get("DIMCLRT", 0) or 0)
        label["_sp"] = lsp
        scale = float(dimstyle.get("DIMSCALE", 1.0) or 1.0)
        if a1[0] == a2[0]:
            angle = -90.0
        else:
            angle = math.degrees(
                math.atan((a1[1] - a2[1]) / (a1[0] - a2[0]))
            )
        label["Style"] = _ST.label_style(
            font="Arial", bold=False, italic=False, text=text,
            anchor=11 if int(float(dimstyle.get("DIMTAD", 0) or 0)) == 0
            else 5,
            angle=angle,
            height=float(dimstyle.get("DIMTXT", 0.18) or 0) * scale,
            width_pct=None, dx=None, dy=None,
            color=_ST.feature_color(lsp, fields.get("Layer", "0"),
                                    ctx["layers"]),
        )
    out.append(label)
    return out


def _interpolate_spline(pts, end_tangent):
    """InterpolateSpline + GetBSplineControlPoints
    (ogrdxf_leader.cpp:1245-1463): chord-length parameterisation, cubic
    B-spline control points solved from the NP=D system (data points +
    endpoint tangent rows), interpolated via the intronurbs rbspline2
    at nctrl*8 points."""
    import numpy as np

    data = [tuple(pts[0])]
    for p in pts[1:]:
        if tuple(p) != data[-1]:
            data.append(tuple(p))
    n = len(data)
    if n < 2:
        return pts
    d = np.asarray(data, dtype=float)
    params = [0.0]
    for i in range(1, n):
        t = params[-1] + math.dist(data[i - 1], data[i])
        if t == params[-1]:
            return pts
        params.append(t)
    total = params[-1]
    start_tan = (d[1] - d[0]) * (total / params[1])
    et = np.asarray(end_tangent, dtype=float)
    if not et.any():
        et = (d[-1] - d[-2]) / (total - params[-2])
    et = et * total
    params = [p / total for p in params]
    deg = 3
    knots = [0.0] * deg + params + [1.0] * deg
    N = np.zeros((n + 2, n + 2))
    D = np.zeros((n + 2, 3))
    D[0] = d[0]
    for i in range(1, n - 1):
        D[i + 1] = d[i]
    D[n + 1] = d[-1]
    D[1] = start_tan * (knots[deg + 1] / deg)
    D[n] = et * ((1.0 - knots[n + 1]) / deg)
    N[0, 0] = 1.0
    N[1, 0], N[1, 1] = -1.0, 1.0
    kn1 = [0.0] + knots  # 1-based convention of the intronurbs basis
    for row in range(2, n):
        vals = _basis(deg + 1, params[row - 1], n + 2, kn1)
        N[row, :] = vals[1:n + 3]
    N[n, n], N[n, n + 1] = -1.0, 1.0
    N[n + 1, n + 1] = 1.0
    try:
        P = np.linalg.solve(N, D)
    except np.linalg.LinAlgError:
        return pts
    nctrl = n + 2
    b = [0.0] + [c for row_ in P for c in row_]
    h = [0.0] + [1.0] * nctrl
    return rbspline2(nctrl, deg + 1, nctrl * 8, b, h, False, kn1)


# AutoCAD zero-length arrowhead blocks (InsertArrowhead,
# ogrdxf_leader.cpp apszSpecialArrowheads)
_SPECIAL_ARROWHEADS = {"_ArchTick", "_DotSmall", "_Integral", "_None",
                       "_Oblique", "_Small"}


def _insert_arrowhead_feats(p1, p2, size, handle, blocks, block_records,
                            fields, owner=None, ctx=None):
    """InsertArrowhead (ogrdxf_leader.cpp): default wedge or custom
    arrowhead block (DIMLDRBLK handle -> BLOCK_RECORD name) at p1
    pointing p1->p2; returns (features, moved_endpoint_or_None) — the
    line endpoint retreats by the arrowhead size except for the special
    zero-length block names. ``owner`` is the feature the reference
    clones for styling (the arrowhead inherits its style properties:
    default wedge -> PrepareBrushStyle, block content ->
    PrepareFeatureStyle against the clone)."""
    seg = math.hypot(p2[0] - p1[0], p2[1] - p1[1])
    if size == 0.0 or seg == 0.0 or size > 0.5 * seg:
        return [], None
    name = block_records.get(handle, "") if handle else ""
    feats = []
    if name == "":
        hf = {
            "wkt": _arrowhead_wkt((p1[0], p1[1]), (p2[0], p2[1]), size / seg),
            "Entity": fields.get("Entity", "LEADER"),
            **{k: v for k, v in fields.items() if k != "Entity"},
        }
        if ctx is not None and owner is not None:
            hf["_sp"] = dict(owner.get("_sp", {}))
            hf["_kind"] = "brush"
            hf["Style"] = _ST.brush_style(hf, ctx["layers"])
        feats = [hf]
    elif name in blocks:
        ang = math.atan2(p2[1] - p1[1], p2[0] - p1[0]) + math.pi
        cr, sr = math.cos(ang), math.sin(ang)

        def tfm(x, y):
            x, y = x * size, y * size
            return (x * cr - y * sr + p1[0], x * sr + y * cr + p1[1])

        for bf in blocks[name]:
            o = dict(bf)
            if o["wkt"] is not None:
                o["wkt"] = _transform_wkt(o["wkt"], tfm)
            if o.get("Layer", "0") == "0" and fields.get("Layer"):
                o["Layer"] = fields["Layer"]
            if ctx is not None and owner is not None:
                _restyle_inserted(o, owner, ctx)
            if fields.get("EntityHandle"):
                o["EntityHandle"] = fields["EntityHandle"]
            feats.append(o)
    # else: handle names a block we never read (empty block) -> no arrowhead
    moved = None
    if name not in _SPECIAL_ARROWHEADS:
        moved = (p1[0] + size * (p2[0] - p1[0]) / seg,
                 p1[1] + size * (p2[1] - p1[1]) / seg)
    return feats, moved


def _leader_features(codes, dimstyle, fields, blocks, block_records,
                     sp=None, ctx=None):
    """TranslateLEADER (ogrdxf_leader.cpp:46-280): leader polyline with
    optional arrowhead (start point retreats), spline interpolation
    (code 72) with the text-annotation end tangent, and the
    undocumented DIMTAD text-hookline extension. Feature order matches
    the reference: [line, arrowhead feature(s)]. Styling: DIMCLRD
    overrides the pen color when positive (:209-210); arrowheads clone
    the leader feature (:1111)."""
    fields = {k: v for k, v in fields.items() if k != "Text"}
    g = lambda c, d=None: codes.get(c, [d])[0]  # noqa: E731
    xs = [float(v) for v in codes.get(10, [])]
    ys = [float(v) for v in codes.get(20, [])]
    zs = [float(v) for v in codes.get(30, [])]
    if len(zs) < len(xs):
        zs = zs + [0.0] * (len(xs) - len(zs))
    pts = [[x, y, z] for x, y, z in zip(xs, ys, zs)]
    has_z = any(p[2] != 0.0 for p in pts)
    want_arrow = int(g(71, "1") or 1) != 0
    is_spline = int(g(72, "0") or 0) != 0
    has_text = 73 in codes and int(g(73) or 0) == 0
    flip = int(g(74, "1") or 1) != 0
    hdir = [float(g(211, "1") or 1.0), float(g(221, "0") or 0.0),
            float(g(231, "0") or 0.0)]
    text_width = float(g(41, "0") or 0.0)
    scale = float(dimstyle.get("DIMSCALE", 1.0)) or 1.0
    asz = float(dimstyle.get("DIMASZ", 0.18))
    gap = float(dimstyle.get("DIMGAP", 0.09))
    want_ext = int(float(dimstyle.get("DIMTAD", 0) or 0)) > 0
    ldrblk = str(dimstyle.get("DIMLDRBLK", "") or "")
    sp = dict(sp or {})
    leader_color = _ST._atoi(dimstyle.get("DIMCLRD", "0"))
    if leader_color > 0:
        sp["Color"] = str(dimstyle.get("DIMCLRD"))
    owner = {"_sp": sp, "Layer": fields.get("Layer", "0"),
             "Linetype": fields.get("Linetype"),
             "_lt": fields.get("_lt", "")}
    heads = []
    if want_arrow and len(pts) >= 2:
        heads, moved = _insert_arrowhead_feats(
            pts[0], pts[1], asz * scale, ldrblk, blocks, block_records,
            fields, owner, ctx,
        )
        if moved is not None:
            pts[0][0], pts[0][1] = moved
    if flip:
        hdir[0] = -hdir[0]
    if is_spline and len(pts) >= 2:
        end_tan = tuple(hdir) if has_text else (0.0, 0.0, 0.0)
        pts = [list(p) for p in _interpolate_spline(pts, end_tan)]
    if want_ext and has_text and len(pts) >= 2:
        last = pts[-1]
        ext = gap * scale + text_width
        pts = pts + [[last[0] + hdir[0] * ext, last[1] + hdir[1] * ext,
                      last[2] + hdir[2] * ext]]
    wkt = None
    if len(pts) >= 2:
        wkt = _wkt("LINESTRING", [tuple(p) for p in pts], want_z=has_z)
    lf = {"wkt": wkt, "Entity": "LEADER", **fields, "_sp": sp,
          "_kind": "pen"}
    if ctx is not None:
        lf["Style"] = _ST.pen_style(lf, ctx["layers"], ctx["linetypes"],
                                    ctx["ltscale"])
    return [lf] + heads


def _mleader_features(seq, fields, blocks, block_records, merge_blocks,
                      ctx=None):
    """TranslateMLEADER (ogrdxf_leader.cpp:310-1050): nested
    300/301/302/303/304/305 section state machine (CONTEXT_DATA /
    LEADER / LEADER_LINE), leader lines with landing + optional dogleg,
    DIMBREAK gaps splitting the MULTILINESTRING, arrowheads on the
    first segment, spline leader lines, scaled/rotated block content
    with ATTDEF attribute substitution, and the text label point.
    Feature order matches the reference pending queue:
    [mls, arrowhead*, block*, attribute*, label]."""
    fields = {k: v for k, v in fields.items() if k != "Text"}

    def _f(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0.0

    COMMON, CTX, LEADER, LINE = 0, 1, 2, 3
    sec = COMMON
    leaders: list[dict] = []
    leader: dict | None = None
    line: dict | None = None
    cx = cy = cx2 = 0.0
    curv = 0
    scale = 1.0
    has_dogleg = True
    text = ""
    tx = ty = 0.0
    block_handle = ""
    boff = [0.0, 0.0]
    bscale = [1.0, 1.0]
    bangle = 0.0
    attr_handle = ""
    block_attrs: dict[str, str] = {}
    arrow_handle = ""
    arrow_size = 4.0
    ltype = 1  # MLT_STRAIGHT
    leader_color = "0"
    overall_sp: dict = {}
    theight = 4.0
    tangle = 0.0
    talign = 1
    tstyle_handle = ""
    for code, val in seq:
        if sec == COMMON:
            if code == 300:
                sec = CTX
            elif code == 342:
                arrow_handle = val
            elif code == 42:
                arrow_size = _f(val)
            elif code == 330:
                attr_handle = val
            elif code == 302 and attr_handle:
                block_attrs[attr_handle] = _text_unescape(val)
                attr_handle = ""
            elif code == 170:
                ltype = int(val)
            elif code == 291:
                has_dogleg = int(val) != 0
            elif code == 91:
                leader_color = val
            elif code in _STYLE_PROP_CODES:
                # default: TranslateGenericProperty (:439-441)
                overall_sp[_STYLE_PROP_CODES[code]] = val
            elif code == 60 and int(val or 0):
                overall_sp["Hidden"] = "1"
        elif sec == CTX:
            if code == 301:
                sec = COMMON
            elif code == 302:
                sec = LEADER
                leader = {"lx": 0.0, "ly": 0.0, "dx": 0.0, "dy": 0.0,
                          "dlen": 0.0, "breaks": [], "lines": []}
            elif code == 304:
                text = _text_unescape(val)
            elif code == 40:
                scale = _f(val)
            elif code == 12:
                tx = _f(val)
            elif code == 22:
                ty = _f(val)
            elif code == 41:
                theight = _f(val)
            elif code == 42:
                tangle = math.degrees(_f(val))
            elif code == 171:
                talign = int(val)
            elif code == 340:
                tstyle_handle = val
            elif code == 341:
                block_handle = val
            elif code == 15:
                boff[0] = _f(val)
            elif code == 25:
                boff[1] = _f(val)
            elif code == 16:
                bscale[0] = _f(val)
            elif code == 26:
                bscale[1] = _f(val)
            elif code == 46:
                bangle = _f(val)  # radians
        elif sec == LEADER:
            if code == 303:
                sec = CTX
                leaders.append(leader)
                leader = None
            elif code == 304:
                sec = LINE
                line = {"verts": [], "breaks": {}}
            elif code == 10:
                leader["lx"] = _f(val)
            elif code == 20:
                leader["ly"] = _f(val)
            elif code == 11:
                leader["dx"] = _f(val)
            elif code == 21:
                leader["dy"] = _f(val)
            elif code == 12:
                cx = _f(val)
            elif code == 22:
                cy = _f(val)
            elif code == 13:
                cx2 = _f(val)
            elif code == 23:
                leader["breaks"].append(((cx, cy), (cx2, _f(val))))
            elif code == 40:
                leader["dlen"] = _f(val)
        else:  # LEADER_LINE
            if code == 305:
                sec = LEADER
                leader["lines"].append(line)
                line = None
            elif code == 10:
                cx = _f(val)
            elif code == 20:
                line["verts"].append((cx, _f(val)))
            elif code == 90:
                curv = int(val)
                if curv >= len(line["verts"]):
                    return [{"wkt": None, "Entity": "MULTILEADER", **fields}]
            elif code == 11:
                cx = _f(val)
            elif code == 21:
                cy = _f(val)
            elif code == 12:
                cx2 = _f(val)
            elif code == 22:
                line["breaks"].setdefault(curv, []).append(
                    ((cx, cy), (cx2, _f(val)))
                )

    block_name = block_records.get(block_handle, "") if block_handle else ""
    # Styling owners (:659-669): the leader feature carries the raw
    # 32-bit leader color; arrowheads are owned by the overall feature
    # when the leader color is ByLayer/ByBlock.
    overall_feat = {"_sp": overall_sp, "Layer": fields.get("Layer", "0"),
                    "Linetype": fields.get("Linetype"),
             "_lt": fields.get("_lt", "")}
    leader_sp = dict(overall_sp)
    leader_sp["Color"] = leader_color
    arrow_owner = {"_sp": leader_sp, "Layer": fields.get("Layer", "0"),
                   "Linetype": fields.get("Linetype"),
             "_lt": fields.get("_lt", "")}
    if (_ST._atoi(leader_color) & 0xC2000000) == 0xC0000000:
        arrow_owner = overall_feat
    parts: list[list] = []
    heads: list[dict] = []
    if ltype != 0:  # MLT_NONE draws nothing
        for L in leaders:
            leader_has_dogleg = (
                has_dogleg and ltype != 2 and L["dlen"] != 0.0
                and (L["dx"] != 0.0 or L["dy"] != 0.0)
            )
            dgx = L["lx"] + L["dx"] * L["dlen"]
            dgy = L["ly"] + L["dy"] * L["dlen"]
            lx, ly = L["lx"], L["ly"]
            if not has_dogleg or ltype == 2:
                lx, ly = dgx, dgy
            for ln in L["lines"]:
                verts = ln["verts"]
                if not verts:
                    continue
                p1 = list(verts[0])
                p2 = verts[1] if len(verts) > 1 else (lx, ly)
                hfeats, moved = _insert_arrowhead_feats(
                    p1, p2, arrow_size * scale, arrow_handle, blocks,
                    block_records, fields, arrow_owner, ctx,
                )
                heads.extend(hfeats)
                if moved is not None:
                    p1 = list(moved)
                cur = [tuple(p1)]
                for i, v in enumerate(verts):
                    if i > 0:
                        cur.append(v)
                    if ltype != 2:  # breaks ignored for spline leaders
                        for b1, b2 in ln["breaks"].get(i, []):
                            cur.append(b1)
                            parts.append(cur)
                            cur = [b2]
                cur.append((lx, ly))
                if ltype == 2:  # MLT_SPLINE
                    end_tan = (0.0, 0.0, 0.0) if block_name else \
                        (L["dx"], L["dy"], 0.0)
                    cur3 = [(p[0], p[1], 0.0) for p in cur]
                    cur = [(p[0], p[1])
                           for p in _interpolate_spline(cur3, end_tan)]
                parts.append(cur)
            if leader_has_dogleg:
                cur = [(lx, ly)]
                for b1, b2 in L["breaks"]:
                    cur.append(b1)
                    parts.append(cur)
                    cur = [b2]
                cur.append((dgx, dgy))
                parts.append(cur)
    if parts:
        mls = "MULTILINESTRING (" + ",".join(
            "(" + ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in p) + ")"
            for p in parts
        ) + ")"
    else:
        mls = "MULTILINESTRING EMPTY"
    mlf = {"wkt": mls, "Entity": "MULTILEADER", **fields,
           "_sp": leader_sp, "_kind": "pen"}
    if ctx is not None:
        # PrepareLineStyle(poLeaderFeature, poOverallFeature) (:792)
        mlf["Style"] = _ST.pen_style(mlf, ctx["layers"], ctx["linetypes"],
                                     ctx["ltscale"], overall_feat)
    out = [mlf] + heads

    if block_name and block_name in blocks:
        bsx, bsy = bscale[0] * scale, bscale[1] * scale
        cr, sr = math.cos(bangle), math.sin(bangle)

        def btfm(x, y):
            x, y = x * bsx, y * bsy
            return (x * cr - y * sr + boff[0], x * sr + y * cr + boff[1])

        merged: list[str] = []
        extras: list[dict] = []
        attr_feats: list[dict] = []
        for bf in blocks[block_name]:
            o = dict(bf)
            if o.get("Entity") == "ATTDEF":
                txt = block_attrs.get(o.get("EntityHandle") or "")
                if txt is not None:
                    o["Text"] = txt
                    # replace the t:"..." value in the LABEL style
                    # before the color surgery (:900-926)
                    if (o.get("Style") or "").startswith("LABEL("):
                        o["Style"] = _ST.replace_label_text(o["Style"], txt)
                    if o["wkt"] is not None:
                        o["wkt"] = _transform_wkt(o["wkt"], btfm)
                    if o.get("Layer", "0") == "0" and fields.get("Layer"):
                        o["Layer"] = fields["Layer"]
                    if ctx is not None:
                        _restyle_inserted(o, overall_feat, ctx)
                        if o.get("Style"):
                            o["Style"] = _ST.adjust_text(
                                o["Style"], math.degrees(bangle), bsx, bsy
                            )
                    if fields.get("EntityHandle"):
                        o["EntityHandle"] = fields["EntityHandle"]
                    attr_feats.append(o)
                continue
            if o["wkt"] is not None:
                o["wkt"] = _transform_wkt(o["wkt"], btfm)
            is_label = o.get("Entity") in ("TEXT", "MTEXT")
            if merge_blocks and o["wkt"] is not None and not is_label:
                merged.append(o["wkt"])
                continue
            if o.get("Layer", "0") == "0" and fields.get("Layer"):
                o["Layer"] = fields["Layer"]
            if ctx is not None:
                _restyle_inserted(o, overall_feat, ctx)
            if fields.get("EntityHandle"):
                o["EntityHandle"] = fields["EntityHandle"]
            extras.append(o)
        if merged:
            bmf = {"wkt": _merge_wkts(merged), "Entity": "MULTILEADER",
                   **fields, "_sp": dict(overall_sp), "_kind": "pen"}
            if ctx is not None:
                bmf["Style"] = _ST.pen_style(
                    bmf, ctx["layers"], ctx["linetypes"], ctx["ltscale"]
                )
            out.append(bmf)
        out.extend(extras)
        out.extend(attr_feats)

    if text and text != " ":
        lsp = dict(overall_sp)
        lab = {"wkt": f"POINT ({_fmt(tx)} {_fmt(ty)})",
               "Entity": "MULTILEADER", **{**fields, "Text": text},
               "_sp": lsp, "_kind": "label"}
        if ctx is not None:
            # label style (:979-1054): p = alignment + 6 (vertical top),
            # %.3g angle/height, textstyle width factor, clone color
            sname = ctx["textstyle_handles"].get(tstyle_handle, "")
            ts = ctx["textstyles"].get(sname, {})
            wf = float(ts.get("Width", 1) or 1)
            lab["Style"] = _ST.label_style(
                font=ts.get("Font", "Arial"),
                bold=ts.get("Bold") == "1", italic=ts.get("Italic") == "1",
                text=text, anchor=talign + 6, angle=tangle, height=theight,
                width_pct=wf * 100.0 if wf != 1.0 else None,
                dx=None, dy=None,
                color=_ST.feature_color(lsp, fields.get("Layer", "0"),
                                        ctx["layers"]),
            )
        out.append(lab)
    return out


def _mline_wkt(seq):
    """TranslateMLINE (ogrdxflayer.cpp:1542-1741): header codes up to
    the first 11, then a strict 11/21/31 12/22/32 13/23/33 then
    per-element 74 + 41-parameters (first = miter offset, odd = pen-up,
    even = pen-down) + 75/42 area-fill reads; closed MLINEs join back
    to each element's initial vertex. Extrusions are ignored."""
    closed = False
    nverts = 0
    nelems = 0
    i = 0
    while i < len(seq) and seq[i][0] != 11:
        code, val = seq[i]
        if code == 71:
            closed = (int(val) & 2) == 2
        elif code == 72:
            nverts = int(val)
        elif code == 73:
            nelems = int(val)
            if nelems <= 0 or nelems > 1000:
                return None
        i += 1

    def expect(code):
        nonlocal i
        if i >= len(seq) or seq[i][0] != code:
            raise ValueError(code)
        v = float(seq[i][1])
        i += 1
        return v

    parts: list[list] = []
    cur: list = [None] * nelems
    init: list = [None] * nelems
    try:
        for iv in range(nverts):
            vx, vy, vz = expect(11), expect(21), expect(31)
            sx, sy, sz = expect(12), expect(22), expect(32)
            mx, my, mz = expect(13), expect(23), expect(33)
            for ie in range(nelems):
                ssx = ssy = ssz = 0.0
                nparams = int(expect(74))
                if nparams > 0:
                    dist = expect(41)
                    ssx = vx + mx * dist
                    ssy = vy + my * dist
                    ssz = vz + mz * dist
                    if closed and iv == 0:
                        init[ie] = (ssx, ssy, ssz)
                    if cur[ie] is not None:
                        cur[ie].append((ssx, ssy, ssz))
                        parts.append(cur[ie])
                        cur[ie] = None
                for ip in range(1, nparams):
                    dist = expect(41)
                    p = (ssx + sx * dist, ssy + sy * dist, ssz + sz * dist)
                    if ip % 2 == 0:
                        cur[ie].append(p)
                        parts.append(cur[ie])
                        cur[ie] = None
                    else:
                        cur[ie] = [p]
                for _ in range(int(expect(75))):
                    expect(42)
    except (ValueError, IndexError):
        return None
    if closed:
        for ie in range(nelems):
            if cur[ie] is not None and init[ie] is not None:
                cur[ie].append(init[ie])
                parts.append(cur[ie])
    if not parts:
        return None
    want_z = any(p[2] != 0.0 for part in parts for p in part)
    return "MULTILINESTRING (" + ",".join(
        _wkt("LINESTRING", part, want_z=want_z)[len("LINESTRING "):]
        for part in parts
    ) + ")"


# style-property group codes captured for every entity
# (TranslateGenericProperty, ogrdxflayer.cpp)
_STYLE_PROP_CODES = {62: "Color", 420: "TrueColor", 440: "Transparency",
                     48: "LinetypeScale", 370: "LineWeight",
                     39: "LineWeight"}


def _style_props(codes) -> dict:
    sp = {}
    for code, name in _STYLE_PROP_CODES.items():
        if code in codes:
            sp[name] = codes[code][0]
    if 60 in codes and int(codes[60][0] or 0):
        sp["Hidden"] = "1"
    return sp


def _hatch_style_props(seq, sp, fields):
    """TranslateHATCH style-property codes (ogrdxf_hatch.cpp:52-101):
    fill flag (70), pattern name (2, stored in the Text field), pattern
    rotation (52) / scale (41), and the HATCHBACKGROUNDCOLOR extended
    datum (1001/1071)."""
    xdata = ""
    for code, val in seq:
        if code == 70:
            sp["FillFlag"] = "Filled" if int(val or 0) else "Pattern"
        elif code == 2:
            fields["Text"] = val
        elif code == 52:
            sp["HatchPatternRotation"] = val
        elif code == 41:
            sp["HatchPatternScale"] = val
        elif code == 1001:
            xdata = val
        elif code == 1071 and xdata == "HATCHBACKGROUNDCOLOR":
            sp["HatchBackgroundColor"] = val


def _text_label_style(codes, sp, layer, ctx, attrib=False):
    """TranslateTEXT style assembly (ogrdxflayer.cpp:920-1050): anchor
    from 72/73(74) alignment, a:/s: from 50/40, w: from the 41 width
    factor, dx:/dy: from the 11/21 alignment point."""
    g = lambda c, d=None: codes.get(c, [d])[0]  # noqa: E731
    gf = lambda c, d=0.0: float(g(c, d) or d)  # noqa: E731
    text = _text_unescape("".join(codes.get(1, [])), mtext=False)
    if attrib and int(g(70, "0") or 0) & 1:
        sp["Hidden"] = "1"
    ha = int(g(72, "0") or 0)
    va = int(g(74 if attrib else 73, "0") or 0)
    anchor = 1
    if ha > 0 or va > 0:
        anchor = {1: 10, 2: 4, 3: 7}.get(va, 5 if ha == 4 else 1)
        if ha < 3:
            anchor += ha
    x, y = gf(10), gf(20)
    ax, ay = gf(11), gf(21)
    has_align = 21 in codes
    sname = (g(7) or "STANDARD").upper()
    ts = ctx["textstyles"].get(sname, {})
    widthf = gf(41, 1.0)
    return text, _ST.label_style(
        font=ts.get("Font", "Arial"),
        bold=ts.get("Bold") == "1", italic=ts.get("Italic") == "1",
        text=text, anchor=anchor, angle=gf(50),
        height=gf(40),
        width_pct=widthf * 100.0 if widthf != 1.0 else None,
        dx=(ax - x) if has_align and ax != x else None,
        dy=(ay - y) if has_align and ay != y else None,
        color=_ST.feature_color(sp, layer, ctx["layers"]),
    )


def _mtext_label_style(codes, sp, layer, ctx):
    """TranslateMTEXT style assembly (ogrdxflayer.cpp:560-745): text
    from 3-chunks + 1, attachment map, direction-vector angle, style
    width; p: after s:/w: like the reference emitter."""
    g = lambda c, d=None: codes.get(c, [d])[0]  # noqa: E731
    gf = lambda c, d=0.0: float(g(c, d) or d)  # noqa: E731
    text = "".join(
        _text_unescape(v, mtext=True) for v in codes.get(3, [])
    ) + "".join(_text_unescape(v, mtext=True) for v in codes.get(1, []))
    if text.endswith("\n"):
        text = text[:-1]
    angle = gf(50)
    if 21 in codes:
        angle = math.degrees(math.atan2(gf(21), gf(11)))
    ap = int(g(71, "-1") or -1)
    anchor_map = [-1, 7, 8, 9, 4, 5, 6, 1, 2, 3]
    anchor = anchor_map[ap] if 0 <= ap <= 9 else None
    sname = (g(7) or "STANDARD").upper()
    ts = ctx["textstyles"].get(sname, {})
    wf = float(ts.get("Width", 1) or 1)
    return text, _ST.label_style(
        font=ts.get("Font", "Arial"),
        bold=ts.get("Bold") == "1", italic=ts.get("Italic") == "1",
        text=text, anchor=anchor, angle=angle, height=gf(40),
        width_pct=wf * 100.0 if wf != 1.0 else None,
        dx=None, dy=None,
        color=_ST.feature_color(sp, layer, ctx["layers"]),
        anchor_first=False,
    )


def _restyle_inserted(out, ins_feat, ctx):
    """PrepareFeatureStyle(sub, insert) during block insertion: LABEL
    styles get color surgery, brushes/pens are fully regenerated with
    the block context."""
    out["_sp"] = dict(out.get("_sp", {}))
    kind = out.get("_kind", "pen")
    if kind == "label":
        if out.get("Style"):
            out["Style"] = _ST.replace_label_color(
                out["Style"],
                _ST.feature_color(out["_sp"], out.get("Layer", "0"),
                                  ctx["layers"], ins_feat.get("_sp", {}),
                                  ins_feat.get("Layer", "0")),
            )
    elif kind == "brush":
        out["Style"] = _ST.brush_style(out, ctx["layers"], ins_feat)
    else:
        out["Style"] = _ST.pen_style(out, ctx["layers"], ctx["linetypes"],
                                     ctx["ltscale"], ins_feat)


_TABLE_ENTRY_KINDS = {"DIMSTYLE", "BLOCK_RECORD", "LAYER", "LTYPE", "STYLE"}


def _commit_table_entry(entry, dimstyles, block_records, layers, linetypes,
                        textstyles, textstyle_handles):
    """Parse one collected TABLES entry into the matching lookup table
    (ogrdxfdatasource.cpp ReadDimStyleDefinition / ReadLayerDefinition /
    ReadLineTypeDefinition / ReadTextStyleDefinition)."""
    if entry is None:
        return
    kind, pairs = entry
    if kind == "DIMSTYLE":
        props: dict = {}
        for code, val in pairs:
            if code == 2:
                dimstyles[val.upper()] = props
            elif code in _DIMSTYLE_CODES:
                props[_DIMSTYLE_CODES[code]] = val
    elif kind == "BLOCK_RECORD":
        handle = name = None
        for code, val in pairs:
            if code == 5:
                handle = val
            elif code == 2:
                name = val
        if handle and name:
            block_records[handle] = name
    elif kind == "LAYER":
        lprops = {"Hidden": "0"}
        lname = ""
        for code, val in pairs:
            if code == 2:
                lname = val
            elif code == 6:
                lprops["Linetype"] = val
            elif code == 62:
                lprops["Color"] = val
                if int(val) < 0 and lprops["Hidden"] != "2":
                    lprops["Hidden"] = "1"
            elif code == 420:
                lprops["TrueColor"] = val
            elif code == 440:
                lprops["Transparency"] = val
            elif code == 70:
                lprops["Flags"] = val
                if int(val) & 0x01:
                    lprops["Hidden"] = "2"
            elif code in (370, 39):
                lprops["LineWeight"] = val
        layers[lname] = lprops
    elif kind == "LTYPE":
        ltname = ""
        dashes: list[float] = []
        for code, val in pairs:
            if code == 2:
                ltname = val
            elif code == 49:
                v = float(val)
                if dashes and (v < 0) == (dashes[-1] < 0):
                    dashes[-1] += v
                else:
                    dashes.append(v)
        if len(dashes) % 2 == 1:
            dashes[0] += dashes.pop()
        if dashes:
            if dashes[0] < 0:
                dashes = dashes[1:] + dashes[:1]
            linetypes[ltname] = dashes
    elif kind == "STYLE":
        handle = ""
        sname = ""
        in_acad = False
        ok = True
        for code, val in pairs:
            if code == 5:
                handle = val
            elif code == 2:
                sname = val.upper()
            elif code == 70 and int(val) & 1:
                ok = False  # shape file record, not a text style
                break
            elif code == 41:
                textstyles.setdefault(sname, {})["Width"] = val
            elif code == 1001:
                in_acad = val.strip().upper() == "ACAD"
            elif code == 1000 and in_acad:
                textstyles.setdefault(sname, {})["Font"] = val
            elif code == 1071 and in_acad:
                flags = int(val)
                textstyles.setdefault(sname, {})["Bold"] = \
                    "1" if flags & 0x2000000 else "0"
                textstyles.setdefault(sname, {})["Italic"] = \
                    "1" if flags & 0x1000000 else "0"
        if ok and handle:
            textstyle_handles[handle] = sname


_OCS_ENTITIES = {"TEXT", "MTEXT", "SOLID", "TRACE", "3DFACE", "LWPOLYLINE",
                 "POLYLINE", "CIRCLE", "ARC", "HATCH"}

# the reference's translated entity set (GetNextUnfilteredFeature
# dispatch, ogrdxflayer.cpp:3680-3795); anything else is skipped with
# no feature emitted, exactly like the reference's "Ignoring entity"
_EMITTED_ENTITIES = {
    "POINT", "MTEXT", "TEXT", "ATTDEF", "LINE", "POLYLINE", "LWPOLYLINE",
    "MLINE", "CIRCLE", "ELLIPSE", "ARC", "SPLINE", "HELIX", "3DFACE",
    "INSERT", "DIMENSION", "HATCH", "SOLID", "TRACE", "LEADER", "MLEADER",
    "MULTILEADER", "WIPEOUT",
}

_FIELD_CODES = {8: "Layer", 6: "Linetype", 5: "EntityHandle", 1: "Text",
                67: "PaperSpace"}


def parse_dxf(
    text: str, arc_step: float = 4.0, merge_blocks: bool = True
) -> list[dict]:
    """-> [{wkt, Layer, SubClasses, ...}] from the ENTITIES section.
    arc_step is the OGR_ARC_STEPSIZE tessellation step in degrees;
    merge_blocks mirrors DXF_MERGE_BLOCK_GEOMETRIES (default TRUE).
    Blocks may reference blocks defined later in the BLOCKS section
    (the reference defers inlining to read time); eager inlining
    handles that with a fixpoint re-pass seeded by the previous pass's
    complete block table."""
    stream = list(_pairs(text))
    seed: dict[str, list[dict]] = {}
    feats: list[dict] = []
    for _ in range(5):
        feats, blocks, missed = _parse_dxf_pass(
            stream, arc_step, merge_blocks, seed
        )
        if not missed:
            break
        seed = blocks
    return feats


def _parse_dxf_pass(
    stream: list, arc_step: float, merge_blocks: bool,
    seed_blocks: dict,
) -> tuple[list[dict], dict, bool]:
    feats: list[dict] = []
    unresolved = [False]
    i = 0
    cur: dict | None = None
    codes: dict[int, list[str]] = {}

    def flush():
        nonlocal cur, codes
        if cur is None:
            return
        ent = cur["_entity"]
        g = lambda c, d=None: codes.get(c, [d])[0]  # noqa: E731
        gf = lambda c, d=0.0: float(g(c, d) or d)  # noqa: E731
        fields = {
            name: g(code)
            for code, name in _FIELD_CODES.items()
            if code in codes
        }
        if 100 in codes:
            fields["SubClasses"] = ":".join(codes[100])
        wkt = None
        try:
            if ent == "POINT":
                wkt = _wkt("POINT", [(gf(10), gf(20), gf(30))],
                           want_z=gf(30) != 0.0)
            elif ent == "LINE":
                want_z = gf(30) != 0.0 or gf(31) != 0.0
                wkt = _wkt(
                    "LINESTRING",
                    [(gf(10), gf(20), gf(30)), (gf(11), gf(21), gf(31))],
                    want_z=want_z,
                )
            elif ent in ("TEXT", "MTEXT", "ATTDEF"):
                wkt = _wkt("POINT", [(gf(10), gf(20), gf(30))],
                           want_z=gf(30) != 0.0)
            elif ent in ("SOLID", "TRACE", "3DFACE"):
                want_z = any(gf(c) != 0.0 for c in (30, 31, 32, 33))
                c = [
                    (gf(10), gf(20), gf(30)), (gf(11), gf(21), gf(31)),
                    (gf(12), gf(22), gf(32)), (gf(13), gf(23), gf(33)),
                ]
                uniq = sorted(set(c))
                if ent == "3DFACE":
                    # :2500-2506 — 1-2-3[-4 if distinct from 3], closed
                    ring = c[:3] + ([c[3]] if c[3] != c[2] else [])
                    wkt = _wkt("POLYGON", ring, want_z=want_z)
                elif len(uniq) == 1:
                    wkt = _wkt("POINT", [uniq[0]], want_z=want_z)
                elif len(uniq) == 2:
                    wkt = _wkt("LINESTRING", uniq, want_z=want_z)
                else:
                    # SOLID joins corners 1-2-4-3-1 (#7089), skipping
                    # consecutive duplicates (:2680-2692)
                    ring = [c[0]]
                    for q in (c[1], c[3], c[2]):
                        if q != ring[-1]:
                            ring.append(q)
                    wkt = _wkt("POLYGON", ring, want_z=want_z)
            elif ent == "LWPOLYLINE":
                xs, ys = codes.get(10, []), codes.get(20, [])
                bulges = codes.get(42, [])
                closed = int(g(70, "0") or 0) & 1
                pts = [(float(x), float(y)) for x, y in zip(xs, ys)]
                out = []
                for j, pt in enumerate(pts):
                    out.append(pt)
                    nxt = pts[(j + 1) % len(pts)]
                    last = j == len(pts) - 1 and not closed
                    if j < len(bulges) and not last:
                        b = float(bulges[j])
                        if b:
                            out.extend(_bulge_arc(pt, nxt, b))
                if closed:
                    out.append(pts[0])
                wkt = _wkt("LINESTRING", out)
            elif ent == "CIRCLE":
                pts = approximate_arc_angles(
                    gf(10), gf(20), gf(30), gf(40), gf(40), 0.0, 0.0, 360.0,
                    arc_step,
                )
                wkt = _wkt("LINESTRING", pts, want_z=gf(30) != 0.0)
            elif ent == "ARC":
                s, e = -gf(51), -gf(50)  # :2087-2092 sign switch
                if s > e:
                    e += 360.0
                pts = approximate_arc_angles(
                    gf(10), gf(20), gf(30), gf(40), gf(40), 0.0, s, e, arc_step
                )
                wkt = _wkt("LINESTRING", pts, want_z=gf(30) != 0.0)
            elif ent == "ELLIPSE":
                cx, cy, cz = gf(10), gf(20), gf(30)
                ax, ay, az = gf(11), gf(21), gf(31)
                # ELLIPSE stores WCS coords; under an extrusion the
                # reference inverse-transforms center + axis into the OCS
                # plane, tessellates there, then forward-transforms the
                # curve (ogrdxflayer.cpp:1960-2032)
                axes = None
                n = (gf(210), gf(220), gf(230, 1.0))
                if n != (0.0, 0.0, 1.0) and (
                    210 in codes or 220 in codes or 230 in codes
                ):
                    axes = _ocs_axes(n)
                    cx, cy, cz = _ocs_inv(axes, cx, cy, cz)
                    ax, ay, az = _ocs_inv(axes, ax, ay, az)
                prim = math.sqrt(ax * ax + ay * ay + az * az)
                sec = gf(40) * prim
                rot = -math.atan2(ay, ax) * 180.0 / math.pi
                e = -gf(41) * 180.0 / math.pi
                s = -gf(42) * 180.0 / math.pi
                if 41 not in codes:
                    s, e = 0.0, 360.0
                if s > e:
                    e += 360.0
                pts = approximate_arc_angles(
                    cx, cy, cz, prim, sec, rot, s, e, arc_step
                )
                wkt = _wkt("LINESTRING", pts, want_z=gf(30) != 0.0)
                if axes is not None:
                    wkt = _ocs_wkt(wkt, axes)
            elif ent in ("SPLINE", "HELIX"):
                pts, has_z = _spline_points(codes)
                if pts is not None:
                    wkt = _wkt("LINESTRING", pts, want_z=has_z)
            elif ent == "HATCH":
                wkt = _parse_hatch(cur.get("_seq", []), step=arc_step)
            elif ent == "MLINE":
                wkt = _mline_wkt(cur.get("_seq", []))
            elif ent == "WIPEOUT":
                # TranslateWIPEOUT (:2864-2980, #11022): insertion point,
                # u/v vector scales, boundary vertices mapped
                # (xoff+(0.5+x)*xs, yoff+(0.5-y)*ys), closed polygon;
                # point format 1 unsupported -> no geometry
                if int(g(71, "0") or 0) != 1:
                    xoff, yoff = gf(10), gf(20)
                    xs_, ys_ = gf(11, 1.0), gf(22, 1.0)
                    ring = [(xoff, yoff)] + [
                        (
                            xoff + (0.5 + float(x)) * xs_,
                            yoff + (0.5 - float(y)) * ys_,
                        )
                        for x, y in zip(codes.get(14, []), codes.get(24, []))
                    ]
                    if len(ring) >= 2:
                        wkt = _wkt("POLYGON", ring)
            elif ent == "POLYLINE":
                vs = cur.get("_vertices", [])
                closed = int(g(70, "0") or 0) & 1
                pts = list(vs)
                if closed and pts:
                    pts.append(pts[0])
                if len(pts) >= 2:
                    wkt = _wkt(
                        "LINESTRING", pts,
                        want_z=any(len(p) > 2 and p[2] != 0 for p in pts),
                    )
        except (ValueError, IndexError, ZeroDivisionError):
            wkt = None
        # OCS extrusion (210/220/230): applied to the OCS-coordinate
        # entity set, matching the reference's ApplyOCSTransformer call
        # sites (text :883, lwpolyline :1276, 2D polyline :1530, circle
        # :1878, arc :2123, 3dface :2508, solid :2704, hatch); ELLIPSE
        # handles its own inverse/forward pair above
        if (
            wkt is not None
            and ent in _OCS_ENTITIES
            and (210 in codes or 220 in codes or 230 in codes)
        ):
            n = (gf(210), gf(220), gf(230, 1.0))
            if n != (0.0, 0.0, 1.0) and not (
                ent == "POLYLINE" and int(g(70, "0") or 0) & 8
            ):
                wkt = _ocs_wkt(wkt, _ocs_axes(n))
        fields["_lt"] = fields.get("Linetype", "")
        fields.setdefault("Layer", "0")
        fields.setdefault("Linetype", "ByLayer")
        sp = _style_props(codes)
        ctx = {
            "layers": layers, "linetypes": linetypes,
            "textstyles": textstyles,
            "textstyle_handles": textstyle_handles,
            "ltscale": float(header_vars.get("$LTSCALE", "1.0") or 1.0),
        }
        if ent == "INSERT":
            # inlined-blocks mode: emit the block's features transformed
            # by the insertion point / scales / rotation.  With
            # merge_blocks (DXF_MERGE_BLOCK_GEOMETRIES default TRUE,
            # InsertBlockInline ogrdxflayer.cpp:3063-3330) all non-label
            # geometries collapse into ONE feature via
            # SimplifyBlockGeometry; TEXT/MTEXT labels and
            # geometry-less features stay separate, layer-0
            # subfeatures take the INSERT's layer and EntityHandle.
            name = g(2)
            if name and name not in blocks and target is not feats:
                # forward reference to a block defined later in the
                # BLOCKS section — resolved by the fixpoint re-pass
                unresolved[0] = True
            ix, iy = gf(10), gf(20)
            sx, sy = gf(41, 1.0) or 1.0, gf(42, 1.0) or 1.0
            rot = math.radians(gf(50))
            cr, sr = math.cos(rot), math.sin(rot)
            # MInsert rows/columns (codes 70/71 + 44/45 spacing); the
            # reference treats 0 as 1 and iterates columns fastest
            ncols = int(g(70, "1") or 1) or 1
            nrows = int(g(71, "1") or 1) or 1
            colsp, rowsp = gf(44), gf(45)
            for irow in range(nrows):
                for icol in range(ncols):
                    ex = icol * colsp * cr + irow * rowsp * (-sr)
                    ey = icol * colsp * sr + irow * rowsp * cr

                    def tfm(x, y, ex=ex, ey=ey):
                        x, y = x * sx, y * sy
                        return (x * cr - y * sr + ix + ex,
                                x * sr + y * cr + iy + ey)

                    ins_feat = {"_sp": sp, "Layer": fields.get("Layer", "0"),
                                "Linetype": fields.get("Linetype"),
             "_lt": fields.get("_lt", "")}
                    merged: list[str] = []
                    extras: list[dict] = []
                    for bf in blocks.get(name, []):
                        if bf.get("Entity") == "ATTDEF":
                            continue  # ATTDEFs are skipped when inlining
                        out = dict(bf)
                        if bf["wkt"] is not None:
                            out["wkt"] = _transform_wkt(bf["wkt"], tfm)
                        is_label = out.get("Entity") in ("TEXT", "MTEXT")
                        if merge_blocks and out["wkt"] is not None \
                                and not is_label:
                            merged.append(out["wkt"])
                            continue
                        if out.get("Layer", "0") == "0" and fields.get("Layer"):
                            out["Layer"] = fields["Layer"]
                        _restyle_inserted(out, ins_feat, ctx)
                        if out.get("_kind") == "label" and out.get("Style"):
                            out["Style"] = _ST.adjust_text(
                                out["Style"], math.degrees(rot), sx, sy
                            )
                        if fields.get("EntityHandle"):
                            out["EntityHandle"] = fields["EntityHandle"]
                        extras.append(out)
                    if merged:
                        mf = {"wkt": _merge_wkts(merged), "Entity": "INSERT",
                              **fields, "_sp": dict(sp), "_kind": "pen"}
                        mf["Style"] = _ST.pen_style(
                            mf, layers, linetypes, ctx["ltscale"]
                        )
                        target.append(mf)
                    target.extend(extras)
                    # attached ATTRIB entities: WCS text anchors shifted
                    # by the cell offset only (GenerateINSERTFeatures)
                    for a in cur.get("_attribs", []):
                        ga = lambda c, d=None: a.get(c, [d])[0]  # noqa: E731
                        az = float(ga(30, 0.0) or 0.0)
                        af = {
                            nm: ga(cd)
                            for cd, nm in _FIELD_CODES.items()
                            if cd in a
                        }
                        if 100 in a:
                            af["SubClasses"] = ":".join(a[100])
                        af.setdefault("Layer", "0")
                        af["_lt"] = af.get("Linetype", "")
                        af.setdefault("Linetype", "ByLayer")
                        asp = _style_props(a)
                        atext, astyle = _text_label_style(
                            a, asp, af["Layer"], ctx, attrib=True
                        )
                        target.append({
                            "wkt": _wkt(
                                "POINT",
                                [(float(ga(10, 0.0) or 0.0) + ex,
                                  float(ga(20, 0.0) or 0.0) + ey, az)],
                                want_z=az != 0.0,
                            ),
                            "Entity": "ATTRIB",
                            **af,
                            "Text": atext,
                            "Style": astyle,
                            "_sp": asp,
                            "_kind": "label",
                        })
        elif ent == "DIMENSION":
            # TranslateDIMENSION (ogrdxf_dimension.cpp:40-190): a valid
            # anonymous block (code 2) is inlined un-merged at identity
            # transform; otherwise the fallback renderer draws the
            # dimension from code 10/13/14 + DIMSTYLE properties (code 3
            # table entry layered under 1001 ACAD DSTYLE overrides).
            name = g(2)
            if name and name not in blocks and target is not feats:
                unresolved[0] = True
            if name and name in blocks:
                dim_feat = {"_sp": sp, "Layer": fields.get("Layer", "0"),
                            "Linetype": fields.get("Linetype"),
             "_lt": fields.get("_lt", "")}
                for bf in blocks[name]:
                    if bf.get("Entity") == "ATTDEF":
                        continue
                    out = dict(bf)
                    if out.get("Layer", "0") == "0" and fields.get("Layer"):
                        out["Layer"] = fields["Layer"]
                    _restyle_inserted(out, dim_feat, ctx)
                    if fields.get("EntityHandle"):
                        out["EntityHandle"] = fields["EntityHandle"]
                    target.append(out)
            else:
                style = dict(_DIMSTYLE_DEFAULTS)
                style.update(dimstyles.get((g(3) or "").upper(), {}))
                style.update(_dimstyle_overrides(cur.get("_seq", [])))
                target.extend(
                    _dimension_features(codes, style, fields, sp, ctx)
                )
        elif ent == "LEADER":
            style = dict(_DIMSTYLE_DEFAULTS)
            style.update(dimstyles.get((g(3) or "").upper(), {}))
            style.update(_dimstyle_overrides(cur.get("_seq", [])))
            target.extend(
                _leader_features(codes, style, fields, blocks, block_records,
                                 sp, ctx)
            )
        elif ent in ("MULTILEADER", "MLEADER"):
            target.extend(
                _mleader_features(cur.get("_seq", []), fields, blocks,
                                  block_records, merge_blocks, ctx)
            )
        elif ent in _EMITTED_ENTITIES:
            feat = {"wkt": wkt, "Entity": ent, **fields}
            feat["_sp"] = sp
            if ent in ("TEXT", "ATTDEF"):
                text, st = _text_label_style(
                    codes, sp, feat["Layer"], ctx, attrib=(ent == "ATTDEF")
                )
                feat["Text"] = text
                feat["Style"] = st
                feat["_kind"] = "label"
            elif ent == "MTEXT":
                text, st = _mtext_label_style(codes, sp, feat["Layer"], ctx)
                feat["Text"] = text
                feat["Style"] = st
                feat["_kind"] = "label"
            elif ent == "HATCH" or (
                ent in ("SOLID", "TRACE")
                and wkt is not None and wkt.startswith("POLYGON")
            ):
                if ent == "HATCH":
                    _hatch_style_props(cur.get("_seq", []), sp, feat)
                feat["_kind"] = "brush"
                feat["Style"] = _ST.brush_style(feat, layers)
            else:
                feat["_kind"] = "pen"
                feat["Style"] = _ST.pen_style(
                    feat, layers, linetypes, ctx["ltscale"]
                )
            target.append(feat)
        cur, codes = None, {}

    blocks: dict[str, list[dict]] = dict(seed_blocks)
    dimstyles: dict[str, dict] = {}
    block_records: dict[str, str] = {}
    layers: dict[str, dict] = {}
    linetypes: dict[str, list] = {}
    textstyles: dict[str, dict] = {}
    textstyle_handles: dict[str, str] = {}
    header_vars: dict[str, str] = {}
    header_var: str | None = None
    table_entry: tuple | None = None
    section = None
    block_name = None
    block_base = [0.0, 0.0]
    block_owner = None
    target = feats
    while i < len(stream):
        code, val = stream[i]
        i += 1
        if code == 0 and val == "SECTION":
            if i < len(stream) and stream[i][0] == 2:
                section = stream[i][1]
            continue
        if section == "HEADER":
            # header variables: $NAME at code 9, value group follows
            if code == 9:
                header_var = val
            elif header_var is not None:
                header_vars[header_var] = val
                header_var = None
            continue
        if section == "TABLES":
            # Table entries (ReadDimStyleDefinition /
            # ReadLayerDefinition / ReadLineTypeDefinition /
            # ReadTextStyleDefinition, ogrdxfdatasource.cpp): each
            # `0 <KIND>` record collects ordered pairs until the next
            # code 0; the table header (2 <KIND> after 0 TABLE) never
            # opens an entry. BLOCK_RECORD entries map handle (5) ->
            # block name (2) for GetBlockNameByRecordHandle.
            if code == 0:
                _commit_table_entry(table_entry, dimstyles, block_records,
                                    layers, linetypes, textstyles,
                                    textstyle_handles)
                table_entry = (val, []) if val in _TABLE_ENTRY_KINDS else None
            elif table_entry is not None:
                table_entry[1].append((code, val))
            continue
        if section == "BLOCKS":
            def _apply_base():
                # ReadBlocksSection (ogrdxf_blockmap.cpp:125-132): shift
                # every block feature by -(base point)
                bx, by = block_base
                if (bx, by) != (0.0, 0.0) and block_name is not None:
                    for bf in blocks.get(block_name, []):
                        if bf["wkt"] is not None:
                            bf["wkt"] = _transform_wkt(
                                bf["wkt"],
                                lambda x, y, bx=bx, by=by: (x - bx, y - by),
                            )

            if code == 0 and val == "BLOCK":
                flush()
                block_name = None
                block_base = [0.0, 0.0]
                block_owner = None
                cur = None
                codes = {}
                target = []
                continue
            if cur is None and block_name is None:
                # BLOCK header codes before the first entity
                if code == 2:
                    block_name = val
                    blocks[val] = target
                    if block_owner:
                        block_records.setdefault(block_owner, val)
                    continue
                if code == 330:
                    block_owner = val
                    continue
            if cur is None and code in (10, 20) and block_name is not None \
                    and not blocks[block_name]:
                # base point codes may follow the name group
                block_base[0 if code == 10 else 1] = float(val)
                continue
            if code == 0 and val == "ENDBLK":
                flush()
                _apply_base()
                target = feats
                block_name = None
                continue
            if code == 0 and val == "ENDSEC":
                flush()
                _apply_base()
                target = feats
                section = None
                continue
        elif section != "ENTITIES":
            continue
        if code == 0:
            if val == "ENDSEC":
                flush()
                section = None
            elif val == "VERTEX" and cur and cur["_entity"] == "POLYLINE":
                cur.setdefault("_vertices", []).append(None)  # placeholder
            elif val == "ATTRIB" and cur and cur["_entity"] == "INSERT":
                cur.setdefault("_attribs", []).append({})
            elif val == "SEQEND" and cur and \
                    cur["_entity"] in ("POLYLINE", "INSERT"):
                cur["_seqend"] = True  # flushed on next entity/endsec
            else:
                flush()
                cur = {"_entity": val}
                codes = {}
        elif cur is not None:
            if cur["_entity"] == "INSERT" and cur.get("_attribs") \
                    and not cur.get("_seqend"):
                cur["_attribs"][-1].setdefault(code, []).append(val)
                continue
            if cur["_entity"] in ("HATCH", "DIMENSION", "LEADER",
                                  "MULTILEADER", "MLEADER", "MLINE"):
                cur.setdefault("_seq", []).append((code, val))
            if cur["_entity"] == "POLYLINE" and "_vertices" in cur and code in (10, 20, 30):
                vs = cur["_vertices"]
                if vs and vs[-1] is None:
                    vs[-1] = [0.0, 0.0, 0.0]
                if vs and isinstance(vs[-1], list):
                    vs[-1][{10: 0, 20: 1, 30: 2}[code]] = float(val)
                    if code == 30:
                        vs[-1] = tuple(vs[-1])
                continue
            codes.setdefault(code, []).append(val)
    flush()
    return feats, blocks, unresolved[0]


def _transform_wkt(wkt: str, fn) -> str:
    """Apply (x, y) -> (x', y') to every coordinate pair in a WKT
    string (z passes through)."""
    import re as _re

    def rep(m):
        parts = m.group(0).split()
        x, y = fn(float(parts[0]), float(parts[1]))
        out = f"{_fmt(x)} {_fmt(y)}"
        if len(parts) > 2:
            out += " " + parts[2]
        return out

    return _re.sub(
        r"-?[\d.]+(?:[eE][-+]?\d+)? -?[\d.]+(?:[eE][-+]?\d+)?"
        r"(?: -?[\d.]+(?:[eE][-+]?\d+)?)?",
        rep,
        wkt,
    )


def read_dxf(spark, files: list[str]):
    """DXF files -> (path, fid, entity, wkt, fields) DataFrame."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("fid", T.LongType()),
            T.StructField("entity", T.StringType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    fdf = spark.createDataFrame([(p,) for p in files], "path: string")

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                with open(r.path, encoding="latin-1") as fh:
                    feats = parse_dxf(fh.read())
                for i, f in enumerate(feats):
                    rows.append(
                        (
                            r.path, i, f["Entity"], f["wkt"],
                            {
                                k: str(v)
                                for k, v in f.items()
                                if k not in ("Entity", "wkt")
                                and not k.startswith("_") and v is not None
                            },
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return fdf.mapInPandas(run, sch)
