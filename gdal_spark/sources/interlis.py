"""Interlis 1 reader (ogr/ogrsf_frmts/ili — re-derived, no code
copied): ITF transfer files driven by a compiled IlisMeta07 .imd
model.

The .imd (produced by ili2c, shipped alongside the data) describes
classes per topic with ordered attributes; each attribute's Type REF
resolves to a typed element: TextType/NumType/EnumType consume one
ITF token, CoordType consumes two (the point), and LineType attrs
carry geometry — Kind Polyline reads inline STPT/LIPT/ARCP/ELIN
records, Kind Area/Surface reads two reference-point tokens while the
boundary lines live in the companion ``<Table>_<Attr>`` helper table.

ITF grammar: MTID/MODL headers, TOPI <topic>, TABL <table>,
OBJE <tid> <tokens...> followed by optional geometry records, ELIN
ends a line, ETAB/ETOP/EMOD/ENDE close scopes. '@' is the null token.
ARCP points interpolate a circular arc through the previous vertex,
the arc point and the next vertex.

Area features get two geometries: the polygon assembled from the
helper-table rings (smallest ring containing the feature's reference
point; the helper lines are chained end-to-end by geom.build_rings) and
the reference point itself.
"""

from __future__ import annotations

import math
import re
import xml.etree.ElementTree as ET

import numpy as np

from gdal_spark.functions import geom as G

__all__ = ["imd_parse", "itf_read"]


def _strip_ns(root):
    for el in root.iter():
        if "}" in el.tag:
            el.tag = el.tag.rsplit("}", 1)[-1]
    return root


def imd_parse(xml_text: str) -> dict:
    """IlisMeta07 model -> {"Topic__Class": {"attrs": [(name, kind)]}}
    where kind is text|num|enum|coord|polyline|area|surface."""
    root = _strip_ns(ET.fromstring(xml_text))
    # type elements by TID
    types: dict[str, tuple[str, dict]] = {}
    for el in root.iter():
        tid = el.attrib.get("TID")
        if tid is None:
            continue
        # element names are dotted (IlisMeta07.ModelData.Class)
        types[tid] = (el.tag.rsplit("}", 1)[-1].rsplit(".", 1)[-1], el)
    classes: dict[str, dict] = {}
    for tid, (tag, el) in types.items():
        if tag != "Class" or tid.startswith("INTERLIS."):
            continue
        parts = tid.split(".")
        if len(parts) < 3:
            continue
        topic, name = parts[-2], parts[-1]
        classes[tid] = {"topic": topic, "name": name,
                        "layer": f"{topic}__{name}", "attrs": []}
    attrs: list[tuple[int, str, str, str]] = []
    for tid, (tag, el) in types.items():
        if tag != "AttrOrParam" or tid.startswith("INTERLIS."):
            continue
        parent = el.find("AttrParent")
        typeref = el.find("Type")
        if parent is None or typeref is None:
            continue
        cls = parent.attrib.get("REF")
        order = int(parent.attrib.get("ORDER_POS", "0"))
        tref = typeref.attrib.get("REF", "")
        ttag = types.get(tref, ("TextType", None))[0]
        kind = "text"
        if ttag == "NumType":
            kind = "num"
        elif ttag == "EnumType":
            kind = "enum"
        elif ttag == "CoordType":
            kind = "coord"
        elif ttag == "LineType":
            tel = types[tref][1]
            lk = (tel.findtext("Kind") or "Polyline").lower()
            kind = {"polyline": "polyline", "area": "area",
                    "surface": "surface"}.get(lk, "polyline")
        name = el.findtext("Name") or tid.split(".")[-1]
        if cls in classes:
            attrs.append((order, cls, name, kind))
    for order, cls, name, kind in sorted(attrs):
        classes[cls]["attrs"].append((name, kind))
    return classes


def _interp_arc(p0, pm, p1) -> list[tuple]:
    """Circle through three points -> interpolated vertices from p0 to
    p1 passing pm (2-degree steps)."""
    ax, ay = p0
    bx, by = pm
    cx, cy = p1
    d = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if abs(d) < 1e-12:
        return [p1]
    ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
          + (cx * cx + cy * cy) * (ay - by)) / d
    uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
          + (cx * cx + cy * cy) * (bx - ax)) / d
    r = math.hypot(ax - ux, ay - uy)
    a0 = math.atan2(ay - uy, ax - ux)
    am = math.atan2(by - uy, bx - ux)
    a1 = math.atan2(cy - uy, cx - ux)

    def sweep(frm, via, to):
        ccw = (via - frm) % (2 * math.pi)
        full = (to - frm) % (2 * math.pi)
        if ccw <= full:
            return full  # counterclockwise
        return full - 2 * math.pi  # clockwise

    total = sweep(a0, am, a1)
    steps = max(2, int(abs(math.degrees(total)) / 2.0))
    out = []
    for s in range(1, steps + 1):
        ang = a0 + total * s / steps
        out.append((ux + r * math.cos(ang), uy + r * math.sin(ang)))
    out[-1] = (cx, cy)
    return out


def itf_read(itf_text: str, imd_text: str) -> dict:
    """-> {layer name: [ {"fields", "geoms"} ]}; geoms is a dict of
    attr name -> ("Point", (x, y)) | ("LineString", [...]) |
    ("Polygon", [rings])."""
    model = imd_parse(imd_text)
    by_layer_name: dict[tuple[str, str], dict] = {}
    for cls in model.values():
        by_layer_name[(cls["topic"], cls["name"])] = cls

    layers: dict[str, list] = {}
    raw_tables: dict[tuple[str, str], list] = {}

    topic = None
    table = None
    rows: list[dict] = []
    cur: dict | None = None
    cur_line: list | None = None
    pending_arc = None

    def close_line():
        nonlocal cur_line, pending_arc
        if cur is not None and cur_line:
            cur.setdefault("lines", []).append(cur_line)
        cur_line = None
        pending_arc = None

    for rawline in itf_text.splitlines():
        toks = rawline.split()
        if not toks:
            continue
        tag = toks[0]
        if tag == "TOPI":
            topic = toks[1] if len(toks) > 1 else ""
        elif tag == "TABL":
            table = toks[1] if len(toks) > 1 else ""
            rows = []
        elif tag == "OBJE":
            close_line()
            cur = {"tokens": toks[1:], "lines": []}
            rows.append(cur)
        elif tag == "STPT" and cur is not None:
            close_line()
            cur_line = [(float(toks[1]), float(toks[2]))]
        elif tag == "LIPT" and cur_line is not None:
            pt = (float(toks[1]), float(toks[2]))
            if pending_arc is not None:
                cur_line.extend(_interp_arc(cur_line[-1], pending_arc, pt))
                pending_arc = None
            else:
                cur_line.append(pt)
        elif tag == "ARCP" and cur_line is not None:
            pending_arc = (float(toks[1]), float(toks[2]))
        elif tag == "ELIN":
            close_line()
        elif tag == "ETAB":
            close_line()
            if topic and table:
                raw_tables[(topic, table)] = rows
            table = None
            cur = None

    # ---- build features per modeled class
    for (topic, table), rows in raw_tables.items():
        cls = by_layer_name.get((topic, table))
        if cls is None:
            continue  # helper table (e.g. BoFlaechen_Form main pass below)
        feats = []
        for row in rows:
            toks = row["tokens"]
            fields: dict = {"_TID": toks[0] if toks else None}
            geoms: dict = {}
            pos = 1

            def take(n):
                nonlocal pos
                vals = toks[pos:pos + n]
                pos += n
                return vals

            for aname, kind in cls["attrs"]:
                if kind in ("text", "num", "enum"):
                    v = take(1)
                    v = v[0] if v else None
                    if v == "@":
                        v = None
                    elif v is not None and kind == "num":
                        try:
                            v = float(v) if "." in v else int(v)
                        except ValueError:
                            pass
                    elif v is not None and kind == "enum":
                        try:
                            v = int(v)
                        except ValueError:
                            pass
                    fields[aname] = v
                elif kind in ("coord", "area", "surface"):
                    v = take(2)
                    if len(v) == 2 and "@" not in v:
                        x, y = float(v[0]), float(v[1])
                        fields[f"{aname}_0" if kind == "coord" else aname
                               + "_ref_0"] = x
                        fields[f"{aname}_1" if kind == "coord" else aname
                               + "_ref_1"] = y
                        geoms[aname] = ("Point", (x, y))
                elif kind == "polyline":
                    if row["lines"]:
                        geoms[aname] = ("LineString", row["lines"][0])
            # leftover tokens become reference fields (embedded roles)
            for extra_i, v in enumerate(toks[pos:]):
                fields[f"_Ref{extra_i}"] = v
            feats.append({"fields": fields, "geoms": geoms})

        # resolve area attributes through the helper table's rings
        for aname, kind in cls["attrs"]:
            if kind not in ("area", "surface"):
                continue
            helper = raw_tables.get((topic, f"{table}_{aname}"))
            if helper is None:
                continue
            lines = [ln for row in helper for ln in row["lines"]]
            rings = G.build_rings(lines)
            arrs = [np.array(rg, np.float64) for rg in rings]
            areas = [abs(G.ring_area(a)) for a in arrs]
            for f in feats:
                g = f["geoms"].get(aname)
                if g is None or g[0] != "Point":
                    continue
                px, py = [g[1][0]], [g[1][1]]
                holding = [k for k, a in enumerate(arrs)
                           if G.points_in_ring(px, py, a)[0]]
                if holding:
                    best = rings[min(holding, key=areas.__getitem__)]
                    f["geoms"][aname + "_poly"] = ("Polygon", [best])
        layers[cls["layer"]] = feats

        helper_names = {f"{table}_{a}" for a, k in cls["attrs"]
                        if k in ("area", "surface")}
        for hname in helper_names:
            hrows = raw_tables.get((topic, hname))
            if hrows is None:
                continue
            hfeats = []
            for row in hrows:
                geoms = {}
                if row["lines"]:
                    geoms["_Geom"] = ("LineString", row["lines"][0])
                hfeats.append({
                    "fields": {"_TID": row["tokens"][0]
                               if row["tokens"] else None},
                    "geoms": geoms,
                })
            layers[f"{topic}__{hname}"] = hfeats
    return layers
