"""KML driver (read path) — ogr/ogrsf_frmts/kml (kmlnode.cpp,
kmlvector.cpp, ogrkmldatasource.cpp).

Layer discovery is the reference's exact three-stage pipeline:

1. classify (kmlnode.cpp:194-295): geometry leaves get their type;
   containers merge child types (conflicts -> Mixed, or Multi* under a
   MultiGeometry/MultiPolygon/MultiLineString/MultiPoint parent, incl.
   the non-conformant forms); ``coordinates`` content with two commas
   flags 2.5D, propagated upward.
2. hasOnlyEmpty / eliminateEmpty (ogrkmldatasource.cpp:146-150):
   when at least one node is non-Empty, Empty containers and feature
   containers are deleted up front.
3. findLayers (kmlvector.cpp:60-117): a Folder/Document is a layer
   when it directly contains a feature container (Placemark / Multi*);
   in keep-empty mode (whole file Empty) every Folder is registered,
   but a non-empty Folder then eliminates (and UNREGISTERS) its Empty
   children — reproducing the subfolder-unregistration subtlety.

Layer names come from the <name> child ("Layer #N" fallback,
"name (#k)" de-duplication — ogrkmldatasource.cpp:215-233). Features
are the layer node's DIRECT Placemark children (kmlnode.cpp:479-493)
carrying Name, description, ExtendedData/SchemaData SimpleData fields,
and the classified geometry as WKT.

read_xml_features is the distributed GPX/KML loader over these readers
and gpx.parse_gpx: one file per task row, 2-D WKB rows. Both formats
are small-file interchange containers, so the distributed shape is
many files per task, not byte-range splitting of one file.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from gdal_spark.functions.wkt import from_wkt
from gdal_spark.sources.gpx import parse_gpx

_CONTAINERS = ("Folder", "Document", "kml")
_FEATURE_CONTAINERS = (
    "MultiGeometry", "MultiPolygon", "MultiLineString", "MultiPoint",
    "Placemark",
)
_FEATURES = ("Polygon", "LineString", "Point")
_REST = ("outerBoundaryIs", "innerBoundaryIs", "LinearRing")
_MULTI = ("MultiGeometry", "MultiPolygon", "MultiLineString", "MultiPoint")


def _strip(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


class _Node:
    def __init__(self, el):
        self.name = _strip(el.tag)
        self.el = el
        self.children = [_Node(c) for c in el if isinstance(c.tag, str)]
        self.type = "Unknown"
        self.b25d = False

    def classify(self):
        if self.name in ("Point", "LineString", "Polygon"):
            self.type = self.name
        elif self.name in _REST:
            self.type = "Empty"
        elif self.name == "coordinates":
            for tup in (self.el.text or "").split():
                if tup.count(",") == 2:
                    self.b25d = True
        elif self.name in ("Schema", "SimpleField", "SchemaData", "SimpleData"):
            self.type = self.name

        all_t = "Empty"
        for ch in self.children:
            ch.classify()
            cur = ch.type
            if cur in ("SchemaData", "SimpleData"):
                continue
            self.b25d |= ch.b25d
            if cur != all_t and all_t != "Empty" and cur != "Empty":
                self.type = (
                    "MultiGeometry" if self.name in _MULTI else "Mixed"
                )
            elif cur != "Empty":
                all_t = cur
        if self.type == "Unknown":
            if self.name in _MULTI:
                self.type = {
                    "Point": "MultiPoint",
                    "LineString": "MultiLineString",
                    "Polygon": "MultiPolygon",
                }.get(all_t, "MultiGeometry")
            else:
                self.type = all_t

    def has_only_empty(self) -> bool:
        for ch in self.children:
            if ch.type != "Empty":
                return False
            if not ch.has_only_empty():
                return False
        return True

    def eliminate_empty(self, unregister):
        kept = []
        for ch in self.children:
            if ch.type == "Empty" and (
                ch.name in _CONTAINERS or ch.name in _FEATURE_CONTAINERS
            ):
                ch._unregister_all(unregister)
            else:
                ch.eliminate_empty(unregister)
                kept.append(ch)
        self.children = kept

    def _unregister_all(self, unregister):
        unregister(self)
        for ch in self.children:
            ch._unregister_all(unregister)

    def name_element(self) -> str:
        for ch in self.children:
            if ch.name == "name":
                return (ch.el.text or "").strip()
        return ""

    def description_element(self) -> str:
        for ch in self.children:
            if ch.name == "description":
                return (ch.el.text or "").strip()
        return ""


def _find_layers(node: _Node, keep_empty: bool, layers: list) -> None:
    if (
        node.name in _FEATURES
        or node.name in _FEATURE_CONTAINERS
        or (node.name in _REST and node.name != "kml")
    ):
        return
    if node.name not in _CONTAINERS:
        return
    empty = True
    for ch in node.children:
        if ch.name in _CONTAINERS:
            _find_layers(ch, keep_empty, layers)
        elif ch.name in _FEATURE_CONTAINERS:
            empty = False
    if keep_empty and node.name == "Folder":
        if not empty:
            node.eliminate_empty(
                lambda n: layers.remove(n) if n in layers else None
            )
    elif empty:
        return
    if keep_empty or node.type in (
        "Point", "LineString", "Polygon", "Mixed", "MultiGeometry",
        "MultiPoint", "MultiLineString", "MultiPolygon",
    ):
        layers.append(node)


def _fmt(v: float) -> str:
    return f"{v:.15g}"


def _coords(node: _Node, want_z: bool):
    for ch in node.children:
        if ch.name == "coordinates":
            out = []
            for tup in (ch.el.text or "").split():
                parts = tup.split(",")
                x, y = float(parts[0]), float(parts[1])
                z = float(parts[2]) if len(parts) > 2 else 0.0
                out.append((x, y, z) if want_z else (x, y))
            return out
    return []


def _coord_str(pts) -> str:
    return ",".join(" ".join(_fmt(v) for v in p) for p in pts)


def _geom_wkt(node: _Node, want_z: bool) -> str | None:
    if node.name == "Point":
        pts = _coords(node, want_z)
        if not pts:
            return None
        return ("POINT Z (" if want_z else "POINT (") + _coord_str(pts[:1]) + ")"
    if node.name == "LineString":
        pts = _coords(node, want_z)
        return (
            ("LINESTRING Z (" if want_z else "LINESTRING (")
            + _coord_str(pts) + ")"
        )
    if node.name == "Polygon":
        rings = []
        for ch in node.children:
            if ch.name in ("outerBoundaryIs", "innerBoundaryIs"):
                for lr in ch.children:
                    if lr.name == "LinearRing":
                        rings.append(_coord_str(_coords(lr, want_z)))
        return (
            ("POLYGON Z (" if want_z else "POLYGON (")
            + ",".join(f"({r})" for r in rings) + ")"
        )
    return None


def _placemark_geom(pm: _Node, want_z: bool) -> str | None:
    if pm.type in ("Point", "LineString", "Polygon"):
        for ch in pm.children:
            if ch.name == pm.type:
                return _geom_wkt(ch, want_z)
    elif pm.type in ("MultiGeometry", "MultiPoint", "MultiLineString",
                     "MultiPolygon"):
        parts = []
        for ch in pm.children:
            if ch.name in _MULTI:
                for g in ch.children:
                    w = _geom_wkt(g, want_z)
                    if w:
                        parts.append(w)
        tag = {
            "MultiPoint": "MULTIPOINT",
            "MultiLineString": "MULTILINESTRING",
            "MultiPolygon": "MULTIPOLYGON",
            "MultiGeometry": "GEOMETRYCOLLECTION",
        }[pm.type]
        if tag == "GEOMETRYCOLLECTION":
            return tag + " (" + ",".join(parts) + ")"
        # homogeneous: member bodies without their type tags
        bodies = []
        for ch in pm.children:
            if ch.name in _MULTI:
                for g in ch.children:
                    b = _geom_body(g, want_z)
                    if b is not None:
                        bodies.append(b)
        return tag + (" Z (" if want_z else " (") + ",".join(bodies) + ")"
    return None


def _geom_body(node: _Node, want_z: bool) -> str | None:
    """WKT body of a member geometry (no type tag): point -> 'x y',
    linestring -> '(x y,...)', polygon -> '((ring),...)'."""
    if node.name == "Point":
        pts = _coords(node, want_z)
        return "(" + _coord_str(pts[:1]) + ")" if pts else None
    if node.name == "LineString":
        return "(" + _coord_str(_coords(node, want_z)) + ")"
    if node.name == "Polygon":
        rings = []
        for ch in node.children:
            if ch.name in ("outerBoundaryIs", "innerBoundaryIs"):
                for lr in ch.children:
                    if lr.name == "LinearRing":
                        rings.append(_coord_str(_coords(lr, want_z)))
        return "(" + ",".join(f"({r})" for r in rings) + ")"
    return None


def _simple_data_fields(pm: _Node) -> dict:
    out = {}
    for ch in pm.children:
        if ch.name != "ExtendedData":
            continue
        if len(ch.children) == 1 and ch.children[0].name == "SchemaData":
            for sd in ch.children[0].children:
                if sd.name == "SimpleData":
                    nm = sd.el.get("name")
                    if nm and sd.el.text is not None:
                        out[nm] = sd.el.text
    return out


def _layers(text) -> list[tuple[str, list[_Node]]]:
    """-> [(layer name, its Placemark nodes)] in the reference's layer
    order; Placemarks without geometry are dropped unless the whole file
    is Empty."""
    root = ET.fromstring(text)
    trunk = _Node(root)
    if trunk.name != "kml":
        # the reference wraps everything under the kml trunk
        wrapper = ET.Element("kml")
        wrapper.append(root)
        trunk = _Node(wrapper)
    trunk.classify()
    only_empty = trunk.has_only_empty() and trunk.type == "Empty"
    layers: list[_Node] = []
    if not only_empty:
        trunk.eliminate_empty(lambda n: None)
    _find_layers(trunk, only_empty, layers)

    out = []
    seen: dict[str, int] = {}
    for i, node in enumerate(layers):
        nm = node.name_element()
        if not nm:
            nm = f"Layer #{i}"
        if nm in seen:
            seen[nm] += 1
            nm = f"{nm} (#{seen[nm]})"
        else:
            seen[nm] = 1
        out.append((nm, [
            ch for ch in node.children
            if ch.name == "Placemark"
            and (only_empty or _placemark_geom(ch, False) is not None)
        ]))
    return out


def parse_kml(text: str) -> list[dict]:
    """-> [{'name': layer_name, 'features': [{'Name', 'description',
    'wkt', fields...}]}] in the reference's layer order."""
    return [
        {"name": nm, "features": [
            {"Name": pm.name_element(),
             "description": pm.description_element(),
             "wkt": _placemark_geom(pm, pm.b25d),
             **_simple_data_fields(pm)}
            for pm in pms
        ]}
        for nm, pms in _layers(text)
    ]


# ---------------------------------------------------------------------------
# Distributed GPX/KML loader
# ---------------------------------------------------------------------------


def xml_features(raw: bytes) -> list[dict]:
    """One GPX or KML file (format sniffed from the root element) ->
    [{'layer', 'wkb', 'name', 'ele'}] with 2-D WKB. GPX rows are the
    waypoints, routes and tracks layers of gpx.parse_gpx; KML rows are
    every feature of every layer, under the layer's name. An EMPTY
    geometry gives wkb None; one from_wkt cannot encode raises
    ValueError."""
    if _strip(ET.fromstring(raw).tag) == "gpx":
        layers = parse_gpx(raw)
        feats = [(lyr, f.get("name"), f.get("ele"), f["wkt"])
                 for lyr in ("waypoints", "routes", "tracks")
                 for f in layers[lyr]]
    else:
        feats = [(nm, pm.name_element() or None, None,
                  _placemark_geom(pm, False))
                 for nm, pms in _layers(raw) for pm in pms]
    return [{"layer": lyr, "wkb": None if wkt is None else from_wkt(wkt),
             "name": name, "ele": ele}
            for lyr, name, ele, wkt in feats]


def read_xml_features(spark, files: list[str],
                      num_partitions: int | None = None):
    """[(gpx|kml files)] -> (path, layer, fid, wkb, name, ele); fid numbers
    a file's rows. One file per task row; a file that fails to decode
    raises ValueError naming it."""
    import pandas as pd

    cols = ["path", "layer", "fid", "wkb", "name", "ele"]
    fdf = spark.createDataFrame([(p,) for p in files], "path: string")
    if num_partitions:
        fdf = fdf.repartition(num_partitions)

    def run(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    raw = fh.read()
                try:
                    feats = xml_features(raw)
                except ValueError as e:
                    raise ValueError(f"{path}: {e}") from e
                rows += [(path, f["layer"], i, f["wkb"], f["name"], f["ele"])
                         for i, f in enumerate(feats)]
            yield pd.DataFrame(rows, columns=cols)

    return fdf.mapInPandas(
        run, "path string, layer string, fid long, wkb binary, "
        "name string, ele double")


# ---------------------------------------------------------------------------
# Write path — ogrkmldatasource.cpp (document/folder flow, :30-80 dtor,
# :330-420 ICreateLayer), ogrkmllayer.cpp WriteSchema:230-308 +
# ICreateFeature:314-566, ogr2kmlgeometry.cpp (geometry fragments).
# ---------------------------------------------------------------------------


def _xml_escape(s: str) -> str:
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _is_int(v: float) -> bool:
    return v == int(v) and abs(v) < 2**31


def _g15(v: float) -> str:
    """OGRFormatDouble default path: 15 significant digits; '.0' appended
    when the text is all digits (ogrutils.cpp isInteger — note '-3' gets
    no '.0', matching the reference quirk)."""
    s = f"{float(v):.15g}"
    return s + ".0" if s.isdigit() else s


def _kml_coordinate(x: float, y: float, z: float, b3d: bool) -> str:
    """MakeKMLCoordinate (ogr2kmlgeometry.cpp:34-105): lat snapped within
    1e-8 of the poles, lon wrapped into [-180,180]; then the
    OGRMakeWktCoordinate integer fast path with ',' separators."""
    eps = 1e-8
    if y > 90 and y < 90 + eps:
        y = 90.0
    elif y < -90 and y > -90 - eps:
        y = -90.0
    elif y < -90 or y > 90:
        raise ValueError(f"latitude {y} outside [-90,90]")
    if x > 180 and x < 180 + eps:
        x = 180.0
    elif x < -180 and x > -180 - eps:
        x = -180.0
    elif x > 180:
        x -= int((x + 180) / 360) * 360
    elif x < -180:
        x += int((180 - x) / 360) * 360
    if _is_int(x) and _is_int(y):
        parts = [str(int(x)), str(int(y))]
    else:
        parts = [_g15(x), _g15(y)]
    if b3d:
        parts.append(str(int(z)) if _is_int(z) else _g15(z))
    return ",".join(parts)


_COORD_RE = re.compile(
    r"(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
    r"\s+(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
    r"(?:\s+(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?))?"
)


def _wkt_tuples(body: str):
    """(x, y, z-or-None) tuples of one parenthesized coordinate list."""
    return [
        (float(a), float(b), float(c) if c else None)
        for a, b, c in _COORD_RE.findall(body)
    ]


def _split_wkt_groups(inner: str) -> list[str]:
    out, depth, start = [], 0, 0
    for i, c in enumerate(inner):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(inner[start:i].strip())
            start = i + 1
    out.append(inner[start:].strip())
    return out


def _coordinates_elt(pts) -> str:
    """AppendCoordinateList (:139-163): space-joined tuples, 3D when any
    tuple carries z."""
    b3d = any(p[2] is not None for p in pts)
    body = " ".join(
        _kml_coordinate(p[0], p[1], p[2] if p[2] is not None else 0.0, b3d)
        for p in pts
    )
    return f"<coordinates>{body}</coordinates>"


def _geom_fragment(kind: str, body: str, alt: str, ring: bool = False) -> str:
    """OGR2KMLGeometryAppend (ogr2kmlgeometry.cpp:171-330) on one WKT
    node. `alt` is the pre-rendered <altitudeMode> string ('' default)."""
    kind = kind.upper()
    if kind == "POINT":
        if not body or body.upper() == "EMPTY":
            return "<Point/>"
        pts = _wkt_tuples(body)
        p = pts[0]
        if p[2] is None:
            return f"<Point><coordinates>{_kml_coordinate(p[0], p[1], 0.0, False)}</coordinates></Point>"
        return f"<Point>{alt}<coordinates>{_kml_coordinate(p[0], p[1], p[2], True)}</coordinates></Point>"
    if kind in ("LINESTRING", "LINEARRING"):
        tag = "LinearRing" if (ring or kind == "LINEARRING") else "LineString"
        return f"<{tag}>{alt}{_coordinates_elt(_wkt_tuples(body))}</{tag}>"
    if kind == "POLYGON":
        inner = body.strip()[1:-1]
        rings = _split_wkt_groups(inner)
        out = [f"<Polygon>{alt}"]
        for i, r in enumerate(rings):
            side = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
            out.append(
                f"<{side}>{_geom_fragment('LINEARRING', r, alt)}</{side}>"
            )
        out.append("</Polygon>")
        return "".join(out)
    if kind in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON"):
        member = kind[5:]
        inner = body.strip()[1:-1]
        parts = [
            _geom_fragment(member, g, alt)
            for g in _split_wkt_groups(inner)
        ]
        return f"<MultiGeometry>{''.join(parts)}</MultiGeometry>"
    if kind == "GEOMETRYCOLLECTION":
        inner = body.strip()[1:-1]
        parts = []
        for g in _split_wkt_groups(inner):
            m = re.match(r"^([A-Za-z]+)\s*(.*)$", g, re.S)
            parts.append(_geom_fragment(m.group(1), m.group(2).strip(), alt))
        return f"<MultiGeometry>{''.join(parts)}</MultiGeometry>"
    raise ValueError(f"unsupported geometry type in KML: {kind}")


def geometry_to_kml(wkt: str, altitude_mode: str | None = None) -> str:
    """OGR_G_ExportToKML (ogr2kmlgeometry.cpp:333-380)."""
    alt = (
        f"<altitudeMode>{altitude_mode}</altitudeMode>"
        if altitude_mode
        else ""
    )
    m = re.match(r"^\s*([A-Za-z]+)\s*(.*)$", wkt, re.S)
    if not m:
        raise ValueError(f"bad WKT: {wkt[:40]!r}")
    return _geom_fragment(m.group(1), m.group(2).strip(), alt)


_KML_TYPES = {
    "int": ("int", "SimpleField"), "integer": ("int", "SimpleField"),
    "float": ("float", "SimpleField"), "real": ("float", "SimpleField"),
    "string": ("string", "SimpleField"),
    "integerlist": ("int", "SimpleArrayField"),
    "reallist": ("float", "SimpleArrayField"),
    "stringlist": ("string", "SimpleArrayField"),
    "date": ("string", "SimpleField"), "time": ("string", "SimpleField"),
    "datetime": ("string", "SimpleField"),
}

_STYLED = ("POLYGON", "MULTIPOLYGON", "LINESTRING", "MULTILINESTRING")


def _field_value_str(v, ftype: str) -> str:
    if ftype in ("float", "real"):
        return _g15(float(v)) if not isinstance(v, str) else v
    if isinstance(v, float):
        return _g15(v)
    return str(v)


def _write_schema(name: str, fields, name_field, description_field) -> str:
    """OGRKMLLayer::WriteSchema (ogrkmllayer.cpp:230-308)."""
    lines = []
    for fname, ftype in fields:
        if name_field and fname.lower() == name_field.lower():
            continue
        if description_field and fname.lower() == description_field.lower():
            continue
        if not lines:
            lines.append(f'<Schema name="{name}" id="{name}">\n')
        ktype, elt = _KML_TYPES.get(ftype.lower(), ("string", "SimpleField"))
        lines.append(f'\t<{elt} name="{fname}" type="{ktype}"></{elt}>\n')
    if lines:
        lines.append("</Schema>\n")
    return "".join(lines)


def _parse_pen_style(style: str | None):
    """The OGRStylePen subset ICreateFeature consumes (:408-470):
    c:#rrggbb[aa] -> aabbggrr KML color, w:<n>px width."""
    if not style:
        return None
    m = re.search(r"PEN\s*\(([^)]*)\)", style, re.I)
    if not m:
        return None
    color, width = None, 1.0
    for part in m.group(1).split(","):
        part = part.strip()
        if part.lower().startswith("c:"):
            color = part[2:].strip()
        elif part.lower().startswith("w:"):
            wm = re.match(r"w:\s*([0-9.]+)\s*px", part, re.I)
            if wm:
                width = float(wm.group(1))
    if color and color.startswith("#") and len(color) >= 7:
        a = color[7:9] if len(color) == 9 else "FF"
        kml = a + color[5:7] + color[3:5] + color[1:3]
        return kml, width
    return "default", width


def write_kml(
    layers,
    name_field: str | None = "Name",
    description_field: str | None = "Description",
    document_id: str = "root_doc",
    altitude_mode: str | None = None,
) -> str:
    """Serialize layers the way the reference KML writer does, including
    the folder/schema ordering quirks: layer 0's schema goes BEFORE its
    folder (written lazily at its first feature), later layers' schemas
    are appended after the last </Folder> (the autotest's documented
    FIXME), and a featureless single layer still gets its folder at
    close. Each layer: {"name": str, "fields": [(name, type)],
    "features": [{"wkt": ..., "style": ..., <field>: value}]}."""
    out = [
        '<?xml version="1.0" encoding="utf-8" ?>\n',
        '<kml xmlns="http://www.opengis.net/kml/2.2">\n'
        f'<Document id="{document_id}">\n',
    ]
    schema_written = [False] * len(layers)
    any_folder_open = False
    for li, layer in enumerate(layers):
        lname = _xml_escape(layer["name"])
        fields = layer.get("fields") or []
        ftypes = {f[0]: f[1].lower() for f in fields}
        if li > 0:
            if li == 1 and not (layers[0].get("features") or []):
                out.append(f"<Folder><name>{_xml_escape(layers[0]['name'])}</name>\n")
            out.append("</Folder>\n")
            out.append(f"<Folder><name>{lname}</name>\n")
            any_folder_open = True
        n = 0
        for feat in layer.get("features") or []:
            n += 1
            if li == 0 and n == 1:
                out.append(
                    _write_schema(lname, fields, name_field, description_field)
                )
                schema_written[0] = True
                out.append(f"<Folder><name>{lname}</name>\n")
                any_folder_open = True
            out.append(f'  <Placemark id="{lname}.{n}">\n')
            for special, tag in (
                (name_field, "name"),
                (description_field, "description"),
            ):
                if not special:
                    continue
                for fname in ftypes:
                    if fname.lower() == special.lower() and feat.get(fname) is not None:
                        raw = str(feat[fname]).lstrip(" ")
                        out.append(f"\t<{tag}>{_xml_escape(raw)}</{tag}>\n")
            wkt = feat.get("wkt")
            gkind = (
                re.match(r"\s*([A-Za-z]+)", wkt).group(1).upper() if wkt else ""
            )
            flat = gkind
            if flat == "GEOMETRYCOLLECTION":
                flat = ""
            if flat in _STYLED:
                pen = _parse_pen_style(feat.get("style"))
                out.append("\t<Style>")
                if pen and pen[0] != "default":
                    out.append(
                        f"<LineStyle><color>{pen[0]}</color>"
                        f"<width>{pen[1]:g}</width></LineStyle>"
                    )
                else:
                    out.append(
                        "<LineStyle><color>ff0000ff</color></LineStyle>"
                    )
                out.append("<PolyStyle><fill>0</fill></PolyStyle></Style>\n")
            other = [
                (fname, feat[fname])
                for fname, _ in fields
                if feat.get(fname) is not None
                and not (name_field and fname.lower() == name_field.lower())
                and not (
                    description_field
                    and fname.lower() == description_field.lower()
                )
            ]
            if other:
                out.append(
                    f'\t<ExtendedData><SchemaData schemaUrl="#{lname}">\n'
                )
                for fname, v in other:
                    ftype = ftypes.get(fname, "string")
                    txt = _field_value_str(v, ftype).lstrip(" ")
                    if ftype not in ("float", "real"):
                        txt = _xml_escape(txt)
                    out.append(
                        f'\t\t<SimpleData name="{fname}">{txt}</SimpleData>\n'
                    )
                out.append("\t</SchemaData></ExtendedData>\n")
            if wkt:
                out.append(
                    f"      {geometry_to_kml(wkt, altitude_mode)}\n"
                )
            out.append("  </Placemark>\n")
    if layers:
        if len(layers) == 1 and not (layers[0].get("features") or []):
            out.append(
                f"<Folder><name>{_xml_escape(layers[0]['name'])}</name>\n"
            )
            any_folder_open = True
        out.append("</Folder>\n")
        for li, layer in enumerate(layers):
            if not schema_written[li] and (layer.get("features") or []):
                out.append(
                    _write_schema(
                        _xml_escape(layer["name"]),
                        layer.get("fields") or [],
                        name_field,
                        description_field,
                    )
                )
    out.append("</Document></kml>\n")
    return "".join(out)
