"""LVBAG (Dutch Kadaster BAG 2.0 extract) reader.

Re-expresses ogr/ogrsf_frmts/lvbag/: one layer per bagStand object
type with the reference's exact field schema order (type-specific
fields, then identificatie, the document block, the occurrence
block), the identificatie normalization (15-digit ids zero-padded to
16, ids longer than 16 nulled, then prefixed with the ``domein``
attribute), Objecten-ref references with the same rule, J/N boolean
geconstateerd, OGR-style date (YYYY/MM/DD) and datetime
(YYYY/MM/DD HH:MM:SS[.mmm]) rendering, string-list fields
(nevenadres, gebruiksdoel, pandRef), GML polygon / point /
multi-surface geometry with the EPSG code from srsName, and the
v20200601 schema gate (older extracts expose zero layers).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

__all__ = ["lvbag_open", "LVBAGLayer"]

_SCHEMA_NS = "www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"

# object element -> (layer name, geometry type, type-specific fields)
_SCHEMAS = {
    "Pand": ("Pand", "POLYGON", [("oorspronkelijkBouwjaar", "int")]),
    "Nummeraanduiding": ("Nummeraanduiding", None, [
        ("huisnummer", "int"), ("huisletter", "str"),
        ("huisnummerToevoeging", "str"), ("postcode", "str"),
        ("typeAdresseerbaarObject", "str"), ("openbareruimteRef", "str"),
        ("woonplaatsRef", "str"),
    ]),
    "Ligplaats": ("Ligplaats", "POLYGON", [
        ("hoofdadresNummeraanduidingRef", "str"),
        ("nevenadresNummeraanduidingRef", "strlist"),
    ]),
    "Standplaats": ("Standplaats", "POLYGON", [
        ("hoofdadresNummeraanduidingRef", "str"),
        ("nevenadresNummeraanduidingRef", "strlist"),
    ]),
    "OpenbareRuimte": ("Openbareruimte", None, [
        ("naam", "str"), ("type", "str"), ("woonplaatsRef", "str"),
        ("verkorteNaam", "str"),
    ]),
    "Verblijfsobject": ("Verblijfsobject", "POINT", [
        ("gebruiksdoel", "strlist"), ("oppervlakte", "int"),
        ("hoofdadresNummeraanduidingRef", "str"),
        ("nevenadresNummeraanduidingRef", "strlist"),
        ("pandRef", "strlist"),
    ]),
    "Woonplaats": ("Woonplaats", "MULTIPOLYGON", [("naam", "str")]),
}

_DOC_FIELDS = [("status", "str"), ("geconstateerd", "bool"),
               ("documentDatum", "date"), ("documentNummer", "str")]
_OCC_FIELDS = [
    ("voorkomenIdentificatie", "int"), ("beginGeldigheid", "date"),
    ("eindGeldigheid", "date"), ("tijdstipRegistratie", "datetime"),
    ("eindRegistratie", "datetime"), ("tijdstipInactief", "datetime"),
    ("tijdstipRegistratieLV", "datetime"),
    ("tijdstipEindRegistratieLV", "datetime"),
    ("tijdstipInactiefLV", "datetime"), ("tijdstipNietBagLV", "datetime"),
]


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _date(s: str) -> str:
    return s.replace("-", "/")


def _datetime(s: str) -> str:
    s = s.strip()
    m = re.match(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}:\d{2}:\d{2})(\.\d+)?", s)
    if not m:
        return s
    out = f"{m.group(1)}/{m.group(2)}/{m.group(3)} {m.group(4)}"
    frac = m.group(5)
    if frac and float(frac) != 0.0:
        out += frac.rstrip("0")
    return out


def _fix_id(text: str, domein: str | None) -> str | None:
    """Zero-pad 15-digit ids; null >16; prefix with the domein."""
    text = (text or "").strip()
    if len(text) == 15:
        text = "0" + text
    elif len(text) > 16:
        return None
    if domein:
        return f"{domein}.{text}"
    return text


def _find_first(el, name):
    for c in el.iter():
        if _strip(c.tag) == name:
            return c
    return None


class LVBAGLayer:
    def __init__(self, name, geom_type, fields):
        self.name = name
        self.geom_type = geom_type
        self.fields = fields  # [(name, type), ...]
        self.features = []   # [{"fields": {...}, "wkt": str|None, "epsg"}]
        self.epsg = None

    @property
    def feature_count(self):
        return len(self.features)

    @property
    def field_names(self):
        return [f[0] for f in self.fields]


def _parse_geometry(geom_el):
    """-> (wkt, epsg) for Polygon / Point / MultiSurface children."""
    for sub in geom_el.iter():
        t = _strip(sub.tag)
        if t in ("Polygon", "Point", "MultiSurface"):
            epsg = None
            srs = sub.get("srsName") or ""
            m = re.search(r"EPSG:?:?(\d+)", srs)
            if m:
                epsg = int(m.group(1))
            dim = int(sub.get("srsDimension") or 2)

            def coords(el):
                vals = [float(v) for v in (el.text or "").split()]
                return [(vals[i], vals[i + 1])
                        for i in range(0, len(vals) - 1, dim)]

            if t == "Point":
                pos = _find_first(sub, "pos")
                x, y = coords(pos)[0]
                return f"POINT ({x:.15g} {y:.15g})", epsg
            if t == "Polygon":
                rings = []
                for ring_el in sub.iter():
                    if _strip(ring_el.tag) in ("posList",):
                        rings.append(coords(ring_el))
                body = ",".join(
                    "(" + ",".join(f"{x:.15g} {y:.15g}" for x, y in r) + ")"
                    for r in rings
                )
                return f"POLYGON ({body})", epsg
            # MultiSurface
            polys = []
            for p in sub.iter():
                if _strip(p.tag) == "Polygon":
                    rings = []
                    for ring_el in p.iter():
                        if _strip(ring_el.tag) == "posList":
                            rings.append(coords(ring_el))
                    polys.append(rings)
            body = ",".join(
                "(" + ",".join(
                    "(" + ",".join(f"{x:.15g} {y:.15g}" for x, y in r) + ")"
                    for r in rings
                ) + ")"
                for rings in polys
            )
            return f"MULTIPOLYGON ({body})", epsg
    return None, None


def _parse_object(obj, layer: LVBAGLayer):
    fields: dict = {}
    # type-specific and document fields by local tag
    direct = {
        "oorspronkelijkBouwjaar": "oorspronkelijkBouwjaar",
        "huisnummer": "huisnummer", "huisletter": "huisletter",
        "huisnummertoevoeging": "huisnummerToevoeging",
        "postcode": "postcode",
        "typeAdresseerbaarObject": "typeAdresseerbaarObject",
        "naam": "naam", "type": "type", "verkorteNaam": "verkorteNaam",
        "oppervlakte": "oppervlakte",
        "status": "status", "documentdatum": "documentDatum",
        "documentnummer": "documentNummer",
        "geconstateerd": "geconstateerd",
    }
    types = dict(layer.fields)

    def set_field(name, raw):
        t = types.get(name)
        if t is None or raw is None:
            return
        raw = raw.strip() if isinstance(raw, str) else raw
        if t == "int":
            fields[name] = int(raw)
        elif t == "bool":
            fields[name] = 1 if str(raw).upper() == "J" else 0
        elif t == "date":
            fields[name] = _date(raw)
        elif t == "datetime":
            fields[name] = _datetime(raw)
        elif t == "strlist":
            fields.setdefault(name, []).append(raw)
        else:
            fields[name] = raw

    wkt = None
    for child in obj:
        tag = _strip(child.tag)
        low = tag
        if low in direct and child.text and child.text.strip():
            set_field(direct[low], child.text)
        elif low == "identificatie":
            fields["identificatie"] = _fix_id(child.text, child.get("domein"))
        elif low == "heeftAlsHoofdadres":
            ref = _find_first(child, "NummeraanduidingRef")
            if ref is not None:
                set_field("hoofdadresNummeraanduidingRef",
                          _fix_id(ref.text, ref.get("domein")))
        elif low == "heeftAlsNevenadres":
            for ref in child.iter():
                if _strip(ref.tag) == "NummeraanduidingRef":
                    set_field("nevenadresNummeraanduidingRef",
                              _fix_id(ref.text, ref.get("domein")))
        elif low == "maaktDeelUitVan":
            for ref in child.iter():
                if _strip(ref.tag) == "PandRef":
                    set_field("pandRef", _fix_id(ref.text, ref.get("domein")))
        elif low == "ligtAan":
            ref = _find_first(child, "OpenbareRuimteRef")
            if ref is not None:
                set_field("openbareruimteRef",
                          _fix_id(ref.text, ref.get("domein")))
        elif low == "ligtIn":
            ref = _find_first(child, "WoonplaatsRef")
            if ref is not None:
                set_field("woonplaatsRef",
                          _fix_id(ref.text, ref.get("domein")))
        elif low == "gebruiksdoel":
            set_field("gebruiksdoel", child.text)
        elif low == "verkorteNaam":
            # nested nen5825 VerkorteNaamOpenbareRuimte/verkorteNaam
            for sub in child.iter():
                if sub is not child and _strip(sub.tag) == "verkorteNaam" \
                        and sub.text and sub.text.strip():
                    set_field("verkorteNaam", sub.text)
                    break
        elif low == "voorkomen":
            for sub in child.iter():
                st = _strip(sub.tag)
                if st == "voorkomenidentificatie":
                    set_field("voorkomenIdentificatie", sub.text)
                elif st in ("beginGeldigheid", "eindGeldigheid"):
                    set_field(st, sub.text)
                elif st.startswith("tijdstip") or st == "eindRegistratie":
                    set_field(st, sub.text)
        elif low in ("geometrie", "punt"):
            wkt, epsg = _parse_geometry(child)
            if epsg and layer.epsg is None:
                layer.epsg = epsg
    layer.features.append({"fields": fields, "wkt": wkt})


class LVBAGDataSource:
    def __init__(self, path: str):
        root = ET.fromstring(open(path, "rb").read())
        self.layers: list[LVBAGLayer] = []
        # schema gate: the v20200601 objecten namespace must appear
        blob = open(path, "rb").read(4096).decode("latin-1", "replace")
        if _SCHEMA_NS not in blob:
            return
        by_name: dict[str, LVBAGLayer] = {}
        for el in root.iter():
            tag = _strip(el.tag)
            if tag in _SCHEMAS and "objecten/v20200601" in el.tag:
                name, geom_type, extra = _SCHEMAS[tag]
                if name not in by_name:
                    fields = (list(extra)
                              + [("identificatie", "str")]
                              + _DOC_FIELDS + _OCC_FIELDS)
                    # the reference puts hoofdadres/nevenadres before the
                    # other vbo fields in the file order they appear; the
                    # declared schema order above matches the autotest
                    by_name[name] = LVBAGLayer(name, geom_type, fields)
                    self.layers.append(by_name[name])
                _parse_object(el, by_name[name])

    @property
    def layer_count(self):
        return len(self.layers)


def lvbag_open(path: str) -> LVBAGDataSource:
    return LVBAGDataSource(path)
