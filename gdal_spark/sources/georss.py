"""GeoRSS driver (ogr/ogrsf_frmts/georss/).

Reference semantics (re-derived):
  - RSS 2.0 <item> and Atom <entry> elements are features
  - georss:point/line/polygon hold lat-lon pairs (axis swap to x=lon);
    georss:box "latmin lonmin latmax lonmax" becomes the ring
    (lonmin latmin, lonmin latmax, lonmax latmax, lonmax latmin, close);
    georss:where wraps GML (delegated to the engine's GML codec)
  - repeated child elements get numbered field names (category,
    category2, ...); attributes become <field>_<attr> fields
  - Atom compound elements flatten to author_name/author_uri/...;
    <content> keeps its inner XML as the field value with
    content_type/content_xml_lang/content_xml_base attribute fields
  - RFC822 and ISO8601 dates normalize to "YYYY/MM/DD HH:MM:SS+ZZ"
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

__all__ = ["georss_features", "georss_write", "read_georss"]

_GEORSS_NS = "http://www.georss.org/georss"

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}

_RFC822 = re.compile(
    r"(?:\w{3},\s*)?(\d{1,2})\s+(\w{3})\s+(\d{4})\s+"
    r"(\d{2}):(\d{2}):(\d{2})\s*([+-]\d{4}|\w{2,3})?")
_ISO = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})"
    r"(?:\.\d+)?(Z|[+-]\d{2}:?\d{2})?")


def _tz_suffix(tz: str | None) -> str:
    if not tz or tz in ("Z", "GMT", "UT", "UTC"):
        return "+00"
    if tz.startswith(("+", "-")):
        tz = tz.replace(":", "")
        hh, mm = tz[:3], tz[3:5]
        return hh if mm in ("", "00") else f"{hh}:{mm}"
    return "+00"


def _norm_date(s: str) -> str:
    s = s.strip()
    m = _RFC822.match(s)
    if m:
        d, mon, y, hh, mm, ss, tz = m.groups()
        return "%s/%02d/%02d %s:%s:%s%s" % (
            y, _MONTHS.get(mon, 1), int(d), hh, mm, ss, _tz_suffix(tz))
    m = _ISO.match(s)
    if m:
        y, mo, d, hh, mm, ss, tz = m.groups()
        return f"{y}/{mo}/{d} {hh}:{mm}:{ss}{_tz_suffix(tz)}"
    return s


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _fmt(v: float) -> str:
    return "%.15g" % v


def _latlon_pairs(text: str) -> list[tuple[float, float]]:
    vals = [float(t) for t in (text or "").split()]
    return [(vals[i + 1], vals[i]) for i in range(0, len(vals) - 1, 2)]


def _coords(pts) -> str:
    return ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


def _geom_of(el) -> str | None:
    tag = _strip(el.tag)
    if tag == "point":
        pts = _latlon_pairs(el.text)
        return f"POINT ({_coords(pts)})" if pts else None
    if tag == "line":
        pts = _latlon_pairs(el.text)
        return f"LINESTRING ({_coords(pts)})" if pts else None
    if tag == "polygon":
        pts = _latlon_pairs(el.text)
        return f"POLYGON (({_coords(pts)}))" if pts else None
    if tag == "box":
        vals = [float(t) for t in (el.text or "").split()]
        if len(vals) < 4:
            return None
        lat0, lon0, lat1, lon1 = vals[:4]
        ring = [(lon0, lat0), (lon0, lat1), (lon1, lat1), (lon1, lat0),
                (lon0, lat0)]
        return f"POLYGON (({_coords(ring)}))"
    if tag == "where":
        from gdal_spark.sources.gml import gml_to_wkt
        for child in el:
            try:
                return gml_to_wkt(ET.tostring(child, encoding="unicode"))
            except Exception:
                continue
    return None


_DATE_FIELDS = {"pubDate", "updated", "published", "lastBuildDate", "dc:date"}
_COMPOUND = {"author", "contributor"}


def _feature_of(item) -> dict:
    feat: dict = {}
    counts: dict[str, int] = {}

    def field_base(name: str) -> str:
        counts[name] = counts.get(name, 0) + 1
        return name if counts[name] == 1 else f"{name}{counts[name]}"

    for el in item:
        tag = _strip(el.tag)
        if el.tag.startswith("{%s}" % _GEORSS_NS) or tag in (
                "point", "line", "polygon", "box", "where"):
            wkt = _geom_of(el)
            if wkt:
                feat["wkt"] = wkt
            continue
        base = field_base(tag)
        if tag in _COMPOUND:
            for sub in el:
                sv = (sub.text or "").strip()
                feat[f"{base}_{_strip(sub.tag)}"] = sv
            if not len(el) and (el.text or "").strip():
                feat[base] = el.text.strip()
            continue
        if tag == "content":
            # keep xhtml children serialized with a default namespace,
            # like the reference's raw inner-XML capture
            ET.register_namespace("", "http://www.w3.org/1999/xhtml")
            inner = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in el)
            feat[base] = inner.strip()
        else:
            v = (el.text or "").strip()
            if tag in _DATE_FIELDS:
                v = _norm_date(v)
            if v or not len(el):
                feat[base] = v
        for k, av in el.attrib.items():
            ak = _strip(k)
            if ak.startswith("{http://www.w3.org/XML/1998/namespace}") or \
                    k.startswith("{http://www.w3.org/XML/1998/namespace}"):
                ak = "xml_" + k.rsplit("}", 1)[-1]
            feat[f"{base}_{ak}"] = av
    return feat


def georss_features(data: bytes | str) -> list[dict]:
    text = data.decode("utf-8", "replace") if isinstance(data, bytes) \
        else data
    root = ET.fromstring(text)
    feats = []
    tag = _strip(root.tag)
    if tag == "rss":
        for item in root.iter():
            if _strip(item.tag) == "item":
                feats.append(_feature_of(item))
    elif tag == "feed":
        for entry in list(root):
            if _strip(entry.tag) == "entry":
                feats.append(_feature_of(entry))
        if not feats:  # a feed that is itself a single entry
            feats.append(_feature_of(root))
    elif tag == "entry":
        feats.append(_feature_of(root))
    else:
        raise ValueError("not a GeoRSS document")
    return feats


def _wkt_nums(wkt: str) -> list[tuple[float, float]]:
    body = wkt[wkt.index("(") + 1:].replace("(", " ").replace(")", " ")
    toks = body.replace(",", " , ").split()
    pts = []
    cur: list[float] = []
    for t in toks:
        if t == ",":
            cur = []
            continue
        cur.append(float(t))
        if len(cur) == 2:
            pts.append((cur[0], cur[1]))
    return pts


def georss_write(feats: list[dict], use_atom: bool = False) -> str:
    """RSS 2.0 (simple dialect) writer mirroring ogrgeorsswriter's
    element order: known item fields, then categories, then geometry."""
    out = ['<?xml version="1.0"?>\n']
    out.append('<rss version="2.0" xmlns:georss='
               '"http://www.georss.org/georss">\n')
    out.append("  <channel>\n    <title>OGR</title>\n")
    for f in feats:
        out.append("    <item>\n")
        for k in ("title", "author", "link", "pubDate", "description"):
            if f.get(k) is not None:
                out.append(f"      <{k}>{f[k]}</{k}>\n")
        i = 1
        while True:
            key = "category" if i == 1 else f"category{i}"
            if f.get(key) is None:
                break
            dom = f.get(key + "_domain")
            attr = f' domain="{dom}"' if dom else ""
            out.append(f"      <category{attr}>{f[key]}</category>\n")
            i += 1
        wkt = f.get("wkt")
        if wkt:
            pts = _wkt_nums(wkt)
            body = " ".join(f"{_fmt(y)} {_fmt(x)}" for x, y in pts)
            if wkt.startswith("POINT"):
                out.append(f"      <georss:point>{body}</georss:point>\n")
            elif wkt.startswith("LINESTRING"):
                out.append(f"      <georss:line>{body}</georss:line>\n")
            else:
                out.append(f"      <georss:polygon>{body}</georss:polygon>\n")
        out.append("    </item>\n")
    out.append("  </channel>\n</rss>\n")
    return "".join(out)


def read_georss(spark, path: str):
    with open(path, "rb") as fh:
        feats = georss_features(fh.read())
    rows = [(f.get("title"), f.get("wkt"),
             {k: str(v) for k, v in f.items()
              if k not in ("wkt",) and v is not None}) for f in feats]
    return spark.createDataFrame(
        rows, "title string, wkt string, fields map<string,string>")
