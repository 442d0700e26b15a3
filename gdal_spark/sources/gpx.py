"""GPX driver — ogr/ogrsf_frmts/gpx (ogrgpxlayer.cpp).

Five layers, exactly the reference's model:

  * waypoints     <wpt>        -> POINT(lon lat)
  * routes        <rte>        -> LINESTRING of <rtept> (no points ->
                                  LINESTRING EMPTY)
  * route_points  <rtept>      -> POINT + route_fid / route_point_id
  * tracks        <trk>        -> MULTILINESTRING of non-empty <trkseg>
                                  (none -> MULTILINESTRING EMPTY)
  * track_points  <trkpt>      -> POINT + track_fid / track_seg_id /
                                  track_seg_point_id

Point fields (ogrgpxlayer.cpp field set): ele, time, magvar,
geoidheight, name, cmt, desc, src, link1_href/text/type,
link2_href/text/type, sym, type, fix, sat, hdop, vdop, pdop,
ageofdgpsdata, dgpsid. Route/track fields: name, cmt, desc, src,
link1_*/link2_*, number, type. Times are converted to the OGR datetime
string convention ("2007/11/25 17:58:00+01"). Only the first two
<link> elements populate fields (the reference's default
GPX_N_MAX_LINKS=2).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET


_PT_FLOAT = ("ele", "magvar", "geoidheight", "hdop", "vdop", "pdop",
             "ageofdgpsdata")
_PT_INT = ("sat", "dgpsid")
_PT_STR = ("name", "cmt", "desc", "src", "sym", "type", "fix")
_RT_STR = ("name", "cmt", "desc", "src", "type")

WAYPOINT_FIELDS = (
    "ele", "time", "magvar", "geoidheight", "name", "cmt", "desc", "src",
    "link1_href", "link1_text", "link1_type",
    "link2_href", "link2_text", "link2_type",
    "sym", "type", "fix", "sat", "hdop", "vdop", "pdop",
    "ageofdgpsdata", "dgpsid",
)
ROUTE_FIELDS = (
    "name", "cmt", "desc", "src",
    "link1_href", "link1_text", "link1_type",
    "link2_href", "link2_text", "link2_type",
    "number", "type",
)


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _ogr_time(iso: str) -> str:
    """ISO-8601 -> OGR datetime string: 2007-11-25T17:58:00+01:00 ->
    '2007/11/25 17:58:00+01' (whole-hour offsets collapse, Z -> +00)."""
    m = re.match(
        r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)"
        r"(Z|[+-]\d{2}:?\d{2})?",
        iso.strip(),
    )
    if not m:
        return iso
    y, mo, d, h, mi, s, tz = m.groups()
    s_main = f"{y}/{mo}/{d} {h}:{mi}:{s}"
    if tz is None:
        return s_main
    if tz == "Z":
        return s_main + "+00"
    sign, rest = tz[0], tz[1:].replace(":", "")
    hh, mm = rest[:2], rest[2:] or "00"
    return s_main + (f"{sign}{hh}" if mm == "00" else f"{sign}{hh}{mm}")


def _point_fields(el) -> dict:
    out: dict = {}
    links = []
    for ch in el:
        t = _strip(ch.tag)
        txt = (ch.text or "").strip()
        if t in _PT_FLOAT and txt:
            out[t] = float(txt)
        elif t in _PT_INT and txt:
            out[t] = int(txt)
        elif t in _PT_STR and txt:
            out[t] = txt
        elif t == "time" and txt:
            out["time"] = _ogr_time(txt)
        elif t == "link":
            links.append(ch)
    for i, ln in enumerate(links[:2], start=1):
        out[f"link{i}_href"] = ln.get("href")
        for ch in ln:
            t = _strip(ch.tag)
            if t in ("text", "type") and ch.text:
                out[f"link{i}_{t}"] = ch.text.strip()
    return out


def _container_fields(el) -> dict:
    out: dict = {}
    links = []
    for ch in el:
        t = _strip(ch.tag)
        txt = (ch.text or "").strip()
        if t in _RT_STR and txt:
            out[t] = txt
        elif t == "number" and txt:
            out["number"] = int(txt)
        elif t == "link":
            links.append(ch)
    for i, ln in enumerate(links[:2], start=1):
        out[f"link{i}_href"] = ln.get("href")
        for ch in ln:
            t = _strip(ch.tag)
            if t in ("text", "type") and ch.text:
                out[f"link{i}_{t}"] = ch.text.strip()
    return out


def _fmt(v: float) -> str:
    s = f"{v:.15g}"
    return s


def parse_gpx(text: str) -> dict[str, list[dict]]:
    """-> {layer: [{'wkt': ..., fields...}]} for the five GPX layers."""
    root = ET.fromstring(text)
    layers: dict[str, list[dict]] = {
        "waypoints": [],
        "routes": [],
        "route_points": [],
        "tracks": [],
        "track_points": [],
    }
    route_fid = 0
    track_fid = 0
    for el in root:
        tag = _strip(el.tag)
        if tag == "wpt":
            lon, lat = el.get("lon"), el.get("lat")
            f = _point_fields(el)
            f["wkt"] = f"POINT ({_fmt(float(lon))} {_fmt(float(lat))})"
            layers["waypoints"].append(f)
        elif tag == "rte":
            f = _container_fields(el)
            pts = []
            point_id = 0
            for ch in el:
                if _strip(ch.tag) != "rtept":
                    continue
                lon, lat = float(ch.get("lon")), float(ch.get("lat"))
                pf = _point_fields(ch)
                pf["route_fid"] = route_fid
                pf["route_point_id"] = point_id
                pf["wkt"] = f"POINT ({_fmt(lon)} {_fmt(lat)})"
                layers["route_points"].append(pf)
                pts.append((lon, lat))
                point_id += 1
            f["wkt"] = (
                "LINESTRING ("
                + ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
                + ")"
                if pts
                else "LINESTRING EMPTY"
            )
            layers["routes"].append(f)
            route_fid += 1
        elif tag == "trk":
            f = _container_fields(el)
            segs = []
            seg_id = 0
            for ch in el:
                if _strip(ch.tag) != "trkseg":
                    continue
                pts = []
                pt_id = 0
                for pt in ch:
                    if _strip(pt.tag) != "trkpt":
                        continue
                    lon, lat = float(pt.get("lon")), float(pt.get("lat"))
                    pf = _point_fields(pt)
                    pf["track_fid"] = track_fid
                    pf["track_seg_id"] = seg_id
                    pf["track_seg_point_id"] = pt_id
                    pf["wkt"] = f"POINT ({_fmt(lon)} {_fmt(lat)})"
                    layers["track_points"].append(pf)
                    pts.append((lon, lat))
                    pt_id += 1
                if pts:  # empty <trkseg> contributes nothing
                    segs.append(pts)
                seg_id += 1
            f["wkt"] = (
                "MULTILINESTRING ("
                + ",".join(
                    "(" + ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in s) + ")"
                    for s in segs
                )
                + ")"
                if segs
                else "MULTILINESTRING EMPTY"
            )
            layers["tracks"].append(f)
            track_fid += 1
    return layers


# ---------------------------------------------------------------------------
# Write path (ogrgpxlayer.cpp WriteFeature paths, :1380-1610)
# ---------------------------------------------------------------------------


def _fmt_coord(v: float) -> str:
    """OGRFormatDouble with '.' separator: trailing zeros trimmed but at
    least one decimal digit kept (49 -> '49.0')."""
    s = f"{float(v):.15f}".rstrip("0")
    return s + "0" if s.endswith(".") else s


def write_gpx(
    waypoints: list[dict] | None = None,
    route_points: list[dict] | None = None,
    track_points: list[dict] | None = None,
    creator: str = "gdal_spark",
) -> str:
    """Serialize the GPX layers the way the reference writer does
    (two-space nesting, LF lines). route_points rows carry
    (lon, lat, route_fid[, route_name]); a new <rte> opens when
    route_fid changes and route_name is honored only on the route's
    FIRST point (ogr_gpx_8 semantics — later names are ignored).
    track_points rows carry (lon, lat, track_fid, track_seg_id
    [, track_name]) with the same first-point rule per track."""
    out = [
        '<?xml version="1.0"?>',
        f'<gpx version="1.1" creator="{creator}" '
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
        'xmlns="http://www.topografix.com/GPX/1/1" '
        'xsi:schemaLocation="http://www.topografix.com/GPX/1/1 '
        'http://www.topografix.com/GPX/1/1/gpx.xsd">',
    ]
    for w in waypoints or []:
        out.append(
            f'<wpt lat="{_fmt_coord(w["lat"])}" lon="{_fmt_coord(w["lon"])}">'
        )
        for tag in ("ele", "time", "name", "cmt", "desc", "src"):
            if w.get(tag) is not None:
                out.append(f"  <{tag}>{w[tag]}</{tag}>")
        out.append("</wpt>")

    cur_fid = None
    for p in route_points or []:
        if p["route_fid"] != cur_fid:
            if cur_fid is not None:
                out.append("</rte>")
            out.append("<rte>")
            if p.get("route_name"):
                out.append(f"  <name>{p['route_name']}</name>")
            cur_fid = p["route_fid"]
        out.append(
            f'  <rtept lat="{_fmt_coord(p["lat"])}" '
            f'lon="{_fmt_coord(p["lon"])}">'
        )
        out.append("  </rtept>")
    if cur_fid is not None:
        out.append("</rte>")

    cur_fid = None
    cur_seg = None
    for p in track_points or []:
        if p["track_fid"] != cur_fid:
            if cur_fid is not None:
                out.append("  </trkseg>")
                out.append("</trk>")
            out.append("<trk>")
            if p.get("track_name"):
                out.append(f"  <name>{p['track_name']}</name>")
            out.append("  <trkseg>")
            cur_fid, cur_seg = p["track_fid"], p["track_seg_id"]
        elif p["track_seg_id"] != cur_seg:
            out.append("  </trkseg>")
            out.append("  <trkseg>")
            cur_seg = p["track_seg_id"]
        out.append(
            f'    <trkpt lat="{_fmt_coord(p["lat"])}" '
            f'lon="{_fmt_coord(p["lon"])}">'
        )
        out.append("    </trkpt>")
    if cur_fid is not None:
        out.append("  </trkseg>")
        out.append("</trk>")

    out.append("</gpx>")
    return "\n".join(out) + "\n"
