"""TopoJSON and ESRIJSON vector drivers.

Reference semantics (re-derived, not ported):

  TopoJSON   ogr/ogrsf_frmts/geojson/ogrtopojsonreader.cpp
    - "objects" may be an array (non-standard) or a dict
    - GeometryCollection objects become their own layer (named by
      their "id" in array form / their dict key); everything else
      goes to one layer named "TopoJSON"
    - with a "transform": arcs are delta-encoded and quantized
      (pos = translate + scale * cumsum); points transform directly;
      without one, coordinates are absolute
    - negative arc index k means the ones'-complement arc ~k reversed
    - consecutive arcs in a line drop the duplicated junction point
    - objects missing their "arcs"/"coordinates" member (or with a
      non-list one) are skipped; structurally-invalid member contents
      yield an EMPTY geometry of the declared type
    - "id" values are exposed as strings; properties become fields

  ESRIJSON   ogr/ogrsf_frmts/geojson/ogresrijsonreader.cpp
    - geometryType esriGeometryPoint/Multipoint/Polyline/Polygon
    - geometry forms {x,y[,z[,m]]}, {points}, {paths}, {rings}
      with hasZ/hasM flags
    - rings are nested into polygons by geom.organize_polygons (the
      reader's organizePolygons call), always as MULTIPOLYGON
    - esriFieldTypeDate attributes are epoch milliseconds (UTC)

Both parsers accept trailing commas like the reference's json-c.
"""

from __future__ import annotations

import datetime
import json
import re

from gdal_spark.functions import geom as G

__all__ = ["topojson_layers", "esrijson_features", "esrijson_geom_wkt",
           "read_topojson", "read_esrijson"]

_TRAILING_COMMA = re.compile(r",(\s*[}\]])")


def _loads_lenient(text: str):
    return json.loads(_TRAILING_COMMA.sub(r"\1", text))


# ---------------------------------------------------------------------------
# TopoJSON
# ---------------------------------------------------------------------------

def _decode_arcs(raw_arcs, transform):
    arcs = []
    for arc in raw_arcs:
        if not isinstance(arc, list):
            arcs.append(None)
            continue
        pts = []
        if transform:
            sx, sy = transform["scale"]
            tx, ty = transform["translate"]
            ax = ay = 0
            for p in arc:
                if not isinstance(p, list) or len(p) < 2 or \
                        p[0] is None or p[1] is None:
                    pts = []
                    break
                ax += p[0]
                ay += p[1]
                pts.append((tx + sx * ax, ty + sy * ay))
        else:
            for p in arc:
                if not isinstance(p, list) or len(p) < 2 or \
                        p[0] is None or p[1] is None:
                    pts = []
                    break
                pts.append((float(p[0]), float(p[1])))
        arcs.append(pts if len(pts) >= 2 else None)
    return arcs


def _line_coords(arc_idxs, arcs):
    if not isinstance(arc_idxs, list):
        return None
    out: list[tuple] = []
    for idx in arc_idxs:
        if not isinstance(idx, int) or isinstance(idx, bool):
            return []
        a = ~idx if idx < 0 else idx
        if a >= len(arcs) or arcs[a] is None:
            return []
        pts = arcs[a] if idx >= 0 else arcs[a][::-1]
        out.extend(pts[1:] if out and out[-1] == pts[0] else pts)
    return out


def _pt(c, transform):
    if not isinstance(c, list) or len(c) < 2 or c[0] is None or c[1] is None:
        return None
    x, y = float(c[0]), float(c[1])
    if transform:
        sx, sy = transform["scale"]
        tx, ty = transform["translate"]
        x, y = tx + sx * x, ty + sy * y
    return (x, y)


def _fmt(v: float) -> str:
    s = "%.15g" % v
    return s


def _coords_wkt(pts) -> str:
    return ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


def _topo_geom_wkt(obj, arcs, transform) -> str | None:
    """-> WKT, or None when the object must be skipped entirely."""
    t = obj.get("type")
    if t == "Point":
        if not isinstance(obj.get("coordinates"), list):
            return None
        p = _pt(obj["coordinates"], transform)
        return f"POINT ({_fmt(p[0])} {_fmt(p[1])})" if p else "POINT EMPTY"
    if t == "MultiPoint":
        if not isinstance(obj.get("coordinates"), list):
            return None
        pts = [_pt(c, transform) for c in obj["coordinates"]]
        pts = [p for p in pts if p]
        return "MULTIPOINT (%s)" % _coords_wkt(pts) if pts \
            else "MULTIPOINT EMPTY"
    if t == "LineString":
        coords = _line_coords(obj.get("arcs"), arcs)
        if coords is None:
            return None
        return "LINESTRING (%s)" % _coords_wkt(coords) if len(coords) >= 2 \
            else "LINESTRING EMPTY"
    if t == "MultiLineString":
        if not isinstance(obj.get("arcs"), list):
            return None
        lines = []
        for sub in obj["arcs"]:
            if not isinstance(sub, list):
                continue
            coords = _line_coords(sub, arcs)
            if coords and len(coords) >= 2:
                lines.append(coords)
        return "MULTILINESTRING (%s)" % ",".join(
            "(%s)" % _coords_wkt(ln) for ln in lines) if lines \
            else "MULTILINESTRING EMPTY"
    if t == "Polygon":
        if not isinstance(obj.get("arcs"), list):
            return None
        rings = []
        for sub in obj["arcs"]:
            if not isinstance(sub, list):
                continue
            coords = _line_coords(sub, arcs)
            if coords and len(coords) >= 2:
                rings.append(coords)
        return "POLYGON (%s)" % ",".join(
            "(%s)" % _coords_wkt(r) for r in rings) if rings \
            else "POLYGON EMPTY"
    if t == "MultiPolygon":
        if not isinstance(obj.get("arcs"), list):
            return None
        polys = []
        for polyarcs in obj["arcs"]:
            if not isinstance(polyarcs, list):
                continue
            rings = []
            for sub in polyarcs:
                if not isinstance(sub, list):
                    continue
                coords = _line_coords(sub, arcs)
                if coords and len(coords) >= 2:
                    rings.append(coords)
            if rings:
                polys.append(rings)
        return "MULTIPOLYGON (%s)" % ",".join(
            "(%s)" % ",".join("(%s)" % _coords_wkt(r) for r in rings)
            for rings in polys) if polys else "MULTIPOLYGON EMPTY"
    return None


def _topo_feature(obj, arcs, transform) -> dict | None:
    wkt = _topo_geom_wkt(obj, arcs, transform)
    if wkt is None:
        return None
    feat = {"wkt": wkt, "id": None}
    if "id" in obj and obj["id"] is not None:
        feat["id"] = str(obj["id"])
    props = obj.get("properties")
    if isinstance(props, dict):
        for k, v in props.items():
            feat[k] = None if v is None else str(v)
    return feat


def topojson_layers(data: bytes | str) -> dict[str, list[dict]]:
    text = data.decode("utf-8", "replace") if isinstance(data, bytes) \
        else data
    root = _loads_lenient(text)
    if root.get("type") != "Topology":
        raise ValueError("not a TopoJSON Topology")
    transform = root.get("transform")
    arcs = _decode_arcs(root.get("arcs", []), transform)

    layers: dict[str, list[dict]] = {}
    default: list[dict] = []
    objects = root.get("objects")
    items = objects.items() if isinstance(objects, dict) \
        else [(None, o) for o in (objects or [])]
    for key, obj in items:
        if not isinstance(obj, dict):
            continue
        if obj.get("type") == "GeometryCollection":
            name = key if key is not None else obj.get("id")
            geoms = obj.get("geometries")
            if not isinstance(geoms, list) or name is None:
                continue
            feats = []
            for g in geoms:
                if isinstance(g, dict):
                    f = _topo_feature(g, arcs, transform)
                    if f is not None:
                        feats.append(f)
            layers[str(name)] = feats
        else:
            f = _topo_feature(obj, arcs, transform)
            if f is not None:
                default.append(f)
    if default:
        layers["TopoJSON"] = default
    return layers


# ---------------------------------------------------------------------------
# ESRIJSON
# ---------------------------------------------------------------------------

def _xyzm(p, has_z, has_m):
    parts = [_fmt(float(p[0])), _fmt(float(p[1]))]
    i = 2
    if has_z:
        parts.append(_fmt(float(p[i])) if len(p) > i else "0")
        i += 1
    if has_m:
        parts.append(_fmt(float(p[i])) if len(p) > i else "0")
    return " ".join(parts)


def _zm_tag(has_z, has_m):
    if has_z and has_m:
        return " ZM"
    if has_m:
        return " M"
    return ""


def _eff_flags(geom: dict, pts, has_z: bool, has_m: bool
               ) -> tuple[bool, bool]:
    """hasZ/hasM come from the geometry object when present; otherwise a
    3-tuple infers Z (ogresrijsonreader.cpp). A declared flag with too few
    coordinates downgrades the whole geometry (invalid-hasZ fixture)."""
    if "hasZ" in geom or "hasM" in geom:
        has_z = bool(geom.get("hasZ"))
        has_m = bool(geom.get("hasM"))
    avail = min((len(p) for p in pts), default=2)
    if not has_z and not has_m and avail >= 3:
        has_z = True
        has_m = avail >= 4
    need = 2 + (1 if has_z else 0) + (1 if has_m else 0)
    if avail < need:
        if has_m and avail >= 3 and has_z:
            has_z, has_m = True, False
        elif avail >= 3:
            pass
        else:
            has_z = has_m = False
    return has_z, has_m


def esrijson_geom_wkt(geom: dict, has_z: bool = False, has_m: bool = False
                      ) -> str | None:
    if geom is None:
        return None
    if "x" in geom:
        if geom.get("x") is None:
            return "POINT EMPTY"
        p = [geom["x"], geom["y"]]
        if has_z or "z" in geom:
            has_z = True
            p.append(geom.get("z", 0))
        if has_m or "m" in geom:
            has_m = "m" in geom or has_m
            if has_m:
                p.append(geom.get("m", 0))
        return "POINT%s (%s)" % (_zm_tag(has_z, has_m),
                                 _xyzm(p, has_z, has_m))
    if "points" in geom:
        pts = geom["points"] or []
        if not pts:
            return "MULTIPOINT EMPTY"
        has_z, has_m = _eff_flags(geom, pts, has_z, has_m)
        if has_m:  # OGR prints M/ZM multipoints with per-point parens
            body = ",".join("(%s)" % _xyzm(p, has_z, has_m) for p in pts)
        else:
            body = ",".join(_xyzm(p, has_z, False) for p in pts)
        return "MULTIPOINT%s (%s)" % (_zm_tag(has_z, has_m), body)
    if "paths" in geom:
        paths = [p for p in (geom["paths"] or []) if p]
        if not paths:
            return "LINESTRING EMPTY"
        has_z, has_m = _eff_flags(
            geom, [p for ln in paths for p in ln], has_z, has_m)
        if len(paths) == 1:
            return "LINESTRING%s (%s)" % (
                _zm_tag(has_z, has_m),
                ",".join(_xyzm(p, has_z, has_m) for p in paths[0]))
        return "MULTILINESTRING%s (%s)" % (
            _zm_tag(has_z, has_m),
            ",".join("(%s)" % ",".join(_xyzm(p, has_z, has_m) for p in ln)
                     for ln in paths))
    if "rings" in geom:
        rings = [r for r in (geom["rings"] or []) if r]
        if not rings:
            return "POLYGON EMPTY"
        has_z, has_m = _eff_flags(
            geom, [p for r in rings for p in r], has_z, has_m)
        polys = G.organize_polygons(rings)
        return "MULTIPOLYGON%s (%s)" % (
            _zm_tag(has_z, has_m),
            ",".join("(%s)" % ",".join(
                "(%s)" % ",".join(_xyzm(p, has_z, has_m) for p in ring)
                for ring in poly) for poly in polys))
    return None


def _esri_date(ms) -> str:
    dt = datetime.datetime.fromtimestamp(ms / 1000.0,
                                         tz=datetime.timezone.utc)
    return dt.strftime("%Y/%m/%d %H:%M:%S+00")


def esrijson_features(data: bytes | str) -> tuple[list[dict], dict]:
    """-> (features, info). info carries wkid/field aliases/types."""
    text = data.decode("utf-8", "replace") if isinstance(data, bytes) \
        else data
    root = _loads_lenient(text)
    if "features" not in root:
        raise ValueError("not an ESRIJSON FeatureSet")
    has_z = bool(root.get("hasZ"))
    has_m = bool(root.get("hasM"))
    fields = {f["name"]: f for f in root.get("fields") or []
              if isinstance(f, dict) and "name" in f}
    sr = root.get("spatialReference") or {}
    info = {
        "wkid": sr.get("latestWkid") or sr.get("wkid"),
        "wkt": sr.get("wkt"),
        "fields": {n: f.get("type") for n, f in fields.items()},
        "aliases": {n: f.get("alias") for n, f in fields.items()},
        "objectid_field": root.get("objectIdFieldName"),
    }
    feats = []
    for f in root["features"]:
        if not isinstance(f, dict):
            continue
        attrs = dict(f.get("attributes") or {})
        for name, fd in fields.items():
            if fd.get("type") == "esriFieldTypeDate" and \
                    isinstance(attrs.get(name), (int, float)):
                attrs[name] = _esri_date(attrs[name])
            elif fd.get("type") == "esriFieldTypeDateOnly" and \
                    isinstance(attrs.get(name), str):
                attrs[name] = attrs[name].replace("-", "/")
        attrs["wkt"] = esrijson_geom_wkt(f.get("geometry"), has_z, has_m)
        feats.append(attrs)
    return feats, info


# ---------------------------------------------------------------------------
# Spark readers
# ---------------------------------------------------------------------------

def read_topojson(spark, path: str):
    """-> DataFrame(layer, id, wkt, properties map). One small file reads
    on the driver; many files distribute via spark.read.text wholetext."""
    with open(path, "rb") as fh:
        layers = topojson_layers(fh.read())
    rows = []
    for name, feats in layers.items():
        for f in feats:
            props = {k: v for k, v in f.items() if k not in ("wkt", "id")}
            rows.append((name, f.get("id"), f["wkt"], props))
    return spark.createDataFrame(
        rows, "layer string, id string, wkt string, "
              "properties map<string,string>")


def read_esrijson(spark, path: str):
    with open(path, "rb") as fh:
        feats, info = esrijson_features(fh.read())
    rows = [(f.get(info["objectid_field"]),
             f.get("wkt"),
             {k: str(v) for k, v in f.items()
              if k != "wkt" and v is not None}) for f in feats]
    return spark.createDataFrame(
        rows, "objectid bigint, wkt string, attributes map<string,string>")
