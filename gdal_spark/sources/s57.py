"""S-57 (ENC) vector driver (ogr/ogrsf_frmts/s57/s57reader.cpp).

Reference semantics (re-derived on top of the engine's ISO8211 reader):
  - DSPM carries COMF/SOMF: XCOO/YCOO divide by COMF, soundings by SOMF
  - vector records: RCNM 110 isolated node / 120 connected node
    (SG2D or SG3D coordinates), 130 edge (VRPT begin/end node pointers
    TOPI 1/2 + SG2D inner points)
  - feature records: FRID (PRIM 1 point / 2 line / 3 area, OBJL class),
    FOID (AGEN/FIDN/FIDS -> the 16-hex-digit LNAM), ATTF/NATF
    attributes (list-type 'L' attributes split on ','; NATF strings are
    UCS-2 when DSSI NALL=2), FSPT vector pointers (NAME = RCNM b11 +
    RCID b14, ORNT 2 = reversed)
  - line assembly: begin node + inner points + end node per edge,
    sequentially merged when endpoints chain; disjoint chains form a
    MULTILINESTRING; area rings close on first==last
  - layers: DSID first, then one layer per OBJL in ascending code
    order, named by the IHO catalogue acronym (s57tables.py); SOUNDG
    features with SG3D become MULTIPOINT Z; meta-class ('M') area
    layers are polygonal
"""

from __future__ import annotations

from gdal_spark.functions import geom as G
from gdal_spark.sources.iso8211 import parse_ddf
from gdal_spark.sources.s57tables import ATTRIBUTES, OBJECT_CLASSES

__all__ = ["s57_layers", "read_s57"]


def _fmt(v: float) -> str:
    return "%.8f" % v if v != int(v) else "%.8f" % v


def _coords_wkt(pts) -> str:
    out = []
    for p in pts:
        if len(p) == 3:
            out.append("%.8f %.8f %.3f" % p)
        else:
            out.append("%.8f %.8f" % p)
    return ",".join(out)


def _attr_value(attl: int, atvl, nall: int = 1, national: bool = False):
    acronym, typ = ATTRIBUTES.get(attl, ("ATTR_%d" % attl, "S"))
    if isinstance(atvl, str) and typ == "L":
        atvl = atvl.split(",")
    return acronym, atvl


def _natf_rows(raw: bytes, nall: int) -> list[dict]:
    """NATF at lexical level 2 stores ATVL as UCS-2 with two-byte
    UT/FT delimiters (0x1F 0x00 / 0x1E 0x00) — the generic ISO8211
    subfield scan cannot split those."""
    if raw.endswith(b"\x1e"):
        raw = raw[:-1]
    rows = []
    pos = 0
    while pos + 2 <= len(raw):
        attl = int.from_bytes(raw[pos:pos + 2], "little")
        pos += 2
        if nall == 2:
            end = pos
            while end + 2 <= len(raw) and \
                    raw[end:end + 2] not in (b"\x1f\x00", b"\x1e\x00"):
                end += 2
            text = raw[pos:end].decode("utf-16-le", "replace")
            pos = end + 2
        else:
            end = raw.find(b"\x1f", pos)
            if end == -1:
                end = len(raw)
            text = raw[pos:end].decode("latin-1")
            pos = end + 1
        rows.append({"ATTL": attl, "ATVL": text})
    return rows


def _as_rows(v):
    if v is None:
        return []
    if isinstance(v, dict):
        return [v]
    out = []
    for item in v:
        if isinstance(item, dict):
            out.append(item)
        elif isinstance(item, list):
            out.extend(x for x in item if isinstance(x, dict))
    return out


def _name_ptr(name: bytes) -> tuple[int, int]:
    return name[0], int.from_bytes(name[1:5], "little")


def s57_layers(data: bytes) -> dict[str, list[dict]]:
    mod = parse_ddf(data)

    comf = 1.0
    somf = 1.0
    nall = 1
    dsid_feat: dict = {}
    nodes: dict[tuple[int, int], list] = {}
    node_is_3d: set = set()
    edges: dict[int, dict] = {}
    features: list[dict] = []

    for rec in mod.records:
        if "DSID" in rec:
            d = rec["DSID"]
            dsid_feat.update({k: v for k, v in d.items()})
            if "DSSI" in rec:
                dsid_feat.update(rec["DSSI"])
                nall = rec["DSSI"].get("NALL", 1) or 1
        if "DSPM" in rec:
            comf = float(rec["DSPM"].get("COMF") or 1.0)
            somf = float(rec["DSPM"].get("SOMF") or 1.0)
            dsid_feat.update(rec["DSPM"])
        if "VRID" in rec:
            vr = rec["VRID"]
            key = (vr["RCNM"], vr["RCID"])
            pts: list[tuple] = []
            for row in _as_rows(rec.get("SG2D")):
                if row.get("XCOO") is None or row.get("YCOO") is None:
                    continue
                pts.append((row["XCOO"] / comf, row["YCOO"] / comf))
            for row in _as_rows(rec.get("SG3D")):
                if row.get("XCOO") is None or row.get("YCOO") is None:
                    continue
                pts.append((row["XCOO"] / comf, row["YCOO"] / comf,
                            row["VE3D"] / somf))
                node_is_3d.add(key)
            if vr["RCNM"] in (110, 120):
                nodes[key] = pts
            elif vr["RCNM"] == 130:
                begin = end = None
                for row in _as_rows(rec.get("VRPT")):
                    nm = row.get("NAME")
                    if not isinstance(nm, (bytes, bytearray)):
                        continue
                    rcnm, rcid = _name_ptr(nm)
                    if row.get("TOPI") == 1:
                        begin = (rcnm, rcid)
                    elif row.get("TOPI") == 2:
                        end = (rcnm, rcid)
                edges[vr["RCID"]] = {"begin": begin, "end": end,
                                     "pts": pts}
        if "FRID" in rec:
            features.append(rec)

    layers: dict[str, list[dict]] = {}
    if dsid_feat:
        layers["DSID"] = [dict(dsid_feat, wkt=None)]

    by_objl: dict[int, list[dict]] = {}
    for rec in features:
        fr = rec["FRID"]
        objl = fr["OBJL"]
        feat: dict = {
            "RCID": fr["RCID"], "PRIM": fr["PRIM"], "GRUP": fr["GRUP"],
            "OBJL": objl, "RVER": fr["RVER"],
        }
        foid = rec.get("FOID")
        if isinstance(foid, dict):
            feat["AGEN"] = foid.get("AGEN")
            feat["FIDN"] = foid.get("FIDN")
            feat["FIDS"] = foid.get("FIDS")
            feat["LNAM"] = "%04X%08X%04X" % (
                foid.get("AGEN") or 0, foid.get("FIDN") or 0,
                foid.get("FIDS") or 0)
        for row in _as_rows(rec.get("ATTF")):
            if row.get("ATTL") is None:
                continue
            k, v = _attr_value(row["ATTL"], row.get("ATVL"), nall, False)
            feat[k] = v
        natf_raw = rec.get("__raw__", {}).get("NATF")
        natf_rows = []
        if natf_raw is not None:
            for chunk in (natf_raw if isinstance(natf_raw, list)
                          else [natf_raw]):
                natf_rows.extend(_natf_rows(chunk, nall))
        for row in natf_rows:
            if row.get("ATTL") is None:
                continue
            k, v = _attr_value(row["ATTL"], row.get("ATVL"), nall, True)
            feat[k] = v

        fspt = _as_rows(rec.get("FSPT"))
        feat["wkt"] = _geometry(fr["PRIM"], fspt, nodes, edges,
                                node_is_3d)
        by_objl.setdefault(objl, []).append(feat)

    for objl in sorted(by_objl):
        acronym = OBJECT_CLASSES.get(objl, ("OBJL_%d" % objl,))[0]
        layers[acronym] = by_objl[objl]
    return layers


def _geometry(prim, fspt, nodes, edges, node_is_3d) -> str | None:
    if prim == 1:  # point (or SG3D multipoint for soundings)
        pts: list[tuple] = []
        is3d = False
        for row in fspt:
            nm = row.get("NAME")
            if not isinstance(nm, (bytes, bytearray)):
                continue
            key = _name_ptr(nm)
            node = nodes.get(key)
            if node:
                pts.extend(node)
                is3d = is3d or key in node_is_3d
        if not pts:
            return None
        if is3d or len(pts) > 1:
            return "MULTIPOINT (%s)" % ",".join(
                "(%s)" % _coords_wkt([p]) for p in pts)
        return "POINT (%s)" % _coords_wkt(pts)

    if prim in (2, 3):
        # AssembleLineGeometry applies ORNT per edge and merges
        # sequentially; AssembleAreaGeometry collects edges UNREVERSED
        # and organizes them by endpoint matching
        # (OGRBuildPolygonFromEdges)
        runs: list[list[tuple]] = []
        for row in fspt:
            nm = row.get("NAME")
            if not isinstance(nm, (bytes, bytearray)):
                continue
            rcnm, rcid = _name_ptr(nm)
            if rcnm != 130:
                continue
            edge = edges.get(rcid)
            if edge is None:
                continue
            pts = []
            b = nodes.get(edge["begin"]) if edge["begin"] else None
            e = nodes.get(edge["end"]) if edge["end"] else None
            if b:
                pts.extend(p[:2] for p in b)
            pts.extend(p[:2] for p in edge["pts"])
            if e:
                pts.extend(p[:2] for p in e)
            if prim == 2 and row.get("ORNT") == 2:
                pts = pts[::-1]
            if not pts:
                continue
            if prim == 2 and runs and runs[-1][-1] == pts[0]:
                runs[-1].extend(pts[1:])
            else:
                runs.append(pts)
        runs = [r for r in runs if len(r) >= 2]
        if not runs:
            return None
        if prim == 2:
            if len(runs) == 1:
                return "LINESTRING (%s)" % _coords_wkt(runs[0])
            return "MULTILINESTRING (%s)" % ",".join(
                "(%s)" % _coords_wkt(r) for r in runs)
        return "POLYGON (%s)" % ",".join(
            "(%s)" % _coords_wkt(r) for r in G.build_rings(runs))
    return None


def read_s57(spark, path: str):
    """-> DataFrame(layer, rcid, lnam, objl, wkt, attributes map)."""
    with open(path, "rb") as fh:
        layers = s57_layers(fh.read())
    rows = []
    for name, feats in layers.items():
        for f in feats:
            attrs = {k: (",".join(v) if isinstance(v, list) else str(v))
                     for k, v in f.items()
                     if k not in ("wkt",) and v is not None}
            rows.append((name, f.get("RCID"), f.get("LNAM"),
                         f.get("OBJL"), f.get("wkt"), attrs))
    return spark.createDataFrame(
        rows, "layer string, rcid bigint, lnam string, objl bigint, "
              "wkt string, attributes map<string,string>")
