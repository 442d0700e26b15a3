"""EDIGEO (French cadastre PCI exchange) reader
(ogr/ogrsf_frmts/edigeo — re-derived, no code copied).

An EDIGEO lot is a THF descriptor naming companion files that share
an 80-column line format ``<5-char code><2-char len>:<value>``:

  THF  LONSA lot name + GNNSA/GONSA/QANSA/DINSA/SCNSA/GDNSA companion
       subnames; files open as <LON><subname>.<EXT>
  GEO  RELSA coordinate reference (LAMB1..LAMB93 etc.)
  GEN  CM1CC/CM2CC extent corners ("x;y")
  DIC  dictionary records: RTY DID (object name) / DIA (attribute
       name + TYP)
  SCD  schema: RTY OBJ (layer: DIPCP name ref, KNDSA ARE|LIN|PCT
       geometry kind, AAPCP attribute refs) / ATT (attribute: DIPCP
       name ref, CANSN width)
  QAL  RTY QUP records: ODASD creation / UDASD update dates
  VEC  geometry+feature records: PAR arcs (CORCC points), PNO point
       objects, FEA features (SCPCP layer ref, ATPCP/ATVS attribute
       values with NEXT continuations, QAPCP quality ref), LNK links
       (FEA->PNO point placement, FEA->PAR linestrings, FEA->PFE +
       PFE->PAR polygon faces chained into rings)

Feature building follows ogredigeodatasource.cpp: points from
FEA->PNO, (multi)linestrings from FEA->PAR, polygons from FEA->PFE
with the PFE's arcs chained end-to-end into closed rings and nested into
polygons by geom.build_rings and geom.organize_polygons (islands inside
a hole become parts of their own)."""

from __future__ import annotations

import numpy as np

from gdal_spark.functions import geom as G

__all__ = ["EdigeoLot", "edigeo_open"]


def _records(text: str):
    """Group lines into records split on RTYSA; yields dicts of
    code -> value (repeat codes collect into lists)."""
    rec: dict | None = None
    prev_code = None
    for line in text.splitlines():
        if len(line) < 8 or line[7] != ":":
            continue
        code, value = line[:5], line[8:]
        if code == "RTYSA":
            if rec is not None:
                yield rec
            rec = {"RTY": value}
            continue
        if rec is None:
            rec = {}
        if code == "NEXT ":
            if prev_code and prev_code in rec:
                if isinstance(rec[prev_code], list):
                    rec[prev_code][-1] += value
                else:
                    rec[prev_code] += value
            continue
        if code in rec:
            if not isinstance(rec[code], list):
                rec[code] = [rec[code]]
            rec[code].append(value)
        else:
            rec[code] = value
        prev_code = code
    if rec is not None:
        yield rec


def _aslist(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _ref(v: str) -> str:
    """'xx;yy;TYPE;NAME' -> NAME"""
    parts = v.split(";")
    return parts[3] if len(parts) >= 4 else ""


def _reftype(v: str) -> str:
    parts = v.split(";")
    return parts[2] if len(parts) >= 4 else ""


class EdigeoLot:
    def __init__(self, thf_name: str, files: dict[str, str]):
        self.files = {k.upper(): v for k, v in files.items()}
        self.extent: tuple | None = None
        self.rel: str | None = None
        self.objects: dict[str, str] = {}           # DID rid -> label
        self.attr_defs: dict[str, tuple] = {}       # DIA rid -> (label, typ)
        self.layers: dict[str, dict] = {}           # OBJ rid -> descriptor
        self.attrs_scd: dict[str, tuple] = {}       # ATT rid -> (namerid, w)
        self.qal: dict[str, tuple] = {}
        self._parse_thf(self.files[thf_name.upper()])
        self._parse_companions()
        self._build()

    # -- parsing -----------------------------------------------------------
    def _parse_thf(self, text: str) -> None:
        self.lon = self.gnn = self.gon = self.qan = self.din = self.scn = ""
        self.gdn: list[str] = []
        for line in text.splitlines():
            if len(line) < 8 or line[7] != ":":
                continue
            code, value = line[:5], line[8:]
            if code == "LONSA" and not self.lon:
                self.lon = value
            elif code == "GNNSA":
                self.gnn = value
            elif code == "GONSA":
                self.gon = value
            elif code == "QANSA":
                self.qan = value
            elif code == "DINSA":
                self.din = value
            elif code == "SCNSA":
                self.scn = value
            elif code == "GDNSA":
                self.gdn.append(value)
        for need, label in ((self.lon, "LON"), (self.gon, "GON"),
                            (self.din, "DIN"), (self.scn, "SCN")):
            if not need:
                raise ValueError(f"EDIGEO: {label} field missing")

    def _file(self, sub: str, ext: str) -> str | None:
        return self.files.get((self.lon + sub + "." + ext).upper())

    def _parse_companions(self) -> None:
        geo = self._file(self.gon, "GEO")
        if geo:
            for line in geo.splitlines():
                if line[:5] == "RELSA" and len(line) > 8:
                    self.rel = line[8:]
                    break
        gen = self._file(self.gnn, "GEN") if self.gnn else None
        if gen:
            cm1 = cm2 = None
            for line in gen.splitlines():
                if line[:5] == "CM1CC":
                    cm1 = line[8:].split(";")
                elif line[:5] == "CM2CC":
                    cm2 = line[8:].split(";")
            if cm1 and cm2 and len(cm1) == 2 and len(cm2) == 2:
                self.extent = (float(cm1[0]), float(cm1[1]),
                               float(cm2[0]), float(cm2[1]))
        dic = self._file(self.din, "DIC")
        if dic is None:
            raise ValueError("EDIGEO: DIC file missing")
        for rec in _records(dic):
            rty = rec.get("RTY")
            if rty == "DID":
                self.objects[rec.get("RIDSA", "")] = rec.get("LABSA", "")
            elif rty == "DIA":
                self.attr_defs[rec.get("RIDSA", "")] = (
                    rec.get("LABSA", ""), rec.get("TYPSA", ""))
        scd = self._file(self.scn, "SCD")
        if scd is None:
            raise ValueError("EDIGEO: SCD file missing")
        for rec in _records(scd):
            rty = rec.get("RTY")
            if rty == "OBJ":
                rid = rec.get("RIDSA", "")
                self.layers[rid] = {
                    "name_rid": _ref(rec.get("DIPCP", "")),
                    "kind": rec.get("KNDSA", ""),
                    "attr_rids": [_ref(a) for a in _aslist(rec.get("AAPCP"))],
                    "features": [],
                }
            elif rty == "ATT":
                rid = rec.get("RIDSA", "")
                self.attrs_scd[rid] = (
                    _ref(rec.get("DIPCP", "")),
                    int(rec.get("CANSN", "0") or 0))
        if self.qan:
            qal = self._file(self.qan, "QAL")
            if qal:
                for rec in _records(qal):
                    if rec.get("RTY") == "QUP":
                        self.qal[rec.get("RIDSA", "")] = (
                            int(rec.get("ODASD", "0") or 0),
                            int(rec.get("UDASD", "0") or 0))

    # -- VEC + feature building --------------------------------------------
    def _build(self) -> None:
        pars: dict[str, np.ndarray] = {}
        pnos: dict[str, tuple] = {}
        feas: dict[str, dict] = {}
        pfe_par: dict[str, list[str]] = {}
        fea_pfe: list[tuple[str, list[str]]] = []
        fea_par: list[tuple[str, list[str]]] = []
        fea_pno: list[tuple[str, str]] = []

        for sub in self.gdn:
            vec = self._file(sub, "VEC")
            if vec is None:
                continue
            for rec in _records(vec):
                rty = rec.get("RTY")
                rid = rec.get("RIDSA", "")
                if rty == "PAR":
                    xy = [tuple(map(float, c.split(";")[:2]))
                          for c in _aslist(rec.get("CORCC"))]
                    if len(xy) >= 2:
                        pars[rid] = np.array(xy, np.float64)
                elif rty == "PNO":
                    xy = [tuple(map(float, c.split(";")[:2]))
                          for c in _aslist(rec.get("CORCC"))]
                    if len(xy) == 1:
                        pnos[rid] = xy[0]
                elif rty == "FEA":
                    attids = [_ref(a) for a in _aslist(rec.get("ATPCP"))]
                    # ATV records: free text (ATVS..) or coded ref (ATVCP)
                    vals = []
                    for code, v in rec.items():
                        if code.startswith("ATV"):
                            for item in _aslist(v):
                                vals.append(_ref(item) if code == "ATVCP"
                                            else item)
                    scp = ""
                    for s in _aslist(rec.get("SCPCP")):
                        if _reftype(s) == "OBJ":
                            scp = _ref(s)
                    qup = ""
                    for q in _aslist(rec.get("QAPCP")):
                        if _reftype(q) == "QUP":
                            qup = _ref(q)
                    feas[rid] = {
                        "scp": scp,
                        "qup": qup,
                        "attrs": list(zip(attids, vals)),
                    }
                elif rty == "LNK":
                    refs = _aslist(rec.get("FTPCP"))
                    if len(refs) < 2:
                        continue
                    st, sn = _reftype(refs[0]), _ref(refs[0])
                    ends = [(_reftype(r), _ref(r)) for r in refs[1:]]
                    et = ends[0][0]
                    if st == "PAR" and et == "PFE":
                        lst = pfe_par.setdefault(ends[0][1], [])
                        if sn not in lst:
                            lst.append(sn)
                    elif st == "FEA" and et == "PFE":
                        fea_pfe.append((sn, [e[1] for e in ends]))
                    elif st == "FEA" and et == "PAR":
                        fea_par.append((sn, [e[1] for e in ends]))
                    elif st == "FEA" and et == "PNO":
                        fea_pno.append((sn, ends[0][1]))

        def make_feature(fea_id: str, geom):
            fea = feas.get(fea_id)
            if fea is None or fea["scp"] not in self.layers:
                return
            layer = self.layers[fea["scp"]]
            fields = {"OBJECT_RID": fea_id}
            for attid, val in fea["attrs"]:
                desc = self.attrs_scd.get(attid)
                if desc is None:
                    continue
                label, typ = self.attr_defs.get(desc[0], (attid, ""))
                if typ in ("R", "E"):
                    try:
                        val = float(val)
                    except (TypeError, ValueError):
                        pass
                elif typ in ("I", "N"):
                    try:
                        val = int(val)
                    except (TypeError, ValueError):
                        pass
                fields[label] = val
            if fea["qup"] and fea["qup"] in self.qal:
                oda, uda = self.qal[fea["qup"]]
                if oda:
                    fields["CREAT_DATE"] = oda
                if uda:
                    fields["UPDATE_DATE"] = uda
            layer["features"].append({"fields": fields, "geometry": geom})

        for fea_id, pno_id in fea_pno:
            if pno_id in pnos:
                make_feature(fea_id, ("Point", pnos[pno_id]))
        for fea_id, par_ids in fea_par:
            lines = [pars[p] for p in par_ids if p in pars]
            if len(lines) == 1:
                make_feature(fea_id, ("LineString", lines[0]))
            elif lines:
                make_feature(fea_id, ("MultiLineString", lines))
        for fea_id, pfe_ids in fea_pfe:
            rings: list[np.ndarray] = []
            for pfe in pfe_ids:
                arcs = [pars[p] for p in pfe_par.get(pfe, []) if p in pars]
                rings += [np.array(r) for r in G.build_rings(arcs)]
            if rings:
                # parts and holes keep this reader's largest-first order
                rings.sort(key=lambda r: -abs(G.ring_area(r)))
                make_feature(fea_id, ("Polygon", G.organize_polygons(rings)))

    def layer_features(self, name: str) -> list[dict]:
        """Features of the layer whose OBJ rid OR dictionary label
        matches ``name``."""
        if name in self.layers:
            return self.layers[name]["features"]
        for rid, desc in self.layers.items():
            if self.objects.get(desc["name_rid"]) == name:
                return desc["features"]
        raise KeyError(name)


def edigeo_open(thf_name: str, files: dict[str, str]) -> EdigeoLot:
    return EdigeoLot(thf_name, files)
