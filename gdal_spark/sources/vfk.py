"""VFK (Czech cadastre ISKN exchange) reader
(ogr/ogrsf_frmts/vfk — re-derived, no code copied).

A VFK file is line-oriented text (default codepage WE8ISO8859P2 /
latin2): ``&H`` header entries, ``&B`` data-block (table) schemas as
``&BNAME;COL TYPE;...`` (N width[.prec] numeric, T text, D date), and
``&D`` data rows with ';'-separated values, strings double-quoted.
Lines ending with the currency sign '¤' continue on the next line
(vfkreader.cpp:338-400). A layer exists per &B block.

Geometry model (vfkdatablock.cpp:805-1130):
  SOBR/SPOL  point (-SOURADNICE_Y, -SOURADNICE_X) — S-JTSK axes map
             to GIS axes negated and swapped.
  SBP/SBPG   linestrings: rows ordered in file; PORADOVE_CISLO_BODU 1
             starts a new line owned by that row; each row appends the
             SOBR point referenced by BP_ID.
  HP/DPM/ZVB linestring: the SBP line whose <NAME>_ID equals the
             row's ID.
  PAR        polygon assembled from the HP lines with PAR_ID_1 or
             PAR_ID_2 == ID, chained end-to-end into rings (first
             closed ring is the exterior).
  BUD        polygon from OB rows with BUD_ID == ID, each contributing
             the SBP line with OB_ID == OB.ID.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from gdal_spark.functions import geom as G

__all__ = ["VFKFile", "vfk_read"]

_GEOM_POINT = ("SOBR", "SPOL")
_GEOM_SBP = ("SBP", "SBPG")
_GEOM_HP = ("HP", "DPM", "ZVB")

_CONT = "¤"  # currency sign continuation marker


class VFKFile:
    def __init__(self, text: str):
        self.header: dict[str, list[str]] = {}
        self.schemas: dict[str, list[tuple[str, str]]] = {}
        self.rows: dict[str, list[dict]] = {}
        self._geom: dict[str, dict] = {}
        self._parse(text)

    # -- parse -------------------------------------------------------------
    def _parse(self, text: str) -> None:
        lines = text.splitlines()
        i = 0
        while i < len(lines):
            line = lines[i].rstrip()
            i += 1
            if line.endswith(_CONT):
                parts = [line[:-1].rstrip()]
                while i < len(lines):
                    nxt = lines[i].lstrip()
                    i += 1
                    if nxt.rstrip().endswith(_CONT):
                        parts.append(nxt.rstrip()[:-1].rstrip())
                    else:
                        parts.append(nxt.rstrip())
                        break
                line = " ".join(parts)
            if len(line) < 2 or line[0] != "&":
                continue
            kind = line[1]
            if kind == "H":
                toks = _split(line[2:])
                if toks:
                    self.header[toks[0]] = [_unquote(t) for t in toks[1:]]
            elif kind == "B":
                toks = _split(line[2:])
                name = toks[0]
                cols = []
                for col in toks[1:]:
                    col = col.strip()
                    if not col:
                        continue
                    parts = col.split()
                    cols.append((parts[0], parts[1] if len(parts) > 1 else "T"))
                self.schemas[name] = cols
                self.rows.setdefault(name, [])
            elif kind == "D":
                toks = _split(line[2:])
                name = toks[0]
                schema = self.schemas.get(name)
                if schema is None:
                    continue  # data for an undeclared block
                row: dict = {}
                for (cname, ctype), raw in zip(schema, toks[1:]):
                    row[cname] = _value(raw, ctype)
                self.rows[name].append(row)

    @property
    def layers(self) -> list[str]:
        return list(self.schemas)

    # -- geometry ----------------------------------------------------------
    def geometries(self, name: str) -> list:
        """Per-row geometry for a block: points as (x, y) tuples,
        lines as (N,2) arrays, polygons as [rings]; None when the row
        carries no geometry."""
        if name in self._geom:
            return self._geom[name]
        if name in _GEOM_POINT:
            out = [(-(r.get("SOURADNICE_Y", 0.0) or 0.0),
                    -(r.get("SOURADNICE_X", 0.0) or 0.0))
                   for r in self.rows.get(name, [])]
            out = [(float(x), float(y)) for x, y in out]
        elif name in _GEOM_SBP:
            out = self._sbp_lines(name)
        elif name in _GEOM_HP:
            out = self._hp_lines(name)
        elif name == "PAR":
            out = self._polygons_par()
        elif name == "BUD":
            out = self._polygons_bud()
        else:
            out = [None] * len(self.rows.get(name, []))
        self._geom[name] = out
        return out

    def _sbp_lines(self, name: str) -> list:
        """Rows with PORADOVE_CISLO_BODU == 1 own the assembled line."""
        rows = self.rows.get(name, [])
        pts = {}
        for blk in _GEOM_POINT:
            if blk in self.rows:
                for r, g in zip(self.rows[blk], self.geometries(blk)):
                    pts[r.get("ID")] = g
        out: list = [None] * len(rows)
        owner = None
        coords: list = []
        for j, r in enumerate(rows):
            if (r.get("PORADOVE_CISLO_BODU") or 0) == 1:
                if owner is not None and coords:
                    out[owner] = np.array(coords, np.float64)
                owner = j
                coords = []
            p = pts.get(r.get("BP_ID"))
            if p is not None:
                coords.append(p)
        if owner is not None and coords:
            out[owner] = np.array(coords, np.float64)
        return out

    def _hp_lines(self, name: str) -> list:
        key = f"{name}_ID"
        sbp_rows = self.rows.get("SBP", [])
        sbp_geoms = self.geometries("SBP")
        by_ref = {}
        for r, g in zip(sbp_rows, sbp_geoms):
            if g is not None and r.get(key) is not None:
                by_ref.setdefault(r[key], g)
        return [by_ref.get(r.get("ID")) for r in self.rows.get(name, [])]

    def _polygons_par(self) -> list:
        hp_rows = self.rows.get("HP", [])
        hp_geoms = self.geometries("HP")
        out = []
        for r in self.rows.get("PAR", []):
            pid = r.get("ID")
            lines = [g for hr, g in zip(hp_rows, hp_geoms)
                     if g is not None
                     and (hr.get("PAR_ID_1") == pid
                          or hr.get("PAR_ID_2") == pid)]
            out.append(_assemble_rings(lines) if lines else None)
        return out

    def _polygons_bud(self) -> list:
        ob_rows = self.rows.get("OB", [])
        sbp_rows = self.rows.get("SBP", [])
        sbp_geoms = self.geometries("SBP")
        sbp_by_ob = {}
        for r, g in zip(sbp_rows, sbp_geoms):
            if g is not None and r.get("OB_ID") is not None:
                sbp_by_ob.setdefault(r["OB_ID"], g)
        out = []
        for r in self.rows.get("BUD", []):
            bid = r.get("ID")
            lines = [sbp_by_ob[ob.get("ID")] for ob in ob_rows
                     if ob.get("BUD_ID") == bid and ob.get("ID") in sbp_by_ob]
            out.append(_assemble_rings(lines) if lines else None)
        return out


def _assemble_rings(lines: list[np.ndarray]) -> list[np.ndarray]:
    """Boundary lines chained end-to-end into rings (AppendLineToRing:
    a line joins the ring whose open end one of its endpoints meets,
    reversed as needed). First ring is the exterior; a chain that does
    not close stays open. A chain closed itself when its last segment
    ends an input line, in either direction (the first line's own first
    segment, where the chain starts, does not count); otherwise
    build_rings appended the closing point, and it is dropped again."""
    def seg(a, b):
        return (a[0], a[1], b[0], b[1])

    ends = Counter()
    for ln in lines:
        if len(ln) >= 2:
            ends[seg(ln[-2], ln[-1])] += 1
            ends[seg(ln[1], ln[0])] += 1
    out = []
    for r in G.build_rings(lines):
        last = seg(r[-2], r[-1])
        closed = ends[last] > (last == seg(r[1], r[0]))
        out.append(np.array(r if closed else r[:-1], np.float64))
    return out


def _split(body: str) -> list[str]:
    """';'-separated, '"' quoted (doubled quotes escape)."""
    out = []
    tok = []
    in_q = False
    i = 0
    while i < len(body):
        c = body[i]
        if in_q:
            if c == '"':
                if i + 1 < len(body) and body[i + 1] == '"':
                    tok.append('"')
                    i += 1
                else:
                    in_q = False
                    tok.append(c)
            else:
                tok.append(c)
        elif c == '"':
            in_q = True
            tok.append(c)
        elif c == ";":
            out.append("".join(tok))
            tok = []
        else:
            tok.append(c)
        i += 1
    out.append("".join(tok))
    return out


def _unquote(tok: str) -> str:
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == '"' and tok[-1] == '"':
        return tok[1:-1]
    return tok


def _value(raw: str, ctype: str):
    raw = raw.strip()
    if raw == "":
        return None
    if raw.startswith('"'):
        return _unquote(raw)
    if ctype.startswith("N"):
        try:
            if "." in ctype or "." in raw:
                return float(raw)
            return int(raw)
        except ValueError:
            return raw
    return raw


def vfk_read(data: bytes, encoding: str | None = None) -> VFKFile:
    """Decode using &HCODEPAGE (WE8ISO8859P2 -> latin2) unless given."""
    if encoding is None:
        probe = data[:4096].decode("latin-1", "replace")
        encoding = "iso8859-2" if "WE8ISO8859P2" in probe else "latin-1"
    return VFKFile(data.decode(encoding, "replace"))
