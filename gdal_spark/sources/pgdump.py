"""PGDump write-only driver (ogr/ogrsf_frmts/pgdump — re-derived,
no code copied): renders a PostgreSQL/PostGIS SQL script for a layer.

Emission order (ogrpgdumpdatasource.cpp / ogrpgdumplayer.cpp, checked
against autotest/ogr/ogr_pgdump.py expectations):

  CREATE SCHEMA (non-public) -> DROP TABLE IF EXISTS ... CASCADE ->
  DELETE FROM geometry_columns (PostGIS < 2 only) -> BEGIN ->
  CREATE TABLE "schema"."table"(); -> ogc_fid SERIAL PRIMARY KEY ->
  SELECT AddGeometryColumn('schema','table','geom',srid,'TYPE',dim)
  [+ SET NOT NULL] -> one ALTER TABLE ADD COLUMN per field (NOT NULL /
  UNIQUE / DEFAULT suffixes, COMMENT ON COLUMN after) -> INSERT or
  COPY ... FROM STDIN rows -> GIST index -> COMMIT.

Geometries are hex EWKB: little-endian WKB with the PostGIS Z flag
0x80000000 when dim 3 and the SRID flag 0x20000000 + srid word when a
positive SRID is set. Identifiers double embedded double-quotes;
literal strings double single-quotes. LAUNDER lowercases and maps
forbidden ASCII chars to '_' (keeping non-ASCII); LAUNDER=ASCII also
transliterates accents first. COPY mode escapes backslash/tab/newline
and writes NULL as \\N.
"""

from __future__ import annotations

import struct
import unicodedata
from dataclasses import dataclass, field as dc_field

import numpy as np

from gdal_spark.functions import wkb as W

__all__ = ["PGField", "PGGeomField", "PGDumpLayer", "ewkb_hex", "launder"]

_TYPE_SQL = {
    "real": "FLOAT8",
    "integer": "INTEGER",
    "integer64": "BIGINT",
    "string": "VARCHAR",
    "date": "date",
    "time": "time",
    "datetime": "timestamp with time zone",
    "binary": "BYTEA",
    "boolean": "BOOLEAN",
    "reallist": "FLOAT8[]",
    "integerlist": "INTEGER[]",
    "integer64list": "BIGINT[]",
    "stringlist": "varchar[]",
}


def launder(name: str, ascii_mode: bool = False) -> str:
    """OGRPGCommonLaunderName: lowercase; '-' '#' and other punctuation
    -> '_'; non-ASCII kept unless ascii_mode transliterates it."""
    if ascii_mode:
        name = "".join(
            c for c in unicodedata.normalize("NFKD", name)
            if not unicodedata.combining(c)
        )
    out = []
    for c in name.lower():
        if c.isalnum() or c == "_" or ord(c) > 127:
            out.append(c)
        else:
            out.append("_")
    return "".join(out)


def _ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def ewkb_hex(wkb_buf: bytes, srid: int = 0, dim: int = 2) -> str:
    """WKB -> uppercase hex EWKB with PostGIS Z/SRID flags."""
    gtype, payload = W.parse(wkb_buf)
    base = gtype % 1000 if gtype >= 1000 else gtype & 0xFF
    flags = 0
    if dim == 3:
        flags |= 0x80000000
    if srid > 0:
        flags |= 0x20000000
    out = [b"\x01", struct.pack("<I", base | flags)]
    if srid > 0:
        out.append(struct.pack("<I", srid))

    is_z = dim == 3

    def pts(arr) -> bytes:
        arr = np.asarray(arr, np.float64)
        if is_z and arr.shape[1] == 2:
            arr = np.column_stack([arr, np.zeros(len(arr))])
        elif not is_z and arr.shape[1] == 3:
            arr = arr[:, :2]
        return arr.astype("<f8").tobytes()

    if base == 1:
        out.append(pts(np.array([payload], np.float64)))
    elif base == 2:
        arr = np.atleast_2d(payload)
        out.append(struct.pack("<I", len(arr)))
        out.append(pts(arr))
    elif base == 3:
        rings = payload
        out.append(struct.pack("<I", len(rings)))
        for r in rings:
            r = np.atleast_2d(r)
            out.append(struct.pack("<I", len(r)))
            out.append(pts(r))
    elif base in (4, 5, 6, 7):
        # multi/collection: nested child WKB with the Z flag but no
        # SRID on children (OGRGeometry::exportToWkb EWKB semantics in
        # ogr/ogrsf_frmts/pgdump/ogrpgdumplayer.cpp GeometryToHex)
        inner_flags = 0x80000000 if is_z else 0

        def child(ctype: int, cpayload) -> bytes:
            buf = [b"\x01", struct.pack("<I", ctype | inner_flags)]
            if ctype == 1:
                buf.append(pts(np.array([cpayload], np.float64)))
            elif ctype == 2:
                arr = np.atleast_2d(cpayload)
                buf.append(struct.pack("<I", len(arr)))
                buf.append(pts(arr))
            elif ctype == 3:
                buf.append(struct.pack("<I", len(cpayload)))
                for r in cpayload:
                    r = np.atleast_2d(r)
                    buf.append(struct.pack("<I", len(r)))
                    buf.append(pts(r))
            else:
                raise ValueError(
                    f"ewkb_hex: unsupported child geometry type {ctype}")
            return b"".join(buf)

        if base == 4:
            arr = np.atleast_2d(payload)
            out.append(struct.pack("<I", len(arr)))
            out.extend(child(1, tuple(p)) for p in arr)
        elif base == 5:
            out.append(struct.pack("<I", len(payload)))
            out.extend(child(2, ln) for ln in payload)
        elif base == 6:
            out.append(struct.pack("<I", len(payload)))
            out.extend(child(3, rings) for rings in payload)
        else:  # GEOMETRYCOLLECTION: payload = [(gtype, payload), ...]

            def compound(ctype: int, cpayload) -> bytes:
                """Nested multi/collection child WKB (recursive, like
                the reference's GeometryToHex)."""
                sub = [b"\x01", struct.pack("<I", ctype | inner_flags)]
                if ctype == 4:
                    arr = np.atleast_2d(cpayload)
                    sub.append(struct.pack("<I", len(arr)))
                    sub.extend(child(1, tuple(p)) for p in arr)
                elif ctype == 5:
                    sub.append(struct.pack("<I", len(cpayload)))
                    sub.extend(child(2, ln) for ln in cpayload)
                elif ctype == 6:
                    sub.append(struct.pack("<I", len(cpayload)))
                    sub.extend(child(3, rg) for rg in cpayload)
                else:  # nested collection
                    sub.append(struct.pack("<I", len(cpayload)))
                    for gtype2, p2 in cpayload:
                        b2 = gtype2 % 1000 if gtype2 >= 1000 else gtype2 & 0xFF
                        sub.append(compound(b2, p2) if b2 in (4, 5, 6, 7)
                                   else child(b2, p2))
                return b"".join(sub)

            out.append(struct.pack("<I", len(payload)))
            for ctype, cpayload in payload:
                cbase = ctype % 1000 if ctype >= 1000 else ctype & 0xFF
                if cbase in (4, 5, 6, 7):
                    out.append(compound(cbase, cpayload))
                else:
                    out.append(child(cbase, cpayload))
    else:
        raise ValueError(f"ewkb_hex: unsupported geometry type {base}")
    return b"".join(out).hex().upper()


@dataclass
class PGField:
    name: str
    type: str = "string"
    width: int | None = None
    nullable: bool = True
    unique: bool = False
    comment: str | None = None
    default: str | None = None

    def sql_type(self) -> str:
        t = _TYPE_SQL.get(self.type, "VARCHAR")
        if self.type == "string" and self.width:
            return f"VARCHAR({self.width})"
        return t


@dataclass
class PGGeomField:
    name: str = "wkb_geometry"
    gtype: str = "GEOMETRY"
    dim: int = 2
    srid: int = -1
    nullable: bool = True


@dataclass
class PGDumpLayer:
    table: str
    schema: str = "public"
    fields: list = dc_field(default_factory=list)
    geom_fields: list = dc_field(default_factory=list)
    postgis_version: float = 2.0
    use_copy: bool = False
    launder_mode: str = "YES"          # YES | NO | ASCII
    fid_column: str | None = "ogc_fid"
    create_table: bool = True
    gist_index: bool = True
    skip_conflicts: bool = False
    lineformat: str = "LF"             # LF | CRLF

    def __post_init__(self):
        if self.launder_mode != "NO":
            ascii_mode = self.launder_mode == "ASCII"
            self.table = launder(self.table, ascii_mode)
            for f in self.fields:
                f.name = launder(f.name, ascii_mode)
        self._rows: list[str] = []

    # -- naming ----------------------------------------------------------
    def _qt(self) -> str:
        return f"{_ident(self.schema)}.{_ident(self.table)}"

    # -- features ---------------------------------------------------------
    def add_feature(self, fields: dict | None = None,
                    geoms: dict | bytes | None = None) -> None:
        """fields: {name: value}; geoms: {geom_field_name: wkb} or a
        single wkb for the first geometry field."""
        fields = fields or {}
        if isinstance(geoms, (bytes, bytearray)):
            geoms = {self.geom_fields[0].name: bytes(geoms)}
        geoms = geoms or {}
        for gf in self.geom_fields:
            if not gf.nullable and gf.name not in geoms:
                raise ValueError(
                    f"NULL geometry not supported in {gf.name}")
        for f in self.fields:
            if not f.nullable and fields.get(f.name) is None:
                raise ValueError(f"NULL value in NOT NULL field {f.name}")
        if self.use_copy:
            self._rows.append(self._copy_row(fields, geoms))
        else:
            self._rows.append(self._insert_row(fields, geoms))

    def _copy_row(self, fields: dict, geoms: dict) -> str:
        cols = []
        for gf in self.geom_fields:
            g = geoms.get(gf.name)
            cols.append("\\N" if g is None else
                        ewkb_hex(g, max(gf.srid, 0), gf.dim))
        for f in self.fields:
            v = fields.get(f.name)
            if v is None:
                cols.append("\\N")
            elif isinstance(v, bool):
                cols.append("t" if v else "f")
            elif isinstance(v, (int, float)):
                cols.append(_num(v))
            else:
                cols.append(str(v).replace("\\", "\\\\")
                            .replace("\t", "\\t").replace("\n", "\\n")
                            .replace("\r", "\\r"))
        return "\t".join(cols)

    def _insert_row(self, fields: dict, geoms: dict) -> str:
        names, vals = [], []
        for gf in self.geom_fields:
            g = geoms.get(gf.name)
            if g is not None:
                names.append(_ident(gf.name))
                vals.append(_lit(ewkb_hex(g, max(gf.srid, 0), gf.dim)))
        for f in self.fields:
            v = fields.get(f.name)
            if v is None:
                continue
            names.append(_ident(f.name))
            if isinstance(v, bool):
                vals.append("'t'" if v else "'f'")
            elif isinstance(v, (int, float)):
                vals.append(_num(v))
            else:
                vals.append(_lit(str(v)))
        conflict = " ON CONFLICT DO NOTHING" if self.skip_conflicts else ""
        return (f"INSERT INTO {self._qt()} ({', '.join(names)}) "
                f"VALUES ({', '.join(vals)}){conflict};")

    # -- render -------------------------------------------------------------
    def render(self) -> str:
        nl = "\r\n" if self.lineformat.upper() == "CRLF" else "\n"
        out: list[str] = []
        if self.schema != "public":
            out.append(f"CREATE SCHEMA {_ident(self.schema)};")
        if self.create_table:
            out.append(f"DROP TABLE IF EXISTS {self._qt()} CASCADE;")
            if self.postgis_version < 2 and self.geom_fields:
                out.append(
                    "DELETE FROM geometry_columns WHERE f_table_name = "
                    f"{_lit(self.table)} AND f_table_schema = "
                    f"{_lit(self.schema)};")
        out.append("BEGIN;")
        if self.create_table:
            out.append(f"CREATE TABLE {self._qt()}();")
            if self.fid_column:
                out.append(
                    f"ALTER TABLE {self._qt()} ADD COLUMN "
                    f"{_ident(self.fid_column)} SERIAL CONSTRAINT "
                    f"{_ident(self.table + '_pk')} PRIMARY KEY;")
            for gf in self.geom_fields:
                out.append(
                    f"SELECT AddGeometryColumn({_lit(self.schema)},"
                    f"{_lit(self.table)},{_lit(gf.name)},{gf.srid},"
                    f"'{gf.gtype}',{gf.dim});")
                if not gf.nullable:
                    # the reference emits the UNQUALIFIED table name
                    # here (only here), relying on search_path — kept
                    # for byte parity with the autotest expectations
                    out.append(
                        f"ALTER TABLE {_ident(self.table)} ALTER COLUMN "
                        f"{_ident(gf.name)} SET NOT NULL;")
            for f in self.fields:
                line = (f"ALTER TABLE {self._qt()} ADD COLUMN "
                        f"{_ident(f.name)} {f.sql_type()}")
                if f.default is not None:
                    line += f" DEFAULT {f.default}"
                if not f.nullable:
                    line += " NOT NULL"
                if f.unique:
                    line += " UNIQUE"
                out.append(line + ";")
                if f.comment:
                    out.append(
                        f"COMMENT ON COLUMN {self._qt()}.{_ident(f.name)} "
                        f"IS {_lit(f.comment)};")
        if self.use_copy and self._rows:
            cols = ([_ident(gf.name) for gf in self.geom_fields]
                    + [_ident(f.name) for f in self.fields])
            out.append(f"COPY {self._qt()} ({', '.join(cols)}) FROM STDIN;")
            out.extend(self._rows)
            out.append("\\.")
        else:
            out.extend(self._rows)
        if self.gist_index:
            for gf in self.geom_fields:
                out.append(
                    f"CREATE INDEX "
                    f"{_ident(self.table + '_' + gf.name + '_geom_idx')} "
                    f"ON {self._qt()} USING GIST ({_ident(gf.name)});")
        out.append("COMMIT;")
        return nl.join(out) + nl


def _num(v) -> str:
    if isinstance(v, int):
        return str(v)
    s = f"{v:.15g}"
    return s
