"""OGR SQL dialect front-end: ExecuteSQL strings -> Spark DataFrames.

The engine reproduces OGR SQL *semantics* query-by-query in
gdal_spark/queries/relational.py; this module adds the text front-end
so a user can run the reference's own ``ExecuteSQL`` strings verbatim.
Grammar and semantics re-derived (no code copied) from:

  * ogr/swq_parser.y       — the bison grammar: SELECT [DISTINCT]
    field_list FROM table [JOIN t ON a=b]* [WHERE] [ORDER BY]
    [LIMIT] [OFFSET] [UNION ALL ...]; no GROUP BY (aggregates collapse
    the whole result, SWQM_SUMMARY_REC), COUNT(DISTINCT x) special case
  * ogr/swq_op_general.cpp — operator semantics: string comparisons
    are CASE-INSENSITIVE (strcasecmp, :891-960), LIKE is
    case-sensitive / ILIKE insensitive with optional ESCAPE
    (swq_test_like, :1090-1127), CONCAT nulls follow the first
    argument (:1134), SUBSTR is 1-based with 0==1, negative-from-end,
    and end-clamping (:1147-1199)
  * ogr/ogrsf_frmts/generic/ogr_gensql.cpp — result naming
    (:199-236): unaliased expressions become FIELD_<n>, unaliased
    aggregates become <OP>_<field>, table-qualified columns keep
    "table.field"; JOIN multiplicity is first-match 1:<=1
    (:1498-1545)

Spark-first lowering: everything becomes native Column expressions
(whole-stage codegen); the only Python is this parser, which runs once
on the driver.  First-match joins lower to the row_number pattern of
queries/relational.py:76.  Special fields FID / OGR_GEOM_WKT /
OGR_GEOM_AREA resolve against the conventional `fid` / `wkb` columns.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

__all__ = ["execute_sql", "parse"]

# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "ORDER", "BY", "ASC", "DESC",
    "LIMIT", "OFFSET", "UNION", "ALL", "JOIN", "LEFT", "ON", "AS", "CAST",
    "IN", "LIKE", "ILIKE", "ESCAPE", "BETWEEN", "IS", "NULL", "NOT", "AND",
    "OR", "HIDDEN", "EXCEPT", "EXCLUDE",
}

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<float>\d+\.\d*(?:[eE][-+]?\d+)?|\.\d+(?:[eE][-+]?\d+)?
            |\d+[eE][-+]?\d+)
      | (?P<int>\d+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<qident>"(?:[^"]|"")*")
      | (?P<ident>[A-Za-z_][A-Za-z_0-9$]*)
      | (?P<op><>|!=|<=|>=|\|\||[-+*/%(),.=<>])
    )""",
    re.VERBOSE,
)


class _Tok:
    __slots__ = ("kind", "val")

    def __init__(self, kind, val):
        self.kind = kind  # KW | IDENT | INT | FLOAT | STR | OP | END
        self.val = val

    def __repr__(self):
        return f"{self.kind}:{self.val}"


def _tokenize(sql: str) -> list[_Tok]:
    out = []
    pos = 0
    while pos < len(sql):
        if sql[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(sql, pos)
        if not m or m.end() == pos:
            raise ValueError(f"OGR SQL: cannot tokenize at: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.group("float"):
            out.append(_Tok("FLOAT", float(m.group("float"))))
        elif m.group("int"):
            out.append(_Tok("INT", int(m.group("int"))))
        elif m.group("str"):
            out.append(_Tok("STR", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("qident"):
            out.append(_Tok("IDENT", m.group("qident")[1:-1].replace('""', '"')))
        elif m.group("ident"):
            up = m.group("ident").upper()
            if up in _KEYWORDS:
                out.append(_Tok("KW", up))
            else:
                out.append(_Tok("IDENT", m.group("ident")))
        else:
            out.append(_Tok("OP", m.group("op")))
    out.append(_Tok("END", None))
    return out


# --------------------------------------------------------------------------
# AST  (plain tuples)
#   ("col", table|None, name)        ("lit", value)    ("null",)
#   ("op", opname, args...)          ("func", name, [args])
#   ("cast", expr, typename, [typeargs])
#   ("agg", op, expr|None, distinct)           # expr None => COUNT(*)
#   ("like", expr, pattern_expr, escape|None, insensitive, negated)
#   ("in", expr, [values], negated)  ("between", e, a, b, negated)
#   ("isnull", expr, negated)
# --------------------------------------------------------------------------

_AGG_FUNCS = {"MIN", "MAX", "AVG", "SUM", "COUNT", "STDDEV_POP",
              "STDDEV_SAMP"}


class _Select:
    def __init__(self):
        self.fields = []        # list of (expr, alias|None, hidden)
        self.star = []          # indices of '*' entries (kept in order)
        self.distinct = False
        self.table = None       # (name, alias)
        self.joins = []         # list of (name, alias, on_expr, is_left)
        self.where = None
        self.order_by = []      # list of (("col", t, n), ascending)
        self.limit = None
        self.offset = None
        self.union_all = None   # chained _Select


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    # -- token helpers ---------------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind, val=None):
        t = self.peek()
        if t.kind == kind and (val is None or t.val == val):
            self.i += 1
            return t
        return None

    def expect(self, kind, val=None) -> _Tok:
        t = self.accept(kind, val)
        if t is None:
            raise ValueError(
                f"OGR SQL: expected {val or kind}, got {self.peek()!r}")
        return t

    # -- select ----------------------------------------------------------
    def parse_select(self) -> _Select:
        if self.accept("OP", "("):
            sel = self.parse_select_core()
            self.expect("OP", ")")
        else:
            sel = self.parse_select_core()
        if self.accept("KW", "UNION"):
            self.expect("KW", "ALL")
            sel.union_all = self.parse_select()
        return sel

    def parse_select_core(self) -> _Select:
        self.expect("KW", "SELECT")
        sel = _Select()
        sel.distinct = bool(self.accept("KW", "DISTINCT"))
        while True:
            sel.fields.append(self.parse_column_spec())
            if not self.accept("OP", ","):
                break
        self.expect("KW", "FROM")
        sel.table = self.parse_table_def()
        while True:
            if self.accept("KW", "LEFT"):
                self.expect("KW", "JOIN")
                left = True
            elif self.accept("KW", "JOIN"):
                left = True  # OGR joins are always left-outer first-match
            else:
                break
            name, alias = self.parse_table_def()
            self.expect("KW", "ON")
            on = self.parse_expr()
            sel.joins.append((name, alias, on, left))
        if self.accept("KW", "WHERE"):
            sel.where = self.parse_expr()
        if self.accept("KW", "ORDER"):
            self.expect("KW", "BY")
            while True:
                col = self.parse_field_ref()
                asc = True
                if self.accept("KW", "DESC"):
                    asc = False
                else:
                    self.accept("KW", "ASC")
                sel.order_by.append((col, asc))
                if not self.accept("OP", ","):
                    break
        if self.accept("KW", "LIMIT"):
            sel.limit = int(self.expect("INT").val)
        if self.accept("KW", "OFFSET"):
            sel.offset = int(self.expect("INT").val)
        return sel

    def parse_table_def(self):
        name = self.expect("IDENT").val
        alias = None
        t = self.peek()
        if t.kind == "IDENT":
            alias = self.next().val
        elif self.accept("KW", "AS"):
            alias = self.expect("IDENT").val
        return name, alias

    def parse_column_spec(self):
        # '*' | table.'*' | COUNT(*) | expr [AS alias [HIDDEN]]
        if self.accept("OP", "*"):
            return (("star", None), None, False)
        save = self.i
        t = self.peek()
        if t.kind == "IDENT":
            ident = self.next().val
            if self.accept("OP", "."):
                if self.accept("OP", "*"):
                    return (("star", ident), None, False)
                self.i = save
            elif self.accept("OP", "("):
                if self.accept("OP", "*"):
                    self.expect("OP", ")")
                    if ident.upper() != "COUNT":
                        raise ValueError(f"OGR SQL: {ident}(*) not allowed")
                    expr = ("agg", "COUNT", None, False)
                    alias, hidden = self.parse_as_clause()
                    return (expr, alias, hidden)
                if self.accept("KW", "DISTINCT"):
                    inner = self.parse_field_ref()
                    self.expect("OP", ")")
                    up = ident.upper()
                    if up not in _AGG_FUNCS:
                        raise ValueError(
                            "OGR SQL: DISTINCT only in aggregates")
                    expr = ("agg", up, inner, True)
                    alias, hidden = self.parse_as_clause()
                    return (expr, alias, hidden)
                self.i = save
            else:
                self.i = save
        expr = self.parse_expr()
        alias, hidden = self.parse_as_clause()
        return (expr, alias, hidden)

    def parse_as_clause(self):
        alias = None
        hidden = False
        if self.accept("KW", "AS"):
            alias = self.expect("IDENT").val
        elif self.peek().kind == "IDENT":
            alias = self.next().val
        if alias is not None and self.accept("KW", "HIDDEN"):
            hidden = True
        return alias, hidden

    def parse_field_ref(self):
        a = self.expect("IDENT").val
        if self.accept("OP", "."):
            b = self.expect("IDENT").val
            return ("col", a, b)
        return ("col", None, a)

    # -- expressions (precedence per swq_parser.y %left decls) -----------
    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        e = self.parse_and()
        while self.accept("KW", "OR"):
            e = ("op", "OR", e, self.parse_and())
        return e

    def parse_and(self):
        e = self.parse_not()
        while self.accept("KW", "AND"):
            e = ("op", "AND", e, self.parse_not())
        return e

    def parse_not(self):
        if self.accept("KW", "NOT"):
            return ("op", "NOT", self.parse_not())
        return self.parse_comparison()

    def parse_comparison(self):
        e = self.parse_additive()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.val in ("=", "<>", "!=", "<", ">", "<=",
                                            ">="):
                self.next()
                op = "<>" if t.val == "!=" else t.val
                e = ("op", op, e, self.parse_additive())
                continue
            negated = False
            save = self.i
            if t.kind == "KW" and t.val == "NOT":
                nxt = self.toks[self.i + 1]
                if nxt.kind == "KW" and nxt.val in ("LIKE", "ILIKE", "IN",
                                                    "BETWEEN"):
                    self.next()
                    negated = True
                    t = self.peek()
                else:
                    self.i = save
                    break
            if t.kind == "KW" and t.val in ("LIKE", "ILIKE"):
                self.next()
                pat = self.parse_additive()
                esc = None
                if self.accept("KW", "ESCAPE"):
                    esc_e = self.parse_additive()
                    if esc_e[0] != "lit":
                        raise ValueError("OGR SQL: ESCAPE must be a literal")
                    esc = str(esc_e[1])
                e = ("like", e, pat, esc, t.val == "ILIKE", negated)
                continue
            if t.kind == "KW" and t.val == "IN":
                self.next()
                self.expect("OP", "(")
                vals = [self.parse_additive()]
                while self.accept("OP", ","):
                    vals.append(self.parse_additive())
                self.expect("OP", ")")
                e = ("in", e, vals, negated)
                continue
            if t.kind == "KW" and t.val == "BETWEEN":
                self.next()
                lo = self.parse_additive()
                self.expect("KW", "AND")
                hi = self.parse_additive()
                e = ("between", e, lo, hi, negated)
                continue
            if t.kind == "KW" and t.val == "IS":
                self.next()
                neg = bool(self.accept("KW", "NOT"))
                self.expect("KW", "NULL")
                e = ("isnull", e, neg)
                continue
            break
        return e

    def parse_additive(self):
        e = self.parse_multiplicative()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.val in ("+", "-", "||"):
                self.next()
                e = ("op", t.val, e, self.parse_multiplicative())
            else:
                break
        return e

    def parse_multiplicative(self):
        e = self.parse_unary()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.val in ("*", "/", "%"):
                self.next()
                e = ("op", t.val, e, self.parse_unary())
            else:
                break
        return e

    def parse_unary(self):
        if self.accept("OP", "-"):
            return ("op", "NEG", self.parse_unary())
        if self.accept("OP", "+"):
            return self.parse_unary()
        return self.parse_primary()

    def parse_primary(self):
        t = self.next()
        if t.kind in ("INT", "FLOAT"):
            return ("lit", t.val)
        if t.kind == "STR":
            return ("lit", t.val)
        if t.kind == "KW" and t.val == "NULL":
            return ("null",)
        if t.kind == "KW" and t.val == "CAST":
            self.expect("OP", "(")
            e = self.parse_expr()
            self.expect("KW", "AS")
            tname = self.expect("IDENT").val.upper()
            targs = []
            if self.accept("OP", "("):
                targs.append(int(self.expect("INT").val))
                while self.accept("OP", ","):
                    targs.append(int(self.expect("INT").val))
                self.expect("OP", ")")
            self.expect("OP", ")")
            return ("cast", e, tname, targs)
        if t.kind == "OP" and t.val == "(":
            e = self.parse_expr()
            self.expect("OP", ")")
            return e
        if t.kind == "IDENT":
            if self.accept("OP", "("):
                args = []
                if not self.accept("OP", ")"):
                    args.append(self.parse_expr())
                    while self.accept("OP", ","):
                        args.append(self.parse_expr())
                    self.expect("OP", ")")
                up = t.val.upper()
                if up in _AGG_FUNCS:
                    if len(args) != 1:
                        raise ValueError(f"OGR SQL: {up} takes one argument")
                    return ("agg", up, args[0], False)
                return ("func", up, args)
            if self.accept("OP", "."):
                b = self.expect("IDENT").val
                return ("col", t.val, b)
            return ("col", None, t.val)
        raise ValueError(f"OGR SQL: unexpected token {t!r}")


def parse(sql: str) -> _Select:
    p = _Parser(_tokenize(sql))
    sel = p.parse_select()
    p.expect("END")
    return sel


# --------------------------------------------------------------------------
# lowering
# --------------------------------------------------------------------------


def _like_regex(pattern: str, escape: str | None, insensitive: bool) -> str:
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if escape and c == escape and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    flags = "(?s)" + ("(?i)" if insensitive else "")
    return flags + "^" + "".join(out) + "$"


def _hstore_get_one(value, key):
    """OGRHStoreGetValue (re-derivation of cpl_string semantics): 'k=>v'
    pairs, comma separated, optionally double-quoted with backslash
    escapes."""
    if value is None or key is None:
        return None
    s = value
    i = 0
    n = len(s)

    def token():
        nonlocal i
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            return None
        if s[i] == '"':
            i += 1
            buf = []
            while i < n:
                if s[i] == "\\" and i + 1 < n:
                    buf.append(s[i + 1])
                    i += 2
                elif s[i] == '"':
                    i += 1
                    return "".join(buf)
                else:
                    buf.append(s[i])
                    i += 1
            return "".join(buf)
        buf = []
        while i < n and s[i] not in ",=" and not s[i].isspace():
            if s[i] == "=" and i + 1 < n and s[i + 1] == ">":
                break
            buf.append(s[i])
            i += 1
        return "".join(buf)

    while i < n:
        k = token()
        if k is None:
            return None
        while i < n and s[i].isspace():
            i += 1
        if not s.startswith("=>", i):
            return None
        i += 2
        v = token()
        if k.lower() == key.lower():
            return v
        while i < n and (s[i].isspace() or s[i] == ","):
            i += 1
    return None


@F.pandas_udf(T.StringType())
def _hstore_get(value: pd.Series, key: pd.Series) -> pd.Series:
    """Arrow-batched HSTORE_GET_VALUE (no per-row Python boundary)."""
    import pandas as pd

    return pd.Series(
        [_hstore_get_one(v, k) for v, k in zip(value, key)], dtype=object
    )


@F.pandas_udf(T.StringType())
def _wkb_to_wkt(b: pd.Series) -> pd.Series:
    """OGR_GEOM_WKT special field: Arrow-batched over the numpy WKT
    writer (functions/wkt.py)."""
    import pandas as pd

    from gdal_spark.functions.wkt import to_wkt

    return pd.Series(
        [None if v is None else to_wkt(bytes(v)) for v in b], dtype=object
    )


_GEOM_NAMES = {1: "POINT", 2: "LINESTRING", 3: "POLYGON", 4: "MULTIPOINT",
               5: "MULTILINESTRING", 6: "MULTIPOLYGON",
               7: "GEOMETRYCOLLECTION"}


def _wkb_geom_name(b: Column) -> Column:
    """OGR_GEOMETRY special field: the geometry type name
    (OGRGeometry::getGeometryName) as a pure-Column expression — a
    4-byte little-endian uint32 read at WKB offset 1 (the engine emits
    LE WKB only), stays inside whole-stage codegen."""
    gtype = F.conv(
        F.concat(*[F.hex(F.substring(b, pos, 1)) for pos in (5, 4, 3, 2)]),
        16, 10,
    ).cast("long")
    base = F.when(gtype >= 1000, gtype % 1000).otherwise(
        gtype.bitwiseAND(F.lit(0xFF))
    )
    expr = F.lit(None).cast("string")
    for code, name in _GEOM_NAMES.items():
        expr = F.when(base == code, F.lit(name)).otherwise(expr)
    return F.when(b.isNull(), F.lit(None).cast("string")).otherwise(expr)


@F.pandas_udf(T.DoubleType())
def _wkb_area(b: pd.Series) -> pd.Series:
    """OGR_GEOM_AREA: OGRSurface::get_Area — exterior minus holes,
    summed over multipolygon parts (geom.wkb_area); 0 for non-areal
    geometry, NULL for NULL. Arrow-batched over the numpy shoelace
    kernel (functions/geom.py)."""
    import pandas as pd

    from gdal_spark.functions import wkb as W
    from gdal_spark.functions.geom import wkb_area

    def one(v):
        if v is None:
            return None
        v = bytes(v)
        if W.parse(v)[0] % 1000 in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
            return wkb_area(v)
        return 0.0

    return pd.Series([one(v) for v in b], dtype="float64")


class _Frame:
    """Column resolution over the FROM table + joins."""

    def __init__(self, layers: dict, sel: _Select):
        self.entries = []  # (table_key_lower, alias_lower, DataFrame)
        name, alias = sel.table
        self.entries.append((name.lower(), (alias or name).lower(),
                             _get_layer(layers, name)))
        for jname, jalias, _on, _left in sel.joins:
            self.entries.append((jname.lower(), (jalias or jname).lower(),
                                 _get_layer(layers, jname)))
        # after lowering the join, columns live on one joined DF with
        # disambiguated names: primary columns keep their name, join
        # columns become "<alias>.<col>" (ogr_gensql result convention)
        self.df = None
        self.colmap = {}   # (tbl|None, col_lower) -> (out_name, dtype)

    def build(self):
        prim = self.entries[0][2]
        self.df = prim
        for c, dt in prim.dtypes:
            self.colmap.setdefault((None, c.lower()), (c, dt))
            self.colmap[(self.entries[0][1], c.lower())] = (c, dt)
            self.colmap[(self.entries[0][0], c.lower())] = (c, dt)
        return self

    def add_join(self, ti: int, df: DataFrame):
        alias = self.entries[ti][1]
        for c, dt in df.dtypes:
            out = f"{alias}.{c}"
            self.colmap.setdefault((None, c.lower()), (out, dt))
            self.colmap[(alias, c.lower())] = (out, dt)
            self.colmap[(self.entries[ti][0], c.lower())] = (out, dt)

    def resolve(self, table: str | None, name: str):
        key = (table.lower() if table else None, name.lower())
        if key in self.colmap:
            out, dt = self.colmap[key]
            return F.col(f"`{out}`"), dt
        low = name.lower()
        # special fields (ogr_gensql special field set)
        if low == "fid" and (None, "fid") not in self.colmap:
            raise ValueError("OGR SQL: no fid column on this layer")
        if low == "ogr_geom_wkt" and (None, "wkb") in self.colmap:
            out, _ = self.colmap[(None, "wkb")]
            return _wkb_to_wkt(F.col(f"`{out}`")), "string"
        if low == "ogr_geometry" and (None, "wkb") in self.colmap:
            out, _ = self.colmap[(None, "wkb")]
            return _wkb_geom_name(F.col(f"`{out}`")), "string"
        if low == "ogr_geom_area" and (None, "wkb") in self.colmap:
            out, _ = self.colmap[(None, "wkb")]
            return _wkb_area(F.col(f"`{out}`")), "double"
        if low == "ogr_style":
            if (None, "ogr_style") in self.colmap:
                out, dt = self.colmap[(None, "ogr_style")]
                return F.col(f"`{out}`"), dt
            return F.lit(None).cast("string"), "string"
        raise ValueError(f"OGR SQL: unknown field {table + '.' if table else ''}{name}")


def _get_layer(layers: dict, name: str) -> DataFrame:
    for k, v in layers.items():
        if k.lower() == name.lower():
            return v
    raise ValueError(f"OGR SQL: unknown layer {name!r}")


_STR_TYPES = {"string"}


def _is_str(dt) -> bool:
    return dt in _STR_TYPES


class _Lowerer:
    def __init__(self, frame: _Frame):
        self.frame = frame

    def lower(self, node) -> tuple[Column, str]:
        kind = node[0]
        if kind == "lit":
            v = node[1]
            return F.lit(v), ("string" if isinstance(v, str) else
                              "bigint" if isinstance(v, int) else "double")
        if kind == "null":
            return F.lit(None), "void"
        if kind == "col":
            return self.frame.resolve(node[1], node[2])
        if kind == "cast":
            return self._cast(node)
        if kind == "func":
            return self._func(node)
        if kind == "like":
            return self._like(node)
        if kind == "in":
            c, dt = self.lower(node[1])
            vals = []
            for v in node[2]:
                vc, vdt = self.lower(v)
                if _is_str(dt) and _is_str(vdt):
                    vc = F.lower(vc)
                vals.append(vc)
            lhs = F.lower(c) if _is_str(dt) else c
            e = lhs.isin(*vals)
            return (~e if node[3] else e), "boolean"
        if kind == "between":
            c, dt = self.lower(node[1])
            lo, lodt = self.lower(node[2])
            hi, hidt = self.lower(node[3])
            if _is_str(dt):
                c, lo, hi = F.lower(c), F.lower(lo), F.lower(hi)
            e = (c >= lo) & (c <= hi)
            return (~e if node[4] else e), "boolean"
        if kind == "isnull":
            c, _ = self.lower(node[1])
            return (c.isNotNull() if node[2] else c.isNull()), "boolean"
        if kind == "op":
            return self._op(node)
        if kind == "agg":
            raise ValueError("OGR SQL: aggregate in a scalar context")
        raise ValueError(f"OGR SQL: cannot lower {node!r}")

    def _op(self, node):
        op = node[1]
        if op == "NOT":
            c, _ = self.lower(node[2])
            return ~c, "boolean"
        if op == "NEG":
            c, dt = self.lower(node[2])
            return -c, dt
        a, adt = self.lower(node[2])
        b, bdt = self.lower(node[3])
        if op == "AND":
            return a & b, "boolean"
        if op == "OR":
            return a | b, "boolean"
        if op in ("=", "<>", "<", ">", "<=", ">="):
            if _is_str(adt) and _is_str(bdt):
                # strcasecmp comparisons (swq_op_general.cpp:891-960)
                a, b = F.lower(a), F.lower(b)
            e = {"=": a == b, "<>": a != b, "<": a < b,
                 ">": a > b, "<=": a <= b, ">=": a >= b}[op]
            return e, "boolean"
        if op == "||" or (op == "+" and _is_str(adt) and _is_str(bdt)):
            # string concatenation: null iff the FIRST operand is null
            return F.when(a.isNull(), F.lit(None).cast("string")).otherwise(
                F.concat(a.cast("string"),
                         F.coalesce(b.cast("string"), F.lit("")))), "string"
        if op == "/" and "double" not in (adt, bdt):
            # SWQ_DIVIDE integer branch (swq_op_general.cpp): C++
            # integer division, truncation toward zero
            return (a / b).cast("long"), "bigint"
        num = {"+": a + b, "-": a - b, "*": a * b,
               "/": a / b, "%": a % b}[op]
        dt = "double" if "double" in (adt, bdt) or op == "/" else "bigint"
        return num, dt

    def _like(self, node):
        _, e, pat, esc, insensitive, negated = node
        c, _ = self.lower(e)
        if pat[0] != "lit" or not isinstance(pat[1], str):
            raise ValueError("OGR SQL: LIKE pattern must be a string literal")
        rx = _like_regex(pat[1], esc, insensitive)
        m = c.cast("string").rlike(rx)
        m = F.coalesce(m, F.lit(False))  # null attr -> not matched
        return (~m if negated else m), "boolean"

    def _cast(self, node):
        _, e, tname, targs = node
        c, _ = self.lower(e)
        if tname in ("CHARACTER", "CHAR", "VARCHAR", "TEXT", "STRING"):
            out = c.cast("string")
            if targs:
                out = F.substring(out, 1, targs[0])
            return out, "string"
        if tname in ("INTEGER", "INT"):
            return c.cast("int"), "int"
        if tname in ("BIGINT",):
            return c.cast("long"), "bigint"
        if tname in ("FLOAT", "REAL", "DOUBLE", "NUMERIC"):
            return c.cast("double"), "double"
        if tname in ("DATE",):
            return c.cast("date"), "date"
        if tname in ("TIMESTAMP", "DATETIME"):
            return c.cast("timestamp"), "timestamp"
        if tname in ("BOOLEAN",):
            return c.cast("boolean"), "boolean"
        raise ValueError(f"OGR SQL: unsupported CAST target {tname}")

    def _func(self, node):
        _, name, args = node
        if name == "CONCAT":
            cols = [self.lower(a)[0] for a in args]
            first = cols[0]
            rest = [F.coalesce(c.cast("string"), F.lit("")) for c in cols[1:]]
            return F.when(first.isNull(),
                          F.lit(None).cast("string")).otherwise(
                F.concat(first.cast("string"), *rest)), "string"
        if name == "SUBSTR":
            if len(args) not in (2, 3):
                raise ValueError("OGR SQL: SUBSTR(string, off[, len])")
            s, _ = self.lower(args[0])
            off, _ = self.lower(args[1])
            size, _ = (self.lower(args[2]) if len(args) == 3
                       else (F.lit(100000), "bigint"))
            s = s.cast("string")
            off = off.cast("int")
            size = size.cast("int")
            slen = F.length(s)
            # swq_op_general.cpp:1147: 1-based, 0 behaves as 1, negative
            # counts from the end, window clamped to the string
            off0 = (
                F.when(off > 0, off - 1)
                .when((off < 0) & (slen + off >= 0), slen + off)
                .otherwise(F.lit(0))
            )
            off0 = F.when((size < 0) | (off0 > slen), F.lit(0)).otherwise(off0)
            size0 = (
                F.when(size < 0, F.lit(0))
                .when(off0 + size > slen, slen - off0)
                .otherwise(size)
            )
            size0 = F.when(off0 > slen, F.lit(0)).otherwise(size0)
            return (F.substring(s, off0 + 1, F.greatest(size0, F.lit(0))),
                    "string")
        if name == "HSTORE_GET_VALUE":
            if len(args) != 2:
                raise ValueError("OGR SQL: HSTORE_GET_VALUE(string, string)")
            a, _ = self.lower(args[0])
            b, _ = self.lower(args[1])
            return _hstore_get(a.cast("string"), b.cast("string")), "string"
        raise ValueError(f"OGR SQL: unknown function {name}")


_AGG_LOWER = {
    "MIN": F.min, "MAX": F.max, "AVG": F.avg, "SUM": F.sum,
    "STDDEV_POP": F.stddev_pop, "STDDEV_SAMP": F.stddev_samp,
}


def _geom_envelope(buf: bytes):
    """(xmin, ymin, xmax, ymax) over any parseable WKB geometry."""
    from gdal_spark.functions import wkb as W

    gtype, payload = W.parse(buf)
    base = gtype % 1000 if gtype >= 1000 else gtype & 0xFF
    xs, ys = [], []

    def feed(b, p):
        if b == 1:
            xs.append(p[0])
            ys.append(p[1])
        elif b in (2, 4):
            import numpy as np

            a = np.asarray(p)
            xs.extend([float(a[:, 0].min()), float(a[:, 0].max())])
            ys.extend([float(a[:, 1].min()), float(a[:, 1].max())])
        elif b == 3:
            feed(2, p[0])  # exterior ring bounds envelope
        elif b in (5, 6):
            for part in p:
                feed(2 if b == 5 else 3, part)
        elif b == 7:
            for gt2, p2 in p:
                feed(gt2 % 1000 if gt2 >= 1000 else gt2 & 0xFF, p2)

    feed(base, payload)
    return min(xs), min(ys), max(xs), max(ys)


def _spatial_filter_udf(filter_wkb: bytes):
    import pandas as pd

    # no type hints: postponed-evaluation annotations ('pd.Series'
    # strings) are unresolvable for pandas_udf inside a closure
    @F.pandas_udf(T.BooleanType())
    def flt(wkb_s):
        import numpy as np

        from gdal_spark.functions import geom as G

        x0 = np.empty(len(wkb_s))
        y0 = np.empty(len(wkb_s))
        x1 = np.empty(len(wkb_s))
        y1 = np.empty(len(wkb_s))
        ok = np.zeros(len(wkb_s), bool)
        for i, buf in enumerate(wkb_s):
            if buf is None:
                x0[i] = y0[i] = x1[i] = y1[i] = 0.0
                continue
            x0[i], y0[i], x1[i], y1[i] = _geom_envelope(bytes(buf))
            ok[i] = True
        hit = G.boxes_intersect_wkb(x0, y0, x1, y1, filter_wkb)
        return pd.Series(hit & ok)

    return flt


def execute_sql(spark, sql: str, layers: dict[str, DataFrame],
                spatial_filter: bytes | None = None) -> DataFrame:
    """Run an OGR SQL dialect statement over named layer DataFrames.

    spatial_filter: optional WKB polygon, the ExecuteSQL second
    argument — features of the PRIMARY layer are kept when their
    geometry envelope exactly intersects the filter polygon (the
    prepared-filter envelope test; a GEOS-exact overlay would only
    differ for concave features whose envelope clips the filter)."""
    sel = parse(sql)
    if spatial_filter is not None:
        primary = sel.table[0]
        layers = dict(layers)
        for k in list(layers):
            if k.lower() == primary.lower():
                df = layers[k]
                if "wkb" not in [c.lower() for c in df.columns]:
                    raise ValueError(
                        "OGR SQL: spatial filter needs a wkb column")
                layers[k] = df.filter(
                    _spatial_filter_udf(spatial_filter)(F.col("wkb")))
    return _execute(spark, sel, layers)


def _execute(spark, sel: _Select, layers: dict) -> DataFrame:
    frame = _Frame(layers, sel).build()

    # -- joins: first-match 1:<=1 left join per secondary table ----------
    df = frame.df
    for ti, (jname, jalias, on, _left) in enumerate(sel.joins, start=1):
        jdf = frame.entries[ti][2]
        alias = frame.entries[ti][1]
        renamed = jdf
        for c in jdf.columns:
            renamed = renamed.withColumnRenamed(c, f"{alias}.{c}")
        # equi-join key extraction: ON a.f = b.g (the only form the
        # reference grammar emits for joins — swq_select.cpp joins)
        if on[0] != "op" or on[1] != "=":
            raise ValueError("OGR SQL: JOIN ON must be an equality")
        frame.add_join(ti, jdf)
        df0 = df
        lhs_ast, rhs_ast = on[2], on[3]

        def _side(ast):
            c, dt = _Lowerer(frame).lower(ast)
            return c, dt

        lc, ldt = _side(lhs_ast)
        rc, rdt = _side(rhs_ast)
        if _is_str(ldt) and _is_str(rdt):
            # the dialect's '=' is strcasecmp everywhere, joins included
            lc, rc = F.lower(lc), F.lower(rc)
        # first match: dedupe the secondary on its join key by fid order
        join_col_names = [n for n in renamed.columns]
        key_name = None
        for ast in (lhs_ast, rhs_ast):
            if ast[0] == "col":
                t = (ast[1] or "").lower()
                if t == alias or t == frame.entries[ti][0]:
                    key_name = f"{alias}.{ast[2].lower()}"
        if key_name is None:
            raise ValueError("OGR SQL: JOIN ON must reference the joined table")
        real_key = next(c for c in join_col_names
                        if c.lower() == key_name)
        order_col = next((c for c in join_col_names
                          if c.lower() == f"{alias}.fid"),
                         join_col_names[0])
        w = Window.partitionBy(F.col(f"`{real_key}`")).orderBy(
            F.col(f"`{order_col}`"))
        firsts = (renamed.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        df = df0.join(firsts, lc == rc, "left")
    frame.df = df

    low = _Lowerer(frame)

    # -- classify fields -------------------------------------------------
    has_agg = any(f[0][0] == "agg" for f in sel.fields)

    def default_name(expr, idx):
        if expr[0] == "col":
            if expr[1]:
                return f"{expr[1]}.{expr[2]}"
            return expr[2]
        if expr[0] == "agg":
            inner = expr[2]
            fname = "*" if inner is None else inner[2]
            return f"{expr[1]}_{fname}"
        return f"FIELD_{idx + 1}"

    if has_agg:
        aggs = []
        for idx, (expr, alias, hidden) in enumerate(sel.fields):
            if hidden:
                continue
            if expr[0] != "agg":
                raise ValueError(
                    "OGR SQL: non-aggregate field in a summary query")
            _, op, inner, distinct = expr
            name = alias or default_name(expr, idx)
            if op == "COUNT":
                if inner is None:
                    aggs.append(F.count(F.lit(1)).alias(name))
                elif distinct:
                    c, _ = low.lower(inner)
                    aggs.append(F.count_distinct(c).alias(name))
                else:
                    c, _ = low.lower(inner)
                    aggs.append(F.count(c).alias(name))
            else:
                c, _ = low.lower(inner)
                aggs.append(_AGG_LOWER[op](c).alias(name))
        if sel.where is not None:
            cond, _ = low.lower(sel.where)
            df = df.filter(F.coalesce(cond, F.lit(False)))
        out = df.agg(*aggs)
    else:
        proj = []
        for idx, (expr, alias, hidden) in enumerate(sel.fields):
            if expr[0] == "star":
                tbl = expr[1]
                if tbl is None:
                    for ti, (_k, a, edf) in enumerate(frame.entries):
                        for c in edf.columns:
                            qn = c if ti == 0 else f"{a}.{c}"
                            proj.append((F.col(f"`{qn}`"), qn, False))
                else:
                    ti = next(i for i, e in enumerate(frame.entries)
                              if e[0] == tbl.lower() or e[1] == tbl.lower())
                    a = frame.entries[ti][1]
                    for c in frame.entries[ti][2].columns:
                        qn = c if ti == 0 else f"{a}.{c}"
                        proj.append((F.col(f"`{qn}`"), qn, False))
                continue
            c, _ = low.lower(expr)
            proj.append((c, alias or default_name(expr, idx), hidden))
        if sel.where is not None:
            cond, _ = low.lower(sel.where)
            df = df.filter(F.coalesce(cond, F.lit(False)))
        out_cols = [c.alias(n) for c, n, hid in proj if not hid]
        out_names = [n for _c, n, hid in proj if not hid]
        # ORDER BY must see hidden/sort columns: sort before project
        if sel.order_by:
            sort_cols = []
            for colref, asc in sel.order_by:
                c, _ = low.lower(colref)
                sort_cols.append(c.asc() if asc else c.desc())
            df = df.orderBy(*sort_cols)
        out = df.select(*out_cols)
        if sel.distinct:
            out = out.distinct()
            if sel.order_by:
                sort_cols = []
                for colref, asc in sel.order_by:
                    name = colref[2]
                    match = next((n for n in out_names
                                  if n.lower() == name.lower()), None)
                    if match:
                        c = F.col(f"`{match}`")
                        sort_cols.append(c.asc() if asc else c.desc())
                if sort_cols:
                    out = out.orderBy(*sort_cols)

    if sel.offset:
        out = out.offset(sel.offset)
    if sel.limit is not None:
        out = out.limit(sel.limit)

    if sel.union_all is not None:
        out = out.unionByName(_execute(spark, sel.union_all, layers),
                              allowMissingColumns=True)
    return out
