"""ST_* scalar function catalog, registered into Spark SQL.

Parity target: the SQLite-dialect function list GDAL registers
(ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1172-1240 —
ST_AsText/AsBinary/GeomFromText, IsEmpty/IsValid, Intersects/Within/
Contains/Disjoint, Intersection/Difference, Area, Buffer, MakePoint,
Transform, SRID, Centroid ...) plus point accessors. Backed by the
engine's own numpy kernels (geom/polyclip/wkb/warp) inside pandas UDFs;
`register_all(spark)` exposes them to spark.sql so OGR-SQLite-dialect
queries port over verbatim.

Geometry wire format: WKB in BinaryType (the engine's convention,
matching OGR's Arrow bridge encoding). CRS: EPSG:4326 <-> 3857 only
(the pair the tiling engine uses).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from gdal_spark.functions import geodesic as GEOD
from gdal_spark.functions import geom as G
from gdal_spark.functions import polyclip as PC
from gdal_spark.functions import wkb as W
from gdal_spark.functions.wkt import from_wkt

# --------------------------------------------------------------------------
# WKT output (POINT / LINESTRING / POLYGON / MULTIPOLYGON, 2-D); the
# reader is functions/wkt.from_wkt
# --------------------------------------------------------------------------


def wkt_from_wkb(buf: bytes) -> str:
    gtype, payload = W.parse(buf)
    if gtype == W.WKB_POINT:
        return f"POINT ({payload[0]:.17g} {payload[1]:.17g})"
    if gtype == W.WKB_LINESTRING:
        pts = ", ".join(f"{x:.17g} {y:.17g}" for x, y in payload)
        return f"LINESTRING ({pts})"

    def ring_txt(r):
        r = np.asarray(r)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        return "(" + ", ".join(f"{x:.17g} {y:.17g}" for x, y in r) + ")"

    if gtype == W.WKB_POLYGON:
        return "POLYGON (" + ", ".join(ring_txt(r) for r in payload) + ")"
    if gtype == W.WKB_MULTIPOLYGON:
        polys = ", ".join(
            "(" + ", ".join(ring_txt(r) for r in rings) + ")" for rings in payload
        )
        return f"MULTIPOLYGON ({polys})"
    raise ValueError(f"unsupported type {gtype}")


# --------------------------------------------------------------------------
# Scalar kernels
# --------------------------------------------------------------------------


def _intersects(a: bytes, b: bytes) -> bool:
    ax0, ay0, ax1, ay1 = W.bbox(a)
    bx0, by0, bx1, by1 = W.bbox(b)
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return False
    ta, pa = W.parse(a)
    tb, pb = W.parse(b)
    if ta == W.WKB_POINT:
        return bool(G.points_in_wkb(np.array([pa[0]]), np.array([pa[1]]), b)[0]) \
            if tb in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON) else (pa == pb)
    if tb == W.WKB_POINT:
        return _intersects(b, a)
    # layered exact test (robust to fully-degenerate shared boundaries,
    # e.g. a polygon vs its own envelope):
    # 1. any vertex of one strictly inside the other
    ra = [r for rings in W.polygon_rings(a) for r in rings]
    rb = [r for rings in W.polygon_rings(b) for r in rings]
    va = np.vstack(ra)
    vb = np.vstack(rb)
    if G.points_in_wkb(va[:, 0], va[:, 1], b).any():
        return True
    if G.points_in_wkb(vb[:, 0], vb[:, 1], a).any():
        return True
    # 2. any proper edge crossing
    for r1 in ra:
        for r2 in rb:
            s1 = r1[:-1] if np.array_equal(r1[0], r1[-1]) else r1
            s2 = r2[:-1] if np.array_equal(r2[0], r2[-1]) else r2
            if PC._insert_intersections(PC._build_ring(s1), PC._build_ring(s2)) > 0:
                return True
    # 3. interior sample of the bbox overlap (identical/degenerate case)
    cx = (max(ax0, bx0) + min(ax1, bx1)) / 2.0
    cy = (max(ay0, by0) + min(ay1, by1)) / 2.0
    return bool(
        G.points_in_wkb(np.array([cx]), np.array([cy]), a)[0]
        and G.points_in_wkb(np.array([cx]), np.array([cy]), b)[0]
    )


def _within(a: bytes, b: bytes) -> bool:
    """a within b ⟺ area(a ∪ b) == area(b) (inclusion-exclusion through
    the slab-sweep union — robust where subtracting along shared edges is
    degenerate for vertex clipping)."""
    from gdal_spark.functions import polyunion as PU

    ta, pa = W.parse(a)
    if ta == W.WKB_POINT:
        return bool(G.points_in_wkb(np.array([pa[0]]), np.array([pa[1]]), b)[0])
    area_b = G.wkb_area(b)
    ua = PU.union_area_exact(
        [list(r) for r in W.polygon_rings(a)] + [list(r) for r in W.polygon_rings(b)]
    )
    return abs(ua - area_b) <= 1e-9 * max(area_b, G.wkb_area(a), 1e-300)


def _distance(a: bytes, b: bytes) -> float:
    """Min distance between two geometries (vertex/edge based)."""

    def as_segments(buf):
        t, p = W.parse(buf)
        if t == W.WKB_POINT:
            pt = np.array([p])
            return pt, np.empty((0, 4))
        if t == W.WKB_LINESTRING:
            v = np.asarray(p)
            return v, np.column_stack([v[:-1], v[1:]])
        rings = [r for rings in W.polygon_rings(buf) for r in rings]
        v = np.vstack(rings)
        segs = []
        for r in rings:
            rr = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
            segs.append(np.column_stack([rr[:-1], rr[1:]]))
        return v, np.vstack(segs)

    if _intersects(a, b):
        return 0.0
    va, sa = as_segments(a)
    vb, sb = as_segments(b)

    def pt_seg(pts, segs):
        if len(segs) == 0 or len(pts) == 0:
            return np.inf
        p = pts[:, None, :]
        s1 = segs[None, :, 0:2]
        s2 = segs[None, :, 2:4]
        d = s2 - s1
        ln = (d**2).sum(-1)
        ln = np.where(ln == 0, 1.0, ln)
        t = np.clip(((p - s1) * d).sum(-1) / ln, 0, 1)
        proj = s1 + t[..., None] * d
        return float(np.sqrt(((p - proj) ** 2).sum(-1)).min())

    vv = float(np.sqrt(((va[:, None] - vb[None, :]) ** 2).sum(-1)).min())
    return min(vv, pt_seg(va, sb), pt_seg(vb, sa))


def _centroid(buf: bytes) -> bytes:
    t, p = W.parse(buf)
    if t == W.WKB_POINT:
        return bytes(buf)
    if t == W.WKB_LINESTRING:
        v = np.asarray(p)
        seg = v[1:] - v[:-1]
        ln = np.sqrt((seg**2).sum(1))
        mid = (v[1:] + v[:-1]) / 2
        tot = ln.sum()
        c = mid.mean(0) if tot == 0 else (mid * ln[:, None]).sum(0) / tot
        return W.write_point(float(c[0]), float(c[1]))
    # area-weighted polygon centroid (signed shoelace moments per ring)
    cx = cy = aa = 0.0
    for rings in W.polygon_rings(buf):
        for k, r in enumerate(rings):
            rr = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
            x, y = rr[:-1, 0], rr[:-1, 1]
            xn, yn = rr[1:, 0], rr[1:, 1]
            cross = x * yn - xn * y
            a_r = cross.sum() / 2.0
            sign = 1.0 if k == 0 else -1.0  # holes subtract
            mag = abs(a_r) * sign
            if a_r == 0:
                continue
            cx += mag * float(((x + xn) * cross).sum() / (6.0 * a_r))
            cy += mag * float(((y + yn) * cross).sum() / (6.0 * a_r))
            aa += mag
    if aa == 0:
        xmin, ymin, xmax, ymax = W.bbox(buf)
        return W.write_point((xmin + xmax) / 2, (ymin + ymax) / 2)
    return W.write_point(cx / aa, cy / aa)


def _buffer(buf: bytes, dist: float, quadsegs: int = 8) -> bytes | None:
    """OGRGeometry::Buffer (ogrgeometry.cpp:4949 -> GEOS Buffer) with the
    GEOS quadsegs arc convention: points (disc), 2-point lines (capsule),
    convex polygons (positive = edges+arcs, negative = half-plane erosion);
    see functions/buffer.py for the documented concave deviation."""
    from gdal_spark.functions import buffer as B

    return B.buffer_wkb(buf, dist, quadsegs)


def _transform(buf: bytes, src: int, dst: int) -> bytes:
    from gdal_spark.functions import crs as CRS
    from gdal_spark.raster.warp import lonlat_to_meters_np, meters_to_lonlat_np

    if (src, dst) == (4326, 3857):
        fn = lonlat_to_meters_np
    elif (src, dst) == (3857, 4326):
        fn = meters_to_lonlat_np
    elif src == dst:
        return bytes(buf)
    else:
        # UTM zones, conic/azimuthal/sinusoidal families + cross pairs
        # via the crs.py dispatcher (54008 = ESRI sinusoidal SRID)
        def code(n: int) -> str:
            return "ESRI:54008" if n == 54008 else f"EPSG:{n}"

        sc, dc = code(src), code(dst)
        if not (CRS.supported(sc) and CRS.supported(dc)):
            raise ValueError(f"unsupported transform {src}->{dst}")

        def fn(x, y, _sc=sc, _dc=dc):
            return CRS.transform(_sc, _dc, x, y)

    t, p = W.parse(buf)
    if t == W.WKB_POINT:
        x, y = fn(np.array([p[0]]), np.array([p[1]]))
        return W.write_point(float(x[0]), float(y[0]))
    if t == W.WKB_LINESTRING:
        v = np.asarray(p)
        x, y = fn(v[:, 0], v[:, 1])
        return W.write_linestring(np.column_stack([x, y]))
    polys = []
    for rings in W.polygon_rings(buf):
        polys.append([np.column_stack(fn(r[:, 0], r[:, 1])) for r in rings])
    return W.write_polygon(polys[0]) if t == W.WKB_POLYGON else W.write_multipolygon(polys)


def _ring_sets(buf: bytes) -> list:
    """[[rings of poly 1], [rings of poly 2], ...] for the slab-sweep kernel."""
    return [list(rings) for rings in W.polygon_rings(buf)]


def _bool_geom(a: bytes, b: bytes, op: str):
    """Boolean op via the robust slab-sweep kernel (polyunion.boolean_region)
    — exact on shared/collinear edges where vertex clipping degenerates
    (GDAL analog: OGRGeometry::Union/SymDifference, ogr/ogrgeometry.cpp —
    GEOS-backed)."""
    from gdal_spark.functions import polyunion as PU

    return [p for p in PU.boolean_region(_ring_sets(a), _ring_sets(b), op) if p]


def _union_geom(a: bytes, b: bytes):
    return _bool_geom(a, b, "union")


def _symdifference_geom(a: bytes, b: bytes):
    return _bool_geom(a, b, "symdifference")


def _region_wkb(region) -> bytearray:
    if not region:
        # GEOS returns an empty geometry (not NULL) for e.g. SymDiff(a, a);
        # POLYGON EMPTY = polygon with zero rings, ST_Area -> 0.0
        return bytearray(W.write_polygon([]))
    return bytearray(
        W.write_polygon(region[0]) if len(region) == 1 else W.write_multipolygon(region)
    )


def _inter_area(a: bytes, b: bytes) -> float:
    """area(a ∩ b) via the robust slab-sweep union (inclusion-exclusion) —
    immune to the shared-edge degeneracies that break vertex clipping."""
    from gdal_spark.functions import polyunion as PU

    ua = PU.union_area_exact(_ring_sets(a) + _ring_sets(b))
    return max(0.0, G.wkb_area(a) + G.wkb_area(b) - ua)


def _touches(a: bytes, b: bytes) -> bool:
    """Boundaries meet but interiors don't (OGC Touches, area/area case)."""
    if not _intersects(a, b):
        return False
    scale = max(G.wkb_area(a), G.wkb_area(b), 1e-300)
    return _inter_area(a, b) <= 1e-9 * scale


def _overlaps(a: bytes, b: bytes) -> bool:
    """Interiors intersect, neither contains the other (OGC Overlaps)."""
    scale = max(G.wkb_area(a), G.wkb_area(b), 1e-300)
    if _inter_area(a, b) <= 1e-9 * scale:
        return False
    return not _within(a, b) and not _within(b, a)


def _equals(a: bytes, b: bytes) -> bool:
    return _within(a, b) and _within(b, a)


def _crosses(a: bytes, b: bytes) -> bool:
    """OGC Crosses: dimension-mixing intersection. Supported for
    line/polygon (line has points both inside and outside) and line/line
    (single-point crossing); polygon/polygon is always false per spec."""
    ta, pa = W.parse(a)
    tb, pb = W.parse(b)
    if ta == W.WKB_LINESTRING and tb in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
        v = np.asarray(pa)
        # sample segment midpoints as interior probes in addition to vertices
        mids = (v[:-1] + v[1:]) / 2.0 if len(v) > 1 else v
        probe = np.vstack([v, mids])
        inside = G.points_in_wkb(probe[:, 0], probe[:, 1], b)
        return bool(inside.any() and (~inside).any())
    if tb == W.WKB_LINESTRING and ta in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
        return _crosses(b, a)
    if ta == tb == W.WKB_LINESTRING:
        va, vb = np.asarray(pa), np.asarray(pb)
        s1 = PC._build_ring(va)
        s2 = PC._build_ring(vb)
        return PC._insert_intersections(s1, s2) > 0
    return False


def _length(buf: bytes) -> float:
    """LINESTRING -> length; POLYGON/MULTIPOLYGON -> boundary perimeter;
    POINT -> 0 (OGR_L_GetGeometryLength semantics)."""
    t, p = W.parse(buf)
    if t == W.WKB_POINT:
        return 0.0
    if t == W.WKB_LINESTRING:
        v = np.asarray(p)
        return float(np.sqrt(((v[1:] - v[:-1]) ** 2).sum(1)).sum())
    tot = 0.0
    for rings in W.polygon_rings(buf):
        for r in rings:
            rr = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
            tot += float(np.sqrt(((rr[1:] - rr[:-1]) ** 2).sum(1)).sum())
    return tot


def _is_valid(buf: bytes) -> bool:
    try:
        t, p = W.parse(buf)
        if t in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
            for rings in W.polygon_rings(buf):
                if len(rings) == 0 or any(len(r) < 3 for r in rings):
                    return False
                if abs(G.ring_area(rings[0])) <= 0:
                    return False
        return True
    except Exception:
        return False


def _segments_cross(p1, p2, p3, p4) -> bool:
    """Proper or improper crossing of segments p1p2 / p3p4 (shared
    endpoints excluded by the caller's index filter)."""
    d1 = np.cross(p4 - p3, p1 - p3)
    d2 = np.cross(p4 - p3, p2 - p3)
    d3 = np.cross(p2 - p1, p3 - p1)
    d4 = np.cross(p2 - p1, p4 - p1)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on_seg(a, b, c):
        return (
            abs(float(np.cross(b - a, c - a))) < 1e-12
            and min(a[0], b[0]) - 1e-12 <= c[0] <= max(a[0], b[0]) + 1e-12
            and min(a[1], b[1]) - 1e-12 <= c[1] <= max(a[1], b[1]) + 1e-12
        )

    return (
        on_seg(p1, p2, p3) or on_seg(p1, p2, p4)
        or on_seg(p3, p4, p1) or on_seg(p3, p4, p2)
    )


def _path_simple(v: np.ndarray, closed: bool) -> bool:
    """No self-intersection among the path's segments; adjacent segments
    (and the closing pair of a ring) only share their common endpoint."""
    n = len(v) - 1
    for i in range(n):
        for j in range(i + 2, n):
            if closed and i == 0 and j == n - 1:
                continue  # ring closure adjacency
            if _segments_cross(v[i], v[i + 1], v[j], v[j + 1]):
                return True
    return False


def _is_simple(buf: bytes) -> bool:
    """OGC IsSimple (OGRGeometry::IsSimple, GEOS-backed in GDAL): points
    always simple; linestrings simple iff no self-intersection; polygons
    simple iff every ring is non-self-intersecting."""
    try:
        t, p = W.parse(buf)
        if t == W.WKB_POINT:
            return True
        if t == W.WKB_LINESTRING:
            return not _path_simple(np.asarray(p, float), closed=False)
        for rings in W.polygon_rings(buf):
            for r in rings:
                rr = r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
                if _path_simple(np.asarray(rr, float), closed=True):
                    return False
        return True
    except Exception:
        return False


def _make_valid(buf: bytes):
    """ST_MakeValid (ogrsqlitesqlfunctions.cpp gbRegisterMakeValid path;
    OGRGeometry::MakeValid): self-union through the slab-sweep region
    kernel normalizes self-intersecting / mis-wound rings into a clean
    even-odd region — the same 'structure' method GEOS MakeValid uses."""
    t, _ = W.parse(buf)
    if t not in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
        return bytearray(buf)
    return _region_wkb(_bool_geom(buf, buf, "union"))


def _all_vertices(buf: bytes) -> np.ndarray:
    t, p = W.parse(buf)
    if t == W.WKB_POINT:
        return np.asarray([p], float)
    if t == W.WKB_LINESTRING:
        return np.asarray(p, float)
    return np.vstack([r for rings in W.polygon_rings(buf) for r in rings])


def _convex_hull(buf: bytes):
    """ST_ConvexHull (OGRGeometry::ConvexHull, ogr/ogrgeometry.cpp —
    GEOS-backed): Andrew monotone chain over every vertex of the input
    geometry; degenerate (<3 distinct points) inputs return themselves,
    matching GEOS's point/segment hulls."""
    pts = np.unique(_all_vertices(buf), axis=0)
    if len(pts) == 1:
        return W.write_point(float(pts[0, 0]), float(pts[0, 1]))
    if len(pts) == 2:
        return W.write_linestring(pts)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(seq):
        out = []
        for q in seq:
            while len(out) >= 2:
                u, v = out[-1] - out[-2], q - out[-2]
                if u[0] * v[1] - u[1] * v[0] <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.asarray(lower[:-1] + upper[:-1], float)
    if len(hull) < 3:  # all collinear
        return W.write_linestring(np.asarray([pts[0], pts[-1]], float))
    # CCW ring, closed
    return W.write_polygon([np.vstack([hull, hull[:1]])])


def _union_cascaded(buf: bytes):
    """ST_UnionCascaded (OGRGeometry::UnionCascaded,
    ogr/ogrgeometry.cpp — GEOSUnionCascaded): n-ary union of a
    MultiPolygon's members in one slab sweep (polyunion.union_rings),
    re-structured into proper exterior/hole nesting."""
    from gdal_spark.functions import polyclip as PC
    from gdal_spark.functions import polyunion as PU

    t, _ = W.parse(buf)
    if t not in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
        return bytearray(buf)
    flat = PU.union_rings(W.polygon_rings(buf))
    return _region_wkb(PC.structure_rings(flat))


# --------------------------------------------------------------------------
# Registration
# --------------------------------------------------------------------------


CATALOG: dict[str, tuple] = {}


def register_all(spark: SparkSession) -> None:
    """Register the ST_ catalog as Spark SQL UDFs (the engine's analog of
    OGRSQLiteRegisterSQLFunctions, ogrsqlitesqlfunctions.cpp:1107)."""
    from pyspark.sql.functions import pandas_udf

    def reg1(name, fn, ret):
        @pandas_udf(ret)
        def udf(col: pd.Series) -> pd.Series:
            return col.map(lambda v: None if v is None else fn(bytes(v)))
        spark.udf.register(name, udf)

    def reg2bin(name, fn, ret):
        @pandas_udf(ret)
        def udf(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series(
                [None if (x is None or y is None) else fn(bytes(x), bytes(y))
                 for x, y in zip(a, b)]
            )
        spark.udf.register(name, udf)

    reg1("ST_Area", G.wkb_area, T.DoubleType())
    reg1("ST_AsText", wkt_from_wkb, T.StringType())
    reg1("ST_Centroid", _centroid, T.BinaryType())
    reg1("ST_IsValid", _is_valid, T.BooleanType())
    reg1("ST_IsEmpty", lambda b: G.wkb_area(b) <= 0 if W.parse(b)[0] in (3, 6) else False,
         T.BooleanType())
    reg1("ST_X", lambda b: float(W.parse(b)[1][0]), T.DoubleType())
    reg1("ST_Y", lambda b: float(W.parse(b)[1][1]), T.DoubleType())
    reg1("ST_NPoints", lambda b: sum(len(r) for rings in ([W.parse(b)[1]] if W.parse(b)[0] == 2 else W.polygon_rings(b)) for r in (rings if isinstance(rings, list) else [rings])) if W.parse(b)[0] != 1 else 1,
         T.IntegerType())
    reg1("ST_SRID", lambda b: 4326, T.IntegerType())

    @pandas_udf(T.BinaryType())
    def geomfromtext(col: pd.Series) -> pd.Series:
        def one(v):
            buf = None if v is None else from_wkt(v)  # "... EMPTY" -> NULL
            return None if buf is None else bytearray(buf)
        return col.map(one)
    spark.udf.register("ST_GeomFromText", geomfromtext)

    @pandas_udf(T.BinaryType())
    def makepoint(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [bytearray(W.write_point(float(a), float(b))) for a, b in zip(x, y)]
        )
    spark.udf.register("ST_MakePoint", makepoint)

    @pandas_udf(T.BinaryType())
    def envelope(col: pd.Series) -> pd.Series:
        def env(v):
            x0, y0, x1, y1 = W.bbox(bytes(v))
            return bytearray(W.write_polygon(
                [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]
            ))
        return col.map(lambda v: None if v is None else env(v))
    spark.udf.register("ST_Envelope", envelope)

    @pandas_udf(T.BinaryType())
    def buffer_udf(col: pd.Series, dist: pd.Series) -> pd.Series:
        def one(v, d):
            if v is None:
                return None
            out = _buffer(bytes(v), float(d))
            return None if out is None else bytearray(out)

        return pd.Series([one(v, d) for v, d in zip(col, dist)])
    spark.udf.register("ST_Buffer", buffer_udf)

    @pandas_udf(T.BinaryType())
    def curve_to_line(col: pd.Series) -> pd.Series:
        """Spatialite/OGC ST_CurveToLine: linearize curved ISO WKB
        (CircularString etc.) at the default 4-deg arc step; linear
        geometries pass through unchanged."""
        from gdal_spark.functions.curves import linearize_wkb

        return col.map(
            lambda v: None if v is None else bytearray(linearize_wkb(bytes(v)))
        )
    spark.udf.register("ST_CurveToLine", curve_to_line)

    @pandas_udf(T.BinaryType())
    def transform_udf(col: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else bytearray(_transform(bytes(v), int(s), int(d)))
             for v, s, d in zip(col, src, dst)]
        )
    spark.udf.register("ST_Transform", transform_udf)

    reg2bin("ST_Intersects", _intersects, T.BooleanType())
    reg2bin("ST_Disjoint", lambda a, b: not _intersects(a, b), T.BooleanType())
    reg2bin("ST_Within", _within, T.BooleanType())
    reg2bin("ST_Contains", lambda a, b: _within(b, a), T.BooleanType())
    reg2bin("ST_Distance", _distance, T.DoubleType())

    def bin_geom(op):
        def fn(a, b):
            return _region_wkb(_bool_geom(a, b, op))

        return fn

    reg2bin("ST_Intersection", bin_geom("intersection"), T.BinaryType())
    reg2bin("ST_Difference", bin_geom("difference"), T.BinaryType())

    # second half of the sqlite-dialect list
    # (ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1172-1240)
    reg2bin("ST_Union", lambda a, b: _region_wkb(_union_geom(a, b)), T.BinaryType())
    reg2bin(
        "ST_SymDifference",
        lambda a, b: _region_wkb(_symdifference_geom(a, b)),
        T.BinaryType(),
    )
    reg2bin("ST_Touches", _touches, T.BooleanType())
    reg2bin("ST_Crosses", _crosses, T.BooleanType())
    reg2bin("ST_Overlaps", _overlaps, T.BooleanType())
    reg2bin("ST_Equals", _equals, T.BooleanType())
    reg1("ST_Length", _length, T.DoubleType())
    # WKB is the engine's native wire format: AsBinary re-emits the buffer
    # (validated), GeomFromWKB parse-validates and returns it
    reg1("ST_AsBinary", lambda b: bytearray(b) if W.parse(b) else None, T.BinaryType())
    reg1("ST_GeomFromWKB", lambda b: bytearray(b) if W.parse(b) else None, T.BinaryType())
    reg1("ST_IsSimple", _is_simple, T.BooleanType())
    reg1("ST_MakeValid", _make_valid, T.BinaryType())
    reg1("ST_ConvexHull", _convex_hull, T.BinaryType())
    reg1("ST_UnionCascaded", _union_cascaded, T.BinaryType())
    # the 2-arg ST_Area(geom, use_ellipsoid) / ST_Length(geom, use_ellipsoid)
    # forms (ogrsqlitesqlfunctions.cpp:1226-1239) — Spark SQL UDFs cannot
    # overload by arity, so they register under GDAL's own C entry names
    reg1("ST_GeodesicArea", GEOD.wkb_geodesic_area, T.DoubleType())
    reg1("ST_GeodesicLength", GEOD.wkb_geodesic_length, T.DoubleType())

    # simplify / segmentize (apps/gdalalg_vector_simplify.cpp,
    # apps/gdalalg_vector_segmentize.cpp; OGRGeometry::Simplify /
    # SimplifyPreserveTopology / segmentize, ogr/ogrgeometry.cpp:866)
    from gdal_spark.functions import simplify as SIMP

    def reg_bin_double(name, fn):
        @pandas_udf(T.BinaryType())
        def udf(col: pd.Series, arg: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    None if v is None else
                    (lambda r: None if r is None else bytearray(r))(
                        fn(bytes(v), float(d))
                    )
                    for v, d in zip(col, arg)
                ]
            )
        spark.udf.register(name, udf)

    reg_bin_double("ST_Simplify", lambda b, t: SIMP.simplify_wkb(b, t))
    reg_bin_double(
        "ST_SimplifyPreserveTopology",
        lambda b, t: SIMP.simplify_wkb(b, t, preserve=True),
    )
    reg_bin_double("ST_Segmentize", SIMP.segmentize_wkb)
