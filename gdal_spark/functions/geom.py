"""Vectorized geometry kernels (pure numpy).

The exact-phase predicates behind the engine's two-phase spatial filter.
Semantics follow the reference algorithms (re-derived from their published
math, not copied):

  * point-in-ring ray casting — odd-even crossing count with the same
    edge-handling as OGRLinearRing::isPointInRing (ogr/ogrlinearring.cpp:
    452-521): horizontal-ray crossing test `(y1 <= y < y2) or
    (y2 <= y < y1)` with intersection-x comparison.
  * shoelace signed area (OGRLinearRing::get_Area semantics).
  * polygon assembly, shared by every reader that builds polygons from
    edges or loose rings: `build_rings` chains edges end to end
    (OGRBuildPolygonFromEdges, ogr/ograssemblepolygon.cpp, best-effort
    with auto-close) and `organize_polygons` nests rings into polygons
    (OGRGeometryFactory::organizePolygons METHOD_NORMAL,
    ogr/ogrgeometryfactory.cpp:2286-2450).
  * Sutherland-Hodgman clipping against axis-aligned boxes — the geometry
    backbone for per-tile rasterize/clip (GDAL delegates to GEOS; a box
    clip is all the tiling pipeline needs and is exactly vectorizable).

Every kernel takes point ARRAYS, never scalars — callers batch per
partition (prepared-geometry pattern of ogrlayer.cpp:3919: parse/prepare
once per polygon, probe many points).
"""

from __future__ import annotations

import math

import numpy as np

from gdal_spark.functions import wkb as W


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized odd-even ray casting: bool mask over (px, py).

    `ring` is (N,2), closed or open (closure implied).
    """
    x1 = ring[:-1, 0][:, None] if np.array_equal(ring[0], ring[-1]) else None
    if x1 is None:
        ring = np.vstack([ring, ring[:1]])
    xs = ring[:, 0]
    ys = ring[:, 1]
    x1, y1 = xs[:-1][:, None], ys[:-1][:, None]
    x2, y2 = xs[1:][:, None], ys[1:][:, None]
    px = np.asarray(px, dtype=np.float64)[None, :]
    py = np.asarray(py, dtype=np.float64)[None, :]
    crosses = ((y1 <= py) & (py < y2)) | ((y2 <= py) & (py < y1))
    # x of edge/ray intersection; guard div-by-zero on non-crossing edges
    dy = np.where(y2 - y1 == 0.0, 1.0, y2 - y1)
    xint = x1 + (py - y1) * (x2 - x1) / dy
    hits = crosses & (px < xint)
    return hits.sum(axis=0) % 2 == 1


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Point-in-polygon with holes: inside exterior, outside every hole."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


_PREP_CACHE: dict[bytes, tuple] = {}
_PREP_CACHE_MAX = 65536


def prepared(wkb_buf: bytes) -> tuple:
    """(bbox, polygons) parsed once per worker process — the prepared-
    geometry cache of ogrlayer.cpp:3919 restated: broadcast dims repeat
    the same WKB across millions of probe rows, so parse each buffer once
    per executor, not once per Arrow batch."""
    hit = _PREP_CACHE.get(wkb_buf)
    if hit is None:
        if len(_PREP_CACHE) >= _PREP_CACHE_MAX:
            _PREP_CACHE.clear()
        hit = (W.bbox(wkb_buf), W.polygon_rings(wkb_buf))
        _PREP_CACHE[wkb_buf] = hit
    return hit


def points_in_wkb(px: np.ndarray, py: np.ndarray, wkb_buf: bytes) -> np.ndarray:
    """PIP against Polygon/MultiPolygon WKB, with bbox fast-reject
    (envelope pretest of ogrlayer.cpp:4004)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    (xmin, ymin, xmax, ymax), polys = prepared(wkb_buf)
    cand = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
    out = np.zeros(px.shape, dtype=bool)
    if not cand.any():
        return out
    cx, cy = px[cand], py[cand]
    acc = np.zeros(cx.shape, dtype=bool)
    for rings in polys:
        acc |= points_in_polygon(cx, cy, rings)
    out[cand] = acc
    return out


def boxes_intersect_wkb(
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray, wkb_buf: bytes
) -> np.ndarray:
    """Vectorized exact box-vs-polygon intersects for ARRAYS of boxes
    against one polygon. Decision ladder (all semantics-preserving):
      1. envelope reject;
      2. box covers the polygon bbox -> hit;
      3. any box corner inside the polygon (vectorized ray casting) -> hit;
      4. any polygon vertex inside the box (vectorized) -> hit;
      5. undecided rows only: exact Sutherland-Hodgman clip (the only
         remaining true-hit shape is edge-crossing-without-containment).

    Boundary semantics: steps 3/4 use closed comparisons, so a polygon
    vertex lying ON the box boundary counts as a hit; but a pure
    edge-touch with no vertex in the closed box falls to step 5, whose
    zero-net-area clip reads as disjoint. I.e. this predicate tests
    interior intersection (OPEN-set Intersects) in that corner case,
    deviating from OGC/GEOS closed-set Intersects for zero-area contact.
    ST_Intersects/ST_Touches in st_catalog handle boundary contact
    exactly; use those when touch semantics matter.
    """
    x0 = np.asarray(x0, float); y0 = np.asarray(y0, float)  # noqa: E702
    x1 = np.asarray(x1, float); y1 = np.asarray(y1, float)  # noqa: E702
    out = np.zeros(x0.shape, dtype=bool)
    (bxmin, bymin, bxmax, bymax), polys = prepared(wkb_buf)
    cand = (x0 <= bxmax) & (x1 >= bxmin) & (y0 <= bymax) & (y1 >= bymin)
    idx = np.nonzero(cand)[0]
    if len(idx) == 0:
        return out
    cx0, cy0, cx1, cy1 = x0[idx], y0[idx], x1[idx], y1[idx]
    hit = (cx0 <= bxmin) & (cy0 <= bymin) & (cx1 >= bxmax) & (cy1 >= bymax)
    px = np.concatenate([cx0, cx0, cx1, cx1])
    py = np.concatenate([cy0, cy1, cy0, cy1])
    hit |= points_in_wkb(px, py, wkb_buf).reshape(4, -1).any(axis=0)
    verts = np.vstack([np.asarray(r, float) for rings in polys for r in rings])
    vin = (
        (verts[:, 0:1] >= cx0) & (verts[:, 0:1] <= cx1)
        & (verts[:, 1:2] >= cy0) & (verts[:, 1:2] <= cy1)
    )
    hit |= vin.any(axis=0)
    for j in np.nonzero(~hit)[0]:
        hit[j] = (
            clip_wkb_to_box(wkb_buf, cx0[j], cy0[j], cx1[j], cy1[j]) is not None
        )
    out[idx] = hit
    return out


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (positive = CCW)."""
    ring = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Unsigned area: |exterior| - sum(|holes|)."""
    area = abs(ring_area(rings[0]))
    for hole in rings[1:]:
        area -= abs(ring_area(hole))
    return area


def _close_enough(p, q, tol: float) -> tuple[bool, float]:
    if tol == 0:
        return p[0] == q[0] and p[1] == q[1], 0.0
    dx, dy = abs(p[0] - q[0]), abs(p[1] - q[1])
    if dx > tol or dy > tol:
        return False, tol
    d = math.hypot(dx, dy)
    return d < tol, d


def build_rings(edges: list, tol: float = 0.0) -> list[list]:
    """Chain edges (point sequences, >= 2 points) end to end into closed
    rings: OGRBuildPolygonFromEdges, best-effort with auto-close.

    A ring starts at the first unused edge and grows by the unused edge
    whose start or end (then reversed) lies nearest its open end within
    `tol`; an exact match wins at once. A ring that stops short of its
    start is closed: snapped when the ends are within `tol`, otherwise by
    appending its first point. Points are not copied: a ring holds the
    input point objects. Only x and y are compared; points keep their
    other ordinates.
    """
    todo = [e for e in edges if len(e) >= 2]
    rings = []
    while todo:
        ring = list(todo.pop(0))
        work = True
        while not _close_enough(ring[0], ring[-1], 0)[0] and todo and work:
            work = False
            best = tol
            bi, brev = -1, False
            for i, e in enumerate(todo):
                ok, d = _close_enough(e[0], ring[-1], best)
                if ok:
                    best, bi, brev = d, i, False
                    if d == 0.0:
                        break
                ok, d = _close_enough(e[-1], ring[-1], best)
                if ok:
                    best, bi, brev = d, i, True
                    if d == 0.0:
                        break
            if bi >= 0:
                e = todo.pop(bi)
                if brev:
                    e = e[::-1]
                if _close_enough(e[0], ring[-1], tol)[0]:
                    e = e[1:]
                ring.extend(e)
                work = True
        if not _close_enough(ring[0], ring[-1], tol)[0]:
            ring.append(ring[0])
        elif not _close_enough(ring[0], ring[-1], 0)[0]:
            ring[-1] = ring[0]
        rings.append(ring)
    return rings


def organize_polygons(rings: list, only_ccw: bool = False) -> list[list]:
    """Nest rings into polygons [shell, hole, ...]: organizePolygons
    METHOD_NORMAL.

    Rings are visited by decreasing area. Ring i lies in ring j when j's
    envelope covers i's and j strictly contains i's first vertex; of the
    larger rings, the smallest such j wins. A ring inside a shell is its
    hole; a ring inside a hole (an island) or inside nothing is a shell.
    Overlapping rings whose envelopes do not nest all stay shells.

    `only_ccw` is METHOD=ONLY_CCW, for shapefile and FileGDB parts, where
    a clockwise ring is an exterior: a CW ring is always a shell and a
    CCW ring can only be a hole of a CW ring. Parts with no CW ring at
    all nest as METHOD_NORMAL.

    Shells come out in input order, each followed by its holes in input
    order. Rings may be arrays or point lists with extra ordinates; they
    are returned as given.
    """
    n = len(rings)
    if n == 1:
        return [[rings[0]]]
    xy = [np.asarray(r, np.float64)[:, :2] if isinstance(r, np.ndarray)
          else np.array([(p[0], p[1]) for p in r], np.float64) for r in rings]
    signed = np.array([ring_area(a) for a in xy])
    order = np.argsort(-np.abs(signed), kind="stable")
    can_hold = signed < 0 if only_ccw and (signed < 0).any() else np.ones(n, bool)
    # envelopes and holder flags in visiting order, one contiguous array each
    x0, y0, x1, y1 = np.array([(*xy[i].min(axis=0), *xy[i].max(axis=0))
                               for i in order]).T.copy()
    hold = can_hold[order]
    encl: dict[int, int] = {}
    for pos in range(1, n):
        i = int(order[pos])
        if only_ccw and signed[i] < 0:
            continue
        # larger rings whose envelope covers i's, nearest in size first
        cand = np.flatnonzero(hold[:pos] & (x0[:pos] <= x0[pos]) & (y0[:pos] <= y0[pos])
                              & (x1[pos] <= x1[:pos]) & (y1[pos] <= y1[:pos]))
        for j in order[cand[::-1]].tolist():
            if points_in_ring(xy[i][:1, 0], xy[i][:1, 1], xy[j])[0]:
                if j not in encl:
                    encl[i] = j
                break
    polys = {i: [r] for i, r in enumerate(rings) if i not in encl}
    for i in sorted(encl):
        polys[encl[i]].append(rings[i])
    return list(polys.values())


def wkb_area(wkb_buf: bytes) -> float:
    # empty ring lists come from POLYGON EMPTY (e.g. ST_SymDifference(a, a))
    return sum(polygon_area(rings) for rings in W.polygon_rings(wkb_buf) if rings)


def clip_ring_to_box(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray | None:
    """Sutherland-Hodgman clip of one ring to an axis-aligned box.

    Returns the clipped ring (M,2, open) or None if fully outside.
    """
    poly = np.asarray(ring, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]

    def clip_edge(pts: np.ndarray, axis: int, bound: float, keep_ge: bool) -> np.ndarray:
        if len(pts) == 0:
            return pts
        cur = pts
        nxt = np.roll(pts, -1, axis=0)
        inside_cur = cur[:, axis] >= bound if keep_ge else cur[:, axis] <= bound
        inside_nxt = nxt[:, axis] >= bound if keep_ge else nxt[:, axis] <= bound
        out = []
        for i in range(len(cur)):
            c, n = cur[i], nxt[i]
            if inside_cur[i]:
                out.append(c)
                if not inside_nxt[i]:
                    t = (bound - c[axis]) / (n[axis] - c[axis])
                    out.append(c + t * (n - c))
            elif inside_nxt[i]:
                t = (bound - c[axis]) / (n[axis] - c[axis])
                out.append(c + t * (n - c))
        return np.array(out) if out else np.empty((0, 2))

    poly = clip_edge(poly, 0, xmin, True)
    poly = clip_edge(poly, 0, xmax, False)
    poly = clip_edge(poly, 1, ymin, True)
    poly = clip_edge(poly, 1, ymax, False)
    return poly if len(poly) >= 3 else None


def clip_wkb_to_box(
    wkb_buf: bytes, xmin: float, ymin: float, xmax: float, ymax: float
) -> bytes | None:
    """Clip Polygon/MultiPolygon WKB to a box -> WKB (or None if empty).

    This is the engine's `Clip` layer-algebra kernel for the (dominant)
    axis-aligned case (ogrlayer.cpp:7537 semantics with box method geoms).
    Holes are clipped independently — correct when holes don't touch the
    box boundary in degenerate ways, which our fixtures avoid.

    Documented deviation: the zero-net-area guard below classifies
    boundary-only contact (a box touching the polygon along an edge or
    at a point) as empty, i.e. predicates built on this kernel use
    open-set Intersects semantics, whereas OGC/GEOS Intersects returns
    true for pure boundary contact.
    """
    out_polys = []
    for rings in W.polygon_rings(wkb_buf):
        ext = clip_ring_to_box(rings[0], xmin, ymin, xmax, ymax)
        if ext is None:
            continue
        clipped = [ext]
        for hole in rings[1:]:
            ch = clip_ring_to_box(hole, xmin, ymin, xmax, ymax)
            if ch is not None:
                clipped.append(ch)
        # a clip window fully inside a hole clips the exterior AND the
        # hole to the same box — net area zero means no actual coverage
        if polygon_area(clipped) <= 1e-12:
            continue
        out_polys.append(clipped)
    if not out_polys:
        return None
    if len(out_polys) == 1:
        return W.write_polygon(out_polys[0])
    return W.write_multipolygon(out_polys)
