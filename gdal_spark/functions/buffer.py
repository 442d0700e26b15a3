r"""Geometry buffering (Minkowski sum with a disc).

Reference parity: `gdal vector buffer` (apps/gdalalg_vector_buffer.cpp),
OGRGeometry::Buffer -> GEOS Buffer. GEOS discretizes circular arcs with
``quadsegs`` segments per quarter circle, vertices ON the circle — same
convention here, so areas/vertex counts are closed-form for fixtures.

Scope: points (disc), 2-point line strings (capsule), CONVEX polygons
(positive offset = edges + vertex arcs; negative offset = half-plane
erosion), and CONCAVE polygons for positive offsets via the exact
Minkowski identity  poly ⊕ disc = poly ∪ ⋃(edge capsules)  evaluated
with the slab-sweep union kernel (functions/polyunion.py) — closed
pockets become holes, matching GEOS Buffer's topology. Polygons with
holes: positive  (outer ⊕ disc) \ ⋃(hole ⊖ disc),  negative
(outer ⊖ disc) \ ⋃(hole ⊕ disc),  via the slab boolean_rings
difference. Documented deviation: EROSION of a concave ring (negative
buffer of a concave outer, positive buffer of a polygon with a concave
hole) still raises ValueError instead of returning a silently wrong
ring — the offset-curve winding repair is only implemented for the
dilation direction.
"""

from __future__ import annotations

import math

import numpy as np

from gdal_spark.functions import wkb as W


def _arc(cx: float, cy: float, r: float, a0: float, a1: float, quadsegs: int):
    """Vertices on the circle from angle a0 to a1 (CCW, a1 > a0), endpoints
    included, split so no segment spans more than (pi/2)/quadsegs."""
    span = a1 - a0
    step = (math.pi / 2.0) / quadsegs
    n = max(1, int(math.ceil(span / step - 1e-12)))
    return [
        (cx + r * math.cos(a0 + span * i / n), cy + r * math.sin(a0 + span * i / n))
        for i in range(n + 1)
    ]


def _ccw(ring: np.ndarray) -> np.ndarray:
    area2 = float(
        np.sum(ring[:-1, 0] * ring[1:, 1] - ring[1:, 0] * ring[:-1, 1])
    )
    return ring if area2 > 0 else ring[::-1].copy()


def _is_convex(ring: np.ndarray) -> bool:
    p = ring[:-1]
    nxt = np.roll(p, -1, axis=0)
    prv = np.roll(p, 1, axis=0)
    cross = (p[:, 0] - prv[:, 0]) * (nxt[:, 1] - p[:, 1]) - (
        p[:, 1] - prv[:, 1]
    ) * (nxt[:, 0] - p[:, 0])
    return bool(np.all(cross >= -1e-12))


def buffer_point(x: float, y: float, dist: float, quadsegs: int = 8) -> bytes:
    pts = _arc(x, y, dist, 0.0, 2.0 * math.pi, quadsegs)
    pts[-1] = pts[0]
    return W.write_polygon([np.array(pts, dtype=np.float64)])


def _capsule_ring(a, b, dist: float, quadsegs: int) -> np.ndarray:
    """Capsule ring around segment a-b: two offset sides + two
    semicircle caps (degenerate segment -> disc)."""
    ax, ay, bx, by = float(a[0]), float(a[1]), float(b[0]), float(b[1])
    if ax == bx and ay == by:
        pts = _arc(ax, ay, dist, 0.0, 2.0 * math.pi, quadsegs)
        pts[-1] = pts[0]
        return np.array(pts, dtype=np.float64)
    theta = math.atan2(by - ay, bx - ax)
    ring = []
    # right side of a->b, then cap at b (theta-pi/2 .. theta+pi/2)
    ring += _arc(bx, by, dist, theta - math.pi / 2.0, theta + math.pi / 2.0, quadsegs)
    ring += _arc(ax, ay, dist, theta + math.pi / 2.0, theta + 3.0 * math.pi / 2.0, quadsegs)
    ring.append(ring[0])
    return np.array(ring, dtype=np.float64)


def buffer_segment(
    a, b, dist: float, quadsegs: int = 8
) -> bytes:
    """Capsule around segment a-b: two offset sides + two semicircle caps."""
    return W.write_polygon([_capsule_ring(a, b, dist, quadsegs)])


def _buffer_concave_ring(
    ring: np.ndarray, dist: float, quadsegs: int
) -> list[list[np.ndarray]]:
    """Positive buffer of an arbitrary simple ring via the Minkowski
    identity: region ⊕ disc == region ∪ ⋃(capsule(edge_i)). The slab
    union handles the offset-curve self-intersections exactly, and
    structure_rings turns closed pockets into holes — the same topology
    GEOS Buffer produces after winding repair."""
    from gdal_spark.functions.polyclip import structure_rings
    from gdal_spark.functions.polyunion import union_rings

    ring = _ccw(np.asarray(ring, dtype=np.float64))
    feats: list[list[np.ndarray]] = [[ring]]
    p = ring[:-1]
    n = len(p)
    for i in range(n):
        feats.append([_capsule_ring(p[i], p[(i + 1) % n], dist, quadsegs)])
    return structure_rings(union_rings(feats))


def _buffer_convex_ring(ring: np.ndarray, dist: float, quadsegs: int):
    ring = _ccw(np.asarray(ring, dtype=np.float64))
    if not _is_convex(ring):
        raise ValueError("buffer: concave polygons not supported (see module doc)")
    p = ring[:-1]
    n = len(p)
    out = []
    for i in range(n):
        prev_p = p[(i - 1) % n]
        cur = p[i]
        nxt = p[(i + 1) % n]
        # outward normals of the incoming and outgoing edges (CCW ring ->
        # outward is 90 deg clockwise of the edge direction)
        a_in = math.atan2(cur[1] - prev_p[1], cur[0] - prev_p[0]) - math.pi / 2.0
        a_out = math.atan2(nxt[1] - cur[1], nxt[0] - cur[0]) - math.pi / 2.0
        while a_out < a_in - 1e-12:  # normals rotate CCW around a convex ring
            a_out += 2.0 * math.pi
        out += _arc(cur[0], cur[1], dist, a_in, a_out, quadsegs)
    out.append(out[0])
    return np.array(out, dtype=np.float64)


def _halfplane_clip(ring: np.ndarray, a, b, dist: float) -> np.ndarray | None:
    """Sutherland-Hodgman: keep points at signed distance >= dist LEFT of
    the directed line a->b (CCW ring interior is the left side)."""
    ax, ay, bx, by = float(a[0]), float(a[1]), float(b[0]), float(b[1])
    ex, ey = bx - ax, by - ay
    elen = math.hypot(ex, ey)
    pts = [tuple(q) for q in ring[:-1]]
    out = []
    for i, cur in enumerate(pts):
        prv = pts[i - 1]
        dc = ((cur[0] - ax) * ey - (cur[1] - ay) * ex) / elen  # right-positive
        dp = ((prv[0] - ax) * ey - (prv[1] - ay) * ex) / elen
        keep_c, keep_p = dc <= -dist + 1e-12, dp <= -dist + 1e-12
        if keep_c != keep_p:
            t = (-dist - dp) / (dc - dp)
            out.append(
                (prv[0] + t * (cur[0] - prv[0]), prv[1] + t * (cur[1] - prv[1]))
            )
        if keep_c:
            out.append(cur)
    if len(out) < 3:
        return None
    out.append(out[0])
    return np.array(out, dtype=np.float64)


def _erode_convex_ring(
    ring: np.ndarray, dist: float
) -> np.ndarray | None:
    """Negative buffer of a convex ring = intersection of inward-offset
    half-planes (no arcs appear on erosion of a convex polygon)."""
    ring = _ccw(np.asarray(ring, dtype=np.float64))
    if not _is_convex(ring):
        raise ValueError("buffer: concave polygons not supported (see module doc)")
    cur = ring
    p = ring[:-1]
    n = len(p)
    for i in range(n):
        cur = _halfplane_clip(cur, p[i], p[(i + 1) % n], dist)
        if cur is None:
            return None
    area2 = float(
        np.sum(cur[:-1, 0] * cur[1:, 1] - cur[1:, 0] * cur[:-1, 1])
    )
    return cur if abs(area2) > 1e-12 else None


def buffer_wkb(buf: bytes, dist: float, quadsegs: int = 8) -> bytes | None:
    """Buffer any supported WKB geometry; None when erosion empties it."""
    t, p = W.parse(buf)
    if t == W.WKB_POINT:
        if dist <= 0:
            return None
        return buffer_point(float(p[0]), float(p[1]), dist, quadsegs)
    if t == W.WKB_LINESTRING:
        v = np.asarray(p, dtype=np.float64)
        if dist <= 0:
            return None
        if len(v) != 2:
            raise ValueError("buffer: only 2-point line strings supported")
        return buffer_segment(v[0], v[1], dist, quadsegs)
    out = []
    for rings in W.polygon_rings(buf):
        outer, holes = rings[0], rings[1:]
        if dist >= 0:
            if _is_convex(_ccw(np.asarray(outer, dtype=np.float64))):
                polys = [[_buffer_convex_ring(outer, dist, quadsegs)]]
            else:
                polys = _buffer_concave_ring(outer, dist, quadsegs)
            if holes:
                # buffer(poly, +d) = (outer ⊕ disc) \ ⋃(hole ⊖ disc):
                # holes shrink by d and vanish when erosion empties them
                shrunk = []
                for h in holes:
                    r = _erode_convex_ring(h, dist)
                    if r is not None:
                        shrunk.append([r])
                if shrunk:
                    from gdal_spark.functions.polyclip import structure_rings
                    from gdal_spark.functions.polyunion import boolean_rings

                    polys = structure_rings(
                        boolean_rings(polys, shrunk, "difference")
                    )
            out.extend(polys)
        else:
            r = _erode_convex_ring(outer, -dist)
            if r is None:
                continue
            polys = [[r]]
            if holes:
                # buffer(poly, -d) = (outer ⊖ disc) \ ⋃(hole ⊕ disc)
                grown = []
                for h in holes:
                    hr = _ccw(np.asarray(h, dtype=np.float64))
                    if _is_convex(hr):
                        grown.append([_buffer_convex_ring(h, -dist, quadsegs)])
                    else:
                        grown.extend(_buffer_concave_ring(h, -dist, quadsegs))
                from gdal_spark.functions.polyclip import structure_rings
                from gdal_spark.functions.polyunion import boolean_rings

                polys = structure_rings(
                    boolean_rings(polys, grown, "difference")
                )
            out.extend(polys)
    if not out:
        return None
    if len(out) == 1:
        return W.write_polygon(out[0])
    return W.write_multipolygon(out)
