"""General polygon boolean operations (Greiner-Hormann, 1998).

The geometry kernel behind the layer-algebra operators (SURVEY.md §2.3):
GDAL delegates Intersection/Union/Difference to GEOS
(ogr/ogrgeometry.cpp: Intersection :5318, Union :5437, Difference :5755);
this is an independent implementation of the published Greiner-Hormann
clipping algorithm — NOT a GEOS port — sufficient for simple polygons
(self-intersection-free rings, non-degenerate intersections). Holes are
handled by even-odd composition at the caller level (gdal_spark keeps
even-odd semantics end-to-end: PIP, rasterize, area all agree).

API works on open (N,2) float rings, CCW or CW (orientation-insensitive:
entry/exit flags are derived from point-in-polygon parity, not winding).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.functions import geom as G


class _Node:
    __slots__ = ("xy", "nxt", "prv", "neighbor", "intersect", "entry", "visited", "alpha")

    def __init__(self, xy):
        self.xy = (float(xy[0]), float(xy[1]))
        self.nxt = self.prv = self.neighbor = None
        self.intersect = False
        self.entry = True
        self.visited = False
        self.alpha = 0.0


def _build_ring(pts: np.ndarray) -> _Node:
    nodes = [_Node(p) for p in pts]
    for i, n in enumerate(nodes):
        n.nxt = nodes[(i + 1) % len(nodes)]
        n.prv = nodes[i - 1]
    return nodes[0]


def _ring_nodes(head: _Node):
    n = head
    while True:
        yield n
        n = n.nxt
        if n is head:
            break


def _seg_intersect(p1, p2, q1, q2):
    """Proper segment intersection -> (alphaP, alphaQ) in (0,1), else None."""
    d1 = (p2[0] - p1[0], p2[1] - p1[1])
    d2 = (q2[0] - q1[0], q2[1] - q1[1])
    den = d1[0] * d2[1] - d1[1] * d2[0]
    if den == 0.0:
        return None
    dx, dy = q1[0] - p1[0], q1[1] - p1[1]
    ta = (dx * d2[1] - dy * d2[0]) / den
    tb = (dx * d1[1] - dy * d1[0]) / den
    if 0.0 < ta < 1.0 and 0.0 < tb < 1.0:
        return ta, tb
    return None


def _point_in(pt, ring: np.ndarray) -> bool:
    return bool(G.points_in_ring(np.array([pt[0]]), np.array([pt[1]]), ring)[0])


def _insert_intersections(a_head: _Node, b_head: _Node) -> int:
    """Phase 1: find pairwise edge intersections, splice linked nodes."""
    count = 0
    a_edges = [(n, n.nxt) for n in _ring_nodes(a_head) if not n.intersect]
    b_edges = [(n, n.nxt) for n in _ring_nodes(b_head) if not n.intersect]
    pending_a: dict[int, list[_Node]] = {}
    pending_b: dict[int, list[_Node]] = {}
    for ia, (a1, a2) in enumerate(a_edges):
        for ib, (b1, b2) in enumerate(b_edges):
            hit = _seg_intersect(a1.xy, a2.xy, b1.xy, b2.xy)
            if hit is None:
                continue
            ta, tb = hit
            xy = (a1.xy[0] + ta * (a2.xy[0] - a1.xy[0]),
                  a1.xy[1] + ta * (a2.xy[1] - a1.xy[1]))
            na, nb = _Node(xy), _Node(xy)
            na.intersect = nb.intersect = True
            na.alpha, nb.alpha = ta, tb
            na.neighbor, nb.neighbor = nb, na
            pending_a.setdefault(ia, []).append(na)
            pending_b.setdefault(ib, []).append(nb)
            count += 1
    for edges, pending in ((a_edges, pending_a), (b_edges, pending_b)):
        for idx, nodes in pending.items():
            start, end = edges[idx]
            nodes.sort(key=lambda n: n.alpha)
            cur = start
            for n in nodes:
                n.prv, n.nxt = cur, cur.nxt
                cur.nxt.prv = n
                cur.nxt = n
                cur = n
    return count


def _mark_entries(head: _Node, other: np.ndarray, invert: bool) -> None:
    """Phase 2: alternate entry/exit flags along the ring, seeded by the
    parity of the first non-intersection vertex w.r.t. the other ring."""
    first = next(n for n in _ring_nodes(head) if not n.intersect)
    status = not _point_in(first.xy, other)  # next crossing enters if outside
    if invert:
        status = not status
    n = first
    while True:
        if n.intersect:
            n.entry = status
            status = not status
        n = n.nxt
        if n is first:
            break


def _traverse(a_head: _Node) -> list[np.ndarray]:
    """Phase 3: walk unvisited intersections into result rings."""
    out = []
    nodes = [n for n in _ring_nodes(a_head) if n.intersect]
    for start in nodes:
        if start.visited:
            continue
        ring = []
        cur = start
        while True:
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            ring.append(cur.xy)
            if cur.entry:
                while True:
                    cur = cur.nxt
                    if cur.intersect:
                        break
                    ring.append(cur.xy)
            else:
                while True:
                    cur = cur.prv
                    if cur.intersect:
                        break
                    ring.append(cur.xy)
            cur = cur.neighbor
            if cur.visited:
                break
        if len(ring) >= 3:
            out.append(np.array(ring))
    return out


def clip_rings(subject: np.ndarray, clip: np.ndarray, op: str) -> list[np.ndarray]:
    """Boolean of two simple rings -> list of result rings.

    op: 'intersection' | 'union' | 'difference' (subject minus clip).
    Entry-flag inversion per op is the Greiner-Hormann table:
    intersection (F,F), union (T,T), difference (T,F).

    Degenerate configurations (collinear edge overlap, vertex-on-edge)
    surface as an ODD crossing count; they are resolved by retrying with
    a deterministic epsilon nudge of the clip ring — the practical
    counterpart of GEOS snap-rounding, with O(eps) geometric error.
    """
    subject = np.asarray(subject, dtype=np.float64)
    clip = np.asarray(clip, dtype=np.float64)
    if np.array_equal(subject[0], subject[-1]):
        subject = subject[:-1]
    if np.array_equal(clip[0], clip[-1]):
        clip = clip[:-1]

    scale = max(
        subject[:, 0].ptp(), subject[:, 1].ptp(), clip[:, 0].ptp(), clip[:, 1].ptp(), 1e-30
    )
    for attempt in range(4):
        a = _build_ring(subject)
        b = _build_ring(clip)
        n_int = _insert_intersections(a, b)
        if n_int % 2 == 0:
            break
        eps = scale * 1e-9 * (10.0 ** attempt)
        clip = clip + np.array([eps, eps * 0.7310585786300049])  # fixed direction

    if n_int == 0:
        a_in_b = _point_in(subject[0], clip)
        b_in_a = _point_in(clip[0], subject)
        if op == "intersection":
            if a_in_b:
                return [subject]
            if b_in_a:
                return [clip]
            return []
        if op == "union":
            if a_in_b:
                return [clip]
            if b_in_a:
                return [subject]
            return [subject, clip]  # disjoint: two rings
        if op == "difference":
            if a_in_b:
                return []
            if b_in_a:
                return [subject, clip]  # hole via even-odd
            return [subject]
        raise ValueError(op)

    inv_a, inv_b = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    _mark_entries(a, clip, inv_a)
    _mark_entries(b, subject, inv_b)
    return _traverse(a)


# --------------------------------------------------------------------------
# Regularized region algebra.
#
# A Region is a list of DISJOINT structured polygons, each
# [exterior, hole, hole, ...]. All booleans below keep that invariant
# (GH outputs for a single ring pair are either disjoint simple rings or
# one nested pair, never partially overlapping — so structure_rings on
# them is always valid), which makes areas exactly additive. This is the
# closed algebra the layer-algebra operators (§2.3) run on.
# --------------------------------------------------------------------------

Polygon = list  # [ext, hole, ...], each (N,2) ndarray
Region = list  # list of disjoint Polygon


def eo_prune(rings: list[np.ndarray], min_area: float = 1e-9) -> list[np.ndarray]:
    """Drop degenerate sliver rings."""
    return [r for r in rings if abs(G.ring_area(r)) > min_area]


def _rings_interact(a: np.ndarray, b: np.ndarray) -> bool:
    """True unless the two simple rings are provably disjoint."""
    if (a[:, 0].max() < b[:, 0].min() or b[:, 0].max() < a[:, 0].min()
            or a[:, 1].max() < b[:, 1].min() or b[:, 1].max() < a[:, 1].min()):
        return False
    inter = clip_rings(a, b, "intersection")
    return len(inter) > 0


def simple_subtract(ext: np.ndarray, subtract: list[np.ndarray]) -> Region:
    """ext ∖ (r1 ∪ r2 ∪ ...) for simple rings — the one true subtraction.

    Worklist of states (E simple, pending rings, final holes) with the
    invariant that a ring becomes a FINAL hole only when disjoint from
    every remaining pending ring (nested-but-overlapping subtrahends are
    first merged via GH union; union windows respawn as intersection
    states). Terminates: every step splits into strictly-smaller pending
    lists or merges two pending rings into one.
    """
    ext = np.asarray(ext, dtype=np.float64)
    states: list[tuple[np.ndarray, list[np.ndarray], list[np.ndarray]]] = [
        (ext, [np.asarray(r, dtype=np.float64) for r in subtract], [])
    ]
    out: Region = []
    guard = 0
    while states:
        guard += 1
        if guard > 10000:
            raise RuntimeError("simple_subtract failed to converge")
        E, S, H = states.pop()
        if not S:
            if abs(G.ring_area(E)) > 1e-12:
                out.append([E] + H)
            continue
        r = S[0]
        rest = S[1:]
        rel = _ring_relation(E, r)
        if rel == "disjoint":
            states.append((E, rest, H))
            continue
        if rel == "subject_inside":
            continue  # E entirely inside r: consumed
        if rel == "clip_inside":
            # nested case: r strictly inside E -> candidate hole
            overlapping = [s for s in rest if _rings_interact(r, s)]
            if not overlapping:
                states.append((E, rest, H + [r]))
                continue
            # merge r with one overlapping pending ring via union
            s0 = overlapping[0]
            rest2 = [s for s in rest if s is not s0]
            u_struct = structure_rings(clip_rings(r, s0, "union"))
            new_pending = rest2 + [p[0] for p in u_struct]
            states.append((E, new_pending, H))
            # union windows (holes of the union) are NOT subtracted:
            # respawn them as intersection pieces minus remaining rings
            for p in u_struct:
                for window in p[1:]:
                    for wp in clip_rings(E, window, "intersection"):
                        states.append((wp, list(rest2), []))
            continue
        # crossing case: simple disjoint pieces; redistribute final holes
        for piece in clip_rings(E, r, "difference"):
            Hp = [h for h in H if _point_in(tuple(h[0]), piece)]
            states.append((piece, list(rest), Hp))
    return out


def _ring_relation(subject: np.ndarray, clip: np.ndarray) -> str:
    """'cross' | 'disjoint' | 'subject_inside' | 'clip_inside' for two
    simple rings (proper-crossing count + PIP parity)."""
    s = subject[:-1] if np.array_equal(subject[0], subject[-1]) else subject
    c = clip[:-1] if np.array_equal(clip[0], clip[-1]) else clip
    a = _build_ring(s)
    b = _build_ring(c)
    n = _insert_intersections(a, b)
    if n > 0:
        return "cross"
    if _point_in(tuple(s[0]), c):
        return "subject_inside"
    if _point_in(tuple(c[0]), s):
        return "clip_inside"
    return "disjoint"


def poly_pair_intersection(a: Polygon, b: Polygon) -> Region:
    """(Ea∖Ha) ∩ (Eb∖Hb): clip exteriors, subtract both hole sets."""
    out: Region = []
    for piece in clip_rings(a[0], b[0], "intersection"):
        out.extend(simple_subtract(piece, list(a[1:]) + list(b[1:])))
    return out


def region_minus_polygon(region: Region, b: Polygon) -> Region:
    """region ∖ (extB ∖ holesB) = (region ∖ extB) ∪ (region ∩ each holeB)
    — disjoint parts because B's holes lie inside extB."""
    out: Region = []
    for p in region:
        # P ∖ extB where P = Ep ∖ ∪Hp  ==  Ep ∖ (∪Hp ∪ extB)
        out.extend(simple_subtract(p[0], list(p[1:]) + [b[0]]))
        for h in b[1:]:
            for piece in clip_rings(p[0], h, "intersection"):
                out.extend(simple_subtract(piece, list(p[1:])))
    return out


def region_intersection(a_region: Region, b_region: Region) -> Region:
    """Pairwise pieces; disjointness of inputs keeps pieces disjoint."""
    out: Region = []
    for pa in a_region:
        for pb in b_region:
            out.extend(poly_pair_intersection(pa, pb))
    return out


def region_minus(a_region: Region, b_region: Region) -> Region:
    out = list(a_region)
    for pb in b_region:
        out = region_minus_polygon(out, pb)
    return out


def region_area(region: Region) -> float:
    return sum(
        abs(G.ring_area(p[0])) - sum(abs(G.ring_area(h)) for h in p[1:]) for p in region
    )


def region_rings_flat(region: Region) -> list[np.ndarray]:
    return [r for p in region for r in p]


def structure_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Even-odd ring list -> proper polygons [(exterior, holes...), ...]:
    slivers pruned, then nested by geom.organize_polygons (supports
    island-in-lake nesting)."""
    rings = eo_prune(rings)
    return G.organize_polygons(rings) if rings else []


# --------------------------------------------------------------------------
# Even-odd composition over polygons with holes / multipolygons
# --------------------------------------------------------------------------


def polygon_op(a_rings: list[np.ndarray], b_rings: list[np.ndarray], op: str) -> list[np.ndarray]:
    """Boolean of polygon A (exterior + holes) against polygon B, via the
    region algebra; returns a flat ring list (nested-only, so even-odd
    rasterize/PIP/area read it directly)."""
    if op == "intersection":
        return region_rings_flat(poly_pair_intersection(list(a_rings), list(b_rings)))
    if op == "difference":
        return region_rings_flat(region_minus_polygon([list(a_rings)], list(b_rings)))
    raise ValueError("polygon_op supports intersection/difference; union is feature-level")


def rings_area(rings: list[np.ndarray]) -> float:
    """Even-odd area of a ring list: sum of |ring| with XOR semantics =
    |outer| - |covered holes| when rings nest; general even-odd area is
    sum of signed areas after orientation normalization — we use the
    inclusion-exclusion form: area = sum_i (+/-)|ring_i| by nesting depth."""
    if not rings:
        return 0.0
    areas = [abs(G.ring_area(r)) for r in rings]
    if len(rings) == 1:
        return areas[0]
    # nesting depth via PIP of a representative vertex against other rings
    total = 0.0
    for i, r in enumerate(rings):
        depth = 0
        probe = tuple(r[0])  # a vertex of ring i probed against OTHER rings
        for j, other in enumerate(rings):
            if i != j and _point_in(probe, other):
                depth += 1
        total += areas[i] if depth % 2 == 0 else -areas[i]
    return total
