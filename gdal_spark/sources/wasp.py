"""WAsP .map driver (ogr/ogrsf_frmts/wasp — re-derived, no code copied).

The WAsP (Wind Atlas Analysis and Application Program) .map format is a
text file of elevation or roughness-change boundary lines:

  line 1: proj4 spatial reference (or "no spatial ref sys"); anything
          after a '|' is ignored (ogrwaspdatasource.cpp Load)
  lines 2-4: fixed coordinate-transformation stubs
  then per feature: a header line of 2-4 floats whose LAST value is the
  point-pair count, preceded by 1 (elevation) or 2 (z_left z_right
  roughness) attribute values, followed by the x/y pairs wrapped at 3
  pairs per line.

Header-value count -> schema (ogrwaspdatasource.cpp:146-158):
  2 values -> [elevation],   3 -> [z_left, z_right],
  4 -> [z_left, z_right, elevation].

Writer semantics (ogrwasplayer.cpp):
  * elevation mode (no second field, line geometries): writes
    "%11.3f %11d" + wrapped "%11.1f %11.1f " pairs (newline + no indent
    every 3 points).
  * roughness mode (two fields, or polygon inputs): writes
    "%11.3f %11.3f %11d" + wrapped pairs with a 2-space indent.
  * polygons: each polygon is intersected with every previously added
    zone; shared boundary segments become roughness lines with
    left = new polygon's z, right = the older zone's z. Only shared
    boundaries are emitted — outer boundaries with no neighbor are not.
  * WASP_MERGE (default on): equal-z zone pairs produce no boundary,
    and at close time touching boundaries with compatible left/right
    values are chained end-to-end (ogrwasplayer.cpp:77-230); a
    junction of !=2 boundaries is never merged through.
  * Simplify: WASP_TOLERANCE Douglas-Peucker, WASP_ADJ_TOLER drops
    consecutive points closer than the tolerance in BOTH |dx| and |dy|
    (keeping rings closed), WASP_POINT_TO_CIRCLE_RADIUS expands a
    degenerate single point into an 8-point circle.
  * missing field values / no z -> AvgZ over the geometry's points.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["wasp_read", "WaspWriter", "shared_boundary"]

_HEADER_STUB = "  0.0 0.0 0.0 0.0\n  1.0 0.0 1.0 0.0\n  1.0 0.0\n"


# ---------------------------------------------------------------- read

def wasp_read(text: str) -> tuple[list[dict], dict]:
    """Parse a .map -> (features, meta).

    Each feature dict: the schema fields + ``coords`` (N,2) ndarray.
    meta: {"srs_proj4": str | None, "fields": [names]}.
    """
    lines = text.splitlines()
    if not lines:
        raise ValueError("WAsP: empty file")
    srs = lines[0].split("|")[0].strip()
    meta = {"srs_proj4": None if srs == "no spatial ref sys" else srs}

    feats: list[dict] = []
    fields: list[str] | None = None
    li = 4
    while li < len(lines):
        # header: up to 4 floats parsed from ONE line
        # (GetNextRawFeature, ogrwasplayer.cpp:742-758)
        vals: list[float] = []
        for tok in lines[li].split():
            if len(vals) == 4:
                break
            try:
                vals.append(float(tok))
            except ValueError:
                break
        li += 1
        if len(vals) < 2:
            if not vals:
                continue
            break
        if fields is None:
            n_attr = len(vals) - 1
            fields = {1: ["elevation"], 2: ["z_left", "z_right"],
                      3: ["z_left", "z_right", "elevation"]}[n_attr]
            meta["fields"] = fields
        npairs = int(vals[-1])
        attrs = vals[:len(fields)]
        nums: list[float] = []
        while len(nums) < 2 * npairs and li < len(lines):
            for tok in lines[li].split():
                if len(nums) == 2 * npairs:
                    break
                nums.append(float(tok))
            li += 1
        if len(nums) != 2 * npairs:
            raise ValueError("WAsP: not enough values for linestring")
        coords = np.array(nums, np.float64).reshape(npairs, 2)
        feat = dict(zip(fields, attrs))
        feat["coords"] = coords
        feats.append(feat)
    if fields is None:
        raise ValueError("WAsP: no feature in file")
    return feats, meta


# --------------------------------------------------------------- write

def _douglas_peucker(pts: np.ndarray, tol: float) -> np.ndarray:
    if len(pts) < 3:
        return pts
    keep = np.zeros(len(pts), bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = pts[b] - pts[a]
        ln = math.hypot(seg[0], seg[1])
        mid = pts[a + 1:b]
        if ln == 0.0:
            d = np.hypot(mid[:, 0] - pts[a][0], mid[:, 1] - pts[a][1])
        else:
            d = np.abs(
                (mid[:, 0] - pts[a][0]) * seg[1]
                - (mid[:, 1] - pts[a][1]) * seg[0]
            ) / ln
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[a + 1 + k] = True
            stack.append((a, a + 1 + k))
            stack.append((a + 1 + k, b))
    return pts[keep]


class WaspWriter:
    """Accumulates features and renders the .map text.

    Modes (ogrwaspdatasource.cpp:212-235):
      fields=None            -> z from geometry (elevation for lines,
                                roughness boundary extraction for polygons)
      fields=["elevation"]   -> elevation from that field
      fields=["l","r"]       -> roughness from those two fields
    """

    def __init__(self, srs_proj4: str | None = None,
                 fields: list[str] | None = None, merge: bool = True,
                 tolerance: float | None = None,
                 adj_tolerance: float | None = None,
                 point_to_circle_radius: float | None = None):
        self.srs = srs_proj4
        self.fields = fields or []
        if len(self.fields) > 2:
            raise ValueError("WASP_FIELDS: at most two fields")
        self.merge = merge
        self.tol = tolerance
        self.adj_tol = adj_tolerance
        self.circle_r = point_to_circle_radius
        self.lines: list[str] = []
        # zones: (bbox, rings, z) of every polygon added so far
        self._zones: list[tuple[tuple, list[np.ndarray], float]] = []
        # boundaries awaiting merge: [coords, left, right]
        self._boundaries: list[list] = []

    # -- geometry prep ---------------------------------------------------
    def _simplify(self, pts: np.ndarray) -> np.ndarray:
        pts = np.asarray(pts, np.float64)[:, :2]
        if self.tol and self.tol > 0:
            pts = _douglas_peucker(pts, self.tol)
        is_ring = len(pts) and bool(np.all(pts[0] == pts[-1]))
        if self.adj_tol and self.adj_tol > 0 and len(pts):
            out = [pts[0]]
            for p in pts[1:]:
                if (abs(p[0] - out[-1][0]) > self.adj_tol
                        or abs(p[1] - out[-1][1]) > self.adj_tol):
                    out.append(p)
            pts = np.array(out)
            if is_ring and len(pts):
                pts[-1] = pts[0]
        if self.circle_r and self.circle_r > 0 and len(pts) == 1:
            cx, cy = pts[0]
            r = self.circle_r
            ang = [2 * math.pi * (v % 8) / 8 for v in range(9)]
            pts = np.array([[cx + r * math.cos(a), cy + r * math.sin(a)]
                            for a in ang])
        return pts

    # -- emit ------------------------------------------------------------
    def _emit_elevation(self, pts: np.ndarray, z: float) -> None:
        pts = self._simplify(pts)
        if not len(pts):
            return
        out = [f"{z:11.3f} {len(pts):11d}"]
        for v, (x, y) in enumerate(pts):
            if v % 3 == 0:
                out.append("\n")
            out.append(f"{x:11.1f} {y:11.1f} ")
        self.lines.append("".join(out) + "\n")

    def _emit_roughness(self, pts: np.ndarray, zl: float, zr: float) -> None:
        pts = self._simplify(pts)
        if not len(pts):
            return
        out = [f"{zl:11.3f} {zr:11.3f} {len(pts):11d}"]
        for v, (x, y) in enumerate(pts):
            if v % 3 == 0:
                out.append("\n  ")
            out.append(f"{x:11.1f} {y:11.1f} ")
        self.lines.append("".join(out) + "\n")

    # -- feature entry points ---------------------------------------------
    def add_line(self, coords, z_or_left: float | None = None,
                 right: float | None = None) -> None:
        """A LineString feature. coords: (N,2) or (N,3)."""
        coords = np.asarray(coords, np.float64)
        if z_or_left is None:
            if coords.shape[1] < 3:
                raise ValueError("No field defined and no Z coordinate")
            z_or_left = float(coords[:, 2].mean())
        if len(self.fields) == 2:
            if right is None:
                raise ValueError("No right roughness field")
            self._boundaries.append(
                [coords[:, :2], float(z_or_left), float(right)])
        else:
            self._emit_elevation(coords, float(z_or_left))

    def add_polygon(self, rings, z: float | None = None) -> None:
        """A Polygon feature: rings = [exterior (N,2|3), holes...]."""
        rings = [np.asarray(r, np.float64) for r in rings]
        if z is None:
            if rings[0].shape[1] < 3:
                raise ValueError("No field defined and no Z coordinate")
            z = float(rings[0][:, 2].mean())
        rings2 = [r[:, :2] for r in rings]
        bb = (min(r[:, 0].min() for r in rings2),
              min(r[:, 1].min() for r in rings2),
              max(r[:, 0].max() for r in rings2),
              max(r[:, 1].max() for r in rings2))
        for obb, orings, oz in self._zones:
            if (bb[0] > obb[2] or obb[0] > bb[2]
                    or bb[1] > obb[3] or obb[1] > bb[3]):
                continue
            if self.merge and _is_equal(z, oz):
                continue
            for seg in shared_boundary(rings2, orings):
                self._boundaries.append([seg, float(z), float(oz)])
        self._zones.append((bb, rings2, float(z)))

    # -- close -------------------------------------------------------------
    def _merge_boundaries(self) -> list[list]:
        """Chain touching boundaries with compatible left/right values
        (ogrwasplayer.cpp:77-230); junctions of !=2 lines block merging."""
        bounds = self._boundaries
        n = len(bounds)
        end_nb = [-1] * n
        start_nb = [-1] * n
        by_pt: dict[tuple, list[int]] = {}
        for i, (c, _, _) in enumerate(bounds):
            by_pt.setdefault((c[0][0], c[0][1]), []).append(i)
            by_pt.setdefault((c[-1][0], c[-1][1]), []).append(i)
        for pt, ids in by_pt.items():
            if len(ids) != 2:
                continue
            i, j = ids
            pc, pl, pr = bounds[i]
            qc, ql, qr = bounds[j]
            p_start, p_end = tuple(pc[0]), tuple(pc[-1])
            q_start, q_end = tuple(qc[0]), tuple(qc[-1])
            if _is_equal(pr, qr) and _is_equal(pl, ql):
                if p_end == q_start:
                    end_nb[i] = j
                    start_nb[j] = i
                if q_end == p_start:
                    end_nb[j] = i
                    start_nb[i] = j
            if _is_equal(pr, ql) and _is_equal(pl, qr):
                if p_start == q_start:
                    start_nb[i] = j
                    start_nb[j] = i
                if p_end == q_end:
                    end_nb[j] = i
                    end_nb[i] = j

        merged: list[list] = []
        done = [False] * n

        def chain(i: int) -> list:
            done[i] = True
            coords, zl, zr = bounds[i]
            coords = coords.copy()
            if start_nb[i] >= 0:
                coords = coords[::-1]
                zl, zr = zr, zl
                j = start_nb[i]
            else:
                j = end_nb[i]
            while j >= 0 and not done[j]:
                done[j] = True
                other = bounds[j][0]
                if tuple(other[0]) != tuple(coords[-1]):
                    other = other[::-1]
                coords = np.vstack([coords, other[1:]])
                j2 = end_nb[j] if (end_nb[j] >= 0 and not done[end_nb[j]]) \
                    else (start_nb[j] if start_nb[j] >= 0
                          and not done[start_nb[j]] else -1)
                j = j2
            return [coords, zl, zr]

        for i in range(n):  # open chains first
            if not done[i] and (start_nb[i] < 0 or end_nb[i] < 0):
                merged.append(chain(i))
        for i in range(n):  # rings
            if not done[i]:
                merged.append(chain(i))
        return merged

    def render(self) -> str:
        bounds = self._merge_boundaries() if self.merge else self._boundaries
        for coords, zl, zr in bounds:
            self._emit_roughness(coords, zl, zr)
        head = (self.srs if self.srs else "no spatial ref sys") + "\n"
        return head + _HEADER_STUB + "".join(self.lines)


def _is_equal(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


# ------------------------------------------- shared boundary extraction

def shared_boundary(rings_a: list[np.ndarray],
                    rings_b: list[np.ndarray]) -> list[np.ndarray]:
    """Common boundary segments of two non-overlapping polygons.

    For touching polygons the area intersection the reference computes
    with GEOS degenerates to their shared boundary; here we extract it
    directly: collinear overlaps between ring segments of A and B,
    chained into polylines, each directed as traversed by A's rings.
    """
    pieces: list[tuple[tuple, tuple]] = []
    segs_b = []
    for rb in rings_b:
        for k in range(len(rb) - 1):
            segs_b.append((rb[k], rb[k + 1]))
    for ra in rings_a:
        for k in range(len(ra) - 1):
            a0, a1 = ra[k], ra[k + 1]
            for b0, b1 in segs_b:
                ov = _collinear_overlap(a0, a1, b0, b1)
                if ov is not None:
                    pieces.append((tuple(ov[0]), tuple(ov[1])))
    if not pieces:
        return []
    # chain pieces end-to-start
    out: list[np.ndarray] = []
    used = [False] * len(pieces)
    start_of = {}
    for idx, (s, e) in enumerate(pieces):
        start_of.setdefault(s, []).append(idx)
    for idx in range(len(pieces)):
        if used[idx]:
            continue
        used[idx] = True
        s, e = pieces[idx]
        chain = [s, e]
        while True:
            nxts = [j for j in start_of.get(chain[-1], []) if not used[j]]
            if not nxts:
                break
            j = nxts[0]
            used[j] = True
            chain.append(pieces[j][1])
        out.append(np.array(chain, np.float64))
    return out


def _collinear_overlap(a0, a1, b0, b1, eps: float = 1e-9):
    """Overlap of segment [a0,a1] with [b0,b1] if collinear, directed
    like a; None otherwise (or if degenerate)."""
    d = a1 - a0
    ln2 = d[0] * d[0] + d[1] * d[1]
    if ln2 <= eps * eps:
        return None
    # both b endpoints must lie on the a line
    for p in (b0, b1):
        cross = d[0] * (p[1] - a0[1]) - d[1] * (p[0] - a0[0])
        if abs(cross) > eps * math.sqrt(ln2):
            return None
    t0 = ((b0 - a0) @ d) / ln2
    t1 = ((b1 - a0) @ d) / ln2
    lo, hi = max(0.0, min(t0, t1)), min(1.0, max(t0, t1))
    if hi - lo <= eps:
        return None
    return a0 + lo * d, a0 + hi * d
