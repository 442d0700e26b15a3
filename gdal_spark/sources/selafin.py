"""Selafin (TELEMAC hydraulic model) driver
(ogr/ogrsf_frmts/selafin — re-derived, no code copied).

A Selafin .slf file is a sequence of Fortran unformatted sequential
records (big-endian: 4-byte length, payload, repeated length):

  title string (80 chars) ........................ read_string
  [nVar, unused] int array
  nVar variable-name strings (32 chars each; quotes -> spaces)
  10-int array: [unused, EPSG, x_origin, y_origin, 5 unused, has_date]
  optional 6-int start date when has_date == 1
  [nElements, nPoints, nPointsPerElement, 1]
  connectivity int array (nElements * nPointsPerElement, 1-based)
  border int array (nPoints)
  x float array, y float array (each + origin offset)
  then per time step: a 1-float time record (12 bytes) followed by
  nVar records of nPoints floats — step stride
  12 + nVar*(nPoints+2)*4 (io_selafin.cpp Header::setUpdated).

The OGR layer model (ogrselafindatasource.cpp:520-566): per time step a
point layer <title>_p<step> (one point per node, one real field per
variable) and an element layer <title>_e<step> (one polygon per
connectivity element, fields = average of its nodes' values). Element
creation matches ring vertices against existing nodes and errors when
a vertex matches none (ogrselafinlayer.cpp:376-431).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "SelafinHeader",
    "selafin_read",
    "selafin_write",
    "point_features",
    "element_features",
    "add_elements",
    "layer_names",
]


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def record(self) -> bytes:
        (n,) = struct.unpack_from(">i", self.data, self.pos)
        if n < 0 or self.pos + 8 + n > len(self.data):
            raise ValueError("Selafin: wrong format")
        payload = self.data[self.pos + 4:self.pos + 4 + n]
        self.pos += 8 + n
        return payload

    def string(self) -> str:
        return self.record().decode("latin-1")

    def ints(self) -> np.ndarray:
        return np.frombuffer(self.record(), ">i4")

    def floats(self) -> np.ndarray:
        return np.frombuffer(self.record(), ">f4").astype(np.float64)


def _rec(payload: bytes) -> bytes:
    n = struct.pack(">i", len(payload))
    return n + payload + n


class SelafinHeader:
    """Parsed header + per-step values."""

    def __init__(self):
        self.title = ""
        self.variables: list[str] = []
        self.epsg = 0
        self.origin = (0.0, 0.0)
        self.start_date: list[int] | None = None
        self.n_elements = 0
        self.n_points = 0
        self.points_per_element = 0
        self.connectivity = np.zeros(0, np.int64)  # 1-based node ids
        self.border = np.zeros(0, np.int64)
        self.x = np.zeros(0)
        self.y = np.zeros(0)
        # steps: list of (time, values array (nVar, nPoints))
        self.steps: list[tuple[float, np.ndarray]] = []


def selafin_read(data: bytes) -> SelafinHeader:
    r = _Reader(data)
    h = SelafinHeader()
    h.title = r.string().rstrip()
    nvar_rec = r.ints()
    if len(nvar_rec) != 2 or nvar_rec[0] < 0:
        raise ValueError("Selafin: wrong format")
    nvar = int(nvar_rec[0])
    h.variables = [r.string().replace("'", " ").rstrip() for _ in range(nvar)]
    params = r.ints()
    if len(params) < 10:
        raise ValueError("Selafin: wrong format")
    h.epsg = int(params[1])
    h.origin = (float(params[2]), float(params[3]))
    if params[9] == 1:
        date = r.ints()
        if len(date) < 6:
            raise ValueError("Selafin: wrong format")
        h.start_date = [int(v) for v in date[:6]]
    dims = r.ints()
    if len(dims) < 4 or dims[3] != 1 or dims[0] < 0 or dims[1] < 0:
        raise ValueError("Selafin: wrong format")
    h.n_elements, h.n_points, h.points_per_element = (
        int(dims[0]), int(dims[1]), int(dims[2]))
    h.connectivity = r.ints().astype(np.int64)
    if h.n_elements and len(h.connectivity) // h.n_elements != h.points_per_element:
        raise ValueError("Selafin: bad connectivity size")
    if len(h.connectivity) and (
            h.connectivity.min() <= 0 or h.connectivity.max() > h.n_points):
        raise ValueError("Selafin: connectivity out of range")
    h.border = r.ints().astype(np.int64)
    if len(h.border) != h.n_points:
        raise ValueError("Selafin: bad border size")
    h.x = r.floats()[: h.n_points] + h.origin[0]
    h.y = r.floats()[: h.n_points] + h.origin[1]

    while r.pos < len(data):
        time = float(r.floats()[0])
        vals = np.empty((nvar, h.n_points))
        for i in range(nvar):
            vals[i] = r.floats()[: h.n_points]
        h.steps.append((time, vals))
    return h


def selafin_write(h: SelafinHeader) -> bytes:
    out = [_rec(h.title.ljust(80)[:80].encode("latin-1"))]
    nvar = len(h.variables)
    out.append(_rec(np.array([nvar, 0], ">i4").tobytes()))
    for v in h.variables:
        out.append(_rec(v.ljust(32)[:32].encode("latin-1")))
    params = np.zeros(10, ">i4")
    params[1] = h.epsg
    params[2], params[3] = int(h.origin[0]), int(h.origin[1])
    params[9] = 1 if h.start_date else 0
    out.append(_rec(params.tobytes()))
    if h.start_date:
        out.append(_rec(np.array(h.start_date, ">i4").tobytes()))
    out.append(_rec(np.array(
        [h.n_elements, h.n_points, h.points_per_element, 1], ">i4").tobytes()))
    out.append(_rec(np.asarray(h.connectivity, ">i4").tobytes()))
    out.append(_rec(np.asarray(h.border, ">i4").tobytes()))
    out.append(_rec((np.asarray(h.x) - h.origin[0]).astype(">f4").tobytes()))
    out.append(_rec((np.asarray(h.y) - h.origin[1]).astype(">f4").tobytes()))
    for time, vals in h.steps:
        out.append(_rec(np.array([time], ">f4").tobytes()))
        for i in range(len(h.variables)):
            out.append(_rec(np.asarray(vals[i], ">f4").tobytes()))
    return b"".join(out)


# ------------------------------------------------------------ features

def layer_names(h: SelafinHeader) -> list[str]:
    """<title>_p<step> and <title>_e<step> names
    (ogrselafindatasource.cpp:536-558; date-stamped when a start date
    is present)."""
    base = h.title.strip() or "layer"
    names = []
    for kind in ("p", "e"):
        for i, (time, _) in enumerate(h.steps):
            if h.start_date is None:
                stamp = str(i)
            else:
                import datetime as _dt
                y, mo, d, hh, mi, ss = h.start_date
                epoch = _dt.datetime(max(y, 1), max(mo, 1), max(d, 1),
                                     hh, mi, 0)
                when = epoch + _dt.timedelta(seconds=ss + time)
                stamp = when.strftime("%Y_%m_%d_%H_%M_%S")
            names.append(f"{base}_{kind}{stamp}")
    return names


def point_features(h: SelafinHeader, step: int = 0):
    """[(x, y, {var: value})] for one time step."""
    _, vals = h.steps[step]
    return [
        (float(h.x[i]), float(h.y[i]),
         {v: float(vals[k][i]) for k, v in enumerate(h.variables)})
        for i in range(h.n_points)
    ]


def element_features(h: SelafinHeader, step: int = 0):
    """[(ring (N+1,2), {var: node-average})] per connectivity element."""
    _, vals = h.steps[step]
    ppe = h.points_per_element
    out = []
    for e in range(h.n_elements):
        nodes = h.connectivity[e * ppe:(e + 1) * ppe] - 1
        ring = np.column_stack([h.x[nodes], h.y[nodes]])
        ring = np.vstack([ring, ring[:1]])  # closeRings
        fields = {
            v: float(vals[k][nodes].mean()) for k, v in enumerate(h.variables)
        }
        out.append((ring, fields))
    return out


def _add_point(h: SelafinHeader, x: float, y: float) -> int:
    """Append a node with zero values in every step (Header::addPoint);
    returns the new 0-based id."""
    h.x = np.append(h.x, x)
    h.y = np.append(h.y, y)
    h.border = np.append(h.border, 0)
    h.n_points += 1
    h.steps = [
        (t, np.hstack([vals, np.zeros((vals.shape[0], 1))]))
        for t, vals in h.steps
    ]
    return h.n_points - 1


def add_elements(h: SelafinHeader, rings,
                 tolerance: float | None = None) -> None:
    """Create element features from polygon rings. Vertices reuse the
    closest existing node within tolerance; unmatched vertices become
    NEW nodes with zero values (OGRSelafinLayer::ICreateFeature for
    ELEMENTS). Default tolerance replicates the reference heuristic
    bbox_width / sqrt(nPoints) / 1000 (ogrselafinlayer.cpp:560-566)."""
    for ring in rings:
        ring = np.asarray(ring, np.float64)
        if np.all(ring[0] == ring[-1]):
            ring = ring[:-1]
        if h.points_per_element == 0:
            if len(ring) < 3:
                raise ValueError("element needs at least 3 vertices")
            h.points_per_element = len(ring)
        elif len(ring) != h.points_per_element:
            raise ValueError(
                f"element has {len(ring)} points, expected "
                f"{h.points_per_element}")
        if tolerance is None and h.n_points:
            tol = (h.x.max() - h.x.min()) / np.sqrt(h.n_points) / 1000.0
        else:
            tol = tolerance or 0.0
        ids = []
        for x, y in ring:
            k = -1
            if h.n_points:
                d2 = (h.x - x) ** 2 + (h.y - y) ** 2
                k = int(np.argmin(d2))
                if d2[k] > tol * tol:
                    k = -1
            if k < 0:
                k = _add_point(h, x, y)
            ids.append(k + 1)
        h.connectivity = np.concatenate(
            [h.connectivity, np.array(ids, np.int64)])
        h.n_elements += 1
