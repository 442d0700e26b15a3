"""MVT (Mapbox Vector Tiles) driver — ogr/ogrsf_frmts/mvt
(ogrmvtdataset.cpp, mvt_tile.cpp).

Tile decode is a transcription of OGRMVTLayer::ParseGeometry
(ogrmvtdataset.cpp:896-1160) and the vector_tile.proto wire layout:

* protobuf wire: Tile{ layers=3 }, Layer{ name=1, features=2, keys=3,
  values=4, extent=5 (default 4096), version=15 }, Value{ string=1,
  float=2, double=3, int=4, uint=5, sint=6, bool=7 }, Feature{ id=1,
  tags=2 packed, type=3, geometry=4 packed };
* geometry commands MoveTo=1 / LineTo=2 / ClosePath=7 with
  ``(id | count << 3)`` headers and zigzag delta params, cumulative
  (nX, nY) state carried ACROSS parts;
* POINT: single MoveTo count==1 -> Point, count>1 -> MultiPoint, plus
  the broken-Mapserver count==2-single-pair quirk (:955-975);
* LINESTRING: each MoveTo starts a part; a second part promotes to
  MultiLineString;
* POLYGON: the first ring fixes the exterior winding; a ring with the
  SAME winding as the exterior starts a NEW polygon (-> MultiPolygon),
  opposite winding is an interior ring (:1090-1140, without the GEOS
  bad-ring rescue block — documented deviation);
* GetXY (:863-875): georeferenced ``top + n * dim / extent`` with the
  y axis flipped; non-georeferenced tile space is ``(nX, extent - nY)``.

The distributed forms: ``read_mvt_tileset`` scans a z/x/y pbf tree with
one Arrow batch per task (tile-grid == partition grid), and
``write_mvt_tiles`` is the vector-tile sink for the engine's tile
pipeline — features are assigned to tiles with the pure-Column cover
math, one groupBy(z, x, y) shuffle, and each task encodes its tiles'
pbf bytes locally.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from gdal_spark.functions import mercator as M

MOVETO, LINETO, CLOSEPATH = 1, 2, 7
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------


def _rvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _wvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz_dec(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _zz_enc(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _fields(buf: bytes):
    """Iterate (field_no, wire_type, value) over one message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _rvarint(buf, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _rvarint(buf, pos)
        elif wt == 2:
            ln, pos = _rvarint(buf, pos)
            v = buf[pos:pos + ln]
            pos += ln
        elif wt == 5:
            v = buf[pos:pos + 4]
            pos += 4
        elif wt == 1:
            v = buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, v


def _packed_u32(v: bytes | int) -> list[int]:
    if isinstance(v, int):
        return [v]
    out = []
    pos = 0
    while pos < len(v):
        u, pos = _rvarint(v, pos)
        out.append(u)
    return out


def _decode_value(buf: bytes):
    """Value message (vector_tile.proto) -> python scalar."""
    for fno, wt, v in _fields(buf):
        if fno == 1:
            return v.decode("utf-8")
        if fno == 2:
            return struct.unpack("<f", v)[0]
        if fno == 3:
            return struct.unpack("<d", v)[0]
        if fno == 4:
            return v - (1 << 64) if v >= 1 << 63 else v  # int64
        if fno == 5:
            return v
        if fno == 6:
            return _zz_dec(v)
        if fno == 7:
            return bool(v)
    return None


# ---------------------------------------------------------------------------
# tile decode
# ---------------------------------------------------------------------------


def parse_mvt_tile(data: bytes) -> list[dict]:
    """pbf bytes -> [{name, version, extent, keys, values, features}]
    with features carrying raw command arrays (decode via
    decode_geometry)."""
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":  # tiles are commonly gzip-wrapped
        import gzip

        data = gzip.decompress(data)
    layers = []
    for fno, _, v in _fields(bytes(data)):
        if fno != 3:
            continue
        lyr = {"name": None, "version": 1, "extent": 4096,
               "keys": [], "values": [], "features": []}
        for lf, _, lv in _fields(v):
            if lf == 1:
                lyr["name"] = lv.decode("utf-8")
            elif lf == 15:
                lyr["version"] = lv
            elif lf == 5:
                lyr["extent"] = lv
            elif lf == 3:
                lyr["keys"].append(lv.decode("utf-8"))
            elif lf == 4:
                lyr["values"].append(_decode_value(lv))
            elif lf == 2:
                feat = {"id": None, "tags": [], "type": 0, "geometry": []}
                for ff, fwt, fv in _fields(lv):
                    if ff == 1:
                        feat["id"] = fv
                    elif ff == 2:
                        feat["tags"] += _packed_u32(fv)
                    elif ff == 3:
                        feat["type"] = fv
                    elif ff == 4:
                        feat["geometry"] += _packed_u32(fv)
                lyr["features"].append(feat)
        for feat in lyr["features"]:
            feat["fields"] = {
                lyr["keys"][feat["tags"][i]]: lyr["values"][feat["tags"][i + 1]]
                for i in range(0, len(feat["tags"]) - 1, 2)
            }
        layers.append(lyr)
    return layers


def _ring_is_clockwise(ring: list[tuple[float, float]]) -> bool:
    s = 0.0
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        s += (x1 - x0) * (y1 + y0)
    return s > 0


def decode_geometry(
    gtype: int,
    cmds: list[int],
    extent: int = 4096,
    geo: tuple[float, float, float, float] | None = None,
    force_multi: bool = False,
) -> str | None:
    """Command array -> WKT, exactly ParseGeometry's state machine.
    ``geo`` = (top_x, top_y, dim_x, dim_y) for georeferenced output,
    None for raw tile space (x, extent - y)."""

    def xy(nx: int, ny: int) -> tuple[float, float]:
        if geo is None:
            return float(nx), float(extent - ny)
        tx, ty, dx, dy = geo
        return tx + nx * dx / extent, ty - ny * dy / extent

    def fmt(p):
        def f1(v):
            return str(int(v)) if float(v).is_integer() else repr(float(v))

        return f"{f1(p[0])} {f1(p[1])}"

    pos = 0
    nx = ny = 0

    def read_pair():
        nonlocal pos, nx, ny
        dx, dy = _zz_dec(cmds[pos]), _zz_dec(cmds[pos + 1])
        pos += 2
        nx += dx
        ny += dy
        return xy(nx, ny)

    if gtype == GEOM_POINT:
        hdr = cmds[pos]
        pos += 1
        count = hdr >> 3
        if hdr & 7 != MOVETO:
            return None
        pts = []
        for i in range(count):
            p = read_pair()
            if i == 0 and count == 2 and pos >= len(cmds):
                return f"POINT ({fmt(p)})"  # broken-Mapserver quirk
            pts.append(p)
        if count == 1 and not force_multi:
            return f"POINT ({fmt(pts[0])})"
        return "MULTIPOINT (" + ",".join(f"({fmt(p)})" for p in pts) + ")"

    if gtype == GEOM_LINESTRING:
        parts = []
        while pos < len(cmds):
            pos += 1  # MoveTo header
            line = [read_pair()]
            hdr = cmds[pos]
            pos += 1
            for _ in range(hdr >> 3):
                line.append(read_pair())
            parts.append(line)
        if not parts:
            return None
        if len(parts) == 1 and not force_multi:
            return "LINESTRING (" + ",".join(fmt(p) for p in parts[0]) + ")"
        return (
            "MULTILINESTRING ("
            + ",".join("(" + ",".join(fmt(p) for p in ln) + ")" for ln in parts)
            + ")"
        )

    if gtype == GEOM_POLYGON:
        polys: list[list[list]] = []
        cur: list[list] = []
        ext_cw = None
        while pos < len(cmds):
            pos += 1  # MoveTo header
            ring = [read_pair()]
            hdr = cmds[pos]
            pos += 1
            for _ in range(hdr >> 3):
                ring.append(read_pair())
            pos += 1  # ClosePath
            if ring[0] != ring[-1]:
                ring.append(ring[0])
            cw = _ring_is_clockwise(ring)
            if ext_cw is None:
                ext_cw = cw
                cur = [ring]
            elif cw != ext_cw:
                cur.append(ring)  # interior ring
            else:
                polys.append(cur)  # same winding: new exterior
                cur = [ring]
        if cur:
            polys.append(cur)
        if not polys:
            return None

        def ptxt(rings):
            return (
                "("
                + ",".join(
                    "(" + ",".join(fmt(p) for p in r) + ")" for r in rings
                )
                + ")"
            )

        if len(polys) == 1 and not force_multi:
            return "POLYGON " + ptxt(polys[0])
        return "MULTIPOLYGON (" + ",".join(ptxt(p) for p in polys) + ")"

    return None


def tile_geo(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """WebMercator (top_x, top_y, dim_x, dim_y) of XYZ tile z/x/y."""
    dim = M.resolution_py(z) * M.TILE_SIZE
    return -M.ORIGIN_SHIFT + x * dim, M.ORIGIN_SHIFT - y * dim, dim, dim


def _xyz_tile(x, y, dim: float):
    """Column XYZ index of the tile holding (x, y), with S = ORIGIN_SHIFT:
    floor((x + S) / dim), floor((S - y) / dim). This is the MVT writer's
    rule, not gdal2tiles' ceil(p / 256) - 1: a point on a tile edge goes
    to the tile right of or below it."""
    from pyspark.sql import functions as F

    return (F.floor((x + M.ORIGIN_SHIFT) / dim).cast("int"),
            F.floor((M.ORIGIN_SHIFT - y) / dim).cast("int"))


# ---------------------------------------------------------------------------
# tile encode (the writer side of ogrmvtdataset.cpp / mvtutils)
# ---------------------------------------------------------------------------


def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _wvarint((7 << 3) | 0) + _wvarint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        iv = int(v)
        if iv >= 0:
            return _wvarint((4 << 3) | 0) + _wvarint(iv)
        return _wvarint((6 << 3) | 0) + _wvarint(_zz_enc(iv))
    if isinstance(v, (float, np.floating)):
        return _wvarint((3 << 3) | 1) + struct.pack("<d", float(v))
    b = str(v).encode("utf-8")
    return _wvarint((1 << 3) | 2) + _wvarint(len(b)) + b


def _ldelim(fno: int, payload: bytes) -> bytes:
    return _wvarint((fno << 3) | 2) + _wvarint(len(payload)) + payload


def encode_geometry(gtype: int, parts: list[np.ndarray]) -> list[int]:
    """Integer tile-space parts -> command array. For polygons, pass
    rings in order exterior-first with MVT winding already applied
    (exterior CW in tile space, interiors CCW)."""
    cmds: list[int] = []
    nx = ny = 0

    def push_pairs(pts):
        nonlocal nx, ny
        for px, py in pts:
            cmds.append(_zz_enc(int(px) - nx))
            cmds.append(_zz_enc(int(py) - ny))
            nx, ny = int(px), int(py)

    if gtype == GEOM_POINT:
        pts = parts[0]
        cmds.append((len(pts) << 3) | MOVETO)
        push_pairs(pts)
        return cmds
    for part in parts:
        pts = np.asarray(part)
        if gtype == GEOM_POLYGON and len(pts) > 1 and tuple(pts[0]) == tuple(
            pts[-1]
        ):
            pts = pts[:-1]  # ClosePath replaces the duplicate vertex
        cmds.append((1 << 3) | MOVETO)
        push_pairs(pts[:1])
        cmds.append(((len(pts) - 1) << 3) | LINETO)
        push_pairs(pts[1:])
        if gtype == GEOM_POLYGON:
            cmds.append(CLOSEPATH)
    return cmds


def encode_mvt_tile(layers: list[dict]) -> bytes:
    """[{name, extent?, features: [{id?, type, parts, fields}]}] -> pbf.
    ``parts`` are integer tile-space coordinate arrays (points: one
    (N,2) array; lines: list of (N,2); polygons: rings)."""
    out = bytearray()
    for lyr in layers:
        keys: list[str] = []
        values: list = []
        kidx: dict[str, int] = {}
        vidx: dict = {}
        body = bytearray()
        body += _ldelim(1, lyr["name"].encode("utf-8"))
        feats = bytearray()
        for feat in lyr["features"]:
            tags: list[int] = []
            for k, v in (feat.get("fields") or {}).items():
                if v is None:
                    continue
                if k not in kidx:
                    kidx[k] = len(keys)
                    keys.append(k)
                vk = (type(v).__name__, v)
                if vk not in vidx:
                    vidx[vk] = len(values)
                    values.append(v)
                tags += [kidx[k], vidx[vk]]
            fbody = bytearray()
            if feat.get("id") is not None:
                fbody += _wvarint((1 << 3) | 0) + _wvarint(int(feat["id"]))
            if tags:
                packed = b"".join(_wvarint(t) for t in tags)
                fbody += _ldelim(2, packed)
            fbody += _wvarint((3 << 3) | 0) + _wvarint(feat["type"])
            cmds = encode_geometry(feat["type"], feat["parts"])
            fbody += _ldelim(4, b"".join(_wvarint(c) for c in cmds))
            feats += _ldelim(2, bytes(fbody))
        body += feats
        for k in keys:
            body += _ldelim(3, k.encode("utf-8"))
        for v in values:
            body += _ldelim(4, _encode_value(v))
        body += _wvarint((5 << 3) | 0) + _wvarint(int(lyr.get("extent", 4096)))
        body += _wvarint((15 << 3) | 0) + _wvarint(int(lyr.get("version", 2)))
        out += _ldelim(3, bytes(body))
    return bytes(out)


# ---------------------------------------------------------------------------
# distributed forms
# ---------------------------------------------------------------------------


def read_mvt_tileset(spark, root: str, force_multi: bool = True):
    """Scan a z/x/y pbf tree -> DataFrame(z, x, y, layer, mvt_id, wkt,
    nfields). One Arrow batch decodes each task's tiles locally; the
    tile grid is the partition grid (no shuffle)."""
    from pyspark.sql import types as T

    paths = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".pbf"):
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root).split(os.sep)
                if len(rel) == 3:
                    z, x = int(rel[0]), int(rel[1])
                    y = int(rel[2][:-4])
                    paths.append((z, x, y, full))
    pdf = spark.createDataFrame(paths, "z: int, x: int, y: int, path: string")

    sch = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("layer", T.StringType()),
            T.StructField("mvt_id", T.LongType()),
            T.StructField("wkt", T.StringType()),
            T.StructField("nfields", T.IntegerType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for z, x, y, path in zip(b["z"], b["x"], b["y"], b["path"]):
                with open(path, "rb") as fh:
                    data = fh.read()
                geo = tile_geo(int(z), int(x), int(y))
                for lyr in parse_mvt_tile(data):
                    for feat in lyr["features"]:
                        wkt = decode_geometry(
                            feat["type"], feat["geometry"], lyr["extent"],
                            geo=geo, force_multi=force_multi,
                        )
                        rows.append(
                            (int(z), int(x), int(y), lyr["name"],
                             feat["id"], wkt, len(feat["fields"]))
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return pdf.repartition("z", "x").mapInPandas(run, sch)


def write_mvt_tiles(
    df,
    root: str,
    zoom: int,
    layer_name: str = "layer",
    extent: int = 4096,
    x_col: str = "x",
    y_col: str = "y",
) -> int:
    """Vector-tile sink: WebMercator point features -> z/x/y pbf tree.
    Tile assignment is pure Column math, ONE groupBy(tx, ty) shuffle,
    and each task writes its tiles' pbf bytes. Returns tiles written."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tx, ty = _xyz_tile(F.col(x_col), F.col(y_col), tile_geo(zoom, 0, 0)[2])
    tagged = df.withColumn("_tx", tx).withColumn("_ty", ty)

    sch = T.StructType([T.StructField("n", T.IntegerType())])
    field_cols = [
        c for c in df.columns if c not in (x_col, y_col)
    ]

    def emit(key, pdf):
        import pandas as pd

        tzx, tzy = int(key[0]), int(key[1])
        top_x, top_y, dim, _ = tile_geo(zoom, tzx, tzy)
        feats = []
        for _, row in pdf.iterrows():
            px = int(round((row[x_col] - top_x) / dim * extent))
            py = int(round((top_y - row[y_col]) / dim * extent))
            feats.append(
                {
                    "type": GEOM_POINT,
                    "parts": [np.array([[px, py]])],
                    "fields": {c: row[c] for c in field_cols},
                }
            )
        data = encode_mvt_tile(
            [{"name": layer_name, "extent": extent, "features": feats}]
        )
        path = os.path.join(root, str(zoom), str(tzx))
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{tzy}.pbf"), "wb") as fh:
            fh.write(data)
        return pd.DataFrame({"n": [1]})

    out = tagged.groupBy("_tx", "_ty").applyInPandas(emit, sch)
    return int(out.agg({"n": "sum"}).collect()[0][0] or 0)


# ---------------------------------------------------------------------------
# Full-geometry pyramid writer (the ogr2ogr -f MVT path:
# ogrmvtdataset.cpp OGRMVTWriterDataset — per-zoom tile cover, per-tile
# clip to tile+buffer, quantize, encode)
# ---------------------------------------------------------------------------


def clip_line_to_box(
    coords: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> list[np.ndarray]:
    """Liang-Barsky clip of a polyline to a box -> list of parts
    (continuous runs that survive the clip)."""
    coords = np.asarray(coords, dtype=np.float64)
    parts: list[list] = []
    cur: list = []
    for i in range(len(coords) - 1):
        x0, y0 = coords[i]
        x1, y1 = coords[i + 1]
        dx, dy = x1 - x0, y1 - y0
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in (
            (-dx, x0 - xmin), (dx, xmax - x0),
            (-dy, y0 - ymin), (dy, ymax - y0),
        ):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                r = q / p
                if p < 0:
                    if r > t1:
                        ok = False
                        break
                    t0 = max(t0, r)
                else:
                    if r < t0:
                        ok = False
                        break
                    t1 = min(t1, r)
        if not ok:
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
            continue
        a = (x0 + t0 * dx, y0 + t0 * dy)
        b = (x0 + t1 * dx, y0 + t1 * dy)
        if not cur:
            cur = [a, b]
        elif cur[-1] == a:
            cur.append(b)
        else:
            if len(cur) >= 2:
                parts.append(cur)
            cur = [a, b]
        if t1 < 1.0:  # exited the box: close the run
            if len(cur) >= 2:
                parts.append(cur)
            cur = []
    if len(cur) >= 2:
        parts.append(cur)
    return [np.asarray(p) for p in parts]


def _quantize(pts, top_x, top_y, dim, extent):
    """Mercator -> integer tile coords, consecutive duplicates dropped.
    The world->tile y flip reverses ring orientation, which is exactly
    the MVT winding convention (world-CCW exterior -> tile-CW)."""
    out = []
    for x, y in pts:
        px = int(round((x - top_x) / dim * extent))
        py = int(round((top_y - y) / dim * extent))
        if not out or out[-1] != (px, py):
            out.append((px, py))
    return np.array(out) if out else np.empty((0, 2), dtype=np.int64)


def _tile_parts(wkb_buf: bytes, top_x, top_y, dim, extent, buf_px):
    """One feature's WKB -> (mvt_geom_type, integer parts) for the tile
    at (top_x, top_y), clipped to tile + buffer. None when nothing
    survives."""
    from gdal_spark.functions import wkb as W
    from gdal_spark.functions.geom import clip_wkb_to_box

    pad = buf_px * dim / extent
    bx0, by0 = top_x - pad, top_y - dim - pad
    bx1, by1 = top_x + dim + pad, top_y + pad
    t, p = W.parse(bytes(wkb_buf))
    if t == W.WKB_POINT:
        x, y = p
        if not (bx0 <= x <= bx1 and by0 <= y <= by1):
            return None
        q = _quantize([(x, y)], top_x, top_y, dim, extent)
        return GEOM_POINT, [q]
    if t == W.WKB_LINESTRING:
        parts = clip_line_to_box(np.asarray(p), bx0, by0, bx1, by1)
        parts = [
            q for q in (
                _quantize(pt, top_x, top_y, dim, extent) for pt in parts
            ) if len(q) >= 2
        ]
        return (GEOM_LINESTRING, parts) if parts else None
    if t in (W.WKB_POLYGON, W.WKB_MULTIPOLYGON):
        clipped = clip_wkb_to_box(bytes(wkb_buf), bx0, by0, bx1, by1)
        if clipped is None:
            return None
        rings_out = []
        for rings in W.polygon_rings(clipped):
            for ring in rings:
                q = _quantize(ring, top_x, top_y, dim, extent)
                if len(q) >= 2 and tuple(q[0]) == tuple(q[-1]):
                    q = q[:-1]
                if len(q) >= 3:
                    rings_out.append(
                        np.vstack([q, q[:1]])
                    )
        return (GEOM_POLYGON, rings_out) if rings_out else None
    raise ValueError(f"unsupported geometry type {t} for MVT write")


def write_mvt_pyramid(
    df,
    root: str,
    minzoom: int,
    maxzoom: int,
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 80,
    wkb_col: str = "wkb",
    id_col: str | None = None,
) -> int:
    """ogr2ogr -f MVT equivalent over WebMercator WKB features: for
    every zoom in [minzoom, maxzoom] each feature explodes onto the
    tiles its bbox (+buffer) covers — pure Column sequence math — then
    ONE groupBy(z, tx, ty) shuffle and each task clips, quantizes and
    encodes its tiles locally. Returns tiles written."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    field_cols = [c for c in df.columns if c not in (wkb_col, id_col)]

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("xmin", T.DoubleType()),
                T.StructField("ymin", T.DoubleType()),
                T.StructField("xmax", T.DoubleType()),
                T.StructField("ymax", T.DoubleType()),
            ]
        )
    )
    def bbox_udf(col):
        from gdal_spark.functions import wkb as W

        rows = []
        for v in col:
            t, p = W.parse(bytes(v))
            if t == W.WKB_POINT:
                rows.append((p[0], p[1], p[0], p[1]))
            elif t == W.WKB_LINESTRING:
                a = np.asarray(p)
                rows.append((a[:, 0].min(), a[:, 1].min(),
                             a[:, 0].max(), a[:, 1].max()))
            else:
                xs, ys = [], []
                for rings in W.polygon_rings(bytes(v)):
                    for r in rings:
                        xs += [r[:, 0].min(), r[:, 0].max()]
                        ys += [r[:, 1].min(), r[:, 1].max()]
                rows.append((min(xs), min(ys), max(xs), max(ys)))
        return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])

    with_bbox = df.withColumn("_bb", bbox_udf(F.col(wkb_col)))
    covered = None
    for z in range(minzoom, maxzoom + 1):
        dim = tile_geo(z, 0, 0)[2]
        pad = buffer_px * dim / extent
        nmax = F.lit((1 << z) - 1)
        tx0, ty0 = _xyz_tile(F.col("_bb.xmin") - pad, F.col("_bb.ymax") + pad, dim)
        tx1, ty1 = _xyz_tile(F.col("_bb.xmax") + pad, F.col("_bb.ymin") - pad, dim)
        tx0, ty0 = F.greatest(F.lit(0), tx0), F.greatest(F.lit(0), ty0)
        tx1, ty1 = F.least(nmax, tx1), F.least(nmax, ty1)
        zdf = (
            with_bbox.withColumn("_tx", F.explode(F.sequence(tx0, tx1)))
            .withColumn("_ty", F.explode(F.sequence(ty0, ty1)))
            .withColumn("_z", F.lit(z))
        )
        covered = zdf if covered is None else covered.unionByName(zdf)

    sch = T.StructType([T.StructField("n", T.IntegerType())])

    def emit(key, pdf):
        z, tzx, tzy = int(key[0]), int(key[1]), int(key[2])
        top_x, top_y, dim, _ = tile_geo(z, tzx, tzy)
        feats = []
        for _, row in pdf.iterrows():
            tp = _tile_parts(
                bytes(row[wkb_col]), top_x, top_y, dim, extent, buffer_px
            )
            if tp is None:
                continue
            feats.append(
                {
                    "id": int(row[id_col]) if id_col else None,
                    "type": tp[0],
                    "parts": tp[1],
                    "fields": {c: row[c] for c in field_cols},
                }
            )
        if not feats:
            return pd.DataFrame({"n": [0]})
        data = encode_mvt_tile(
            [{"name": layer_name, "extent": extent, "features": feats}]
        )
        path = os.path.join(root, str(z), str(tzx))
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{tzy}.pbf"), "wb") as fh:
            fh.write(data)
        return pd.DataFrame({"n": [1]})

    out = covered.groupBy("_z", "_tx", "_ty").applyInPandas(emit, sch)
    return int(out.agg({"n": "sum"}).collect()[0][0] or 0)
