"""OSM PBF driver (ogr/ogrsf_frmts/osm: osm_parser.cpp,
ogrosmdatasource.cpp) — reader + the OGR five-layer model.

File format (OSMPBF spec, osm_parser.cpp):

  * framing: int32 BE BlobHeader length, BlobHeader{1:type, 3:datasize},
    Blob{1:raw | 2:raw_size + 3:zlib_data};
  * OSMData blob = PrimitiveBlock{1:stringtable, 2:primitivegroup*,
    17:granularity(=100), 18:date_granularity, 19:lat_offset,
    20:lon_offset}; coordinate = 1e-9 * (offset + granularity * value);
  * PrimitiveGroup{1:node*, 2:dense, 3:way*, 4:relation*};
    DenseNodes{1:ids sint64 delta, 8:lats delta, 9:lons delta,
    10:keys_vals int32 stream with 0 separators};
    Way{1:id, 2:keys, 3:vals, 8:refs sint64 delta};
    Relation{1:id, 2:keys, 3:vals, 8:roles_sid, 9:memids delta,
    10:types 0=node 1=way 2=relation}.

Layer semantics re-expressed from ogrosmdatasource.cpp + the default
data/osmconf.ini:

  * points: nodes with >=1 significant tag (key not in `unsignificant`);
  * lines: tagged ways that are not closed-areas; z_order computed with
    the hardcoded osm2pgsql formula (osmconf.ini z_order_sql);
  * multipolygons: type=multipolygon/boundary relations (member rings
    stitched, whole relation skipped when any member way is missing)
    plus standalone closed-area ways (osm_way_id) not consumed by such
    a relation; closed-area = IsClosedWayTaggedAsPolygon
    (ogrosmdatasource.cpp:1781): area=yes forces true, area=no forces
    false, else any key (or key=value) in closed_ways_are_polygons;
    relations with no significant tags inherit the outer way's tags;
  * multilinestrings: type=route/multilinestring relations;
  * other_relations: every other typed relation as a geometry
    collection of member points/linestrings.

Scale shape: the driver indexes only blob frame offsets (seek-skip);
each task inflates and decodes its own blocks (a planet file is ~50k
independent zlib blocks). Way geometry assembly is the classic
distributed OSM join — posexplode(refs) x nodes on node id, regroup on
way id — two keyed shuffles, no driver-side node cache (the reference
needs an on-disk sqlite node DB for the same step; a cluster shuffles
instead).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.sources.mvt import _fields, _packed_u32, _rvarint, _zz_dec

# ---------------------------------------------------------------------------
# protobuf primitives (the MVT field walker and varint readers)
# ---------------------------------------------------------------------------


def _packed_sint_delta(buf: bytes) -> list[int]:
    out, acc, pos = [], 0, 0
    while pos < len(buf):
        v, pos = _rvarint(buf, pos)
        acc += _zz_dec(v)
        out.append(acc)
    return out


# ---------------------------------------------------------------------------
# blob framing + PrimitiveBlock decode
# ---------------------------------------------------------------------------


def scan_block_index(path: str) -> list[tuple[str, int, int]]:
    """(blob_type, blob_offset, blob_size) per frame — header-only reads,
    the payload is seek-skipped (driver cost ~ bytes per block header)."""
    out = []
    with open(path, "rb") as fh:
        while True:
            head = fh.read(4)
            if len(head) < 4:
                break
            (hlen,) = struct.unpack(">i", head)
            bh = fh.read(hlen)
            btype, dsize = "", 0
            for fno, _, v in _fields(bh):
                if fno == 1:
                    btype = v.decode()
                elif fno == 3:
                    dsize = v
            out.append((btype, fh.tell(), dsize))
            fh.seek(dsize, 1)
    return out


def _inflate_blob(data: bytes) -> bytes:
    raw = None
    for fno, _, v in _fields(data):
        if fno == 1:
            raw = v
        elif fno == 3:
            raw = zlib.decompress(v)
    if raw is None:
        raise ValueError("empty OSM blob")
    return raw


def parse_primitive_block(data: bytes) -> dict:
    """One PrimitiveBlock -> {nodes, ways, relations} python lists."""
    strings: list[str] = []
    groups = []
    gran, lat_off, lon_off = 100, 0, 0
    for fno, _, v in _fields(data):
        if fno == 1:
            strings = [s.decode("utf-8") for f, _, s in _fields(v) if f == 1]
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            gran = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    def coord(off, g, val):
        return 1e-9 * (off + g * val)

    nodes, ways, rels = [], [], []
    for g in groups:
        for fno, _, v in _fields(g):
            if fno == 1:  # plain Node
                nid = lat = lon = 0
                keys = vals = []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        nid = _zz_dec(v2) if isinstance(v2, int) else 0
                    elif f2 == 2:
                        keys = _packed_u32(v2)
                    elif f2 == 3:
                        vals = _packed_u32(v2)
                    elif f2 == 8:
                        lat = _zz_dec(v2)
                    elif f2 == 9:
                        lon = _zz_dec(v2)
                tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
                nodes.append(
                    (nid, coord(lon_off, gran, lon), coord(lat_off, gran, lat), tags)
                )
            elif fno == 2:  # DenseNodes
                ids = lats = lons = []
                kv = []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        ids = _packed_sint_delta(v2)
                    elif f2 == 8:
                        lats = _packed_sint_delta(v2)
                    elif f2 == 9:
                        lons = _packed_sint_delta(v2)
                    elif f2 == 10:
                        kv = _packed_u32(v2)
                tag_iter = iter(kv)
                for nid, la, lo in zip(ids, lats, lons):
                    tags = {}
                    if kv:
                        for k in tag_iter:
                            if k == 0:
                                break
                            tags[strings[k]] = strings[next(tag_iter)]
                    nodes.append(
                        (
                            nid,
                            coord(lon_off, gran, lo),
                            coord(lat_off, gran, la),
                            tags,
                        )
                    )
            elif fno == 3:  # Way
                wid = 0
                keys = vals = refs = []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = _packed_u32(v2)
                    elif f2 == 3:
                        vals = _packed_u32(v2)
                    elif f2 == 8:
                        refs = _packed_sint_delta(v2)
                tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
                ways.append((wid, refs, tags))
            elif fno == 4:  # Relation
                rid = 0
                keys = vals = roles = mids = mtypes = []
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = _packed_u32(v2)
                    elif f2 == 3:
                        vals = _packed_u32(v2)
                    elif f2 == 8:
                        roles = _packed_u32(v2)
                    elif f2 == 9:
                        mids = _packed_sint_delta(v2)
                    elif f2 == 10:
                        mtypes = _packed_u32(v2)
                tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
                members = [
                    (int(t), int(m), strings[r])
                    for t, m, r in zip(mtypes, mids, roles)
                ]
                rels.append((rid, members, tags))
    return {"nodes": nodes, "ways": ways, "relations": rels}


# ---------------------------------------------------------------------------
# distributed entity tables
# ---------------------------------------------------------------------------

_ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mtype", T.IntegerType()),
                        T.StructField("ref", T.LongType()),
                        T.StructField("role", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


def read_osm_entities(spark: SparkSession, path: str) -> DataFrame:
    """All OSM entities as one DataFrame(kind, id, lon, lat, refs,
    members, tags) — one task per slice of the block index."""
    is_xml = path.endswith(".osm")
    if is_xml:
        blocks = [(0, 0)]  # XML has no block structure: one task parses it
    else:
        blocks = [
            (off, size)
            for btype, off, size in scan_block_index(path)
            if btype == "OSMData"
        ]
    bdf = spark.createDataFrame(blocks, "off: long, size: int")

    def run(batches):
        with open(path, "rb") as fh:
            for b in batches:
                rows = []
                for off, size in zip(b["off"], b["size"]):
                    if is_xml:
                        fh.seek(0)
                        blk = parse_osm_xml(fh.read())
                    else:
                        fh.seek(int(off))
                        blk = parse_primitive_block(_inflate_blob(fh.read(int(size))))
                    for nid, lon, lat, tags in blk["nodes"]:
                        rows.append(("n", nid, lon, lat, None, None, tags))
                    for wid, refs, tags in blk["ways"]:
                        rows.append(("w", wid, None, None, refs, None, tags))
                    for rid, members, tags in blk["relations"]:
                        rows.append(("r", rid, None, None, None, members, tags))
                yield pd.DataFrame(
                    rows, columns=[f.name for f in _ENTITY_SCHEMA.fields]
                )

    return bdf.mapInPandas(run, _ENTITY_SCHEMA)


# ---------------------------------------------------------------------------
# the OGR five-layer model (default osmconf.ini)
# ---------------------------------------------------------------------------

UNSIGNIFICANT = {"created_by", "converted_by", "source", "time", "ele",
                 "attribution"}
IGNORE = {"created_by", "converted_by", "source", "time", "ele", "note",
          "todo", "fixme", "FIXME"}
IGNORE_PREFIX = ("openGeoDB:",)
CLOSED_WAYS_ARE_POLYGONS = {
    "aeroway", "amenity", "boundary", "building", "craft", "geological",
    "historic", "landuse", "leisure", "military", "natural", "office",
    "place", "shop", "sport", "tourism", "highway=platform",
    "public_transport=platform",
}
ATTRS = {
    "points": ["name", "barrier", "highway", "ref", "address", "is_in",
               "place", "man_made"],
    "lines": ["name", "highway", "waterway", "aerialway", "barrier",
              "man_made", "railway"],
    "multipolygons": ["name", "type", "aeroway", "amenity", "admin_level",
                      "barrier", "boundary", "building", "craft",
                      "geological", "historic", "land_area", "landuse",
                      "leisure", "man_made", "military", "natural",
                      "office", "place", "shop", "sport", "tourism"],
    "multilinestrings": ["name", "type"],
    "other_relations": ["name", "type"],
}
_Z_ORDER_BASE = {
    "minor": 3, "road": 3, "unclassified": 3, "residential": 3,
    "tertiary_link": 4, "tertiary": 4, "secondary_link": 6, "secondary": 6,
    "primary_link": 7, "primary": 7, "trunk_link": 8, "trunk": 8,
    "motorway_link": 9, "motorway": 9,
}


def z_order(tags: dict) -> int:
    """osmconf.ini z_order_sql, the osm2pgsql style.lua formula."""
    z = _Z_ORDER_BASE.get(tags.get("highway", ""), 0)
    if tags.get("bridge") in ("yes", "true", "1"):
        z += 10
    if tags.get("tunnel") in ("yes", "true", "1"):
        z -= 10
    if "railway" in tags:
        z += 5
    if "layer" in tags:
        try:
            z += 10 * int(tags["layer"])
        except ValueError:
            pass
    return z


def is_closed_way_polygon(tags: dict) -> bool:
    """ogrosmdatasource.cpp:1781 IsClosedWayTaggedAsPolygon."""
    area = tags.get("area")
    if area == "yes":
        return True
    if area == "no":
        return False
    for k, v in tags.items():
        if k in CLOSED_WAYS_ARE_POLYGONS or f"{k}={v}" in CLOSED_WAYS_ARE_POLYGONS:
            return True
    return False


def other_tags_hstore(tags: dict, attr_fields: list[str],
                      extra_ignore: set | None = None) -> str | None:
    skip = IGNORE | set(attr_fields) | (extra_ignore or set())
    items = [
        (k, v)
        for k, v in tags.items()
        if k not in skip and not k.startswith(IGNORE_PREFIX)
    ]
    if not items:
        return None
    esc = lambda s: s.replace("\\", "\\\\").replace('"', '\\"')
    return ",".join(f'"{esc(k)}"=>"{esc(v)}"' for k, v in items)


def _significant(tags: dict) -> bool:
    return any(k not in UNSIGNIFICANT for k in tags)


def _fmt(v: float) -> str:
    s = f"{v:.7f}".rstrip("0").rstrip(".")
    return s if s not in ("-0", "") else "0"


def _ls_wkt(coords) -> str:
    return "(" + ",".join(f"{_fmt(x)} {_fmt(y)}" for x, y in coords) + ")"


def _stitch_rings(parts: list[list]) -> list[list]:
    """Endpoint-stitch way pieces into closed rings (the reference's
    multipolygon assembly in ogrosmdatasource.cpp)."""
    parts = [list(p) for p in parts]
    rings = []
    while parts:
        cur = parts.pop(0)
        changed = True
        while changed and cur[0] != cur[-1]:
            changed = False
            for i, p in enumerate(parts):
                if p[0] == cur[-1]:
                    cur += p[1:]
                elif p[-1] == cur[-1]:
                    cur += p[-2::-1]
                elif p[-1] == cur[0]:
                    cur = p + cur[1:]
                elif p[0] == cur[0]:
                    cur = p[::-1] + cur[1:]
                else:
                    continue
                parts.pop(i)
                changed = True
                break
        if cur[0] == cur[-1] and len(cur) >= 4:
            rings.append(cur)
    return rings


def _way_geoms(entities: DataFrame) -> DataFrame:
    """(way id, tags, coords array ordered by ref position, closed flag,
    n_refs). Missing nodes are dropped (test.osm ways 4/6 semantics);
    ways with < 2 surviving points are skipped."""
    ways = entities.filter(F.col("kind") == "w").select("id", "refs", "tags")
    nodes = entities.filter(F.col("kind") == "n").select(
        F.col("id").alias("nid"), "lon", "lat"
    )
    exploded = ways.select(
        F.col("id").alias("way_id"),
        F.size("refs").alias("n_refs"),
        F.posexplode("refs").alias("pos", "nid"),
    )
    joined = exploded.join(nodes, "nid")  # inner: missing nodes drop out
    pts = joined.groupBy("way_id", "n_refs").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "lon", "lat"))
        ).alias("pl")
    )
    pts = pts.select(
        "way_id",
        "n_refs",
        F.expr("transform(pl, p -> array(p.lon, p.lat))").alias("coords"),
    ).filter(F.size("coords") >= 2)
    return pts.join(
        ways.select(F.col("id").alias("way_id"), "tags"), "way_id"
    ).withColumn(
        "closed",
        F.expr("coords[0][0] = element_at(coords, -1)[0] AND"
               " coords[0][1] = element_at(coords, -1)[1]"),
    )


def osm_layers(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The five OGR layers as DataFrames with (osm_id [, osm_way_id],
    <attribute fields>, [z_order,] other_tags, wkt)."""
    entities = read_osm_entities(spark, path)
    way_geo = _way_geoms(entities)
    rels = entities.filter(F.col("kind") == "r").select("id", "members", "tags")

    # -- points ------------------------------------------------------------
    nodes = entities.filter(F.col("kind") == "n")
    pt_schema = T.StructType(
        [T.StructField("osm_id", T.StringType())]
        + [T.StructField(a, T.StringType()) for a in ATTRS["points"]]
        + [T.StructField("other_tags", T.StringType()),
           T.StructField("wkt", T.StringType())]
    )

    def emit_points(batches):
        for b in batches:
            rows = []
            for nid, lon, lat, tags in zip(b["id"], b["lon"], b["lat"], b["tags"]):
                tags = dict(tags) if tags is not None else {}
                if not _significant(tags):
                    continue
                rows.append(
                    (str(nid),)
                    + tuple(tags.get(a) for a in ATTRS["points"])
                    + (
                        other_tags_hstore(
                            tags, ATTRS["points"], {"created_by"}
                        ),
                        f"POINT ({_fmt(lon)} {_fmt(lat)})",
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in pt_schema.fields])

    points = nodes.mapInPandas(emit_points, pt_schema)

    # -- way partitioning between lines and polygon candidates --------------
    ln_schema = T.StructType(
        [T.StructField("osm_id", T.StringType())]
        + [T.StructField(a, T.StringType()) for a in ATTRS["lines"]]
        + [T.StructField("z_order", T.IntegerType()),
           T.StructField("other_tags", T.StringType()),
           T.StructField("wkt", T.StringType())]
    )

    def emit_lines(batches):
        for b in batches:
            rows = []
            for wid, coords, closed, tags in zip(
                b["way_id"], b["coords"], b["closed"], b["tags"]
            ):
                tags = dict(tags) if tags is not None else {}
                if not tags or not _significant(tags):
                    continue
                if bool(closed) and is_closed_way_polygon(tags):
                    continue
                rows.append(
                    (str(wid),)
                    + tuple(tags.get(a) for a in ATTRS["lines"])
                    + (
                        z_order(tags),
                        other_tags_hstore(tags, ATTRS["lines"] + ["z_order"]),
                        "LINESTRING " + _ls_wkt(coords),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in ln_schema.fields])

    lines = way_geo.mapInPandas(emit_lines, ln_schema)

    # -- relations by type ---------------------------------------------------
    mp_rels = rels.filter(
        F.col("tags").getItem("type").isin("multipolygon", "boundary")
    )
    ml_rels = rels.filter(
        F.col("tags").getItem("type").isin("route", "multilinestring")
    )
    other_rels = rels.filter(
        F.col("tags").getItem("type").isNotNull()
        & ~F.col("tags").getItem("type").isin(
            "multipolygon", "boundary", "route", "multilinestring"
        )
    )

    def rel_way_join(rel_df):
        m = rel_df.select(
            F.col("id").alias("rel_id"),
            "tags",
            F.size(F.filter("members", lambda mm: mm.mtype == 1)).alias(
                "n_way_members"
            ),
            F.posexplode("members").alias("mpos", "m"),
        ).filter(F.col("m.mtype") == 1)
        return m.join(
            way_geo.select(
                F.col("way_id"),
                F.col("coords").alias("w_coords"),
                F.col("tags").alias("w_tags"),
            ),
            m["m.ref"] == F.col("way_id"),
        )

    # -- multipolygons -------------------------------------------------------
    mp_schema = T.StructType(
        [T.StructField("osm_id", T.StringType()),
         T.StructField("osm_way_id", T.StringType())]
        + [T.StructField(a, T.StringType()) for a in ATTRS["multipolygons"]]
        + [T.StructField("other_tags", T.StringType()),
           T.StructField("wkt", T.StringType())]
    )

    def assemble_mp(key, pdf):
        rel_id = int(key[0])
        n_expected = int(pdf["n_way_members"].iloc[0])
        if len(pdf) != n_expected:  # a member way is missing: skip relation
            return pd.DataFrame(columns=[f.name for f in mp_schema.fields])
        tags = dict(pdf["tags"].iloc[0])
        pdf = pdf.sort_values("mpos")
        outer_parts, inner_parts = [], []
        first_outer_tags = None
        for _, r in pdf.iterrows():
            coords = [tuple(c) for c in r["w_coords"]]
            role = r["m"]["role"] if isinstance(r["m"], dict) else r["m"].role
            if role == "inner":
                inner_parts.append(coords)
            else:
                outer_parts.append(coords)
                if first_outer_tags is None:
                    first_outer_tags = dict(r["w_tags"])
        # tag inheritance from the outer way when the relation carries
        # nothing but type= (the fixture's relation 5)
        eff = dict(tags)
        if not any(
            k != "type" and k not in UNSIGNIFICANT for k in tags
        ) and first_outer_tags:
            for k, v in first_outer_tags.items():
                eff.setdefault(k, v)
        outers = _stitch_rings(outer_parts)
        inners = _stitch_rings(inner_parts)
        if not outers:
            return pd.DataFrame(columns=[f.name for f in mp_schema.fields])
        polys = [[o] for o in outers]
        for h in inners:  # attach each hole to the first containing outer
            hx = sum(p[0] for p in h[:-1]) / (len(h) - 1)
            hy = sum(p[1] for p in h[:-1]) / (len(h) - 1)
            best = 0
            for i, (o,) in enumerate([(p[0],) for p in polys]):
                xs = [p[0] for p in o]
                ys = [p[1] for p in o]
                if min(xs) <= hx <= max(xs) and min(ys) <= hy <= max(ys):
                    best = i
                    break
            polys[best].append(h)
        wkt = "MULTIPOLYGON (" + ",".join(
            "(" + ",".join(_ls_wkt(r) for r in pp) + ")" for pp in polys
        ) + ")"
        row = (
            (str(rel_id), None)
            + tuple(eff.get(a) for a in ATTRS["multipolygons"])
            + (
                other_tags_hstore(eff, ATTRS["multipolygons"], {"area"}),
                wkt,
            )
        )
        return pd.DataFrame([row], columns=[f.name for f in mp_schema.fields])

    rel_polys = rel_way_join(mp_rels).groupBy("rel_id").applyInPandas(
        assemble_mp, mp_schema
    )

    # standalone closed-area ways not consumed by a multipolygon relation
    consumed = (
        mp_rels.select(F.explode("members").alias("m"))
        .filter(F.col("m.mtype") == 1)
        .select(F.col("m.ref").alias("way_id"))
        .distinct()
    )
    standalone = way_geo.join(consumed, "way_id", "left_anti")

    def emit_way_polys(batches):
        for b in batches:
            rows = []
            for wid, coords, closed, tags in zip(
                b["way_id"], b["coords"], b["closed"], b["tags"]
            ):
                tags = dict(tags) if tags is not None else {}
                if not bool(closed) or not tags or not _significant(tags):
                    continue
                if not is_closed_way_polygon(tags):
                    continue
                wkt = "MULTIPOLYGON ((" + _ls_wkt(coords) + "))"
                rows.append(
                    (None, str(wid))
                    + tuple(tags.get(a) for a in ATTRS["multipolygons"])
                    + (
                        other_tags_hstore(tags, ATTRS["multipolygons"], {"area"}),
                        wkt,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in mp_schema.fields])

    way_polys = standalone.mapInPandas(emit_way_polys, mp_schema)
    multipolygons = rel_polys.unionByName(way_polys)

    # -- multilinestrings ----------------------------------------------------
    ml_schema = T.StructType(
        [T.StructField("osm_id", T.StringType())]
        + [T.StructField(a, T.StringType()) for a in ATTRS["multilinestrings"]]
        + [T.StructField("other_tags", T.StringType()),
           T.StructField("wkt", T.StringType())]
    )

    def assemble_ml(key, pdf):
        rel_id = int(key[0])
        tags = dict(pdf["tags"].iloc[0])
        pdf = pdf.sort_values("mpos")
        parts = [
            _ls_wkt([tuple(c) for c in r["w_coords"]])
            for _, r in pdf.iterrows()
        ]
        wkt = "MULTILINESTRING (" + ",".join(parts) + ")"
        row = (
            (str(rel_id),)
            + tuple(tags.get(a) for a in ATTRS["multilinestrings"])
            + (
                other_tags_hstore(tags, ATTRS["multilinestrings"], {"area"}),
                wkt,
            )
        )
        return pd.DataFrame([row], columns=[f.name for f in ml_schema.fields])

    multilinestrings = rel_way_join(ml_rels).groupBy("rel_id").applyInPandas(
        assemble_ml, ml_schema
    )

    # -- other_relations -----------------------------------------------------
    node_pts = nodes.select(
        F.col("id").alias("nid"), "lon", "lat"
    )
    orx = other_rels.select(
        F.col("id").alias("rel_id"), "tags",
        F.posexplode("members").alias("mpos", "m"),
    )
    or_ways = orx.filter(F.col("m.mtype") == 1).join(
        way_geo.select("way_id", F.col("coords").alias("w_coords")),
        orx["m.ref"] == F.col("way_id"),
    ).select(
        "rel_id", "tags", "mpos",
        F.expr("'LINESTRING ' ").alias("_k"),
        F.col("w_coords").alias("coords"),
    )
    or_nodes = orx.filter(F.col("m.mtype") == 0).join(
        node_pts, orx["m.ref"] == F.col("nid")
    ).select(
        "rel_id", "tags", "mpos",
        F.expr("'POINT '").alias("_k"),
        F.array(F.array("lon", "lat")).alias("coords"),
    )
    or_parts = or_nodes.unionByName(or_ways)

    def assemble_other(key, pdf):
        rel_id = int(key[0])
        tags = dict(pdf["tags"].iloc[0])
        pdf = pdf.sort_values("mpos")
        geoms = []
        for _, r in pdf.iterrows():
            coords = [tuple(c) for c in r["coords"]]
            if r["_k"].strip() == "POINT":
                geoms.append(f"POINT ({_fmt(coords[0][0])} {_fmt(coords[0][1])})")
            else:
                geoms.append("LINESTRING " + _ls_wkt(coords))
        wkt = "GEOMETRYCOLLECTION (" + ",".join(geoms) + ")"
        row = (
            (str(rel_id),)
            + tuple(tags.get(a) for a in ATTRS["other_relations"])
            + (
                other_tags_hstore(tags, ATTRS["other_relations"], {"area"}),
                wkt,
            )
        )
        return pd.DataFrame([row], columns=[f.name for f in ml_schema.fields])

    other_relations = or_parts.groupBy("rel_id").applyInPandas(
        assemble_other, ml_schema
    )

    return {
        "points": points,
        "lines": lines,
        "multipolygons": multipolygons,
        "multilinestrings": multilinestrings,
        "other_relations": other_relations,
    }


# ---------------------------------------------------------------------------
# writer (a valid OSMPBF encoder: dense nodes, delta-coded ways/relations)
# ---------------------------------------------------------------------------


def _wvar(v: int) -> bytes:
    from gdal_spark.sources.mvt import _wvarint

    return _wvarint(v)


def _zz_enc(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _pb_ld(fno: int, payload: bytes) -> bytes:
    return _wvar((fno << 3) | 2) + _wvar(len(payload)) + payload


def _pb_vi(fno: int, v: int) -> bytes:
    return _wvar(fno << 3) + _wvar(v)


def _packed(fno: int, vals: list[int]) -> bytes:
    body = b"".join(_wvar(v) for v in vals)
    return _pb_ld(fno, body)


def write_osm_pbf(path: str, nodes, ways=(), relations=()) -> None:
    """(id, lon, lat, tags) nodes / (id, refs, tags) ways /
    (id, members, tags) relations -> a single-block OSM PBF file."""
    strings = [b""]
    sidx = {b"": 0}

    def s(v: str) -> int:
        b = v.encode("utf-8")
        if b not in sidx:
            sidx[b] = len(strings)
            strings.append(b)
        return sidx[b]

    # DenseNodes
    ids, lats, lons, kv = [], [], [], []
    pid = pla = plo = 0
    for nid, lon, lat, tags in nodes:
        ilat, ilon = round(lat * 1e7), round(lon * 1e7)
        ids.append(_zz_enc(nid - pid))
        lats.append(_zz_enc(ilat - pla))
        lons.append(_zz_enc(ilon - plo))
        pid, pla, plo = nid, ilat, ilon
        for k, v in (tags or {}).items():
            kv += [s(k), s(v)]
        kv.append(0)
    dense = _packed(1, ids) + _packed(8, lats) + _packed(9, lons)
    if any(kv[:-1]) or len(nodes) != kv.count(0):
        dense += _packed(10, kv)
    group = _pb_ld(2, dense) if nodes else b""

    for wid, refs, tags in ways:
        body = _pb_vi(1, wid)
        ks, vs = [], []
        for k, v in (tags or {}).items():
            ks.append(s(k))
            vs.append(s(v))
        if ks:
            body += _packed(2, ks) + _packed(3, vs)
        drefs, prev = [], 0
        for r in refs:
            drefs.append(_zz_enc(r - prev))
            prev = r
        body += _packed(8, drefs)
        group += _pb_ld(3, body)

    for rid, members, tags in relations:
        body = _pb_vi(1, rid)
        ks, vs = [], []
        for k, v in (tags or {}).items():
            ks.append(s(k))
            vs.append(s(v))
        if ks:
            body += _packed(2, ks) + _packed(3, vs)
        roles = [s(role) for _, _, role in members]
        dmids, prev = [], 0
        for _, mid, _ in members:
            dmids.append(_zz_enc(mid - prev))
            prev = mid
        types = [t for t, _, _ in members]
        body += _packed(8, roles) + _packed(9, dmids) + _packed(10, types)
        group += _pb_ld(4, body)

    st = _pb_ld(1, b"".join(_pb_ld(1, b) for b in strings))
    block = st + _pb_ld(2, group) + _pb_vi(17, 100) + _pb_vi(19, 0) + _pb_vi(20, 0)

    def frame(btype: str, payload: bytes) -> bytes:
        raw = zlib.compress(payload)
        blob = _pb_vi(2, len(payload)) + _pb_ld(3, raw)
        bh = _pb_ld(1, btype.encode()) + _pb_vi(3, len(blob))
        return struct.pack(">i", len(bh)) + bh + blob

    header_block = _pb_ld(4, b"OsmSchema-V0.6") + _pb_ld(4, b"DenseNodes")
    with open(path, "wb") as fh:
        fh.write(frame("OSMHeader", header_block))
        fh.write(frame("OSMData", block))


# ---------------------------------------------------------------------------
# .osm XML (the reference's expat path, osm_parser.cpp XML branch)
# ---------------------------------------------------------------------------


def parse_osm_xml(data: bytes) -> dict:
    """test.osm-style XML -> the same {nodes, ways, relations} shape."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(data)
    nodes, ways, rels = [], [], []
    tmap = {"node": 0, "way": 1, "relation": 2}
    for el in root:
        tags = {t.get("k"): t.get("v") for t in el.findall("tag")}
        if el.tag == "node":
            nodes.append(
                (int(el.get("id")), float(el.get("lon")), float(el.get("lat")), tags)
            )
        elif el.tag == "way":
            refs = [int(nd.get("ref")) for nd in el.findall("nd")]
            ways.append((int(el.get("id")), refs, tags))
        elif el.tag == "relation":
            members = [
                (tmap[m.get("type")], int(m.get("ref")), m.get("role") or "")
                for m in el.findall("member")
            ]
            rels.append((int(el.get("id")), members, tags))
    return {"nodes": nodes, "ways": ways, "relations": rels}
