"""Cell-partitioned spatial join — the flagship operator.

Re-expresses OGR layer-algebra Intersection (ogr/ogrsf_frmts/generic/
ogrlayer.cpp:5385) for the 100 TB regime:

  GDAL (single node)                    gdal_spark (cluster)
  ------------------------------------  --------------------------------
  nested loop over input layer          cell equi-join (shuffle or
                                        broadcast on the packed cell key)
  envelope pre-filter on method extent  bbox column conjunction in the
  (ogrlayer.cpp:4004)                   join condition (Catalyst-visible)
  prepared geometries per filter        edges prepared ONCE per polygon
  (ogrlayer.cpp:3919)                   (prepared_edges), probed by an
                                        unrolled codegen parity expression
  -                                     pair dedup (same pair found in many
                                        cells) via the REFERENCE-POINT rule
                                        (keep the pair only in the one cell
                                        containing the intersection-bbox
                                        corner) — a filter, not a shuffle
  -                                     skew: hot cells salted S ways +
                                        AQE skew-join as backstop

One polygon build side, whichever join runs (`_build_side`): a row per
(polygon, covering cell) with the polygon's columns, its `cell`
(`cells.cover_cells_np`) and, for center_within, its prepared edges in
flat `_e{i}_{ylo,yhi,x1,y1,sl}` double slots. Past its last edge every
slot holds SENTINEL_EDGE, which no probe crosses, so the slots are
non-nullable and the join condition reads them with no null checks.
Broadcast or shuffle only decides where that table is built:
  - broadcast: once on the driver, from the collected polygons, into one
    createDataFrame; the plan is one BroadcastHashJoin over a
    LocalTableScan (no Generate, no broadcast job, no second join).
  - shuffle: per Arrow batch in one `mapInArrow` over the polygons, after
    one aggregate over them has sized the edge slots.
Either way the envelope and the exact kernel are filters that Catalyst
evaluates in the cell join's condition where it can.

Predicates:
  * center_within — image footprint center inside polygon (ray casting,
    ogrlinearring.cpp:452 semantics), kept in the JVM: the crossing
    parity over the edge slots is one unrolled expression
    (`parity_predicate`). Polygons wider than UNROLL_MAX_EDGES get no
    slots and fall back to `pip_udf`, an Arrow-batched numpy kernel over
    the WKB.
  * intersects    — image footprint box intersects polygon exactly (box
    clip non-empty): `box_intersects_udf` over the WKB, Arrow-batched per
    distinct polygon.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_type

from gdal_spark.functions import cells as C
from gdal_spark.functions import geom
from gdal_spark.functions import wkb as W

# Widest polygon, in non-horizontal edges, whose parity is unrolled into
# codegen; wider polygons take pip_udf. Process-tree CPU seconds per warm
# pass on the broadcast path, unrolled vs pip_udf (local[4] on a 4-vCPU
# host, 100k datagen images, 300 star polygons of K edges at res 6,
# passes 3-5 of two runs, results equal to the geom.points_in_wkb oracle):
#   K=11: 3.4-5.0;   K=12: 3.4-5.0 vs 5.8-6.9
#   K=13-16: 16.6-21.4 (one run each);   K=20-24: 5.8-6.9 (one run each)
#   K=32: 6.8-7.4 vs 7.0-8.2;   K=48 (one run): 8.5-10.1 vs 8.0-9.5
# The two are level at 32 and pip_udf leads at 48, so the cap stays at 32.
# Below it, unrolled costs 4-5x as much at 13-16 edges as at 12 or 20-24
# (the window of HotSpot's 8000-byte huge-method limit), which this cap
# does not try to tune.
UNROLL_MAX_EDGES = 32

_EDGE_FIELDS = ("ylo", "yhi", "x1", "y1", "sl")
# (ylo, yhi, x1, y1, sl) of every slot past a polygon's last edge. Spark
# orders -inf below every double and NaN above every double, so the hit's
# `cy < -inf` is false for finite, +-inf and NaN cy alike, and a NULL cy
# makes the CASE yield 0: the sentinel never counts, for any probe.
SENTINEL_EDGE = (np.inf, -np.inf, 0.0, 0.0, 0.0)


def prepared_edges(buf: bytes) -> list[list[float]]:
    """Polygon/MultiPolygon WKB -> [[ylo, yhi, x1, y1, slope], ...] for
    every NON-HORIZONTAL ring edge (horizontal edges never satisfy the
    half-open crossing rule), exteriors and holes together: even-odd
    parity over the union of ring edges IS point-in-polygon-with-holes.
    Slope and the y-interval are precomputed so the per-probe test is
    3 comparisons + 1 fma."""
    edges = []
    for rings in W.polygon_rings(buf):
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            if not np.array_equal(r[0], r[-1]):
                r = np.vstack([r, r[:1]])
            for (x1, y1), (x2, y2) in zip(r[:-1].tolist(), r[1:].tolist()):
                if y1 != y2:
                    edges.append(
                        [min(y1, y2), max(y1, y2), x1, y1, (x2 - x1) / (y2 - y1)]
                    )
    return edges


@pandas_udf(T.LongType())
def edge_count_udf(wkb_col: pd.Series) -> pd.Series:
    """len(prepared_edges) per polygon row: sizes the shuffle path's slots."""
    return wkb_col.map(lambda buf: len(prepared_edges(bytes(buf))))


def parity_predicate(cx: str, cy: str, n_edges: int) -> Column:
    """Crossing parity over edge slots 0..n_edges-1 as a fully-unrolled,
    branch-free codegen expression, parsed from ONE SQL string (one py4j
    call, however many edges); `cx`/`cy` are SQL expressions of the probe
    point. Half-open crossing rule of OGRLinearRing::isPointInRing
    (ogr/ogrlinearring.cpp:452-521): for a non-horizontal edge,
    (y1<=y<y2 or y2<=y<y1) == (ylo<=y<yhi), and x < x-intersection. A
    polygon with fewer edges has SENTINEL_EDGE in its last slots: `cy <
    -inf` is false for every cy, so the CASE yields 0."""
    bits = [
        f"CASE WHEN _e{i}_ylo <= {cy} AND {cy} < _e{i}_yhi"
        f" AND {cx} < _e{i}_x1 + ({cy} - _e{i}_y1) * _e{i}_sl THEN 1 ELSE 0 END"
        for i in range(n_edges)
    ]
    return F.expr(f"({' + '.join(bits) or '0'}) % 2 = 1")


def _per_polygon(kernel, wkb_col: pd.Series, *cols: pd.Series) -> pd.Series:
    """kernel(*cols, wkb) once per distinct polygon in the Arrow batch, so
    each polygon is parsed/prepared once and probed with numpy arrays
    (prepared-geometry pattern)."""
    arrs = [c.to_numpy(dtype=np.float64) for c in cols]
    out = np.zeros(len(wkb_col), dtype=bool)
    codes, uniques = pd.factorize(wkb_col)
    for u, buf in enumerate(uniques):
        m = codes == u
        out[m] = kernel(*(a[m] for a in arrs), bytes(buf))
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def pip_udf(px: pd.Series, py: pd.Series, wkb_col: pd.Series) -> pd.Series:
    """Vectorized point-in-polygon over a WKB column."""
    return _per_polygon(geom.points_in_wkb, wkb_col, px, py)


@pandas_udf(T.BooleanType())
def box_intersects_udf(
    xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series, wkb_col: pd.Series
) -> pd.Series:
    """Exact box-polygon intersection over a WKB column
    (geom.boxes_intersect_wkb decision ladder; the per-row clip runs only
    for edge-crossing-without-containment leftovers)."""
    return _per_polygon(geom.boxes_intersect_wkb, wkb_col, xmin, ymin, xmax, ymax)


def _build_side(
    polys: pa.Table,
    res: int,
    poly_bbox: tuple[str, str, str, str],
    keep: list[str],
    n_slots: int,
    edges: list[list[list[float]]] | None = None,
) -> pa.Table:
    """The polygon side of the cell join, on both paths: a row per
    (polygon, covering cell) with the `keep` columns of `polys`, its
    `cell` (C.cover_cells_np) and, when n_slots > 0, its prepared edges in
    the flat `_e{i}_*` slots 0..n_slots-1, SENTINEL_EDGE past its last
    edge. `edges` are the polygons' prepared_edges if the caller has them;
    otherwise they are prepared from `polys["wkb"]`."""
    row, cells = C.cover_cells_np(*(polys[c].to_numpy() for c in poly_bbox), res)
    cols = {c: polys[c].take(row) for c in keep}
    cols["cell"] = cells
    if n_slots:
        if edges is None:
            edges = [prepared_edges(buf) for buf in polys["wkb"].to_pylist()]
        slots = np.tile(SENTINEL_EDGE, (len(edges), n_slots, 1))
        for p, es in enumerate(edges):
            if es:
                slots[p, : len(es)] = es
        slots = slots[row]
        for i in range(n_slots):
            for j, f in enumerate(_EDGE_FIELDS):
                cols[f"_e{i}_{f}"] = pa.array(slots[:, i, j])
    return pa.table(cols)


def spatial_join(
    left: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    predicate: str = "center_within",
    left_bbox: tuple[str, str, str, str] = ("lon_min", "lat_min", "lon_max", "lat_max"),
    poly_bbox: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    left_key: str = "image_id",
    poly_key: str = "poly_id",
    broadcast_polygons: bool = False,
    salt: int = 0,
    carry: list[str] | None = None,
    keep_wkb: bool = False,
) -> DataFrame:
    """Join `left` rows (bbox'd) to polygons (wkb + bbox) they hit.

    Returns left rows + matching polygon columns (inner, 1:N across
    polygons, each pair exactly once).

    broadcast_polygons: True = force broadcast (dims <= ~64MB: no shuffle
    at all; the driver builds the polygon side once, as one local table);
    False = no hint — the cell join is planned as a shuffle join,
    optionally salted `salt` ways for hot cells, though Catalyst/AQE may
    still broadcast the polygon side when it is under
    spark.sql.autoBroadcastJoinThreshold.

    Exactly-once pairs WITHOUT a dedup shuffle:
      * center_within probes a point, which lies in exactly one cell —
        the left side is keyed by that single cell (no explode at all).
      * intersects explodes the left bbox, and a pair discovered in many
        shared cells is kept only in the cell containing the lower-left
        corner of the two bboxes' intersection (a point both cover sets
        contain) — the standard reference-point rule, evaluated as a
        Catalyst column filter instead of dropDuplicates.
    Either way a polygon has each cell at most once on the build side.
    """
    if predicate not in ("center_within", "intersects"):
        raise ValueError(f"unknown predicate {predicate!r}")
    if carry is not None:
        # prune to keys + bbox + requested pass-throughs BEFORE the join:
        # every column kept here rides every candidate pair
        left = left.select(*dict.fromkeys([left_key, *left_bbox, *carry]))
        polygons = polygons.select(*dict.fromkeys([poly_key, *poly_bbox, "wkb"]))

    lx0, ly0, lx1, ly1 = (F.col(c) for c in left_bbox)
    # the probe point as SQL, for the one-string parity expression
    cx_sql, cy_sql = (f"((`{a}` + `{b}`) / 2.0D)"
                      for a, b in (left_bbox[0::2], left_bbox[1::2]))
    cx, cy = F.expr(cx_sql), F.expr(cy_sql)
    center = predicate == "center_within"
    if center:
        lc = left.withColumn("cell", C.lonlat_cell(cx, cy, res))
    else:
        lc = C.with_footprint_cells(left, res, *left_bbox)

    # edges are prepared once per polygon; their widest count sizes the slots
    edges = None
    if broadcast_polygons:
        # collect(), not toArrow(): a local polygon relation collects with no job
        rows = polygons.collect()
        edges = [prepared_edges(bytes(r["wkb"])) for r in rows] if center else []
        n_edges = max(map(len, edges), default=0)
    elif center:
        n_edges = int(polygons.select(F.max(edge_count_udf("wkb"))).first()[0] or 0)
    else:
        n_edges = 0
    fallback = n_edges > UNROLL_MAX_EDGES
    n_slots = 0 if fallback else n_edges
    # wkb rides the join only for a kernel that reads it, or on request
    wkb_rides = not center or fallback or keep_wkb
    fields = [f for f in polygons.schema.fields if f.name != "wkb" or wkb_rides]
    keep = [f.name for f in fields]
    schema = T.StructType([
        *fields, T.StructField("cell", T.LongType(), False),
        *(T.StructField(f"_e{i}_{f}", T.DoubleType(), False)
          for i in range(n_slots) for f in _EDGE_FIELDS),
    ])

    salted = salt > 1 and not broadcast_polygons
    if broadcast_polygons:
        polys = pa.table({f.name: pa.array([r[f.name] for r in rows],
                                           to_arrow_type(f.dataType))
                          for f in fields})
        pc = polygons.sparkSession.createDataFrame(
            _build_side(polys, res, poly_bbox, keep, n_slots, edges), schema)
        cand = lc.join(F.broadcast(pc), on="cell")
    else:
        def build(batches):
            for b in batches:
                yield from _build_side(pa.Table.from_batches([b]), res, poly_bbox,
                                       keep, n_slots).to_batches()

        pc = polygons.mapInArrow(build, schema)
        join_keys = ["cell"]
        if salted:
            # replicate each polygon-cell row `salt` ways; probes pick one slot
            pc = pc.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
            lc = lc.withColumn("_salt", F.pmod(F.xxhash64(F.col(left_key)), F.lit(salt)))
            join_keys.append("_salt")
        cand = lc.join(pc, on=join_keys, how="inner")

    # phase 1: envelope conjunction (Catalyst-visible, codegen'd)
    px0, py0, px1, py1 = (F.col(c) for c in poly_bbox)
    cand = cand.filter((lx0 <= px1) & (px0 <= lx1) & (ly0 <= py1) & (py0 <= ly1))

    # phase 2: exact kernel; Catalyst moves a codegen'd filter into the
    # cell join's condition
    if not center:
        # reference-point dedup BEFORE the exact kernel: evaluate the UDF
        # once per pair, not once per shared cell
        ref_cell = C.lonlat_cell(F.greatest(lx0, px0), F.greatest(ly0, py0), res)
        cand = cand.filter(F.col("cell") == ref_cell)
        cand = cand.filter(box_intersects_udf(lx0, ly0, lx1, ly1, F.col("wkb")))
    elif fallback:
        # polygons too wide to unroll: Arrow-batched numpy kernel
        cand = cand.filter(pip_udf(cx, cy, F.col("wkb")))
    else:
        cand = cand.filter(parity_predicate(cx_sql, cy_sql, n_slots))

    hidden = schema.names[len(keep):] + (["_salt"] if salted else [])
    return cand.drop(*hidden, *([] if keep_wkb or not wkb_rides else ["wkb"]))


def count_per_polygon(joined: DataFrame, poly_key: str = "poly_id") -> DataFrame:
    return joined.groupBy(poly_key).agg(F.count(F.lit(1)).alias("n_images"))
