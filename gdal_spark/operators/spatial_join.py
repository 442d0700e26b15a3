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

Predicates:
  * center_within — image footprint center inside polygon (ray casting,
    ogrlinearring.cpp:452 semantics). The exact phase stays in the JVM:
    each polygon's non-horizontal edges become flat `_e{i}_{ylo,yhi,x1,y1,sl}`
    double columns and the crossing parity is one unrolled expression
    (`parity_predicate`) that Catalyst evaluates inside a join condition.
      - broadcast path: the driver builds the whole polygon side as ONE
        local table, a row per (polygon, covering cell) carrying the bbox
        and the flat edge slots (`_local_build_side`, cells from
        `cells.cover_cells_np`). The plan has a single BroadcastHashJoin
        over a LocalTableScan, with the envelope and the parity in its
        condition: no Generate, no broadcast job, no second join.
      - shuffle path: a pandas UDF prepares the edges on the polygon side
        (O(polygons) rows); the flat columns ride the cell join and parity
        is evaluated in the cell-join condition.
    Polygons wider than UNROLL_MAX_EDGES fall back to `pip_udf`, an
    Arrow-batched numpy kernel over the WKB, on both paths.
  * intersects    — image footprint box intersects polygon exactly
                    (box clip non-empty), Arrow-batched per distinct polygon
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
# codegen; wider polygons take pip_udf. Process-tree CPU seconds per pass,
# unrolled vs pip_udf (local[4] on a 4-vCPU host, 100k datagen images,
# 300 star polygons of K edges, passes 2-3 of two runs, results equal to
# the geom.points_in_wkb oracle):
#   K=32: broadcast  9.2-12.6 vs 7.9-8.9;  shuffle 12.0-15.4 vs  8.1-11.6
#   K=48: broadcast 10.6-16.0 vs 7.9-11.4; shuffle 16.6-19.3 vs 10.4-13.4
# pip_udf wins at both, so the cap sits at the bottom of the 32-64 range.
# Below 32 the unrolled cost is set by HotSpot's 8000-byte huge-method
# limit (a cliff at 12 edges), which this cap does not try to tune.
UNROLL_MAX_EDGES = 32

_EDGE_FIELDS = ("ylo", "yhi", "x1", "y1", "sl")


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


@pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
def edges_array_udf(wkb_col: pd.Series) -> pd.Series:
    """prepared_edges per polygon row (shuffle path)."""
    return pd.Series([prepared_edges(bytes(buf)) for buf in wkb_col])


def parity_predicate(cx: str, cy: str, n_edges: int) -> Column:
    """Crossing parity over edge slots 0..n_edges-1 as a fully-unrolled,
    branch-free codegen expression, parsed from ONE SQL string (one py4j
    call, however many edges); `cx`/`cy` are SQL expressions of the probe
    point. Half-open crossing rule of OGRLinearRing::isPointInRing
    (ogr/ogrlinearring.cpp:452-521): for a non-horizontal edge,
    (y1<=y<y2 or y2<=y<y1) == (ylo<=y<yhi), and x < x-intersection. A
    polygon with fewer edges leaves its last slots NULL: the hit is then
    NULL and the CASE yields 0."""
    bits = [
        f"CASE WHEN _e{i}_ylo <= {cy} AND {cy} < _e{i}_yhi"
        f" AND {cx} < _e{i}_x1 + ({cy} - _e{i}_y1) * _e{i}_sl THEN 1 ELSE 0 END"
        for i in range(n_edges)
    ]
    return F.expr(f"({' + '.join(bits) or '0'}) % 2 = 1")


def _per_polygon(kernel, keys: pd.Series, wkb_of, *cols: pd.Series) -> pd.Series:
    """kernel(*cols, wkb) once per distinct polygon in the Arrow batch, so
    each polygon is parsed/prepared once and probed with numpy arrays
    (prepared-geometry pattern). `wkb_of` maps a batch key to its WKB."""
    arrs = [c.to_numpy(dtype=np.float64) for c in cols]
    out = np.zeros(len(keys), dtype=bool)
    codes, uniques = pd.factorize(keys)
    for u, key in enumerate(uniques):
        m = codes == u
        out[m] = kernel(*(a[m] for a in arrs), wkb_of(key))
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def pip_udf(px: pd.Series, py: pd.Series, wkb_col: pd.Series) -> pd.Series:
    """Vectorized point-in-polygon over a WKB column."""
    return _per_polygon(geom.points_in_wkb, wkb_col, bytes, px, py)


@pandas_udf(T.BooleanType())
def box_intersects_udf(
    xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series, wkb_col: pd.Series
) -> pd.Series:
    """Exact box-polygon intersection over a WKB column
    (geom.boxes_intersect_wkb decision ladder; the per-row clip runs only
    for edge-crossing-without-containment leftovers)."""
    return _per_polygon(geom.boxes_intersect_wkb, wkb_col, bytes, xmin, ymin, xmax, ymax)


def box_intersects_by_id_udf(poly_map: dict):
    """Exact box-polygon intersection keyed by polygon id — polygons ship
    ONCE per worker in the UDF closure (the dimension is already
    driver-collected for the broadcast join)."""

    @pandas_udf(T.BooleanType())
    def fn(
        xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series,
        pid: pd.Series,
    ) -> pd.Series:
        return _per_polygon(
            geom.boxes_intersect_wkb, pid, lambda k: poly_map[int(k)],
            xmin, ymin, xmax, ymax,
        )

    return fn


def _local_build_side(
    polygons: DataFrame,
    res: int,
    predicate: str,
    poly_key: str,
    poly_bbox: tuple[str, str, str, str],
    keep_wkb: bool,
) -> tuple[DataFrame, int, dict]:
    """The broadcast path's polygon side, made on the driver as ONE local
    table: a row per (polygon, covering cell) with the polygon's columns,
    its `cell` (C.cover_cells_np) and, for center_within, its prepared
    edges in the flat `_e{i}_*` slots, NULL past its last edge. One
    createDataFrame call; Spark broadcasts it from a LocalTableScan, with
    no job. `wkb` rides only for the pip_udf fallback or keep_wkb.

    Returns the table, the unrolled edge count and {poly key: wkb}."""
    # collect(), not toArrow(): a local polygon relation collects with no job
    rows = polygons.collect()

    def col(name):
        return [r[name] for r in rows]

    wkbs = [bytes(b) for b in col("wkb")]
    poly_map = dict(zip(col(poly_key), wkbs))
    row, cells = C.cover_cells_np(
        *(np.array(col(c), dtype=np.float64) for c in poly_bbox), res)

    n_edges, edges = 0, []
    if predicate == "center_within":
        edges = [prepared_edges(buf) for buf in wkbs]
        n_edges = max(map(len, edges), default=0)
    fields = [f for f in polygons.schema.fields
              if f.name != "wkb" or keep_wkb or n_edges > UNROLL_MAX_EDGES]
    cols = {f.name: pa.array(col(f.name), to_arrow_type(f.dataType)).take(row)
            for f in fields}
    fields.append(T.StructField("cell", T.LongType(), False))
    cols["cell"] = cells
    if 0 < n_edges <= UNROLL_MAX_EDGES:
        slots = np.zeros((len(edges), n_edges, len(_EDGE_FIELDS)))
        for p, es in enumerate(edges):
            if es:
                slots[p, : len(es)] = es
        slots, live = slots[row], np.array([len(es) for es in edges])[row]
        for i in range(n_edges):
            for j, f in enumerate(_EDGE_FIELDS):
                cols[f"_e{i}_{f}"] = pa.array(slots[:, i, j], mask=live <= i)
                fields.append(T.StructField(f"_e{i}_{f}", T.DoubleType()))
    spark = polygons.sparkSession
    return spark.createDataFrame(pa.table(cols), T.StructType(fields)), n_edges, poly_map


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
    if predicate == "center_within":
        lc = left.withColumn("cell", C.lonlat_cell(cx, cy, res))
    else:
        lc = C.with_footprint_cells(left, res, *left_bbox)

    salted = salt > 1 and not broadcast_polygons
    poly_map: dict | None = None
    if broadcast_polygons:
        # the polygon dim is driver-sized anyway: cells, edges and the
        # exact-kernel closure are prepared once on the driver
        pc, n_edges, poly_map = _local_build_side(
            polygons, res, predicate, poly_key, poly_bbox, keep_wkb)
        cand = lc.join(F.broadcast(pc), on="cell")
        fallback = n_edges > UNROLL_MAX_EDGES
    else:
        n_edges = 0
        if predicate == "center_within":
            # edges prepared once per polygon row; one cheap agg over the
            # polygon side sizes the unrolled expression
            polygons = polygons.withColumn("edges", edges_array_udf(F.col("wkb")))
            n_edges = int(polygons.select(F.max(F.size("edges"))).first()[0] or 0)
        fallback = n_edges > UNROLL_MAX_EDGES
        if fallback:
            # pip_udf reads the WKB
            polygons = polygons.drop("edges")
        elif predicate == "center_within":
            # Flatten the prepared edges to SCALAR double columns on the
            # polygon side BEFORE the pair explosion. A condition over
            # array<array<double>> re-extracts ~5*n_edges nested elements
            # per CANDIDATE PAIR, measured 4x slower end-to-end
            # (BENCH/SKEW.md fixture). F.get past the array end is NULL: a
            # NULL slot.
            flat = [
                F.get(F.col("edges"), i).getItem(j).alias(f"_e{i}_{f}")
                for i in range(n_edges)
                for j, f in enumerate(_EDGE_FIELDS)
            ]
            keep = [c for c in polygons.columns
                    if c != "edges" and (keep_wkb or c != "wkb")]
            polygons = polygons.select(*keep, *flat)
        pc = C.with_footprint_cells(polygons, res, *poly_bbox)
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
    if predicate == "center_within":
        if fallback:
            # polygons too wide to unroll: Arrow-batched numpy kernel
            cand = cand.filter(pip_udf(cx, cy, F.col("wkb")))
            if not keep_wkb:
                cand = cand.drop("wkb")
        else:
            names = [f"_e{i}_{f}" for i in range(n_edges) for f in _EDGE_FIELDS]
            cand = cand.filter(parity_predicate(cx_sql, cy_sql, n_edges)).drop(*names)
    else:
        # reference-point dedup BEFORE the exact kernel: evaluate the UDF
        # once per pair, not once per shared cell
        ref_cell = C.lonlat_cell(F.greatest(lx0, px0), F.greatest(ly0, py0), res)
        cand = cand.filter(F.col("cell") == ref_cell)
        if poly_map is not None:
            exact = box_intersects_by_id_udf(poly_map)(lx0, ly0, lx1, ly1, F.col(poly_key))
        else:
            exact = box_intersects_udf(lx0, ly0, lx1, ly1, F.col("wkb"))
        cand = cand.filter(exact)

    return cand.drop("cell", *(["_salt"] if salted else []))


def count_per_polygon(joined: DataFrame, poly_key: str = "poly_id") -> DataFrame:
    return joined.groupBy(poly_key).agg(F.count(F.lit(1)).alias("n_images"))
