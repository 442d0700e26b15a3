"""Gridding variants, Hilbert spatial sort, dissolve, special fields,
embedding near-dup — all with full DuckDB SQL oracles.

Reference coverage:
  * grid nearest / average / min / max / range / count — the GDALGrid
    algorithm family (alg/gdalgrid.cpp:879 nearest, :589 average,
    :1024 mindata, :1343 maxdata, :1509 range, :1808 count).
  * hilbert sort — `gdal vector sort` hilbert mode
    (apps/gdalalg_vector_sort.cpp:371, alg/hilbert.cpp:20).
  * dissolve — `gdal vector dissolve` (apps/gdalalg_vector_dissolve.cpp:
    120): the Spark side runs the real Greiner-Hormann union kernel on
    disjoint-by-construction boxes, so the SQL oracle can state the
    aggregate invariants (n_parts = count, area = sum of box areas).
  * special fields FID / OGR_GEOM_AREA (ogr/ogr_p.h:133-140): the Spark
    side computes area through WKB encode -> shoelace decode (the real
    geometry path); the oracle through box arithmetic.
  * embedding-cosine near-dup pairs (training-data pipeline op; brute
    force — the LSH-prefilter scale path is `ann_lsh_buckets`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gdal_spark.functions import hilbert as HB
from gdal_spark.ogrsql import _wkb_area
from gdal_spark.queries.spatial_sql import (
    LON_SQL,
    LAT_SQL,
    PHI_LON,
    PHI_LAT,
    _lon_lat_cols,
    box_wkb_udf,
    _lonlat_sql,
)
from gdal_spark.sources.tables import load

# --------------------------------------------------------------------------
# Grid: nearest + radius metrics (customer points -> region query points)
# --------------------------------------------------------------------------

RADIUS = 25.0


def _points(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    lon, lat = _lon_lat_cols(F.col("c_custkey"))
    z = (F.col("c_custkey").cast("double") * 7.3) % 100.0
    return c.select(
        F.col("c_custkey").alias("pt_id"), lon.alias("x"), lat.alias("y"), z.alias("z")
    )


def _queries(spark, sf_dir):
    r = load(spark, sf_dir, "region")
    return r.select(
        F.col("r_regionkey").alias("query_id"),
        (F.lit(-100.0) + F.col("r_regionkey") * 40.0).alias("qx"),
        (F.lit(-60.0) + F.col("r_regionkey") * 30.0).alias("qy"),
    )


_PTS_SQL = """
    SELECT c_custkey AS pt_id, {lon} AS x, {lat} AS y,
           fmod(cast(c_custkey as double) * 7.3, 100.0) AS z
    FROM customer
"""

_QS_SQL = """
    SELECT r_regionkey AS query_id,
           -100.0 + r_regionkey * 40.0 AS qx,
           -60.0 + r_regionkey * 30.0 AS qy
    FROM region
"""


def _pts_sql() -> str:
    lon, lat = _lonlat_sql("c_custkey")
    return _PTS_SQL.format(lon=lon, lat=lat)


def grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGridNearestNeighbor (alg/gdalgrid.cpp:879): value of the single
    nearest data point at each query node."""
    from gdal_spark.operators import knn as KNN

    nn = KNN.knn_join_broadcast(_points(spark, sf_dir), _queries(spark, sf_dir), k=1)
    return nn.select(
        "query_id",
        F.round("z", 4).alias("nn_z"),
        F.round(F.sqrt("dist2"), 4).alias("nn_dist"),
    )


def _grid_nearest_oracle() -> str:
    return f"""
        WITH pts AS ({_pts_sql()}), qs AS ({_QS_SQL}),
        cand AS (
            SELECT q.query_id, p.z,
                   (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) AS dist2,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) ASC,
                              p.pt_id ASC
                   ) AS rnk
            FROM qs q CROSS JOIN pts p)
        SELECT query_id, round(z, 4) AS nn_z, round(sqrt(dist2), 4) AS nn_dist
        FROM cand WHERE rnk = 1
    """


def knn_topk_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path kNN: k-ring cell-expansion JOIN (no broadcast cross
    probe) — alg/gdalgrid.cpp:257 quadtree AOI search restated as a cell
    equi-join. res=4/ring=2 guarantees >=45 deg of coverage around each
    query, far beyond the 3rd-neighbor distance at every test SF, so results equal
    the exact broadcast path and share its oracle."""
    from gdal_spark.operators import knn as KNN

    pts = _points(spark, sf_dir).drop("z")
    nn = KNN.knn_join_cells(pts, _queries(spark, sf_dir), k=3, res=4, ring=2)
    return nn.select(
        "query_id", "rank", "pt_id", F.round("dist2", 4).alias("dist2_r")
    )


def _knn_cells_oracle() -> str:
    return f"""
        WITH pts AS ({_pts_sql()}), qs AS ({_QS_SQL}),
        cand AS (
            SELECT q.query_id, p.pt_id,
                   (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) AS dist2,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) ASC,
                              p.pt_id ASC
                   ) AS rank
            FROM pts p CROSS JOIN qs q)
        SELECT query_id, rank, pt_id, round(dist2, 4) AS dist2_r
        FROM cand WHERE rank <= 3
    """


def grid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'data metrics' GDALGrid family within a search radius:
    average (:589), mindata (:1024), maxdata (:1343), range (:1509),
    count (:1808) — one radius join feeding five aggregates."""
    pts = _points(spark, sf_dir)
    qs = _queries(spark, sf_dir)
    d2 = (F.col("qx") - F.col("x")) ** 2 + (F.col("qy") - F.col("y")) ** 2
    cand = pts.crossJoin(F.broadcast(qs)).filter(d2 <= F.lit(RADIUS * RADIUS))
    return cand.groupBy("query_id").agg(
        F.round(F.avg("z"), 4).alias("g_avg"),
        F.round(F.min("z"), 4).alias("g_min"),
        F.round(F.max("z"), 4).alias("g_max"),
        F.round(F.max("z") - F.min("z"), 4).alias("g_range"),
        F.count(F.lit(1)).alias("g_count"),
    )


def _grid_metrics_oracle() -> str:
    return f"""
        WITH pts AS ({_pts_sql()}), qs AS ({_QS_SQL})
        SELECT q.query_id,
               round(avg(p.z), 4) AS g_avg,
               round(min(p.z), 4) AS g_min,
               round(max(p.z), 4) AS g_max,
               round(max(p.z) - min(p.z), 4) AS g_range,
               count(*) AS g_count
        FROM qs q JOIN pts p
          ON (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y)
             <= {RADIUS * RADIUS!r}
        GROUP BY q.query_id
    """


# --------------------------------------------------------------------------
# Hilbert spatial sort
# --------------------------------------------------------------------------

_DOMAIN = (-180.0, 360.0, -85.0, 170.0)  # xmin, xextent, ymin, yextent


def hilbert_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdal vector sort --by hilbert`: order events along the 16-bit
    Hilbert curve over the world envelope; rank column makes the ordering
    value-checkable under the driver's order-insensitive hash."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    lon, lat = _lon_lat_cols(F.col("event_id"))
    xmin, xext, ymin, yext = _DOMAIN
    x = F.round(F.lit(HB.HILBERT_MAX) * (lon - F.lit(xmin)) / F.lit(xext)).cast("long")
    y = F.round(F.lit(HB.HILBERT_MAX) * (lat - F.lit(ymin)) / F.lit(yext)).cast("long")
    coded = HB.with_hilbert_code(
        e.select("event_id", x.alias("sx"), y.alias("sy")), "sx", "sy"
    ).drop("sx", "sy")
    # Top-200 first via orderBy+limit (plans as TakeOrderedAndProject: each
    # task keeps a 200-row heap, no global sort/shuffle), THEN rank only the
    # 200 survivors. The window is bounded at 200 rows by construction, so
    # the single-partition rank step is O(limit) at any input scale — never
    # an unbounded global Window over the full table.
    top = coded.orderBy(F.col("hcode").asc(), F.col("event_id").asc()).limit(200)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("hcode").asc(), F.col("event_id").asc()
    )
    return top.withColumn("hrank", F.row_number().over(w))


def _hilbert_oracle() -> str:
    lon, lat = _lonlat_sql("event_id")
    xmin, xext, ymin, yext = _DOMAIN
    xs = f"cast(round({HB.HILBERT_MAX} * (({lon}) - ({xmin!r})) / ({xext!r})) as bigint)"
    ys = f"cast(round({HB.HILBERT_MAX} * (({lat}) - ({ymin!r})) / ({yext!r})) as bigint)"
    return f"""
        WITH coded AS (SELECT event_id, {HB.hilbert_select_sql(xs, ys)} FROM events)
        SELECT event_id, hcode,
               row_number() OVER (ORDER BY hcode ASC, event_id ASC) AS hrank
        FROM coded QUALIFY hrank <= 200
    """


# --------------------------------------------------------------------------
# Dissolve (disjoint-by-construction boxes -> SQL-checkable invariants)
# --------------------------------------------------------------------------


# disjoint grid: cell (k mod 10, k div 10) * 20, box size <= 12 < 20
_BOX_COLS = """
    cast(n_nationkey % 10 as double) * 20.0 AS bx,
    cast(n_nationkey // 10 as double) * 20.0 AS by,
    6.0 + cast(n_nationkey % 13 as double) / 2.0 AS bw,
    4.0 + cast(n_nationkey % 17 as double) / 4.0 AS bh
"""


def dissolve_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve disjoint nation boxes by region key through the REAL
    union kernel; invariants (n_parts = count, area = sum wh) are exact
    because the boxes cannot interact."""
    from gdal_spark.operators.dissolve import dissolve

    n = load(spark, sf_dir, "nation")
    bx = (F.col("n_nationkey") % 10).cast("double") * 20.0
    by = F.floor(F.col("n_nationkey") / 10).cast("double") * 20.0
    bw = F.lit(6.0) + (F.col("n_nationkey") % 13).cast("double") / 2.0
    bh = F.lit(4.0) + (F.col("n_nationkey") % 17).cast("double") / 4.0
    boxes = n.select(
        F.col("n_regionkey").alias("rkey"),
        box_wkb_udf(bx, by, bx + bw, by + bh).alias("wkb"),
    )
    out = dissolve(boxes, ["rkey"])
    return out.select("rkey", "n_parts", F.round("area", 4).alias("area_r"))


_DISSOLVE_ORACLE = f"""
    WITH boxes AS (SELECT n_regionkey AS rkey, {_BOX_COLS} FROM nation)
    SELECT rkey, cast(count(*) as int) AS n_parts,
           round(sum(bw * bh), 4) AS area_r
    FROM boxes GROUP BY rkey
"""


# --------------------------------------------------------------------------
# OGR special fields: FID + OGR_GEOM_AREA (ogr/ogr_p.h:133-140)
# --------------------------------------------------------------------------


def ogr_special_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT FID, OGR_GEOM_AREA ... : FID carried as data (stable ids,
    not monotonically_increasing_id), area computed through the real
    WKB encode -> shoelace path."""
    n = load(spark, sf_dir, "nation")
    bx = (F.col("n_nationkey") % 10).cast("double") * 20.0
    by = F.floor(F.col("n_nationkey") / 10).cast("double") * 20.0
    bw = F.lit(6.0) + (F.col("n_nationkey") % 13).cast("double") / 2.0
    bh = F.lit(4.0) + (F.col("n_nationkey") % 17).cast("double") / 4.0
    boxes = n.select(
        F.col("n_nationkey").alias("fid"),
        F.col("n_name").alias("name"),
        box_wkb_udf(bx, by, bx + bw, by + bh).alias("wkb"),
    )
    return boxes.select(
        "fid", "name", F.round(_wkb_area("wkb"), 6).alias("ogr_geom_area")
    )


_SPECIAL_FIELDS_ORACLE = f"""
    WITH boxes AS (SELECT n_nationkey AS fid, n_name AS name, {_BOX_COLS} FROM nation)
    SELECT fid, name, round(bw * bh, 6) AS ogr_geom_area FROM boxes
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (brute force; LSH is the scale path)
# --------------------------------------------------------------------------

_COS_THRESH = 0.4


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force all-pairs cosine near-dup — the ORACLE BASELINE only,
    run at small sf to validate the LSH scale path. The production path is
    ``dedup_embedding_lsh`` (similarity.py): band-bucket candidate join,
    zero crossJoin. This one is intentionally O(N^2) and excluded from
    bench.py and from any scale claim."""
    from gdal_spark.queries.similarity import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    a = base.alias("a")
    b = base.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _COS_THRESH)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos", 4).alias("cos_r"),
        )
    )


_DEDUP_COS_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, embedding,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> cast(x as double) * cast(x as double)), 'sum')) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                    p -> cast(p[1] as double) * cast(p[2] as double)), 'sum')
               / (a.nrm * b.nrm) AS cos
        FROM base a JOIN base b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 4) AS cos_r
    FROM pairs WHERE cos >= {_COS_THRESH!r}
"""


# --------------------------------------------------------------------------
# per-quadrant IDW + average-distance data metrics (alg/gdalgrid.cpp:351
# GDALGridInverseDistanceToAPowerNearestNeighborPerQuadrant; :2125
# AverageDistance; :2419 AverageDistancePts)
# --------------------------------------------------------------------------


def grid_quadrant_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quadrant IDW (power=2): quadrant = (dx>=0) | ((dy>=0)<<1)
    relative to the node (alg/gdalgrid.cpp:406-408), keep the <=4 nearest
    per quadrant (max_points_per_quadrant), node -> nodata(-9999) unless
    every quadrant contributed >=1 point (min_points_per_quadrant)."""
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    qs = _queries(spark, sf_dir)
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    d2 = dx * dx + dy * dy
    cand = (
        pts.crossJoin(F.broadcast(qs))
        .filter(d2 <= F.lit(RADIUS * RADIUS))
        .select(
            "query_id", "pt_id", "z", d2.alias("d2"),
            (
                F.when(dx >= 0, F.lit(1)).otherwise(F.lit(0))
                + F.when(dy >= 0, F.lit(2)).otherwise(F.lit(0))
            ).alias("quad"),
        )
    )
    w = Window.partitionBy("query_id", "quad").orderBy(F.col("d2").asc(), F.col("pt_id").asc())
    kept = cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 4)
    agg = kept.groupBy("query_id").agg(
        (F.sum(F.col("z") / F.col("d2")) / F.sum(F.lit(1.0) / F.col("d2"))).alias("idw"),
        F.count(F.lit(1)).alias("n_used"),
        F.countDistinct("quad").alias("n_quads"),
    )
    return agg.select(
        "query_id",
        F.round(
            F.when(F.col("n_quads") == 4, F.col("idw")).otherwise(F.lit(-9999.0)), 4
        ).alias("idw_q"),
        "n_used",
        "n_quads",
    )


def _grid_quadrant_oracle() -> str:
    return f"""
        WITH pts AS ({{pts}}), qs AS ({_QS_SQL}),
        cand AS (
            SELECT q.query_id, p.pt_id, p.z,
                   (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS d2,
                   (CASE WHEN p.x - q.qx >= 0 THEN 1 ELSE 0 END
                    + CASE WHEN p.y - q.qy >= 0 THEN 2 ELSE 0 END) AS quad
            FROM qs q JOIN pts p
              ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
                 <= {RADIUS * RADIUS!r}),
        kept AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id, quad ORDER BY d2 ASC, pt_id ASC) AS rk
            FROM cand),
        agg AS (
            SELECT query_id,
                   sum(z / d2) / sum(1.0 / d2) AS idw,
                   count(*) AS n_used,
                   count(DISTINCT quad) AS n_quads
            FROM kept WHERE rk <= 4 GROUP BY query_id)
        SELECT query_id,
               round(CASE WHEN n_quads = 4 THEN idw ELSE -9999.0 END, 4) AS idw_q,
               n_used, n_quads
        FROM agg
    """.format(pts=_pts_sql())


def grid_avg_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-distance data metrics: node->point mean distance
    (GDALGridDataMetricAverageDistance) and mean pairwise distance among
    the points in the search circle (AverageDistancePts)."""
    pts = _points(spark, sf_dir)
    qs = _queries(spark, sf_dir)
    d2 = (F.col("qx") - F.col("x")) ** 2 + (F.col("qy") - F.col("y")) ** 2
    cand = (
        pts.crossJoin(F.broadcast(qs))
        .filter(d2 <= F.lit(RADIUS * RADIUS))
        .select("query_id", "pt_id", "x", "y", F.sqrt(d2).alias("dist"))
    )
    node_avg = cand.groupBy("query_id").agg(
        F.round(F.avg("dist"), 4).alias("avg_dist"), F.count(F.lit(1)).alias("n_pts")
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.pt_id") < F.col("b.pt_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.sqrt(
                (F.col("a.x") - F.col("b.x")) ** 2 + (F.col("a.y") - F.col("b.y")) ** 2
            ).alias("pd"),
        )
        .groupBy("query_id")
        .agg(F.round(F.avg("pd"), 4).alias("avg_dist_pts"))
    )
    return node_avg.join(pair, "query_id", "left").select(
        "query_id", "avg_dist", F.coalesce("avg_dist_pts", F.lit(0.0)).alias("avg_dist_pts"),
        "n_pts",
    )


def _grid_avgdist_oracle() -> str:
    return f"""
        WITH pts AS ({{pts}}), qs AS ({_QS_SQL}),
        cand AS (
            SELECT q.query_id, p.pt_id, p.x, p.y,
                   sqrt((q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y)) AS dist
            FROM qs q JOIN pts p
              ON (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y)
                 <= {RADIUS * RADIUS!r}),
        node AS (
            SELECT query_id, round(avg(dist), 4) AS avg_dist, count(*) AS n_pts
            FROM cand GROUP BY query_id),
        pairs AS (
            SELECT a.query_id,
                   round(avg(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))), 4)
                     AS avg_dist_pts
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.pt_id < b.pt_id
            GROUP BY a.query_id)
        SELECT n.query_id, n.avg_dist,
               coalesce(p.avg_dist_pts, 0.0) AS avg_dist_pts, n.n_pts
        FROM node n LEFT JOIN pairs p ON n.query_id = p.query_id
    """.format(pts=_pts_sql())


# --------------------------------------------------------------------------
# Linear (TIN) gridding — alg/gdalgrid.cpp GGA_Linear / alg/delaunay.c
# --------------------------------------------------------------------------


def grid_linear_tin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDALGridLinear: Delaunay TIN + barycentric interpolation
    (operators/tin.py Bowyer-Watson).  The fixture values lie on a plane
    z = 0.3x - 0.2y + 7 with the domain corners included as data points,
    so every grid node is inside the hull and linear interpolation must
    reproduce the plane EXACTLY on any valid triangulation — a strong,
    SQL-expressible oracle that IDW/nearest/average would all fail.

    Scale shape: the data points are a driver-sized dim (the per-block
    point set after the gridding halo partition); nodes partition across
    executors and each Arrow batch interpolates locally."""
    import pandas as pd

    from gdal_spark.operators import tin

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 56)
    px = (F.col("c_custkey").cast("double") * 7.77) % 100.0
    py = (F.col("c_custkey").cast("double") * 13.13) % 100.0
    pts_pdf = c.select(px.alias("x"), py.alias("y")).toPandas()
    pts = np.vstack(
        [pts_pdf[["x", "y"]].to_numpy(), [[0, 0], [100, 0], [100, 100], [0, 100]]]
    )
    vals = 0.3 * pts[:, 0] - 0.2 * pts[:, 1] + 7.0

    @pandas_udf(T.DoubleType())
    def tin_udf(gx: pd.Series, gy: pd.Series) -> pd.Series:
        out = tin.tin_interpolate(pts, vals, gx.to_numpy(), gy.to_numpy(),
                                  nodata=-9999.0)
        return pd.Series(out)

    nodes = spark.range(121).select(
        F.col("id").cast("int").alias("node_id"),
        (F.col("id") % 11).cast("double") * 10.0,
        F.floor(F.col("id") / 11).cast("double") * 10.0,
    ).toDF("node_id", "gx", "gy")
    return nodes.select(
        "node_id", "gx", "gy",
        F.round(tin_udf("gx", "gy"), 4).alias("z_lin"),
    )


_TIN_ORACLE = """
    WITH nodes AS (
        SELECT cast(i.n * 11 + j.n as int) AS node_id,
               cast(j.n as double) * 10.0 AS gx,
               cast(i.n as double) * 10.0 AS gy
        FROM generate_series(0, 10) i(n), generate_series(0, 10) j(n)
    )
    SELECT node_id, gx, gy, round(0.3 * gx - 0.2 * gy + 7.0, 4) AS z_lin
    FROM nodes
"""


# --------------------------------------------------------------------------
# invdistnn: IDW restricted to the nMaxPoints nearest neighbors inside the
# search radius, ordered by SMOOTHED distance (alg/gdalgrid.cpp:242-341
# GDALGridInverseDistanceToAPowerNearestNeighbor): w = (d2 + smoothing^2)
# ^(-power/2); node -> nodata unless n >= nMinPoints.
# --------------------------------------------------------------------------

_NN_SMOOTH2 = 1.0  # smoothing = 1.0
_NN_MAX = 8
_NN_MIN = 2


def grid_invdistnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """invdistnn, power=2 smoothing=1 max_points=8 min_points=2.

    Broadcast the (small) node table against the point cloud — same shape
    as grid_quadrant_idw; knn_join_cells is the path for large node sets.
    """
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    qs = _queries(spark, sf_dir)
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    d2 = dx * dx + dy * dy
    cand = (
        pts.crossJoin(F.broadcast(qs))
        .filter(d2 <= F.lit(RADIUS * RADIUS))
        .select(
            "query_id", "pt_id", "z", (d2 + F.lit(_NN_SMOOTH2)).alias("d2s")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2s").asc(), F.col("pt_id").asc()
    )
    kept = cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _NN_MAX
    )
    agg = kept.groupBy("query_id").agg(
        (F.sum(F.col("z") / F.col("d2s")) / F.sum(F.lit(1.0) / F.col("d2s"))).alias(
            "idw"
        ),
        F.count(F.lit(1)).alias("n_used"),
    )
    return agg.select(
        "query_id",
        F.round(
            F.when(F.col("n_used") >= _NN_MIN, F.col("idw")).otherwise(
                F.lit(-9999.0)
            ),
            4,
        ).alias("idw_nn"),
        "n_used",
    )


def _grid_invdistnn_oracle() -> str:
    return f"""
        WITH pts AS ({{pts}}), qs AS ({_QS_SQL}),
        cand AS (
            SELECT q.query_id, p.pt_id, p.z,
                   (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
                   + {_NN_SMOOTH2!r} AS d2s
            FROM qs q JOIN pts p
              ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
                 <= {RADIUS * RADIUS!r}),
        kept AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY d2s ASC, pt_id ASC) AS rk
            FROM cand),
        agg AS (
            SELECT query_id,
                   sum(z / d2s) / sum(1.0 / d2s) AS idw,
                   count(*) AS n_used
            FROM kept WHERE rk <= {_NN_MAX} GROUP BY query_id)
        SELECT query_id,
               round(CASE WHEN n_used >= {_NN_MIN} THEN idw
                          ELSE -9999.0 END, 4) AS idw_nn,
               n_used
        FROM agg
    """.format(pts=_pts_sql())


SPARK = {
    "grid_linear_tin": grid_linear_tin,
    "grid_invdistnn": grid_invdistnn,
    "grid_nearest": grid_nearest,
    "knn_topk_cells": knn_topk_cells,
    "grid_metrics": grid_metrics,
    "grid_quadrant_idw": grid_quadrant_idw,
    "grid_avg_distance": grid_avg_distance,
    "hilbert_sort": hilbert_sort,
    "dissolve_boxes": dissolve_boxes,
    "ogr_special_fields": ogr_special_fields,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLE = {
    "grid_linear_tin": _TIN_ORACLE,
    "grid_invdistnn": _grid_invdistnn_oracle(),
    "grid_nearest": _grid_nearest_oracle(),
    "knn_topk_cells": _knn_cells_oracle(),
    "grid_metrics": _grid_metrics_oracle(),
    "grid_quadrant_idw": _grid_quadrant_oracle(),
    "grid_avg_distance": _grid_avgdist_oracle(),
    "hilbert_sort": _hilbert_oracle(),
    "dissolve_boxes": _DISSOLVE_ORACLE,
    "ogr_special_fields": _SPECIAL_FIELDS_ORACLE,
    "dedup_embedding_cosine": _DEDUP_COS_ORACLE,
}
