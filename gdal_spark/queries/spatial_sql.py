"""Spatial operators with full SQL oracles.

Points/boxes are derived from the driver's TPC-H tables by closed-form
arithmetic (golden-angle multipliers -> quasi-uniform coverage), so the
DuckDB oracle can re-derive the identical inputs. The Spark side runs the
REAL engine operators (mercator Columns, spatial_join with WKB boxes,
knn_join_broadcast); the oracle re-states the math in portable SQL.

Float caveat: tile assignment needs ln/tan; JVM vs DuckDB libm can differ
in the last ulp, which only matters if a point lands within ~1e-7 px of a
tile edge — probability ~0 with irrational multipliers (verified at sf0.01).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gdal_spark.functions import mercator as M
from gdal_spark.functions import wkb as W
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.sources.tables import load

PHI_LON = 137.50776405003785
PHI_LAT = 78.61803398874989

# Dialect-common SQL fragments (floored-mod spelled out: positive operands)
LON_SQL = "(-180.0 + ({k} * {phi} - floor({k} * {phi} / 360.0) * 360.0))"
LAT_SQL = "(-85.0 + ({k} * {phi2} - floor({k} * {phi2} / 170.0) * 170.0))"


def _lon_lat_cols(key: F.Column) -> tuple[F.Column, F.Column]:
    i = key.cast("double")
    lon = F.lit(-180.0) + (i * PHI_LON - F.floor(i * PHI_LON / 360.0) * 360.0)
    lat = F.lit(-85.0) + (i * PHI_LAT - F.floor(i * PHI_LAT / 170.0) * 170.0)
    return lon, lat


def _lonlat_sql(key: str) -> tuple[str, str]:
    return (
        LON_SQL.format(k=f"cast({key} as double)", phi=repr(PHI_LON)),
        LAT_SQL.format(k=f"cast({key} as double)", phi2=repr(PHI_LAT)),
    )


# --------------------------------------------------------------------------
# Tile assignment (gdal2tiles XYZ/TMS addressing, §2.9) — z=6
# --------------------------------------------------------------------------

ZOOM = 6


def tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    lon, lat = _lon_lat_cols(F.col("event_id"))
    tx, ty = M.lonlat_to_tile(lon, lat, ZOOM)
    return (
        e.select(
            tx.alias("tx"),
            ty.alias("ty_tms"),
            M.tms_to_xyz(ty, ZOOM).alias("ty_xyz"),
            M.quadkey_num(tx, ty, ZOOM).alias("qk"),
        )
        .groupBy("tx", "ty_tms", "ty_xyz", "qk")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _tile_sql(lon: str, lat: str, zoom: int) -> dict[str, str]:
    """Portable SQL mirroring mercator.py's evaluation order/constants."""
    c_mx = repr(M.ORIGIN_SHIFT / 180.0)
    c_a = repr(3.141592653589793 / 360.0)
    c_b = repr(3.141592653589793 / 180.0)
    res = f"({M.INITIAL_RESOLUTION!r} / power(2.0, {zoom}.0))"
    mx = f"({lon} * {c_mx})"
    my = f"(ln(tan((90.0 + {lat}) * {c_a})) / {c_b} * {c_mx})"
    px = f"(({mx} + {M.ORIGIN_SHIFT!r}) / {res})"
    py = f"(({my} + {M.ORIGIN_SHIFT!r}) / {res})"
    tx = f"cast(ceil({px} / 256.0) - 1 as bigint)"
    ty = f"cast(ceil({py} / 256.0) - 1 as bigint)"
    ty_xyz = f"(cast(power(2.0, {zoom}.0) as bigint) - 1 - {ty})"
    return {"tx": tx, "ty": ty, "ty_xyz": ty_xyz}


def _quadkey_num_sql(tx: str, ty_xyz: str, zoom: int) -> str:
    acc = "0"
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = (
            f"(case when ({tx} & {mask}) <> 0 then 1 else 0 end"
            f" + case when ({ty_xyz} & {mask}) <> 0 then 2 else 0 end)"
        )
        acc = f"(({acc}) * 4 + {digit})"
    return acc


def _tile_assignment_oracle() -> str:
    lon, lat = _lonlat_sql("event_id")
    t = _tile_sql(lon, lat, ZOOM)
    qk = _quadkey_num_sql("tx", "ty_xyz", ZOOM)
    return f"""
        WITH pts AS (
            SELECT {t['tx']} AS tx, {t['ty']} AS ty_tms, {t['ty_xyz']} AS ty_xyz
            FROM events
        )
        SELECT tx, ty_tms, ty_xyz, {qk} AS qk, count(*) AS n
        FROM pts GROUP BY tx, ty_tms, ty_xyz
    """


# --------------------------------------------------------------------------
# Cell-indexed point-in-polygon join (flagship semantics, SQL-checkable
# with axis-aligned WKB boxes; concave/holed polygons are covered by the
# pytest goldens against the numpy oracle)
# --------------------------------------------------------------------------


@pandas_udf(T.BinaryType())
def box_wkb_udf(
    xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series
) -> pd.Series:
    """Axis-aligned box -> WKB POLYGON, one closed counter-clockwise ring
    starting at (xmin, ymin)."""
    return pd.Series([
        W.write_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
        for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax)
    ])


def _nation_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("double")
    xmin = F.lit(-170.0) + k * 12.8
    ymin = F.lit(-70.0) + (k * 23.7 - F.floor(k * 23.7 / 140.0) * 140.0)
    return n.select(
        F.col("n_nationkey").alias("poly_id"),
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + F.lit(6.0) + k).alias("xmax"),
        (ymin + F.lit(4.0) + k / 2.0).alias("ymax"),
    ).withColumn("wkb", box_wkb_udf("xmin", "ymin", "xmax", "ymax"))


NATION_BOX_SQL = """
    SELECT n_nationkey AS poly_id,
           -170.0 + k * 12.8 AS xmin,
           -70.0 + (k * 23.7 - floor(k * 23.7 / 140.0) * 140.0) AS ymin,
           (-170.0 + k * 12.8) + 6.0 + k AS xmax,
           (-70.0 + (k * 23.7 - floor(k * 23.7 / 140.0) * 140.0)) + 4.0 + k / 2.0 AS ymax
    FROM (SELECT n_nationkey, cast(n_nationkey as double) AS k FROM nation)
"""


def cell_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points (from lineitem keys) x nation boxes through the REAL
    cell-partitioned spatial join on its broadcast path: one local build
    table of (box, covering cell) rows, and one broadcast hash join whose
    condition holds the bbox prefilter and the exact ray-casting parity
    (codegen'd, no Python UDF)."""
    li = load(spark, sf_dir, "lineitem")
    # synthetic lineitem repeats (orderkey, linenumber) pairs -> dedup the
    # derived key so pt_id is a real key on both engines. Dedup on the ONE
    # 8-byte key column before deriving lon/lat (functions of the key): the
    # distinct shuffle then carries 8 bytes/row with map-side partial
    # aggregation instead of five doubles — the join, not the fixture dedup,
    # dominates the benchmark.
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    keys = li.select(key.alias("pt_id")).distinct()
    lon, lat = _lon_lat_cols(F.col("pt_id"))
    pts = keys.select(
        "pt_id",
        lon.alias("lon_min"),
        lat.alias("lat_min"),
        lon.alias("lon_max"),
        lat.alias("lat_max"),
    )
    boxes = _nation_boxes(spark, sf_dir)
    joined = SJ.spatial_join(
        pts,
        boxes,
        res=4,
        predicate="center_within",
        left_key="pt_id",
        poly_key="poly_id",
        broadcast_polygons=True,
    )
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))


def _cell_pip_join_oracle() -> str:
    lon, lat = _lonlat_sql("(l_orderkey * 8 + l_linenumber)")
    return f"""
        WITH pts AS (SELECT DISTINCT {lon} AS x, {lat} AS y FROM lineitem),
        boxes AS ({NATION_BOX_SQL})
        SELECT b.poly_id, count(*) AS n_points
        FROM pts p JOIN boxes b
          -- half-open box: matches ray-casting crossing rule (y1<=y<y2, x<xint)
          ON p.x >= b.xmin AND p.x < b.xmax AND p.y >= b.ymin AND p.y < b.ymax
        GROUP BY b.poly_id
    """


# --------------------------------------------------------------------------
# kNN + IDW (gdalgrid nearest/invdist semantics)
# --------------------------------------------------------------------------


def knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    lon, lat = _lon_lat_cols(F.col("c_custkey"))
    pts = c.select(F.col("c_custkey").alias("pt_id"), lon.alias("x"), lat.alias("y"))
    r = load(spark, sf_dir, "region")
    qs = r.select(
        F.col("r_regionkey").alias("query_id"),
        (F.lit(-100.0) + F.col("r_regionkey") * 40.0).alias("qx"),
        (F.lit(-60.0) + F.col("r_regionkey") * 30.0).alias("qy"),
    )
    out = KNN.knn_join_broadcast(pts, qs, k=3)
    return out.select(
        "query_id", "rank", "pt_id", F.round("dist2", 4).alias("dist2_r")
    )


def _knn_oracle() -> str:
    lon, lat = _lonlat_sql("c_custkey")
    return f"""
        WITH pts AS (SELECT c_custkey AS pt_id, {lon} AS x, {lat} AS y FROM customer),
        qs AS (SELECT r_regionkey AS query_id,
                      -100.0 + r_regionkey * 40.0 AS qx,
                      -60.0 + r_regionkey * 30.0 AS qy FROM region),
        cand AS (
            SELECT q.query_id, p.pt_id,
                   (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) AS dist2,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) ASC,
                              p.pt_id ASC
                   ) AS rank
            FROM pts p CROSS JOIN qs q
        )
        SELECT query_id, rank, pt_id, round(dist2, 4) AS dist2_r
        FROM cand WHERE rank <= 3
    """


# --------------------------------------------------------------------------
# Zonal statistics (alg/zonal.cpp stat set over a lon/lat grid zoning)
# --------------------------------------------------------------------------


def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    lon, lat = _lon_lat_cols(F.col("s_suppkey"))
    z = s.select(
        F.floor((lon + 180.0) / 30.0).alias("zone_x"),
        F.floor((lat + 90.0) / 30.0).alias("zone_y"),
        F.col("s_acctbal").alias("v"),
    )
    return z.groupBy("zone_x", "zone_y").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.min("v"), 2).alias("vmin"),
        F.round(F.max("v"), 2).alias("vmax"),
        F.round(F.avg("v"), 4).alias("vmean"),
        F.round(F.sum("v"), 2).alias("vsum"),
        F.round(F.stddev_pop("v"), 4).alias("vstd"),
    )


def _zonal_oracle() -> str:
    lon, lat = _lonlat_sql("s_suppkey")
    return f"""
        WITH z AS (
            SELECT cast(floor(({lon} + 180.0) / 30.0) as bigint) AS zone_x,
                   cast(floor(({lat} + 90.0) / 30.0) as bigint) AS zone_y,
                   s_acctbal AS v
            FROM supplier
        )
        SELECT zone_x, zone_y, count(*) AS cnt,
               round(min(v), 2) AS vmin, round(max(v), 2) AS vmax,
               round(avg(v), 4) AS vmean, round(sum(v), 2) AS vsum,
               round(stddev_pop(v), 4) AS vstd
        FROM z GROUP BY zone_x, zone_y
    """


# --------------------------------------------------------------------------
# Spatial sort ('gdal vector sort' hilbert analog — quadkey space ordering;
# deviation documented in SURVEY.md §2.5: quadkey locality, not hilbert)
# --------------------------------------------------------------------------


def spatial_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    lon, lat = _lon_lat_cols(F.col("event_id"))
    tx, ty = M.lonlat_to_tile(lon, lat, 8)
    return (
        e.select(F.col("event_id"), M.quadkey_num(tx, ty, 8).alias("qk8"))
        .orderBy(F.col("qk8").asc(), F.col("event_id").asc())
        .limit(100)
    )


def _spatial_sort_oracle() -> str:
    lon, lat = _lonlat_sql("event_id")
    t = _tile_sql(lon, lat, 8)
    qk = _quadkey_num_sql(t["tx"], t["ty_xyz"], 8)
    return f"""
        SELECT event_id, {qk} AS qk8
        FROM events
        ORDER BY qk8 ASC, event_id ASC
        LIMIT 100
    """




# --------------------------------------------------------------------------
# Grid / IDW interpolation (alg/gdalgrid.cpp:61 invdist; §2.8) — kNN join
# feeding a weighted aggregation, fully SQL-oracle-checked.
# --------------------------------------------------------------------------


def grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW power-2 interpolation of a synthetic z-field at region query
    points from the k=4 nearest customer points (the kNN-join ->
    groupBy(weighted avg) restatement of GDALGridInverseDistanceToAPower)."""
    from gdal_spark.operators import knn as KNN

    c = load(spark, sf_dir, "customer")
    lon, lat = _lon_lat_cols(F.col("c_custkey"))
    z = (F.col("c_custkey").cast("double") * 7.3) % 100.0
    pts = c.select(
        F.col("c_custkey").alias("pt_id"), lon.alias("x"), lat.alias("y"), z.alias("z")
    )
    r = load(spark, sf_dir, "region")
    qs = r.select(
        F.col("r_regionkey").alias("query_id"),
        (F.lit(-100.0) + F.col("r_regionkey") * 40.0).alias("qx"),
        (F.lit(-60.0) + F.col("r_regionkey") * 30.0).alias("qy"),
    )
    nn = KNN.knn_join_broadcast(pts, qs, k=4)
    out = KNN.idw_at_queries(nn, value_col="z")
    return out.select("query_id", F.round("idw_z", 6).alias("idw_z"), "n_neighbors")


def _grid_idw_oracle() -> str:
    lon, lat = _lonlat_sql("c_custkey")
    return f"""
        WITH pts AS (SELECT c_custkey AS pt_id, {lon} AS x, {lat} AS y,
                            fmod(cast(c_custkey as double) * 7.3, 100.0) AS z
                     FROM customer),
        qs AS (SELECT r_regionkey AS query_id,
                      -100.0 + r_regionkey * 40.0 AS qx,
                      -60.0 + r_regionkey * 30.0 AS qy FROM region),
        cand AS (
            SELECT q.query_id, p.z,
                   (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) AS dist2,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.qx - p.x) * (q.qx - p.x) + (q.qy - p.y) * (q.qy - p.y) ASC,
                              p.pt_id ASC
                   ) AS rnk
            FROM qs q CROSS JOIN pts p),
        nn AS (SELECT * FROM cand WHERE rnk <= 4)
        SELECT query_id,
               round(sum(z / dist2) / sum(1.0 / dist2), 6) AS idw_z,
               count(*) AS n_neighbors
        FROM nn GROUP BY query_id
    """


SPARK = {
    "tile_assignment": tile_assignment,
    "cell_pip_join": cell_pip_join,
    "knn_topk": knn_topk,
    "zonal_stats": zonal_stats,
    "spatial_sort_quadkey": spatial_sort,
    "grid_idw": grid_idw,
}

ORACLE = {
    "tile_assignment": _tile_assignment_oracle(),
    "cell_pip_join": _cell_pip_join_oracle(),
    "knn_topk": _knn_oracle(),
    "zonal_stats": _zonal_oracle(),
    "spatial_sort_quadkey": _spatial_sort_oracle(),
    "grid_idw": _grid_idw_oracle(),
}
