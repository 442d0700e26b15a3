"""Driver-contract entries for the layer-algebra operators (§2.3).

Rows-only (geometry kernels are not SQL-expressible in DuckDB without a
spatial extension); exact semantics are pytest-verified against
raster-mask oracles in tests/test_layer_algebra.py. The partition entry
additionally exposes the area identity erase+clip == area(A) as data the
driver can see is ~0."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import datagen
from gdal_spark.functions import wkb as W
from gdal_spark.ogrsql import _wkb_area
from gdal_spark.operators import layer_algebra as LA
from gdal_spark.queries.spatial_sql import box_wkb_udf

NA, NB = 12, 10


def _b_layer(spark: SparkSession) -> DataFrame:
    """Method layer: A's polygons shifted by 0.35/0.25 of their bbox."""
    import numpy as np

    pdf = datagen.polygons_pdf(NB)
    rows = []
    for r in pdf.itertuples(index=False):
        rings = W.polygon_rings(bytes(r.wkb))[0]
        dx = (r.xmax - r.xmin) * 0.35
        dy = (r.ymax - r.ymin) * 0.25
        moved = [rr + np.array([dx, dy]) for rr in rings]
        rows.append(
            (r.poly_id, bytearray(W.write_polygon(moved)),
             r.xmin + dx, r.ymin + dy, r.xmax + dx, r.ymax + dy)
        )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"])
    )


def _a_layer(spark: SparkSession) -> DataFrame:
    return datagen.polygons_df(spark, NA).select(
        "poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"
    )


def layer_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        LA.intersection(_a_layer(spark), _b_layer(spark), res=5)
        .select("a_id", "b_id", F.round("area", 9).alias("area"))
        .orderBy("a_id", "b_id")
    )


def layer_erase_clip_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """erase ∪ clip partitions each A feature: residual must be ~0."""
    a = _a_layer(spark)
    b = _b_layer(spark)
    er = LA.erase(a, b, res=5).select("a_id", F.col("area").alias("erase_area"))
    cl = LA.clip(a, b, res=5).select("a_id", F.col("area").alias("clip_area"))

    base = a.select(F.col("poly_id").alias("a_id"), _wkb_area(F.col("wkb")).alias("a_area"))
    out = (
        base.join(er, on="a_id", how="left")
        .join(cl, on="a_id", how="left")
        .fillna(0.0, subset=["erase_area", "clip_area"])
    )
    return out.select(
        "a_id",
        F.round("a_area", 6).alias("a_area"),
        F.round(F.col("erase_area") + F.col("clip_area") - F.col("a_area"), 6).alias("residual"),
    ).orderBy("a_id")


def layer_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    un = LA.union_layers(_a_layer(spark), _b_layer(spark), res=5)
    return un.select(
        F.when(F.col("a_id").isNotNull() & F.col("b_id").isNotNull(), "intersection")
        .when(F.col("a_id").isNotNull(), "a_remainder")
        .otherwise("b_remainder")
        .alias("kind")
    ).groupBy("kind").agg(F.count(F.lit(1)).alias("n")).orderBy("kind")


SPARK = {
    "layer_intersection": layer_intersection,
    "layer_erase_clip_partition": layer_erase_clip_partition,
    "layer_union_counts": layer_union_counts,
}

ORACLE: dict[str, str] = {}


def st_sql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ST_ catalog driven through spark.sql (SQLite-dialect parity,
    ogrsqlitesqlfunctions.cpp): per-polygon area/centroid/validity plus a
    mercator round-trip distance check."""
    from gdal_spark.functions import st_catalog as ST

    ST.register_all(spark)
    datagen.polygons_df(spark, NA).createOrReplaceTempView("st_polys_q")
    return spark.sql(
        """
        select poly_id,
               round(ST_Area(wkb), 9) as st_area,
               ST_IsValid(wkb) as valid,
               ST_Within(ST_Centroid(wkb), ST_Envelope(wkb)) as centroid_in_env,
               round(ST_X(ST_Centroid(wkb)), 6) as cx,
               round(ST_Distance(
                   ST_Transform(ST_Transform(ST_Centroid(wkb), 4326, 3857), 3857, 4326),
                   ST_Centroid(wkb)), 9) as rt_err
        from st_polys_q order by poly_id
        """
    )


SPARK["st_sql_functions"] = st_sql_functions


# --------------------------------------------------------------------------
# Oracle-backed ST_ predicate/set-op query: axis-aligned box fixtures make
# every new ST_ function (Union/SymDifference/Touches/Crosses/Overlaps/
# Equals/Length/AsBinary/GeomFromWKB) closed-form SQL-expressible, so the
# engine kernels get a full value-hash gate, not just rows-only evidence.
# --------------------------------------------------------------------------

# grid: col = k%5, row = k//5, cell pitch 10; even k -> w=10 (edge-touch
# with the right neighbor), odd k -> w=12 (overlap); h=10 everywhere
# (vertical neighbors always edge-touch; diagonals corner-touch or
# edge-touch depending on parity)
_BOX_GRID_SQL = """
    SELECT n_nationkey AS k,
           (n_nationkey % 5) * 10.0 AS x0,
           (n_nationkey // 5) * 10.0 AS y0,
           (n_nationkey % 5) * 10.0 + 10.0 + 2.0 * (n_nationkey % 2) AS x1,
           (n_nationkey // 5) * 10.0 + 10.0 AS y1
    FROM nation
"""


def st_sql_functions_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union/SymDifference/Touches/Crosses/Overlaps/Equals/Length/
    AsBinary/GeomFromWKB over a touch/overlap/equal/corner box grid,
    value-checked against closed-form box arithmetic in DuckDB (parity:
    ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1172-1240)."""
    from gdal_spark.functions import st_catalog as ST
    from gdal_spark.sources.tables import load

    ST.register_all(spark)
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = (k % 5).cast("double") * 10.0
    y0 = F.floor(k / 5).cast("double") * 10.0
    x1 = x0 + 10.0 + 2.0 * (k % 2).cast("double")
    y1 = y0 + 10.0
    boxes = n.select(
        k.alias("k"), x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1"),
        box_wkb_udf(x0, y0, x1, y1).alias("wkb"),
    )
    boxes.createOrReplaceTempView("st_boxes_q")
    return spark.sql(
        """
        SELECT a.k AS a_id, b.k AS b_id,
               cast(ST_Intersects(a.wkb, b.wkb) as int) AS inter,
               cast(ST_Touches(a.wkb, b.wkb) as int) AS touches,
               cast(ST_Overlaps(a.wkb, b.wkb) as int) AS overlaps,
               cast(ST_Equals(a.wkb, b.wkb) as int) AS eq,
               round(ST_Area(ST_Union(a.wkb, b.wkb)), 6) AS union_area,
               round(ST_Area(ST_SymDifference(a.wkb, b.wkb)), 6) AS symdiff_area,
               round(ST_Length(a.wkb), 6) AS perim_a,
               cast(ST_Crosses(
                   ST_GeomFromText(concat('LINESTRING (',
                       a.x0 - 1.0 + 3.0 * (a.k % 2), ' ', (a.y0 + a.y1) / 2.0, ', ',
                       (a.x0 + a.x1) / 2.0, ' ', (a.y0 + a.y1) / 2.0, ')')),
                   a.wkb) as int) AS line_crosses,
               length(ST_AsBinary(ST_GeomFromWKB(a.wkb))) AS wkb_len,
               cast(ST_IsSimple(CASE WHEN a.k % 2 = 1 THEN ST_GeomFromText(
                   concat('POLYGON ((', a.x0, ' ', a.y0, ', ', a.x1, ' ', a.y1,
                          ', ', a.x1, ' ', a.y0, ', ', a.x0, ' ', a.y1,
                          ', ', a.x0, ' ', a.y0, '))'))
                   ELSE a.wkb END) as int) AS simple_a,
               round(ST_Area(ST_MakeValid(CASE WHEN a.k % 2 = 1 THEN
                   ST_GeomFromText(
                   concat('POLYGON ((', a.x0, ' ', a.y0, ', ', a.x1, ' ', a.y1,
                          ', ', a.x1, ' ', a.y0, ', ', a.x0, ' ', a.y1,
                          ', ', a.x0, ' ', a.y0, '))'))
                   ELSE a.wkb END)), 6) AS mkvalid_area
        FROM st_boxes_q a JOIN st_boxes_q b
          ON (b.k - a.k) IN (0, 1, 5, 6)
         AND NOT ((b.k - a.k) IN (1, 6) AND a.k % 5 = 4)
         AND NOT ((b.k - a.k) IN (5, 6) AND (a.k div 5) = 4)
        """
    )


_ST_BOX_ORACLE = f"""
    WITH boxes AS ({_BOX_GRID_SQL}),
    pairs AS (
        SELECT a.k AS a_id, b.k AS b_id,
               a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
               b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
        FROM boxes a JOIN boxes b
          ON (b.k - a.k) IN (0, 1, 5, 6)
         AND NOT ((b.k - a.k) IN (1, 6) AND a.k % 5 = 4)
         AND NOT ((b.k - a.k) IN (5, 6) AND a.k // 5 = 4)
    ),
    m AS (
        SELECT *,
               least(ax1, bx1) - greatest(ax0, bx0) AS cw,
               least(ay1, by1) - greatest(ay0, by0) AS ch,
               (ax1 - ax0) * (ay1 - ay0) AS area_a,
               (bx1 - bx0) * (by1 - by0) AS area_b,
               greatest(least(ax1, bx1) - greatest(ax0, bx0), 0)
                 * greatest(least(ay1, by1) - greatest(ay0, by0), 0) AS ia
        FROM pairs
    )
    SELECT a_id, b_id,
           cast(cw >= 0 AND ch >= 0 as int) AS inter,
           cast(cw >= 0 AND ch >= 0 AND ia = 0 as int) AS touches,
           cast(ia > 0
                AND NOT (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1)
                AND NOT (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1)
                as int) AS overlaps,
           cast(ax0 = bx0 AND ax1 = bx1 AND ay0 = by0 AND ay1 = by1 as int) AS eq,
           round(area_a + area_b - ia, 6) AS union_area,
           round(area_a + area_b - 2 * ia, 6) AS symdiff_area,
           round(2 * ((ax1 - ax0) + (ay1 - ay0)), 6) AS perim_a,
           cast(a_id % 2 = 0 as int) AS line_crosses,
           93 AS wkb_len,
           cast(a_id % 2 = 0 as int) AS simple_a,
           round(CASE WHEN a_id % 2 = 1 THEN area_a / 2 ELSE area_a END, 6)
               AS mkvalid_area
    FROM m
"""

SPARK["st_sql_functions_box"] = st_sql_functions_box
ORACLE["st_sql_functions_box"] = _ST_BOX_ORACLE
