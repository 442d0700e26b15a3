"""Oracle-backed closed-form layer-algebra queries.

The layer_algebra_entries fixtures use RNG k-gon/C-shape polygons, so the
driver can only rows-only-check them. Here the SAME operators
(operators/layer_algebra.py — the ogrlayer.cpp Intersection / Erase /
Clip / Union re-expressions, including the cell-partitioned candidate
join and the Greiner–Hormann/Sutherland–Hodgman clip kernels) run over
axis-aligned integer boxes derived from the nation and region tables, so
every output area is closed-form rectangle arithmetic DuckDB recomputes
exactly and the driver gets full hash-match rows for §2.3 layer algebra.

Fixture:
  * layer A (nation, 25 boxes): [10*(k%5), 10*(k%5)+8] x [10*(k//5),
    10*(k//5)+8] — a 5x5 grid with 2-unit gaps.
  * layer B (region, 5 boxes): [9r-2, 9r+5] x [3, 37] — pairwise-disjoint
    vertical strips (so A ∖ ∪B and A ∩ ∪B decompose per-strip with no
    inclusion–exclusion).
All corners are integers and no box edges coincide, so the clip kernel's
float arithmetic is exact and there are no boundary-degeneracy ties.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators import layer_algebra as LA
from gdal_spark.queries.spatial_sql import box_wkb_udf
from gdal_spark.sources.tables import load


def _a_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    x0 = (F.col("n_nationkey") % 5).cast("double") * 10.0
    y0 = F.floor(F.col("n_nationkey") / 5).cast("double") * 10.0
    return n.select(
        F.col("n_nationkey").alias("poly_id"),
        x0.alias("xmin"), y0.alias("ymin"),
        (x0 + 8.0).alias("xmax"), (y0 + 8.0).alias("ymax"),
    ).withColumn("wkb", box_wkb_udf("xmin", "ymin", "xmax", "ymax"))


def _b_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    x0 = F.col("r_regionkey").cast("double") * 9.0 - 2.0
    return r.select(
        F.col("r_regionkey").alias("poly_id"),
        x0.alias("xmin"), F.lit(3.0).alias("ymin"),
        (x0 + 7.0).alias("xmax"), F.lit(37.0).alias("ymax"),
    ).withColumn("wkb", box_wkb_udf("xmin", "ymin", "xmax", "ymax"))


_AB_OVERLAP_SQL = """
    SELECT n_nationkey AS a_id, r_regionkey AS b_id,
           greatest(0, least(10*(n_nationkey%5) + 8, 9*r_regionkey + 5)
                       - greatest(10*(n_nationkey%5), 9*r_regionkey - 2))
           * greatest(0, least(10*(n_nationkey//5) + 8, 37)
                         - greatest(10*(n_nationkey//5), 3)) AS ov
    FROM nation CROSS JOIN region
"""


def layer_intersection_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = LA.intersection(_a_boxes(spark, sf_dir), _b_boxes(spark, sf_dir), res=5)
    return out.select(
        "a_id", "b_id", F.round("area", 6).alias("area")
    )


_INTERSECTION_ORACLE = f"""
    SELECT a_id, b_id, round(CAST(ov AS DOUBLE), 6) AS area
    FROM ({_AB_OVERLAP_SQL}) WHERE ov > 0
"""


def layer_erase_clip_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _a_boxes(spark, sf_dir)
    b = _b_boxes(spark, sf_dir)
    er = LA.erase(a, b, res=5).groupBy("a_id").agg(
        F.sum("area").alias("erase_area")
    )
    cl = LA.clip(a, b, res=5).groupBy("a_id").agg(
        F.sum("area").alias("clip_area")
    )
    base = a.select(F.col("poly_id").alias("a_id"))
    return (
        base.join(er, "a_id", "left")
        .join(cl, "a_id", "left")
        .select(
            "a_id",
            F.round(F.coalesce("erase_area", F.lit(0.0)), 6).alias("erase_area"),
            F.round(F.coalesce("clip_area", F.lit(0.0)), 6).alias("clip_area"),
        )
    )


_ERASE_CLIP_ORACLE = f"""
    SELECT a_id,
           round(64.0 - sum(ov), 6) AS erase_area,
           round(CAST(sum(ov) AS DOUBLE), 6) AS clip_area
    FROM ({_AB_OVERLAP_SQL}) GROUP BY a_id
"""


def layer_union_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    un = LA.union_layers(_a_boxes(spark, sf_dir), _b_boxes(spark, sf_dir), res=5)
    kind = (
        F.when(F.col("a_id").isNotNull() & F.col("b_id").isNotNull(), "intersection")
        .when(F.col("a_id").isNotNull(), "a_remainder")
        .otherwise("b_remainder")
    )
    return (
        un.select(kind.alias("kind"), "area")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("area"), 6).alias("total_area"),
        )
    )


# 25 A boxes of 64; 5 B strips of 7*34=238; every A keeps a remainder
# (B strips are 7 wide with 2-unit gaps, A is 8 wide) and every B does too.
_UNION_ORACLE = f"""
    WITH ov AS (SELECT sum(ov) AS tot, count(*) FILTER (ov > 0) AS np
                FROM ({_AB_OVERLAP_SQL}))
    SELECT 'intersection' AS kind, CAST(np AS BIGINT) AS n,
           round(CAST(tot AS DOUBLE), 6) AS total_area FROM ov
    UNION ALL
    SELECT 'a_remainder', 25, round(25 * 64.0 - tot, 6) FROM ov
    UNION ALL
    SELECT 'b_remainder', 5, round(5 * 238.0 - tot, 6) FROM ov
"""


# --------------------------------------------------------------------------
# Zonal pixel statistics (alg/zonal.cpp stat subset) through the REAL
# pixel path: spatial-join pairs -> decode (PNG codec) -> rasterize the
# zone polygon onto the image grid -> partial moments -> merge shuffle.
# Image k: 16x16, 3 equal bands of the mod raster, footprint
# lon [k, k+1] x lat [40, 41]; zone box at half-pixel offsets burns
# exactly rows 3..11 x cols 3..10 (72 px, verified rectangle).
# --------------------------------------------------------------------------


def zonal_pixel_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from gdal_spark.raster import zonal as Z

    sch = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("lon_min", T.DoubleType()),
            T.StructField("lat_min", T.DoubleType()),
            T.StructField("lon_max", T.DoubleType()),
            T.StructField("lat_max", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import codecs

        n = 16
        r, c = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                v = ((r * 37 + c * 101 + k * 13) % 97).astype(np.uint8)
                arr = np.repeat(v[:, :, None], 3, axis=2)
                rows.append(
                    (f"z{k}", codecs.encode_image(arr, "png"), n, n, "png",
                     float(k), 40.0, float(k) + 1.0, 41.0)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    imgs = load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(gen, sch)

    n = load(spark, sf_dir, "nation")
    kd = F.col("n_nationkey").cast("double")
    polys = n.select(
        F.col("n_nationkey").alias("poly_id"),
        (kd + 2.5 / 16).alias("xmin"), F.lit(40.0 + 3.5 / 16).alias("ymin"),
        (kd + 10.5 / 16).alias("xmax"), F.lit(40.0 + 12.5 / 16).alias("ymax"),
    ).withColumn("wkb", box_wkb_udf("xmin", "ymin", "xmax", "ymax"))

    out = Z.zonal_stats(imgs, polys, res=4, broadcast_polygons=True)
    return out.select(
        "poly_id", "zcount",
        F.round("zmin", 4).alias("zmin"), F.round("zmax", 4).alias("zmax"),
        F.round("zmean", 4).alias("zmean"), F.round("zstd", 4).alias("zstd"),
    )


_ZONAL_PIXEL_ORACLE = """
    WITH g AS (
        SELECT n_nationkey AS poly_id,
               CAST((y.range * 37 + x.range * 101 + n_nationkey * 13) % 97
                    AS DOUBLE) AS v
        FROM nation,
             generate_series(3, 11) y(range),
             generate_series(3, 10) x(range)
    )
    SELECT poly_id, CAST(count(*) AS BIGINT) AS zcount,
           round(min(v), 4) AS zmin, round(max(v), 4) AS zmax,
           round(avg(v), 4) AS zmean,
           round(sqrt(sum(v*v)/count(*) - avg(v)*avg(v)), 4) AS zstd
    FROM g GROUP BY poly_id
"""


SPARK = {
    "zonal_pixel_boxes": zonal_pixel_boxes,
    "layer_intersection_boxes": layer_intersection_boxes,
    "layer_erase_clip_boxes": layer_erase_clip_boxes,
    "layer_union_boxes": layer_union_boxes,
}

ORACLE = {
    "zonal_pixel_boxes": _ZONAL_PIXEL_ORACLE,
    "layer_intersection_boxes": _INTERSECTION_ORACLE,
    "layer_erase_clip_boxes": _ERASE_CLIP_ORACLE,
    "layer_union_boxes": _UNION_ORACLE,
}
