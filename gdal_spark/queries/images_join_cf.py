"""Closed-form oracle twins for the FLAGSHIP images spatial join.

`images_spatial_join` / `images_intersects_join` run the real
`operators.spatial_join` over RNG fixtures, so the driver only gets
rows-only checks there. These twins run the SAME operator — cell-cover
explode, broadcast polygon dim, unrolled-codegen ray-casting /
exact-intersects kernel, reference-point exactly-once rule — over
closed-form geometry:

  image i center: (-150 + (i*7 % 60) + 0.5, -60 + (i*11 % 50) + 0.5)
  polygon k (nation): the box [-149 + (k%5)*12, +8] x [-59 + (k//5)*10, +8]

Centers sit on half-integers and box edges on integers, so no candidate
is within float error of a boundary (knife-edge discipline): ray-casting
against a box agrees exactly with the SQL range predicate DuckDB
evaluates. The intersects twin uses ±3.25-degree footprints, wide enough
that one footprint can straddle the 4-degree gap and hit two boxes —
exercising the 1:N path and the reference-point dedup, which the oracle
reproduces as a plain interval-overlap join.

Reference semantics: OGRLayer::SetSpatialFilter + Intersection pair
enumeration (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.sources.tables import load

_POLY_SCH = T.StructType(
    [
        T.StructField("poly_id", T.IntegerType()),
        T.StructField("wkb", T.BinaryType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


def _box_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions.wkb import write_polygon

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                x0 = -149.0 + (k % 5) * 12.0
                y0 = -59.0 + (k // 5) * 10.0
                ring = np.array(
                    [[x0, y0], [x0 + 8, y0], [x0 + 8, y0 + 8], [x0, y0 + 8],
                     [x0, y0]],
                    dtype=np.float64,
                )
                rows.append((k, write_polygon([ring]), x0, y0, x0 + 8, y0 + 8))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _POLY_SCH.fields]
            )

    return (
        load(spark, sf_dir, "nation").select("n_nationkey")
        .mapInPandas(gen, _POLY_SCH)
    )


def _image_footprints(spark: SparkSession, sf_dir: str, half: float) -> DataFrame:
    """Pure-Column footprint synthesis (no UDF): the input_hint metadata
    path — footprints derive from image metadata, pixels never decoded."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    cx = (F.lit(-150.0) + (F.col("c_custkey") * 7 % 60) + F.lit(0.5))
    cy = (F.lit(-60.0) + (F.col("c_custkey") * 11 % 50) + F.lit(0.5))
    return c.select(
        F.col("c_custkey").alias("image_id"),
        (cx - half).alias("lon_min"),
        (cy - half).alias("lat_min"),
        (cx + half).alias("lon_max"),
        (cy + half).alias("lat_max"),
    )


def _join(spark, sf_dir, predicate: str, half: float) -> DataFrame:
    from gdal_spark.operators import spatial_join as SJ

    imgs = _image_footprints(spark, sf_dir, half)
    polys = _box_polys(spark, sf_dir)
    j = SJ.spatial_join(imgs, polys, res=5, predicate=predicate)
    return (
        j.groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .select(F.col("poly_id").cast("int").alias("poly_id"), "n_images")
    )


def images_center_join_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _join(spark, sf_dir, "center_within", 0.25)


def images_intersects_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _join(spark, sf_dir, "intersects", 3.25)


_CENTER_ORACLE = """
    WITH img AS (
        SELECT -150.0 + ((c_custkey * 7) % 60) + 0.5 AS cx,
               -60.0 + ((c_custkey * 11) % 50) + 0.5 AS cy
        FROM customer
    ), poly AS (
        SELECT n_nationkey AS poly_id,
               -149.0 + (n_nationkey % 5) * 12.0 AS x0,
               -59.0 + (n_nationkey // 5) * 10.0 AS y0
        FROM nation
    )
    SELECT CAST(poly_id AS INT) AS poly_id,
           CAST(COUNT(*) AS BIGINT) AS n_images
    FROM img JOIN poly
      ON cx > x0 AND cx < x0 + 8 AND cy > y0 AND cy < y0 + 8
    GROUP BY poly_id
"""

_INTERSECTS_ORACLE = """
    WITH img AS (
        SELECT -150.0 + ((c_custkey * 7) % 60) + 0.5 AS cx,
               -60.0 + ((c_custkey * 11) % 50) + 0.5 AS cy
        FROM customer
    ), poly AS (
        SELECT n_nationkey AS poly_id,
               -149.0 + (n_nationkey % 5) * 12.0 AS x0,
               -59.0 + (n_nationkey // 5) * 10.0 AS y0
        FROM nation
    )
    SELECT CAST(poly_id AS INT) AS poly_id,
           CAST(COUNT(*) AS BIGINT) AS n_images
    FROM img JOIN poly
      ON cx - 3.25 <= x0 + 8 AND cx + 3.25 >= x0
     AND cy - 3.25 <= y0 + 8 AND cy + 3.25 >= y0
    GROUP BY poly_id
"""


SPARK = {
    "images_center_join_boxes": images_center_join_boxes,
    "images_intersects_boxes": images_intersects_boxes,
}
ORACLE = {
    "images_center_join_boxes": _CENTER_ORACLE,
    "images_intersects_boxes": _INTERSECTS_ORACLE,
}
