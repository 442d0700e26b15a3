"""Raster Attribute Table + remaining OGR special-field contract queries.

* RAT (gcore/gdal_rat.cpp / gdal_rat.h): the side-table is a small
  broadcast DataFrame; GetRowOfValue linear binning is a pure Column
  expression and the GFU_Min/GFU_Max range form is a broadcast range
  join (gdal_spark/raster/rat.py).  Two oracle-backed entries exercise
  both row-lookup forms on the `events` table (DuckDB replays the same
  binning in SQL); one rows-only entry runs the GFU_PixelCount
  histogram over real decoded pixels.
* OGR_STYLE / OGR_GEOMETRY / OGR_GEOM_WKT (ogr/ogr_p.h:133-140,
  SpecialFieldNames): completes the special-field set next to
  gridding.ogr_special_fields (FID + OGR_GEOM_AREA).  The style string
  follows the OGR feature-style spec BRUSH(fc:#rrggbb) /
  PEN(c:#rrggbb,w:Npx) (ogr/ogr_featurestyle.h); WKT goes through the
  engine's real WKB encode->parse path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gdal_spark.sources.tables import load

# --------------------------------------------------------------------------
# RAT fixture: 8 suitability classes over events.value, linear binning
# row0_min=0.0 bin_size=2.5 (GetRowOfValue: floor((v-row0)/bin), -1 outside)
# --------------------------------------------------------------------------

_ROW0, _BIN, _NROWS = 0.0, 2.5, 8
_RAT_ROWS = [
    (0, "barren", 10),
    (1, "water", 20),
    (2, "wetland", 30),
    (3, "shrub", 40),
    (4, "grass", 50),
    (5, "crop", 60),
    (6, "forest", 70),
    (7, "urban", 80),
]


def _rat_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _RAT_ROWS, "rat_row int, class_name string, suitability int"
    )


def rat_lookup_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-binning GetRowOfValue + broadcast RAT field join, rolled up
    per class: pixel-count analog (GFU_PixelCount) + mean value.  Rows
    whose bin falls outside the table surface as class 'out_of_range'
    (GetRowOfValue == -1 -> NULL fields after the left join)."""
    from gdal_spark.raster import rat

    e = load(spark, sf_dir, "events")
    joined = rat.attach_linear(
        e, "value", _rat_df(spark), _ROW0, _BIN, _NROWS
    )
    return (
        joined.groupBy(
            F.coalesce("class_name", F.lit("out_of_range")).alias("class_name")
        )
        .agg(
            F.count("*").cast("long").alias("n_px"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("suitability").cast("int").alias("suitability"),
        )
        .orderBy("class_name")
    )


def _rat_values_sql() -> str:
    rows = ", ".join(f"({r}, '{n}', {s})" for r, n, s in _RAT_ROWS)
    return f"(VALUES {rows}) AS rat(rat_row, class_name, suitability)"


_RAT_LINEAR_ORACLE = f"""
WITH binned AS (
  SELECT value,
         CASE WHEN floor((value - {_ROW0}) / {_BIN}) BETWEEN 0 AND {_NROWS - 1}
              THEN cast(floor((value - {_ROW0}) / {_BIN}) AS int)
              ELSE -1 END AS rat_row
  FROM events
),
j AS (
  SELECT b.value, rat.class_name, rat.suitability
  FROM binned b LEFT JOIN {_rat_values_sql()} ON b.rat_row = rat.rat_row
)
SELECT coalesce(class_name, 'out_of_range') AS class_name,
       cast(count(*) AS bigint) AS n_px,
       round(avg(value), 4) AS avg_value,
       cast(max(suitability) AS int) AS suitability
FROM j GROUP BY 1 ORDER BY 1
"""


# Non-uniform GFU_Min/GFU_Max ranges (the default RAT's per-row scan form)
_RANGE_ROWS = [
    ("low", 0.0, 3.0),
    ("mid", 3.0, 9.0),
    ("high", 9.0, 15.0),
    ("extreme", 15.0, 1e9),
]


def rat_lookup_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFU_Min/GFU_Max range-scan GetRowOfValue as a broadcast range join
    (vmin <= v < vmax), per-class count + value bounds."""
    from gdal_spark.raster import rat

    e = load(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        _RANGE_ROWS, "class_name string, vmin double, vmax double"
    )
    j = rat.attach_ranges(e, "value", ranges)
    return (
        j.groupBy("class_name")
        .agg(
            F.count("*").cast("long").alias("n_px"),
            F.round(F.min("value"), 4).alias("v_lo"),
            F.round(F.max("value"), 4).alias("v_hi"),
        )
        .orderBy("class_name")
    )


def _range_values_sql() -> str:
    rows = ", ".join(f"('{n}', {a}, {b})" for n, a, b in _RANGE_ROWS)
    return f"(VALUES {rows}) AS rat(class_name, vmin, vmax)"


_RAT_RANGE_ORACLE = f"""
SELECT rat.class_name AS class_name,
       cast(count(*) AS bigint) AS n_px,
       round(min(e.value), 4) AS v_lo,
       round(max(e.value), 4) AS v_hi
FROM events e JOIN {_range_values_sql()}
  ON e.value >= rat.vmin AND e.value < rat.vmax
GROUP BY 1 ORDER BY 1
"""


def rat_pixel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFU_PixelCount over REAL decoded pixels: per-image luma histogram
    binned by a 16-row linear RAT (row0=0, bin=16), broadcast name join,
    global per-class roll-up.  Rows-only for the driver (pixel decode
    isn't DuckDB-expressible); exactness pinned by tests/test_rat.py."""
    from gdal_spark import datagen
    from gdal_spark.raster import rat

    imgs = datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    hist = rat.band_histogram_rat(imgs, row0_min=0.0, bin_size=16.0, n_rows=16)
    names = spark.createDataFrame(
        [(i, f"tone_{i:02d}") for i in range(16)], "rat_row int, class_name string"
    )
    return (
        hist.join(F.broadcast(names), on="rat_row", how="left")
        .groupBy("rat_row", "class_name")
        .agg(
            F.sum("pixel_count").cast("long").alias("pixel_count"),
            F.countDistinct("image_id").cast("long").alias("n_images"),
        )
        .orderBy("rat_row")
    )


# --------------------------------------------------------------------------
# OGR_STYLE + OGR_GEOMETRY + OGR_GEOM_WKT special fields
# --------------------------------------------------------------------------

_WKT_SCHEMA = T.StructType(
    [T.StructField("gtype", T.StringType()), T.StructField("wkt", T.StringType())]
)


@pandas_udf(_WKT_SCHEMA)
def _wkb_to_wkt_udf(wkb_col: pd.Series) -> pd.DataFrame:
    """OGR_GEOMETRY (type name) + OGR_GEOM_WKT through the engine's real
    WKB parse and WKT writer (wkt.to_wkt, the ogrgeometry exportToWkt
    analog); integer-valued coords print as integers so the text is
    engine-portable."""
    from gdal_spark.functions.wkt import to_wkt

    wkts = [to_wkt(b) for b in wkb_col]
    return pd.DataFrame({"gtype": [w.split(" ", 1)[0] for w in wkts],
                         "wkt": wkts})


def ogr_style_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT FID, OGR_GEOMETRY, OGR_STYLE, OGR_GEOM_WKT: the remaining
    special attributes of ogr/ogr_p.h:133-140.  Style strings follow the
    OGR feature-style BRUSH/PEN syntax with a deterministic per-feature
    fill colour (Knuth-hash of the FID); geometry text goes WKB->WKT
    through the engine's parser, not string templating from the fixture."""
    from gdal_spark.queries.spatial_sql import box_wkb_udf

    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    bx = (k % 10).cast("double") * 20.0
    by = F.floor(k / 10).cast("double") * 20.0
    bw = (F.lit(6) + (k % 13)).cast("double")
    bh = (F.lit(4) + (k % 17)).cast("double")
    color = F.lpad(
        F.lower(F.hex((k * F.lit(2654435761)) % F.lit(16777216))), 6, "0"
    )
    style = F.when(
        k % 2 == 0, F.concat(F.lit("BRUSH(fc:#"), color, F.lit(")"))
    ).otherwise(F.concat(F.lit("PEN(c:#"), color, F.lit(",w:2px)")))
    boxes = n.select(
        k.alias("fid"),
        style.alias("ogr_style"),
        box_wkb_udf(bx, by, bx + bw, by + bh).alias("wkb"),
    )
    parsed = boxes.withColumn("g", _wkb_to_wkt_udf("wkb"))
    return parsed.select(
        "fid",
        F.col("g.gtype").alias("ogr_geometry"),
        "ogr_style",
        F.col("g.wkt").alias("ogr_geom_wkt"),
    ).orderBy("fid")


_STYLE_ORACLE = """
WITH b AS (
  SELECT n_nationkey AS fid,
         (n_nationkey % 10) * 20 AS x0,
         (n_nationkey // 10) * 20 AS y0,
         6 + (n_nationkey % 13) AS w,
         4 + (n_nationkey % 17) AS h
  FROM nation
),
c AS (
  SELECT fid, x0, y0, x0 + w AS x1, y0 + h AS y1,
         lpad(lower(hex((fid * 2654435761) % 16777216)), 6, '0') AS col
  FROM b
)
SELECT fid,
       'POLYGON' AS ogr_geometry,
       CASE WHEN fid % 2 = 0 THEN 'BRUSH(fc:#' || col || ')'
            ELSE 'PEN(c:#' || col || ',w:2px)' END AS ogr_style,
       'POLYGON ((' || x0 || ' ' || y0 || ',' || x1 || ' ' || y0 || ',' ||
       x1 || ' ' || y1 || ',' || x0 || ' ' || y1 || ',' || x0 || ' ' || y0 ||
       '))' AS ogr_geom_wkt
FROM c ORDER BY fid
"""


SPARK = {
    "rat_lookup_linear": rat_lookup_linear,
    "rat_lookup_ranges": rat_lookup_ranges,
    "rat_pixel_counts": rat_pixel_counts,
    "ogr_style_fields": ogr_style_fields,
}

ORACLE = {
    "rat_lookup_linear": _RAT_LINEAR_ORACLE,
    "rat_lookup_ranges": _RAT_RANGE_ORACLE,
    "ogr_style_fields": _STYLE_ORACLE,
}
