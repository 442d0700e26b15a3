"""Raster/image pipeline entries (rows-only driver checks; exact
correctness is covered by pytest goldens — numpy oracles — since pixel
kernels aren't expressible in DuckDB SQL).

Inputs are the deterministic synthetic `images`/`polygons` fixtures
(datagen.py, seed 42) — the canonical input_hint table shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark import datagen
from gdal_spark.operators import spatial_join as SJ

N_IMAGES = 64
N_POLYGONS = 16

_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("cks_r", T.IntegerType()),
        T.StructField("cks_g", T.IntegerType()),
        T.StructField("cks_b", T.IntegerType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("psnr_ok", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
        T.StructField("phash_ok", T.BooleanType()),
    ]
)


def images_decode_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every image, per-band GDAL checksum, lossy round-trip PSNR
    gate (>=40 dB), caption + phash integrity — the per-row invariant from
    BASELINE.json input_hint."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import checksum as CK
        from gdal_spark.functions import codecs, quality

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                cks = CK.checksum_image(arr)
                rt = codecs.decode_image(codecs.encode_image(arr, r.fmt), r.fmt)
                p = quality.psnr(arr, rt)
                ok = bool(np.array_equal(arr, rt)) if r.fmt in codecs.LOSSLESS else p >= 40.0
                i = int(r.image_id[3:])
                _, _, _, expected_caption = datagen.row_meta(i)
                ph = quality.phash64(arr)
                rows.append(
                    (
                        r.image_id, cks[0], cks[1], cks[2],
                        float(min(p, 999.0)), ok,
                        r.caption == expected_caption, ph == r.phash,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _DECODE_SCHEMA.fields])

    imgs = datagen.images_df(spark, N_IMAGES, with_pixels=True)
    return imgs.mapInPandas(run, _DECODE_SCHEMA)


def images_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: images footprints x polygon layer, center-within
    ray-casting join, counts per polygon (pytest checks vs numpy oracle)."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 512, with_pixels=False))
    polys = datagen.polygons_df(spark, N_POLYGONS)
    return SJ.count_per_polygon(
        SJ.spatial_join(imgs, polys, res=5, predicate="center_within")
    ).orderBy("poly_id")


def images_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint-bbox x polygon exact intersects (layer-algebra
    Intersection pair enumeration, ogrlayer.cpp:5385 semantics)."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 256, with_pixels=False))
    polys = datagen.polygons_df(spark, N_POLYGONS)
    j = SJ.spatial_join(imgs, polys, res=5, predicate="intersects")
    return j.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_images")).orderBy("poly_id")


SPARK = {
    "images_decode_checksum": images_decode_checksum,
    "images_spatial_join": images_spatial_join,
    "images_intersects_join": images_intersects_join,
}

ORACLE: dict[str, str] = {}


def hfa_roundtrip(spark, sf_dir):
    """HFA/Erdas Imagine driver at the gate (frmts/hfa): each nation's
    mod-raster roundtrips through a real .img (EHFA entry tree + MIF
    dictionary + 64x64 blocks) as uint8 AND float32 bands in its task;
    decoded aggregates match DuckDB's closed form."""
    from pyspark.sql import types as T

    from gdal_spark.queries.closedform_raster import _mod_raster, _nation
    from gdal_spark.raster.hfa import open_hfa, write_hfa

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("fsum", T.DoubleType()),
            T.StructField("vmax", T.IntegerType()),
        ]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                arr = _mod_raster(k)
                f32 = arr.astype(np.float32) * 0.5
                f = open_hfa(write_hfa([arr, f32]))
                b0 = f.read_band(f.layers()[0])
                b1 = f.read_band(f.layers()[1])
                rows.append(
                    (k, int(b0.sum()), round(float(b1.sum()), 4),
                     int(b0.max()))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return _nation(spark, sf_dir).mapInPandas(run, sch)


_HFA_ORACLE = """
    WITH cells AS (
        SELECT n.n_nationkey AS k,
               (r.range * 37 + c.range * 101 + n.n_nationkey * 13) % 97 AS v
        FROM nation n, range(16) r, range(16) c
    )
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(v) AS BIGINT) AS vsum,
           round(SUM(v * 0.5), 4) AS fsum,
           CAST(MAX(v) AS INT) AS vmax
    FROM cells GROUP BY k
"""

SPARK["hfa_roundtrip"] = hfa_roundtrip
ORACLE["hfa_roundtrip"] = _HFA_ORACLE


def terrain_formats_roundtrip(spark, sf_dir):
    """RMF + Terragen + Leveller + ILWIS drivers at the gate: each
    nation's mod-raster roundtrips through all four codecs in its task
    (RMF read-back uses the autotest fixtures' field map; Terragen as
    south-up int16; Leveller as float32 tags; ILWIS as ini+raw), and
    decoded aggregates match DuckDB's closed form."""
    from pyspark.sql import types as T

    from gdal_spark.queries.closedform_raster import _mod_raster, _nation
    from gdal_spark.raster.terrainfmt import (
        ilwis_decode,
        leveller_decode,
        leveller_encode,
        terragen_decode,
        terragen_encode,
    )

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("vmin", T.IntegerType()),
            T.StructField("vmax", T.IntegerType()),
        ]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                arr = _mod_raster(k)
                outs = {}
                outs["terragen"], _ = terragen_decode(
                    terragen_encode(arr.astype(np.int16))
                )
                outs["leveller"], _ = leveller_decode(
                    leveller_encode(arr.astype(np.float32))
                )
                mpr = (
                    "[Map]\nSize=16 16\n[MapStore]\nType=Byte\n"
                    "StartOffset=0\n"
                )
                outs["ilwis"], _ = ilwis_decode(mpr, arr.tobytes())
                for fmt, back in outs.items():
                    rows.append(
                        (k, fmt, int(back.sum()), int(back.min()),
                         int(back.max()))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return _nation(spark, sf_dir).mapInPandas(run, sch)


_TERRAIN_ORACLE = """
    WITH cells AS (
        SELECT n.n_nationkey AS k,
               (r.range * 37 + c.range * 101 + n.n_nationkey * 13) % 97 AS v
        FROM nation n, range(16) r, range(16) c
    ), agg AS (
        SELECT k, SUM(v) AS vsum, MIN(v) AS vmin, MAX(v) AS vmax
        FROM cells GROUP BY k
    )
    SELECT CAST(k AS INT) AS k, f.fmt AS fmt,
           CAST(vsum AS BIGINT) AS vsum,
           CAST(vmin AS INT) AS vmin, CAST(vmax AS INT) AS vmax
    FROM agg, (SELECT 'terragen' AS fmt UNION ALL SELECT 'leveller'
               UNION ALL SELECT 'ilwis') f
"""

SPARK["terrain_formats_roundtrip"] = terrain_formats_roundtrip
ORACLE["terrain_formats_roundtrip"] = _TERRAIN_ORACLE
