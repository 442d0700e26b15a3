"""Zonal statistics over decoded pixels (alg/zonal.cpp:274 semantics).

Distributed plan (partial + final — the map-side-combine pattern):

  1. candidate (image, polygon) pairs via the cell spatial join
     (intersects predicate — same candidate generation as layer algebra).
  2. per pair, inside applyInPandas-free mapInPandas: decode the image,
     rasterize the polygon onto the image's own pixel grid (scanline
     fill, alg/llrasterize.cpp), reduce the masked pixels to partial
     moments (count/sum/sumsq/min/max) per band-0 luma value.
  3. groupBy(poly_id) merges partials into count/mean/min/max/stddev —
     the only shuffle, and it carries 5 doubles per pair, not pixels.

At 100 TB: stage 2 is narrow after the join; the final shuffle is tiny
(rows = pairs, not pixels). Statistics match alg/zonal.cpp's stat list
subset {count, min, max, mean, stdev} with population stdev.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators import spatial_join as SJ

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("ss", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _luma(arr: np.ndarray) -> np.ndarray:
    return 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]


def zonal_stats(images: DataFrame, polygons: DataFrame, res: int = 5) -> DataFrame:
    """images: canonical table + footprint cols; polygons: poly_id/wkb/bbox.

    Returns (poly_id, zcount, zmin, zmax, zmean, zstd) over the pixels of
    every image whose footprint intersects each polygon.
    """
    pairs = SJ.spatial_join(images, polygons, res=res, predicate="intersects", keep_wkb=True)

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import codecs, wkb as W
        from gdal_spark.raster import kernels as K
        from gdal_spark.raster.warp import footprint_gt

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                h, w = arr.shape[:2]
                gt = footprint_gt(r.lon_min, r.lat_min, r.lon_max, r.lat_max, w, h)
                mask = np.zeros((h, w), dtype=bool)
                for rings in W.polygon_rings(bytes(r.wkb)):
                    mask |= K.rasterize_rings(rings, h, w, gt=gt)
                if not mask.any():
                    continue
                v = _luma(arr)[mask]
                rows.append(
                    (r.poly_id, int(v.size), float(v.sum()), float((v * v).sum()),
                     float(v.min()), float(v.max()))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _PARTIAL_SCHEMA.fields])

    part = pairs.mapInPandas(partials, _PARTIAL_SCHEMA)
    agg = part.groupBy("poly_id").agg(
        F.sum("cnt").alias("zcount"),
        F.min("mn").alias("zmin"),
        F.max("mx").alias("zmax"),
        (F.sum("s") / F.sum("cnt")).alias("zmean"),
        F.sum("s").alias("_s"),
        F.sum("ss").alias("_ss"),
    )
    return agg.withColumn(
        "zstd",
        F.sqrt(F.greatest(F.lit(0.0), F.col("_ss") / F.col("zcount") - F.pow(F.col("zmean"), 2))),
    ).drop("_s", "_ss")
