"""HEIF/AVIF delegation contract query.

Executors decode the committed HEIC (libheif/HEVC) and AVIF
(libavif/AV1) fixtures on every slice and emit green-channel
aggregates plus a PSNR>=30 flag vs the generating gradient — the
lossy per-row invariant of BASELINE.json applied to the two
delegation codecs (reference drivers: frmts/heif, frmts/avif).

The oracle pins the decoded constants: both libraries are
deterministic decoders, and the values are anchored by
tests/test_extcodecs.py.  On a host without the system libraries the
entry raises ExternalCodecUnavailable (the quarantine path covers
that degradation in decode_status_counts); this sandbox has both.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.sources.tables import load


def heif_avif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("gsum", T.LongType()),
            T.StructField("gmin", T.LongType()),
            T.StructField("gmax", T.LongType()),
            T.StructField("psnr_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions.extcodecs import avif_decode, heif_decode
        from gdal_spark.functions.heif_fixtures import (AVIF_FIXTURE,
                                                        HEIC_FIXTURE)
        from gdal_spark.functions.webp_fixtures import fixture_gradient

        src = fixture_gradient().astype(float)
        rows = []
        for pdf in batches:
            for k in pdf["n_nationkey"]:
                for fmt, dec, fx in (("heif", heif_decode, HEIC_FIXTURE),
                                     ("avif", avif_decode, AVIF_FIXTURE)):
                    rgb = dec(fx)
                    mse = ((rgb.astype(float) - src) ** 2).mean()
                    ok = bool(mse == 0
                              or 10 * np.log10(255 * 255 / mse) >= 30.0)
                    g = rgb[..., 1].astype(np.int64)
                    rows.append((int(k), fmt, int(g.sum()), int(g.min()),
                                 int(g.max()), ok))
        yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation").select("n_nationkey")
        .mapInPandas(run, sch)
    )


_EXTCODEC_ORACLE = """
    WITH expected(fmt, gsum, gmin, gmax, psnr_ok) AS (
        VALUES ('heif', 15365, 4, 116, TRUE),
               ('avif', 15369, 0, 121, TRUE)
    )
    SELECT n.n_nationkey AS k, e.fmt, e.gsum, e.gmin, e.gmax, e.psnr_ok
    FROM nation n CROSS JOIN expected e
"""


SPARK = {"heif_avif_decode": heif_avif_decode}
ORACLE = {"heif_avif_decode": _EXTCODEC_ORACLE}
