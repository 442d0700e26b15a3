"""Oracle-backed VSI chained-path contract query.

Every executor task builds a closed-form AAIGrid (v(r, c) = (r*5 + c*9 +
k*7) % 41 on 8x8), gzips it, stores it inside a zip in the task's own
``/vsimem/`` (per-process, exactly like the reference's memory FS), then
reads it back through the three-handler chained path

    /vsigzip/{/vsizip//vsimem/<k>.zip/grid.asc.gz}

— gunzip of a zip member of a memory file — and emits per-grid
aggregates plus the georeferencing the AAIGrid header round-trips.
DuckDB recomputes everything, so a regression in any of the five layers
(vsimem, vsizip split, vsigzip, the AAIGrid codec, the chain parser)
fails the driver's hash compare, not just a unit test.
"""

from __future__ import annotations

import gzip
import io
import zipfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.sources.tables import load

_N = 8


def vsi_chain_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("vmin", T.IntegerType()),
            T.StructField("vmax", T.IntegerType()),
            T.StructField("x0", T.DoubleType()),
            T.StructField("cell", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.raster.asciigrid import aaig_decode, aaig_encode
        from gdal_spark.sources import vsi

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                r, c = np.meshgrid(np.arange(_N), np.arange(_N), indexing="ij")
                grid = ((r * 5 + c * 9 + k * 7) % 41).astype(np.float64)
                gt = (100.0 + k, 2.0, 0.0, 50.0, 0.0, -2.0)
                zbuf = io.BytesIO()
                with zipfile.ZipFile(zbuf, "w") as z:
                    z.writestr(
                        "grid.asc.gz",
                        gzip.compress(aaig_encode(grid, gt).encode("ascii")),
                    )
                mem = f"/vsimem/q{k}.zip"
                vsi.vsi_write(mem, zbuf.getvalue())
                chained = f"/vsigzip/{{/vsizip/{mem}/grid.asc.gz}}"
                arr, meta = aaig_decode(vsi.vsi_read(chained), datatype="Float64")
                gt2 = meta["gt"]
                vsi.vsi_unlink(mem)
                rows.append(
                    (
                        k,
                        int(arr.sum()),
                        int(arr.min()),
                        int(arr.max()),
                        float(gt2[0]),
                        float(gt2[1]),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)
    )


_VSI_ORACLE = f"""
    WITH px AS (
        SELECT n.n_nationkey AS k,
               (r.range * 5 + c.range * 9 + n.n_nationkey * 7) % 41 AS v
        FROM nation n
        CROSS JOIN range({_N}) r CROSS JOIN range({_N}) c
    )
    SELECT k, CAST(SUM(v) AS BIGINT) AS vsum,
           CAST(MIN(v) AS INT) AS vmin, CAST(MAX(v) AS INT) AS vmax,
           100.0 + k AS x0, 2.0 AS cell
    FROM px GROUP BY k
"""


SPARK = {"vsi_chain_scan": vsi_chain_scan}
ORACLE = {"vsi_chain_scan": _VSI_ORACLE}
