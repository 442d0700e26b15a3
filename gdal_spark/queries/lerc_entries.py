"""LERC decode contract query.

Every executor task decodes the reference's own committed LERC
fixtures (gcore/data/byte_lerc.tif and the standalone Lerc2 blobs
embedded in gcore/data/gtiff/lerc_*.tif) through the engine's numpy
Lerc2 decoder (raster/lerc.py) and emits the GDALChecksumImage
checksums the reference's autotest pins (gcore/tiff_read.py
test_tiff_read_lerc = 4672; gdrivers/lerc.py = 4776/4672/4672 and
float-with-mask 2755 band + 4420 mask). DuckDB recomputes the
expected constants, so the driver's hash compare fails if any stage
of the decoder (header, Fletcher32, RLE mask, bit-stuffing, Huffman,
microblock tiles) drifts.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.sources.tables import load

_GCORE = "/root/reference/autotest/gcore/data/"

_CASES = [
    # (name, path, offset, length or None for whole-tif)
    ("byte_tif", _GCORE + "byte_lerc.tif", None, None),
    ("int8", _GCORE + "gtiff/lerc_int8.tif", 504, 237),
    ("uint16", _GCORE + "gtiff/lerc_uint16.tif", 504, 465),
    ("int16", _GCORE + "gtiff/lerc_int16.tif", 504, 465),
    ("uint32", _GCORE + "gtiff/lerc_uint32.tif", 504, 469),
    ("int32", _GCORE + "gtiff/lerc_int32.tif", 504, 469),
    ("float32_mask", _GCORE + "gtiff/lerc_float32_with_mask.tif", 304, 1741),
    ("v2_blob",
     "/root/reference/autotest/gdrivers/data/mrf/lerc/byte.lrc", 0, -1),
    ("v1_cntz",
     "/root/reference/autotest/gdrivers/data/mrf/lerc_v1/byte.lrc", 0, -1),
]

_EXPECT = {
    "byte_tif": 4672, "int8": 4776, "uint16": 4672, "int16": 4672,
    "uint32": 4672, "int32": 4672, "float32_mask": 2755,
    "v2_blob": 4819, "v1_cntz": 26813,
}


def lerc_decode_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("cks", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions.checksum import checksum_image
        from gdal_spark.functions.tiff import tiff_decode
        from gdal_spark.raster.lerc import lerc2_decode

        rows = []
        for pdf in batches:
            for k in pdf["n_nationkey"]:
                for name, path, off, ln in _CASES:
                    raw = open(path, "rb").read()
                    if off is None:
                        arr = tiff_decode(raw)
                        arr = arr[0] if isinstance(arr, tuple) else arr
                        a = np.squeeze(arr)
                    else:
                        from gdal_spark.raster.lerc import lerc_strip_decode

                        blob = raw if ln < 0 else raw[off : off + ln]
                        a, mask, _ = lerc_strip_decode(blob)
                        if a.dtype.kind == "f":
                            a = a.astype(np.float64).copy()
                            a[~mask] = np.nan  # MRF-LERC NDV rule
                    rows.append((int(k), name, int(checksum_image(a)[0])))
        yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)
    )


_NAMES_SQL = ", ".join(
    f"('{n}', {c})" for n, c in _EXPECT.items()
)

_LERC_ORACLE = f"""
    SELECT n.n_nationkey AS k, v.name, CAST(v.cks AS INT) AS cks
    FROM nation n CROSS JOIN (VALUES {_NAMES_SQL}) v(name, cks)
"""


def mrf_codec_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRF reader contract: every task reads all seven committed MRF
    fixture variants (frmts/mrf; data file per compression) and emits
    the checksum for the lossless six (pinned 4672) plus a PSNR>=30
    flag (as checksum -1/-2) for the lossy JPEG variant."""
    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("cks", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        from gdal_spark.functions.checksum import checksum_image
        from gdal_spark.functions.tiff import tiff_decode
        from gdal_spark.raster.mrf import mrf_read

        base = "/root/reference/autotest/gdrivers/data/mrf/"
        ref = tiff_decode(
            open("/root/reference/autotest/gcore/data/byte.tif", "rb").read()
        )
        ref = np.squeeze(ref[0] if isinstance(ref, tuple) else ref)
        rows = []
        for pdf in batches:
            for k in pdf["n_nationkey"]:
                for kind in ("none", "tif", "png", "deflate", "lerc",
                             "lerc_v1", "jpeg"):
                    arr, _ = mrf_read(base + kind + "/byte.mrf")
                    a = np.squeeze(arr).astype(np.float64)
                    if kind == "jpeg":
                        mse = float(((a - ref) ** 2).mean())
                        psnr = 10 * math.log10(255 * 255 / max(mse, 1e-12))
                        cks = -1 if psnr >= 30.0 else -2
                    else:
                        cks = int(checksum_image(a)[0])
                    rows.append((int(k), kind, cks))
        yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)
    )


_MRF_ORACLE = """
    SELECT n.n_nationkey AS k, v.kind, CAST(v.cks AS INT) AS cks
    FROM nation n CROSS JOIN (VALUES
        ('none', 4672), ('tif', 4672), ('png', 4672), ('deflate', 4672),
        ('lerc', 4672), ('lerc_v1', 4672), ('jpeg', -1)) v(kind, cks)
"""


def zstd_decode_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTD decode contract: each task reads the reference's
    ZSTD-compressed TIFF fixtures through the engine's pure-Python
    RFC 8878 decoder (functions/zstd.py) and emits band-1 checksums
    (byte fixtures pinned to 4672, rgbsmall to its canonical 21212);
    the two corrupted fixtures must raise (recorded as -1)."""
    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("cks", T.IntegerType()),
        ]
    )

    cases = [
        ("byte_zstd", "byte_zstd.tif", 4672),
        ("byte_zstd_strip", "gtiff/byte_ZSTD.tif", 4672),
        ("byte_zstd_tiled", "gtiff/byte_ZSTD_tiled.tif", 4672),
        ("byte_lerc_zstd", "gtiff/byte_LERC_ZSTD.tif", 4672),
        ("rgb_zstd", "gtiff/rgbsmall_ZSTD.tif", 21212),
        ("rgb_lerc_zstd", "gtiff/rgbsmall_LERC_ZSTD.tif", 21212),
        ("corrupted", "byte_zstd_corrupted.tif", -1),
        ("corrupted2", "byte_zstd_corrupted2.tif", -1),
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions.checksum import checksum_image
        from gdal_spark.functions.tiff import tiff_decode

        rows = []
        for pdf in batches:
            for k in pdf["n_nationkey"]:
                for name, rel, _want in cases:
                    try:
                        a = tiff_decode(open(_GCORE + rel, "rb").read())
                        a = a[0] if isinstance(a, tuple) else a
                        a = np.squeeze(a)
                        if a.ndim == 3:
                            a = a[:, :, 0]
                        cks = int(checksum_image(a)[0])
                    except ValueError:
                        cks = -1
                    rows.append((int(k), name, cks))
        yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)
    )


_ZSTD_ORACLE = """
    SELECT n.n_nationkey AS k, v.name, CAST(v.cks AS INT) AS cks
    FROM nation n CROSS JOIN (VALUES
        ('byte_zstd', 4672), ('byte_zstd_strip', 4672),
        ('byte_zstd_tiled', 4672), ('byte_lerc_zstd', 4672),
        ('rgb_zstd', 21212), ('rgb_lerc_zstd', 21212),
        ('corrupted', -1), ('corrupted2', -1)) v(name, cks)
"""


SPARK = {"lerc_decode_mod": lerc_decode_mod, "mrf_codec_mod": mrf_codec_mod,
         "zstd_decode_mod": zstd_decode_mod}
ORACLE = {"lerc_decode_mod": _LERC_ORACLE, "mrf_codec_mod": _MRF_ORACLE,
          "zstd_decode_mod": _ZSTD_ORACLE}
