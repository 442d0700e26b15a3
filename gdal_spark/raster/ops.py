"""Per-image raster operators (gdal_translate / gdaldem / overview family).

Design: every operator is a NARROW map over the canonical images schema
(image_id, bytes, w, h, fmt, ...) via Arrow-batched mapInPandas — decode,
numpy kernel, re-encode, no shuffle, no driver involvement. Operators
compose like GDAL datasets chain through a pipeline (a GDALDataset in,
a GDALDataset out; apps/gdalalg_abstract_pipeline.cpp:2377 step loop).
At 100 TB this is the ideal Spark shape: whole-stage narrow lineage,
partition-local decode, Arrow transfer only at the Python boundary.

Reference semantics:
  * translate: -srcwin / -outsize / -scale / band select
    (apps/gdal_translate_lib.cpp:711-962).
  * overview: integer-factor downsample kernels (gcore/overview.cpp).
  * DEM ops: Horn stencils (apps/gdaldem_lib.cpp:203).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ]
)

CHECKSUM_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("cks_r", T.IntegerType()),
        T.StructField("cks_g", T.IntegerType()),
        T.StructField("cks_b", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def _map_images(df: DataFrame, pixel_fn, out_fmt: str | None = None) -> DataFrame:
    """Lift arr -> arr onto the images table (decode -> kernel -> encode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                out = pixel_fn(arr)
                if out.ndim == 2:
                    out = np.repeat(out[:, :, None], 3, axis=2)
                out = out.astype(np.uint8)
                fmt = out_fmt or r.fmt
                rows.append(
                    (r.image_id, codecs.encode_image(out, fmt),
                     out.shape[1], out.shape[0], fmt)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return df.mapInPandas(run, IMAGE_SCHEMA)


def translate(
    df: DataFrame,
    srcwin: tuple[int, int, int, int] | None = None,
    outsize: tuple[int, int] | None = None,
    resample: str = "near",
    bands: list[int] | None = None,
    scale: tuple[float, float, float, float] | None = None,
    out_fmt: str | None = None,
) -> DataFrame:
    """gdal_translate core: window -> band select -> rescale -> resize.

    srcwin=(xoff, yoff, xsize, ysize) in pixels (gdal_translate_lib.cpp
    -srcwin, clamped at borders); outsize=(out_w, out_h); scale=(src_min,
    src_max, dst_min, dst_max) linear stretch (-scale); bands = 0-based
    band pick list (-b, duplicates allowed).
    """
    from gdal_spark.raster import kernels as K

    def fn(arr: np.ndarray) -> np.ndarray:
        if srcwin is not None:
            x0, y0, xs, ys = srcwin
            x0c, y0c = max(0, x0), max(0, y0)
            arr = arr[y0c : min(arr.shape[0], y0 + ys), x0c : min(arr.shape[1], x0 + xs)]
        if bands is not None:
            arr = arr[:, :, bands]
        out = arr.astype(np.float64)
        if scale is not None:
            smin, smax, dmin, dmax = scale
            out = (out - smin) / (smax - smin) * (dmax - dmin) + dmin
        if outsize is not None:
            ow, oh = outsize
            # gdal_translate -r goes through RasterIO resampled reads,
            # whose bilinear/cubic/cubicspline/lanczos are the
            # scale-adjusted CONVOLUTION kernels (anti-aliased on
            # downsample) — not the warp GWK point-sampling kernels
            # (gcore/rasterio.cpp GDALRasterIOResampled; checksum-verified
            # in tests/test_autotest_parity.py). Upsampling convolution ==
            # point sampling, so dispatching all sizes here is exact.
            if resample in ("bilinear", "cubic", "cubicspline", "lanczos"):
                out = K.resample_convolution(out, oh, ow, resample)
            else:
                # near + window reducers
                # (average/rms/min/max/sum/mode/med/q1/q3)
                out = K.resample(out, oh, ow, resample)
        return np.clip(np.round(out), 0, 255).astype(np.uint8)

    return _map_images(df, fn, out_fmt)


def overview(df: DataFrame, factor: int, method: str = "average") -> DataFrame:
    """One overview level: integer-factor downsample (gcore/overview.cpp
    GDALRegenerateOverviewsEx kernel set)."""
    from gdal_spark.raster import kernels as K

    return _map_images(df, lambda a: K.block_reduce(a, factor, factor, method))


def _luma(arr: np.ndarray) -> np.ndarray:
    """Rec.601 luma as the DEM proxy for 3-band inputs."""
    return 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]


def dem_hillshade(df: DataFrame, azimuth: float = 315.0, altitude: float = 45.0,
                  zfactor: float = 1.0) -> DataFrame:
    from gdal_spark.raster import kernels as K

    return _map_images(df, lambda a: K.hillshade(_luma(a), azimuth=azimuth,
                                                 altitude=altitude, zfactor=zfactor))


def dem_hillshade_ex(df: DataFrame, variant: str, alg: str = "horn",
                     azimuth: float = 315.0, altitude: float = 45.0,
                     zfactor: float = 1.0) -> DataFrame:
    """gdaldem hillshade -combined / -multidirectional / -igor and
    -alg ZevenbergenThorne (apps/gdaldem_lib.cpp GDALHillshade*Alg)."""
    from gdal_spark.raster import kernels as K

    return _map_images(
        df,
        lambda a: K.hillshade_ex(_luma(a), azimuth=azimuth, altitude=altitude,
                                 zfactor=zfactor, variant=variant, alg=alg),
    )


def dem_tri(df: DataFrame, alg: str = "riley") -> DataFrame:
    """Terrain Ruggedness Index (gdaldem TRI, apps/gdaldem_lib.cpp:2312)."""
    from gdal_spark.raster import kernels as K

    return _map_images(df, lambda a: np.clip(K.tri(_luma(a), alg=alg), 0, 255))


def dem_tpi(df: DataFrame) -> DataFrame:
    """Topographic Position Index (gdaldem TPI) — signed, shifted +128
    for the uint8 image lane."""
    from gdal_spark.raster import kernels as K

    return _map_images(df, lambda a: np.clip(K.tpi(_luma(a)) + 128.0, 0, 255))


def dem_roughness(df: DataFrame) -> DataFrame:
    """3x3 max-min roughness (gdaldem roughness)."""
    from gdal_spark.raster import kernels as K

    return _map_images(df, lambda a: np.clip(K.roughness(_luma(a)), 0, 255))


def checksums(df: DataFrame) -> DataFrame:
    """Per-band GDALChecksumImage (alg/gdalchecksum.cpp:48) — the golden
    oracle column for every raster op's test."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import checksum as CK
        from gdal_spark.functions import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(r.bytes, r.fmt)
                c = CK.checksum_image(arr)
                rows.append((r.image_id, c[0], c[1], c[2], arr.shape[1], arr.shape[0]))
            yield pd.DataFrame(rows, columns=[f.name for f in CHECKSUM_SCHEMA.fields])

    return df.mapInPandas(run, CHECKSUM_SCHEMA)


def locationinfo(
    arr, gt=None, x: float = 0.0, y: float = 0.0, mode: str = "pixel",
    fmt: str = "report", bands=None,
) -> str:
    """gdallocationinfo (apps/gdallocationinfo.cpp): report the band
    values under a pixel/georeferenced location in the reference's exact
    report / -xml / -valonly text formats. The distributed batch form of
    the same lookup is queries/point_interpolate (one gather per point
    inside Arrow batches); this is the single-point CLI-parity shape."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nb = a.shape
    if mode == "geoloc":
        if gt is None:
            raise ValueError("geoloc mode needs a geotransform")
        px = int((x - gt[0]) / gt[1])
        py = int((y - gt[3]) / gt[5])
    else:
        px, py = int(x), int(y)
    bands = bands or range(1, nb + 1)
    inside = 0 <= px < w and 0 <= py < h

    def val(b):
        v = a[py, px, b - 1]
        return int(v) if np.issubdtype(a.dtype, np.integer) else float(v)

    if fmt == "valonly":
        return "\n".join(str(val(b)) for b in bands) if inside else ""
    if fmt == "xml":
        out = [f'<Report pixel="{px}" line="{py}">']
        for b in bands:
            out.append(f'  <BandReport band="{b}">')
            out.append(f"    <Value>{val(b)}</Value>" if inside
                       else "    <!-- off raster -->")
            out.append("  </BandReport>")
        out.append("</Report>")
        return "\n".join(out)
    out = ["Report:", f"  Location: ({px}P,{py}L)"]
    for b in bands:
        out.append(f"  Band {b}:")
        if inside:
            out.append(f"    Value: {val(b)}")
        else:
            out.append("    Value: (off raster)")
    return "\n".join(out)


def compare_images(a: DataFrame, b: DataFrame) -> DataFrame:
    """`gdal raster compare` (apps/gdalalg_raster_compare.cpp
    ComparePixels:707-806): per-band differing-pixel count + maximum
    absolute pixel difference between two image tables joined on
    image_id. One equi-join (broadcastable when one side is small, else
    hash on the key), then an Arrow-batched per-pair kernel — no second
    shuffle. Size mismatches are reported as n_diff=-1 (the reference's
    'not comparable' report line)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("n_diff", T.LongType()),
            T.StructField("max_abs_diff", T.DoubleType()),
        ]
    )

    pair = a.select(
        "image_id", F.col("bytes").alias("bytes_a"), F.col("fmt").alias("fmt_a")
    ).join(
        b.select(
            "image_id",
            F.col("bytes").alias("bytes_b"),
            F.col("fmt").alias("fmt_b"),
        ),
        on="image_id",
    )

    def run(batches):
        from gdal_spark.functions import codecs

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr_a = codecs.decode_image(r.bytes_a, r.fmt_a)
                arr_b = codecs.decode_image(r.bytes_b, r.fmt_b)
                if arr_a.ndim == 2:
                    arr_a = arr_a[:, :, None]
                if arr_b.ndim == 2:
                    arr_b = arr_b[:, :, None]
                if arr_a.shape != arr_b.shape:
                    rows.append((r.image_id, 0, -1, 0.0))
                    continue
                diff = np.abs(
                    arr_a.astype(np.float64) - arr_b.astype(np.float64)
                )
                for band in range(arr_a.shape[2]):
                    d = diff[:, :, band]
                    rows.append(
                        (
                            r.image_id,
                            band + 1,
                            int((d != 0).sum()),
                            float(d.max()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["image_id", "band", "n_diff", "max_abs_diff"]
            )

    return pair.mapInPandas(run, schema)
