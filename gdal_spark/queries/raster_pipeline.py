"""Driver-contract entries for the M4/M5 raster + tiling operators.

`tile_cover_z8` is fully DuckDB-oracle-checked: the synthetic footprint
closed-form (datagen.footprint_np) and the GlobalMercator tile math
(gdal2tiles.py:423-530) are both expressible in ANSI SQL, so the whole
images -> covering-tiles -> counts pipeline is verified end-to-end
against an independent SQL derivation.

Pixel-kernel entries (translate/warp/hillshade/polygonize/zonal/pyramid)
are rows-only here; their exact correctness is pytest-verified against
numpy oracles (tests/test_raster_ops.py, tests/test_tiles.py) since
DuckDB cannot decode image bytes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark import datagen
from gdal_spark.functions import mercator as M

N_COVER = 400
Z_COVER = 8


def _images_meta(spark: SparkSession, n: int) -> DataFrame:
    ids = spark.range(n).select(
        F.format_string("img%08d", F.col("id")).alias("image_id")
    )
    return datagen.with_footprint(ids)


def tile_cover_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """images -> XYZ tiles covering each footprint at z=8 -> images per
    tile. Pure Column math (lonlat->mercator->tile range->explode);
    whole-stage codegen, zero UDFs — the assignment half of the
    north-star metric."""
    df = _images_meta(spark, N_COVER)
    mx0, my0 = M.lonlat_to_meters(F.col("lon_min"), F.col("lat_min"))
    mx1, my1 = M.lonlat_to_meters(F.col("lon_max"), F.col("lat_max"))
    tx0, ty0 = M.meters_to_tile(mx0, my0, Z_COVER)
    tx1, ty1 = M.meters_to_tile(mx1, my1, Z_COVER)
    tiles = (
        df.select(
            F.explode(F.sequence(tx0, tx1)).alias("tx"),
            F.sequence(ty0, ty1).alias("tys"),
        )
        .select("tx", F.explode("tys").alias("ty"))
        .select("tx", M.tms_to_xyz(F.col("ty"), Z_COVER).alias("ty_xyz"))
    )
    return tiles.groupBy("tx", "ty_xyz").agg(F.count(F.lit(1)).alias("n_images"))


TILE_COVER_SQL = f"""
with idx as (select cast(i as double) as i, i as ii from generate_series(0, {N_COVER - 1}) t(i)),
fp as (
  select i,
    case when ii % 5 = 0 then 10.0 + fmod(i * cast(137.50776405003785 as double), 1.0)
         else -180.0 + fmod(i * cast(137.50776405003785 as double), 360.0) end as lon_c,
    case when ii % 5 = 0 then 45.0 + fmod(i * cast(78.61803398874989 as double), 1.0)
         else -85.0 + fmod(i * cast(78.61803398874989 as double), 170.0) end as lat_c,
    0.01 + cast(ii * 37 % 49 as double) / 100.0 as dlon,
    0.01 + cast(ii * 23 % 49 as double) / 100.0 as dlat
  from idx),
bbox as (
  select i,
    lon_c - dlon / 2 as lon_min, lon_c + dlon / 2 as lon_max,
    greatest(-85.0, least(85.0, lat_c - dlat / 2)) as lat_min,
    greatest(-85.0, least(85.0, lat_c + dlat / 2)) as lat_max
  from fp),
m as (
  select i,
    lon_min * (20037508.342789244 / 180.0) as mx0,
    lon_max * (20037508.342789244 / 180.0) as mx1,
    ln(tan((90.0 + lat_min) * pi() / 360.0)) / (pi() / 180.0)
      * (20037508.342789244 / 180.0) as my0,
    ln(tan((90.0 + lat_max) * pi() / 360.0)) / (pi() / 180.0)
      * (20037508.342789244 / 180.0) as my1
  from bbox),
tr as (
  select i,
    cast(ceil((mx0 + 20037508.342789244) / (156543.03392804097 / {2**Z_COVER}) / 256.0) - 1 as bigint) as tx0,
    cast(ceil((mx1 + 20037508.342789244) / (156543.03392804097 / {2**Z_COVER}) / 256.0) - 1 as bigint) as tx1,
    cast(ceil((my0 + 20037508.342789244) / (156543.03392804097 / {2**Z_COVER}) / 256.0) - 1 as bigint) as ty0,
    cast(ceil((my1 + 20037508.342789244) / (156543.03392804097 / {2**Z_COVER}) / 256.0) - 1 as bigint) as ty1
  from m),
tx_exp as (
  select ty0, ty1, unnest(generate_series(tx0, tx1)) as tx from tr),
tiles as (
  select tx, {2**Z_COVER} - 1 - unnest(generate_series(ty0, ty1)) as ty_xyz
  from tx_exp)
select tx, ty_xyz, count(*) as n_images
from tiles group by tx, ty_xyz
"""


def raster_translate_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate window+resize, per-band checksum goldens."""
    from gdal_spark.raster import ops

    imgs = datagen.images_df(spark, 32, with_pixels=True, size_cap=96)
    return ops.checksums(
        ops.translate(imgs, srcwin=(4, 4, 48, 40), outsize=(32, 32), out_fmt="png")
    )


def raster_hillshade_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.raster import ops

    imgs = datagen.images_df(spark, 32, with_pixels=True, size_cap=96)
    return ops.checksums(ops.dem_hillshade(imgs, azimuth=315.0, altitude=45.0))


def raster_hillshade_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem hillshade full variant set: standard/combined/
    multidirectional/igor x Horn/ZevenbergenThorne
    (apps/gdaldem_lib.cpp GDALHillshadeAlg:1046, CombinedAlg:1151,
    MultiDirectionalAlg:1255, IgorAlg:947, Gradient::calc:777).
    Per-image checksum per (variant, alg) — pixel math is pinned by the
    scalar-transcription goldens in tests/test_hillshade_variants.py."""
    from gdal_spark.raster import ops

    imgs = datagen.images_df(spark, 16, with_pixels=True, size_cap=96)
    out = None
    for variant in ("standard", "combined", "multidirectional", "igor"):
        for alg in ("horn", "zevenbergen-thorne"):
            cks = ops.checksums(ops.dem_hillshade_ex(imgs, variant, alg)).select(
                "image_id",
                F.lit(variant).alias("variant"),
                F.lit(alg).alias("alg"),
                F.col("cks_r").alias("cks"),
            )
            out = cks if out is None else out.unionByName(cks)
    return out


def tiff_transcode_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -of GTiff: transcode every image through the
    baseline TIFF codec (functions/tiff.py, frmts/gtiff parity) in
    none/packbits/lzw/deflate/deflate+predictor-2 and verify
    losslessness in-row.  Reports the checksum, compressed sizes, and
    a self-check boolean the bench asserts on."""
    from collections.abc import Iterator

    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("cks", T.IntegerType()),
            T.StructField("bytes_none", T.IntegerType()),
            T.StructField("bytes_packbits", T.IntegerType()),
            T.StructField("bytes_lzw", T.IntegerType()),
            T.StructField("bytes_deflate", T.IntegerType()),
            T.StructField("bytes_deflate_p2", T.IntegerType()),
            T.StructField("lossless_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import checksum as CK
        from gdal_spark.functions import codecs, tiff

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                arr = codecs.decode_image(bytes(r.bytes), r.fmt)
                sizes = {}
                ok = True
                for key, comp, pred in (
                    ("none", "none", 1), ("packbits", "packbits", 1),
                    ("lzw", "lzw", 1), ("deflate", "deflate", 1),
                    ("deflate_p2", "deflate", 2),
                ):
                    buf = tiff.tiff_encode(arr, compression=comp,
                                           predictor=pred)
                    sizes[key] = len(buf)
                    back, _ = tiff.tiff_parse(buf)
                    ok = ok and bool((back == arr).all())
                rows.append(
                    (
                        r.image_id,
                        int(CK.checksum_image(arr)[0]),
                        sizes["none"], sizes["packbits"], sizes["lzw"],
                        sizes["deflate"], sizes["deflate_p2"], ok,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "cks", "bytes_none", "bytes_packbits",
                    "bytes_lzw", "bytes_deflate", "bytes_deflate_p2",
                    "lossless_ok",
                ],
            )

    imgs = datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    return imgs.mapInPandas(run, schema).orderBy("image_id")


def raster_warp_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -r with the full kernel/window method set: cubic
    (Catmull-Rom), lanczos, and median decimation per-band checksums
    (alg/gdalwarper.h:37-67; kernels validated vs scalar formulas in
    tests/test_resample_family.py)."""
    from gdal_spark.raster import ops

    imgs = datagen.images_df(spark, 24, with_pixels=True, size_cap=96)
    cub = ops.checksums(
        ops.translate(imgs, outsize=(64, 48), resample="cubic", out_fmt="png")
    ).select("image_id", F.lit("cubic").alias("method"), "cks_r", "cks_g", "cks_b")
    lan = ops.checksums(
        ops.translate(imgs, outsize=(64, 48), resample="lanczos", out_fmt="png")
    ).select("image_id", F.lit("lanczos").alias("method"), "cks_r", "cks_g", "cks_b")
    med = ops.checksums(
        ops.translate(imgs, outsize=(24, 16), resample="med", out_fmt="png")
    ).select("image_id", F.lit("med").alias("method"), "cks_r", "cks_g", "cks_b")
    return cub.unionByName(lan).unionByName(med).orderBy("image_id", "method")


def raster_warp_cutline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cutline: 4326->3857 warp masked by a diamond cutline
    inscribed in each footprint (apps/gdalwarp_lib.cpp -cutline;
    GDALWarpCutlineMasker, alg/gdalwarper.cpp:1530). Self-checks in-row:
    cut pixels are a strict subset of the uncut warp's, and the valid
    ratio is ~the diamond/bbox area ratio (1/2)."""
    from collections.abc import Iterator

    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("cks", T.IntegerType()),
            T.StructField("full_frac", T.DoubleType()),
            T.StructField("cut_frac", T.DoubleType()),
            T.StructField("subset_ok", T.BooleanType()),
            T.StructField("ratio_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from gdal_spark.functions import checksum as CK
        from gdal_spark.functions import codecs
        from gdal_spark.raster.warp import lonlat_to_meters_np
        from gdal_spark.raster import warp

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode_image(bytes(r.bytes), r.fmt)
                h, w = arr.shape[:2]
                src_gt = warp.footprint_gt(r.lon_min, r.lat_min, r.lon_max, r.lat_max, w, h)
                # diamond cutline = midpoints of the footprint edges, in
                # dst (mercator) coords
                mx = [(r.lon_min + r.lon_max) / 2, r.lon_max, (r.lon_min + r.lon_max) / 2, r.lon_min]
                my = [r.lat_max, (r.lat_min + r.lat_max) / 2, r.lat_min, (r.lat_min + r.lat_max) / 2]
                cx, cy = lonlat_to_meters_np(np.asarray(mx), np.asarray(my))
                cut = [np.column_stack([cx, cy])]
                x0, y0 = lonlat_to_meters_np(np.float64(r.lon_min), np.float64(r.lat_min))
                x1, y1 = lonlat_to_meters_np(np.float64(r.lon_max), np.float64(r.lat_max))
                out_w, out_h = 72, 48
                dst_gt = (float(x0), float(x1 - x0) / out_w, 0.0,
                          float(y1), 0.0, -float(y1 - y0) / out_h)
                full, fmask = warp.warp_array(
                    arr, src_gt, dst_gt, out_h, out_w,
                    resample="bilinear", return_mask=True)
                cutw, cmask = warp.warp_array(
                    arr, src_gt, dst_gt, out_h, out_w,
                    resample="bilinear", return_mask=True, cutline=cut)
                band = cutw[:, :, 0] if cutw.ndim == 3 else cutw
                subset = bool((~fmask & cmask).sum() == 0) and bool(
                    np.array_equal(cutw[cmask], full[cmask])
                )
                ratio = float(cmask.sum()) / max(1, int(fmask.sum()))
                rows.append(
                    (
                        r.image_id, int(CK.checksum(band)),
                        round(float(fmask.mean()), 4),
                        round(float(cmask.mean()), 4),
                        subset, bool(0.4 < ratio < 0.6),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    imgs = datagen.with_footprint(
        datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    )
    return imgs.mapInPandas(run, schema).orderBy("image_id")


def raster_dem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem TRI (Riley) / TPI / roughness over the luma band
    (apps/gdaldem_lib.cpp:2312-2382), per-image mean/max summaries."""
    from gdal_spark.raster import ops

    imgs = datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    out = []
    for name, df in (
        ("tri", ops.dem_tri(imgs)),
        ("tpi", ops.dem_tpi(imgs)),
        ("roughness", ops.dem_roughness(imgs)),
    ):
        out.append(
            ops.checksums(df).select(
                "image_id", F.lit(name).alias("metric"), "cks_r", "cks_g", "cks_b"
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("image_id", "metric")


def raster_warp_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WGS84 -> web-mercator warp (bilinear, approx-transformer)."""
    from gdal_spark.raster import warp

    imgs = datagen.with_footprint(
        datagen.images_df(spark, 24, with_pixels=True, size_cap=96)
    )
    return warp.warp_images(imgs, resample="bilinear").select(
        "image_id", "w", "h", "gt0", "gt1", "gt3", "gt5"
    )


def raster_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed polygonize of a deterministic tiled class raster."""
    from gdal_spark.raster import polygonize_ops as PZ

    rng = np.random.default_rng(7)
    arr = np.zeros((96, 128), dtype=np.uint8)
    for _ in range(10):
        cls = rng.integers(1, 4)
        y0, x0 = rng.integers(0, 80), rng.integers(0, 100)
        arr[y0 : y0 + rng.integers(8, 40), x0 : x0 + rng.integers(8, 50)] = cls
    tiles = PZ.tiles_from_array(spark, arr, 32)
    return (
        PZ.polygonize(tiles, 32, exclude_value=0)
        .select("cls", "npix", "area")
        .orderBy("npix", "cls")
    )


def zonal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon pixel statistics (alg/zonal.cpp stat subset)."""
    from gdal_spark.raster import zonal as Z

    imgs = datagen.with_footprint(
        datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    )
    polys = datagen.polygons_df(spark, 8)
    return Z.zonal_stats(imgs, polys, res=4)


def tile_pyramid_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base tiles + two overview levels; per-zoom tile/lineage counts."""
    from gdal_spark.tiles import pipeline as P

    imgs = datagen.with_footprint(
        datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    )
    pyr = P.build_pyramid(imgs, tz_max=8, tz_min=6)
    out = None
    for tz, df in pyr.items():
        lvl = df.groupBy("tz").agg(
            F.count(F.lit(1)).alias("n_tiles"), F.sum("n_src").alias("n_contribs")
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.orderBy("tz")




def raster_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed marching-squares contour of a deterministic radial
    field (alg/contour.cpp semantics; halo tiles + per-level stitch)."""
    from gdal_spark.raster import contour as C

    yy, xx = np.mgrid[0:64, 0:80].astype(np.float64)
    g = np.hypot(xx - 40.0, yy - 32.0) + 3.0 * np.sin(xx / 7.0)
    tiles = C.halo_tiles_from_array(spark, g, 32)
    out = C.contour(tiles, 32, [10.0, 20.0, 30.0])
    return out.select(
        "level", "closed", "n_points", F.round("length", 6).alias("length")
    ).orderBy("level", "length")


def raster_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_contour -p: banded polygons of the same radial field
    (classify -> cross-tile polygonize -> band bounds). Per-band pixel
    totals partition the raster exactly (tests/test_contour.py)."""
    from gdal_spark.raster.contour import contour_polygons

    yy, xx = np.mgrid[0:64, 0:80].astype(np.float64)
    g = np.hypot(xx - 40.0, yy - 32.0) + 3.0 * np.sin(xx / 7.0)
    out = contour_polygons(spark, g, [10.0, 20.0, 30.0], tile=32)
    return (
        out.groupBy("band", "level_min", "level_max")
        .agg(
            F.count(F.lit(1)).alias("n_regions"),
            F.sum("npix").alias("n_pix"),
            F.round(F.sum("area"), 4).alias("band_area"),
        )
        .orderBy("band")
    )


def image_format_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -of {BMP,PNM,GIF,GTiff,PNG,NITF,WEBP}: transcode every fixture
    image through the full driver registry (functions/codecs.py DECODERS —
    the engine's analog of frmts/gdalallregister.cpp) and verify in-row:
    lossless formats round-trip bit-exact; gif round-trips bit-exact on a
    palette-reduced (<=256 color) rendition of the image, like the
    reference GIF driver which only writes palette rasters
    (frmts/gif/gifdataset.cpp)."""
    from collections.abc import Iterator

    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("cks", T.IntegerType()),
            T.StructField("exact_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from gdal_spark.functions import checksum as CK
        from gdal_spark.functions import codecs
        from gdal_spark.raster import quantize as Q

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                arr = codecs.decode_image(bytes(r.bytes), r.fmt)
                pal = Q.median_cut_pct(arr, 256)
                palettized = Q.apply_pct(Q.nearest_index(arr, pal), pal)
                for fmt in ("png", "tiff", "bmp", "pnm", "gif", "tga",
                            "nitf", "jpeg_prog", "webp"):
                    src = palettized if fmt == "gif" else arr
                    buf = codecs.encode_image(src, fmt)
                    back = codecs.decode_image(buf, fmt)
                    if fmt == "jpeg_prog":
                        # progressive (SOF2) is lossy, but it encodes the
                        # SAME quantized coefficients as the baseline
                        # encoder, so its decode must be bit-identical to
                        # the baseline JPEG round-trip of the same pixels
                        want = codecs.decode_image(
                            codecs.encode_image(src, "jpeg"), "jpeg")
                    else:
                        want = src
                    rows.append(
                        (
                            r.image_id, fmt, len(buf),
                            int(CK.checksum_image(back)[0]),
                            bool(np.array_equal(back, want)),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "n_bytes", "cks", "exact_ok"]
            )

    imgs = datagen.images_df(spark, 24, with_pixels=True, size_cap=64)
    return imgs.mapInPandas(run, schema).orderBy("image_id", "fmt")


SPARK = {
    "tile_cover_z8": tile_cover_z8,
    "image_format_matrix": image_format_matrix,
    "raster_translate_checksum": raster_translate_checksum,
    "raster_hillshade_checksum": raster_hillshade_checksum,
    "raster_warp_cubic": raster_warp_cubic,
    "raster_warp_cutline": raster_warp_cutline,
    "raster_dem_metrics": raster_dem_metrics,
    "tiff_transcode_checksum": tiff_transcode_checksum,
    "raster_warp_mercator": raster_warp_mercator,
    "raster_polygonize": raster_polygonize,
    "zonal_pixel_stats": zonal_pixel_stats,
    "tile_pyramid_z8": tile_pyramid_z8,
    "raster_contour": raster_contour,
    "raster_contour_polygons": raster_contour_polygons,
    "raster_hillshade_variants": raster_hillshade_variants,
}

# Pyramid count oracle: base tiles = the distinct z8 cover of the 24
# closed-form footprints (same mercator math as TILE_COVER_SQL); each
# overview zoom halves tile indices (distinct parents) and n_src
# propagates the ORIGINAL source count (sum over children), so
# n_contribs = the (image, tile) pair count at every zoom. Verified
# against the pipeline including the empty-warp-mask patch skip (no
# fixture tile is ever mask-empty: cover == patches here).
TILE_PYRAMID_SQL = """
with idx as (select cast(i as double) as i, i as ii from generate_series(0, 23) t(i)),
fp as (
  select i,
    case when ii % 5 = 0 then 10.0 + fmod(i * cast(137.50776405003785 as double), 1.0)
         else -180.0 + fmod(i * cast(137.50776405003785 as double), 360.0) end as lon_c,
    case when ii % 5 = 0 then 45.0 + fmod(i * cast(78.61803398874989 as double), 1.0)
         else -85.0 + fmod(i * cast(78.61803398874989 as double), 170.0) end as lat_c,
    0.01 + cast(ii * 37 % 49 as double) / 100.0 as dlon,
    0.01 + cast(ii * 23 % 49 as double) / 100.0 as dlat
  from idx),
bbox as (
  select i, lon_c - dlon / 2 as lon_min, lon_c + dlon / 2 as lon_max,
    greatest(-85.0, least(85.0, lat_c - dlat / 2)) as lat_min,
    greatest(-85.0, least(85.0, lat_c + dlat / 2)) as lat_max
  from fp),
m as (
  select i,
    lon_min * (20037508.342789244 / 180.0) as mx0,
    lon_max * (20037508.342789244 / 180.0) as mx1,
    ln(tan((90.0 + lat_min) * pi() / 360.0)) / (pi() / 180.0)
      * (20037508.342789244 / 180.0) as my0,
    ln(tan((90.0 + lat_max) * pi() / 360.0)) / (pi() / 180.0)
      * (20037508.342789244 / 180.0) as my1
  from bbox),
tr as (
  select i,
    cast(ceil((mx0 + 20037508.342789244) / (156543.03392804097 / 256) / 256.0) - 1 as bigint) as tx0,
    cast(ceil((mx1 + 20037508.342789244) / (156543.03392804097 / 256) / 256.0) - 1 as bigint) as tx1,
    cast(ceil((my0 + 20037508.342789244) / (156543.03392804097 / 256) / 256.0) - 1 as bigint) as ty0,
    cast(ceil((my1 + 20037508.342789244) / (156543.03392804097 / 256) / 256.0) - 1 as bigint) as ty1
  from m),
pairs as (
  select i, tx, ty
  from (select i, ty0, ty1, unnest(generate_series(tx0, tx1)) as tx from tr),
       lateral (select unnest(generate_series(ty0, ty1)) as ty)
),
t8 as (select distinct tx, ty from pairs),
t7 as (select distinct tx // 2 as tx, ty // 2 as ty from t8),
t6 as (select distinct tx // 2 as tx, ty // 2 as ty from t7)
select cast(8 as int) as tz, (select count(*) from t8) as n_tiles,
       (select count(*) from pairs) as n_contribs
union all
select 7, (select count(*) from t7), (select count(*) from pairs)
union all
select 6, (select count(*) from t6), (select count(*) from pairs)
"""

ORACLE = {
    "tile_cover_z8": TILE_COVER_SQL,
    "tile_pyramid_z8": TILE_PYRAMID_SQL,
}


# ---------------------------------------------------------------------------
# Geodetic (EPSG:4326 Plate Carree) tile cover — gdal2tiles -p geodetic
# (GlobalGeodetic, gdal2tiles.py:535-629), tmscompatible resFact=180/256.
# Same footprint fixture as tile_cover_z8; no mercator projection, no
# +/-85 clamp semantics needed beyond the fixture's own bbox clamp.
# ---------------------------------------------------------------------------

Z_GEODETIC = 6


def tile_cover_geodetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _images_meta(spark, N_COVER)
    tx0, ty0 = M.lonlat_to_tile_geodetic(
        F.col("lon_min"), F.col("lat_min"), Z_GEODETIC
    )
    tx1, ty1 = M.lonlat_to_tile_geodetic(
        F.col("lon_max"), F.col("lat_max"), Z_GEODETIC
    )
    tiles = (
        df.select(
            F.explode(F.sequence(tx0, tx1)).alias("tx"),
            F.sequence(ty0, ty1).alias("tys"),
        )
        .select("tx", F.explode("tys").alias("ty_tms"))
    )
    return tiles.groupBy("tx", "ty_tms").agg(
        F.count(F.lit(1)).alias("n_images")
    )


TILE_COVER_GEODETIC_SQL = f"""
with idx as (select cast(i as double) as i, i as ii from generate_series(0, {N_COVER - 1}) t(i)),
fp as (
  select i,
    case when ii % 5 = 0 then 10.0 + fmod(i * cast(137.50776405003785 as double), 1.0)
         else -180.0 + fmod(i * cast(137.50776405003785 as double), 360.0) end as lon_c,
    case when ii % 5 = 0 then 45.0 + fmod(i * cast(78.61803398874989 as double), 1.0)
         else -85.0 + fmod(i * cast(78.61803398874989 as double), 170.0) end as lat_c,
    0.01 + cast(ii * 37 % 49 as double) / 100.0 as dlon,
    0.01 + cast(ii * 23 % 49 as double) / 100.0 as dlat
  from idx),
bbox as (
  select i,
    lon_c - dlon / 2 as lon_min, lon_c + dlon / 2 as lon_max,
    greatest(-85.0, least(85.0, lat_c - dlat / 2)) as lat_min,
    greatest(-85.0, least(85.0, lat_c + dlat / 2)) as lat_max
  from fp),
tr as (
  select i,
    cast(ceil((180.0 + lon_min) / (0.703125 / {2**Z_GEODETIC}) / 256.0) - 1 as bigint) as tx0,
    cast(ceil((180.0 + lon_max) / (0.703125 / {2**Z_GEODETIC}) / 256.0) - 1 as bigint) as tx1,
    cast(ceil((90.0 + lat_min) / (0.703125 / {2**Z_GEODETIC}) / 256.0) - 1 as bigint) as ty0,
    cast(ceil((90.0 + lat_max) / (0.703125 / {2**Z_GEODETIC}) / 256.0) - 1 as bigint) as ty1
  from bbox),
tiles as (
  select tx, unnest(generate_series(ty0, ty1)) as ty_tms
  from (select ty0, ty1, unnest(generate_series(tx0, tx1)) as tx from tr)
)
select tx, ty_tms, count(*) as n_images
from tiles group by tx, ty_tms
"""

SPARK["tile_cover_geodetic"] = tile_cover_geodetic
ORACLE["tile_cover_geodetic"] = TILE_COVER_GEODETIC_SQL
