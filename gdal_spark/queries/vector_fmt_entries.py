"""Contract queries for the OGR vector format drivers.

ogr2ogr_format_chain pushes a nation-derived feature layer through
EVERY implemented container format in sequence
(GeoJSONSeq -> GeoPackage -> CSV/WKT -> Shapefile) and returns the
attributes + coordinates read back off the final shapefile — the
distributed restatement of chained `ogr2ogr -f ...` conversions
(apps/ogr2ogr_lib.cpp; drivers: ogr/ogrsf_frmts/{geojson,gpkg,csv,shape}).
The DuckDB oracle computes the same rows straight from the source table,
so any format driver corrupting a value, a coordinate, or a row count
fails the hash compare.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gdal_spark.sources.tables import load


@pandas_udf(T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]))
def _point_xy(wkb_col: pd.Series) -> pd.DataFrame:
    from gdal_spark.functions import wkb as W

    xs, ys = [], []
    for b in wkb_col:
        x, y = W.parse(bytes(b))[1]
        xs.append(x)
        ys.append(y)
    return pd.DataFrame({"x": xs, "y": ys})


def ogr2ogr_format_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.sources import vector_formats as VF

    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    # deterministic point per nation (same closed form as the oracle)
    x = (k % 12).cast("double") * 30.0 - 180.0 + 0.25
    y = (k % 7).cast("double") * 25.0 - 87.5 + 0.125

    @pandas_udf(T.BinaryType())
    def mk_point(xx: pd.Series, yy: pd.Series) -> pd.Series:
        from gdal_spark.functions import wkb as W

        return pd.Series(
            [W.write_point(float(a), float(b)) for a, b in zip(xx, yy)]
        )

    feats = n.select(
        k.alias("fid").cast("long"),
        mk_point(x, y).alias("wkb"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("long").alias("rkey"),
    )
    root = tempfile.mkdtemp(prefix="ogr2ogr_chain_")
    VF.write_geojson_seq(feats, os.path.join(root, "a_seq"))
    d1 = VF.read_geojson_seq(spark, os.path.join(root, "a_seq"))
    VF.write_gpkg(d1, os.path.join(root, "b.gpkg"), layer="nations")
    d2 = VF.read_gpkg(spark, os.path.join(root, "b.gpkg"))
    VF.write_csv_wkt(d2, os.path.join(root, "c_csv"))
    d3 = VF.read_csv_wkt(spark, os.path.join(root, "c_csv"))
    VF.write_shapefile(d3.orderBy("fid"), os.path.join(root, "d.shp"))
    d4 = VF.read_shapefile(spark, os.path.join(root, "d.shp"))
    xy = _point_xy(F.col("wkb"))
    return d4.select(
        F.col("fid").alias("chain_fid"),  # shapefile FID = record number
        "name",
        "rkey",
        F.round(xy["x"], 4).alias("x"),
        F.round(xy["y"], 4).alias("y"),
    )


_CHAIN_ORACLE = """
    SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS chain_fid,
           n_name AS name,
           CAST(n_regionkey AS BIGINT) AS rkey,
           round((n_nationkey % 12) * 30.0 - 180.0 + 0.25, 4) AS x,
           round((n_nationkey % 7) * 25.0 - 87.5 + 0.125, 4) AS y
    FROM nation
"""

GRID_H = GRID_W = 16


def grid_format_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate across the geo-grid formats: a deterministic DEM
    (value = ((r*37 + c*101) mod 97) / 4 — exact quarter steps, so text
    round-trips are bit-exact) is pushed AAIGrid -> XYZ -> ENVI on disk,
    then ingested with the distributed read_grid_files loader; returns
    per-row sums off the final array. Oracle recomputes them from the
    closed form (frmts/aaigrid, frmts/xyz, frmts/raw ENVI semantics)."""
    import numpy as np

    from gdal_spark.functions import gridfmts as GF
    from gdal_spark.raster.asciigrid import aaig_decode, aaig_encode
    from gdal_spark.raster.envi import envi_encode

    r, c = np.meshgrid(np.arange(GRID_H), np.arange(GRID_W), indexing="ij")
    dem = ((r * 37 + c * 101) % 97) * 0.25
    gt = (500.0, 2.0, 0.0, 800.0, 0.0, -2.0)
    root = tempfile.mkdtemp(prefix="grid_chain_")
    a, ameta = aaig_decode(aaig_encode(dem, gt), datatype="Float64")
    x, xgt, _ = GF.xyz_decode(GF.xyz_encode(a, ameta["gt"]))
    hdr, raw = envi_encode(x, xgt)
    p = os.path.join(root, "chain.dat")
    open(p, "wb").write(raw)
    open(os.path.join(root, "chain.hdr"), "w").write(hdr)
    df = GF.read_grid_files(spark, [(p, "envi")])

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def row_sums(data: pd.Series, h: pd.Series, w: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d, hh, ww in zip(data, h, w):
            arr = np.frombuffer(bytes(d), "<f8").reshape(int(hh), int(ww))
            out.append([float(v) for v in arr.sum(axis=1)])
        return pd.Series(out)

    return df.select(
        F.posexplode(row_sums(F.col("data"), F.col("h"), F.col("w"))).alias(
            "row_id", "row_sum"
        )
    )


_GRID_ORACLE = f"""
    SELECT r.range AS row_id,
           sum(((r.range * 37 + c.range * 101) % 97) * 0.25) AS row_sum
    FROM range({GRID_H}) r CROSS JOIN range({GRID_W}) c
    GROUP BY r.range
"""

def netcdf_grid_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netCDF classic hop of the grid-format chain (frmts/netcdf classic
    path, re-expressed in gdal_spark/functions/netcdf.py): the same
    closed-form DEM is written as a CF-convention CDF-1 file (x/y pixel-
    center coordinate variables, bottom-up storage, _FillValue), read back
    with the distributed read_grid_files loader, and reduced to per-row
    sums. The DuckDB oracle recomputes them from the closed form, so a
    bottom-up flip bug, a coordinate-spacing bug, or any byte-order slip
    in the codec fails the hash compare."""
    import numpy as np

    from gdal_spark.functions import gridfmts as GF
    from gdal_spark.functions import netcdf as NC

    r, c = np.meshgrid(np.arange(GRID_H), np.arange(GRID_W), indexing="ij")
    dem = ((r * 37 + c * 101) % 97) * 0.25
    gt = (500.0, 2.0, 0.0, 800.0, 0.0, -2.0)
    root = tempfile.mkdtemp(prefix="nc_chain_")
    p = os.path.join(root, "chain.nc")
    open(p, "wb").write(NC.nc_encode_grid(dem, gt, nodata=-9999.0))
    df = GF.read_grid_files(spark, [(p, "nc")])

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def row_sums(data: pd.Series, h: pd.Series, w: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d, hh, ww in zip(data, h, w):
            arr = np.frombuffer(bytes(d), "<f8").reshape(int(hh), int(ww))
            out.append([float(v) for v in arr.sum(axis=1)])
        return pd.Series(out)

    return df.select(
        F.posexplode(row_sums(F.col("data"), F.col("h"), F.col("w"))).alias(
            "row_id", "row_sum"
        )
    )


def zarr_chunk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr V2 chunk-parallel scan (frmts/zarr re-expressed in
    sources/zarr.py): the closed-form DEM is written as a zlib-compressed
    chunked store, scanned chunk-per-task, and reduced to per-row sums.
    The (5, 7) chunking leaves partial edge chunks, so chunk clipping is
    part of the checked semantics."""
    import numpy as np

    from gdal_spark.sources import zarr as Z

    r, c = np.meshgrid(np.arange(GRID_H), np.arange(GRID_W), indexing="ij")
    dem = (((r * 37 + c * 101) % 97) * 0.25).astype("<f8")
    root = tempfile.mkdtemp(prefix="zarr_chain_")
    p = os.path.join(root, "dem.zarr")
    Z.write_zarr_array(p, dem, chunks=(5, 7), compressor="zlib")
    df = Z.read_zarr_chunks(spark, p)

    @pandas_udf(T.ArrayType(T.StructType([
        T.StructField("row_id", T.IntegerType()),
        T.StructField("part_sum", T.DoubleType()),
    ])))
    def row_parts(data: pd.Series, offs: pd.Series, sizes: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d, o, s in zip(data, offs, sizes):
            arr = np.frombuffer(bytes(d), "<f8").reshape(int(s[0]), int(s[1]))
            out.append([
                {"row_id": int(o[0] + i), "part_sum": float(v)}
                for i, v in enumerate(arr.sum(axis=1))
            ])
        return pd.Series(out)

    parts = df.select(
        F.explode(
            row_parts(F.col("data"), F.col("offsets"), F.col("sizes"))
        ).alias("p")
    )
    return (
        parts.groupBy(F.col("p.row_id").alias("row_id"))
        .agg(F.round(F.sum("p.part_sum"), 4).alias("row_sum"))
    )


def mbtiles_tile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBTiles round trip (frmts/mbtiles re-expressed in
    sources/mbtiles.py): four closed-form 16x16 gray quadrants become z1
    PNG tiles in an MBTiles file (TMS rows), are re-read with the
    distributed per-tile scan, and reduced to per-tile sums. The oracle
    recomputes each quadrant sum, so a TMS row flip, a PNG codec bug, or
    a tile-key mixup fails the hash compare."""
    import numpy as np

    from gdal_spark.sources import mbtiles as MB

    n = 16
    r, c = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    tiles = {}
    for q, (qy_top, qx) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
        dem = (((r * 37 + c * 101) % 97) + q).astype(np.uint8)
        ty_tms = 1 - qy_top  # TMS row 1 = top
        tiles[(1, qx, ty_tms)] = dem[:, :, None]
    root = tempfile.mkdtemp(prefix="mbt_scan_")
    p = os.path.join(root, "scan.mbtiles")
    MB.write_mbtiles(p, tiles)
    df = MB.read_mbtiles_tiles(spark, p)

    @pandas_udf(T.DoubleType())
    def tile_sum(data: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            [float(np.frombuffer(bytes(d), np.uint8).sum()) for d in data]
        )

    return df.select(
        F.col("x").alias("tx"),
        (F.lit(1) - F.col("y")).alias("ty"),  # back to top-origin rows
        F.round(tile_sum(F.col("data")), 4).alias("tile_sum"),
    )


_MBT_ORACLE = """
    WITH base AS (
        SELECT sum((r.range * 37 + c.range * 101) % 97) AS s
        FROM range(16) r CROSS JOIN range(16) c
    )
    SELECT q.range % 2 AS tx, q.range // 2 AS ty,
           round(s + 256 * q.range, 4) AS tile_sum
    FROM base, range(4) q
"""


def xml_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KML -> GPX interchange (ogr/ogrsf_frmts/kml, gpx drivers): nation
    points written as KML placemarks, parsed back, re-written as GPX
    waypoints and ingested with the distributed XML loader; the oracle
    recomputes name + coordinates straight from the table."""
    from gdal_spark.functions import wkb as W
    from gdal_spark.functions.wkt import from_wkt
    from gdal_spark.sources import gpx as GPX
    from gdal_spark.sources import kml as KML

    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    feats = [
        {
            "name": r["n_name"],
            "wkt": "POINT (%r %r)" % (
                (r["n_nationkey"] % 12) * 30.0 - 180.0 + 0.25,
                (r["n_nationkey"] % 7) * 25.0 - 87.5 + 0.125,
            ),
        }
        for r in sorted(n, key=lambda r: r["n_nationkey"])
    ]
    kml = KML.write_kml(
        [{"name": "nations", "fields": [("name", "string")], "features": feats}]
    )
    back = KML.parse_kml(kml)[0]["features"]
    wpts = []
    for f in back:
        x, y = W.parse(from_wkt(f["wkt"]))[1]
        wpts.append({"lon": x, "lat": y, "name": f["Name"]})
    root = tempfile.mkdtemp(prefix="xmlfmt_")
    gpx = os.path.join(root, "nations.gpx")
    with open(gpx, "w", encoding="utf-8") as fh:
        fh.write(GPX.write_gpx(waypoints=wpts))
    df = KML.read_xml_features(spark, [gpx])
    xy = _point_xy(F.col("wkb"))
    return df.select(
        "name",
        F.round(xy["x"], 4).alias("x"),
        F.round(xy["y"], 4).alias("y"),
    )


_XML_ORACLE = """
    SELECT n_name AS name,
           round((n_nationkey % 12) * 30.0 - 180.0 + 0.25, 4) AS x,
           round((n_nationkey % 7) * 25.0 - 87.5 + 0.125, 4) AS y
    FROM nation
"""

def arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC / Feather v2 driver (ogr/ogrsf_frmts/arrow
    OGRFeatherDriver): nation-derived point features written as
    one-IPC-file-per-partition with the geoarrow.wkb column tag, read
    back one-file-per-task; attributes and coordinates must survive
    bit-exactly (full-precision doubles, int64, utf8)."""
    from gdal_spark.sources import vector_formats as VF

    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x = (k % 12).cast("double") * 30.0 - 180.0 + 0.25
    y = (k % 7).cast("double") * 25.0 - 87.5 + 0.125

    @pandas_udf(T.BinaryType())
    def mk_point(xx: pd.Series, yy: pd.Series) -> pd.Series:
        from gdal_spark.functions import wkb as W

        return pd.Series(
            [W.write_point(float(a), float(b)) for a, b in zip(xx, yy)]
        )

    feats = n.select(
        k.cast("long").alias("fid"),
        mk_point(x, y).alias("wkb"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("long").alias("rkey"),
    )
    root = tempfile.mkdtemp(prefix="arrow_ipc_")
    VF.write_arrow_ipc(feats.repartition(4), os.path.join(root, "pts_arrow"))
    back = VF.read_arrow_ipc(spark, os.path.join(root, "pts_arrow"))
    xy = _point_xy(F.col("wkb"))
    return back.select(
        "fid",
        "name",
        "rkey",
        F.round(xy["x"], 4).alias("x"),
        F.round(xy["y"], 4).alias("y"),
    )


_ARROW_ORACLE = """
    SELECT CAST(n_nationkey AS BIGINT) AS fid,
           n_name AS name,
           CAST(n_regionkey AS BIGINT) AS rkey,
           round((n_nationkey % 12) * 30.0 - 180.0 + 0.25, 4) AS x,
           round((n_nationkey % 7) * 25.0 - 87.5 + 0.125, 4) AS y
    FROM nation
"""


def rawfmt_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate across the round-2 raw-family writers: the same
    closed-form quarter-step DEM is pushed BT -> ZMap -> HF2
    (VERTICAL_PRECISION=0.25, exact in float32) -> EHdr -> Idrisi RST
    on disk, the last hop ingested with the distributed loader, reduced
    to per-row sums. Reference semantics: frmts/raw/btdataset.cpp,
    frmts/zmap, frmts/hf2, frmts/raw/ehdrdataset.cpp, frmts/idrisi.
    Every hop is float32-exact so the DuckDB closed-form oracle
    hash-matches; any writer/reader value slip fails the gate."""
    import numpy as np

    from gdal_spark.functions import gridfmts as GF
    from gdal_spark.raster import rawfmts as RF

    r, c = np.meshgrid(np.arange(GRID_H), np.arange(GRID_W), indexing="ij")
    dem = (((r * 37 + c * 101) % 97) * 0.25).astype(np.float32)
    gt = (500.0, 2.0, 0.0, 800.0, 0.0, -2.0)
    a1, m1 = RF.bt_decode(RF.bt_encode(dem, gt))
    a2, m2 = RF.zmap_decode(RF.zmap_encode(a1.astype(np.float64), m1["gt"]))
    a3, m3 = RF.hf2_decode(
        RF.hf2_encode(a2.astype(np.float32), m2["gt"], vert_pres=0.25)
    )
    hdr, body = RF.ehdr_encode(a3, m3["gt"])
    a4, m4 = RF.ehdr_decode(hdr, body)
    rdc, rst = RF.rst_encode(a4, m4["gt"])
    root = tempfile.mkdtemp(prefix="rawfmt_chain_")
    p = os.path.join(root, "chain.rst")
    open(p, "wb").write(rst)
    open(os.path.join(root, "chain.rdc"), "w").write(rdc)
    df = GF.read_grid_files(spark, [(p, "rst")])

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def row_sums(data: pd.Series, h: pd.Series, w: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d, hh, ww in zip(data, h, w):
            arr = np.frombuffer(bytes(d), "<f8").reshape(int(hh), int(ww))
            out.append([float(v) for v in arr.sum(axis=1)])
        return pd.Series(out)

    return df.select(
        F.posexplode(row_sums(F.col("data"), F.col("h"), F.col("w"))).alias(
            "row_id", "row_sum"
        )
    )


SPARK = {
    "ogr2ogr_format_chain": ogr2ogr_format_chain,
    "arrow_ipc_roundtrip": arrow_ipc_roundtrip,
    "grid_format_chain": grid_format_chain,
    "rawfmt_chain": rawfmt_chain,
    "netcdf_grid_chain": netcdf_grid_chain,
    "zarr_chunk_scan": zarr_chunk_scan,
    "mbtiles_tile_scan": mbtiles_tile_scan,
    "xml_format_roundtrip": xml_format_roundtrip,
}
ORACLE = {
    "netcdf_grid_chain": _GRID_ORACLE,
    "zarr_chunk_scan": _GRID_ORACLE,
    "mbtiles_tile_scan": _MBT_ORACLE,
    "ogr2ogr_format_chain": _CHAIN_ORACLE,
    "arrow_ipc_roundtrip": _ARROW_ORACLE,
    "grid_format_chain": _GRID_ORACLE,
    "rawfmt_chain": _GRID_ORACLE,
    "xml_format_roundtrip": _XML_ORACLE,
}


def gml_codec_roundtrip(spark, sf_dir):
    """GML geometry codec at the driver gate: per-nation GML fragments
    (pos point + posList linestring + exterior-ring polygon) parsed to
    OGR WKT; DuckDB recomputes the exact strings by concatenation."""
    from pyspark.sql import types as T

    from gdal_spark.sources.gml import gml_to_wkt
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("wkt_pt", T.StringType()),
            T.StructField("wkt_ln", T.StringType()),
            T.StructField("wkt_pg", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                pt = gml_to_wkt(f"<Point><pos>{k} {2 * k}</pos></Point>")
                ln = gml_to_wkt(
                    f"<LineString><posList>{k} 0 {k + 1} 1 {k + 2} 0"
                    "</posList></LineString>"
                )
                pg = gml_to_wkt(
                    "<Polygon><exterior><LinearRing><posList>"
                    f"{k} {k} {k + 4} {k} {k + 4} {k + 4} {k} {k}"
                    "</posList></LinearRing></exterior></Polygon>"
                )
                rows.append((k, pt, ln, pg))
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)


_GML_ORACLE = """
    SELECT n_nationkey AS k,
           'POINT (' || n_nationkey || ' ' || 2 * n_nationkey || ')'
               AS wkt_pt,
           'LINESTRING (' || n_nationkey || ' 0,' || n_nationkey + 1
               || ' 1,' || n_nationkey + 2 || ' 0)' AS wkt_ln,
           'POLYGON ((' || n_nationkey || ' ' || n_nationkey || ','
               || n_nationkey + 4 || ' ' || n_nationkey || ','
               || n_nationkey + 4 || ' ' || n_nationkey + 4 || ','
               || n_nationkey || ' ' || n_nationkey || '))' AS wkt_pg
    FROM nation
"""

SPARK["gml_codec_roundtrip"] = gml_codec_roundtrip
ORACLE["gml_codec_roundtrip"] = _GML_ORACLE


def mif_codec_roundtrip(spark, sf_dir):
    """MIF parser at the driver gate: per-nation MIF text (Point + Pline
    + Region with the MID delimiter/quote conventions) parsed to WKT +
    typed fields; DuckDB recomputes the strings and values."""
    from pyspark.sql import types as T

    from gdal_spark.sources.mif import parse_mif
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("wkt_pt", T.StringType()),
            T.StructField("wkt_pg", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                mif = (
                    "Version 300\n"
                    'Delimiter ","\n'
                    "Columns 2\n"
                    "  NAME Char (20)\n"
                    "  VAL Float\n"
                    "Data\n"
                    f"Point {k} {2 * k}\n"
                    "Region 1\n"
                    "4\n"
                    f"{k} {k}\n"
                    f"{k + 3} {k}\n"
                    f"{k + 3} {k + 3}\n"
                    f"{k} {k}\n"
                    "Brush (1, 0)\n"
                )
                mid = f'"n{k} ""x""",{k}.5\n"n{k} ""x""",{k}.5\n'
                feats = parse_mif(mif, mid)
                rows.append(
                    (
                        k, feats[0]["wkt"], feats[1]["wkt"],
                        feats[0]["NAME"], feats[0]["VAL"],
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)


_MIF_ORACLE = """
    SELECT n_nationkey AS k,
           'POINT (' || n_nationkey || ' ' || 2 * n_nationkey || ')'
               AS wkt_pt,
           'POLYGON ((' || n_nationkey || ' ' || n_nationkey || ','
               || n_nationkey + 3 || ' ' || n_nationkey || ','
               || n_nationkey + 3 || ' ' || n_nationkey + 3 || ','
               || n_nationkey || ' ' || n_nationkey || '))' AS wkt_pg,
           'n' || n_nationkey || ' "x"' AS name,
           n_nationkey + 0.5 AS val
    FROM nation
"""

SPARK["mif_codec_roundtrip"] = mif_codec_roundtrip
ORACLE["mif_codec_roundtrip"] = _MIF_ORACLE


def dxf_codec_roundtrip(spark, sf_dir):
    """DXF entity parser at the driver gate: per-nation group-code/value
    streams (POINT with Layer, LINE, closed LWPOLYLINE) parsed to WKT;
    DuckDB recomputes the exact strings by concatenation."""
    from pyspark.sql import types as T

    from gdal_spark.sources.dxf import parse_dxf
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("wkt_pt", T.StringType()),
            T.StructField("wkt_ln", T.StringType()),
            T.StructField("wkt_pg", T.StringType()),
            T.StructField("layer", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                dxf = "\n".join(
                    [
                        "0", "SECTION", "2", "ENTITIES",
                        "0", "POINT", "8", f"L{k}",
                        "10", str(k), "20", str(2 * k),
                        "0", "LINE",
                        "10", str(k), "20", "0",
                        "11", str(k + 1), "21", "1",
                        "0", "LWPOLYLINE", "90", "3", "70", "1",
                        "10", str(k), "20", str(k),
                        "10", str(k + 4), "20", str(k),
                        "10", str(k + 4), "20", str(k + 4),
                        "0", "ENDSEC", "0", "EOF", "",
                    ]
                )
                f = parse_dxf(dxf)
                rows.append(
                    (k, f[0]["wkt"], f[1]["wkt"], f[2]["wkt"], f[0]["Layer"])
                )
            yield pd.DataFrame(rows, columns=[s.name for s in sch.fields])

    return load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)


_DXF_ORACLE = """
    SELECT n_nationkey AS k,
           'POINT (' || n_nationkey || ' ' || 2 * n_nationkey || ')'
               AS wkt_pt,
           'LINESTRING (' || n_nationkey || ' 0,' || n_nationkey + 1
               || ' 1)' AS wkt_ln,
           'LINESTRING (' || n_nationkey || ' ' || n_nationkey || ','
               || n_nationkey + 4 || ' ' || n_nationkey || ','
               || n_nationkey + 4 || ' ' || n_nationkey + 4 || ','
               || n_nationkey || ' ' || n_nationkey || ')' AS wkt_pg,
           'L' || n_nationkey AS layer
    FROM nation
"""

SPARK["dxf_codec_roundtrip"] = dxf_codec_roundtrip
ORACLE["dxf_codec_roundtrip"] = _DXF_ORACLE


def gpx_kml_codec_roundtrip(spark, sf_dir):
    """GPX + KML readers at the driver gate: per-nation synthetic GPX
    (waypoint + 2-point route) and KML (Folder/Placemark point) parsed
    through the real drivers; DuckDB recomputes the exact WKT strings
    and field values."""
    from pyspark.sql import types as T

    from gdal_spark.sources.gpx import parse_gpx
    from gdal_spark.sources.kml import parse_kml
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("wpt_wkt", T.StringType()),
            T.StructField("wpt_ele", T.DoubleType()),
            T.StructField("wpt_time", T.StringType()),
            T.StructField("rte_wkt", T.StringType()),
            T.StructField("kml_layer", T.StringType()),
            T.StructField("kml_name", T.StringType()),
            T.StructField("kml_wkt", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                gpx_text = (
                    '<gpx xmlns="http://www.topografix.com/GPX/1/1">'
                    f'<wpt lat="{k}" lon="{k + 1}"><ele>{k * 10}</ele>'
                    f"<time>2024-03-0{k % 9 + 1}T12:34:56Z</time>"
                    f"<name>wp{k}</name></wpt>"
                    f'<rte><rtept lat="{k}" lon="0"/>'
                    f'<rtept lat="{k + 2}" lon="3"/></rte></gpx>'
                )
                L = parse_gpx(gpx_text)
                w = L["waypoints"][0]
                r = L["routes"][0]
                kml_text = (
                    '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
                    f"<Folder><name>layer{k % 4}</name>"
                    f"<Placemark><name>pm{k}</name><Point>"
                    f"<coordinates>{k + 5},{k + 6}</coordinates>"
                    "</Point></Placemark></Folder></Document></kml>"
                )
                kl = parse_kml(kml_text)[0]
                rows.append(
                    (
                        k, w["wkt"], w["ele"], w["time"], r["wkt"],
                        kl["name"], kl["features"][0]["Name"],
                        kl["features"][0]["wkt"],
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)


_GPX_KML_ORACLE = """
    SELECT n_nationkey AS k,
           'POINT (' || n_nationkey + 1 || ' ' || n_nationkey || ')'
               AS wpt_wkt,
           CAST(n_nationkey * 10 AS DOUBLE) AS wpt_ele,
           '2024/03/0' || n_nationkey % 9 + 1 || ' 12:34:56+00' AS wpt_time,
           'LINESTRING (0 ' || n_nationkey || ',3 ' || n_nationkey + 2
               || ')' AS rte_wkt,
           'layer' || n_nationkey % 4 AS kml_layer,
           'pm' || n_nationkey AS kml_name,
           'POINT (' || n_nationkey + 5 || ' ' || n_nationkey + 6 || ')'
               AS kml_wkt
    FROM nation
"""

SPARK["gpx_kml_codec_roundtrip"] = gpx_kml_codec_roundtrip
ORACLE["gpx_kml_codec_roundtrip"] = _GPX_KML_ORACLE

def kml_gpx_writer_roundtrip(spark, sf_dir):
    """KML + GPX WRITERS at the driver gate: per-nation features are
    serialized through write_kml (Schema/Folder/Placemark layout of
    ogrkmllayer.cpp ICreateFeature, default polygon/line style) and
    write_gpx (ogrgpxlayer.cpp WriteFeature grouping), then parsed back
    through the real readers; DuckDB recomputes every WKT/field value."""
    from pyspark.sql import types as T

    from gdal_spark.sources.gpx import parse_gpx, write_gpx
    from gdal_spark.sources.kml import parse_kml, write_kml
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("kml_name", T.StringType()),
            T.StructField("kml_pt", T.StringType()),
            T.StructField("kml_poly", T.StringType()),
            T.StructField("kml_val", T.LongType()),
            T.StructField("n_style", T.LongType()),
            T.StructField("wpt_wkt", T.StringType()),
            T.StructField("wpt_ele", T.DoubleType()),
            T.StructField("trk_wkt", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                m = k + 1
                kml = write_kml(
                    [
                        dict(
                            name=f"L{k % 3}",
                            fields=[("name", "string"), ("val", "int")],
                            features=[
                                dict(name=f"pm{k}", val=2 * k,
                                     wkt=f"POINT ({k} {m})"),
                                dict(val=k + 7,
                                     wkt=f"POLYGON ((0 0,{m} 0,{m} {m},0 0))"),
                            ],
                        )
                    ]
                )
                lay = parse_kml(kml)[0]
                gpx = write_gpx(
                    waypoints=[dict(lon=m, lat=k, ele=10 * k)],
                    track_points=[
                        dict(lon=k, lat=0, track_fid=0, track_seg_id=0),
                        dict(lon=m, lat=1, track_fid=0, track_seg_id=0),
                        dict(lon=k + 2, lat=2, track_fid=0, track_seg_id=1),
                    ],
                )
                G = parse_gpx(gpx)
                rows.append(
                    (
                        k,
                        lay["features"][0]["Name"],
                        lay["features"][0]["wkt"],
                        lay["features"][1]["wkt"],
                        int(lay["features"][0]["val"]),
                        kml.count("ff0000ff"),
                        G["waypoints"][0]["wkt"],
                        G["waypoints"][0]["ele"],
                        G["tracks"][0]["wkt"],
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return load(spark, sf_dir, "nation").select("n_nationkey").mapInPandas(run, sch)


_KML_GPX_WRITER_ORACLE = """
    SELECT n_nationkey AS k,
           'pm' || n_nationkey AS kml_name,
           'POINT (' || n_nationkey || ' ' || n_nationkey + 1 || ')'
               AS kml_pt,
           'POLYGON ((0 0,' || n_nationkey + 1 || ' 0,' || n_nationkey + 1
               || ' ' || n_nationkey + 1 || ',0 0))' AS kml_poly,
           CAST(2 * n_nationkey AS BIGINT) AS kml_val,
           CAST(1 AS BIGINT) AS n_style,
           'POINT (' || n_nationkey + 1 || ' ' || n_nationkey || ')'
               AS wpt_wkt,
           CAST(10 * n_nationkey AS DOUBLE) AS wpt_ele,
           'MULTILINESTRING ((' || n_nationkey || ' 0,' || n_nationkey + 1
               || ' 1),(' || n_nationkey + 2 || ' 2))' AS trk_wkt
    FROM nation
"""

SPARK["kml_gpx_writer_roundtrip"] = kml_gpx_writer_roundtrip
ORACLE["kml_gpx_writer_roundtrip"] = _KML_GPX_WRITER_ORACLE

def ogrvrt_union_warped(spark, sf_dir):
    """OGR vector VRT driver at the driver gate (ogr/ogrsf_frmts/vrt):
    an inline VRT unions a plain layer (SrcSQL + PointFromColumns +
    Field remap + FID column) with a mercator-WARPED layer over the same
    parquet source; DuckDB recomputes the union FID offsets, field-union
    nulls, and the exact EPSG:3857 forward formulas."""
    from pyspark.sql import types as T

    from gdal_spark.sources.ogrvrt import read_ogrvrt

    src = f"{sf_dir}/nation.parquet"
    xml = f"""<OGRVRTDataSource>
      <OGRVRTUnionLayer name="u">
        <OGRVRTLayer name="a">
          <SrcDataSource>{src}</SrcDataSource>
          <SrcSQL>SELECT n_nationkey, n_name, n_regionkey FROM nation
                  WHERE n_nationkey &lt; 10</SrcSQL>
          <FID>n_nationkey</FID>
          <GeometryField encoding="PointFromColumns"
                         x="n_regionkey" y="n_nationkey"/>
          <Field name="name" src="n_name" type="String"/>
        </OGRVRTLayer>
        <OGRVRTWarpedLayer>
          <OGRVRTLayer name="b">
            <SrcDataSource>{src}</SrcDataSource>
            <SrcSQL>SELECT n_nationkey, n_name, n_regionkey FROM nation
                    WHERE n_nationkey &gt;= 10</SrcSQL>
            <FID>n_nationkey</FID>
            <GeometryField encoding="PointFromColumns"
                           x="n_regionkey" y="n_nationkey"/>
            <Field name="rk" src="n_regionkey" type="Integer"/>
          </OGRVRTLayer>
          <TargetSRS>EPSG:3857</TargetSRS>
        </OGRVRTWarpedLayer>
        <SourceLayerFieldName>src</SourceLayerFieldName>
      </OGRVRTUnionLayer>
    </OGRVRTDataSource>"""
    lyr = read_ogrvrt(spark, xml)["u"]

    sch = T.StructType(
        [
            T.StructField("fid", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("rk", T.IntegerType()),
            T.StructField("gx", T.DoubleType()),
            T.StructField("gy", T.DoubleType()),
        ]
    )

    def decode(batches):
        import pandas as pd

        from gdal_spark.functions.wkb import parse

        for pdf in batches:
            xs, ys = [], []
            for b in pdf["wkb"]:
                _, p = parse(bytes(b))
                xs.append(round(float(p[0]), 4))
                ys.append(round(float(p[1]), 4))
            yield pd.DataFrame(
                {
                    "fid": pdf["fid"], "src": pdf["src"],
                    "name": pdf["name"], "rk": pdf["rk"],
                    "gx": xs, "gy": ys,
                }
            )

    return lyr.mapInPandas(decode, sch)


_OGRVRT_ORACLE = """
    SELECT CASE WHEN n_nationkey < 10 THEN n_nationkey
                ELSE n_nationkey + 10 END AS fid,
           CASE WHEN n_nationkey < 10 THEN 'a' ELSE 'b' END AS src,
           CASE WHEN n_nationkey < 10 THEN n_name END AS name,
           CASE WHEN n_nationkey >= 10 THEN CAST(n_regionkey AS INT)
                END AS rk,
           CASE WHEN n_nationkey < 10 THEN CAST(n_regionkey AS DOUBLE)
                ELSE round(n_regionkey * 20037508.342789244 / 180, 4)
                END AS gx,
           CASE WHEN n_nationkey < 10 THEN CAST(n_nationkey AS DOUBLE)
                ELSE round(ln(tan((90 + n_nationkey) * pi() / 360))
                           / pi() * 20037508.342789244, 4)
                END AS gy
    FROM nation
"""

SPARK["ogrvrt_union_warped"] = ogrvrt_union_warped
ORACLE["ogrvrt_union_warped"] = _OGRVRT_ORACLE

def ogr2ogr_options_chain(spark, sf_dir):
    """ogr2ogr option pipeline at the driver gate (-where -> -clipsrc ->
    -segmentize -> -select, apps/ogr2ogr_lib.cpp order): nation-derived
    box polygons go GeoJSON -> convert(...) -> CSV-WKT and back; DuckDB
    recomputes the clip rectangle, the exact OGRSimpleCurve::segmentize
    vertex count (floor(L/3 - 0.01) intermediates per edge above the
    1e-5 split tolerance), and the clipped area."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from gdal_spark.sources import vector_formats as VF
    from gdal_spark.sources.tables import load

    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = (k % 10).cast("double") * 10.0 - 50.0
    y0 = (k % 5).cast("double") * 8.0 - 20.0

    @pandas_udf(T.BinaryType())
    def mk_box(xx: pd.Series, yy: pd.Series) -> pd.Series:
        import numpy as np

        from gdal_spark.functions import wkb as W

        out = []
        for a, b in zip(xx, yy):
            ring = np.array(
                [[a, b], [a + 12, b], [a + 12, b + 9], [a, b + 9], [a, b]]
            )
            out.append(W.write_polygon([ring]))
        return pd.Series(out)

    feats = n.select(
        k.cast("long").alias("fid"),
        mk_box(x0, y0).alias("wkb"),
        F.col("n_name").alias("name"),
        (k % 7).cast("long").alias("pop"),
    )
    root = tempfile.mkdtemp(prefix="ogr2ogr_opts_")
    VF.write_geojson_seq(feats, os.path.join(root, "src_seq"))
    VF.convert(
        spark,
        os.path.join(root, "src_seq"), "geojsonseq",
        os.path.join(root, "out_csv"), "csv",
        where="pop > 1",
        clipsrc=(-30.0, -15.0, 45.0, 25.0),
        segmentize=3.0,
        select=["name", "pop"],
    )
    out = VF.read_csv_wkt(spark, os.path.join(root, "out_csv"))

    sch = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("pop", T.LongType()),
            T.StructField("npts", T.IntegerType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("cx0", T.DoubleType()),
            T.StructField("cy0", T.DoubleType()),
            T.StructField("cx1", T.DoubleType()),
            T.StructField("cy1", T.DoubleType()),
        ]
    )

    def emit(batches):
        from gdal_spark.functions import wkb as W
        from gdal_spark.functions.geomops import wkt_area
        from gdal_spark.functions.simplify import n_points_wkb
        from gdal_spark.functions.wkt import to_wkt

        for pdf in batches:
            rows = []
            for name, pop, wkb in zip(pdf["name"], pdf["pop"], pdf["wkb"]):
                buf = bytes(wkb)
                ring = W.polygon_rings(buf)[0][0]
                rows.append(
                    (
                        name, int(pop), int(n_points_wkb(buf)),
                        round(float(wkt_area(to_wkt(buf))), 4),
                        round(float(ring[:, 0].min()), 4),
                        round(float(ring[:, 1].min()), 4),
                        round(float(ring[:, 0].max()), 4),
                        round(float(ring[:, 1].max()), 4),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return out.mapInPandas(emit, sch)


_OGR2OGR_OPTS_ORACLE = """
    WITH g AS (
        SELECT n_name AS name, CAST(n_nationkey % 7 AS BIGINT) AS pop,
               greatest(CAST((n_nationkey % 10) * 10 - 50 AS DOUBLE), -30)
                   AS cx0,
               least(CAST((n_nationkey % 10) * 10 - 50 AS DOUBLE) + 12, 45)
                   AS cx1,
               greatest(CAST((n_nationkey % 5) * 8 - 20 AS DOUBLE), -15)
                   AS cy0,
               least(CAST((n_nationkey % 5) * 8 - 20 AS DOUBLE) + 9, 25)
                   AS cy1
        FROM nation
        WHERE n_nationkey % 7 > 1
    )
    SELECT name, pop,
           CAST(5
             + 2 * (CASE WHEN (cx1 - cx0) * (cx1 - cx0) > 9 + 9e-5
                         THEN floor((cx1 - cx0) / 3.0 - 0.01) ELSE 0 END)
             + 2 * (CASE WHEN (cy1 - cy0) * (cy1 - cy0) > 9 + 9e-5
                         THEN floor((cy1 - cy0) / 3.0 - 0.01) ELSE 0 END)
             AS INT) AS npts,
           round((cx1 - cx0) * (cy1 - cy0), 4) AS area,
           cx0, cy0, cx1, cy1
    FROM g
    WHERE cx1 > cx0 AND cy1 > cy0
"""

SPARK["ogr2ogr_options_chain"] = ogr2ogr_options_chain
ORACLE["ogr2ogr_options_chain"] = _OGR2OGR_OPTS_ORACLE

def mvt_tile_roundtrip(spark, sf_dir):
    """MVT vector-tile sink + tileset scan at the driver gate
    (ogr/ogrsf_frmts/mvt): nation-derived WebMercator points sit on
    EXACT zoom-2 tile-pixel positions, so the write -> pbf tree -> read
    roundtrip is lossless and DuckDB recomputes the tile assignment and
    the dequantized coordinates bit-for-bit (to 4 decimals)."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from gdal_spark.functions.mercator import ORIGIN_SHIFT as MERC_MAX
    from gdal_spark.sources.mvt import read_mvt_tileset, write_mvt_tiles
    from gdal_spark.sources.tables import load

    dim = 2 * MERC_MAX / 4  # zoom 2
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    m = (k * 1237) % 16384
    q = (k * 911) % 16384
    feats = n.select(
        (F.lit(-MERC_MAX) + m.cast("double") * (dim / 4096)).alias("x"),
        (F.lit(MERC_MAX) - q.cast("double") * (dim / 4096)).alias("y"),
        F.col("n_name").alias("name"),
    )
    root = tempfile.mkdtemp(prefix="mvt_sink_")
    write_mvt_tiles(feats, root, zoom=2, layer_name="nations")
    back = read_mvt_tileset(spark, root)

    sch = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("tx", T.IntegerType()),
            T.StructField("ty", T.IntegerType()),
            T.StructField("layer", T.StringType()),
            T.StructField("gx", T.DoubleType()),
            T.StructField("gy", T.DoubleType()),
        ]
    )

    def emit(batches):
        import re

        for pdf in batches:
            rows = []
            for z, x, y, layer, wkt in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["wkt"]
            ):
                nums = re.findall(r"-?\d+(?:\.\d+)?(?:[eE]-?\d+)?", wkt)
                rows.append(
                    (int(z), int(x), int(y), layer,
                     round(float(nums[0]), 4), round(float(nums[1]), 4))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return back.mapInPandas(emit, sch)


_MVT_M = 20037508.342789244

_MVT_ORACLE = f"""
    WITH g AS (
        SELECT (n_nationkey * 1237) % 16384 AS m,
               (n_nationkey * 911) % 16384 AS q
        FROM nation
    )
    SELECT CAST(2 AS INT) AS z,
           CAST(m // 4096 AS INT) AS tx,
           CAST(q // 4096 AS INT) AS ty,
           'nations' AS layer,
           round((-{_MVT_M!r} + (m // 4096) * {_MVT_M!r} / 2)
                 + (m % 4096) * ({_MVT_M!r} / 2) / 4096, 4) AS gx,
           round(({_MVT_M!r} - (q // 4096) * {_MVT_M!r} / 2)
                 - (q % 4096) * ({_MVT_M!r} / 2) / 4096, 4) AS gy
    FROM g
"""

SPARK["mvt_tile_roundtrip"] = mvt_tile_roundtrip
ORACLE["mvt_tile_roundtrip"] = _MVT_ORACLE

def mvt_polygon_pyramid(spark, sf_dir):
    """write_mvt_pyramid polygon path at the driver gate: nation boxes
    sit on exact zoom-1 tile-pixel positions (lossless quantization,
    buffer 0), so every tile's clipped polygon area in pixel units is
    the integer rectangle-intersection DuckDB recomputes."""
    import tempfile

    from pyspark.sql import types as T

    from gdal_spark.functions.mercator import ORIGIN_SHIFT as MERC_MAX
    from gdal_spark.sources.mvt import read_mvt_tileset, write_mvt_pyramid
    from gdal_spark.sources.tables import load

    px = MERC_MAX / 4096  # zoom-1 pixel size
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0p = (k * 371) % (8192 - 1200)
    y0p = (k * 533) % (8192 - 900)

    @pandas_udf(T.BinaryType())
    def mk_box(xx: pd.Series, yy: pd.Series) -> pd.Series:
        import numpy as np

        from gdal_spark.functions import wkb as W

        out = []
        for a, b in zip(xx, yy):
            x0 = -MERC_MAX + float(a) * px
            yt = MERC_MAX - float(b) * px
            x1, yb = x0 + 1200 * px, yt - 900 * px
            ring = np.array(
                [[x0, yb], [x1, yb], [x1, yt], [x0, yt], [x0, yb]]
            )
            out.append(W.write_polygon([ring]))
        return pd.Series(out)

    feats = n.select(
        k.cast("long").alias("k"), mk_box(x0p, y0p).alias("wkb")
    )
    root = tempfile.mkdtemp(prefix="mvt_pyr_")
    write_mvt_pyramid(feats, root, 1, 1, layer_name="boxes",
                      buffer_px=0, id_col="k")
    back = read_mvt_tileset(spark, root)

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("tx", T.IntegerType()),
            T.StructField("ty", T.IntegerType()),
            T.StructField("area_px", T.LongType()),
        ]
    )

    def emit(batches):
        from gdal_spark.functions.geomops import wkt_area

        for pdf in batches:
            rows = []
            for mvt_id, x, y, wkt in zip(
                pdf["mvt_id"], pdf["x"], pdf["y"], pdf["wkt"]
            ):
                a = wkt_area(wkt) / (px * px)
                rows.append((int(mvt_id), int(x), int(y), round(a)))
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return back.mapInPandas(emit, sch)


_MVT_PYR_ORACLE = """
    WITH g AS (
        SELECT n_nationkey AS k,
               (n_nationkey * 371) % (8192 - 1200) AS x0,
               (n_nationkey * 533) % (8192 - 900) AS y0
        FROM nation
    ), t AS (
        SELECT k, x0, y0, tx.range AS tx, ty.range AS ty
        FROM g CROSS JOIN range(2) tx CROSS JOIN range(2) ty
    )
    SELECT k, CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
           CAST((least(x0 + 1200, (tx + 1) * 4096) - greatest(x0, tx * 4096))
              * (least(y0 + 900, (ty + 1) * 4096) - greatest(y0, ty * 4096))
              AS BIGINT) AS area_px
    FROM t
    WHERE least(x0 + 1200, (tx + 1) * 4096) > greatest(x0, tx * 4096)
      AND least(y0 + 900, (ty + 1) * 4096) > greatest(y0, ty * 4096)
"""

SPARK["mvt_polygon_pyramid"] = mvt_polygon_pyramid
ORACLE["mvt_polygon_pyramid"] = _MVT_PYR_ORACLE

def flatgeobuf_roundtrip(spark, sf_dir):
    """FlatGeobuf codec at the driver gate (ogr/ogrsf_frmts/flatgeobuf):
    nation-derived features go through write_flatgeobuf (backward-built
    flatbuffers) and the distributed read_flatgeobuf scan; DuckDB
    recomputes every field and coordinate."""
    import json
    import os
    import tempfile

    from pyspark.sql import types as T

    from gdal_spark.sources.flatgeobuf import (
        COL_DOUBLE,
        COL_LONG,
        COL_STRING,
        read_flatgeobuf,
        write_flatgeobuf,
    )
    from gdal_spark.sources.tables import load

    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # 25-row dim: the write is a driver-side sink
    )
    cols = [("k", COL_LONG), ("nm", COL_STRING), ("rk", COL_DOUBLE)]
    feats = []
    for r in sorted(rows, key=lambda r: r["n_nationkey"]):
        k = int(r["n_nationkey"])
        feats.append(
            dict(
                gtype=1, xy=[k * 2.5, 100.0 - k], ends=None,
                fields={"k": k, "nm": r["n_name"],
                        "rk": float(r["n_regionkey"]) + 0.25},
            )
        )
    root = tempfile.mkdtemp(prefix="fgb_")
    path = os.path.join(root, "nations.fgb")
    write_flatgeobuf(path, "nations", cols, feats)
    back = read_flatgeobuf(spark, path)

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("nm", T.StringType()),
            T.StructField("rk", T.DoubleType()),
            T.StructField("gx", T.DoubleType()),
            T.StructField("gy", T.DoubleType()),
        ]
    )

    def emit(batches):
        import re

        for pdf in batches:
            out = []
            for wkt, fj in zip(pdf["wkt"], pdf["fields"]):
                f = json.loads(fj)
                nums = re.findall(r"-?\d+(?:\.\d+)?", wkt)
                out.append(
                    (int(f["k"]), f["nm"], float(f["rk"]),
                     float(nums[0]), float(nums[1]))
                )
            yield pd.DataFrame(out, columns=[s.name for s in sch.fields])

    return back.mapInPandas(emit, sch)


_FGB_ORACLE = """
    SELECT n_nationkey AS k, n_name AS nm,
           CAST(n_regionkey AS DOUBLE) + 0.25 AS rk,
           CAST(n_nationkey * 2.5 AS DOUBLE) AS gx,
           CAST(100 - n_nationkey AS DOUBLE) AS gy
    FROM nation
"""

SPARK["flatgeobuf_roundtrip"] = flatgeobuf_roundtrip
ORACLE["flatgeobuf_roundtrip"] = _FGB_ORACLE

def dgn_codec_roundtrip(spark, sf_dir):
    """DGN v7 codec at the driver gate (ogr/ogrsf_frmts/dgn + the VAX
    double conversion of port/cpl_vax.cpp): per-nation line/shape/text
    elements roundtrip through write_dgn -> read_dgn on an exact UOR
    grid (1/10000 master units), DuckDB recomputes every coordinate,
    color and label."""
    from pyspark.sql import types as T

    from gdal_spark.sources.dgn import read_dgn, write_dgn
    from gdal_spark.sources.tables import load

    sch = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("line_wkt", T.StringType()),
            T.StructField("shape_wkt", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tx", T.DoubleType()),
            T.StructField("ty", T.DoubleType()),
            T.StructField("color", T.IntegerType()),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for k, name in zip(pdf["n_nationkey"], pdf["n_name"]):
                k = int(k)
                a, b = k * 0.25, k * 0.5 + 1.0
                data = write_dgn(
                    [
                        dict(type="line",
                             points=[(a, b), (a + 2.0, b - 1.0)],
                             level=2, color=(k % 7) + 1),
                        dict(type="shape",
                             points=[(0, 0), (k + 1.0, 0),
                                     (k + 1.0, 3.0), (0, 0)],
                             level=3, color=83),
                        dict(type="text", origin=(a, b + 5.0),
                             text=str(name), height=1.0),
                    ],
                    origin=(-50, -50, 0),
                )
                feats = read_dgn(data)
                txt = feats[2]
                import re

                tc = [float(v) for v in
                      re.findall(r"-?\d+(?:\.\d+)?", txt["wkt"])]
                rows.append(
                    (k, feats[0]["wkt"], feats[1]["wkt"], txt["Text"],
                     round(tc[0], 4), round(tc[1], 4),
                     int(feats[0]["ColorIndex"]))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .mapInPandas(run, sch)
    )


_DGN_ORACLE = """
    SELECT n_nationkey AS k,
           'LINESTRING (' || printf('%.8g', n_nationkey * 0.25) || ' '
               || printf('%.8g', n_nationkey * 0.5 + 1.0) || ','
               || printf('%.8g', n_nationkey * 0.25 + 2.0) || ' '
               || printf('%.8g', n_nationkey * 0.5) || ')' AS line_wkt,
           'POLYGON ((0 0,' || printf('%.8g', n_nationkey + 1.0) || ' 0,'
               || printf('%.8g', n_nationkey + 1.0)
               || ' 3,0 0))' AS shape_wkt,
           n_name AS text,
           CAST(n_nationkey * 0.25 AS DOUBLE) AS tx,
           CAST(n_nationkey * 0.5 + 6.0 AS DOUBLE) AS ty,
           CAST(n_nationkey % 7 + 1 AS INT) AS color
    FROM nation
"""

SPARK["dgn_codec_roundtrip"] = dgn_codec_roundtrip
ORACLE["dgn_codec_roundtrip"] = _DGN_ORACLE


def pmtiles_roundtrip(spark, sf_dir):
    """PMTiles v3 archive sink + distributed ranged scan at the driver
    gate (ogr/ogrsf_frmts/pmtiles, pmtiles.hpp): the mvt_tile_roundtrip
    zoom-2 nation points are written to a z/x/y pbf tree, packed into a
    clustered single-file archive (Hilbert tile ids, varint directories,
    gzip tile payloads), then read back with per-task byte-range reads.
    Same closed form as the MVT oracle — the archive must be lossless."""
    import re
    import tempfile

    from gdal_spark.functions.mercator import ORIGIN_SHIFT as MERC_MAX
    from gdal_spark.sources.mvt import write_mvt_tiles
    from gdal_spark.sources.pmtiles import (
        read_pmtiles,
        tiles_from_mvt_tree,
        write_pmtiles,
    )

    dim = 2 * MERC_MAX / 4  # zoom 2
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    m = (k * 1237) % 16384
    q = (k * 911) % 16384
    feats = n.select(
        (F.lit(-MERC_MAX) + m.cast("double") * (dim / 4096)).alias("x"),
        (F.lit(MERC_MAX) - q.cast("double") * (dim / 4096)).alias("y"),
        F.col("n_name").alias("name"),
    )
    root = tempfile.mkdtemp(prefix="pmt_tree_")
    write_mvt_tiles(feats, root, zoom=2, layer_name="nations")
    arch = root + ".pmtiles"
    write_pmtiles(arch, tiles_from_mvt_tree(root), metadata={"name": "nations"})
    back = read_pmtiles(spark, arch, force_multi=True)

    sch = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("tx", T.IntegerType()),
            T.StructField("ty", T.IntegerType()),
            T.StructField("layer", T.StringType()),
            T.StructField("gx", T.DoubleType()),
            T.StructField("gy", T.DoubleType()),
        ]
    )

    def emit(batches):
        for pdf in batches:
            rows = []
            for z, x, y, layer, wkt in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["layer"], pdf["wkt"]
            ):
                nums = re.findall(r"-?\d+(?:\.\d+)?(?:[eE]-?\d+)?", wkt)
                rows.append(
                    (int(z), int(x), int(y), layer,
                     round(float(nums[0]), 4), round(float(nums[1]), 4))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return back.mapInPandas(emit, sch)


SPARK["pmtiles_roundtrip"] = pmtiles_roundtrip
ORACLE["pmtiles_roundtrip"] = _MVT_ORACLE


def spatialite_roundtrip(spark, sf_dir):
    """SQLite/SpatiaLite driver at the gate (ogr/ogrsf_frmts/sqlite,
    ImportSpatiaLiteGeometry/ExportSpatiaLiteGeometry): nation-derived
    triangles written as COMPRESSED SpatiaLite blobs (intermediate
    vertices = float32 deltas), read back through the rowid-range
    partitioned scan, vertices re-emitted for the closed-form oracle.
    Vertex 0 and the closing vertex are exact doubles; vertices 1-2 are
    delta-compressed, lossless at 4 dp for these coordinate magnitudes."""
    import tempfile

    from gdal_spark.functions import wkb as W
    from gdal_spark.sources.spatialite import (
        read_spatialite,
        write_spatialite,
    )
    from gdal_spark.sources.tables import load

    n = load(spark, sf_dir, "nation")

    sch_w = T.StructType(
        [
            T.StructField("wkb", T.BinaryType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )

    def mk(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for kk, nm in zip(pdf["n_nationkey"], pdf["n_name"]):
                kk = int(kk)
                ring = np.array(
                    [
                        [kk * 0.25, kk * 0.5],
                        [kk * 0.25 + 3.0, kk * 0.5 + 1.0],
                        [kk * 0.25 + 1.0, kk * 0.5 + 4.0],
                        [kk * 0.25, kk * 0.5],
                    ]
                )
                rows.append((W.write_polygon([ring]), kk, str(nm)))
            yield pd.DataFrame(rows, columns=["wkb", "k", "name"])

    feats = n.select("n_nationkey", "n_name").mapInPandas(mk, sch_w)
    path = tempfile.mktemp(suffix=".sqlite", prefix="splite_")
    write_spatialite(
        feats, path, layer="tri", srid=32631, geom_type="POLYGON",
        compressed=True,
    )
    back = read_spatialite(spark, path)

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("srid", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
            T.StructField("x2", T.DoubleType()),
            T.StructField("y2", T.DoubleType()),
            T.StructField("x3", T.DoubleType()),
            T.StructField("y3", T.DoubleType()),
        ]
    )

    def emit(batches):
        for pdf in batches:
            rows = []
            for kk, srid, blob, nm in zip(
                pdf["k"], pdf["srid"], pdf["wkb"], pdf["name"]
            ):
                ring = W.polygon_rings(bytes(blob))[0][0]
                rows.append(
                    (int(kk), int(srid), str(nm))
                    + tuple(round(float(v), 4) for v in ring[:3].ravel())
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return back.mapInPandas(emit, sch)


_SPLITE_ORACLE = """
    SELECT CAST(n_nationkey AS INT) AS k,
           CAST(32631 AS INT) AS srid,
           n_name AS name,
           round(n_nationkey * 0.25, 4) AS x1,
           round(n_nationkey * 0.5, 4) AS y1,
           round(n_nationkey * 0.25 + 3.0, 4) AS x2,
           round(n_nationkey * 0.5 + 1.0, 4) AS y2,
           round(n_nationkey * 0.25 + 1.0, 4) AS x3,
           round(n_nationkey * 0.5 + 4.0, 4) AS y3
    FROM nation
"""

SPARK["spatialite_roundtrip"] = spatialite_roundtrip
ORACLE["spatialite_roundtrip"] = _SPLITE_ORACLE


def osm_lines_layer(spark, sf_dir):
    """OSM PBF driver at the gate (ogr/ogrsf_frmts/osm): a deterministic
    nation-derived OSM extract (two nodes + one tagged way per nation) is
    encoded as a real PBF (dense nodes, delta ways), then the OGR
    'lines' layer is assembled distributed — posexplode(refs) x nodes
    join, regroup by way — with the osmconf.ini z_order formula. DuckDB
    recomputes ids, coords and z_order in closed form."""
    import tempfile

    from gdal_spark.sources.osm import osm_layers, write_osm_pbf
    from gdal_spark.sources.tables import load

    n = load(spark, sf_dir, "nation")
    rows = n.select("n_nationkey", "n_name").collect()  # 25 rows: driver-ok
    highways = ["motorway", "primary", "residential", "secondary"]
    nodes, ways = [], []
    for r in rows:
        k = int(r.n_nationkey)
        nodes.append((2 * k + 1, k * 0.1, k * 0.05, {}))
        nodes.append((2 * k + 2, k * 0.1 + 1.0, k * 0.05 + 0.5, {}))
        ways.append(
            (k + 1, [2 * k + 1, 2 * k + 2],
             {"highway": highways[k % 4], "name": str(r.n_name)})
        )
    path = tempfile.mktemp(suffix=".osm.pbf", prefix="osm_gate_")
    write_osm_pbf(path, sorted(nodes), ways)
    lines = osm_layers(spark, path)["lines"]
    return lines.select(
        F.col("osm_id").cast("int").alias("k1"),
        F.col("name").alias("name"),
        F.col("highway").alias("highway"),
        F.col("z_order").alias("z_order"),
        F.col("wkt").alias("wkt"),
    )


_OSM_ORACLE = """
    SELECT CAST(n_nationkey + 1 AS INT) AS k1,
           n_name AS name,
           CASE n_nationkey % 4 WHEN 0 THEN 'motorway' WHEN 1 THEN 'primary'
                WHEN 2 THEN 'residential' ELSE 'secondary' END AS highway,
           CAST(CASE n_nationkey % 4 WHEN 0 THEN 9 WHEN 1 THEN 7
                WHEN 2 THEN 3 ELSE 6 END AS INT) AS z_order,
           'LINESTRING (' || printf('%.8g', n_nationkey * 0.1) || ' '
               || printf('%.8g', n_nationkey * 0.05) || ','
               || printf('%.8g', n_nationkey * 0.1 + 1.0) || ' '
               || printf('%.8g', n_nationkey * 0.05 + 0.5) || ')' AS wkt
    FROM nation
"""

SPARK["osm_lines_layer"] = osm_lines_layer
ORACLE["osm_lines_layer"] = _OSM_ORACLE


def filegdb_roundtrip(spark, sf_dir):
    """OpenFileGDB driver at the gate (ogr/ogrsf_frmts/openfilegdb/
    filegdbtable.cpp): nation triangles snap onto the layer's integer
    grid (origin -400, scale 1e9 — exact at 4 dp), written as real
    .gdbtable/.gdbtablx files (system catalog + field descriptors +
    FileGDB signed-varint shape buffers) and read back through the
    offset-sliced distributed scan."""
    import tempfile

    from gdal_spark.functions import wkb as W
    from gdal_spark.sources.openfilegdb import (
        read_openfilegdb,
        write_openfilegdb,
    )
    from gdal_spark.sources.tables import load

    n = load(spark, sf_dir, "nation")

    sch_w = T.StructType(
        [
            T.StructField("wkb", T.BinaryType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("name", T.StringType()),
        ]
    )

    def mk(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for kk, nm in zip(pdf["n_nationkey"], pdf["n_name"]):
                kk = int(kk)
                ring = np.array(
                    [
                        [kk * 0.25, kk * 0.5],
                        [kk * 0.25 + 3.0, kk * 0.5 + 1.0],
                        [kk * 0.25 + 1.0, kk * 0.5 + 4.0],
                        [kk * 0.25, kk * 0.5],
                    ]
                )
                rows.append((W.write_polygon([ring]), kk, str(nm)))
            yield pd.DataFrame(rows, columns=["wkb", "k", "name"])

    feats = n.select("n_nationkey", "n_name").mapInPandas(mk, sch_w)
    gdb = tempfile.mkdtemp(suffix=".gdb", prefix="fgdb_gate_")
    write_openfilegdb(feats, gdb, layer="tri")
    back = read_openfilegdb(spark, gdb)

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
            T.StructField("x2", T.DoubleType()),
            T.StructField("y2", T.DoubleType()),
            T.StructField("x3", T.DoubleType()),
            T.StructField("y3", T.DoubleType()),
        ]
    )

    def emit(batches):
        for pdf in batches:
            rows = []
            for kk, blob, nm in zip(pdf["k"], pdf["wkb"], pdf["name"]):
                ring = W.polygon_rings(bytes(blob))[0][0]
                rows.append(
                    (int(kk), str(nm))
                    + tuple(round(float(v), 4) for v in ring[:3].ravel())
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return back.mapInPandas(emit, sch)


_FGDB_ORACLE = """
    SELECT CAST(n_nationkey AS INT) AS k,
           n_name AS name,
           round(n_nationkey * 0.25, 4) AS x1,
           round(n_nationkey * 0.5, 4) AS y1,
           round(n_nationkey * 0.25 + 3.0, 4) AS x2,
           round(n_nationkey * 0.5 + 1.0, 4) AS y2,
           round(n_nationkey * 0.25 + 1.0, 4) AS x3,
           round(n_nationkey * 0.5 + 4.0, 4) AS y3
    FROM nation
"""

SPARK["filegdb_roundtrip"] = filegdb_roundtrip
ORACLE["filegdb_roundtrip"] = _FGDB_ORACLE


def chart_grid_formats_roundtrip(spark, sf_dir):
    """BSB/KAP + GXF + SAGA drivers at the gate (frmts/bsb/bsb_read.c,
    frmts/gxf/gxfopen.c, frmts/saga/sagadataset.cpp): each nation's
    16x16 mod-raster v=(r*37+c*101+k*13)%97 roundtrips through all
    three codecs in its task (BSB as the 1-based RLE palette stream,
    GXF as ASCII grid, SAGA as .sgrd/.sdat), and the decoded aggregates
    must match DuckDB's closed-form recomputation."""
    from gdal_spark.functions.gridfmts import (
        gxf_decode,
        gxf_encode,
        saga_decode,
        saga_encode,
    )
    from gdal_spark.queries.closedform_raster import _mod_raster, _nation
    from gdal_spark.raster.bsb import bsb_decode, bsb_encode

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("vmin", T.IntegerType()),
            T.StructField("vmax", T.IntegerType()),
        ]
    )
    gt = (0.0, 1.0, 0.0, 16.0, 0.0, -1.0)

    def run(batches):
        import numpy as np

        pal = np.arange(97 * 3, dtype=np.uint8).reshape(97, 3)
        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                arr = _mod_raster(k)
                back_b, _ = bsb_decode(bsb_encode(arr, pal))
                back_g, _, _ = gxf_decode(gxf_encode(arr.astype(float), gt))
                hdr, sdat = saga_encode(arr.astype(float), gt)
                back_s, _, _ = saga_decode(hdr, sdat)
                for fmt, back in (("bsb", back_b), ("gxf", back_g),
                                  ("saga", back_s)):
                    rows.append(
                        (k, fmt, int(back.sum()), int(back.min()),
                         int(back.max()))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return _nation(spark, sf_dir).mapInPandas(run, sch)


_CHART_ORACLE = """
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
    FROM agg, (SELECT 'bsb' AS fmt UNION ALL SELECT 'gxf'
               UNION ALL SELECT 'saga') f
"""

SPARK["chart_grid_formats_roundtrip"] = chart_grid_formats_roundtrip
ORACLE["chart_grid_formats_roundtrip"] = _CHART_ORACLE


def pcidsk_roundtrip(spark, sf_dir):
    """PCIDSK driver at the gate (frmts/pcidsk/sdk): each nation's
    mod-raster roundtrips through a BAND-interleaved .pix (big-endian
    payload, spec-width ASCII header fields) in its task; decoded
    aggregates match DuckDB's closed form."""
    from gdal_spark.queries.closedform_raster import _mod_raster, _nation
    from gdal_spark.raster.pcidsk import (
        open_pcidsk,
        read_band,
        write_pcidsk,
    )

    sch = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("vmin", T.IntegerType()),
            T.StructField("vmax", T.IntegerType()),
        ]
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                arr = _mod_raster(k)
                enc = write_pcidsk([arr, (arr.astype(np.int16) * -1)])
                info = open_pcidsk(enc)
                back = read_band(enc, info, 0)
                back2 = read_band(enc, info, 1)
                assert np.array_equal(back2, arr.astype(np.int16) * -1)
                rows.append(
                    (k, int(back.sum()), int(back.min()), int(back.max()))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return _nation(spark, sf_dir).mapInPandas(run, sch)


_PCIDSK_ORACLE = """
    WITH cells AS (
        SELECT n.n_nationkey AS k,
               (r.range * 37 + c.range * 101 + n.n_nationkey * 13) % 97 AS v
        FROM nation n, range(16) r, range(16) c
    )
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(v) AS BIGINT) AS vsum,
           CAST(MIN(v) AS INT) AS vmin,
           CAST(MAX(v) AS INT) AS vmax
    FROM cells GROUP BY k
"""

SPARK["pcidsk_roundtrip"] = pcidsk_roundtrip
ORACLE["pcidsk_roundtrip"] = _PCIDSK_ORACLE
