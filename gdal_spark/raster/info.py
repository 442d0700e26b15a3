"""gdalinfo equivalent: the classic text report + -json form.

Transcribes the report layout of apps/gdalinfo_lib.cpp (GDALInfo):
Driver line, "Size is W, H", Origin/Pixel Size at %.15f, the
Corner Coordinates block at %12.3f, per-band
"Band N Block=WxH Type=..., ColorInterp=..." lines, -checksum
(GDALChecksumImage port), -stats (STATISTICS_* band metadata items at
%.14g like GDALRasterBand::SetStatistics aux values), color tables
("N: r,g,b,a" entries, hidden by -noct), and -nomd. Option names keep
the CLI spellings (checksum/stats/nomd/noct/json).

The distributed form `info_table` runs the report per image row over
Arrow batches — gdalinfo over a 10^12-image table is just another
column-wise scan, no driver involvement.
"""

from __future__ import annotations


import numpy as np

_DRIVERS = {
    "tiff": "GTiff/GeoTIFF",
    "png": "PNG/Portable Network Graphics",
    "jpeg": "JPEG/JPEG JFIF",
    "gif": "GIF/Graphics Interchange Format (.gif)",
    "bmp": "BMP/MS Windows Device Independent Bitmap",
    "pnm": "PNM/Portable Pixmap Format (netpbm)",
    "tga": "TGA/TGA/TARGA Image File Format",
    "qdct": "QDCT/Quantized DCT (engine lossy format)",
}

_TYPE_NAMES = {
    "u1": "Byte", "i1": "Int8", "u2": "UInt16", "i2": "Int16",
    "u4": "UInt32", "i4": "Int32", "f4": "Float32", "f8": "Float64",
    "u8": "UInt64", "i8": "Int64", "c8": "CFloat32", "c16": "CFloat64",
}

_INTERP = {1: ["Gray"], 2: ["Gray", "Alpha"], 3: ["Red", "Green", "Blue"],
           4: ["Red", "Green", "Blue", "Alpha"]}


def _gif_palette(data: bytes) -> np.ndarray | None:
    """Global color table of a GIF (frmts/gif exposes it as the band's
    color table)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    flags = data[10]
    if not flags & 0x80:
        return None
    n = 2 << (flags & 0x07)
    return np.frombuffer(data, np.uint8, n * 3, 13).reshape(n, 3)


def _tiff_block(data: bytes, w: int, h: int) -> tuple[int, int]:
    """Natural block size from the TIFF tags (tile dims, else w x
    rows-per-strip) — what GDALRasterBand::GetBlockSize reports."""
    from gdal_spark.functions.tiff import (
        T_ROWS_PER_STRIP,
        T_TILE_L,
        T_TILE_W,
        _read_ifd,
        tiff_header,
    )

    bo, big, off = tiff_header(data)
    tags = _read_ifd(data, bo, off, big)
    if T_TILE_W in tags:
        return tags[T_TILE_W][1][0], tags[T_TILE_L][1][0]
    rps = tags.get(T_ROWS_PER_STRIP, (4, [h]))[1][0]
    return w, min(rps, h)


def gdal_info(
    data: bytes,
    fmt: str = "tiff",
    name: str = "",
    checksum: bool = False,
    stats: bool = False,
    nomd: bool = False,
    noct: bool = False,
    json: bool = False,
):
    """One image -> gdalinfo text report (or dict with ``json=True``)."""
    from gdal_spark.functions import codecs

    data = bytes(data)
    meta: dict = {}
    palette = None
    if fmt == "tiff":
        from gdal_spark.functions.tiff import tiff_parse

        arr, meta = tiff_parse(data)
    else:
        if fmt == "gif":
            from gdal_spark.functions.morefmts import gif_decode

            arr = gif_decode(data, expand_palette=False)
            palette = _gif_palette(data)
        else:
            arr = codecs.decode_image(data, fmt)
    h, w = arr.shape[:2]
    nbands = 1 if arr.ndim == 2 else arr.shape[2]
    gt = meta.get("geotransform")
    if fmt == "tiff":
        bx, by = _tiff_block(data, w, h)
    else:
        bx, by = w, 1 if fmt in ("png", "bmp", "pnm") else h
    dt = arr.dtype
    tname = _TYPE_NAMES.get(dt.str.lstrip("<>=|"), str(dt))
    interp = (
        ["Palette"] if palette is not None else
        _INTERP.get(nbands, ["Undefined"] * nbands)
    )

    def corners():
        g = gt or (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
        pts = {
            "upperLeft": (0, 0), "lowerLeft": (0, h),
            "upperRight": (w, 0), "lowerRight": (w, h),
            "center": (w / 2.0, h / 2.0),
        }
        return {
            k: (g[0] + px * g[1] + py * g[2], g[3] + px * g[4] + py * g[5])
            for k, (px, py) in pts.items()
        }

    bands_j = []
    for b in range(nbands):
        band = arr if arr.ndim == 2 else arr[:, :, b]
        bj = {
            "band": b + 1,
            "block": [int(bx), int(by)],
            "type": tname,
            "colorInterpretation": interp[b] if b < len(interp) else "Undefined",
        }
        if checksum:
            from gdal_spark.functions.checksum import checksum as _cks

            bj["checksum"] = _cks(band)
        if stats:
            v = band.astype(np.float64)
            bj["metadata"] = {
                "STATISTICS_MAXIMUM": f"{v.max():.14g}",
                "STATISTICS_MEAN": f"{v.mean():.14g}",
                "STATISTICS_MINIMUM": f"{v.min():.14g}",
                "STATISTICS_STDDEV": f"{v.std():.14g}",
                "STATISTICS_VALID_PERCENT": "100",
            }
        bands_j.append(bj)

    if json:
        out = {
            "driverShortName": _DRIVERS.get(fmt, fmt).split("/")[0],
            "driverLongName": _DRIVERS.get(fmt, fmt).split("/", 1)[-1],
            "size": [w, h],
            "bands": bands_j,
        }
        if name:
            out["description"] = name
        if gt is not None:
            out["geoTransform"] = list(gt)
            out["cornerCoordinates"] = {
                k: list(v) for k, v in corners().items()
            }
        if meta.get("nodata") is not None:
            for bj in out["bands"]:
                bj["noDataValue"] = meta["nodata"]
        return out

    lines = [f"Driver: {_DRIVERS.get(fmt, fmt)}"]
    if name:
        lines.append(f"Files: {name}")
    lines.append(f"Size is {w}, {h}")
    if meta.get("geokeys"):
        from gdal_spark.functions.srs import epsg_from_geokeys, wkt_from_epsg

        code = epsg_from_geokeys(meta["geokeys"])
        if code:
            lines.append("Coordinate System is:")
            try:
                lines.append(wkt_from_epsg(code))
            except ValueError:  # identified but no transform registered
                lines.append(f'ID["EPSG",{code.split(":")[1]}]')
    if gt is not None:
        lines.append(f"Origin = ({gt[0]:.15f},{gt[3]:.15f})")
        lines.append(f"Pixel Size = ({gt[1]:.15f},{gt[5]:.15f})")
    if not nomd:
        lines.append("Metadata:")
        lines.append("  AREA_OR_POINT=Area")
    lines.append("Corner Coordinates:")
    cc = corners()
    disp = {
        "upperLeft": "Upper Left ", "lowerLeft": "Lower Left ",
        "upperRight": "Upper Right", "lowerRight": "Lower Right",
        "center": "Center     ",
    }
    for k in ("upperLeft", "lowerLeft", "upperRight", "lowerRight", "center"):
        x, y = cc[k]
        lines.append(f"{disp[k]} ({x:12.3f},{y:12.3f})")
    for bj in bands_j:
        line = (
            f"Band {bj['band']} Block={bj['block'][0]}x{bj['block'][1]} "
            f"Type={bj['type']}, ColorInterp={bj['colorInterpretation']}"
        )
        lines.append(line)
        if meta.get("nodata") is not None:
            lines.append(f"  NoData Value={meta['nodata']:.18g}")
        if checksum:
            lines.append(f"  Checksum={bj['checksum']}")
        if stats and not nomd:
            lines.append("  Metadata:")
            for k in sorted(bj["metadata"]):
                lines.append(f"    {k}={bj['metadata'][k]}")
        if palette is not None and bj["band"] == 1 and not noct:
            lines.append(
                f"  Color Table (RGB with {len(palette)} entries)"
            )
            for i, (r, g, bl) in enumerate(palette):
                lines.append(f"    {i}: {r},{g},{bl},255")
    return "\n".join(lines) + "\n"


def info_table(df, fmt_col: str = "fmt", **opts):
    """images(image_id, bytes[, fmt]) -> (image_id, report) per row."""
    import pandas as pd
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("report", T.StringType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                fmt = getattr(r, fmt_col, "tiff")
                rows.append(
                    (r.image_id, gdal_info(bytes(r.bytes), fmt=fmt, **opts))
                )
            yield pd.DataFrame(rows, columns=["image_id", "report"])

    return df.mapInPandas(run, sch)


_GEOM_NAMES = {1: "Point", 2: "Line String", 3: "Polygon",
               4: "Multi Point", 5: "Multi Line String", 6: "Multi Polygon"}

_FIELD_NAMES = {"LongType": "Integer64", "IntegerType": "Integer",
                "DoubleType": "Real", "FloatType": "Real",
                "StringType": "String", "DateType": "Date",
                "TimestampType": "DateTime", "BooleanType": "Integer"}


def ogr_info(df, layer_name: str = "", wkb_col: str = "wkb") -> str:
    """ogrinfo -so equivalent: layer summary (geometry type, feature
    count, extent, field list) as DISTRIBUTED aggregates — count and
    envelope min/max run as one Spark aggregation over the WKB bbox
    covering, never a collect (apps/ogrinfo_lib.cpp ReportOnLayer)."""
    from pyspark.sql import functions as F

    from gdal_spark.sources.geoparquet import with_bbox

    bdf = with_bbox(df, wkb_col, out="_bb")
    row = bdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_bb.xmin").alias("x0"), F.min("_bb.ymin").alias("y0"),
        F.max("_bb.xmax").alias("x1"), F.max("_bb.ymax").alias("y1"),
    ).first()
    first = df.select(wkb_col).first()
    gname = "Unknown (any)"
    if first is not None:
        from gdal_spark.functions import wkb as W

        gtype, _ = W.parse(bytes(first[0]))
        gname = _GEOM_NAMES.get(gtype % 1000, "Unknown (any)")
    lines = []
    if layer_name:
        lines.append(f"Layer name: {layer_name}")
    lines.append(f"Geometry: {gname}")
    lines.append(f"Feature Count: {row.n}")
    if row.x0 is not None:
        lines.append(
            f"Extent: ({row.x0:f}, {row.y0:f}) - ({row.x1:f}, {row.y1:f})"
        )
    for f in df.schema.fields:
        if f.name == wkb_col:
            continue
        tn = _FIELD_NAMES.get(type(f.dataType).__name__, "String")
        lines.append(f"{f.name}: {tn}")
    return "\n".join(lines) + "\n"
