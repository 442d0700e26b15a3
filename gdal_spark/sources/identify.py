"""`gdal dataset identify` / GDALIdentifyDriverEx equivalent.

Re-expresses the driver-manager identify scan
(apps/gdalalg_dataset_identify.cpp -> gcore/gdaldrivermanager.cpp
GDALIdentifyDriverEx, which walks registered drivers calling each
driver's Identify() on the header bytes of a GDALOpenInfo): every
format this engine can decode gets its reference driver's magic-byte
test, transcribed from that driver's Identify()/Open() header check:

  PNG   \\x89PNG\\r\\n\\x1a\\n          frmts/png/pngdataset.cpp
  JPEG  \\xff\\xd8\\xff                 frmts/jpeg/jpgdataset.cpp
  GTiff II*\\0 / MM\\0* (+BigTIFF 43)   frmts/gtiff/gtiffdataset.cpp
  BMP   'BM'                            frmts/bmp/bmpdataset.cpp
  GIF   GIF87a / GIF89a                 frmts/gif/gifdataset.cpp
  PNM   P1..P6 + whitespace             frmts/pnm (raw/pnmdataset)
  TGA   TRUEVISION-XFILE footer or .tga frmts/tga/tgadataset.cpp
  netCDF CDF\\x01|\\x02|\\x05           frmts/netcdf/netcdfdataset.cpp
  GPKG  SQLite header + application_id  ogr/ogrsf_frmts/gpkg
  MBTiles SQLite header + .mbtiles ext  frmts/mbtiles/mbtilesdataset.cpp
  SQLite SQLite header (fallback)       ogr/ogrsf_frmts/sqlite
  ESRI Shapefile  BE int32 9994         ogr/ogrsf_frmts/shape (.shp/.shx)
  Arrow 'ARROW1'                        ogr/ogrsf_frmts/arrow
  VRT   '<VRTDataset'                   frmts/vrt/vrtdataset.cpp
  KML   '<kml' / kml namespace          ogr/ogrsf_frmts/kml
  GPX   '<gpx'                          ogr/ogrsf_frmts/gpx
  GeoJSON  leading '{' + "type" member  ogr/ogrsf_frmts/geojson
  QDCT  engine-native lossy format magic (functions/codecs.py)

This is the package's only magic-byte table: the codec registry
(functions/codecs.py ``codec_of``), the quarantine classifier and the
MBTiles/GPKG, ESRIC and KML SuperOverlay tile decoders pick their
decoder from this function's answer.

Returns the reference driver short name, or None (GDALIdentifyDriver's
"could not be identified"). A filename is optional and only consulted
for the extension-gated formats (TGA without footer, MBTiles, CSV,
Zarr directories) exactly like the reference's bCheckExtension paths.

Distributed form ``identify_table``: a pandas UDF over the first KB of
each bytes cell — pure column scan, no shuffle, no decode.
"""

from __future__ import annotations

import re
import struct

import pandas as pd

_SQLITE = b"SQLite format 3\x00"


def _is_pnm(h: bytes) -> bool:
    return (
        len(h) >= 3
        and h[0:1] == b"P"
        and h[1:2] in b"123456"
        and h[2:3] in b" \t\r\n#"
    )


def identify_driver(data: bytes, filename: str = "") -> str | None:
    h = bytes(data[:1024])
    ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""

    if h.startswith(b"\x89PNG\r\n\x1a\n"):
        return "PNG"
    if h.startswith(b"\xff\xd8\xff"):
        return "JPEG"
    if len(h) >= 4 and (
        h[:4] in (b"II*\x00", b"MM\x00*")
        or (h[:2] == b"II" and h[2:4] == b"+\x00")
        or (h[:2] == b"MM" and h[2:4] == b"\x00+")
    ):
        return "GTiff"
    if h.startswith(b"Lerc2 ") or h.startswith(b"CntZImage "):
        # standalone LERC blob (frmts/mrf LERC driver Identify)
        return "LERC"
    if h.lstrip().startswith(b"<MRF_META"):
        # frmts/mrf marfa_dataset.cpp Identify: the XML metadata file
        return "MRF"
    if h.startswith(b"QDCT"):
        return "QDCT"
    if h.startswith(b"BM"):
        return "BMP"
    if h.startswith(b"GIF87a") or h.startswith(b"GIF89a"):
        return "GIF"
    if h[:4] == b"RIFF" and h[8:12] == b"WEBP":
        # frmts/webp/webpdataset.cpp Identify: RIFF....WEBP
        return "WEBP"
    if h[4:8] == b"ftyp" and h[8:12] in (
        b"avif", b"avis", b"heic", b"heix", b"hevc", b"hevx", b"mif1",
        b"msf1",
    ):
        # ISO BMFF ftyp brands (frmts/heif/heifdataset.cpp)
        return "AVIF" if h[8:12] in (b"avif", b"avis") else "HEIF"
    if h.startswith(b"\xff\x0a") or h.startswith(
        b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a"
    ):
        # JPEG XL raw codestream / ISO BMFF container (frmts/jpegxl)
        return "JPEGXL"
    if h.startswith(b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a") or h.startswith(
        b"\xff\x4f\xff\x51"
    ):
        # JP2 signature box / raw J2K codestream (frmts/openjpeg)
        return "JP2OpenJPEG"
    if _is_pnm(h):
        return "PNM"
    if h.startswith(b"CDF\x01") or h.startswith(b"CDF\x02") or h.startswith(
        b"CDF\x05"
    ):
        return "netCDF"
    if h.startswith(_SQLITE):
        # GPKG: application_id 'GPKG'/'GP10'/'GP11' at offset 68
        # (ogrgeopackagedatasource.cpp); MBTiles is extension-gated
        app = data[68:72]
        if app in (b"GPKG", b"GP10", b"GP11"):
            return "GPKG"
        if ext == "mbtiles":
            return "MBTiles"
        return "SQLite"
    if len(h) >= 4 and struct.unpack(">i", h[:4])[0] == 9994:
        return "ESRI Shapefile"
    if h.startswith(b"fgb") and h[4:7] == b"fgb":
        return "FlatGeobuf"
    if h.startswith(b"PMTiles\x03"):
        return "PMTiles"
    if h.startswith(b"NITF") or h.startswith(b"NSIF"):
        return "NITF"
    if h.startswith(b"UHL"):
        return "DTED"
    if h.startswith(b"ARROW1"):
        return "Arrow"
    if h.startswith(b"EHFA_HEADER_TAG"):
        return "HFA"
    if h.startswith(b"PCIDSK  "):
        return "PCIDSK"
    if h.startswith(b"RSW\x00") or h.startswith(b"MTW\x00") or h.startswith(
        b"\x00WSR"
    ):
        return "RMF"
    if h.startswith(b"TERRAGENTERRAIN "):
        return "Terragen"
    if h.startswith(b"trrn"):
        return "Leveller"
    if h.startswith(b"EHFA"):
        return "HFA"
    if h[:6].upper() in (b"HEADER", b"HEAD74") and len(h) >= 128:
        return "LAN"
    if h.startswith(b"binterr"):
        return "BT"
    if h.lstrip(b" ").startswith(b"LBLSIZE"):
        return "VICAR"
    if (
        len(h) >= 24
        and h[0:5].isdigit()
        and h[5:6] in b"23"
        and h[6:7] == b"L"
        and h[8:9] == b"1"
        and h[12:17].isdigit()
    ):
        # ISO8211 DDR leader; S-57 base cells use the .000+ extension
        if ext.isdigit():
            return "S57"
        return "ISO8211"
    if h.startswith(b"SIMPLE  ="):
        return "FITS"
    if h[:7].upper() == b"GSATIMG":
        return "GFF"
    if h.lstrip().startswith(b"time_first_datarec"):
        return "COASP"
    if (h.startswith(b"RECORD LENGTH IN BYTES")
            and b"COMPRESSED" in h and b"JPL AIRCRAFT" in h):
        return "AirSAR"
    if len(h) >= 36 and h[28:32] == b"CSAR":
        return "COSAR"
    if h.startswith(b"DDS "):
        return "DDS"
    if h.startswith(b"CPHD/"):
        return "CPHD"
    if h.startswith(b"\x0e\x03\x13\x01"):
        return "HDF4"
    if h.startswith(b"FormatName                  : NATIVE"):
        return "MSGN"
    if h.startswith(b"PRODUCT=\""):
        return "ESAT"
    if h.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1") \
            and ext == "xls":
        return "XLS"
    if h.lstrip().startswith(b"SCNT"):
        return "Interlis 1"
    if h.startswith(b"&H") and (ext == "vfk" or b"&HVERZE" in h[:200]):
        return "VFK"
    if h.startswith(b"GRIB"):
        return "GRIB"
    if h.startswith(b"RUU CROSS SYSTEM MAP FORMAT"):
        return "PCRaster"
    if (
        len(h) >= 44
        and struct.unpack("<h", h[0:2])[0] == 27
        and struct.unpack("<h", h[12:14])[0] == 26
        and 0 < struct.unpack("<H", h[24:26])[0] < 35
        and 1900 <= struct.unpack("<h", h[38:40])[0] < 2100
    ):
        return "IRIS"
    if h.startswith(b"NUM_OREC"):
        return "NTv2"
    if h.startswith(b"\x89HDF\r\n\x1a\n"):
        return "BAG" if ext == "bag" else "HDF5"
    if (
        len(h) >= 12
        and h[0] == 0
        and h[4] in (0x3F, 0x32)
        and h[5:8] == b"\xc0\x12\x12"
    ):
        return "SAR_CEOS"
    if len(h) >= 100 and h[4:8] == b"\x3f\xc0\x12\x12":
        return "CEOS"
    if h[:4] == b"HGPC" and h[4:5] == b"1":
        return "NWT_GRD"
    if h[:4] == b"HGPC" and h[4:5] == b"8":
        return "NWT_GRC"
    if h.startswith(b"DSAA"):
        return "GSAG"
    if h.startswith(b"DSBB"):
        return "GSBG"
    if h.startswith(b"DSRB"):
        return "GS7BG"
    if h.startswith(b"SIGDEM"):
        return "SIGDEM"
    if h.startswith(b"KRO\x01"):
        return "KRO"
    if h.startswith(b"CCSD3Z") or h.startswith(b"NJPL1I"):
        return "ISIS2"
    if h.startswith(b"PDS_VERSION_ID"):
        return "PDS"
    if b"Object = IsisCube" in h[:64] or h.startswith(b"Object = IsisCube"):
        return "ISIS3"
    if b"datasetheader begin" in h.lower():
        return "ERS"
    if len(h) >= 12 and (
        struct.unpack("<i", h[:4])[0] in (20, 21)
        and struct.unpack("<i", h[4:8])[0] in (20, 21)
        and -90 <= struct.unpack("<i", h[8:12])[0] <= 90
        and ext == "lcp"
    ):
        return "LCP"
    if h.startswith(b"HF2\x00"):
        return "HF2"
    if h.startswith(b"BEGIN_USGS_DOQ_HEADER"):
        return "DOQ2"
    if (
        len(h) >= 20
        and h[12:16] == b"\x02\x00\x00\x00"
        and struct.unpack("<i", h[:4])[0]
        == 4 * struct.unpack("<i", h[4:8])[0] > 0
    ):
        return "GSC"
    low = h.lower()
    if low.lstrip().startswith(b"north:") and b"cols:" in low:
        return "GRASSASCIIGrid"
    if (
        b"ncols" in low
        and b"nrows" in low
        and (b"xllcorner" in low or b"xllcenter" in low
             or b"cellsize" in low or b"dx" in low)
    ):
        return "AAIGrid"
    s = h.lstrip()
    if b"rcmGsProductSchema" in h and filename.endswith("product.xml"):
        return "RCM"
    if b"phini" in h[:256] and (
        ext == "prf" or filename.lower().endswith(".x-dem")
    ):
        return "PRF"
    if filename.endswith("I.rel") and s.startswith(b"[VERSIO]"):
        return "MiraMonRaster"
    if (
        len(h) >= 48
        and h[0:3] in (b"PNT", b"ARC", b"POL")
        and h[3:4] == b" "
        and h[5:6] == b"."
        and ext in ("pnt", "arc", "pol")
    ):
        return "MiraMonVector"
    if s.startswith(b"<VRTDataset"):
        return "VRT"
    if s.startswith(b"<?xml") or s.startswith(b"<"):
        if b"<kml" in h or b"opengis.net/kml" in h:
            return "KML"
        if b"<gpx" in h:
            return "GPX"
        if b"<mapml-" in h:
            return "MapML"
        if b"<CacheInfo" in h:
            return "ESRIC"
        if (b"Level-1C_User_Product" in h or b"Level-2A_User_Product" in h
                or b"Level-1B_User_Product" in h):
            return "SENTINEL2"
    if s.startswith(b"{") and b"ogc-json-fg" in h:
        return "JSONFG"
    if s.startswith(b"{") and b'"stac_version"' in h and (
        b'"FeatureCollection"' in h or b'"Feature"' in h
    ):
        return "STACIT"
    if s.startswith(b"{") and b'"type"' in h:
        return "GeoJSON"
    from gdal_spark.raster.l1b import detect_l1b

    if detect_l1b(h, filename.rsplit("/", 1)[-1]) is not None:
        return "L1B"
    # extension-only formats (reference bCheckExtension identify paths)
    if bytes(data[-18:]) == b"TRUEVISION-XFILE.\x00" or ext == "tga":
        return "TGA"
    if ext == "csv":
        return "CSV"
    if ext == "zarr":
        return "Zarr"
    if b"OSMHeader" in h[:64] or filename.endswith(".osm.pbf"):
        return "OSM"
    if ext == "pbf":
        return "MVT"
    if ext == "dem":
        return "USGSDEM"
    if ext == "kap":
        return "BSB"
    if ext == "gxf":
        return "GXF"
    if ext == "osm":
        return "OSM"
    if ext == "rst":
        return "RST"
    if (
        ext == "mem"
        and len(data) >= 1011
        and all(data[o:o + 2] in (b"19", b"20") for o in (11, 15, 19))
    ):
        return "JDEM"
    if ext in ("zmap", "dat") and h.lstrip(b"! \r\n\t").startswith(b"@"):
        return "ZMap"
    if ext == "bil":
        return "EHdr"
    if ext in ("hgt", "hgts", "raw") and re.search(
        r"[NSns]\d{2}[EWew]\d{3}", filename.rsplit("/", 1)[-1]
    ):
        return "SRTMHGT"
    if ext == "xyz":
        return "XYZ"
    if h.startswith(b"PK\x03\x04"):
        # zip containers: distinguish by the first member's name
        name_len = struct.unpack("<H", h[26:28])[0] if len(h) >= 30 else 0
        first = h[30:30 + name_len]
        if ext == "tpkx" or first == b"iteminfo.json":
            return "ESRIC"
        if first.startswith(b"mimetype") and \
                b"opendocument.spreadsheet" in h[:128]:
            return "ODS"
        if ext == "xlsx" or first.startswith((b"[Content_Types]", b"xl/")):
            return "XLSX"
        if ext == "ods":
            return "ODS"
        if first.rstrip(b"/").endswith(b".txt") and first[:-4] in (
            b"agency", b"stops", b"routes", b"trips", b"calendar",
            b"calendar_dates", b"stop_times", b"shapes",
        ):
            return "GTFS"
    return None


def identify_table(df, bytes_col: str = "bytes", filename_col: str | None = None):
    """Add a ``driver`` column: GDALIdentifyDriver over every row's
    leading bytes (plus trailing 26 for the TGA footer). Pure Arrow
    batch scan — no decode, no shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _ident(b: pd.Series, fn: pd.Series) -> pd.Series:
        return pd.Series(
            [
                identify_driver(bytes(x), f or "")
                if x is not None
                else None
                for x, f in zip(b, fn)
            ]
        )

    fn_col = (
        F.col(filename_col) if filename_col else F.lit("").alias("_fn")
    )
    return df.withColumn("driver", _ident(F.col(bytes_col), fn_col))
