"""Single-band geo-grid format drivers: AAIGrid, XYZ, ENVI, SRTM HGT.

The image codecs (functions/codecs.py) carry (h, w, 3) uint8 RGB; DEM
and measurement rasters travel as single-band float grids WITH their
georeferencing, so these four drivers share a different contract:

    decode -> (arr float64 (h, w), geotransform 6-tuple, nodata | None)
    encode(arr, gt, nodata) -> bytes (+ sidecar text for ENVI)

Formats (reference drivers):
  * "aaigrid" — Arc/Info ASCII Grid (frmts/aaigrid/aaigriddataset.cpp):
    ncols/nrows/xllcorner/yllcorner/cellsize/NODATA_value header +
    whitespace-separated cell values, row-major north-down.
  * "xyz" — ASCII x y z triples (frmts/xyz/xyzdataset.cpp): one cell per
    line, grid shape re-inferred from the distinct coordinate steps.
  * "envi" — ENVI flat binary + .hdr sidecar (frmts/raw/envidataset.cpp):
    here data type 5 (float64) / 4 (float32), bsq, both byte orders on
    read, LE on write; geotransform via "map info".
  * "hgt" — SRTM height tiles (frmts/srtmhgt/srtmhgtdataset.cpp):
    big-endian int16, n x n square (3601/1201/or any), void = -32768,
    SW corner from an N51E007-style tile name, 1-degree extent.

Like the image codecs these are pure-numpy byte<->array functions, so
they ride any Arrow-batched ingest stage; read_grid_files() is the
distributed loader (one file per task row — the standard many-small-
rasters ingest shape; huge single grids belong in the tiled formats).
"""

from __future__ import annotations

import math
import re

import numpy as np

# --------------------------------------------------------------------------
# AAIGrid
# --------------------------------------------------------------------------


def aaigrid_encode(arr: np.ndarray, gt: tuple, nodata: float | None = None) -> bytes:
    h, w = arr.shape
    if abs(gt[1]) != abs(gt[5]):
        raise ValueError("AAIGrid requires square cells")
    lines = [
        f"ncols        {w}",
        f"nrows        {h}",
        f"xllcorner    {gt[0]!r}",
        f"yllcorner    {gt[3] + h * gt[5]!r}",
        f"cellsize     {gt[1]!r}",
    ]
    if nodata is not None:
        lines.append(f"NODATA_value  {nodata!r}")
    body = "\n".join(" ".join(repr(float(v)) for v in row) for row in arr)
    return ("\n".join(lines) + "\n" + body + "\n").encode("ascii")


def aaigrid_decode(data: bytes) -> tuple[np.ndarray, tuple, float | None]:
    txt = data.decode("ascii")
    toks = txt.split()
    hdr: dict[str, float] = {}
    i = 0
    while i + 1 < len(toks) and toks[i][0].isalpha():
        hdr[toks[i].lower()] = float(toks[i + 1])
        i += 2
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    cell = hdr["cellsize"]
    x0 = hdr.get("xllcorner", hdr.get("xllcenter", 0.0) - cell / 2.0)
    yll = hdr.get("yllcorner", hdr.get("yllcenter", 0.0) - cell / 2.0)
    nodata = hdr.get("nodata_value")
    vals = np.array(toks[i :], dtype=np.float64)
    if len(vals) != w * h:
        raise ValueError(f"AAIGrid body has {len(vals)} values, expected {w * h}")
    gt = (x0, cell, 0.0, yll + h * cell, 0.0, -cell)
    return vals.reshape(h, w), gt, nodata


# --------------------------------------------------------------------------
# XYZ
# --------------------------------------------------------------------------


def xyz_encode(arr: np.ndarray, gt: tuple, nodata: float | None = None) -> bytes:
    h, w = arr.shape
    xs = gt[0] + (np.arange(w) + 0.5) * gt[1]
    ys = gt[3] + (np.arange(h) + 0.5) * gt[5]
    out = ["X Y Z"]
    for r in range(h):
        for c in range(w):
            out.append(f"{xs[c]!r} {ys[r]!r} {float(arr[r, c])!r}")
    return ("\n".join(out) + "\n").encode("ascii")


def xyz_decode(data: bytes) -> tuple[np.ndarray, tuple, float | None]:
    lines = data.decode("ascii").strip().splitlines()
    if lines and not re.match(r"^\s*[-+0-9.]", lines[0]):
        lines = lines[1:]  # optional header line
    pts = np.array([[float(v) for v in ln.split()] for ln in lines])
    xs = np.unique(pts[:, 0])
    ys = np.unique(pts[:, 1])
    dx = float(np.min(np.diff(xs))) if len(xs) > 1 else 1.0
    dy = float(np.min(np.diff(ys))) if len(ys) > 1 else 1.0
    w = int(round((xs[-1] - xs[0]) / dx)) + 1
    h = int(round((ys[-1] - ys[0]) / dy)) + 1
    arr = np.full((h, w), np.nan)
    ci = np.round((pts[:, 0] - xs[0]) / dx).astype(int)
    ri = np.round((ys[-1] - pts[:, 1]) / dy).astype(int)  # north-down rows
    arr[ri, ci] = pts[:, 2]
    gt = (xs[0] - dx / 2.0, dx, 0.0, ys[-1] + dy / 2.0, 0.0, -dy)
    return arr, gt, None


# --------------------------------------------------------------------------
# ENVI (binary + .hdr sidecar text)
# --------------------------------------------------------------------------

_ENVI_DTYPES = {4: np.dtype("f4"), 5: np.dtype("f8"), 2: np.dtype("i2"), 12: np.dtype("u2"), 3: np.dtype("i4")}


def envi_encode(arr: np.ndarray, gt: tuple, nodata: float | None = None) -> tuple[bytes, str]:
    """-> (raw bytes, .hdr sidecar text); float64 LE bsq."""
    h, w = arr.shape
    hdr = [
        "ENVI",
        f"samples = {w}",
        f"lines   = {h}",
        "bands   = 1",
        "header offset = 0",
        "file type = ENVI Standard",
        "data type = 5",
        "interleave = bsq",
        "byte order = 0",
        f"map info = {{Arbitrary, 1, 1, {gt[0]!r}, {gt[3]!r}, {gt[1]!r}, {abs(gt[5])!r}}}",
    ]
    if nodata is not None:
        hdr.append(f"data ignore value = {nodata!r}")
    return arr.astype("<f8").tobytes(), "\n".join(hdr) + "\n"


def envi_decode(data: bytes, hdr_text: str) -> tuple[np.ndarray, tuple, float | None]:
    kv = {}
    for m in re.finditer(r"^([a-z ]+?)\s*=\s*(\{[^}]*\}|.+)$", hdr_text, re.M | re.I):
        kv[m.group(1).strip().lower()] = m.group(2).strip()
    w = int(kv["samples"])
    h = int(kv["lines"])
    dt = _ENVI_DTYPES[int(kv["data type"])]
    if int(kv.get("byte order", "0")) == 1:
        dt = dt.newbyteorder(">")
    off = int(kv.get("header offset", "0"))
    arr = np.frombuffer(data, dtype=dt, count=w * h, offset=off).reshape(h, w)
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    mi = kv.get("map info")
    if mi:
        parts = [p.strip() for p in mi.strip("{}").split(",")]
        px, py = float(parts[1]), float(parts[2])
        ex, ny = float(parts[3]), float(parts[4])
        cx, cy = float(parts[5]), float(parts[6])
        # map info anchors pixel (px, py) 1-based at (ex, ny)
        gt = (ex - (px - 1) * cx, cx, 0.0, ny + (py - 1) * cy, 0.0, -cy)
    nod = kv.get("data ignore value")
    return arr.astype(np.float64), gt, (float(nod) if nod else None)


# --------------------------------------------------------------------------
# SRTM HGT
# --------------------------------------------------------------------------

HGT_VOID = -32768.0


def hgt_encode(arr: np.ndarray) -> bytes:
    n = arr.shape[0]
    if arr.shape != (n, n):
        raise ValueError("HGT tiles are square")
    a = np.where(np.isnan(arr), HGT_VOID, arr)
    return np.round(a).astype(">i2").tobytes()


def hgt_decode(data: bytes, name: str) -> tuple[np.ndarray, tuple, float | None]:
    n = int(math.isqrt(len(data) // 2))
    if n * n * 2 != len(data):
        raise ValueError("HGT payload is not a square int16 grid")
    arr = np.frombuffer(data, dtype=">i2").reshape(n, n).astype(np.float64)
    m = re.match(r"^([NS])(\d{2})([EW])(\d{3})", name.upper())
    if not m:
        raise ValueError(f"not an SRTM tile name: {name}")
    lat_sw = int(m.group(2)) * (1 if m.group(1) == "N" else -1)
    lon_sw = int(m.group(4)) * (1 if m.group(3) == "E" else -1)
    # rows span [lat_sw+1 .. lat_sw] north-down; samples at cell edges
    step = 1.0 / (n - 1)
    gt = (lon_sw - step / 2.0, step, 0.0, lat_sw + 1 + step / 2.0, 0.0, -step)
    return arr, gt, HGT_VOID


# --------------------------------------------------------------------------
# distributed loader
# --------------------------------------------------------------------------


def read_grid_files(spark, files: list[tuple[str, str]], num_partitions: int | None = None):
    """files: [(path, fmt)] -> DataFrame (path, fmt, h, w, gt array, nodata,
    data float64-LE bytes). One file per task row — each executor opens
    only its own files (binaryFiles-style ingest without driver IO)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("gt", T.ArrayType(T.DoubleType())),
            T.StructField("nodata", T.DoubleType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    fdf = spark.createDataFrame(files, "path: string, fmt: string")
    if num_partitions:
        fdf = fdf.repartition(num_partitions)

    def run(batches):
        import os

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                raw = open(r.path, "rb").read()
                if r.fmt == "aaigrid":
                    arr, gt, nod = aaigrid_decode(raw)
                elif r.fmt == "xyz":
                    arr, gt, nod = xyz_decode(raw)
                elif r.fmt == "envi":
                    hdr = open(os.path.splitext(r.path)[0] + ".hdr").read()
                    arr, gt, nod = envi_decode(raw, hdr)
                elif r.fmt == "hgt":
                    arr, gt, nod = hgt_decode(raw, os.path.basename(r.path))
                elif r.fmt == "nc":
                    from gdal_spark.functions.netcdf import nc_decode_grid

                    arr, gt, nod = nc_decode_grid(raw)
                elif r.fmt == "bt":
                    from gdal_spark.raster.rawfmts import bt_decode

                    arr, meta = bt_decode(raw)
                    gt, nod = meta["gt"], None
                elif r.fmt == "zmap":
                    from gdal_spark.raster.rawfmts import zmap_decode

                    arr, meta = zmap_decode(raw.decode("ascii"))
                    gt, nod = meta["gt"], meta.get("nodata")
                elif r.fmt == "hf2":
                    from gdal_spark.raster.rawfmts import hf2_decode

                    arr, meta = hf2_decode(raw)
                    gt, nod = meta.get("gt"), None
                elif r.fmt == "ehdr":
                    from gdal_spark.raster.rawfmts import ehdr_decode

                    hdr = open(os.path.splitext(r.path)[0] + ".hdr").read()
                    arr, meta = ehdr_decode(
                        hdr, raw, os.path.splitext(r.path)[1].lstrip(".")
                    )
                    gt, nod = meta.get("gt"), meta.get("nodata")
                elif r.fmt == "rst":
                    from gdal_spark.raster.rawfmts import rst_decode

                    rdc = open(os.path.splitext(r.path)[0] + ".rdc").read()
                    arr, meta = rst_decode(rdc, raw)
                    gt, nod = meta.get("gt"), meta.get("nodata")
                else:
                    raise ValueError(f"unknown grid format {r.fmt}")
                rows.append(
                    (
                        r.path, r.fmt, arr.shape[0], arr.shape[1],
                        [float(v) for v in gt],
                        float(nod) if nod is not None else None,
                        arr.astype("<f8").tobytes(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return fdf.mapInPandas(run, schema)


# --------------------------------------------------------------------------
# GXF — Geosoft eXchange Format (frmts/gxf/gxfopen.c)
# --------------------------------------------------------------------------
#
# Header is #KEYWORD blocks (matched case-insensitively on the prefix, so
# "#POIN" == "#POINTS", gxfopen.c:321 style STARTS_WITH_CI); data follows
# #GRID. GTYPE 0 = whitespace-separated ASCII values with the #DUMMY
# string replaced by dfSetDummyTo (default -1e12, gxfopen.c:215); GTYPE
# n>0 = n-character base-90 tokens (digit value = char - 37,
# gxfopen.c:439): '!'-prefixed token = dummy, '"'-prefixed = run (next
# token = count unscaled, next = value scaled), else value; scaled value
# = n * transform_scale + transform_offset (#TRANSFORM "scale offset").
# Default #SENSE is 1 (lower-left origin scanning right) so raw rows are
# bottom-up (gxfopen.c:212, GXFGetScanline :640).


def gxf_decode(data: bytes) -> tuple[np.ndarray, tuple, float | None]:
    text = data.decode("ascii", errors="replace")
    lines = text.splitlines()
    i = 0
    ncols = nrows = None
    xsep = ysep = 1.0
    xorig = yorig = 0.0
    dummy_str = None
    set_dummy_to = -1e12
    scale, offset = 1.0, 0.0
    sense = 1
    gtype = 0
    grid_start = None
    while i < len(lines):
        line = lines[i].strip()
        if line.startswith("#"):
            key = line.upper()
            vals = []
            j = i + 1
            while j < len(lines) and not lines[j].lstrip().startswith("#"):
                vals.append(lines[j])
                j += 1
            first = vals[0].split() if vals else []
            if key.startswith("#POIN"):
                ncols = int(first[0])
            elif key.startswith("#ROWS"):
                nrows = int(first[0])
            elif key.startswith("#PTSEP"):
                xsep = float(first[0])
            elif key.startswith("#RWSEP"):
                ysep = float(first[0])
            elif key.startswith("#XORIG"):
                xorig = float(first[0])
            elif key.startswith("#YORIG"):
                yorig = float(first[0])
            elif key.startswith("#DUMMY"):
                dummy_str = vals[0].split()[0]
                set_dummy_to = float(dummy_str)
            elif key.startswith("#TRANS"):
                scale, offset = float(first[0]), float(first[1])
            elif key.startswith("#SENSE"):
                sense = int(float(first[0]))
            elif key.startswith("#GTYPE"):
                gtype = int(first[0])
            elif key.startswith("#GRID"):
                grid_start = i + 1
                break
            i = j
        else:
            i += 1
    if ncols is None or nrows is None or grid_start is None:
        raise ValueError("not a GXF grid")

    values: list[float] = []
    if gtype == 0:
        for line in lines[grid_start:]:
            for tok in line.split():
                if tok.startswith("#"):
                    break
                if dummy_str is not None and tok == dummy_str:
                    values.append(set_dummy_to)
                else:
                    values.append(float(tok))
            if len(values) >= ncols * nrows:
                break
    else:
        def b90(tok: str) -> int:
            v = 0
            for ch in tok:
                v = v * 90 + (ord(ch) - 37)
            return v

        stream: list[str] = []
        for line in lines[grid_start:]:
            if line.startswith("#"):
                break
            for k in range(0, len(line) - gtype + 1, gtype):
                stream.append(line[k : k + gtype])
        si = 0
        while len(values) < ncols * nrows and si < len(stream):
            tok = stream[si]
            si += 1
            if tok[0] == "!":
                values.append(set_dummy_to)
            elif tok[0] == '"':
                count = b90(stream[si])
                si += 1
                vtok = stream[si]
                si += 1
                v = set_dummy_to if vtok[0] == "!" else (
                    b90(vtok) * scale + offset
                )
                values.extend([v] * count)
            else:
                values.append(b90(tok) * scale + offset)
    arr = np.array(values[: ncols * nrows], dtype=np.float64).reshape(
        nrows, ncols
    )
    if sense == 1:  # GXFS_LL_RIGHT: raw rows bottom-up
        arr = arr[::-1]
    gt = (xorig - xsep / 2, xsep, 0.0, yorig + nrows * ysep - ysep / 2, 0.0,
          -ysep)
    nodata = set_dummy_to if dummy_str is not None or gtype > 0 else None
    return arr, gt, nodata


def gxf_encode(arr: np.ndarray, gt: tuple, nodata: float | None = None) -> bytes:
    """Uncompressed (GTYPE 0) GXF writer, bottom-up rows like the spec
    default sense."""
    nrows, ncols = arr.shape
    out = [f"#POINTS\n{ncols}", f"#ROWS\n{nrows}"]
    out.append(f"#PTSEPARATION\n{gt[1]!r}")
    out.append(f"#RWSEPARATION\n{-gt[5]!r}")
    out.append(f"#XORIGIN\n{gt[0] + gt[1] / 2!r}")
    out.append(f"#YORIGIN\n{gt[3] + gt[5] * nrows - gt[5] / 2!r}")
    if nodata is not None:
        out.append(f"#DUMMY\n{nodata!r}")
    out.append("#GRID")
    for row in arr[::-1]:
        out.append(" ".join(repr(float(v)) for v in row))
    return ("\n".join(out) + "\n").encode("ascii")


# --------------------------------------------------------------------------
# SAGA GIS binary grids (frmts/saga/sagadataset.cpp): .sgrd text header
# (KEY = VALUE) + .sdat raw binary. TOPTOBOTTOM=FALSE (the default) means
# the first .sdat row is the SOUTH row. POSITION_XMIN/YMIN are CELL
# CENTERS.
# --------------------------------------------------------------------------

_SAGA_DTYPES = {
    "BIT": np.uint8, "BYTE_UNSIGNED": np.uint8, "BYTE": np.int8,
    "SHORTINT_UNSIGNED": np.uint16, "SHORTINT": np.int16,
    "INTEGER_UNSIGNED": np.uint32, "INTEGER": np.int32,
    "FLOAT": np.float32, "DOUBLE": np.float64,
}


def saga_decode(sgrd_text: str, sdat: bytes) -> tuple[np.ndarray, tuple, float | None]:
    kv = {}
    for line in sgrd_text.splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            kv[k.strip().upper()] = v.strip()
    ncols = int(kv["CELLCOUNT_X"])
    nrows = int(kv["CELLCOUNT_Y"])
    cell = float(kv["CELLSIZE"])
    xmin = float(kv["POSITION_XMIN"])
    ymin = float(kv["POSITION_YMIN"])
    dtype = _SAGA_DTYPES[kv.get("DATAFORMAT", "FLOAT").upper()]
    arr = np.frombuffer(sdat, dtype=dtype, count=ncols * nrows)
    if kv.get("BYTEORDER_BIG", "FALSE").upper() == "TRUE":
        arr = arr.byteswap()
    arr = arr.reshape(nrows, ncols).astype(np.float64)
    zf = float(kv.get("Z_FACTOR", "1.0"))
    if zf != 1.0:
        arr = arr * zf
    if kv.get("TOPTOBOTTOM", "FALSE").upper() != "TRUE":
        arr = arr[::-1]
    nodata = float(kv["NODATA_VALUE"]) if "NODATA_VALUE" in kv else None
    gt = (xmin - cell / 2, cell, 0.0, ymin + nrows * cell - cell / 2, 0.0,
          -cell)
    return arr, gt, nodata


def saga_encode(arr: np.ndarray, gt: tuple, nodata: float | None = None) -> tuple[str, bytes]:
    nrows, ncols = arr.shape
    cell = gt[1]
    hdr = "\n".join(
        [
            "NAME\t= grid",
            "DATAFORMAT\t= DOUBLE",
            "DATAFILE_OFFSET\t= 0",
            "BYTEORDER_BIG\t= FALSE",
            f"POSITION_XMIN\t= {gt[0] + cell / 2!r}",
            f"POSITION_YMIN\t= {gt[3] + gt[5] * nrows - gt[5] / 2!r}",
            f"CELLCOUNT_X\t= {ncols}",
            f"CELLCOUNT_Y\t= {nrows}",
            f"CELLSIZE\t= {cell!r}",
            "Z_FACTOR\t= 1.000000",
            f"NODATA_VALUE\t= {nodata if nodata is not None else -99999.0!r}",
            "TOPTOBOTTOM\t= FALSE",
        ]
    ) + "\n"
    return hdr, np.ascontiguousarray(arr[::-1], dtype="<f8").tobytes()
