"""Zarr V2 driver (frmts/zarr re-expressed, pure stdlib + numpy).

Read/write support for the classic Zarr V2 on-disk layout the reference
driver handles (``frmts/zarr/zarrv2array.cpp``):

* ``.zarray`` JSON: shape/chunks/dtype (numpy typestr incl. ``|Sn``
  strings), C and F chunk order, fill_value for missing chunks,
  ``dimension_separator``;
* compressors decodable with the stdlib: gzip, zlib, lzma (XZ container
  incl. numcodecs filter pipelines); blosc/lz4/zstd are gated with a
  clear error, mirroring the reference's COMPRESSORS capability list;
* numcodecs filters: shuffle (byte transpose), delta (cumsum decode),
  quantize (read = passthrough cast), fixedscaleoffset
  (dec = offset + enc/scale);
* groups: ``.zgroup`` directory walking and consolidated
  ``.zmetadata``;
* the CF/GDAL raster bridge (byte_cf1 fixtures): ``_ARRAY_DIMENSIONS``
  names, x/y coordinate arrays -> geotransform, bottom-up flip when the
  y coordinate increases — same conventions as the netCDF bridge.

Scale: ``read_zarr_chunks`` maps one chunk file per task row — the Zarr
chunk grid IS the partitioning, so a petabyte store scans as an
embarrassingly parallel chunk list with no driver IO.
"""

from __future__ import annotations

import json
import lzma
import os
import zlib

import numpy as np


class ZarrError(ValueError):
    pass


def _decompress(blob: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return blob
    cid = comp.get("id")
    if cid == "gzip":
        return zlib.decompress(blob, 16 + zlib.MAX_WBITS)
    if cid == "zlib":
        return zlib.decompress(blob)
    if cid == "lzma":
        return lzma.decompress(blob)
    if cid == "zstd":
        from gdal_spark.functions.zstd import zstd_decompress

        return zstd_decompress(blob)
    raise ZarrError(f"compressor {cid!r} not available (stdlib only)")


def _compress(raw: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return raw
    cid = comp.get("id")
    level = int(comp.get("level", 6))
    if cid == "gzip":
        co = zlib.compressobj(level, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        return co.compress(raw) + co.flush()
    if cid == "zlib":
        return zlib.compress(raw, level)
    if cid == "lzma":
        return lzma.compress(raw)
    raise ZarrError(f"compressor {cid!r} not available (stdlib only)")


def _apply_filters_decode(raw: bytes, filters, dtype: np.dtype) -> np.ndarray:
    """numcodecs decode pipeline (applied in reverse declaration order)."""
    data = raw
    arr = None
    for f in reversed(filters or []):
        fid = f["id"]
        if fid == "shuffle":
            es = int(f.get("elementsize", dtype.itemsize))
            b = np.frombuffer(data, np.uint8)
            n = b.size // es
            data = b.reshape(es, n).T.tobytes()
        elif fid == "delta":
            dt = np.dtype(f.get("dtype", dtype.str))
            enc = np.frombuffer(data, np.dtype(f.get("astype", dt.str)))
            arr = np.cumsum(enc.astype(dt))
            data = arr.astype(dt).tobytes()
        elif fid == "quantize":
            enc = np.frombuffer(data, np.dtype(f.get("astype", "<f4")))
            data = enc.astype(np.dtype(f.get("dtype", "<f8"))).tobytes()
        elif fid == "fixedscaleoffset":
            enc = np.frombuffer(data, np.dtype(f["astype"]))
            dec = f["offset"] + enc.astype(np.float64) / f["scale"]
            data = dec.astype(np.dtype(f["dtype"])).tobytes()
        else:
            raise ZarrError(f"filter {fid!r} not supported")
    return np.frombuffer(data, dtype)


_V3_DTYPES = {
    "bool": "|b1", "uint8": "|u1", "int8": "|i1",
    "uint16": "<u2", "int16": "<i2", "uint32": "<u4", "int32": "<i4",
    "uint64": "<u8", "int64": "<i8",
    "float16": "<f2", "float32": "<f4", "float64": "<f8",
}


def _read_v3_array(path: str):
    """Zarr V3 array (zarr.json node_type=array, frmts/zarr/zarrv3array):
    regular chunk grid, default/v2 chunk key encodings, codec pipeline
    bytes(endian) -> transpose -> gzip/zlib."""
    meta = json.load(open(os.path.join(path, "zarr.json")))
    if meta.get("node_type") != "array":
        raise ZarrError("not a v3 array")
    shape = tuple(meta["shape"])
    chunks = tuple(meta["chunk_grid"]["configuration"]["chunk_shape"])
    dt_name = meta["data_type"]
    if dt_name not in _V3_DTYPES:
        raise ZarrError(f"v3 data_type {dt_name!r} not supported")
    dtype = np.dtype(_V3_DTYPES[dt_name])
    codecs = meta.get("codecs") or []
    order = None
    for c in codecs:
        nm = c.get("name")
        if nm == "bytes":
            endian = c.get("configuration", {}).get("endian", "little")
            dtype = dtype.newbyteorder("<" if endian == "little" else ">")
        elif nm == "transpose":
            order = c.get("configuration", {}).get("order")
        elif nm in ("gzip", "zlib", "zstd"):
            pass
        else:
            raise ZarrError(f"v3 codec {nm!r} not supported")
    kenc = meta.get("chunk_key_encoding", {"name": "default"})
    sep = kenc.get("configuration", {}).get("separator", "/")
    fill = meta.get("fill_value", 0)
    if fill is None:
        fill = 0
    out = np.full(shape, fill, dtype=dtype.newbyteorder("="))
    import itertools

    grid = [(s + c - 1) // c for s, c in zip(shape, chunks)]
    for idx in itertools.product(*(range(g) for g in grid)) if grid else [()]:
        if kenc.get("name") == "v2":
            name = sep.join(str(i) for i in idx) if idx else "0"
        else:
            name = "c" + sep + sep.join(str(i) for i in idx) if idx else "c"
        fp = os.path.join(path, *name.split("/"))
        if not os.path.exists(fp):
            continue
        raw = open(fp, "rb").read()
        for c in codecs:
            if c.get("name") in ("gzip",):
                raw = zlib.decompress(raw, 16 + zlib.MAX_WBITS)
            elif c.get("name") == "zlib":
                raw = zlib.decompress(raw)
            elif c.get("name") == "zstd":
                from gdal_spark.functions.zstd import zstd_decompress

                raw = zstd_decompress(raw)
        flat = np.frombuffer(raw, dtype)
        if order is not None:
            perm_shape = [chunks[o] for o in order]
            chunk = flat.reshape(perm_shape).transpose(
                np.argsort(order).tolist()
            )
        else:
            chunk = flat.reshape(chunks)
        sl = tuple(
            slice(i * c_, min((i + 1) * c_, s))
            for i, c_, s in zip(idx, chunks, shape)
        )
        sub = tuple(slice(0, x.stop - x.start) for x in sl)
        out[sl] = chunk[sub]
    return out, {"meta": meta, "attrs": meta.get("attributes", {})}


def read_zarr_array(path: str):
    """Array directory -> (numpy array, {meta, attrs}); dispatches on the
    V2 (.zarray) vs V3 (zarr.json) marker files."""
    if not os.path.exists(os.path.join(path, ".zarray")) and os.path.exists(
        os.path.join(path, "zarr.json")
    ):
        return _read_v3_array(path)
    meta = json.load(open(os.path.join(path, ".zarray")))
    if meta.get("zarr_format") != 2:
        raise ZarrError("only Zarr V2 supported")
    attrs = {}
    zattrs = os.path.join(path, ".zattrs")
    if os.path.exists(zattrs):
        attrs = json.load(open(zattrs))
    dtype = np.dtype(meta["dtype"])
    shape = tuple(meta["shape"])
    chunks = tuple(meta["chunks"])
    order = meta.get("order", "C")
    sep = meta.get("dimension_separator", ".")
    fill = meta.get("fill_value", 0)
    if fill is None:
        fill = 0
    out = np.full(shape, fill, dtype=dtype) if shape else np.zeros((), dtype)
    grid = [
        (s + c - 1) // c for s, c in zip(shape, chunks)
    ] if shape else []
    import itertools

    for idx in itertools.product(*(range(g) for g in grid)) if grid else [()]:
        name = sep.join(str(i) for i in idx) if idx else "0"
        fp = os.path.join(path, name)
        if not os.path.exists(fp):
            continue
        raw = _decompress(open(fp, "rb").read(), meta.get("compressor"))
        flat = _apply_filters_decode(raw, meta.get("filters"), dtype)
        chunk = flat.reshape(chunks, order="F" if order == "F" else "C")
        sl = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, shape)
        )
        sub = tuple(slice(0, x.stop - x.start) for x in sl)
        out[sl] = chunk[sub]
    return out, {"meta": meta, "attrs": attrs}


def open_zarr_group(path: str) -> dict:
    """Group directory -> {array_name: array_dir_path}; honours a
    consolidated .zmetadata when present."""
    arrays = {}
    zmeta = os.path.join(path, ".zmetadata")
    if os.path.exists(zmeta):
        md = json.load(open(zmeta)).get("metadata", {})
        for key in md:
            if key.endswith("/.zarray"):
                nm = key[: -len("/.zarray")]
                arrays[nm] = os.path.join(path, nm)
        return arrays
    for root, dirs, files in os.walk(path):
        is_array = ".zarray" in files
        if not is_array and "zarr.json" in files:
            node = json.load(open(os.path.join(root, "zarr.json")))
            is_array = node.get("node_type") == "array"
        if is_array and os.path.abspath(root) != os.path.abspath(path):
            arrays[os.path.relpath(root, path).replace(os.sep, "/")] = root
        if is_array and os.path.abspath(root) == os.path.abspath(path):
            arrays[""] = root
    return arrays


def zarr_to_raster(path: str, var: str | None = None):
    """CF raster bridge -> ((bands, h, w), geotransform, meta). Same
    conventions as the netCDF bridge (coordinate vars at pixel centers,
    bottom-up flip when y increases)."""
    arrays = open_zarr_group(path)
    if not arrays:
        raise ZarrError("no arrays")
    def _shape_kind(p):
        za = os.path.join(p, ".zarray")
        if os.path.exists(za):
            meta = json.load(open(za))
            return meta["shape"], np.dtype(meta["dtype"]).kind
        meta = json.load(open(os.path.join(p, "zarr.json")))
        return meta["shape"], "V" if meta["data_type"] not in _V3_DTYPES \
            else np.dtype(_V3_DTYPES[meta["data_type"]]).kind

    name = var
    if name is None:
        best_nd = -1
        for nm, p in arrays.items():
            shape, kind = _shape_kind(p)
            nd = len(shape)
            if nd >= 2 and kind not in "SUV" and nd > best_nd:
                name, best_nd = nm, nd
    if name is None:
        raise ZarrError("no 2-D raster array")
    arr, info = read_zarr_array(arrays[name])
    h, w = arr.shape[-2], arr.shape[-1]
    arr = arr.reshape((-1, h, w))
    dims = info["attrs"].get(
        "_ARRAY_DIMENSIONS", info["meta"].get("dimension_names", [])
    )
    gt = None
    bottom_up = False
    if len(dims) >= 2:
        ynm, xnm = dims[-2], dims[-1]
        if ynm in arrays and xnm in arrays:
            yv, _ = read_zarr_array(arrays[ynm])
            xv, _ = read_zarr_array(arrays[xnm])
            if yv.size >= 2 and xv.size >= 2:
                bottom_up = bool(yv[0] <= yv[-1])
                if bottom_up:
                    arr = arr[:, ::-1, :]
                ys = yv[::-1] if bottom_up else yv
                dx = (float(xv[-1]) - float(xv[0])) / (w - 1)
                dy = (float(ys[-1]) - float(ys[0])) / (h - 1)
                gt = (float(xv[0]) - dx / 2, dx, 0.0,
                      float(ys[0]) - dy / 2, 0.0, dy)
    return arr, gt, {"attrs": info["attrs"], "bottom_up": bottom_up}


def write_zarr_array(
    path: str, arr: np.ndarray, chunks=None, compressor: str | None = "zlib",
    attrs: dict | None = None, order: str = "C",
) -> None:
    os.makedirs(path, exist_ok=True)
    a = np.asarray(arr)
    chunks = tuple(chunks) if chunks else a.shape
    comp = {"id": compressor, "level": 6} if compressor else None
    meta = {
        "zarr_format": 2,
        "shape": list(a.shape),
        "chunks": list(chunks),
        "dtype": a.dtype.str,
        "compressor": comp,
        "fill_value": 0,
        "filters": None,
        "order": order,
    }
    json.dump(meta, open(os.path.join(path, ".zarray"), "w"), indent=4)
    if attrs:
        json.dump(attrs, open(os.path.join(path, ".zattrs"), "w"), indent=2)
    import itertools

    grid = [(s + c - 1) // c for s, c in zip(a.shape, chunks)]
    for idx in itertools.product(*(range(g) for g in grid)) if grid else [()]:
        sl = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, a.shape)
        )
        chunk = np.zeros(chunks, dtype=a.dtype)
        sub = tuple(slice(0, x.stop - x.start) for x in sl)
        chunk[sub] = a[sl]
        raw = chunk.tobytes(order="F" if order == "F" else "C")
        name = ".".join(str(i) for i in idx) if idx else "0"
        open(os.path.join(path, name), "wb").write(_compress(raw, comp))


def read_zarr_chunks(spark, path: str):
    """Distributed chunk scan: DataFrame (chunk_idx array, offsets, data
    float64-LE bytes) — one chunk file per task."""
    import itertools

    import pandas as pd
    from pyspark.sql import types as T

    meta = json.load(open(os.path.join(path, ".zarray")))
    shape, chunks = meta["shape"], meta["chunks"]
    sep = meta.get("dimension_separator", ".")
    grid = [(s + c - 1) // c for s, c in zip(shape, chunks)]
    keys = [list(idx) for idx in itertools.product(*(range(g) for g in grid))]
    kdf = spark.createDataFrame([(k,) for k in keys], "idx: array<int>")
    schema = T.StructType([
        T.StructField("idx", T.ArrayType(T.IntegerType())),
        T.StructField("offsets", T.ArrayType(T.IntegerType())),
        T.StructField("sizes", T.ArrayType(T.IntegerType())),
        T.StructField("data", T.BinaryType()),
    ])

    def run(batches):
        m = json.load(open(os.path.join(path, ".zarray")))
        dtype = np.dtype(m["dtype"])
        for b in batches:
            rows = []
            for idx in b["idx"]:
                idx = [int(i) for i in idx]
                fp = os.path.join(path, sep.join(str(i) for i in idx))
                offs = [i * c for i, c in zip(idx, chunks)]
                sizes = [
                    min((i + 1) * c, s) - i * c
                    for i, c, s in zip(idx, chunks, shape)
                ]
                if os.path.exists(fp):
                    raw = _decompress(open(fp, "rb").read(),
                                      m.get("compressor"))
                    flat = _apply_filters_decode(raw, m.get("filters"), dtype)
                    chunk = flat.reshape(
                        chunks, order="F" if m.get("order") == "F" else "C"
                    )
                else:
                    fill = m.get("fill_value", 0) or 0
                    chunk = np.full(chunks, fill, dtype=dtype)
                sub = chunk[tuple(slice(0, s) for s in sizes)]
                rows.append(
                    (idx, offs, sizes, sub.astype("<f8").tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["idx", "offsets", "sizes", "data"]
            )

    return kdf.mapInPandas(run, schema)
