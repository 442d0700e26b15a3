"""TIFF / GeoTIFF container in pure numpy.

The reference's flagship driver (frmts/gtiff/, backed by libtiff). One
header reader (`tiff_header`), one IFD reader (`_read_ifd`), one chunk
codec (`_decompress` / `_encode_chunk`), one predictor (`_undo_predictor`)
and one IFD writer (`_pack_ifd`) serve this module, the COG driver
(raster/cog.py), multi-page frame sequences (multimodal.py) and the
drivers that wrap a TIFF (PDS4, SNAP_TIFF, KMLSUPEROVERLAY, gdalinfo).

The reader reads:

* both byte orders (II/MM), classic TIFF and BigTIFF (version 43), and
  IFD chains (overview levels, pages);
* strips and tiles, chunky and planar (PlanarConfiguration=2) layouts;
* 1-bit bilevel strips, and 8/16/32/64-bit unsigned, signed and float
  samples, CInt16/CInt32 and CFloat32/CFloat64, any number of samples;
* compression none (1), LZW (5, with the TIFF early-change variant),
  PackBits (32773), Deflate (8, 32946), CCITT G4 (4, 1-bit only), JPEG
  (7, JPEGTables spliced in), LZMA (34925), ZSTD (50000), LERC (34887);
* horizontal (2) and floating-point (3) predictors;
* GeoTIFF georeferencing tags ModelPixelScale (33550) + ModelTiepoint
  (33922) exposed as a GDAL-style geotransform, GeoKeyDirectory (34735)
  passed through for the CRS code, and GDAL_NODATA (42113).

It never allocates more than `rawband.MAX_RAW_BYTES` for a header's
claim, and Deflate and LZMA inflate no more than a chunk can hold.

The writers emit little-endian uint8 gray or RGB with compression
none/packbits/lzw/deflate (optional horizontal predictor 2 for
lzw/deflate) and optional geotransform tags: `tiff_encode` (strips),
`_write_strips` (pages, for multimodal.tiff_encode_seq) and the COG
writer (tiles) — every written file round-trips bit-exactly through the
reader (LOSSLESS set in codecs).
"""

from __future__ import annotations

import lzma
import struct
import zlib

import numpy as np

from gdal_spark.raster.rawband import MAX_RAW_BYTES

# tag ids (TIFF 6.0 + GeoTIFF)
T_SUBFILETYPE = 254  # NewSubfileType: 1 = reduced resolution, 2 = page
T_WIDTH, T_LENGTH, T_BITS, T_COMPRESSION, T_PHOTOMETRIC = 256, 257, 258, 259, 262
T_STRIP_OFFSETS, T_SAMPLES, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_PLANAR, T_PREDICTOR, T_SAMPLEFORMAT = 284, 317, 339
T_TILE_W, T_TILE_L, T_TILE_OFFSETS, T_TILE_COUNTS = 322, 323, 324, 325
T_JPEGTABLES = 347
T_PIXEL_SCALE, T_TIEPOINT, T_GEOKEYS = 33550, 33922, 34735
T_GDAL_NODATA = 42113  # ASCII nodata value (GDAL extension tag)

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 11: 4, 12: 8,
              16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 7: "B", 11: "f", 12: "d",
             16: "Q", 17: "q", 18: "Q"}


class TiffError(ValueError):
    pass


# ---------------------------------------------------------------------------
# PackBits
# ---------------------------------------------------------------------------


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out[:expected])


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            # literal stretch up to the next >=3 run
            j = i + 1
            while j < n and j - i < 128:
                r = 1
                while j + r < n and r < 3 and data[j + r] == data[j]:
                    r += 1
                if r >= 3:
                    break
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF-variant LZW (MSB-first codes, early change)
# ---------------------------------------------------------------------------

_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table
        table = [bytes([i]) for i in range(256)] + [b"", b""]

    reset()
    bits, acc, nbits = 9, 0, 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= bits:
            code = (acc >> (nbits - bits)) & ((1 << bits) - 1)
            nbits -= bits
            if code == _CLEAR:
                reset()
                bits = 9
                prev = None
                continue
            if code == _EOI:
                return bytes(out[:expected])
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # TIFF early change (libtiff: "if (nextcode == maxcode - 1)
            # maxcode <<= 1"): widen when the NEXT entry index hits
            # 2^bits - 1 — verified against a libtiff-written stream
            # (gcore/data/gtiff/float32_lzw_predictor_3_big_endian.tif)
            if len(table) >= (1 << bits) - 1 and bits < 12:
                bits += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    return bytes(out[:expected])


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc, nbits = 0, 0
    bits = 9

    def emit(code: int):
        nonlocal acc, nbits
        acc = (acc << bits) | code
        nbits += bits
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(_CLEAR)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
        else:
            emit(table[w])
            table[w + c] = next_code
            next_code += 1
            # early change: widen when the code ABOUT to be emitted could
            # reach 2^bits (decoder widens at next-entry == 2^bits - 1)
            if next_code >= (1 << bits) and bits < 12:
                bits += 1
            if next_code > 4093:
                emit(_CLEAR)
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                bits = 9
            w = c
    if w:
        emit(table[w])
    emit(_EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Header and IFD
# ---------------------------------------------------------------------------


def tiff_header(data: bytes) -> tuple[str, bool, int]:
    """-> (byte order "<" or ">", BigTIFF flag, offset of the first IFD)."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise TiffError("not a TIFF: bad byte-order mark")
    if len(data) < 8:
        raise TiffError("truncated TIFF header")
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic not in (42, 43):
        raise TiffError(f"bad TIFF magic {magic}")
    big = magic == 43
    if big and len(data) < 16:
        raise TiffError("truncated BigTIFF header")
    (first,) = struct.unpack_from(bo + ("Q" if big else "I"), data, 8 if big else 4)
    return bo, big, first


def _read_ifd(
    data: bytes, bo: str, off: int, big: bool = False
) -> dict[int, tuple[int, list]]:
    """One IFD -> {tag: (type, values)}. ``big`` = BigTIFF (version 43):
    8-byte entry counts, 20-byte entries, 8-byte inline value slots —
    the 64-bit offset variant libtiff/GDAL use past the 4 GiB classic
    limit (frmts/gtiff BIGTIFF=YES/IF_NEEDED)."""
    cfmt, efmt, ebase, esz, inline, ptr = (
        ("Q", "HHQ", off + 8, 20, 8, "Q") if big
        else ("H", "HHI", off + 2, 12, 4, "I"))
    tags: dict[int, tuple[int, list]] = {}
    try:
        (n,) = struct.unpack_from(bo + cfmt, data, off)
        if ebase + esz * n > len(data):
            raise TiffError(f"IFD at {off} runs past the end of the file")
        for i in range(n):
            tag, typ, cnt = struct.unpack_from(bo + efmt, data, ebase + esz * i)
            vo = ebase + esz * i + esz - inline
            if _TYPE_SIZE.get(typ, 1) * cnt > inline:
                (vo,) = struct.unpack_from(bo + ptr, data, vo)
            if typ == 5:  # RATIONAL
                pairs = struct.unpack_from(bo + str(2 * cnt) + "I", data, vo)
                vals = [a / b if b else 0.0 for a, b in zip(pairs[::2], pairs[1::2])]
            elif typ == 2:
                vals = [data[vo : vo + cnt].split(b"\0")[0].decode("ascii", "replace")]
            elif typ in _TYPE_FMT:
                vals = list(struct.unpack_from(bo + str(cnt) + _TYPE_FMT[typ], data, vo))
            else:
                continue
            tags[tag] = (typ, vals)
    except struct.error as exc:
        raise TiffError(f"IFD at {off}: {exc}") from None
    return tags


def ifd_offsets(data: bytes) -> list[int]:
    """Walk the IFD chain (next-IFD pointers) -> byte offsets. Multi-IFD
    files are how GDAL stores overviews inside a GeoTIFF/COG (frmts/gtiff:
    overview IFDs chained after the full-resolution IFD) and how a
    multi-page file stores its pages."""
    bo, big, off = tiff_header(data)
    cfmt, csz, esz, ptr = ("Q", 8, 20, "Q") if big else ("H", 2, 12, "I")
    offs: list[int] = []
    seen: set[int] = set()
    while off:
        if off in seen:
            raise TiffError("IFD chain loop")
        seen.add(off)
        offs.append(off)
        try:
            (n,) = struct.unpack_from(bo + cfmt, data, off)
            (off,) = struct.unpack_from(bo + ptr, data, off + csz + esz * n)
        except struct.error:
            raise TiffError("IFD chain runs past the end of the file") from None
    return offs


def _check_size(nbytes: int) -> None:
    if nbytes > MAX_RAW_BYTES:
        raise TiffError(f"TIFF claims {nbytes} bytes: too large")


# ---------------------------------------------------------------------------
# Chunk (strip / tile) codec and predictors
# ---------------------------------------------------------------------------


def _jpeg_chunk(chunk: bytes, nsmp: int, tables: bytes | None,
                photometric: int) -> bytes:
    """COMPRESSION_JPEG (7): each strip/tile is a JPEG bitstream;
    abbreviated streams get the DQT/DHT from the JPEGTables tag
    spliced after their SOI (libtiff tif_jpeg.c semantics).
    Photometric RGB means the components are stored without the
    YCbCr transform (libtiff forces the jpeg color space from the
    photometric, not from stream markers)."""
    from gdal_spark.functions.jpeg import jpeg_decode

    stream = chunk
    if tables and len(tables) > 4:
        body = tables[2:]
        if body[-2:] == b"\xff\xd9":
            body = body[:-2]
        stream = b"\xff\xd8" + body + chunk[2:]
    arr = jpeg_decode(stream, force_color="rgb" if photometric == 2 else None)
    if nsmp == 1:
        return arr[:, :, 0].tobytes()
    if nsmp == 3:
        return arr.tobytes()
    raise TiffError(f"JPEG-in-TIFF with {nsmp} samples not supported")


def _inflate(dec, chunk: bytes, nbytes: int) -> bytes:
    """At most ``nbytes`` from a Deflate/LZMA decompressor, whatever the
    stream claims; a stream that ends early is an error."""
    out = dec.decompress(chunk, nbytes)
    if len(out) < nbytes and not dec.eof:
        raise TiffError("truncated compressed chunk")
    return out


def _decompress(chunk: bytes, comp: int, nbytes: int, nsmp: int = 1,
                tables: bytes | None = None, photometric: int = 1) -> bytes:
    """One compressed strip or tile -> at most ``nbytes`` raw bytes."""
    if nbytes <= 0:
        return b""
    if comp == 1:
        return chunk[:nbytes]
    if comp == 5:
        return lzw_decode(chunk, nbytes)
    if comp == 32773:
        return packbits_decode(chunk, nbytes)
    if comp in (8, 32946):  # Deflate / Adobe Deflate
        return _inflate(zlib.decompressobj(), chunk, nbytes)
    if comp == 7:  # new-style JPEG
        return _jpeg_chunk(chunk, nsmp, tables, photometric)[:nbytes]
    if comp == 34925:  # LZMA2 (libtiff tif_lzma.c, xz stream)
        return _inflate(lzma.LZMADecompressor(), chunk, nbytes)
    if comp == 50000:  # ZSTD (tif_zstd.c)
        from gdal_spark.functions.zstd import zstd_decompress

        res = zstd_decompress(chunk)
        if not res:
            # a well-formed frame decoding to nothing for a
            # non-empty strip is corruption (byte_zstd_corrupted)
            raise TiffError("ZSTD strip decoded to 0 bytes")
        return res[:nbytes]
    if comp == 34887:  # ESRI LERC (tif_lerc.c; raw or zlib-wrapped)
        from gdal_spark.raster.lerc import lerc_strip_decode

        arr, _mask, _info = lerc_strip_decode(chunk)
        return np.ascontiguousarray(arr).tobytes()[:nbytes]
    raise TiffError(f"unsupported compression {comp}")


def _undo_predictor(arr: np.ndarray) -> np.ndarray:
    """Predictor 2 on (rows, width, nsmp) integer samples: a modular
    running sum along the width axis, each sample on its own. Returns
    native byte order."""
    if arr.dtype.kind not in "ui":
        raise TiffError("predictor 2 on non-integer samples")
    isz = arr.dtype.itemsize
    u = arr.astype(f"u{isz}")
    return np.cumsum(u, axis=1, dtype=u.dtype).view(f"{arr.dtype.kind}{isz}")


def _undo_fp_predictor(raw: bytes, rows: int, width: int, nsmp: int,
                       dt: np.dtype) -> np.ndarray:
    """Predictor 3 (floating point, TIFF Technote 3, libtiff fpAcc): per
    row, the samples' bytes are split into planes in big-endian
    significance order and differenced with a stride of nsmp bytes;
    undo the sum, then reassemble the samples."""
    isz = dt.itemsize
    b = np.frombuffer(raw, np.uint8, rows * width * nsmp * isz)
    b = _undo_predictor(b.reshape(rows, isz * width, nsmp))
    b = b.reshape(rows, isz, width * nsmp).transpose(0, 2, 1)
    return np.ascontiguousarray(b).view(dt.newbyteorder(">")).reshape(
        rows, width, nsmp)


def _chunk_to_samples(raw: bytes, rows: int, width: int, nsmp: int,
                      dt: np.dtype, pred: int) -> np.ndarray:
    """Decompressed chunk bytes -> (rows, width, nsmp), predictor undone.
    Writers may truncate partial final strips/tiles (gcore #1179) — pad
    short chunks with zeros."""
    need = rows * width * nsmp * dt.itemsize
    if len(raw) < need:
        raw = raw + bytes(need - len(raw))
    if pred == 3:
        return _undo_fp_predictor(raw, rows, width, nsmp, dt)
    arr = np.frombuffer(raw, dt, rows * width * nsmp).reshape(rows, width, nsmp)
    return _undo_predictor(arr) if pred == 2 else arr


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------

# (bits, SampleFormat) -> dtype: 1 uint, 2 int, 3 float, 5 complex int,
# 6 complex float (TIFF 6 + GDAL); CInt16/CInt32 as (real, imag) structs
_DTYPES = {
    (8, 1): "u1", (8, 2): "i1", (16, 1): "u2", (16, 2): "i2",
    (32, 1): "u4", (32, 2): "i4", (32, 3): "f4",
    (64, 1): "u8", (64, 2): "i8", (64, 3): "f8",
    (32, 5): [("r", "i2"), ("i", "i2")],
    (64, 5): [("r", "i4"), ("i", "i4")],
    (64, 6): "c8", (128, 6): "c16",
}


def _meta(tags: dict, w: int, h: int, spp: int, comp: int) -> dict:
    meta: dict = {"width": w, "height": h, "samples": spp, "compression": comp}
    if T_PIXEL_SCALE in tags and T_TIEPOINT in tags:
        sx, sy = tags[T_PIXEL_SCALE][1][0], tags[T_PIXEL_SCALE][1][1]
        # tiepoint (i, j, k, x, y, z): raster (i, j) pins world (x, y)
        i, j, _, x, y, _ = tags[T_TIEPOINT][1][:6]
        meta["geotransform"] = (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)
    if T_GEOKEYS in tags:
        meta["geokeys"] = tags[T_GEOKEYS][1]
    if T_GDAL_NODATA in tags:
        try:
            meta["nodata"] = float(tags[T_GDAL_NODATA][1][0])
        except (TypeError, ValueError):
            pass
    return meta


def _read_bilevel(data: bytes, tags: dict, w: int, h: int, comp: int,
                  rps: int) -> np.ndarray:
    """1-bit strips (bit-packed rows, or CCITT G4) -> (h, w) of 0/1."""
    _check_size(h * w)
    out = np.zeros((h, w), np.uint8)
    rowbytes = (w + 7) // 8
    offs = tags.get(T_STRIP_OFFSETS, (4, []))[1]
    cnts = tags.get(T_STRIP_COUNTS, (4, [len(data)]))[1]
    for si, off in enumerate(offs):
        y0 = si * rps
        rows = min(rps, h - y0)
        if rows <= 0:
            break
        chunk = data[off:off + (cnts[si] if si < len(cnts) else len(data) - off)]
        if comp == 4:
            from gdal_spark.functions.ccitt import g4_decode

            out[y0:y0 + rows] = g4_decode(chunk, w, rows)
            continue
        raw = _decompress(chunk, comp, rows * rowbytes).ljust(rows * rowbytes, b"\0")
        packed = np.frombuffer(raw, np.uint8).reshape(rows, rowbytes)
        out[y0:y0 + rows] = np.unpackbits(packed, axis=1)[:, :w]
    return out


def tiff_parse(data: bytes, ifd_index: int = 0) -> tuple[np.ndarray, dict]:
    """-> (array HxW or HxWxS, metadata dict with geotransform when
    georeferencing tags are present). ``ifd_index`` selects an IFD from
    the chain (0 = full resolution, 1.. = overview levels or pages)."""
    bo, big, ifd_off = tiff_header(data)
    if ifd_index:
        chain = ifd_offsets(data)
        if ifd_index >= len(chain):
            raise TiffError(f"no IFD {ifd_index} (chain has {len(chain)})")
        ifd_off = chain[ifd_index]
    tags = _read_ifd(data, bo, ifd_off, big=big)

    def one(tag, default=None):
        if tag in tags:
            return tags[tag][1][0]
        return default

    w, h = one(T_WIDTH), one(T_LENGTH)
    if w is None or h is None:
        raise TiffError("missing ImageWidth or ImageLength")
    spp = one(T_SAMPLES, 1)
    comp = one(T_COMPRESSION, 1)
    pred = one(T_PREDICTOR, 1)
    bits = tags.get(T_BITS, (3, [8]))[1]
    rps = max(min(one(T_ROWS_PER_STRIP, h), h), 1)
    meta = _meta(tags, w, h, spp, comp)
    if bits[0] == 1 and spp == 1:
        meta.update(nbits=1, photometric=one(T_PHOTOMETRIC, 1))
        return _read_bilevel(data, tags, w, h, comp, rps), meta
    if any(b != bits[0] for b in bits) or bits[0] not in (8, 16, 32, 64, 128):
        raise TiffError(f"unsupported BitsPerSample {bits}")
    sfmt = tags.get(T_SAMPLEFORMAT, (3, [1]))[1][0]
    spec = _DTYPES.get((bits[0], sfmt))
    if spec is None:
        raise TiffError(f"unsupported sample format {sfmt}/{bits[0]} bits")
    if isinstance(spec, list):
        dt, out_dt = np.dtype([(n, bo + t) for n, t in spec]), np.dtype(spec)
    else:
        dt, out_dt = np.dtype(bo + spec), np.dtype(spec)
    isz = dt.itemsize
    planar = one(T_PLANAR, 1)
    if planar not in (1, 2):
        raise TiffError(f"unsupported planar config {planar}")
    if comp == 7 and bits[0] != 8:
        raise TiffError("JPEG-in-TIFF supported for 8-bit only")
    tables = bytes(tags[T_JPEGTABLES][1]) if T_JPEGTABLES in tags else None
    photometric = one(T_PHOTOMETRIC, 1)

    # strips are tiles as wide as the image and RowsPerStrip tall
    tiled = T_TILE_OFFSETS in tags
    for req in ((T_TILE_COUNTS,) if tiled else (T_STRIP_OFFSETS, T_STRIP_COUNTS)):
        if req not in tags:
            raise TiffError(f"missing required tag {req}")
    if tiled:
        tw, tl = one(T_TILE_W), one(T_TILE_L)
        offs, cnts = tags[T_TILE_OFFSETS][1], tags[T_TILE_COUNTS][1]
        if not tw or not tl:
            raise TiffError("missing or zero TileWidth/TileLength")
    else:
        tw, tl = w or 1, rps
        offs, cnts = tags[T_STRIP_OFFSETS][1], tags[T_STRIP_COUNTS][1]
    per_band = planar == 2 and spp > 1
    nsmp = 1 if per_band else spp
    _check_size(h * w * spp * isz)
    _check_size(tw * tl * nsmp * isz)
    out = np.zeros((h, w, spp), dtype=out_dt)
    across, down = max(-(-w // tw), 1), max(-(-h // tl), 1)
    per_plane = across * down
    for ci, (o, c) in enumerate(zip(offs, cnts)):
        band, pos = divmod(ci, per_plane)
        if band >= (spp if per_band else 1):
            break
        y0, x0 = pos // across * tl, pos % across * tw
        raw = _decompress(data[o : o + c], comp, tw * tl * nsmp * isz, nsmp,
                          tables, photometric)
        chunk = _chunk_to_samples(raw, tl, tw, nsmp, dt, pred)
        ys, xs = min(tl, h - y0), min(tw, w - x0)
        if per_band:
            out[y0 : y0 + ys, x0 : x0 + xs, band] = chunk[:ys, :xs, 0]
        else:
            out[y0 : y0 + ys, x0 : x0 + xs] = chunk[:ys, :xs]

    if out.dtype.names:  # complex int -> numpy complex
        cplx = np.complex64 if out.dtype["r"].itemsize == 2 else np.complex128
        out = out["r"].astype(cplx) + 1j * out["i"].astype(cplx)
    arr = out[:, :, 0] if spp == 1 else out
    return arr, meta


def tiff_decode(data: bytes) -> np.ndarray:
    arr, _ = tiff_parse(bytes(data))
    return arr


# ---------------------------------------------------------------------------
# Writer (little-endian uint8; strips here, tiles in raster/cog.py)
# ---------------------------------------------------------------------------

_COMPRESSION = {"none": 1, "lzw": 5, "packbits": 32773, "deflate": 8}
_VAL_FMT = {3: "H", 4: "I", 12: "d", 16: "Q"}


def _codec(compression: str, predictor: int) -> int:
    comp = _COMPRESSION[compression]
    if predictor not in (1, 2):
        raise TiffError("writer supports predictor 1 or 2")
    if predictor == 2 and comp not in (5, 8):
        raise TiffError("predictor requires lzw or deflate")
    return comp


def _pixels(arr) -> np.ndarray:
    """Writer input -> (h, w, spp) uint8."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise TiffError("writer supports uint8 only")
    return a[:, :, None] if a.ndim == 2 else a


def _encode_chunk(block: np.ndarray, comp: int, predictor: int,
                  zlevel: int) -> bytes:
    """(rows, width, spp) uint8 -> one strip or tile: horizontal
    differencing per interleaved sample when predictor == 2 (frmts/gtiff
    PREDICTOR=2, uint8 wraparound), then compression."""
    if predictor == 2:
        block = block.copy()
        block[:, 1:] -= block[:, :-1]
    raw = block.tobytes()
    if comp == 5:
        return lzw_encode(raw)
    if comp == 32773:
        return packbits_encode(raw)
    if comp == 8:
        return zlib.compress(raw, zlevel)
    return raw


def _image_entries(h: int, w: int, spp: int, comp: int,
                   predictor: int) -> list[tuple[int, int, int, list]]:
    e = [
        (T_WIDTH, 4, 1, [w]),
        (T_LENGTH, 4, 1, [h]),
        (T_BITS, 3, spp, [8] * spp),
        (T_COMPRESSION, 3, 1, [comp]),
        (T_PHOTOMETRIC, 3, 1, [2 if spp == 3 else 1]),
        (T_SAMPLES, 3, 1, [spp]),
        (T_PLANAR, 3, 1, [1]),
    ]
    if predictor == 2:
        e.append((T_PREDICTOR, 3, 1, [2]))
    return e


def _geo_entries(gt: tuple | None) -> list[tuple[int, int, int, list]]:
    if gt is None:
        return []
    if gt[2] or gt[4]:
        raise TiffError("rotated geotransforms not supported")
    return [(T_PIXEL_SCALE, 12, 3, [gt[1], -gt[5], 0.0]),
            (T_TIEPOINT, 12, 6, [0.0, 0.0, 0.0, gt[0], gt[3], 0.0])]


def _header(big: bool, first_ifd: int) -> bytes:
    if big:
        return struct.pack("<2sHHHQ", b"II", 43, 8, 0, first_ifd)
    return struct.pack("<2sHI", b"II", 42, first_ifd)


def _pack_ifd(
    entries: list[tuple[int, int, int, list]],
    ifd_off: int,
    next_off: int,
    big: bool = False,
) -> bytes:
    """Serialize one little-endian IFD at ``ifd_off``; values wider than
    the inline slot go to an overflow block immediately after the entry
    table. ``big`` = BigTIFF layout (8-byte counts/offsets, 20-byte
    entries). The length does not depend on the offsets' values."""
    entries = sorted(entries)
    inline, head, ptr = (8, "<HHQ", "<Q") if big else (4, "<HHI", "<I")
    overflow_base = ifd_off + (16 if big else 6) + len(entries) * (20 if big else 12)
    overflow = bytearray()
    body = bytearray(struct.pack("<Q" if big else "<H", len(entries)))
    for tag, typ, cnt, vals in entries:
        payload = struct.pack("<" + str(cnt) + _VAL_FMT[typ], *vals)
        body += struct.pack(head, tag, typ, cnt)
        if len(payload) <= inline:
            body += payload.ljust(inline, b"\0")
        else:
            body += struct.pack(ptr, overflow_base + len(overflow))
            overflow += payload
    body += struct.pack(ptr, next_off)
    return bytes(body + overflow)


def _pack_ifds(tables: list[list], first: int, big: bool = False) -> bytes:
    """IFDs back to back from ``first``, each pointing to the next."""
    offs = [first]
    for t in tables[:-1]:
        offs.append(offs[-1] + len(_pack_ifd(t, 0, 0, big)))
    return b"".join(
        _pack_ifd(t, off, offs[i + 1] if i + 1 < len(offs) else 0, big)
        for i, (t, off) in enumerate(zip(tables, offs)))


def _write_strips(pages: list[tuple[np.ndarray, list]], rows_per_strip: int,
                  comp: int = 1, predictor: int = 1, zlevel: int = 6) -> bytes:
    """[((h, w, spp) uint8, extra IFD entries)] -> classic little-endian
    TIFF: header | every page's strips | one IFD per page, chained in
    page order."""
    if not pages:
        raise TiffError("no pages to write")
    pos, body, tables = 8, [], []
    for a, extra in pages:
        h, w, spp = a.shape
        offs, cnts = [], []
        for y in range(0, h, rows_per_strip):
            strip = _encode_chunk(a[y : y + rows_per_strip], comp, predictor, zlevel)
            body.append(strip)
            offs.append(pos)
            cnts.append(len(strip))
            pos += len(strip)
        tables.append(_image_entries(h, w, spp, comp, predictor) + [
            (T_STRIP_OFFSETS, 4, len(offs), offs),
            (T_ROWS_PER_STRIP, 4, 1, [rows_per_strip]),
            (T_STRIP_COUNTS, 4, len(cnts), cnts),
        ] + extra)
    return _header(False, pos) + b"".join(body) + _pack_ifds(tables, pos)


def tiff_encode(
    arr: np.ndarray,
    compression: str = "none",
    rows_per_strip: int = 64,
    geotransform: tuple | None = None,
    predictor: int = 1,
    zlevel: int = 6,
) -> bytes:
    """uint8 gray (h, w) or RGB (h, w, 3) -> TIFF bytes.

    compression: none | lzw | packbits | deflate (COMPRESS=DEFLATE,
    the most common GeoTIFF compression — frmts/gtiff COMPRESSION_
    ADOBE_DEFLATE); predictor=2 applies horizontal differencing per
    sample before lzw/deflate (frmts/gtiff PREDICTOR=2)."""
    a = _pixels(arr)
    comp = _codec(compression, predictor)
    return _write_strips([(a, _geo_entries(geotransform))], rows_per_strip,
                         comp, predictor, zlevel)
