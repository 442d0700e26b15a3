"""Image codecs — the engine's "format drivers".

GDAL dispatches bytes to one of ~115 raster drivers via its driver registry
(frmts/gdalallregister.cpp, gcore/gdaldrivermanager.cpp). Here the registry
is a plain dict keyed by the `fmt` column, and decode/encode run inside
Arrow-batched UDFs (mapInPandas), so each executor decodes its partition's
rows without any driver-side involvement.

This container has no Python image libraries (no Pillow/cv2), so the
core formats are pure-numpy re-derivations.  Native libraries are bound
via ctypes (functions/extcodecs.py), as the reference's frmts/heif,
frmts/avif and frmts/webp link them: HEIF/AVIF decode only through
libheif/libavif (quarantined as unsupported_codec without them), and
WebP decodes through libwebp first, falling back to the pure-Python
decoder (webp.py/vp8.py, kept as the parity oracle) whenever libwebp is
absent or refuses a stream, so a row's status never depends on it:

  * "png"  — a real, spec-compliant PNG codec in numpy + zlib (8-bit RGB,
    filter 0 rows). Lossless: round-trips bit-exact.
  * "jpeg" — a REAL baseline JFIF codec in pure numpy (functions/jpeg.py):
    SOF0, stream-transmitted quant + Huffman tables, 4:2:0/4:2:2/4:4:4
    subsampling and restart markers on decode — reads libjpeg-produced
    files (interop fixture: tests/data). Encodes at quality 90 by default
    (2nd-generation round-trip PSNR ≈ 59-61 dB, over the 40 dB gate).
  * "qdct" — a deterministic lossy stand-in kept from v1: 8x8 orthonormal
    DCT-II, uniform quantization, zlib entropy stage (PSNR ≈ 47 dB).

All functions operate on HxWx3 uint8 arrays.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
QDCT_MAGIC = b"QDCT"
DEFAULT_Q = 4.0

# --------------------------------------------------------------------------
# PNG (true PNG, RGB8, filter 0)
# --------------------------------------------------------------------------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, c = arr.shape
    # PNG color types: 0 gray, 2 RGB, 4 gray+alpha, 6 RGBA
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    assert ctype is not None, f"png_encode expects 1-4 channels, got {c}"
    if c == 1:
        arr = arr[:, :, 0:1]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = np.empty((h, 1 + w * c), dtype=np.uint8)
    raw[:, 0] = 0  # filter type None per row
    raw[:, 1:] = arr.reshape(h, w * c)
    idat = zlib.compress(raw.tobytes(), 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _png_unfilter(raw: np.ndarray, h: int, nb: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters over an (h, 1+nb) filtered block."""
    rows = raw.reshape(h, 1 + nb)
    out = np.zeros((h, nb), dtype=np.uint8)
    prev = np.zeros(nb, dtype=np.uint8)
    for y in range(h):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ftype == 1:  # Sub — sequential along the row
            rec = line.copy()
            for x in range(bpp, nb):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif ftype == 3:  # Average
            rec = line.copy()
            for x in range(nb):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line.copy()
            for x in range(nb):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                cc = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = rec.astype(np.uint8)
        prev = out[y]
    return out


# Adam7 pass geometry: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def png_decode(data: bytes) -> np.ndarray:
    """8-bit PNG decode, all color types + Adam7 interlace (frmts/png
    parity): 0 gray -> (h, w); 2 RGB -> (h, w, 3); 3 palette -> expanded
    (h, w, 3); 4 gray+alpha -> (h, w, 2); 6 RGBA -> (h, w, 4)."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = ctype = interlace = None
    plte = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth not in (8, 16):
                raise ValueError("unsupported PNG bit depth")
            if ctype not in (0, 2, 3, 4, 6):
                raise ValueError(f"unsupported PNG color type {ctype}")
            if depth == 16 and ctype == 3:
                raise ValueError("16-bit palette PNG")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    nsamp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    bpp = nsamp * (depth // 8)  # filter offset is in BYTES per pixel
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        out = _png_unfilter(raw, h, w * bpp, bpp)
    else:  # Adam7: seven independently-filtered sub-images
        out = np.zeros((h, w * bpp), dtype=np.uint8)
        img = out.reshape(h, w, bpp)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            n = ph * (1 + pw * bpp)
            sub = _png_unfilter(raw[off : off + n], ph, pw * bpp, bpp)
            off += n
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
    if depth == 16:  # network byte order samples
        out16 = np.ascontiguousarray(out).reshape(h, -1).view(">u2")
        out16 = out16.astype(np.uint16)
        if nsamp == 1:
            return out16.reshape(h, w)
        return out16.reshape(h, w, nsamp)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return plte[out.reshape(h, w)]
    if nsamp == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, nsamp)


# --------------------------------------------------------------------------
# QDCT — deterministic lossy stand-in for JPEG
# --------------------------------------------------------------------------


def _dct_matrix(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    mat = np.sqrt(2.0 / n) * np.cos(np.pi * (x + 0.5) * k / n)
    mat[0] /= np.sqrt(2.0)
    return mat


_DCT8 = _dct_matrix(8)


def _blockify(arr: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to multiples of 8 and return (blocks, H8, W8)."""
    h, w = arr.shape
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    pad = np.pad(arr, ((0, h8 - h), (0, w8 - w)), mode="edge").astype(np.float64)
    blocks = pad.reshape(h8 // 8, 8, w8 // 8, 8).transpose(0, 2, 1, 3)
    return blocks, h8, w8


def qdct_encode(arr: np.ndarray, q: float = DEFAULT_Q) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, c = arr.shape
    coeffs = []
    for ch in range(c):
        blocks, _, _ = _blockify(arr[:, :, ch])
        tf = np.einsum("ij,abjk,lk->abil", _DCT8, blocks - 128.0, _DCT8)
        coeffs.append(np.round(tf / q).astype(np.int16))
    payload = np.concatenate([cf.ravel() for cf in coeffs]).tobytes()
    header = QDCT_MAGIC + struct.pack(">IIBf", w, h, c, float(q))
    return header + zlib.compress(payload, 6)


def qdct_decode(data: bytes) -> np.ndarray:
    if data[:4] != QDCT_MAGIC:
        raise ValueError("not QDCT")
    w, h, c, q = struct.unpack(">IIBf", data[4:17])
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    n_per = (h8 // 8) * (w8 // 8) * 64
    flat = np.frombuffer(zlib.decompress(data[17:]), dtype=np.int16).astype(np.float64)
    out = np.empty((h, w, c), dtype=np.uint8)
    for ch in range(c):
        blocks = flat[ch * n_per : (ch + 1) * n_per].reshape(h8 // 8, w8 // 8, 8, 8) * q
        spatial = np.einsum("ji,abjk,kl->abil", _DCT8, blocks, _DCT8)
        img = spatial.transpose(0, 2, 1, 3).reshape(h8, w8) + 128.0
        out[:, :, ch] = np.clip(np.round(img[:h, :w]), 0, 255).astype(np.uint8)
    return out


# --------------------------------------------------------------------------
# Registry (the "driver manager")
# --------------------------------------------------------------------------

from gdal_spark.functions.jpeg import (  # noqa: E402
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)

JPEG_QUALITY = 90


def _jpeg_encode_default(arr: np.ndarray) -> bytes:
    return jpeg_encode(arr, JPEG_QUALITY)


def _jpeg_prog_encode_default(arr: np.ndarray) -> bytes:
    return jpeg_encode_progressive(arr, JPEG_QUALITY)


from gdal_spark.functions.morefmts import (  # noqa: E402
    bmp_decode,
    bmp_encode,
    gif_decode,
    gif_encode,
    pnm_decode,
    pnm_encode,
    tga_decode,
    tga_encode,
)
from gdal_spark.functions.tiff import tiff_decode, tiff_encode  # noqa: E402

def _usgsdem_decode(data: bytes) -> np.ndarray:
    from gdal_spark.raster.usgsdem import read_usgsdem

    return read_usgsdem(data)["array"]


def _dted_decode(data: bytes) -> np.ndarray:
    from gdal_spark.raster.dted import read_dted

    return read_dted(data)["array"]


def _dted_encode(arr: np.ndarray) -> bytes:
    from gdal_spark.raster.dted import dted_encode

    return dted_encode(np.asarray(arr).astype(np.int16))


def _nitf_decode(data: bytes) -> np.ndarray:
    # lazy import: raster.nitf is header-logic heavy
    from gdal_spark.raster.nitf import read_nitf

    imgs = read_nitf(data)
    a = imgs[0]["array"]
    return a[:, :, 0] if a.shape[2] == 1 else a


def _nitf_encode(arr: np.ndarray) -> bytes:
    from gdal_spark.raster.nitf import nitf_encode

    return nitf_encode(arr)


def _lerc_decode(data: bytes) -> np.ndarray:
    """Standalone Lerc2 blob -> array; float invalid pixels become NaN
    (the MRF-LERC driver's NDV rule)."""
    from gdal_spark.raster.lerc import lerc_strip_decode

    arr, mask, _info = lerc_strip_decode(data)
    if arr.dtype.kind == "f" and not mask.all():
        arr = arr.copy()
        arr[~mask] = np.nan
    return arr


def _webp_decode(data: bytes) -> np.ndarray:
    """libwebp first; the pure-Python decoder (the parity oracle) when
    libwebp is absent or refuses the bitstream, so every row keeps the
    status the pure-Python decoder gives it."""
    from gdal_spark.functions.extcodecs import webp_decode_native
    from gdal_spark.functions.webp import image_chunk, webp_decode

    out = webp_decode_native(*image_chunk(data))
    return webp_decode(data) if out is None else out


def _webp_encode(arr: np.ndarray) -> bytes:
    from gdal_spark.functions.webp import webp_encode

    return webp_encode(arr)


def _heif_decode(data: bytes) -> np.ndarray:
    from gdal_spark.functions.extcodecs import heif_decode

    return heif_decode(data)


def _heif_encode(arr: np.ndarray) -> bytes:
    from gdal_spark.functions.extcodecs import heif_encode

    return heif_encode(arr)


def _avif_decode(data: bytes) -> np.ndarray:
    from gdal_spark.functions.extcodecs import avif_decode

    return avif_decode(data)


def _avif_encode(arr: np.ndarray) -> bytes:
    from gdal_spark.functions.extcodecs import avif_encode

    return avif_encode(arr)


def _cog_encode(arr: np.ndarray) -> bytes:
    # lazy import: raster.cog pulls in the overview-reduction kernels
    from gdal_spark.raster.cog import write_cog

    return write_cog(arr)


DECODERS = {
    "png": png_decode, "jpeg": jpeg_decode, "qdct": qdct_decode,
    "jpeg_prog": jpeg_decode,  # SOF2: same decoder entry point
    "tiff": tiff_decode, "bmp": bmp_decode, "pnm": pnm_decode,
    "gif": gif_decode, "tga": tga_decode,
    "cog": tiff_decode,  # a COG is a TIFF; IFD 0 is full resolution
    "nitf": _nitf_decode,
    "dted": _dted_decode,
    "usgsdem": _usgsdem_decode,
    "webp": _webp_decode,  # libwebp, else VP8L + VP8 (RFC 6386) in Python
    "lerc": _lerc_decode,  # standalone Lerc2 blob (read-only, like MRF-LERC)
    # external-library delegation (reference: frmts/heif, frmts/avif);
    # raise ExternalCodecUnavailable -> quarantine when the lib is absent
    "heif": _heif_decode,
    "avif": _avif_decode,
}
ENCODERS = {
    "png": png_encode, "jpeg": _jpeg_encode_default, "qdct": qdct_encode,
    "jpeg_prog": _jpeg_prog_encode_default,
    "tiff": tiff_encode, "bmp": bmp_encode, "pnm": pnm_encode,
    "gif": gif_encode, "tga": tga_encode,
    "cog": _cog_encode,
    "nitf": _nitf_encode,
    "dted": _dted_encode,
    "webp": _webp_encode,
    "heif": _heif_encode,
    "avif": _avif_encode,
}
# gif is lossless only for <=256-color inputs; it is excluded here and its
# contract entry asserts exactness on palette-sized fixtures instead
LOSSLESS = {"png", "tiff", "bmp", "pnm", "tga", "cog", "nitf", "webp"}


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Registry decode.  Corrupt/hostile inputs surface as ValueError
    regardless of which low-level error the codec hit (GDAL's driver
    layer likewise normalizes to CE_Failure), so callers can catch one
    type."""
    try:
        return DECODERS[fmt](bytes(data))
    except ValueError:
        raise
    except (IndexError, KeyError, AssertionError, struct.error,
            MemoryError, OverflowError) as exc:
        raise ValueError(f"{fmt} decode failed: {exc!r:.120}") from exc


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    return ENCODERS[fmt](arr)


# --------------------------------------------------------------------------
# quarantine classification: a 100 TB corpus run must DEGRADE measurably on
# codecs this environment cannot decode (avif/heif/jxl/jp2 need external
# libraries the reference links: frmts/heif, frmts/jpegxl, frmts/openjpeg;
# WebP animation likewise), not error out or lump them with corrupt
# bytes.  Lossy VP8 (+ ALPH) and lossless VP8L WebP DO decode.
# --------------------------------------------------------------------------

#: formats the registry knows OF (magic-identifiable) but cannot decode
#: without external codec libraries; bytes claiming these formats whose
#: magic checks out are routed to quarantine, not failure
# jxl/jp2 have no decoder at all here; heif/avif are in DECODERS but
# degrade to this set dynamically when the system library is missing
UNSUPPORTED_CODECS = {"jxl", "jp2"}

_UNSUPPORTED_MAGIC = {
    "webp": lambda h: h[:4] == b"RIFF" and h[8:12] == b"WEBP",
    "avif": lambda h: h[4:8] == b"ftyp" and h[8:12] in (b"avif", b"avis"),
    "heif": lambda h: h[4:8] == b"ftyp"
    and h[8:12] in (b"heic", b"heix", b"hevc", b"hevx", b"mif1", b"msf1"),
    "jxl": lambda h: h[:2] == b"\xff\x0a"
    or h[:12] == b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a",
    "jp2": lambda h: h[:12] == b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a"
    or h[:4] == b"\xff\x4f\xff\x51",
}

#: decode_status values (stable contract for the quarantine column)
STATUS_OK = "ok"
STATUS_UNSUPPORTED = "unsupported_codec"
STATUS_CORRUPT = "corrupt"


def classify_image(data: bytes, fmt: str) -> str:
    """Classify one (bytes, fmt) pair as ok / unsupported_codec /
    corrupt without raising.

    * fmt in the decode registry: decode it — ok on success, corrupt
      on any failure.
    * fmt in UNSUPPORTED_CODECS: check the magic — a well-formed header
      is quarantined as unsupported_codec (the bytes are fine, the
      environment lacks the codec); a magic mismatch is corrupt.
    * unknown fmt string: sniff the header against the
      known-unsupported magics (a corpus row mislabeled but
      recognizable is still quarantinable); otherwise corrupt.
    """
    h = bytes(data[:16])
    if fmt in DECODERS:
        try:
            decode_image(data, fmt)
            return STATUS_OK
        except ValueError as exc:
            from gdal_spark.functions.extcodecs import (
                ExternalCodecUnavailable)
            from gdal_spark.functions.webp import UnsupportedWebPError

            quarantine = (UnsupportedWebPError, ExternalCodecUnavailable)
            if isinstance(exc, quarantine) or isinstance(
                exc.__cause__, quarantine
            ):
                # well-formed container, codec needs an external library
                # (webp animation, heif/avif without the system lib):
                # quarantine, not corruption
                return STATUS_UNSUPPORTED
            return STATUS_CORRUPT
        except Exception:
            # classification never raises: any decode failure — including
            # codec-internal errors decode_image does not normalize
            # (e.g. zlib.error on a truncated stream) — is 'corrupt'
            return STATUS_CORRUPT
    if fmt in UNSUPPORTED_CODECS:
        return (
            STATUS_UNSUPPORTED if _UNSUPPORTED_MAGIC[fmt](h) else STATUS_CORRUPT
        )
    for sniff in _UNSUPPORTED_MAGIC.values():
        if sniff(h):
            return STATUS_UNSUPPORTED
    return STATUS_CORRUPT


def classify_table(df, bytes_col: str = "bytes", fmt_col: str = "fmt",
                   out_col: str = "decode_status"):
    """Add a decode_status column (ok|unsupported_codec|corrupt) via an
    Arrow-batched pandas UDF — the quarantine gate a training-data
    pipeline filters on before the expensive decode stage."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _classify(b, f):
        return pd.Series(
            [
                STATUS_CORRUPT if v is None else classify_image(bytes(v), fm)
                for v, fm in zip(b, f)
            ],
            dtype=object,
        )

    # real annotation objects (not strings): local scopes can't resolve
    # postponed string hints through pyspark's get_type_hints
    _classify.__annotations__ = {
        "b": pd.Series, "f": pd.Series, "return": pd.Series
    }
    udf = F.pandas_udf(_classify, T.StringType())
    return df.withColumn(out_col, udf(F.col(bytes_col), F.col(fmt_col)))
