"""External-library image codecs bound with ctypes: HEIF/HEIC via the
system libheif, AVIF via libavif, and a libwebp decode fast path.

This mirrors the reference's architecture — frmts/heif links libheif
(heif_context_read_from_memory / heif_decode_image), frmts/avif links
libavif (avifDecoderReadMemory / avifImageYUVToRGB) and frmts/webp
links libwebp.  HEVC/AV1 are not re-derivable at pure-Python speed:
when those shared objects are absent the decoders raise
:class:`ExternalCodecUnavailable`, which the quarantine classifier
maps to ``unsupported_codec`` — so a corpus run degrades instead of
erroring, and upgrades transparently on hosts that have the libs.
WebP has a pure-Python decoder (webp.py/vp8.py, the parity oracle);
libwebp only makes it cheaper per row, and its absence changes no
status.  All three libraries load through :func:`bind`.

ABI notes: libheif's API is opaque-pointer based (only the by-value
``heif_error`` struct is declared).  libavif's ``avifRGBImage`` layout
varies across versions, so instead of hardcoding offsets the binding
calls ``avifRGBImageAllocatePixels`` on an oversized buffer and scans
for the allocated ``pixels`` pointer (the struct's only pointer
field), taking bytes per pixel from the ``rowBytes`` after it.
"""

from __future__ import annotations

import ctypes as C
import functools
import os
import struct as st
import tempfile

import numpy as np

__all__ = [
    "ExternalCodecUnavailable", "bind", "heif_available", "avif_available",
    "webp_available", "heif_decode", "heif_encode", "avif_decode",
    "avif_encode", "webp_decode_native",
]

_HEIF_SO = "libheif.so.1"
_AVIF_SO = "libavif.so.15"
_WEBP_SO = "libwebp.so.7"


class ExternalCodecUnavailable(ValueError):
    """The system codec library this format needs is not present."""


@functools.lru_cache(maxsize=None)
def bind(soname: str, symbols: tuple) -> C.CDLL | None:
    """Open ``soname`` and declare ``symbols``, a tuple of
    ``(name, restype, argtypes)``; ``None`` when the library does not
    open or lacks a symbol.  Cached per (soname, symbols), so every
    caller of one symbol set shares one handle."""
    try:
        lib = C.CDLL(soname)
        for name, restype, argtypes in symbols:
            fn = getattr(lib, name)
            fn.restype, fn.argtypes = restype, list(argtypes)
    except (OSError, AttributeError):
        return None
    return lib


class _HeifError(C.Structure):
    _fields_ = [("code", C.c_int), ("subcode", C.c_int),
                ("message", C.c_char_p)]


# libheif enums (public heif.h)
_HEIF_RGB = 1            # heif_colorspace_RGB
_HEIF_ILV = 10           # heif_chroma_interleaved_RGB
_HEIF_CH_ILV = 10        # heif_channel_interleaved
_HEIF_HEVC = 1           # heif_compression_HEVC

_P = C.c_void_p
_PP = C.POINTER(C.c_void_p)
_PI = C.POINTER(C.c_int)
_HEIF_SYMBOLS = (
    ("heif_context_alloc", _P, ()),
    ("heif_context_free", None, (_P,)),
    ("heif_context_read_from_memory_without_copy", _HeifError,
     (_P, C.c_char_p, C.c_size_t, _P)),
    ("heif_context_get_primary_image_handle", _HeifError, (_P, _PP)),
    ("heif_image_handle_get_width", C.c_int, (_P,)),
    ("heif_image_handle_get_height", C.c_int, (_P,)),
    ("heif_image_handle_release", None, (_P,)),
    ("heif_decode_image", _HeifError, (_P, _PP, C.c_int, C.c_int, _P)),
    ("heif_image_get_plane_readonly", C.POINTER(C.c_uint8),
     (_P, C.c_int, _PI)),
    ("heif_image_release", None, (_P,)),
    ("heif_context_get_encoder_for_format", _HeifError, (_P, C.c_int, _PP)),
    ("heif_image_create", _HeifError,
     (C.c_int, C.c_int, C.c_int, C.c_int, _PP)),
    ("heif_image_add_plane", _HeifError,
     (_P, C.c_int, C.c_int, C.c_int, C.c_int)),
    ("heif_image_get_plane", C.POINTER(C.c_uint8), (_P, C.c_int, _PI)),
    ("heif_context_encode_image", _HeifError, (_P, _P, _P, _P, _PP)),
    ("heif_context_write_to_file", _HeifError, (_P, C.c_char_p)),
)


def _load_heif():
    lib = bind(_HEIF_SO, _HEIF_SYMBOLS)
    if lib is None:
        raise ExternalCodecUnavailable("libheif not available")
    return lib


def heif_available() -> bool:
    return bind(_HEIF_SO, _HEIF_SYMBOLS) is not None


def _hcheck(err: _HeifError, what: str) -> None:
    if err.code != 0:
        msg = (err.message or b"?").decode("utf-8", "replace")
        raise ValueError(f"heif {what} failed: {msg}")


def heif_decode(data: bytes) -> np.ndarray:
    """HEIF/HEIC bytes -> (h, w, 3) uint8 RGB (primary image)."""
    lib = _load_heif()
    data = bytes(data)
    ctx = lib.heif_context_alloc()
    try:
        _hcheck(lib.heif_context_read_from_memory_without_copy(
            ctx, data, len(data), None), "read")
        hdl = C.c_void_p()
        _hcheck(lib.heif_context_get_primary_image_handle(
            ctx, C.byref(hdl)), "primary handle")
        try:
            w = lib.heif_image_handle_get_width(hdl)
            h = lib.heif_image_handle_get_height(hdl)
            img = C.c_void_p()
            _hcheck(lib.heif_decode_image(
                hdl, C.byref(img), _HEIF_RGB, _HEIF_ILV, None), "decode")
            try:
                stride = C.c_int()
                p = lib.heif_image_get_plane_readonly(
                    img, _HEIF_CH_ILV, C.byref(stride))
                if not p:
                    raise ValueError("heif: no interleaved plane")
                arr = np.ctypeslib.as_array(p, (h, stride.value))
                return arr[:, : w * 3].reshape(h, w, 3).copy()
            finally:
                lib.heif_image_release(img)
        finally:
            lib.heif_image_handle_release(hdl)
    finally:
        lib.heif_context_free(ctx)


def heif_encode(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> HEIC (HEVC) bytes, default encoder opts."""
    lib = _load_heif()
    img = np.ascontiguousarray(img, np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, -1)
    h, w, _ = img.shape
    ctx = lib.heif_context_alloc()
    try:
        enc = C.c_void_p()
        _hcheck(lib.heif_context_get_encoder_for_format(
            ctx, _HEIF_HEVC, C.byref(enc)), "get encoder")
        him = C.c_void_p()
        _hcheck(lib.heif_image_create(
            w, h, _HEIF_RGB, _HEIF_ILV, C.byref(him)), "image create")
        _hcheck(lib.heif_image_add_plane(
            him, _HEIF_CH_ILV, w, h, 24), "add plane")
        stride = C.c_int()
        p = lib.heif_image_get_plane(him, _HEIF_CH_ILV, C.byref(stride))
        buf = np.ctypeslib.as_array(p, (h, stride.value))
        buf[:, : w * 3] = img.reshape(h, w * 3)
        _hcheck(lib.heif_context_encode_image(
            ctx, him, enc, None, None), "encode")
        fd, fn = tempfile.mkstemp(suffix=".heic")
        os.close(fd)
        try:
            _hcheck(lib.heif_context_write_to_file(ctx, fn.encode()),
                    "write")
            with open(fn, "rb") as f:
                return f.read()
        finally:
            os.remove(fn)
    finally:
        lib.heif_context_free(ctx)


# ---------------------------------------------------------------------------
# libavif
# ---------------------------------------------------------------------------

_AVIF_RGBBUF = 512  # oversized avifRGBImage shell
_AVIF_RGB = 0       # AVIF_RGB_FORMAT_RGB


_AVIF_SYMBOLS = (
    ("avifDecoderCreate", _P, ()),
    ("avifDecoderDestroy", None, (_P,)),
    ("avifImageCreateEmpty", _P, ()),
    ("avifImageCreate", _P, (C.c_uint32, C.c_uint32, C.c_uint32, C.c_int)),
    ("avifImageDestroy", None, (_P,)),
    ("avifDecoderReadMemory", C.c_int, (_P, _P, C.c_char_p, C.c_size_t)),
    ("avifRGBImageSetDefaults", None, (_P, _P)),
    ("avifRGBImageAllocatePixels", None, (_P,)),
    ("avifRGBImageFreePixels", None, (_P,)),
    ("avifImageYUVToRGB", C.c_int, (_P, _P)),
    ("avifImageRGBToYUV", C.c_int, (_P, _P)),
    ("avifEncoderCreate", _P, ()),
    ("avifEncoderDestroy", None, (_P,)),
    ("avifEncoderWrite", C.c_int, (_P, _P, _P)),
    ("avifRWDataFree", None, (_P,)),
)


def _avif():
    return (bind(_AVIF_SO, _AVIF_SYMBOLS)
            or bind("libavif.so", _AVIF_SYMBOLS))


def _load_avif():
    lib = _avif()
    if lib is None:
        raise ExternalCodecUnavailable("libavif not available")
    return lib


def avif_available() -> bool:
    return _avif() is not None


class _AvifRW(C.Structure):
    _fields_ = [("data", C.POINTER(C.c_uint8)), ("size", C.c_size_t)]


def _avif_rgb_shell(lib, img_ptr):
    """avifRGBImage in an oversized buffer: defaults from the image,
    8-bit RGB requested, pixels allocated; returns (shell, pixels)
    with ``pixels`` an (h, w, bpp) view of the allocated buffer.  The
    bytes per pixel come from rowBytes // width, so a build that
    allocates RGBA for the request still decodes."""
    buf = C.create_string_buffer(_AVIF_RGBBUF)
    lib.avifRGBImageSetDefaults(buf, img_ptr)
    # depth and format: 3rd and 4th uint32 (w, h, depth, format) — a
    # stable prefix; the defaults copy the image's depth (10/12-bit AVIF)
    C.memmove(C.addressof(buf) + 8, st.pack("<II", 8, _AVIF_RGB), 8)
    lib.avifRGBImageAllocatePixels(buf)
    raw = bytes(buf.raw)
    w, h = st.unpack_from("<II", raw, 0)
    for off in range(16, 256, 8):
        (p,) = st.unpack_from("<Q", raw, off)
        if p > 0x10000:
            (rb,) = st.unpack_from("<I", raw, off + 8)
            if w and rb in (w * 3, w * 4):
                pix = np.frombuffer((C.c_uint8 * (rb * h)).from_address(p),
                                    np.uint8).reshape(h, w, rb // w)
                return buf, pix
    lib.avifRGBImageFreePixels(buf)
    raise ValueError("avif: RGB pixel buffer not located")


def avif_decode(data: bytes) -> np.ndarray:
    """AVIF bytes -> (h, w, 3) uint8 RGB."""
    lib = _load_avif()
    data = bytes(data)
    dec = lib.avifDecoderCreate()
    img = lib.avifImageCreateEmpty()
    try:
        res = lib.avifDecoderReadMemory(dec, img, data, len(data))
        if res != 0:
            raise ValueError(f"avif decode failed (result {res})")
        shell, pix = _avif_rgb_shell(lib, img)
        try:
            res = lib.avifImageYUVToRGB(img, shell)
            if res != 0:
                raise ValueError(f"avif YUV->RGB failed (result {res})")
            return pix[..., :3].copy()
        finally:
            lib.avifRGBImageFreePixels(shell)
    finally:
        lib.avifImageDestroy(img)
        lib.avifDecoderDestroy(dec)


def avif_encode(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> AVIF bytes (YUV420, default quality)."""
    lib = _load_avif()
    img = np.ascontiguousarray(img, np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, -1)
    h, w, _ = img.shape
    aimg = lib.avifImageCreate(w, h, 8, 1)  # AVIF_PIXEL_FORMAT_YUV420
    enc = lib.avifEncoderCreate()
    try:
        shell, pix = _avif_rgb_shell(lib, aimg)
        try:
            pix[..., :3] = img
            pix[..., 3:] = 255
            res = lib.avifImageRGBToYUV(aimg, shell)
            if res != 0:
                raise ValueError(f"avif RGB->YUV failed (result {res})")
        finally:
            lib.avifRGBImageFreePixels(shell)
        out = _AvifRW()
        res = lib.avifEncoderWrite(enc, aimg, C.byref(out))
        if res != 0:
            raise ValueError(f"avif encode failed (result {res})")
        try:
            return bytes(np.ctypeslib.as_array(out.data, (out.size,)))
        finally:
            lib.avifRWDataFree(C.byref(out))
    finally:
        lib.avifEncoderDestroy(enc)
        lib.avifImageDestroy(aimg)


# ---------------------------------------------------------------------------
# libwebp (decode fast path; webp.webp_decode stays the reference decoder)
# ---------------------------------------------------------------------------


class _WebPFeatures(C.Structure):
    _fields_ = [("width", C.c_int), ("height", C.c_int),
                ("has_alpha", C.c_int), ("has_animation", C.c_int),
                ("format", C.c_int), ("pad", C.c_uint32 * 5)]


_WEBP_ABI = 0x0209  # WEBP_DECODER_ABI_VERSION; only the major byte is checked
_WEBP_INTO = (C.c_char_p, C.c_size_t, _P, C.c_size_t, C.c_int)
_WEBP_SYMBOLS = (
    ("WebPGetFeaturesInternal", C.c_int,
     (C.c_char_p, C.c_size_t, C.POINTER(_WebPFeatures), C.c_int)),
    ("WebPDecodeRGBInto", _P, _WEBP_INTO),
    ("WebPDecodeRGBAInto", _P, _WEBP_INTO),
)


def _webp():
    return bind(_WEBP_SO, _WEBP_SYMBOLS)


def webp_available() -> bool:
    return _webp() is not None


def webp_decode_native(fourcc: bytes, payload: bytes,
                       alph: bytes | None) -> np.ndarray | None:
    """libwebp decode of the image chunk ``webp.image_chunk`` picked:
    the same pixels and channel count as ``webp.webp_decode`` (lossy
    -> RGB, lossy + ALPH -> RGBA, VP8L -> RGBA only when some alpha is
    not 255).  ``None`` when libwebp is absent or refuses the stream;
    the caller then runs the pure-Python decoder, whose result or
    error stands (libwebp rejects truncations it would decode)."""
    lib = _webp()
    if lib is None:
        return None
    lossless = fourcc == b"VP8L"
    if alph is None:
        data = payload  # a bare VP8/VP8L bitstream
    else:  # the ALPH + VP8 chunk pair libwebp reads without a RIFF header
        data = b"".join((b"ALPH", st.pack("<I", len(alph)), alph,
                         b"\0" * (len(alph) & 1), b"VP8 ",
                         st.pack("<I", len(payload)), payload))
    feat = _WebPFeatures()
    if lib.WebPGetFeaturesInternal(data, len(data), C.byref(feat),
                                   _WEBP_ABI) != 0:
        return None
    if feat.has_animation or feat.format != (2 if lossless else 1):
        return None
    ch = 4 if lossless or alph is not None else 3
    out = np.empty((feat.height, feat.width, ch), np.uint8)
    into = lib.WebPDecodeRGBAInto if ch == 4 else lib.WebPDecodeRGBInto
    if not into(data, len(data), out.ctypes.data, out.nbytes,
                feat.width * ch):
        return None
    if lossless and bool((out[..., 3] == 255).all()):
        return np.ascontiguousarray(out[..., :3])
    return out
