"""Unsupported-codec quarantine classification tests
(functions/codecs.classify_image + sources/identify magic additions).

Reference driver identify rules re-derived from
frmts/webp/webpdataset.cpp (RIFF....WEBP), frmts/heif (ftyp brands),
frmts/jpegxl, frmts/openjpeg (JP2 signature box / J2K codestream)."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.functions import codecs as C
from gdal_spark.sources.identify import identify_driver

from gdal_spark.functions.heif_fixtures import AVIF_FIXTURE, HEIC_FIXTURE
from gdal_spark.functions.webp_fixtures import (ALPHA_WEBP, ANIM_WEBP,
                                                LOSSY_WEBP)

# a fake VP8 chunk of zero bytes: well-formed RIFF, garbage payload
WEBP = b"RIFF" + (1000).to_bytes(4, "little") + b"WEBPVP8 " + bytes(12)
AVIF = (32).to_bytes(4, "big") + b"ftypavif" + bytes(24)
HEIC = (32).to_bytes(4, "big") + b"ftypheic" + bytes(24)
JXL_CONT = b"\x00\x00\x00\x0cJXL \x0d\x0a\x87\x0a" + bytes(16)
JXL_RAW = b"\xff\x0a" + bytes(16)
JP2 = b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a" + bytes(16)
J2K = b"\xff\x4f\xff\x51" + bytes(16)


def _arr():
    r, c = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    return ((r * 3 + c * 5) % 251).astype(np.uint8)


def test_identify_unsupported_containers():
    assert identify_driver(WEBP) == "WEBP"
    assert identify_driver(AVIF) == "AVIF"
    assert identify_driver(HEIC) == "HEIF"
    assert identify_driver(JXL_CONT) == "JPEGXL"
    assert identify_driver(JXL_RAW) == "JPEGXL"
    assert identify_driver(JP2) == "JP2OpenJPEG"
    assert identify_driver(J2K) == "JP2OpenJPEG"


def test_identify_existing_formats_unchanged():
    assert identify_driver(C.encode_image(_arr(), "png")) == "PNG"
    assert identify_driver(C.encode_image(_arr(), "tiff")) == "GTiff"


@pytest.mark.parametrize(
    "fmt,data,want",
    [
        ("webp", LOSSY_WEBP, "ok"),            # real lossy VP8 decodes
        ("webp", ALPHA_WEBP, "ok"),            # VP8 + ALPH -> RGBA
        ("webp", ANIM_WEBP, "unsupported_codec"),
        ("webp", WEBP, "corrupt"),             # fake zero-byte VP8 payload
        # libheif/libavif are present in this container: real files
        # decode (ok); magic-only junk is a decode failure (corrupt)
        ("heif", HEIC_FIXTURE, "ok"),
        ("avif", AVIF_FIXTURE, "ok"),
        ("avif", AVIF, "corrupt"),
        ("heif", HEIC, "corrupt"),
        ("jxl", JXL_CONT, "unsupported_codec"),
        ("jxl", JXL_RAW, "unsupported_codec"),
        ("jp2", JP2, "unsupported_codec"),
        ("jp2", J2K, "unsupported_codec"),
        ("webp", b"\x00garbage" + bytes(16), "corrupt"),
        ("avif", WEBP, "corrupt"),  # claimed avif, webp bytes
        ("mystery", ANIM_WEBP, "unsupported_codec"),  # sniffed container
        ("mystery", b"\xde\xad\xbe\xef" + bytes(16), "corrupt"),
    ],
)
def test_classify_unsupported_and_corrupt(fmt, data, want):
    assert C.classify_image(data, fmt) == want


def test_classify_decodable_ok_and_truncated_corrupt():
    for fmt in ("png", "tiff", "jpeg"):
        b = C.encode_image(_arr(), fmt)
        assert C.classify_image(b, fmt) == "ok", fmt
        assert C.classify_image(b[: len(b) // 3], fmt) == "corrupt", fmt
    rgb = np.stack([_arr()] * 3, axis=-1)  # bmp encoder wants 3-band
    b = C.encode_image(rgb, "bmp")
    assert C.classify_image(b, "bmp") == "ok"
    assert C.classify_image(b[: len(b) // 3], "bmp") == "corrupt"
    assert C.classify_image(b"", "png") == "corrupt"


def test_classify_never_raises_on_hostile_bytes():
    import random

    rng = random.Random(42)
    for _ in range(200):
        n = rng.randrange(0, 64)
        blob = bytes(rng.randrange(256) for _ in range(n))
        fmt = rng.choice(["png", "tiff", "jpeg", "webp", "jxl", "zzz"])
        assert C.classify_image(blob, fmt) in (
            "ok", "unsupported_codec", "corrupt",
        )


def _png_16bit_palette() -> bytes:
    """2x2 PNG declaring bit depth 16 with a palette: invalid by spec."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    rows = b"".join(b"\x00" + bytes(4) for _ in range(2))
    return (C.PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
            + chunk(b"PLTE", bytes(range(6)))
            + chunk(b"IDAT", zlib.compress(rows))
            + chunk(b"IEND", b""))


def test_png_header_checks_survive_optimized_mode():
    """The PNG input checks are ValueErrors, not asserts that
    `python -O` strips: the invalid PNG stays corrupt in both modes."""
    import subprocess
    import sys
    from pathlib import Path

    data = _png_16bit_palette()
    assert C.classify_image(data, "png") == C.STATUS_CORRUPT
    code = ("import sys; from gdal_spark.functions import codecs as C; "
            "print(C.classify_image(sys.stdin.buffer.read(), 'png'))")
    root = Path(C.__file__).resolve().parents[2]
    out = subprocess.run([sys.executable, "-O", "-c", code], input=data,
                         capture_output=True, check=True, cwd=root)
    assert out.stdout.decode().strip() == C.STATUS_CORRUPT
