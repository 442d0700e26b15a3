"""External-codec delegation tests — functions/extcodecs.py.

The reference's frmts/heif and frmts/avif link the system libheif /
libavif; the engine binds the same libraries with ctypes.  Tests are
skip-guarded on library presence (this sandbox has both); the
committed fixtures also pin decoded aggregates so a silently broken
binding cannot pass."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.functions import codecs as C
from gdal_spark.functions import extcodecs as X
from gdal_spark.functions import webp as W
from gdal_spark.functions.heif_fixtures import AVIF_FIXTURE, HEIC_FIXTURE
from gdal_spark.functions.webp_fixtures import fixture_gradient

needs_heif = pytest.mark.skipif(not X.heif_available(),
                                reason="libheif not present")
needs_avif = pytest.mark.skipif(not X.avif_available(),
                                reason="libavif not present")


def _psnr(a, b) -> float:
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return float(10 * np.log10(255 * 255 / mse)) if mse else 99.0


@needs_heif
def test_heic_fixture_decodes():
    rgb = X.heif_decode(HEIC_FIXTURE)
    assert rgb.shape == (16, 16, 3)
    assert _psnr(rgb, fixture_gradient()) >= 30.0
    assert C.classify_image(HEIC_FIXTURE, "heif") == "ok"


@needs_avif
def test_avif_fixture_decodes():
    rgb = X.avif_decode(AVIF_FIXTURE)
    assert rgb.shape == (16, 16, 3)
    assert _psnr(rgb, fixture_gradient()) >= 30.0
    assert C.classify_image(AVIF_FIXTURE, "avif") == "ok"


@needs_heif
def test_heif_roundtrip_various_sizes():
    rng = np.random.default_rng(3)
    for shape in [(16, 16), (33, 47), (64, 64)]:
        img = rng.integers(0, 256, shape + (3,), dtype=np.uint8)
        # HEVC default quality on noise is rough; use a gradient too
        yy, xx = np.mgrid[: shape[0], : shape[1]]
        smooth = np.stack([(yy * 5) % 256, (xx * 3) % 256,
                           (yy + xx) % 256], -1).astype(np.uint8)
        for src in (smooth,):
            out = X.heif_decode(X.heif_encode(src))
            assert out.shape == src.shape
            assert _psnr(out, src) >= 25.0
        # noise just needs shape integrity
        out = X.heif_decode(X.heif_encode(img))
        assert out.shape == img.shape


@needs_avif
def test_avif_roundtrip():
    yy, xx = np.mgrid[:40, :56]
    src = np.stack([(yy * 4) % 256, (xx * 4) % 256,
                    255 - (yy + xx) % 256], -1).astype(np.uint8)
    out = X.avif_decode(X.avif_encode(src))
    assert out.shape == src.shape
    assert _psnr(out, src) >= 30.0


@needs_heif
def test_registry_and_junk_classification():
    arr = fixture_gradient()
    buf = C.encode_image(arr, "heif")
    assert C.decode_image(buf, "heif").shape == arr.shape
    junk = (32).to_bytes(4, "big") + b"ftypheic" + bytes(24)
    assert C.classify_image(junk, "heif") == "corrupt"
    assert C.classify_image(junk, "avif") == "corrupt"


def test_unavailable_maps_to_quarantine(monkeypatch):
    """When the library is missing, classification must degrade to
    unsupported_codec — simulated by forcing the loader to fail."""
    monkeypatch.setattr(X, "_HEIF_SO", "libheif.so.absent")
    assert not X.heif_available()
    with pytest.raises(X.ExternalCodecUnavailable):
        X.heif_decode(HEIC_FIXTURE)
    assert C.classify_image(HEIC_FIXTURE, "heif") == "unsupported_codec"


@needs_heif
@needs_avif
def test_hostile_bytes_raise_not_crash():
    """The quarantine classifier feeds arbitrary corpus bytes to the
    native libs; parse failures must surface as ValueError (libheif /
    libavif return error codes for malformed containers)."""
    import random

    rng = random.Random(77)
    base_h = bytearray(HEIC_FIXTURE)
    base_a = bytearray(AVIF_FIXTURE)
    for _ in range(40):
        bh = bytearray(base_h)
        ba = bytearray(base_a)
        for _ in range(rng.randrange(1, 8)):
            bh[rng.randrange(16, len(bh))] = rng.randrange(256)
            ba[rng.randrange(16, len(ba))] = rng.randrange(256)
        for fn, blob in ((X.heif_decode, bh), (X.avif_decode, ba)):
            try:
                fn(bytes(blob))
            except ValueError:
                pass
    for fn in (X.heif_decode, X.avif_decode):
        for blob in (b"", bytes(8), (32).to_bytes(4, "big") + b"ftypheic"):
            with pytest.raises(ValueError):
                fn(blob)


@needs_avif
def test_avif_rgb_and_rgba_layouts_decode_alike(monkeypatch):
    """The pixel layout comes from rowBytes // width, so a build that
    allocates RGBA for the RGB request decodes (and encodes) the same
    pixels as one that allocates RGB."""
    rgb = X.avif_decode(AVIF_FIXTURE)
    monkeypatch.setattr(X, "_AVIF_RGB", 1)  # AVIF_RGB_FORMAT_RGBA
    assert np.array_equal(X.avif_decode(AVIF_FIXTURE), rgb)
    assert _psnr(X.avif_decode(X.avif_encode(fixture_gradient())),
                 fixture_gradient()) >= 30.0


@needs_avif
@pytest.mark.parametrize("depth", [10, 12])
def test_avif_high_bit_depth_decodes_to_8_bit(monkeypatch, depth):
    """Phone and HDR encoders write 10/12-bit AVIF; the RGB shell asks
    for 8 bits, so those decode (and classify ok) like 8-bit files."""
    lib = X._load_avif()
    create = lib.avifImageCreate
    monkeypatch.setattr(lib, "avifImageCreate",
                        lambda w, h, _depth, fmt: create(w, h, depth, fmt))
    src = fixture_gradient()
    data = X.avif_encode(src)
    monkeypatch.undo()
    out = X.avif_decode(data)
    assert out.shape == src.shape and out.dtype == np.uint8
    assert _psnr(out, src) >= 30.0
    assert C.classify_image(data, "avif") == "ok"


@needs_heif
@needs_avif
def test_avif_fixture_agrees_with_libheif():
    """libheif reads AVIF too (AV1 plugin): an independent decode of
    the fixture's pixels, so a channel-garbled binding cannot pass by
    round-tripping through its own encoder."""
    try:
        ref = X.heif_decode(AVIF_FIXTURE).astype(int)
    except ValueError:
        pytest.skip("libheif built without an AV1 decoder")
    assert np.abs(X.avif_decode(AVIF_FIXTURE).astype(int) - ref).max() <= 2


@needs_heif
def test_heif_encode_leaves_no_temp_file(monkeypatch, tmp_path):
    import tempfile

    def no_mktemp(*a, **k):
        raise AssertionError("tempfile.mktemp is race-prone")

    monkeypatch.setattr(tempfile, "mktemp", no_mktemp)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert X.heif_encode(fixture_gradient())[4:8] == b"ftyp"
    assert list(tmp_path.iterdir()) == []


# ---------------------------------------------------------------------------
# libwebp fast path behind DECODERS["webp"]; webp.webp_decode is the oracle
# ---------------------------------------------------------------------------

needs_webp = pytest.mark.skipif(not X.webp_available(),
                                reason="libwebp not present")


def _webp_fixtures() -> list[bytes]:
    """Lossy, lossy + ALPH, a 4-partition stream, VP8L without and with
    alpha."""
    from test_vp8 import MULTIPART_VP8_WEBP

    from gdal_spark.functions.webp_fixtures import ALPHA_WEBP, LOSSY_WEBP

    g = fixture_gradient()
    alpha = (np.arange(256) % 7 * 30).reshape(16, 16).astype(np.uint8)
    return [LOSSY_WEBP, ALPHA_WEBP, MULTIPART_VP8_WEBP, W.webp_encode(g),
            W.webp_encode(np.dstack([g, alpha]))]


@needs_webp
def test_native_webp_equals_pure_python():
    from test_vp8 import libwebp_encode, parity_images

    encodes = [libwebp_encode(img, q) for img in parity_images()
               for q in (10.0, 75.0, 95.0)]
    for data in _webp_fixtures() + encodes:
        assert X.webp_decode_native(*W.image_chunk(data)) is not None
        got, want = C.decode_image(data, "webp"), W.webp_decode(data)
        assert got.shape == want.shape and got.dtype == want.dtype
        assert np.array_equal(got, want)


def _status_and_pixels(data: bytes):
    status = C.classify_image(data, "webp")
    return status, (C.decode_image(data, "webp") if status == "ok" else None)


def _mutants(n: int) -> list[bytes]:
    """Seeded byte mutations and truncations of the two WebP fixtures.
    The VP8 frame's width/height bytes are left alone: a huge claimed
    size makes the pure-Python decoder run for minutes."""
    import random

    from gdal_spark.functions.webp_fixtures import ALPHA_WEBP, LOSSY_WEBP

    rng = random.Random(2024)
    out = []
    for base in (LOSSY_WEBP, ALPHA_WEBP):
        dims = base.index(b"VP8 ") + 8 + 6
        pos = [i for i in range(12, len(base)) if not dims <= i < dims + 4]
        for _ in range(n):
            blob = bytearray(base)
            if rng.random() < 0.3:
                del blob[rng.randrange(13, len(blob)):]
            else:
                for _ in range(rng.randrange(1, 5)):
                    blob[rng.choice(pos)] = rng.randrange(256)
            out.append(bytes(blob))
    return out


@needs_webp
def test_registry_status_matches_pure_python_on_mutants(monkeypatch):
    """libwebp refuses truncations the pure-Python decoder decodes; the
    registry falls back then, so no row changes status or pixels."""
    rows = _mutants(150)
    native = [_status_and_pixels(b) for b in rows]
    monkeypatch.setattr(X, "_WEBP_SO", "libwebp.so.absent")
    assert not X.webp_available()
    for data, (status, pix) in zip(rows, native):
        want_status, want_pix = _status_and_pixels(data)
        assert status == want_status
        if pix is not None:
            assert np.array_equal(pix, want_pix)
    assert {s for s, _ in native} >= {"ok", "corrupt"}


def test_webp_falls_back_without_libwebp(monkeypatch):
    """DECODERS["webp"] decodes with webp.webp_decode when the binding
    helper reports libwebp unavailable: same pixels, same statuses."""
    from gdal_spark.functions.webp_fixtures import ANIM_WEBP

    # a lossless bitstream in a "VP8 " chunk: libwebp would sniff and
    # decode it, the pure decoder reads it as lossy and fails
    vp8l = W.image_chunk(W.webp_encode(fixture_gradient()))[1]
    mislabeled = (b"RIFF" + (12 + len(vp8l)).to_bytes(4, "little")
                  + b"WEBPVP8 " + len(vp8l).to_bytes(4, "little") + vp8l)
    rows = _webp_fixtures() + [ANIM_WEBP, b"RIFF\0\0\0\0WEBPVP8 ",
                               mislabeled]
    before = [_status_and_pixels(d) for d in rows]
    monkeypatch.setattr(X, "_WEBP_SO", "libwebp.so.absent")
    assert not X.webp_available()
    after = [_status_and_pixels(d) for d in rows]
    assert [s for s, _ in after] == [s for s, _ in before] == (
        ["ok"] * 5 + ["unsupported_codec", "corrupt", "corrupt"])
    for (_, a), (_, b) in zip(before, after):
        assert a is None or np.array_equal(a, b)
