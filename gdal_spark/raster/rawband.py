"""One raw-band reader and writer for the header-plus-raw-body formats
(GDAL's RawRasterBand, gcore/rawdataset.cpp).

ENVI, ISCE/EIR, ERS, ROI_PAC, GenBin, RRASTER, LAN, HKV, EHdr, PDS,
ISIS2/3, VICAR, FITS and the other raw drivers all store samples as one
of three layouts of an (h, w, nb) cube:

  BSQ  band-sequential      (nb, h, w)
  BIL  band-interleaved-by-line  (h, nb, w)
  BIP  band-interleaved-by-pixel (h, w, nb)

`raw_read` checks the dimensions a header claims (GDALCheckDatasetDimensions),
either zero-fills or rejects a short body, and never allocates more than
MAX_RAW_BYTES for a claim the body does not back.
"""

from __future__ import annotations

import numpy as np

__all__ = ["MAX_RAW_BYTES", "raw_layout", "raw_read", "raw_write"]

# Spark's binary-cell limit: a larger array could not leave a worker as a
# row, so a header claiming more than this over a short body is rejected
# before anything is allocated.
MAX_RAW_BYTES = 2**31 - 1

# stored axis order, as indices into (h, w, nb)
_AXES = {"bsq": (2, 0, 1), "bil": (0, 2, 1), "bip": (0, 1, 2)}


def raw_layout(flat: np.ndarray, h: int, w: int, nb: int,
               interleave: str) -> np.ndarray:
    """Flat samples in `interleave` order -> (h, w) when nb == 1, else a
    C-contiguous (h, w, nb)."""
    if nb == 1:
        return flat.reshape(h, w)
    axes = _AXES.get(interleave.lower())
    if axes is None:
        raise ValueError(f"unknown raw interleave {interleave!r}")
    stored = tuple((h, w, nb)[a] for a in axes)
    return np.ascontiguousarray(
        flat.reshape(stored).transpose(np.argsort(axes)))


def raw_read(body: bytes, h: int, w: int, nb: int, dtype, interleave: str,
             offset: int = 0, zero_fill: bool = True) -> np.ndarray:
    """Decode h x w x nb samples of `dtype` stored at `offset` of `body`.

    A body shorter than the claim is zero-filled (`zero_fill=True`, the
    reader's sparse-file rule) or rejected with ValueError. Claims beyond
    MAX_RAW_BYTES over a short body raise ValueError before allocating.
    Returns a fresh array in native byte order."""
    if h <= 0 or w <= 0 or nb <= 0:
        raise ValueError(f"invalid raw dimensions {w}x{h}x{nb}")
    dt = np.dtype(dtype)
    count = h * w * nb
    need = count * dt.itemsize
    have = max(0, len(body) - offset)
    if have >= need:
        flat = np.frombuffer(body, dt, count, offset)
    elif not zero_fill:
        raise ValueError(f"raw body holds {have} of {need} bytes")
    elif need > MAX_RAW_BYTES:
        raise ValueError(f"raw body claims {need} bytes, over the "
                         f"{MAX_RAW_BYTES}-byte limit ({have} present)")
    else:
        buf = np.zeros(need, np.uint8)
        buf[:have] = np.frombuffer(body, np.uint8, have, offset)
        flat = buf.view(dt)
    return raw_layout(flat, h, w, nb, interleave).astype(dt.newbyteorder("="))


def raw_write(arr: np.ndarray, dtype, interleave: str) -> bytes:
    """(h, w) or (h, w, nb) array -> raw bytes of `dtype` in `interleave`."""
    a = arr if arr.ndim == 3 else arr[:, :, None]
    return np.ascontiguousarray(a.transpose(_AXES[interleave.lower()]),
                                dtype).tobytes()
