"""gdalenhance — histogram-equalization LUTs (apps/gdalenhance.cpp).

ComputeEqualizationLUTs (:25, body at :560-650):

* per band, the default histogram (for Byte: 256 bins over -0.5..255.5,
  GDALGetDefaultHistogramEx) with the FIRST and LAST bins zeroed
  ("zero out extremes (nodata, etc)");
* cumulative histogram where bin i carries ``total_before_i +
  hist[i] / 2`` (integer halving of the bin's own count);
* LUT[iLUT] = clamp((cum[iLUT * nHistSize / nLUTBins] * nLUTBins)
  / total, 0, nLUTBins - 1) — all integer arithmetic.

EnhancerCallback (the VRT apply path): source read as float32,
``dfBin = (v - scale_min) * nLUTBins / (scale_max - scale_min)``,
truncated and clamped to [0, nLUTBins-1]; nodata pixels pass through as
``(GByte) nodata``; output is LUT[iBin]. For a Byte band with the
default histogram, scale is exactly 1 and iBin == v.

The distributed form is the 100-TB shape: stage 1 is a per-partition
partial histogram (256 rows per band per partition), one tiny groupBy
merges them, the 256-entry LUT broadcasts back, stage 2 is a pure map.
"""

from __future__ import annotations

import numpy as np

__all__ = ["default_histogram_byte", "equalization_lut", "equalize_byte"]


def default_histogram_byte(arr: np.ndarray) -> np.ndarray:
    """GDALGetDefaultHistogramEx for a Byte band: 256 buckets over
    (-0.5, 255.5) — bucket i counts pixels equal to i."""
    return np.bincount(arr.astype(np.uint8).ravel(), minlength=256)[:256]


def equalization_lut(hist: np.ndarray, n_lut_bins: int = 256) -> np.ndarray:
    """Exact ComputeEqualizationLUTs arithmetic on one band's histogram
    (extreme bins zeroed, cum = before + own/2, integer rescale)."""
    h = np.asarray(hist, dtype=np.int64).copy()
    n_hist = len(h)
    h[0] = 0
    h[n_hist - 1] = 0
    before = np.concatenate(([0], np.cumsum(h)[:-1]))
    cum = before + h // 2
    total = int(h.sum())
    if total == 0:
        total = 1  # reference warns and clamps (gdalenhance.cpp:620)
    idx = (np.arange(n_lut_bins, dtype=np.int64) * n_hist) // n_lut_bins
    lut = (cum[idx] * n_lut_bins) // total
    return np.clip(lut, 0, n_lut_bins - 1).astype(np.int32)


def equalize_byte(
    arr: np.ndarray,
    nodata: float | None = None,
    lut: np.ndarray | None = None,
) -> np.ndarray:
    """EnhancerCallback over a Byte band (scale_min=-0.5, scale_max=255.5,
    nLUTBins=256 — dfScale is exactly 1, iBin == v). `lut` lets callers
    apply a dataset-global LUT computed from a distributed histogram."""
    a = arr.astype(np.float32)
    if lut is None:
        lut = equalization_lut(default_histogram_byte(arr))
    n = len(lut)
    dfbin = (a - (-0.5)) * (n / 256.0)
    ibin = np.where(
        ~(dfbin > 0), 0, np.where(~(dfbin < n - 1), n - 1, dfbin.astype(np.int64))
    ).astype(np.int64)
    out = lut[ibin].astype(np.uint8)
    if nodata is not None:
        out = np.where(a == np.float32(nodata), np.uint8(int(nodata) & 0xFF), out)
    return out


def format_luts(
    luts: list[np.ndarray],
    scale_min: list[float] | None = None,
    scale_max: list[float] | None = None,
) -> str:
    """WriteLUTs config format (gdalenhance.cpp:619-633):
    ``N:Band <min>:ScaleMin <max>:ScaleMax v0 v1 ...`` per band."""
    out = []
    for i, lut in enumerate(luts):
        mn = scale_min[i] if scale_min else -0.5
        mx = scale_max[i] if scale_max else 255.5
        vals = " ".join(str(int(v)) for v in lut)
        out.append(f"{i + 1}:Band {mn:g}:ScaleMin {mx:g}:ScaleMax {vals} ")
    return "\n".join(out) + "\n"


def parse_luts(text: str):
    """ReadLUTs counterpart: returns (luts, scale_min, scale_max)."""
    luts, mins, maxs = [], [], []
    for line in text.strip().split("\n"):
        toks = line.split()
        if len(toks) < 3 or not toks[0].endswith(":Band"):
            raise ValueError(f"bad LUT line {line!r}: want N:Band min max v...")
        mins.append(float(toks[1].split(":")[0]))
        maxs.append(float(toks[2].split(":")[0]))
        luts.append(np.array([int(t) for t in toks[3:]], dtype=np.int32))
    return luts, mins, maxs
