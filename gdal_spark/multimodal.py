"""Multimodal (audio / video) columns as opaque binary + typed metadata.

The engine's image path is fully real (codecs registry, Arrow-batched
decode); this module extends the same pattern to the other two
modalities a training-data pipeline carries:

* **Audio** — a real RIFF/WAVE PCM codec (pure numpy, no external lib):
  ``wav_encode`` / ``wav_decode`` for PCM16 and unsigned PCM8, mono or
  interleaved multi-channel, plus ``audio_features`` (per-frame
  integer sum-of-squares energy and zero-crossing count — exact
  integers, so a SQL oracle can recompute them bit-for-bit).

* **Video** — frames-in-one-blob as a REAL multi-page TIFF
  (``tiff_encode_seq``: chained IFDs, the same layout GDAL's GTiff
  driver reads as subdatasets and this engine's COG/overview reader
  already parses). Frame sampling (``frame_sample_tiles``) walks the
  IFD chain and decodes ONLY the sampled frames — the unsampled
  frames' strip data is never touched, which is the point of frame
  sampling at 10^12-video scale.

Distributed forms are mapInPandas over Arrow batches: one decode per
row, no shuffle, no driver involvement. Reference analog for the
multi-page layout: frmts/gtiff multi-IFD chains (gcore overview IFDs),
written by functions/tiff.py's strip writer and parsed by its
``ifd_offsets`` / ``tiff_parse``.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from gdal_spark.functions.tiff import (
    T_SUBFILETYPE,
    _pixels,
    _write_strips,
    ifd_offsets,
    tiff_parse,
)


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE PCM
# ---------------------------------------------------------------------------


def wav_encode(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16/uint8 -> RIFF/WAVE PCM bytes."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.dtype not in (np.int16, np.uint8):
        raise ValueError("wav_encode supports int16 / uint8 PCM")
    n, ch = a.shape
    bits = 16 if a.dtype == np.int16 else 8
    block = ch * bits // 8
    data = a.astype("<i2" if bits == 16 else "u1").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * block, block, bits
    )  # PCM
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM bytes -> ((n, channels) int16, sample rate).
    PCM8 (unsigned) is promoted to int16 like GDAL's _Unsigned paths."""
    b = bytes(data)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, 8 + struct.unpack_from("<I", b, 4)[0]
    fmt = None
    pcm = None
    while pos + 8 <= min(end, len(b)):
        cid = b[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            pcm = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    tag, ch, rate, _, _, bits = fmt
    if tag != 1:
        raise ValueError(f"unsupported WAVE format tag {tag}")
    if bits == 16:
        a = np.frombuffer(pcm, "<i2")
    elif bits == 8:
        a = np.frombuffer(pcm, "u1").astype(np.int16) - 128
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    return a.reshape(-1, ch), rate


def audio_features(
    samples: np.ndarray, frame_len: int = 64
) -> list[tuple[int, int, int, int]]:
    """Per-frame (frame, n, sumsq, zero_crossings) over channel 0.

    sumsq = sum of squared samples (exact int64); zero_crossings =
    count of adjacent pairs inside the frame whose product is < 0.
    Integer-exact on purpose: an independent SQL engine can recompute
    both without any float tolerance.
    """
    a = np.asarray(samples)
    if a.ndim == 2:
        a = a[:, 0]
    a = a.astype(np.int64)
    out = []
    for f, s in enumerate(range(0, len(a), frame_len)):
        fr = a[s : s + frame_len]
        zc = int(((fr[:-1] * fr[1:]) < 0).sum())
        out.append((f, len(fr), int((fr * fr).sum()), zc))
    return out


def audio_features_tiles(df, frame_len: int = 64, bytes_col: str = "bytes"):
    """Distributed per-frame audio features over a (id, bytes) WAV table."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("audio_id", T.StringType()),
            T.StructField("frame", T.IntegerType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("sumsq", T.LongType()),
            T.StructField("zcr", T.IntegerType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                samples, _ = wav_decode(bytes(getattr(r, bytes_col)))
                for f, n, ss, zc in audio_features(samples, frame_len):
                    rows.append((r.audio_id, f, n, ss, zc))
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return df.mapInPandas(run, sch)


# ---------------------------------------------------------------------------
# Video: multi-page TIFF frame sequences
# ---------------------------------------------------------------------------


def tiff_encode_seq(frames, rows_per_strip: int = 64) -> bytes:
    """List of uint8 (h, w) / (h, w, 3) frames -> one multi-page TIFF
    (classic, little-endian, chained IFDs with NewSubfileType=2), laid
    out by the TIFF strip writer."""
    page = [(T_SUBFILETYPE, 4, 1, [2])]
    return _write_strips([(_pixels(f), page) for f in frames], rows_per_strip)


def video_meta(data: bytes) -> tuple[int, int, int]:
    """(n_frames, h, w) from the IFD chain — metadata only, no pixel IO."""
    chain = ifd_offsets(bytes(data))
    arr, _ = tiff_parse(bytes(data), ifd_index=0)
    return len(chain), arr.shape[0], arr.shape[1]


def frame_sample(data: bytes, every: int = 1, max_frames: int | None = None):
    """Decode every ``every``-th frame (and only those — unsampled
    frames' strip data is never read). Yields (frame_idx, array)."""
    n = len(ifd_offsets(bytes(data)))
    picked = range(0, n, every)
    if max_frames is not None:
        picked = list(picked)[:max_frames]
    for i in picked:
        arr, _ = tiff_parse(bytes(data), ifd_index=i)
        yield i, arr


def frame_sample_tiles(df, every: int = 1, bytes_col: str = "bytes"):
    """Distributed frame sampling over a (id, bytes) multi-page-TIFF
    table: (video_id, frame, h, w, px_sum) per sampled frame."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("video_id", T.StringType()),
            T.StructField("frame", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("px_sum", T.LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                blob = bytes(getattr(r, bytes_col))
                for i, arr in frame_sample(blob, every):
                    rows.append(
                        (
                            r.video_id, i, arr.shape[0], arr.shape[1],
                            int(arr.astype(np.int64).sum()),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in sch.fields])

    return df.mapInPandas(run, sch)
