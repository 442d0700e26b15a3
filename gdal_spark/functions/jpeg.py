"""Baseline JFIF (JPEG) codec in pure numpy — no Pillow/libjpeg.

The engine's real `fmt="jpeg"` driver (reference: the libjpeg-backed
driver under frmts/jpeg/ — JPEGDataset in frmts/jpeg/jpgdataset.cpp).
Implements the interchange format of ITU-T T.81:

  * decoder: baseline sequential DCT (SOF0) and progressive DCT (SOF2,
    spectral selection + successive approximation per T.81 G.2 /
    libjpeg jdcoefct.c+jdhuff.c semantics: DC first/refine, AC first
    with EOB runs, AC refinement with correction bits), 8-bit, 1 or 3
    components, arbitrary subsampling factors up to 2x2 (4:4:4 / 4:2:2 /
    4:2:0), restart markers (DRI/RSTn), multi-table DQT/DHT segments,
    16-bit quant tables. Quant + Huffman tables are read from the
    stream, so any baseline or progressive JPEG from any encoder
    decodes. Lossless sequential (SOF3, T.81 Annex H) decodes too:
    predictors 1-7, point transform, modulo-2^16 reconstruction.
  * encoder: baseline SOF0, 4:4:4, quality-scaled Annex-K-style quant
    tables, canonical Huffman tables embedded in DHT (the decoder reads
    tables from the stream, so validity never depends on table choice);
    plus a progressive SOF2 encoder (jpeg_encode_progressive) emitting
    the libjpeg default scan script, used by the transcode matrix.

Heavy math (DCT/IDCT, dequant, color transform, upsampling) is batched
numpy over all blocks at once; only the entropy (Huffman) stage is a
Python loop, accelerated by a 16-bit lookup table per Huffman table.

All pixel interfaces are HxWx3 uint8 (grayscale JPEGs are replicated to
3 channels on decode, matching the rest of the codec registry).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------

# zigzag scan order: ZIGZAG[k] = (row, col) flattened index of the k-th coeff
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZZ = np.argsort(_ZZ)

# Annex-K-style base quantization tables (quality 50), zigzag order applied
# at emit time; stored here in natural (row-major) order.
_QL_BASE = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QC_BASE = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Huffman table definitions (BITS counts per code length 1..16 + value list).
# Structure-valid canonical tables covering every symbol the encoder emits:
# DC categories 0..11, AC (run<<4|size) for run 0..15 / size 1..10, EOB, ZRL.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))


def _ac_vals() -> list[int]:
    """All 162 baseline AC symbols: EOB, ZRL, and (run,size) pairs ordered
    by size then run (ordering only affects code assignment, not validity —
    the chosen tables are transmitted in DHT)."""
    vals = [0x00, 0xF0]
    for size in range(1, 11):
        for run in range(16):
            vals.append((run << 4) | size)
    return vals


# counts per length summing to 162, non-degenerate canonical shape
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = _ac_vals()
assert sum(_AC_BITS) == len(_AC_VALS) == 162
assert sum(_DC_BITS) == len(_DC_VALS) == 12


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for canonical Huffman (T.81 C.2)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_lut(bits: bytes, vals: bytes) -> list[int]:
    """16-bit peek lookup for one DHT table: lut[peek16] = (length << 8)
    | symbol, as a plain Python list (scalar list indexing is ~5x faster
    than numpy here).  Canonical codes left-aligned to 16 bits tile the
    table contiguously from 0, so it is each symbol's run in code order,
    stopped once full (over-subscribed tables) and zero-padded.  Each
    run divides every earlier one, so none crosses the end."""
    if len(bits) < 16 or len(vals) < sum(bits):
        raise IndexError("JPEG: truncated DHT table")
    lut: list[int] = []
    syms = iter(vals)
    for length in range(1, 17):
        run = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            if len(lut) >= 1 << 16:
                break
            lut += [(length << 8) | next(syms)] * run
    lut += [0] * ((1 << 16) - len(lut))
    return lut


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((_QL_BASE * scale + 50) // 100, 1, 255)
    qc = np.clip((_QC_BASE * scale + 50) // 100, 1, 255)
    return ql, qc


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = np.sqrt(0.25) * np.cos(np.pi * (x + 0.5) * k / 8.0)
    m[0] /= np.sqrt(2.0)
    return m


_D8 = _dct_matrix()


# ---------------------------------------------------------------------------
# bit IO
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _component_blocks(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(nby, nbx, 64) quantized zigzag coefficients for one plane."""
    h, w = plane.shape
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    pad = np.pad(plane, ((0, h8 - h), (0, w8 - w)), mode="edge")
    blocks = pad.reshape(h8 // 8, 8, w8 // 8, 8).transpose(0, 2, 1, 3)
    tf = np.einsum("ij,abjk,lk->abil", _D8, blocks - 128.0, _D8)
    q = np.round(tf / qtab.reshape(8, 8)).astype(np.int32)
    return q.reshape(h8 // 8, w8 // 8, 64)[:, :, _ZZ]


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def jpeg_encode(arr: np.ndarray, quality: int = 85, gray: bool = False) -> bytes:
    """Baseline JFIF encode of an HxWx3 (or HxW) uint8 array — 4:4:4
    three-component, or single-component grayscale when ``gray=True``
    (an HxWx3 input is converted via the BT.601 luma weights)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    ql, qc = _quality_tables(quality)
    ycc = _rgb_to_ycbcr(arr)
    if gray:
        comps = [_component_blocks(ycc[..., 0], ql)]
    else:
        comps = [
            _component_blocks(ycc[..., 0], ql),
            _component_blocks(ycc[..., 1], qc),
            _component_blocks(ycc[..., 2], qc),
        ]
    nc = len(comps)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    zrl = ac_codes[0xF0]
    eob = ac_codes[0x00]
    bw = _BitWriter()
    put = bw.put
    pred = [0] * nc
    nby, nbx = comps[0].shape[:2]
    # flatten blocks to python lists once; iterate only nonzero coefficients
    blocks = [comps[ci].reshape(nby * nbx, 64) for ci in range(nc)]
    nzmasks = [b != 0 for b in blocks]
    for bi in range(nby * nbx):
        for ci in range(nc):
            zz = blocks[ci][bi]
            dc = int(zz[0])
            diff = dc - pred[ci]
            pred[ci] = dc
            size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            put(code, ln)
            if size:
                put(diff if diff >= 0 else diff + (1 << size) - 1, size)
            nz = np.nonzero(nzmasks[ci][bi, 1:])[0]
            prev = 0
            for k in nz.tolist():
                run = k - prev
                prev = k + 1
                while run > 15:
                    put(zrl[0], zrl[1])
                    run -= 16
                v = int(zz[k + 1])
                size = abs(v).bit_length()
                code, ln = ac_codes[(run << 4) | size]
                put(code, ln)
                put(v if v >= 0 else v + (1 << size) - 1, size)
            if prev < 63:
                put(eob[0], eob[1])
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + bytes(ql[_ZZ].astype(np.uint8)))
    if nc == 3:
        out += _seg(0xDB, b"\x01" + bytes(qc[_ZZ].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    if nc == 3:
        sof += bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        sof += bytes([1, 0x11, 0])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    if nc == 3:
        out += _seg(0xC4, b"\x01" + bytes(_DC_BITS) + bytes(_DC_VALS))
        out += _seg(0xC4, b"\x11" + bytes(_AC_BITS) + bytes(_AC_VALS))
        sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    else:
        sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += _seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (SOF2) — jcphuff.c semantics: DC/AC first +
# refinement scans, EOB runs, buffered correction bits.  Tables are
# flat canonical codes (12 DC categories at length 4; all 176
# progressive AC symbols — EOBn 0x00..0xE0, ZRL 0xF0, (run,size) — at
# length 8): validity never depends on optimality since tables travel
# in DHT.
# ---------------------------------------------------------------------------

_PDC_BITS = [0, 0, 0, 12] + [0] * 12
_PDC_VALS = list(range(12))


def _pac_vals() -> list[int]:
    vals = [r << 4 for r in range(15)]  # EOB1..EOB_32767 categories
    vals.append(0xF0)                   # ZRL
    for size in range(1, 11):
        for run in range(16):
            vals.append((run << 4) | size)
    return vals


_PAC_VALS = _pac_vals()
_PAC_BITS = [0] * 7 + [len(_PAC_VALS)] + [0] * 8
assert len(_PAC_VALS) == 176


def _default_scan_script(nc: int) -> list[tuple[list[int], int, int, int, int]]:
    """libjpeg jcparam.c default progression: (comps, Ss, Se, Ah, Al)."""
    if nc == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def _emit_rst(bw, rst_i: int) -> int:
    """Flush to a byte boundary and append the next RSTn marker."""
    bw.flush()
    bw.out += bytes([0xFF, 0xD0 + (rst_i % 8)])
    return rst_i + 1


def _emit_dc_first(bw, comps, comp_ids, al, dc_codes, restart=0) -> None:
    preds = [0] * len(comp_ids)
    nby, nbx = comps[comp_ids[0]].shape[:2]
    rst_i = 0
    for m in range(nby * nbx):
        if restart and m and m % restart == 0:
            rst_i = _emit_rst(bw, rst_i)
            preds = [0] * len(comp_ids)
        by, bx = divmod(m, nbx)
        for pi, ci in enumerate(comp_ids):
            dc = int(comps[ci][by, bx, 0]) >> al  # arithmetic shift
            diff = dc - preds[pi]
            preds[pi] = dc
            size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            bw.put(code, ln)
            if size:
                bw.put(diff if diff >= 0 else diff + (1 << size) - 1,
                       size)


def _emit_dc_refine(bw, comps, comp_ids, al, restart=0) -> None:
    nby, nbx = comps[comp_ids[0]].shape[:2]
    rst_i = 0
    for m in range(nby * nbx):
        if restart and m and m % restart == 0:
            rst_i = _emit_rst(bw, rst_i)
        by, bx = divmod(m, nbx)
        for ci in comp_ids:
            bw.put((int(comps[ci][by, bx, 0]) >> al) & 1, 1)


def _emit_ac_first(bw, blocks, ss, se, al, ac_codes, restart=0) -> None:
    """jcphuff.c encode_mcu_AC_first: point transform is division
    toward zero (abs then shift)."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            bw.put(code, ln)
            if nbits:
                bw.put(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

    zrl = ac_codes[0xF0]
    rst_i = 0
    for m, blk in enumerate(blocks):
        if restart and m and m % restart == 0:
            flush_eob()
            rst_i = _emit_rst(bw, rst_i)
        r = 0
        for k in range(ss, se + 1):
            t = int(blk[k])
            ta = (abs(t) >> al)
            if ta == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                bw.put(zrl[0], zrl[1])
                r -= 16
            size = ta.bit_length()
            code, ln = ac_codes[(r << 4) | size]
            bw.put(code, ln)
            bw.put(ta if t >= 0 else (~ta) & ((1 << size) - 1), size)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(bw, blocks, ss, se, al, ac_codes, restart=0) -> None:
    """jcphuff.c encode_mcu_AC_refine: newly-nonzero coefs as (run,1)
    symbols with a sign bit; history-nonzero coefs contribute buffered
    correction bits flushed with the next symbol or EOB run."""
    eobrun = 0
    be_bits: list[int] = []

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            bw.put(code, ln)
            if nbits:
                bw.put(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0
            for b in be_bits:
                bw.put(b, 1)
            be_bits.clear()

    zrl = ac_codes[0xF0]
    rst_i = 0
    for m, blk in enumerate(blocks):
        if restart and m and m % restart == 0:
            flush_eob()
            rst_i = _emit_rst(bw, rst_i)
        absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        eob = 0
        for i, t in enumerate(absv):
            if t == 1:
                eob = ss + i
        r = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            t = absv[k - ss]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eob()
                bw.put(zrl[0], zrl[1])
                r -= 16
                for b in br:
                    bw.put(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            flush_eob()
            code, ln = ac_codes[(r << 4) | 1]
            bw.put(code, ln)
            bw.put(1 if int(blk[k]) >= 0 else 0, 1)
            for b in br:
                bw.put(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def jpeg_encode_progressive(arr: np.ndarray, quality: int = 85,
                            gray: bool = False,
                            restart: int = 0) -> bytes:
    """Progressive (SOF2) encode, 4:4:4, libjpeg default scan script.
    Same quantized coefficients as jpeg_encode at the same quality, so
    both streams decode to bit-identical pixels."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    ql, qc = _quality_tables(quality)
    ycc = _rgb_to_ycbcr(arr)
    if gray:
        comps = [_component_blocks(ycc[..., 0], ql)]
    else:
        comps = [
            _component_blocks(ycc[..., 0], ql),
            _component_blocks(ycc[..., 1], qc),
            _component_blocks(ycc[..., 2], qc),
        ]
    nc = len(comps)
    dc_codes = _canonical_codes(_PDC_BITS, _PDC_VALS)
    ac_codes = _canonical_codes(_PAC_BITS, _PAC_VALS)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + bytes(ql[_ZZ].astype(np.uint8)))
    if nc == 3:
        out += _seg(0xDB, b"\x01" + bytes(qc[_ZZ].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    if nc == 3:
        sof += bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        sof += bytes([1, 0x11, 0])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, b"\x00" + bytes(_PDC_BITS) + bytes(_PDC_VALS))
    out += _seg(0xC4, b"\x10" + bytes(_PAC_BITS) + bytes(_PAC_VALS))
    if restart:
        out += _seg(0xDD, struct.pack(">H", restart))

    for comp_ids, ss, se, ah, al in _default_scan_script(nc):
        ns = len(comp_ids)
        sos = bytes([ns])
        for ci in comp_ids:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        bw = _BitWriter()
        if ss == 0:
            if ah == 0:
                _emit_dc_first(bw, comps, comp_ids, al, dc_codes, restart)
            else:
                _emit_dc_refine(bw, comps, comp_ids, al, restart)
        else:
            ci = comp_ids[0]
            nby, nbx = comps[ci].shape[:2]
            blocks = comps[ci].reshape(nby * nbx, 64)
            if ah == 0:
                _emit_ac_first(bw, blocks, ss, se, al, ac_codes, restart)
            else:
                _emit_ac_refine(bw, blocks, ss, se, al, ac_codes, restart)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _Component:
    __slots__ = ("cid", "h", "v", "tq", "td", "ta", "coeffs", "nbx", "nby",
                 "czz")


def jpeg_decode(data: bytes, force_color: str | None = None) -> np.ndarray:
    """Decode a baseline (SOF0/1) or progressive (SOF2) JPEG stream to
    HxWx3 uint8.

    force_color='rgb': treat a 3-component stream's planes as R,G,B
    directly, skipping the YCbCr transform — the JPEG-in-TIFF
    photometric-RGB case, where libtiff sets the jpeg color space from
    the TIFF photometric instead of stream markers (tif_jpeg.c)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], list[int]] = {}
    comps: list[_Component] = []
    h = w = 0
    restart = 0
    progressive = False
    lossless = False
    precision = 8
    pos = 2
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT (may hold several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq:
                    tab = np.frombuffer(payload[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    tab = np.frombuffer(payload[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                qtabs[tq] = tab[_UNZZ]  # store natural order
        elif marker == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = payload[p + 1 : p + 17]
                nv = sum(bits)
                huffs[(tc, th)] = _huff_lut(bits, payload[p + 17 : p + 17 + nv])
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            progressive = marker == 0xC2
            _, h, w, nc = struct.unpack(">BHHB", payload[:6])
            comps = []
            for c in range(nc):
                comp = _Component()
                comp.cid = payload[6 + 3 * c]
                comp.h = payload[7 + 3 * c] >> 4
                comp.v = payload[7 + 3 * c] & 0x0F
                comp.tq = payload[8 + 3 * c]
                comps.append(comp)
        elif marker == 0xC3:  # lossless sequential (T.81 Annex H)
            lossless = True
            precision, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if precision > 8:
                # parity with the reference: its libjpeg rejects >12-bit
                # lossless (test_jpeg_read_lossless_16bit expects failure)
                raise ValueError(
                    f"unsupported lossless JPEG precision {precision}")
            comps = []
            for c in range(nc):
                comp = _Component()
                comp.cid = payload[6 + 3 * c]
                comp.h = payload[7 + 3 * c] >> 4
                comp.v = payload[7 + 3 * c] & 0x0F
                comp.tq = payload[8 + 3 * c]
                comps.append(comp)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG (SOF marker 0x{marker:02x}; "
                "baseline, progressive and lossless only)")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS -> entropy-coded scan follows
            ns = payload[0]
            order = []
            for s in range(ns):
                cs, tt = payload[1 + 2 * s], payload[2 + 2 * s]
                comp = next(c for c in comps if c.cid == cs)
                comp.td, comp.ta = tt >> 4, tt & 0x0F
                order.append(comp)
            scan_start = pos
            scan_end, segments = _split_scan(data, scan_start)
            if lossless:
                pred_sel = payload[1 + 2 * ns]
                pt = payload[3 + 2 * ns] & 0x0F
                planes_ll = _decode_scan_lossless(
                    order, segments, huffs, restart, h, w, pred_sel, pt,
                    precision)
                if len(planes_ll) == 1:
                    return np.repeat(planes_ll[0][:, :, None], 3, axis=2)
                return np.stack(planes_ll, axis=-1)
            if progressive:
                ss_ = payload[1 + 2 * ns]
                se_ = payload[2 + 2 * ns]
                ahal = payload[3 + 2 * ns]
                _decode_scan_prog(order, comps, segments, huffs, restart,
                                  h, w, ss_, se_, ahal >> 4, ahal & 0x0F)
            else:
                _decode_scan(order, segments, huffs, restart, h, w)
            pos = scan_end
        # APPn/COM and anything else: skipped

    if progressive:
        # zigzag accumulator -> natural-order coefficient blocks
        for c in comps:
            if getattr(c, "czz", None) is not None:
                c.coeffs = c.czz[:, :, _UNZZ].reshape(c.nby, c.nbx, 8, 8)

    if not comps or any(getattr(c, "coeffs", None) is None for c in comps):
        raise ValueError("no decodable scan found")

    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    planes = []
    for c in comps:
        q = qtabs[c.tq].reshape(8, 8)
        # exact libjpeg path: jpeg_idct_islow fixed-point integer IDCT
        flat = c.coeffs.reshape(-1, 8, 8)
        spatial = _idct_islow_blocks(flat, q).reshape(c.nby, c.nbx, 8, 8)
        img = spatial.transpose(0, 2, 1, 3).reshape(c.nby * 8, c.nbx * 8)
        ch = (h * c.v + vmax - 1) // vmax
        cw = (w * c.h + hmax - 1) // hmax
        img = img[:ch, :cw]
        fh, fw = vmax // c.v, hmax // c.h
        if (fh, fw) == (1, 1):
            pass
        elif (fh, fw) == (2, 2):
            img = _h2v2_fancy(img)  # jdsample.c fancy (triangle) upsampling
        elif (fh, fw) == (1, 2):
            img = _h2v1_fancy(img)
        else:
            img = np.repeat(np.repeat(img, fh, axis=0), fw, axis=1)
        planes.append(img[:h, :w])
    if len(planes) == 1:
        return np.repeat(planes[0][:, :, None], 3, axis=2)
    if len(planes) == 3 and force_color == "rgb":
        return np.stack(planes, axis=-1).astype(np.uint8)
    if len(planes) == 4:
        # Adobe 4-component CMYK (APP14 transform 0): the reference's JPEG
        # driver converts to RGB with R=C*K/255 etc.
        # (frmts/jpeg/jpgdataset.cpp:1808-1840); YCCK (transform 2) is not
        # seen in the reference fixtures and is unsupported here.
        c4 = [p.astype(np.int64) for p in planes]
        rgb = [(c4[i] * c4[3]) // 255 for i in range(3)]
        return np.stack(rgb, axis=-1).astype(np.uint8)
    return _ycc_rgb_exact(planes[0], planes[1], planes[2])


def _split_scan(data: bytes, start: int) -> tuple[int, list[bytes]]:
    """Unstuff the entropy segment starting at `start`; split at RSTn.
    Returns (index just past the scan, list of unstuffed segments)."""
    segments = []
    cur = bytearray()
    pos = start
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        m = data[pos + 1] if pos + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # EOI or next marker — scan over
            break
    segments.append(bytes(cur))
    return pos, segments


def _decode_scan(order, segments, huffs, restart, h, w) -> None:
    hmax = max(c.h for c in order)
    vmax = max(c.v for c in order)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in order:
        c.nbx = mcux * c.h
        c.nby = mcuy * c.v
        c.coeffs = np.zeros((c.nby, c.nbx, 8, 8), dtype=np.int32)
    n_mcu = mcux * mcuy
    seg_i = 0
    # bit-reader state kept in locals — the symbol loop is the decode hot
    # path and method-call overhead would triple its cost
    data = segments[0] + b"\xff\xff\xff"
    pos = 0
    acc = 0
    nb = 0
    pred = [0] * len(order)
    # per-component flat block lists; reshaped into coeff arrays at the end
    flat: list[list] = [[] for _ in order]
    luts = [(huffs[(0, c.td)], huffs[(1, c.ta)]) for c in order]
    nblk = [c.h * c.v for c in order]
    for m in range(n_mcu):
        if restart and m and m % restart == 0:
            seg_i += 1
            data = segments[seg_i] + b"\xff\xff\xff"
            pos = 0
            acc = 0
            nb = 0
            pred = [0] * len(order)
        for ci in range(len(order)):
            dc_lut, ac_lut = luts[ci]
            for _ in range(nblk[ci]):
                blk = [0] * 64
                if nb < 16:
                    acc &= (1 << nb) - 1  # mask consumed bits: bignum shifts are O(bits)
                    while nb <= 24:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nb += 8
                e = dc_lut[(acc >> (nb - 16)) & 0xFFFF]
                ln = e >> 8
                if ln == 0:
                    raise ValueError("bad Huffman code (DC)")
                size = e & 0xFF
                nb -= ln
                if size:
                    if nb < size:
                        acc &= (1 << nb) - 1  # mask consumed bits: bignum shifts are O(bits)
                        while nb <= 24:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nb += 8
                    v = (acc >> (nb - size)) & ((1 << size) - 1)
                    nb -= size
                    diff = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                else:
                    diff = 0
                pred[ci] += diff
                blk[0] = pred[ci]
                k = 1
                while k < 64:
                    if nb < 16:
                        acc &= (1 << nb) - 1  # mask consumed bits: bignum shifts are O(bits)
                        while nb <= 24:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nb += 8
                    e = ac_lut[(acc >> (nb - 16)) & 0xFFFF]
                    ln = e >> 8
                    if ln == 0:
                        raise ValueError("bad Huffman code (AC)")
                    sym = e & 0xFF
                    nb -= ln
                    if sym == 0x00:  # EOB
                        break
                    run = sym >> 4
                    size = sym & 0x0F
                    k += run
                    if size == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        k += 1  # ZRL consumed 16 zeros total
                        continue
                    if k > 63:
                        raise ValueError("AC index overflow")
                    if nb < size:
                        acc &= (1 << nb) - 1  # mask consumed bits: bignum shifts are O(bits)
                        while nb <= 24:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nb += 8
                    v = (acc >> (nb - size)) & ((1 << size) - 1)
                    nb -= size
                    blk[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    k += 1
                flat[ci].append(blk)
    for ci, c in enumerate(order):
        # MCU-ordered flat blocks -> (nby, nbx) block grid
        arr = np.asarray(flat[ci], dtype=np.int32)[:, _UNZZ].reshape(
            mcuy, mcux, c.v, c.h, 8, 8
        )
        c.coeffs = arr.transpose(0, 2, 1, 3, 4, 5).reshape(c.nby, c.nbx, 8, 8)


def jpeg_encode_lossless(arr: np.ndarray, predictor: int = 1,
                         pt: int = 0) -> bytes:
    """Lossless sequential (SOF3) encode of an (h, w) uint8 plane —
    T.81 Annex H: Huffman-coded modulo-2^16 prediction differences.
    Exists for round-trip validation of the decoder across all seven
    predictors and point transforms."""
    a = np.asarray(arr, np.int32)
    if a.ndim != 2:
        raise ValueError("lossless encoder takes a single 8-bit plane")
    h, w = a.shape
    src = a >> pt
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    bw = _BitWriter()
    default = 1 << (8 - pt - 1)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                px = default
            elif y == 0:
                px = int(src[0, x - 1])
            elif x == 0:
                px = int(src[y - 1, 0])
            else:
                ra, rb, rc = (int(src[y, x - 1]), int(src[y - 1, x]),
                              int(src[y - 1, x - 1]))
                px = {1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
                      5: ra + ((rb - rc) >> 1), 6: rb + ((ra - rc) >> 1),
                      7: (ra + rb) >> 1}[predictor]
            diff = (int(src[y, x]) - px) & 0xFFFF
            if diff >= 32768:
                diff -= 65536  # signed difference
            size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            bw.put(code, ln)
            if size:
                bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    out += _seg(0xC3, sof)
    out += _seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xDA, bytes([1, 1, 0x00, predictor, 0, pt]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _decode_scan_lossless(order, segments, huffs, restart, h, w,
                          pred_sel: int, pt: int, precision: int):
    """Lossless sequential scan (T.81 Annex H): Huffman-coded
    prediction differences, predictors 1-7 selected by Ss, modulo-2^16
    reconstruction, point transform Pt, restart-marker prediction
    reset.  Returns one uint8 plane per scan component (1x1 sampling,
    the only layout the reference's encoder family emits)."""
    if any(c.h != 1 or c.v != 1 for c in order):
        raise ValueError("subsampled lossless JPEG not supported")
    nc = len(order)
    luts = [huffs[(0, c.td)] for c in order]
    planes = [np.zeros((h, w), np.int32) for _ in order]
    default = 1 << (precision - pt - 1)
    seg_i = 0
    br = _PBits(segments[0])
    samples_done = 0
    reset_pending = False
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                lut = luts[ci]
                s = br.huff(lut)
                if s == 16:
                    diff = 32768
                elif s:
                    diff = br.receive_extend(s)
                else:
                    diff = 0
                p = planes[ci]
                if (y == 0 and x == 0) or reset_pending:
                    px = default
                elif y == 0:
                    px = int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    ra = int(p[y, x - 1])
                    rb = int(p[y - 1, x])
                    rc = int(p[y - 1, x - 1])
                    if pred_sel == 1:
                        px = ra
                    elif pred_sel == 2:
                        px = rb
                    elif pred_sel == 3:
                        px = rc
                    elif pred_sel == 4:
                        px = ra + rb - rc
                    elif pred_sel == 5:
                        px = ra + ((rb - rc) >> 1)
                    elif pred_sel == 6:
                        px = rb + ((ra - rc) >> 1)
                    elif pred_sel == 7:
                        px = (ra + rb) >> 1
                    else:
                        raise ValueError(
                            f"bad lossless predictor {pred_sel}")
                p[y, x] = (px + diff) & 0xFFFF
            reset_pending = False
            samples_done += 1
            if restart and samples_done % restart == 0 \
                    and samples_done < h * w:
                seg_i += 1
                br = _PBits(segments[seg_i])
                reset_pending = True  # prediction restarts at default
    out = []
    for p in planes:
        v = (p << pt) & ((1 << 16) - 1)
        out.append(np.clip(v, 0, (1 << precision) - 1).astype(np.uint8))
    return out


# ---------------------------------------------------------------------------
# progressive (SOF2) scan decode — T.81 G.2 semantics as implemented by
# libjpeg's jdhuff.c decode_mcu_DC_first/DC_refine/AC_first/AC_refine and
# accumulated across scans like jdcoefct.c's whole-image coefficient
# buffer (the reference consumes this path via frmts/jpeg/jpgdataset.cpp
# -> jpeg_read_scanlines on progressive files).
# ---------------------------------------------------------------------------


class _PBits:
    """Bit reader over one unstuffed entropy segment (MSB-first).  Past
    the end it reads 1-bits indefinitely, like libjpeg's fill for
    truncated streams (never IndexError on a cut-off file)."""

    __slots__ = ("data", "n_data", "pos", "acc", "nb")

    def __init__(self, seg: bytes):
        self.data = seg
        self.n_data = len(seg)
        self.pos = 0
        self.acc = 0
        self.nb = 0

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nb < n:
            byte = self.data[self.pos] if self.pos < self.n_data else 0xFF
            self.acc = ((self.acc & ((1 << self.nb) - 1)) << 8) | byte
            self.pos += 1
            self.nb += 8
        v = (self.acc >> (self.nb - n)) & ((1 << n) - 1)
        self.nb -= n
        return v

    def huff(self, lut) -> int:
        while self.nb < 16:
            byte = self.data[self.pos] if self.pos < self.n_data else 0xFF
            self.acc = ((self.acc & ((1 << self.nb) - 1)) << 8) | byte
            self.pos += 1
            self.nb += 8
        e = lut[(self.acc >> (self.nb - 16)) & 0xFFFF]
        ln = e >> 8
        if ln == 0:
            raise ValueError("bad Huffman code")
        self.nb -= ln
        return e & 0xFF

    def receive_extend(self, s: int) -> int:
        v = self.bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _prog_dims(c, h: int, w: int, hmax: int, vmax: int):
    """Non-interleaved block dims: ceil over the component's sample
    dims (T.81 A.2.2), always <= the MCU-padded czz dims."""
    cw = (w * c.h + hmax - 1) // hmax
    ch = (h * c.v + vmax - 1) // vmax
    return (ch + 7) // 8, (cw + 7) // 8


def _decode_scan_prog(order, comps, segments, huffs, restart, h, w,
                      ss, se, ah, al) -> None:
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        if getattr(c, "czz", None) is None:
            c.nbx = mcux * c.h
            c.nby = mcuy * c.v
            c.czz = np.zeros((c.nby, c.nbx, 64), dtype=np.int32)

    interleaved = len(order) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        bh_, bw_ = _prog_dims(order[0], h, w, hmax, vmax)
        units = bh_ * bw_

    p1 = 1 << al
    m1 = -1 << al
    seg_i = 0
    br = _PBits(segments[0])
    preds = [0] * len(order)
    eobrun = 0
    dcluts = [huffs[(0, c.td)] if ss == 0 else None for c in order]
    acl = huffs[(1, order[0].ta)] if ss > 0 else None

    for m in range(units):
        if restart and m and m % restart == 0:
            seg_i += 1
            br = _PBits(segments[seg_i])
            preds = [0] * len(order)
            eobrun = 0
        if ss == 0:  # ---- DC scan --------------------------------------
            for ci, c in enumerate(order):
                if interleaved:
                    my, mx = divmod(m, mcux)
                    blocks = [(my * c.v + by, mx * c.h + bx)
                              for by in range(c.v) for bx in range(c.h)]
                else:
                    blocks = [divmod(m, bw_)]
                for by, bx in blocks:
                    if ah == 0:  # DC first: diff coded, scaled by Al
                        s = br.huff(dcluts[ci])
                        diff = br.receive_extend(s) if s else 0
                        preds[ci] += diff
                        c.czz[by, bx, 0] = preds[ci] << al
                    else:        # DC refine: one correction bit
                        if br.bits(1):
                            c.czz[by, bx, 0] |= p1
        else:        # ---- AC scan (always single-component) -----------
            c = order[0]
            by, bx = divmod(m, bw_)
            blk = c.czz[by, bx]
            if ah == 0:  # AC first (decode_mcu_AC_first)
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = br.huff(acl)
                    r, s = sym >> 4, sym & 0x0F
                    if s:
                        k += r
                        if k > se:
                            raise ValueError("AC index overflow")
                        blk[k] = br.receive_extend(s) << al
                        k += 1
                    else:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += 16
            else:        # AC refine (decode_mcu_AC_refine)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = br.huff(acl)
                        r, s = sym >> 4, sym & 0x0F
                        sval = 0
                        if s:
                            # magnitude of a newly-nonzero coef is 1
                            sval = p1 if br.bits(1) else m1
                        elif r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.bits(r)
                            break
                        # advance over coefficients: correction bits on
                        # nonzero-history coefs; r counts zero-history
                        while k <= se:
                            v = int(blk[k])
                            if v != 0:
                                if br.bits(1) and not (v & p1):
                                    blk[k] = v + (p1 if v >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if sval and k <= se:
                            blk[k] = sval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        v = int(blk[k])
                        if v != 0:
                            if br.bits(1) and not (v & p1):
                                blk[k] = v + (p1 if v >= 0 else m1)
                        k += 1
                    eobrun -= 1


# ---------------------------------------------------------------------------
# Exact libjpeg decode path (bit-equal to the reference's vendored libjpeg:
# frmts/jpeg/libjpeg jidctint.c / jdsample.c / jdcolor.c) — fixed-point
# integer math transcribed to vectorized numpy.
# ---------------------------------------------------------------------------

_CB, _P1 = 13, 2  # CONST_BITS, PASS1_BITS
_F_0_298631336, _F_0_390180644 = 2446, 3196
_F_0_541196100, _F_0_765366865 = 4433, 6270
_F_0_899976223, _F_1_175875602 = 7373, 9633
_F_1_501321110, _F_1_847759065 = 12299, 15137
_F_1_961570560, _F_2_053119869 = 16069, 16819
_F_2_562915447, _F_3_072711026 = 20995, 25172


def _descale(x: np.ndarray, n: int) -> np.ndarray:
    return (x + (1 << (n - 1))) >> n


def _idct_islow_blocks(coeffs: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """jpeg_idct_islow over (N, 8, 8) natural-order coefficient blocks ->
    (N, 8, 8) uint8 samples (includes the IDCT range-limit table)."""
    d = coeffs.astype(np.int64) * qtab.astype(np.int64)
    # pass 1 over columns: lane k = row index
    cols = [d[:, k, :] for k in range(8)]
    ws = _idct_pass(cols, _CB - _P1)
    # pass 2 over rows: lane k = column index
    rows = [ws[k] for k in range(8)]  # ws[k] is (N, 8): row k? no —
    # ws lanes are row outputs, shape (N, 8 columns); pass 2 needs per-row
    # lanes over columns: transpose the lane structure
    ws_arr = np.stack(ws, axis=1)  # (N, 8rows, 8cols)
    lanes = [ws_arr[:, :, k] for k in range(8)]
    out = _idct_pass(lanes, _CB + _P1 + 3)
    out_arr = np.stack(out, axis=2)  # (N, 8rows, 8cols)
    return _IDCT_RANGE[out_arr & 1023]


def _idct_pass(s, descale_n: int):
    z2, z3 = s[2], s[6]
    z1 = (z2 + z3) * _F_0_541196100
    tmp2 = z1 + z3 * (-_F_1_847759065)
    tmp3 = z1 + z2 * _F_0_765366865
    tmp0 = (s[0] + s[4]) << _CB
    tmp1 = (s[0] - s[4]) << _CB
    tmp10, tmp13 = tmp0 + tmp3, tmp0 - tmp3
    tmp11, tmp12 = tmp1 + tmp2, tmp1 - tmp2
    t0, t1, t2, t3 = s[7], s[5], s[3], s[1]
    z1, z2 = t0 + t3, t1 + t2
    z3, z4 = t0 + t2, t1 + t3
    z5 = (z3 + z4) * _F_1_175875602
    t0 = t0 * _F_0_298631336
    t1 = t1 * _F_2_053119869
    t2 = t2 * _F_3_072711026
    t3 = t3 * _F_1_501321110
    z1 = z1 * (-_F_0_899976223)
    z2 = z2 * (-_F_2_562915447)
    z3 = z3 * (-_F_1_961570560) + z5
    z4 = z4 * (-_F_0_390180644) + z5
    t0 += z1 + z3
    t1 += z2 + z4
    t2 += z2 + z3
    t3 += z1 + z4
    return [
        _descale(tmp10 + t3, descale_n),
        _descale(tmp11 + t2, descale_n),
        _descale(tmp12 + t1, descale_n),
        _descale(tmp13 + t0, descale_n),
        _descale(tmp13 - t0, descale_n),
        _descale(tmp12 - t1, descale_n),
        _descale(tmp11 - t2, descale_n),
        _descale(tmp10 - t3, descale_n),
    ]


def _build_idct_range() -> np.ndarray:
    """IDCT range-limit table (jdmaster.c prepare_range_limit_table,
    viewed from the CENTERJSAMPLE offset, indexed by value & 1023)."""
    t = np.empty(1024, dtype=np.uint8)
    t[0:128] = np.arange(128, 256)
    t[128:512] = 255
    t[512:896] = 0
    t[896:1024] = np.arange(0, 128)
    return t


_IDCT_RANGE = _build_idct_range()

_SCALEBITS = 16
_ONE_HALF = 1 << (_SCALEBITS - 1)


def _fix(x: float) -> int:
    return int(x * (1 << _SCALEBITS) + 0.5)


_X = np.arange(256, dtype=np.int64) - 128
_CR_R = (_fix(1.40200) * _X + _ONE_HALF) >> _SCALEBITS
_CB_B = (_fix(1.77200) * _X + _ONE_HALF) >> _SCALEBITS
_CR_G = (-_fix(0.71414)) * _X
_CB_G = (-_fix(0.34414)) * _X + _ONE_HALF


def _ycc_rgb_exact(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """jdcolor.c ycc_rgb_convert with build_ycc_rgb_table fixed-point."""
    yi = y.astype(np.int64)
    cbi = cb.astype(np.int64)
    cri = cr.astype(np.int64)
    r = yi + _CR_R[cri]
    g = yi + ((_CB_G[cbi] + _CR_G[cri]) >> _SCALEBITS)
    b = yi + _CB_B[cbi]
    out = np.stack([r, g, b], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)  # sample_range_limit


def _h2v1_fancy(plane: np.ndarray) -> np.ndarray:
    """jdsample.c h2v1_fancy_upsample (triangle filter, 8-bit int math)."""
    p = plane.astype(np.int64)
    h, w = p.shape
    out = np.empty((h, w * 2), dtype=np.int64)
    out[:, 0] = p[:, 0]
    out[:, -1] = p[:, -1]
    out[:, 2:-1:2] = (p[:, 1:] * 3 + p[:, :-1] + 1) >> 2
    out[:, 1:-1:2] = (p[:, :-1] * 3 + p[:, 1:] + 2) >> 2
    return out.astype(np.uint8)


def _h2v2_fancy(plane: np.ndarray) -> np.ndarray:
    """jdsample.c h2v2_fancy_upsample: vertical 3:1 column sums, then
    horizontal 3:1 with the 8/7 rounding split; edges replicate."""
    p = plane.astype(np.int64)
    h, w = p.shape
    up = np.vstack([p[:1], p[:-1]])  # row above (edge replicated)
    dn = np.vstack([p[1:], p[-1:]])  # row below
    colsums = np.empty((2 * h, w), dtype=np.int64)
    colsums[0::2] = p * 3 + up  # v==0: next nearest is above
    colsums[1::2] = p * 3 + dn  # v==1: next nearest is below
    cs = colsums
    out = np.empty((2 * h, 2 * w), dtype=np.int64)
    last = np.hstack([cs[:, :1], cs[:, :-1]])
    nxt = np.hstack([cs[:, 1:], cs[:, -1:]])
    out[:, 0::2] = (cs * 3 + last + 8) >> 4
    out[:, 1::2] = (cs * 3 + nxt + 7) >> 4
    # special-case first/last columns (4x replication weights)
    out[:, 0] = (cs[:, 0] * 4 + 8) >> 4
    out[:, -1] = (cs[:, -1] * 4 + 7) >> 4
    return out.astype(np.uint8)
