"""Pure-Python/numpy VP8 (lossy WebP) intra-frame decoder — RFC 6386.

WebP still images are always VP8 key frames, so this implements the
complete intra path: boolean arithmetic decoder (§7), frame/segment/
filter headers (§9), keyframe intra-mode decoding (§11), DCT token
decoding with per-band context probabilities (§13), dequantization
(§14.1), inverse WHT/DCT (§14.3-14.4), intra prediction (§12), and
the normal + simple loop filters (§15), plus libwebp-compatible fancy
chroma upsampling and fixed-point YUV->RGB conversion so output is
comparable against the reference driver (frmts/webp/webpdataset.cpp,
which binds libwebp) at the pixel level.

Constant probability/quantizer tables live in vp8_tables.py (normative
RFC 6386 values; see tools/extract_vp8_tables.py for provenance).

Only key frames are supported — an inter frame raises ValueError
(cannot occur in a WebP still).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.functions.vp8_tables import (
    AC_QLOOKUP, COEFF_PROBS, DC_QLOOKUP, KF_BMODE_PROBS, PCAT1, PCAT2,
    PCAT3, PCAT4, PCAT5, PCAT6, UPDATE_PROBS,
)

__all__ = ["vp8_decode", "vp8_decode_yuv"]

# ---------------------------------------------------------------------------
# boolean decoder (RFC 6386 §7.3)
# ---------------------------------------------------------------------------


class _Bool:
    __slots__ = ("data", "pos", "rng", "value", "bits")

    def __init__(self, data: bytes):
        self.data = data
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.rng = 255
        self.bits = 0

    def get(self, prob: int = 128) -> int:
        rng = self.rng
        value = self.value
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        if value >= big:
            ret = 1
            rng -= split
            value -= big
        else:
            ret = 0
            rng = split
        if rng < 128:
            data = self.data
            ln = len(data)
            bits = self.bits
            pos = self.pos
            while rng < 128:
                value <<= 1
                rng <<= 1
                bits += 1
                if bits == 8:
                    bits = 0
                    if pos < ln:
                        value |= data[pos]
                    pos += 1
            self.bits = bits
            self.pos = pos
        self.rng = rng
        self.value = value
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def flagged_signed(self, n: int) -> int:
        """An optional signed literal: flag bit, then magnitude+sign."""
        return self.signed_literal(n) if self.get(128) else 0

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# trees & small tables (RFC 6386 §8.2, §11.2, §13.2-13.3)
# ---------------------------------------------------------------------------

DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

_KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
_KF_YMODE_PROB = (145, 156, 163, 128)
_UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
_KF_UV_PROB = (142, 114, 183)
_BMODE_TREE = (
    -B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
    -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU,
)
_SEGMENT_TREE = (2, 4, -0, -1, -2, -3)
# implied subblock mode of a whole-MB prediction mode (context only)
_IMPLIED_B = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

_TOKEN_TREE = (
    0, 0,                 # EOB handled explicitly; tree starts at node 2
    -0, 4,                # ZERO
    -1, 6,                # ONE
    8, 12,
    -2, 10,
    -3, -4,
    14, 16,
    -11, -12,             # cat1, cat2 (pseudo-values, see _CAT)
    18, 20,
    -13, -14,             # cat3, cat4
    -15, -16,             # cat5, cat6
)
# pseudo-token -> (base value, extra-bit probs)
_CAT = {
    11: (5, PCAT1), 12: (7, PCAT2), 13: (11, PCAT3),
    14: (19, PCAT4), 15: (35, PCAT5), 16: (67, PCAT6),
}

_COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


# ---------------------------------------------------------------------------
# inverse transforms (RFC 6386 §14.3-14.4)
# ---------------------------------------------------------------------------

_C1 = 20091  # cospi8sqrt2 - 1, Q16
_C2 = 35468  # sinpi8sqrt2, Q16


def _idct4x4(block) -> np.ndarray:
    # plain-int arithmetic: for a 4x4 block, Python ints beat numpy's
    # per-op dispatch by ~5x; exact RFC integer semantics
    ip = [int(v) for v in np.asarray(block).ravel()]
    tmp = [0] * 16
    for c in range(4):
        i0, i1, i2, i3 = ip[c], ip[4 + c], ip[8 + c], ip[12 + c]
        a1 = i0 + i2
        b1 = i0 - i2
        c1 = ((i1 * _C2) >> 16) - (i3 + ((i3 * _C1) >> 16))
        d1 = (i1 + ((i1 * _C1) >> 16)) + ((i3 * _C2) >> 16)
        tmp[c] = a1 + d1
        tmp[12 + c] = a1 - d1
        tmp[4 + c] = b1 + c1
        tmp[8 + c] = b1 - c1
    out = [0] * 16
    for r in range(0, 16, 4):
        t0, t1, t2, t3 = tmp[r], tmp[r + 1], tmp[r + 2], tmp[r + 3]
        a1 = t0 + t2
        b1 = t0 - t2
        c1 = ((t1 * _C2) >> 16) - (t3 + ((t3 * _C1) >> 16))
        d1 = (t1 + ((t1 * _C1) >> 16)) + ((t3 * _C2) >> 16)
        out[r] = (a1 + d1 + 4) >> 3
        out[r + 3] = (a1 - d1 + 4) >> 3
        out[r + 1] = (b1 + c1 + 4) >> 3
        out[r + 2] = (b1 - c1 + 4) >> 3
    return np.array(out, np.int64).reshape(4, 4)


def _iwht4x4(block: np.ndarray) -> np.ndarray:
    ip = block.astype(np.int64)
    if not ip[1:].any() and not ip[0, 1:].any():
        # DC-only: every output DC is (dc + 3) >> 3
        return np.full((4, 4), (int(ip[0, 0]) + 3) >> 3, np.int64)
    a1 = ip[0] + ip[3]
    b1 = ip[1] + ip[2]
    c1 = ip[1] - ip[2]
    d1 = ip[0] - ip[3]
    tmp = np.empty((4, 4), np.int64)
    tmp[0] = a1 + b1
    tmp[1] = c1 + d1
    tmp[2] = a1 - b1
    tmp[3] = d1 - c1
    t = tmp.T
    a1 = t[0] + t[3]
    b1 = t[1] + t[2]
    c1 = t[1] - t[2]
    d1 = t[0] - t[3]
    out = np.empty((4, 4), np.int64)
    out[:, 0] = (a1 + b1 + 3) >> 3
    out[:, 1] = (c1 + d1 + 3) >> 3
    out[:, 2] = (a1 - b1 + 3) >> 3
    out[:, 3] = (d1 - c1 + 3) >> 3
    return out


def _residual(blk: np.ndarray):
    """Residual of one 4x4 coefficient vector: None if all-zero, a
    scalar for DC-only blocks ((dc + 4) >> 3 everywhere), else the
    full IDCT."""
    if not blk.any():
        return None
    if not blk[1:].any():
        return (int(blk[0]) + 4) >> 3
    return _idct4x4(blk.reshape(4, 4))


# ---------------------------------------------------------------------------
# header parsing
# ---------------------------------------------------------------------------


class _Frame:
    pass


def _parse_frame(data: bytes) -> _Frame:
    f = _Frame()
    if len(data) < 10:
        raise ValueError("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    f.keyframe = not (tag & 1)
    f.version = (tag >> 1) & 7
    f.show = (tag >> 4) & 1
    first_size = tag >> 5
    if not f.keyframe:
        raise ValueError("VP8: inter frame in a still image")
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad keyframe start code")
    wv = data[6] | (data[7] << 8)
    hv = data[8] | (data[9] << 8)
    f.width, f.height = wv & 0x3FFF, hv & 0x3FFF
    if not f.width or not f.height:
        raise ValueError("VP8: zero dimension")
    body = data[10:]
    if first_size > len(body):
        raise ValueError("VP8: first partition overruns frame")
    f.first_size = first_size
    bd = _Bool(body[:first_size])
    f.color_space = bd.get()
    f.clamping = bd.get()

    # segmentation (§9.3)
    f.seg_enabled = bd.get()
    f.seg_update_map = 0
    f.seg_abs = 0
    f.seg_quant = [0, 0, 0, 0]
    f.seg_lf = [0, 0, 0, 0]
    f.seg_tree_probs = [255, 255, 255]
    if f.seg_enabled:
        f.seg_update_map = bd.get()
        update_data = bd.get()
        if update_data:
            f.seg_abs = bd.get()
            for i in range(4):
                f.seg_quant[i] = bd.flagged_signed(7)
            for i in range(4):
                f.seg_lf[i] = bd.flagged_signed(6)
        if f.seg_update_map:
            for i in range(3):
                if bd.get():
                    f.seg_tree_probs[i] = bd.literal(8)

    # loop filter (§9.4)
    f.filter_simple = bd.get()
    f.filter_level = bd.literal(6)
    f.sharpness = bd.literal(3)
    f.lf_delta_enabled = bd.get()
    f.ref_lf_delta = [0, 0, 0, 0]
    f.mode_lf_delta = [0, 0, 0, 0]
    if f.lf_delta_enabled:
        if bd.get():  # deltas updated this frame
            for i in range(4):
                if bd.get():
                    f.ref_lf_delta[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.get():
                    f.mode_lf_delta[i] = bd.signed_literal(6)

    # token partitions (§9.5)
    f.nparts = 1 << bd.literal(2)

    # quantizer (§9.6)
    f.y_ac_qi = bd.literal(7)
    f.y_dc_delta = bd.flagged_signed(4)
    f.y2_dc_delta = bd.flagged_signed(4)
    f.y2_ac_delta = bd.flagged_signed(4)
    f.uv_dc_delta = bd.flagged_signed(4)
    f.uv_ac_delta = bd.flagged_signed(4)

    # keyframe: refresh entropy flag (§9.7)
    f.refresh_entropy = bd.get()

    # coefficient probability updates (§13.4)
    probs = [[[list(COEFF_PROBS[t][b][c]) for c in range(3)]
              for b in range(8)] for t in range(4)]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                up = UPDATE_PROBS[t][b][c]
                row = probs[t][b][c]
                for p in range(11):
                    if bd.get(up[p]):
                        row[p] = bd.literal(8)
    f.coeff_probs = probs

    f.mb_no_skip = bd.get()
    f.prob_skip_false = bd.literal(8) if f.mb_no_skip else 0

    f.mb_w = (f.width + 15) >> 4
    f.mb_h = (f.height + 15) >> 4

    # ---- per-MB modes (remainder of the first partition) ----
    nmb = f.mb_w * f.mb_h
    f.segments = [0] * nmb
    f.skips = [0] * nmb
    f.ymodes = [0] * nmb
    f.uvmodes = [0] * nmb
    f.bmodes = [None] * nmb  # 16 submodes per MB
    above_sub = [[B_DC] * 4 for _ in range(f.mb_w)]  # bottom row per col
    for my in range(f.mb_h):
        left_sub = [B_DC] * 4
        for mx in range(f.mb_w):
            i = my * f.mb_w + mx
            if f.seg_update_map:
                f.segments[i] = bd.tree(_SEGMENT_TREE, f.seg_tree_probs)
            if f.mb_no_skip:
                f.skips[i] = bd.get(f.prob_skip_false)
            ym = bd.tree(_KF_YMODE_TREE, _KF_YMODE_PROB)
            f.ymodes[i] = ym
            if ym == B_PRED:
                sub = [0] * 16
                for r in range(4):
                    for c in range(4):
                        a = above_sub[mx][c] if r == 0 else sub[(r - 1) * 4 + c]
                        lft = left_sub[r] if c == 0 else sub[r * 4 + c - 1]
                        sub[r * 4 + c] = bd.tree(
                            _BMODE_TREE, KF_BMODE_PROBS[a][lft])
            else:
                sub = [_IMPLIED_B[ym]] * 16
            f.bmodes[i] = sub
            above_sub[mx] = sub[12:16]
            left_sub = [sub[3], sub[7], sub[11], sub[15]]
            f.uvmodes[i] = bd.tree(_UV_MODE_TREE, _KF_UV_PROB)
    f.header_bd = bd

    # token partition layout
    rest = body[first_size:]
    sizes = []
    off = 3 * (f.nparts - 1)
    if len(rest) < off:
        raise ValueError("VP8: truncated partition size table")
    for p in range(f.nparts - 1):
        sizes.append(rest[3 * p] | (rest[3 * p + 1] << 8)
                     | (rest[3 * p + 2] << 16))
    parts = []
    pos = off
    for p in range(f.nparts):
        ln = sizes[p] if p < f.nparts - 1 else len(rest) - pos
        if ln < 0 or pos + ln > len(rest):
            raise ValueError("VP8: token partition overruns frame")
        parts.append(rest[pos : pos + ln])
        pos += ln
    f.partitions = parts
    return f


def _dequant_factors(f: _Frame) -> list[tuple]:
    """Per-segment (y1dc, y1ac, y2dc, y2ac, uvdc, uvac)."""
    out = []
    for s in range(4):
        if f.seg_enabled:
            base = f.seg_quant[s] if f.seg_abs else f.y_ac_qi + f.seg_quant[s]
        else:
            base = f.y_ac_qi
        base = _clamp_q(base)
        y1dc = DC_QLOOKUP[_clamp_q(base + f.y_dc_delta)]
        y1ac = AC_QLOOKUP[base]
        y2dc = DC_QLOOKUP[_clamp_q(base + f.y2_dc_delta)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(base + f.y2_ac_delta)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[_clamp_q(base + f.uv_dc_delta)]
        if uvdc > 132:
            uvdc = 132
        uvac = AC_QLOOKUP[_clamp_q(base + f.uv_ac_delta)]
        out.append((y1dc, y1ac, y2dc, y2ac, uvdc, uvac))
    return out


# ---------------------------------------------------------------------------
# token decoding (§13)
# ---------------------------------------------------------------------------


def _decode_coeffs(bd: _Bool, probs_t, first: int, ctx: int,
                   dq_dc: int, dq_ac: int, out: np.ndarray) -> int:
    """Decode one 4x4 block's tokens into out[16] (zigzag applied,
    dequantized).  Returns the end-of-block position."""
    i = first
    skip_eob = False
    while i < 16:
        p = probs_t[_COEFF_BANDS[i]][ctx]
        if not skip_eob:
            if not bd.get(p[0]):
                break
        if not bd.get(p[1]):
            ctx = 0
            skip_eob = True
            i += 1
            continue
        skip_eob = False
        if not bd.get(p[2]):
            val = 1
            ctx = 1
        else:
            tok = bd.tree(_TOKEN_TREE, p, start=6)
            if tok >= 11:
                base, cat = _CAT[tok]
                extra = 0
                for cp in cat:
                    extra = (extra << 1) | bd.get(cp)
                val = base + extra
            else:
                val = tok
            ctx = 2
        if bd.get():
            val = -val
        out[_ZIGZAG[i]] = val * (dq_dc if i == 0 else dq_ac)
        i += 1
    return i


# ---------------------------------------------------------------------------
# intra prediction (§12)
# ---------------------------------------------------------------------------


def _pred16_or_8(plane: np.ndarray, by: int, bx: int, n: int,
                 mode: int) -> np.ndarray:
    h, w = plane.shape
    have_a, have_l = by > 0, bx > 0
    if mode == DC_PRED:
        if have_a and have_l:
            s = int(plane[by - 1, bx : bx + n].sum(dtype=np.int64)) + int(
                plane[by : by + n, bx - 1].sum(dtype=np.int64))
            v = (s + n) >> (5 if n == 16 else 4)
        elif have_a:
            s = int(plane[by - 1, bx : bx + n].sum(dtype=np.int64))
            v = (s + (n >> 1)) >> (4 if n == 16 else 3)
        elif have_l:
            s = int(plane[by : by + n, bx - 1].sum(dtype=np.int64))
            v = (s + (n >> 1)) >> (4 if n == 16 else 3)
        else:
            v = 128
        return np.full((n, n), v, np.int64)
    above = (plane[by - 1, bx : bx + n].astype(np.int64)
             if have_a else np.full(n, 127, np.int64))
    left = (plane[by : by + n, bx - 1].astype(np.int64)
            if have_l else np.full(n, 129, np.int64))
    if mode == V_PRED:
        return np.tile(above, (n, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, n))
    # TM_PRED
    if by == 0:
        corner = 127
    elif bx == 0:
        corner = 129
    else:
        corner = int(plane[by - 1, bx - 1])
    return np.clip(left[:, None] + above[None, :] - corner, 0, 255)


def _bpred4(A: np.ndarray, L: np.ndarray, P: int, mode: int) -> np.ndarray:
    """4x4 subblock prediction.  A = 8 above pixels (incl. above-right),
    L = 4 left pixels, P = above-left corner."""
    B = np.empty((4, 4), np.int64)
    if mode == B_DC:
        B[:] = (int(A[:4].sum()) + int(L.sum()) + 4) >> 3
    elif mode == B_TM:
        B[:] = np.clip(L[:, None] + A[None, :4] - P, 0, 255)
    elif mode == B_VE:
        x = np.array([P, A[0], A[1], A[2], A[3], A[4]], np.int64)
        row = (x[:-2] + 2 * x[1:-1] + x[2:] + 2) >> 2
        B[:] = row[None, :]
    elif mode == B_HE:
        x = np.array([P, L[0], L[1], L[2], L[3], L[3]], np.int64)
        col = (x[:-2] + 2 * x[1:-1] + x[2:] + 2) >> 2
        B[:] = col[:, None]
    elif mode == B_LD:
        a = A
        for r in range(4):
            for c in range(4):
                i = r + c
                if i < 6:
                    B[r, c] = (a[i] + 2 * a[i + 1] + a[i + 2] + 2) >> 2
                else:
                    B[r, c] = (a[6] + 3 * a[7] + 2) >> 2
    elif mode == B_RD:
        e = np.array([L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]],
                     np.int64)
        for r in range(4):
            for c in range(4):
                i = 4 + c - r
                B[r, c] = (e[i - 1] + 2 * e[i] + e[i + 1] + 2) >> 2
    elif mode == B_VR:
        pp = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
        B[3, 0] = (pp[1] + 2 * pp[2] + pp[3] + 2) >> 2
        B[2, 0] = (pp[2] + 2 * pp[3] + pp[4] + 2) >> 2
        B[3, 1] = B[1, 0] = (pp[3] + 2 * pp[4] + pp[5] + 2) >> 2
        B[2, 1] = B[0, 0] = (pp[4] + pp[5] + 1) >> 1
        B[3, 2] = B[1, 1] = (pp[4] + 2 * pp[5] + pp[6] + 2) >> 2
        B[2, 2] = B[0, 1] = (pp[5] + pp[6] + 1) >> 1
        B[3, 3] = B[1, 2] = (pp[5] + 2 * pp[6] + pp[7] + 2) >> 2
        B[2, 3] = B[0, 2] = (pp[6] + pp[7] + 1) >> 1
        B[1, 3] = (pp[6] + 2 * pp[7] + pp[8] + 2) >> 2
        B[0, 3] = (pp[7] + pp[8] + 1) >> 1
    elif mode == B_VL:
        pp = A
        B[0, 0] = (pp[0] + pp[1] + 1) >> 1
        B[1, 0] = (pp[0] + 2 * pp[1] + pp[2] + 2) >> 2
        B[2, 0] = B[0, 1] = (pp[1] + pp[2] + 1) >> 1
        B[1, 1] = B[3, 0] = (pp[1] + 2 * pp[2] + pp[3] + 2) >> 2
        B[2, 1] = B[0, 2] = (pp[2] + pp[3] + 1) >> 1
        B[3, 1] = B[1, 2] = (pp[2] + 2 * pp[3] + pp[4] + 2) >> 2
        B[2, 2] = B[0, 3] = (pp[3] + pp[4] + 1) >> 1
        B[3, 2] = B[1, 3] = (pp[3] + 2 * pp[4] + pp[5] + 2) >> 2
        B[2, 3] = (pp[4] + 2 * pp[5] + pp[6] + 2) >> 2
        B[3, 3] = (pp[5] + 2 * pp[6] + pp[7] + 2) >> 2
    elif mode == B_HD:
        pp = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2]]
        B[3, 0] = (pp[0] + pp[1] + 1) >> 1
        B[3, 1] = (pp[0] + 2 * pp[1] + pp[2] + 2) >> 2
        B[2, 0] = B[3, 2] = (pp[1] + pp[2] + 1) >> 1
        B[2, 1] = B[3, 3] = (pp[1] + 2 * pp[2] + pp[3] + 2) >> 2
        B[2, 2] = B[1, 0] = (pp[2] + pp[3] + 1) >> 1
        B[2, 3] = B[1, 1] = (pp[2] + 2 * pp[3] + pp[4] + 2) >> 2
        B[1, 2] = B[0, 0] = (pp[3] + pp[4] + 1) >> 1
        B[1, 3] = B[0, 1] = (pp[3] + 2 * pp[4] + pp[5] + 2) >> 2
        B[0, 2] = (pp[4] + 2 * pp[5] + pp[6] + 2) >> 2
        B[0, 3] = (pp[5] + 2 * pp[6] + pp[7] + 2) >> 2
    else:  # B_HU
        pp = L
        B[0, 0] = (pp[0] + pp[1] + 1) >> 1
        B[0, 1] = (pp[0] + 2 * pp[1] + pp[2] + 2) >> 2
        B[0, 2] = B[1, 0] = (pp[1] + pp[2] + 1) >> 1
        B[0, 3] = B[1, 1] = (pp[1] + 2 * pp[2] + pp[3] + 2) >> 2
        B[1, 2] = B[2, 0] = (pp[2] + pp[3] + 1) >> 1
        B[1, 3] = B[2, 1] = (pp[2] + 3 * pp[3] + 2) >> 2
        B[2, 2] = B[2, 3] = B[3, 0] = B[3, 1] = B[3, 2] = B[3, 3] = pp[3]
    return B


def _sub_pix(plane: np.ndarray, yy: int, xx: int, coded_w: int) -> int:
    """Border-buffer pixel accessor: top border 127 (incl. corner and
    beyond-right), left border 129, right border replicates."""
    if yy < 0:
        return 127
    if xx < 0:
        return 129
    if xx >= coded_w:
        return int(plane[yy, coded_w - 1])
    return int(plane[yy, xx])


def _sub_row(plane: np.ndarray, yy: int, x0: int, n: int,
             coded_w: int) -> np.ndarray:
    return np.array([_sub_pix(plane, yy, x0 + i, coded_w) for i in range(n)],
                    np.int64)


# ---------------------------------------------------------------------------
# loop filter (§15) — numpy-vectorized along each edge
# ---------------------------------------------------------------------------


def _sc(v: np.ndarray) -> np.ndarray:
    return np.clip(v, -128, 127)


def _edge_arrays(plane, y0, x0, n, horiz, depth):
    """Gather `depth` pixel vectors each side of an edge of length n.
    horiz=True: edge between rows (filter vertically)."""
    if horiz:
        ps = [plane[y0 - k - 1, x0 : x0 + n].astype(np.int64)
              for k in range(depth)]
        qs = [plane[y0 + k, x0 : x0 + n].astype(np.int64)
              for k in range(depth)]
    else:
        ps = [plane[y0 : y0 + n, x0 - k - 1].astype(np.int64)
              for k in range(depth)]
        qs = [plane[y0 : y0 + n, x0 + k].astype(np.int64)
              for k in range(depth)]
    return ps, qs


def _edge_store(plane, y0, x0, n, horiz, ps, qs):
    for k, v in enumerate(ps):
        if horiz:
            plane[y0 - k - 1, x0 : x0 + n] = np.clip(v, 0, 255)
        else:
            plane[y0 : y0 + n, x0 - k - 1] = np.clip(v, 0, 255)
    for k, v in enumerate(qs):
        if horiz:
            plane[y0 + k, x0 : x0 + n] = np.clip(v, 0, 255)
        else:
            plane[y0 : y0 + n, x0 + k] = np.clip(v, 0, 255)


def _normal_filter_mask(ps, qs, interior, edge):
    p3, p2, p1, p0 = ps[3], ps[2], ps[1], ps[0]
    q0, q1, q2, q3 = qs[0], qs[1], qs[2], qs[3]
    m = (
        (np.abs(p3 - p2) <= interior) & (np.abs(p2 - p1) <= interior)
        & (np.abs(p1 - p0) <= interior) & (np.abs(q1 - q0) <= interior)
        & (np.abs(q2 - q1) <= interior) & (np.abs(q3 - q2) <= interior)
        & (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= edge)
    )
    return m


def _hev_mask(ps, qs, thresh):
    return (np.abs(ps[1] - ps[0]) > thresh) | (np.abs(qs[1] - qs[0]) > thresh)


def _subblock_filter(plane, y0, x0, n, horiz, interior, edge, thresh):
    ps, qs = _edge_arrays(plane, y0, x0, n, horiz, 4)
    mask = _normal_filter_mask(ps, qs, interior, edge)
    if not mask.any():
        return
    hev = _hev_mask(ps, qs, thresh)
    ps1, ps0 = ps[1] - 128, ps[0] - 128
    qs0, qs1 = qs[0] - 128, qs[1] - 128
    fv = _sc(ps1 - qs1)
    fv = np.where(hev, fv, 0)
    fv = _sc(fv + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    f1 = _sc(fv + 4) >> 3
    f2 = _sc(fv + 3) >> 3
    qs0 = _sc(qs0 - f1)
    ps0 = _sc(ps0 + f2)
    outer = (f1 + 1) >> 1
    outer = np.where(hev, 0, outer)
    qs1 = _sc(qs1 - outer)
    ps1 = _sc(ps1 + outer)
    _edge_store(plane, y0, x0, n, horiz,
                [ps0 + 128, ps1 + 128, ps[2], ps[3]],
                [qs0 + 128, qs1 + 128, qs[2], qs[3]])


def _mb_filter(plane, y0, x0, n, horiz, interior, edge, thresh):
    ps, qs = _edge_arrays(plane, y0, x0, n, horiz, 4)
    mask = _normal_filter_mask(ps, qs, interior, edge)
    if not mask.any():
        return
    hev = _hev_mask(ps, qs, thresh)
    ps2, ps1, ps0 = ps[2] - 128, ps[1] - 128, ps[0] - 128
    qs0, qs1, qs2 = qs[0] - 128, qs[1] - 128, qs[2] - 128
    fv = _sc(_sc(ps1 - qs1) + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    f2h = np.where(hev, fv, 0)
    f1 = _sc(f2h + 4) >> 3
    f2 = _sc(f2h + 3) >> 3
    qs0 = _sc(qs0 - f1)
    ps0 = _sc(ps0 + f2)
    fvr = np.where(hev, 0, fv)
    u = _sc((63 + fvr * 27) >> 7)
    qs0 = _sc(qs0 - u)
    ps0 = _sc(ps0 + u)
    u = _sc((63 + fvr * 18) >> 7)
    qs1 = _sc(qs1 - u)
    ps1 = _sc(ps1 + u)
    u = _sc((63 + fvr * 9) >> 7)
    qs2 = _sc(qs2 - u)
    ps2 = _sc(ps2 + u)
    _edge_store(plane, y0, x0, n, horiz,
                [ps0 + 128, ps1 + 128, ps2 + 128, ps[3]],
                [qs0 + 128, qs1 + 128, qs2 + 128, qs[3]])


def _simple_filter(plane, y0, x0, n, horiz, edge):
    ps, qs = _edge_arrays(plane, y0, x0, n, horiz, 2)
    mask = (np.abs(ps[0] - qs[0]) * 2 + (np.abs(ps[1] - qs[1]) >> 1)) <= edge
    if not mask.any():
        return
    ps1, ps0 = ps[1] - 128, ps[0] - 128
    qs0, qs1 = qs[0] - 128, qs[1] - 128
    fv = _sc(_sc(ps1 - qs1) + 3 * (qs0 - ps0))
    fv = np.where(mask, fv, 0)
    f1 = _sc(fv + 4) >> 3
    f2 = _sc(fv + 3) >> 3
    qs0 = _sc(qs0 - f1)
    ps0 = _sc(ps0 + f2)
    _edge_store(plane, y0, x0, n, horiz,
                [ps0 + 128, ps[1]], [qs0 + 128, qs[1]])


def _loop_filter(f: _Frame, Y, U, V, mb_levels, mb_skip_lf):
    for my in range(f.mb_h):
        for mx in range(f.mb_w):
            i = my * f.mb_w + mx
            level = mb_levels[i]
            if level == 0:
                continue
            interior = level
            if f.sharpness:
                interior >>= 1 if f.sharpness <= 4 else 2
                if interior > 9 - f.sharpness:
                    interior = 9 - f.sharpness
            if interior < 1:
                interior = 1
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            mb_lim = ((level + 2) * 2) + interior
            sb_lim = (level * 2) + interior
            skip_internal = mb_skip_lf[i]
            yy, yx = my * 16, mx * 16
            cy, cx = my * 8, mx * 8
            if f.filter_simple:
                if mx > 0:
                    _simple_filter(Y, yy, yx, 16, False, mb_lim)
                if not skip_internal:
                    for k in (4, 8, 12):
                        _simple_filter(Y, yy, yx + k, 16, False, sb_lim)
                if my > 0:
                    _simple_filter(Y, yy, yx, 16, True, mb_lim)
                if not skip_internal:
                    for k in (4, 8, 12):
                        _simple_filter(Y, yy + k, yx, 16, True, sb_lim)
                continue
            if mx > 0:
                _mb_filter(Y, yy, yx, 16, False, interior, mb_lim, hev_t)
                _mb_filter(U, cy, cx, 8, False, interior, mb_lim, hev_t)
                _mb_filter(V, cy, cx, 8, False, interior, mb_lim, hev_t)
            if not skip_internal:
                for k in (4, 8, 12):
                    _subblock_filter(Y, yy, yx + k, 16, False,
                                     interior, sb_lim, hev_t)
                _subblock_filter(U, cy, cx + 4, 8, False,
                                 interior, sb_lim, hev_t)
                _subblock_filter(V, cy, cx + 4, 8, False,
                                 interior, sb_lim, hev_t)
            if my > 0:
                _mb_filter(Y, yy, yx, 16, True, interior, mb_lim, hev_t)
                _mb_filter(U, cy, cx, 8, True, interior, mb_lim, hev_t)
                _mb_filter(V, cy, cx, 8, True, interior, mb_lim, hev_t)
            if not skip_internal:
                for k in (4, 8, 12):
                    _subblock_filter(Y, yy + k, yx, 16, True,
                                     interior, sb_lim, hev_t)
                _subblock_filter(U, cy + 4, cx, 8, True,
                                 interior, sb_lim, hev_t)
                _subblock_filter(V, cy + 4, cx, 8, True,
                                 interior, sb_lim, hev_t)


# ---------------------------------------------------------------------------
# main decode
# ---------------------------------------------------------------------------


def vp8_decode_yuv(data: bytes):
    """Decode a VP8 key frame -> (Y, U, V) uint8 planes cropped to the
    frame size (U/V at half resolution), plus an info dict."""
    f = _parse_frame(bytes(data))
    dq = _dequant_factors(f)

    W16, H16 = f.mb_w * 16, f.mb_h * 16
    Y = np.zeros((H16, W16), np.uint8)
    U = np.zeros((H16 >> 1, W16 >> 1), np.uint8)
    V = np.zeros((H16 >> 1, W16 >> 1), np.uint8)

    # token entropy contexts
    above_y = [[0] * 4 for _ in range(f.mb_w)]
    above_u = [[0] * 2 for _ in range(f.mb_w)]
    above_v = [[0] * 2 for _ in range(f.mb_w)]
    above_y2 = [0] * f.mb_w
    part_bds = [_Bool(p) for p in f.partitions]

    mb_levels = [0] * (f.mb_w * f.mb_h)
    mb_skip_lf = [False] * (f.mb_w * f.mb_h)

    for my in range(f.mb_h):
        bd = part_bds[my % f.nparts]
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        left_y2 = 0
        for mx in range(f.mb_w):
            i = my * f.mb_w + mx
            mode = f.ymodes[i]
            seg = f.segments[i]
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = dq[seg]
            has_y2 = mode != B_PRED
            coeffs = np.zeros((25, 16), np.int64)  # 16 Y, 4 U, 4 V, Y2
            any_coeffs = False
            if f.skips[i]:
                left_y[:] = [0] * 4
                left_u[:] = [0] * 2
                left_v[:] = [0] * 2
                above_y[mx] = [0] * 4
                above_u[mx] = [0] * 2
                above_v[mx] = [0] * 2
                if has_y2:
                    left_y2 = 0
                    above_y2[mx] = 0
            else:
                if has_y2:
                    ctx = above_y2[mx] + left_y2
                    eob = _decode_coeffs(bd, f.coeff_probs[1], 0, ctx,
                                         y2dc, y2ac, coeffs[24])
                    nz = eob > 0
                    above_y2[mx] = left_y2 = int(nz)
                    if nz:
                        any_coeffs = True
                    ytype, first = 0, 1
                else:
                    ytype, first = 3, 0
                for b in range(16):
                    r, c = b >> 2, b & 3
                    ctx = above_y[mx][c] + left_y[r]
                    eob = _decode_coeffs(bd, f.coeff_probs[ytype], first,
                                         ctx, y1dc, y1ac, coeffs[b])
                    nz = eob > first
                    above_y[mx][c] = left_y[r] = int(nz)
                    if nz:
                        any_coeffs = True
                for b in range(4):
                    r, c = b >> 1, b & 1
                    ctx = above_u[mx][c] + left_u[r]
                    eob = _decode_coeffs(bd, f.coeff_probs[2], 0, ctx,
                                         uvdc, uvac, coeffs[16 + b])
                    nz = eob > 0
                    above_u[mx][c] = left_u[r] = int(nz)
                    if nz:
                        any_coeffs = True
                for b in range(4):
                    r, c = b >> 1, b & 1
                    ctx = above_v[mx][c] + left_v[r]
                    eob = _decode_coeffs(bd, f.coeff_probs[2], 0, ctx,
                                         uvdc, uvac, coeffs[20 + b])
                    nz = eob > 0
                    above_v[mx][c] = left_v[r] = int(nz)
                    if nz:
                        any_coeffs = True

            # loop-filter bookkeeping
            if f.seg_enabled:
                lvl = (f.seg_lf[seg] if f.seg_abs
                       else f.filter_level + f.seg_lf[seg])
            else:
                lvl = f.filter_level
            lvl = max(0, min(63, lvl))
            if f.lf_delta_enabled:
                lvl += f.ref_lf_delta[0]  # intra frame
                if mode == B_PRED:
                    lvl += f.mode_lf_delta[0]
                lvl = max(0, min(63, lvl))
            mb_levels[i] = lvl
            mb_skip_lf[i] = (not any_coeffs) and mode != B_PRED

            # ---- reconstruction ----
            by, bx = my * 16, mx * 16
            if has_y2:
                wht = _iwht4x4(coeffs[24].reshape(4, 4))
                for b in range(16):
                    coeffs[b][0] = wht[b >> 2, b & 3]
            if mode == B_PRED:
                sub = f.bmodes[i]
                for b in range(16):
                    r, c = b >> 2, b & 3
                    yy, xx = by + 4 * r, bx + 4 * c
                    if r == 0:
                        A = _sub_row(Y, by - 1, xx, 8, W16)
                    elif c < 3:
                        A = np.concatenate([
                            _sub_row(Y, yy - 1, xx, 4, W16),
                            _sub_row(Y, yy - 1, xx + 4, 4, W16)])
                    else:
                        A = np.concatenate([
                            _sub_row(Y, yy - 1, xx, 4, W16),
                            _sub_row(Y, by - 1, bx + 16, 4, W16)])
                    L = np.array([_sub_pix(Y, yy + k, xx - 1, W16)
                                  for k in range(4)], np.int64)
                    P = _sub_pix(Y, yy - 1, xx - 1, W16)
                    pred = _bpred4(A, L, P, sub[b])
                    res = _residual(coeffs[b])
                    if res is not None:
                        pred = pred + res
                    Y[yy : yy + 4, xx : xx + 4] = np.clip(
                        pred, 0, 255).astype(np.uint8)
            else:
                pred = _pred16_or_8(Y, by, bx, 16, mode)
                out = pred.copy()
                for b in range(16):
                    res = _residual(coeffs[b])
                    if res is not None:
                        r, c = b >> 2, b & 3
                        out[4 * r : 4 * r + 4, 4 * c : 4 * c + 4] += res
                Y[by : by + 16, bx : bx + 16] = np.clip(
                    out, 0, 255).astype(np.uint8)
            # chroma
            cby, cbx = my * 8, mx * 8
            uv_mode = f.uvmodes[i]
            for plane, base in ((U, 16), (V, 20)):
                pred = _pred16_or_8(plane, cby, cbx, 8, uv_mode)
                out = pred.copy()
                for b in range(4):
                    res = _residual(coeffs[base + b])
                    if res is not None:
                        r, c = b >> 1, b & 1
                        out[4 * r : 4 * r + 4, 4 * c : 4 * c + 4] += res
                plane[cby : cby + 8, cbx : cbx + 8] = np.clip(
                    out, 0, 255).astype(np.uint8)

    if f.filter_level > 0:  # libwebp: frame level 0 => no filter at all
        _loop_filter(f, Y, U, V, mb_levels, mb_skip_lf)

    w, h = f.width, f.height
    cw, ch = (w + 1) >> 1, (h + 1) >> 1
    info = {
        "width": w, "height": h, "filter_simple": int(f.filter_simple),
        "filter_level": f.filter_level, "nparts": f.nparts,
        "y_ac_qi": f.y_ac_qi, "seg_enabled": int(f.seg_enabled),
    }
    return Y[:h, :w], U[:ch, :cw], V[:ch, :cw], info


# ---------------------------------------------------------------------------
# YUV -> RGB (libwebp-compatible fixed point + fancy upsampling)
# ---------------------------------------------------------------------------


def _upsample_fancy(C: np.ndarray, h: int, w: int) -> np.ndarray:
    """9-3-3-1 bilinear chroma upsampling to (h, w)."""
    ch, cw = C.shape
    y = np.arange(h)
    x = np.arange(w)
    cy = y >> 1
    cx = x >> 1
    cy2 = np.clip(cy + np.where(y & 1, 1, -1), 0, ch - 1)
    cx2 = np.clip(cx + np.where(x & 1, 1, -1), 0, cw - 1)
    C = C.astype(np.int64)
    main = C[np.ix_(cy, cx)]
    hx = C[np.ix_(cy, cx2)]
    vy = C[np.ix_(cy2, cx)]
    dg = C[np.ix_(cy2, cx2)]
    return (9 * main + 3 * hx + 3 * vy + dg + 8) >> 4


def yuv_to_rgb(Y: np.ndarray, U: np.ndarray, V: np.ndarray) -> np.ndarray:
    h, w = Y.shape
    u = _upsample_fancy(U, h, w)
    v = _upsample_fancy(V, h, w)
    y = Y.astype(np.int64)
    ys = (y * 19077) >> 8
    r = ys + ((v * 26149) >> 8) - 14234
    g = ys - ((u * 6419) >> 8) - ((v * 13320) >> 8) + 8708
    b = ys + ((u * 33050) >> 8) - 17685
    rgb = np.stack([r, g, b], axis=-1) >> 6
    return np.clip(rgb, 0, 255).astype(np.uint8)


def vp8_decode(data: bytes) -> np.ndarray:
    """VP8 key frame -> (h, w, 3) uint8 RGB."""
    Y, U, V, _ = vp8_decode_yuv(data)
    return yuv_to_rgb(Y, U, V)
