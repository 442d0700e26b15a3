"""WebP codec — pure numpy/stdlib container + VP8L (lossless), with
lossy VP8 payloads routed to the RFC 6386 decoder in vp8.py.

The reference's WEBP driver (frmts/webp/webpdataset.cpp) links libwebp
for both VP8 (lossy) and VP8L (lossless) payloads.  Both decode here
without libwebp, ALPH alpha planes included; only animation stays on
the quarantine path (``unsupported_codec``).  The codec registry tries
libwebp first and keeps this decoder as the fallback and oracle.  VP8L
is fully self-contained (all entropy codes are carried in the stream),
so this module re-derives it from the public "WebP Lossless Bitstream
Specification":

  * RIFF container: "RIFF" <size> "WEBP" then chunks; "VP8L" holds the
    lossless stream; "VP8 " is lossy; "VP8X" is the extended container
    whose first sub-chunks may include "VP8L".
  * VP8L header: 0x2f signature, 14-bit width-1 / height-1, alpha
    hint, 3-bit version (0). Bits are read LSB-first.
  * Up to four transforms (predictor / color / subtract-green /
    color-indexing with pixel bundling), inverted in reverse order.
  * Entropy-coded ARGB image: canonical prefix codes (simple and
    normal forms, code-length codes in the order
    17,18,0,1,...,15), optional color cache (hash multiplier
    0x1e35a7bd), optional meta-prefix image selecting one of N
    5-code groups per macro block, and LZ77 backward references whose
    distance codes 1..120 map to a close-neighborhood (dx, dy) table.
    The table is re-derived from its generation rule — the 120 nearest
    offsets with dy>0 or (dy==0, dx>0), ordered by (dx*dx+dy*dy, -dy,
    -dx) — which reproduces the spec's printed list.

The encoder emits valid VP8L with optional subtract-green / predictor
/ color-indexing transforms, optional color cache and optional LZ77
(direct distance codes), giving the decoder full-path roundtrip
coverage; compression is honest Huffman but makes no attempt at
libwebp's rate optimization.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["webp_decode", "webp_encode", "UnsupportedWebPError"]


class UnsupportedWebPError(ValueError):
    """Well-formed WebP this codec does not decode (animation): route
    to quarantine, not to corrupt."""


# --------------------------------------------------------------------------
# bit I/O (LSB-first)
# --------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        v = 0
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("VP8L: bitstream overrun")
        for i in range(n):
            v |= ((self.data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v


class _BitWriter:
    __slots__ = ("buf", "bit", "cur")

    def __init__(self):
        self.buf = bytearray()
        self.bit = 0
        self.cur = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.bit
            self.bit += 1
            if self.bit == 8:
                self.buf.append(self.cur)
                self.cur = 0
                self.bit = 0

    def getvalue(self) -> bytes:
        out = bytes(self.buf) + (bytes([self.cur]) if self.bit else b"")
        return out


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


class _Huffman:
    """Canonical-code decoder built from symbol code lengths."""

    __slots__ = ("single", "map", "minlen", "maxlen")

    def __init__(self, lengths):
        used = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("VP8L: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.map = None
            return
        self.single = None
        # kraft completeness check
        if sum(1 << (15 - ln) for ln, _ in used) != (1 << 15):
            raise ValueError("VP8L: prefix code not complete")
        used.sort()
        self.map = {}
        code = 0
        prev_len = used[0][0]
        self.minlen = prev_len
        for ln, sym in used:
            code <<= ln - prev_len
            prev_len = ln
            self.map[(ln, code)] = sym
            code += 1
        self.maxlen = prev_len

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        while True:
            # canonical codes are MSB-first in value but the stream is
            # LSB-first per bit: accumulate one bit at a time
            code = (code << 1) | br.read(1)
            ln += 1
            if ln >= self.minlen:
                sym = self.map.get((ln, code))
                if sym is not None:
                    return sym
            if ln > 15:
                raise ValueError("VP8L: bad prefix code")


def _build_lengths(freq: dict[int, int], alphabet: int,
                   max_len: int = 15) -> list[int]:
    """Huffman code lengths (canonical, length-limited) from counts."""
    syms = [s for s, c in freq.items() if c > 0]
    if not syms:
        return [0] * alphabet
    if len(syms) == 1:
        out = [0] * alphabet
        out[syms[0]] = 1
        return out
    import heapq

    heap = [(c, i, (s,)) for i, (s, c) in enumerate(sorted(freq.items()))
            if c > 0]
    heapq.heapify(heap)
    depth = dict.fromkeys(syms, 0)
    uid = len(heap)
    while len(heap) > 1:
        c1, _, g1 = heapq.heappop(heap)
        c2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, uid, g1 + g2))
        uid += 1
    if max(depth.values()) > max_len:
        # rare overflow: flatten to fixed lengths (complete by padding
        # with the next power of two)
        n = len(syms)
        bits = max(1, (n - 1).bit_length())
        k = (1 << bits) - n  # symbols that get the shorter code
        out = [0] * alphabet
        ordered = sorted(syms)
        for i, s in enumerate(ordered):
            out[s] = bits - 1 if i < k and bits > 1 else bits
        return out
    out = [0] * alphabet
    for s, d in depth.items():
        out[s] = d
    return out


def _canonical_codes(lengths) -> dict[int, tuple[int, int]]:
    """sym -> (code, len) (codes MSB-first, as the decoder reads).
    A single-symbol code is zero bits (spec: 'coded with zero bits')."""
    used = sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    )
    if len(used) == 1:
        return {used[0][1]: (0, 0)}
    codes = {}
    code = 0
    prev = used[0][0] if used else 0
    for ln, sym in used:
        code <<= ln - prev
        prev = ln
        codes[sym] = (code, ln)
        code += 1
    return codes


def _write_code(bw: _BitWriter, code: int, ln: int) -> None:
    # decoder consumes MSB of the canonical code first
    for i in range(ln - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


# --------------------------------------------------------------------------
# distance mapping
# --------------------------------------------------------------------------


def _plane_codes() -> list[tuple[int, int]]:
    """The 120 close-neighborhood (dx, dy) offsets for distance codes
    1..120 (libwebp kCodeToPlane semantics): the COMPLETE fixed window
    dy in [0, 7], dx in [-7, 8] (excluding non-causal dy==0, dx<=0 —
    exactly 120 cells), ordered by squared distance, then larger dy
    first, then larger dx first.  The window is fixed by the spec, not
    a nearest-N selection: e.g. code 120's offset is (8, 0), which a
    distance-truncated pool would rank after out-of-window cells like
    (0, 8)."""
    cands = []
    for dy in range(0, 8):
        for dx in range(-7, 9):
            if dy > 0 or dx > 0:
                cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    assert len(cands) == 120
    return cands


_PLANE = _plane_codes()


# --------------------------------------------------------------------------
# prefix-coded value helpers (lengths & distances share the scheme)
# --------------------------------------------------------------------------


def _prefix_decode(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value (>=1) -> (code, extra_bits_value, extra_bits_count)."""
    v = value - 1
    if v < 4:
        return v, 0, 0
    bits = v.bit_length() - 1
    code = 2 * bits + ((v >> (bits - 1)) & 1)
    extra = bits - 1
    rest = v & ((1 << extra) - 1)
    return code, rest, extra


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def _read_prefix_code(br: _BitReader, alphabet: int) -> _Huffman:
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_len = 8 if br.read(1) else 1
        s0 = br.read(first_len)
        lengths = [0] * alphabet
        if num_symbols == 1:
            if s0 >= alphabet:
                raise ValueError("VP8L: symbol out of range")
            lengths[s0] = 1
            h = _Huffman.__new__(_Huffman)
            h.single = s0
            h.map = None
            return h
        s1 = br.read(8)
        if s0 >= alphabet or s1 >= alphabet or s0 == s1:
            raise ValueError("VP8L: bad simple code")
        lengths[s0] = lengths[s1] = 1
        return _Huffman(lengths)
    num_codes = 4 + br.read(4)
    clc = [0] * 19
    for i in range(num_codes):
        clc[_CLC_ORDER[i]] = br.read(3)
    clc_huff = _Huffman(clc)
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = []
    prev = 8
    while len(lengths) < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        sym = clc_huff.read(br)
        if sym < 16:
            lengths.append(sym)
            if sym:
                prev = sym
        elif sym == 16:
            lengths.extend([prev] * (3 + br.read(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + br.read(3)))
        else:
            lengths.extend([0] * (11 + br.read(7)))
    lengths = lengths[:alphabet] + [0] * max(0, alphabet - len(lengths))
    return _Huffman(lengths)


def _read_groups(br: _BitReader, cache_size: int, n_groups: int):
    groups = []
    for _ in range(n_groups):
        g = [
            _read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ]
        groups.append(g)
    return groups


def _decode_entropy_image(br: _BitReader, w: int, h: int,
                          level0: bool = False):
    """Spatially-coded ARGB image -> (uint32 array h*w, transforms list
    if level0)."""
    transforms = []
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L: duplicate transform")
            seen.add(ttype)
            transforms.append(_read_transform(br, ttype, w, h))
            if ttype == 3:  # color indexing changes the coded width
                size = transforms[-1][1].shape[0]
                wb = 3 if size <= 2 else 2 if size <= 4 else 1 if size <= 16 else 0
                transforms[-1] = (*transforms[-1], wb, w)
                w = (w + (1 << wb) - 1) >> wb

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("VP8L: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh)
        meta = (((meta_img >> 8) & 0xFFFF)).astype(np.int64)
        n_groups = int(meta.max()) + 1
    groups = _read_groups(br, cache_size, n_groups)

    out = np.zeros(h * w, dtype=np.uint32)
    cache = [0] * cache_size
    npix = h * w
    i = 0
    if meta is not None:
        mw = meta.shape[1]
    while i < npix:
        if meta is None:
            g = groups[0]
        else:
            x, y = i % w, i // w
            g = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        s = g[0].read(br)
        if s < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[i] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            i += 1
        elif s < 256 + 24:
            length = _prefix_decode(s - 256, br)
            dcode = _prefix_decode(g[4].read(br), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _PLANE[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > npix:
                raise ValueError("VP8L: bad backward reference")
            for _ in range(length):
                px = int(out[i - dist])
                out[i] = px
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                i += 1
        else:
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("VP8L: bad cache index")
            out[i] = cache[idx]
            i += 1
    img = out.reshape(h, w)
    if level0:
        return img, transforms
    return img


def _read_transform(br: _BitReader, ttype: int, w: int, h: int):
    if ttype == 2:  # subtract green
        return (2,)
    if ttype in (0, 1):  # predictor / color
        size_bits = br.read(3) + 2
        bw = (w + (1 << size_bits) - 1) >> size_bits
        bh = (h + (1 << size_bits) - 1) >> size_bits
        sub = _decode_entropy_image(br, bw, bh)
        return (ttype, sub, size_bits)
    if ttype == 3:  # color indexing
        n_colors = br.read(8) + 1
        pal_img = _decode_entropy_image(br, n_colors, 1)
        pal = pal_img.reshape(-1)
        # palette entries are delta-coded per channel
        out = np.zeros_like(pal)
        prev = np.uint32(0)
        for i, p in enumerate(pal):
            a = ((p >> 24) + (prev >> 24)) & 0xFF
            r = (((p >> 16) & 0xFF) + ((prev >> 16) & 0xFF)) & 0xFF
            g = (((p >> 8) & 0xFF) + ((prev >> 8) & 0xFF)) & 0xFF
            b = ((p & 0xFF) + (prev & 0xFF)) & 0xFF
            prev = np.uint32((a << 24) | (r << 16) | (g << 8) | b)
            out[i] = prev
        return (3, out)
    raise ValueError("VP8L: bad transform type")


def _avg2(a, b):
    return (a + b) >> 1


def _inv_predictor(img: np.ndarray, sub: np.ndarray, bits: int) -> np.ndarray:
    """Invert the predictor transform in place on the flat uint32 view;
    channel math mod 256. TR of the last column wraps to the first
    pixel of the current row (flat-buffer adjacency, as libwebp/spec)."""
    h, w = img.shape
    flat = img.reshape(-1).astype(np.uint32)
    modes = ((sub >> 8) & 0xFF).astype(np.int64)

    def chans(p):
        return np.array([(p >> 24) & 0xFF, (p >> 16) & 0xFF,
                         (p >> 8) & 0xFF, p & 0xFF], dtype=np.int64)

    def pack(c):
        c = c & 0xFF
        return np.uint32((int(c[0]) << 24) | (int(c[1]) << 16)
                         | (int(c[2]) << 8) | int(c[3]))

    black = np.array([0xFF, 0, 0, 0], dtype=np.int64)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = black
            elif y == 0:
                pred = chans(int(flat[i - 1]))
            elif x == 0:
                pred = chans(int(flat[i - w]))
            else:
                mode = int(modes[y >> bits, x >> bits])
                left = chans(int(flat[i - 1]))
                top = chans(int(flat[i - w]))
                if mode == 0:
                    pred = black
                elif mode == 1:
                    pred = left
                elif mode == 2:
                    pred = top
                elif mode == 3:
                    pred = chans(int(flat[i - w + 1]))
                elif mode == 4:
                    pred = chans(int(flat[i - w - 1]))
                elif mode == 5:
                    tr = chans(int(flat[i - w + 1]))
                    pred = _avg2(_avg2(left, tr), top)
                elif mode == 6:
                    pred = _avg2(left, chans(int(flat[i - w - 1])))
                elif mode == 7:
                    pred = _avg2(left, top)
                elif mode == 8:
                    pred = _avg2(chans(int(flat[i - w - 1])), top)
                elif mode == 9:
                    pred = _avg2(top, chans(int(flat[i - w + 1])))
                elif mode == 10:
                    tl = chans(int(flat[i - w - 1]))
                    tr = chans(int(flat[i - w + 1]))
                    pred = _avg2(_avg2(left, tl), _avg2(top, tr))
                elif mode == 11:
                    tl = chans(int(flat[i - w - 1]))
                    # Select(T, L, TL): pick T when sum|L-TL| <= sum|T-TL|
                    if int(np.abs(left - tl).sum()) <= int(
                        np.abs(top - tl).sum()
                    ):
                        pred = top
                    else:
                        pred = left
                elif mode == 12:
                    tl = chans(int(flat[i - w - 1]))
                    pred = np.clip(left + top - tl, 0, 255)
                elif mode == 13:
                    tl = chans(int(flat[i - w - 1]))
                    ave = _avg2(left, top)
                    d = ave - tl
                    # C-style truncation toward zero for (a - b) / 2
                    half = np.where(d >= 0, d >> 1, -((-d) >> 1))
                    pred = np.clip(ave + half, 0, 255)
                else:
                    raise ValueError("VP8L: bad predictor mode")
            flat[i] = pack(chans(int(flat[i])) + pred)
    return flat.reshape(h, w)


def _to_i8(v):
    v = v.astype(np.int64) & 0xFF
    return np.where(v >= 128, v - 256, v)


def _inv_color_transform(img: np.ndarray, sub: np.ndarray,
                         bits: int) -> np.ndarray:
    h, w = img.shape
    ys = (np.arange(h) >> bits)[:, None]
    xs = (np.arange(w) >> bits)[None, :]
    cte = sub[ys, xs]
    g2r = _to_i8(cte)               # blue byte
    g2b = _to_i8(cte >> 8)          # green byte
    r2b = _to_i8(cte >> 16)         # red byte
    a = (img >> 24) & 0xFF
    r = ((img >> 16) & 0xFF).astype(np.int64)
    g = ((img >> 8) & 0xFF).astype(np.int64)
    b = (img & 0xFF).astype(np.int64)
    g_s = _to_i8(g)
    r = (r + ((g2r * g_s) >> 5)) & 0xFF
    r_s = _to_i8(r)
    b = (b + ((g2b * g_s) >> 5) + ((r2b * r_s) >> 5)) & 0xFF
    return ((a.astype(np.uint32) << 24) | (r.astype(np.uint32) << 16)
            | (g.astype(np.uint32) << 8) | b.astype(np.uint32))


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    a = (img >> 24) & 0xFF
    g = (img >> 8) & 0xFF
    r = (((img >> 16) & 0xFF) + g) & 0xFF
    b = ((img & 0xFF) + g) & 0xFF
    return ((a.astype(np.uint32) << 24) | (r.astype(np.uint32) << 16)
            | (g.astype(np.uint32) << 8) | b.astype(np.uint32))


def _inv_color_indexing(img: np.ndarray, pal: np.ndarray, width_bits: int,
                        true_w: int) -> np.ndarray:
    h = img.shape[0]
    idx = ((img >> 8) & 0xFF).astype(np.int64)
    if width_bits == 0:
        out_idx = idx
    else:
        per = 1 << width_bits
        bpp = 8 >> width_bits
        mask = (1 << bpp) - 1
        cols = []
        for k in range(per):
            cols.append((idx >> (k * bpp)) & mask)
        out_idx = np.stack(cols, axis=-1).reshape(h, -1)[:, :true_w]
    out_idx = np.minimum(out_idx, len(pal) - 1)
    return pal[out_idx]


def vp8l_decode(payload: bytes) -> np.ndarray:
    br = _BitReader(payload)
    if br.read(8) != 0x2F:
        raise ValueError("VP8L: bad signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    _alpha_hint = br.read(1)
    if br.read(3) != 0:
        raise ValueError("VP8L: bad version")
    img, transforms = _decode_entropy_image(br, w, h, level0=True)
    for t in reversed(transforms):
        if t[0] == 2:
            img = _inv_subtract_green(img)
        elif t[0] == 0:
            img = _inv_predictor(img, t[1], t[2])
        elif t[0] == 1:
            img = _inv_color_transform(img, t[1], t[2])
        elif t[0] == 3:
            img = _inv_color_indexing(img, t[1], t[2], t[3])
    a = ((img >> 24) & 0xFF).astype(np.uint8)
    r = ((img >> 16) & 0xFF).astype(np.uint8)
    g = ((img >> 8) & 0xFF).astype(np.uint8)
    b = (img & 0xFF).astype(np.uint8)
    if bool((a != 255).any()):
        return np.stack([r, g, b, a], axis=-1)
    return np.stack([r, g, b], axis=-1)


def _vp8l_decode_raw_argb(payload: bytes, w: int, h: int) -> np.ndarray:
    """Header-less VP8L stream (as used by the ALPH chunk): dimensions
    come from the container, the 0x2f signature/size header is absent."""
    br = _BitReader(payload)
    img, transforms = _decode_entropy_image(br, w, h, level0=True)
    for t in reversed(transforms):
        if t[0] == 2:
            img = _inv_subtract_green(img)
        elif t[0] == 0:
            img = _inv_predictor(img, t[1], t[2])
        elif t[0] == 1:
            img = _inv_color_transform(img, t[1], t[2])
        elif t[0] == 3:
            img = _inv_color_indexing(img, t[1], t[2], t[3])
    return img


def alph_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    """WebP container-spec ALPH chunk -> (h, w) uint8 alpha plane.

    Header byte: rsv(2) P(2 preprocessing, decode no-op) F(2 filtering)
    C(2 compression: 0 raw, 1 header-less VP8L with alpha in the green
    channel); filters are the per-pixel left/above/gradient predictors,
    un-applied row-major."""
    if not payload:
        raise ValueError("ALPH: empty chunk")
    b0 = payload[0]
    comp = b0 & 3
    filt = (b0 >> 2) & 3
    if comp == 0:
        if len(payload) < 1 + w * h:
            raise ValueError("ALPH: truncated raw alpha")
        alpha = np.frombuffer(payload, np.uint8, w * h, 1).reshape(h, w)
        alpha = alpha.astype(np.int64)
    elif comp == 1:
        img = _vp8l_decode_raw_argb(payload[1:], w, h)
        alpha = ((img >> 8) & 0xFF).astype(np.int64)
    else:
        raise ValueError("ALPH: reserved compression method")
    if filt == 0:
        return alpha.astype(np.uint8)
    out = np.zeros((h, w), np.int64)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0
            elif filt == 1:  # horizontal
                pred = out[y, x - 1] if x > 0 else out[y - 1, 0]
            elif filt == 2:  # vertical
                pred = out[y - 1, x] if y > 0 else out[0, x - 1]
            else:  # gradient
                if y == 0:
                    pred = out[0, x - 1]
                elif x == 0:
                    pred = out[y - 1, 0]
                else:
                    g = (out[y, x - 1] + out[y - 1, x]
                         - out[y - 1, x - 1])
                    pred = 0 if g < 0 else (255 if g > 255 else g)
            out[y, x] = (alpha[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def image_chunk(data: bytes) -> tuple[bytes, bytes, bytes | None]:
    """The chunk webp_decode decodes: (fourcc ``VP8 ``/``VP8L``, its
    payload, the payload of the last ALPH chunk before it or None).
    Raises what webp_decode raises on the container itself."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF) file")
    pos = 12
    alph = None
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + size]
        if fourcc in (b"VP8L", b"VP8 "):
            return fourcc, payload, alph
        if fourcc in (b"ANIM", b"ANMF"):
            raise UnsupportedWebPError("WebP animation not decoded")
        if fourcc == b"ALPH":
            alph = payload
        # VP8X and metadata chunks: skip to the next chunk (padded to 2)
        pos += 8 + size + (size & 1)
    raise ValueError("WebP: no image chunk found")


def webp_decode(data: bytes) -> np.ndarray:
    fourcc, payload, alph = image_chunk(bytes(data))
    if fourcc == b"VP8L":
        return vp8l_decode(payload)
    from gdal_spark.functions.vp8 import vp8_decode

    rgb = vp8_decode(payload)
    if alph is None:
        return rgb
    h, w = rgb.shape[:2]
    return np.dstack([rgb, alph_decode(alph, w, h)])


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def _write_prefix_code(bw: _BitWriter, lengths, alphabet: int):
    used = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
    if 1 <= len(used) <= 2 and all(s < 256 for s, _ in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        s0 = used[0][0]
        if s0 < 2 and len(used) == 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(used) == 2:
            bw.write(used[1][0], 8)
        return
    bw.write(0, 1)
    # code-length code over the length symbols actually used (no
    # repeat codes: literals only, trailing zeros dropped)
    last_nz = max(s for s, ln in enumerate(lengths) if ln > 0)
    seq = list(lengths[: last_nz + 1])
    if len(seq) == 1:
        seq.append(0)  # max_symbol's explicit form needs >= 2 entries
    freq: dict[int, int] = {}
    for v in seq:
        freq[v] = freq.get(v, 0) + 1
    clc_lengths = _build_lengths(freq, 19, max_len=7)
    # emit in _CLC_ORDER, enough entries to cover every used symbol
    need = 0
    for i, sym in enumerate(_CLC_ORDER):
        if clc_lengths[sym] > 0:
            need = i + 1
    num_codes = max(4, need)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(clc_lengths[_CLC_ORDER[i]], 3)
    codes = _canonical_codes(clc_lengths)
    # max_symbol: use the explicit form so trailing zeros need not be
    # emitted
    if len(seq) < alphabet:
        bw.write(1, 1)
        length_nbits = 14  # 2 + 2*6
        bw.write(6, 3)
        bw.write(len(seq) - 2, length_nbits)
    else:
        bw.write(0, 1)
    for v in seq:
        c, ln = codes[v]
        _write_code(bw, c, ln)


def _tokenize(argb: np.ndarray, cache_bits: int, use_lz77: bool):
    """Greedy run-length LZ77 (dist=1 and dist=width runs via DIRECT
    distance codes) + optional color cache."""
    flat = argb.reshape(-1)
    w = argb.shape[1]
    npix = flat.shape[0]
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    tokens = []
    i = 0
    while i < npix:
        if use_lz77 and i > 0:
            # run of the previous pixel?
            run = 0
            while i + run < npix and flat[i + run] == flat[i - 1] and run < 4096:
                run += 1
            if run >= 3:
                lcode, lx, lxb = _prefix_encode(run)
                dcode, dx, dxb = _prefix_encode(1 + 120)
                tokens.append(("ref", (lcode, lx, lxb, dcode, dx, dxb)))
                if cache_size:
                    px = int(flat[i - 1])
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                i += run
                continue
            if i >= w:
                run = 0
                while (i + run < npix and flat[i + run] == flat[i + run - w]
                       and run < 4096):
                    run += 1
                if run >= 3:
                    lcode, lx, lxb = _prefix_encode(run)
                    dcode, dx, dxb = _prefix_encode(w + 120)
                    tokens.append(("ref", (lcode, lx, lxb, dcode, dx, dxb)))
                    if cache_size:
                        for k in range(i, i + run):
                            px = int(flat[k])
                            cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                                  >> (32 - cache_bits)] = px
                    i += run
                    continue
        px = int(flat[i])
        if cache_size:
            idx = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = px
        tokens.append(
            ("lit", (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF,
             px & 0xFF)
        )
        i += 1
    return tokens


def _fwd_subtract_green(argb: np.ndarray) -> np.ndarray:
    a = (argb >> 24) & 0xFF
    g = (argb >> 8) & 0xFF
    r = (((argb >> 16) & 0xFF) - g) & 0xFF
    b = ((argb & 0xFF) - g) & 0xFF
    return ((a.astype(np.uint32) << 24) | (r.astype(np.uint32) << 16)
            | (g.astype(np.uint32) << 8) | b.astype(np.uint32))


def _fwd_predictor(argb: np.ndarray, mode: int, bits: int):
    """Forward predictor with one fixed mode for every block."""
    h, w = argb.shape
    inv = _inv_predictor  # noqa: F841  (doc anchor)
    flat = argb.reshape(-1).astype(np.int64)
    res = np.zeros_like(flat)

    def chans(p):
        return np.array([(p >> 24) & 0xFF, (p >> 16) & 0xFF,
                         (p >> 8) & 0xFF, p & 0xFF], dtype=np.int64)

    def pack(c):
        c = c & 0xFF
        return (int(c[0]) << 24) | (int(c[1]) << 16) | (int(c[2]) << 8) | int(c[3])

    black = np.array([0xFF, 0, 0, 0], dtype=np.int64)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = black
            elif y == 0:
                pred = chans(int(flat[i - 1]))
            elif x == 0:
                pred = chans(int(flat[i - w]))
            elif mode == 1:
                pred = chans(int(flat[i - 1]))
            elif mode == 2:
                pred = chans(int(flat[i - w]))
            elif mode == 7:
                pred = _avg2(chans(int(flat[i - 1])), chans(int(flat[i - w])))
            else:
                raise ValueError("encoder supports predictor modes 1/2/7")
            res[i] = pack(chans(int(flat[i])) - pred)
    bw_ = (w + (1 << bits) - 1) >> bits
    bh_ = (h + (1 << bits) - 1) >> bits
    sub = np.full((bh_, bw_), np.uint32(0xFF000000 | (mode << 8)),
                  dtype=np.uint32)
    return res.astype(np.uint32).reshape(h, w), sub


def _write_entropy_image(bw: _BitWriter, img: np.ndarray) -> None:
    """Subimage writer (transform data / palette): no color cache, no
    meta bit (the decoder reads neither transforms nor the meta flag at
    sub level, only the cache bit)."""
    bw.write(0, 1)  # no color cache
    tokens = _tokenize(img, 0, use_lz77=False)
    _entropy_encode_body(bw, tokens, 0)


def vp8l_encode(argb: np.ndarray, subtract_green: bool = True,
                predictor: int | None = None, palette: bool = False,
                cache_bits: int = 0, use_lz77: bool = True) -> bytes:
    h, w = argb.shape
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("VP8L: image too large")
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    has_alpha = bool((((argb >> 24) & 0xFF) != 255).any())
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)

    img = argb.astype(np.uint32)
    if palette:
        colors, inv_idx = np.unique(img.reshape(-1), return_inverse=True)
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 colors")
        size = len(colors)
        wb = 3 if size <= 2 else 2 if size <= 4 else 1 if size <= 16 else 0
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(size - 1, 8)
        # delta-coded palette as a size x 1 entropy image
        deltas = np.zeros(size, dtype=np.uint32)
        prev = 0
        for i, c in enumerate(colors):
            c = int(c)
            da = ((c >> 24) - (prev >> 24)) & 0xFF
            dr = (((c >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF
            dg = (((c >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF
            db = ((c & 0xFF) - (prev & 0xFF)) & 0xFF
            deltas[i] = (da << 24) | (dr << 16) | (dg << 8) | db
            prev = c
        _write_entropy_image(bw, deltas.reshape(1, size))
        idx = inv_idx.reshape(h, w).astype(np.uint32)
        if wb:
            per = 1 << wb
            bpp = 8 >> wb
            packed_w = (w + per - 1) // per
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            for k in range(per):
                col = idx[:, k::per]
                packed[:, : col.shape[1]] |= col << (k * bpp)
            idx = packed
            w = packed_w
        img = np.uint32(0xFF000000) | (idx << np.uint32(8))
        bw.write(0, 1)  # no more transforms
    else:
        # transforms are written in the order they are applied forward;
        # the decoder inverts them in reverse read order
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            img = _fwd_subtract_green(img)
        if predictor is not None:
            bits = 4
            res, sub = _fwd_predictor(img, predictor, bits)
            bw.write(1, 1)
            bw.write(0, 2)  # predictor transform
            bw.write(bits - 2, 3)
            _write_entropy_image(bw, sub)
            img = res
        bw.write(0, 1)  # end of transforms

    # main image: color cache bit + (no) meta prefix + codes + pixels
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta prefix image
    tokens = _tokenize(img, cache_bits, use_lz77)
    # _entropy_encode writes the cache bit itself; rewind by writing the
    # token stream with a dedicated path instead
    _entropy_encode_body(bw, tokens, cache_size)
    return bw.getvalue()


def _entropy_encode_body(bw: _BitWriter, tokens, cache_size: int) -> None:
    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            gfreq[g] = gfreq.get(g, 0) + 1
            rfreq[r] = rfreq.get(r, 0) + 1
            bfreq[b] = bfreq.get(b, 0) + 1
            afreq[a] = afreq.get(a, 0) + 1
        elif t[0] == "ref":
            lcode = t[1][0]
            dcode = t[1][3]
            gfreq[256 + lcode] = gfreq.get(256 + lcode, 0) + 1
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
        else:
            gfreq[256 + 24 + t[1]] = gfreq.get(256 + 24 + t[1], 0) + 1
    galpha = 256 + 24 + cache_size
    for freq in (gfreq, rfreq, bfreq, afreq, dfreq):
        if not freq:
            freq[0] = 1
    glens = _build_lengths(gfreq, galpha)
    rlens = _build_lengths(rfreq, 256)
    blens = _build_lengths(bfreq, 256)
    alens = _build_lengths(afreq, 256)
    dlens = _build_lengths(dfreq, 40)
    for lens, alpha in [(glens, galpha), (rlens, 256), (blens, 256),
                        (alens, 256), (dlens, 40)]:
        _write_prefix_code(bw, lens, alpha)
    gc = _canonical_codes(glens)
    rc = _canonical_codes(rlens)
    bc = _canonical_codes(blens)
    ac = _canonical_codes(alens)
    dc = _canonical_codes(dlens)
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            _write_code(bw, *gc[g])
            _write_code(bw, *rc[r])
            _write_code(bw, *bc[b])
            _write_code(bw, *ac[a])
        elif t[0] == "ref":
            lcode, lx, lxbits, dcode, dx, dxbits = t[1]
            _write_code(bw, *gc[256 + lcode])
            bw.write(lx, lxbits)
            _write_code(bw, *dc[dcode])
            bw.write(dx, dxbits)
        else:
            _write_code(bw, *gc[256 + 24 + t[1]])


def _to_argb(arr: np.ndarray) -> np.ndarray:
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    arr = arr.astype(np.uint32)
    if arr.shape[-1] == 3:
        a = np.full(arr.shape[:2], 255, dtype=np.uint32)
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    else:
        r, g, b, a = (arr[..., 0], arr[..., 1], arr[..., 2], arr[..., 3])
    return (a << 24) | (r << 16) | (g << 8) | b


def webp_encode(arr: np.ndarray, **opts) -> bytes:
    """RIFF-wrapped VP8L of a gray / RGB / RGBA uint8 array."""
    payload = vp8l_encode(_to_argb(arr), **opts)
    if len(payload) & 1:
        payload += b"\x00"
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
