"""BSB/KAP nautical raster charts (frmts/bsb/bsb_read.c, bsbdataset.cpp).

Layout per the reference transcription:

  * ASCII header: ``TOK/field,field,...`` lines, continuation lines
    merged; ``BSB/`` carries ``RA=w,h`` (``NOS/`` offsets RA by 2
    fields), ``RGB/i,r,g,b`` builds the palette, ``VER/`` the version
    (bsb_read.c:248-360);
  * header ends at the 0x1A 0x00 sentinel (junk-skip up to 100 bytes),
    then one byte nColorSize (ASCII-digit tolerated, :421-428);
  * each scanline: a 7-bit big-endian line marker (value*128 + low7,
    continue while 0x80 — 1-based for version >= 2.0), then RLE
    tokens: value = (byte & valueMask) >> (7-colorsize), run count =
    low bits, extended while 0x80 (count = count*128 + low7), run
    emits count+1 pixels, 0x00 terminates the row (:BSBReadScanline);
  * one-pixel-short rows are zero-padded (the 354704.KAP quirk);
  * the file tail holds an index table: int32 BE offsets per row, the
    last int32 BE points at the table (:470-546); NO1 files add 9 to
    every byte (BSBGetc :141).

Scale shape: the index table turns a chart into row-offset ranges, so
a distributed scan assigns each task a row slice and byte range — the
same contract as the tiled formats.
"""

from __future__ import annotations

import struct

import numpy as np

_EXPECTED_MARKER_OK = True


def _getc(data, pos, no1):
    b = data[pos]
    if no1:
        b = (b - 9) % 256
    return b, pos + 1


def parse_header(data: bytes) -> dict:
    no1 = data[:9].find(b"NOS/") == 9 or data[9:13] == b"NOS/"
    # header text ends at 0x1A 0x00 (possibly after junk)
    raw = bytes((b - 9) % 256 for b in data[:65536]) if no1 else data
    # merge physical lines: a header line TOK/... may wrap; GDAL merges
    # continuation lines starting with spaces
    end = raw.find(b"\x1a")
    text = raw[: end if end >= 0 else len(raw)].decode(
        "ascii", errors="replace"
    )
    lines: list[str] = []
    for ln in text.splitlines():
        if ln[:4].find("/") == 3 or not lines:
            lines.append(ln)
        else:
            lines[-1] += ln.strip()
    info = {"xsize": None, "ysize": None, "pct": {}, "version": 200,
            "no1": no1}
    for ln in lines:
        if len(ln) > 3 and ln[3] == "/":
            tok, rest = ln[:3].upper(), ln[4:]
            fields = [f.strip() for f in rest.replace("=", ",").split(",")]
            if tok == "BSB" or tok == "NOS":
                shift = 1 if tok == "BSB" else 3
                for i, f in enumerate(fields):
                    if f.upper() == "RA":
                        info["xsize"] = int(fields[i + shift])
                        info["ysize"] = int(fields[i + shift + 1])
            elif tok == "RGB" and len(fields) >= 4:
                info["pct"][int(fields[0])] = (
                    int(fields[1]), int(fields[2]), int(fields[3])
                )
            elif tok == "VER":
                info["version"] = int(round(100 * float(fields[0])))
    if info["xsize"] is None:
        raise ValueError("BSB: no RA= in header")
    # locate 0x1A 0x00 with the junk-skip rule
    pos = 0
    skipped = 0
    while skipped < 100 + (end if end > 0 else 0):
        b, pos2 = _getc(data, pos, no1)
        if b == 0x1A:
            b2, pos3 = _getc(data, pos2, no1)
            if b2 == 0x00:
                pos = pos3
                break
        pos = pos2
        skipped += 1
    else:
        raise ValueError("BSB: no data sentinel")
    csize, pos = _getc(data, pos, no1)
    if csize >= 0x31 and csize <= 0x38:
        csize -= 0x30
    if not (0 < csize <= 7):
        raise ValueError(f"BSB: bad colorsize {csize}")
    info["colorsize"] = csize
    info["data_start"] = pos
    return info


def line_offsets(data: bytes, info: dict) -> list[int]:
    """Per-row data offsets from the tail index table; falls back to a
    sequential scan when the table is invalid (bsb_read.c:470-575)."""
    ysize = info["ysize"]
    n = len(data)
    (tbl_off,) = struct.unpack(">i", data[n - 4 :])
    if info["data_start"] < tbl_off <= n - 4 - 4 * (ysize - 1):
        if tbl_off + 4 * (ysize - 1) == n - 4:
            ysize = info["ysize"] = ysize - 1
        if tbl_off + 4 * ysize <= n - 4:
            offs = list(
                struct.unpack(f">{ysize}i", data[tbl_off : tbl_off + 4 * ysize])
            )
            ok = all(
                info["data_start"] <= o < tbl_off for o in offs
            )
            if ok:
                return offs
    # sequential: decode each row to find the next
    offs = []
    pos = info["data_start"]
    for row in range(ysize):
        offs.append(pos)
        _, pos = decode_row(data, pos, info, row)
    return offs


def _rle_fill(data, pos, info, out, i):
    """RLE tokens until a 0x00 terminator (one do-while iteration of
    BSBReadScanline). Returns (i, pos, hit_end)."""
    no1 = info["no1"]
    xsize = info["xsize"]
    csize = info["colorsize"]
    vshift = 7 - csize
    vmask = ((1 << csize) - 1) << vshift
    cmask = (1 << vshift) - 1
    while pos < len(data):
        b, pos = _getc(data, pos, no1)
        if b == 0:
            return i, pos, False
        val = (b & vmask) >> vshift
        count = b & cmask
        while b & 0x80 and pos < len(data):
            b, pos = _getc(data, pos, no1)
            count = count * 128 + (b & 0x7F)
        if i + count + 1 > xsize:
            count = xsize - i - 1
        if count >= 0:
            out[i : i + count + 1] = val
            i += count + 1
    return i, pos, True


def _check_marker(data, pos, info, row):
    """BSBSeekAndCheckScanlineNumber: marker at pos must be row or
    row+1 (1-based from v2.0). Returns (ok, pos_after_marker)."""
    no1 = info["no1"]
    marker = 0
    first = True
    while pos < len(data):
        b, pos = _getc(data, pos, no1)
        # skip-extra-zeros hack (optech/sample1.kap)
        while row != 0 and marker == 0 and b == 0 and pos < len(data):
            b, pos = _getc(data, pos, no1)
        first = False
        marker = marker * 128 + (b & 0x7F)
        if not b & 0x80:
            return marker in (row, row + 1), pos
    return False, pos


def decode_row(data: bytes, pos: int, info: dict, row: int,
               next_known: int | None = None):
    """One scanline with the reference's refill semantics
    (BSBReadScanline do-while). Returns (pixels, new_pos)."""
    xsize = info["xsize"]
    ysize = info["ysize"]
    ok, pos = _check_marker(data, pos, info, row)
    if not ok:
        raise ValueError(f"BSB: bad scanline marker for row {row}")
    out = np.zeros(xsize, dtype=np.uint8)
    i = 0
    while True:
        i, pos, hit_end = _rle_fill(data, pos, info, out, i)
        if hit_end and i < xsize:
            raise ValueError("BSB: truncated scanline data")
        if i == xsize - 1:
            out[i] = 0
            i += 1
        elif i < xsize and row != ysize - 1 and next_known is None:
            # peek: are the next bytes the next line marker?
            ok2, _ = _check_marker(data, pos, info, row + 1)
            if ok2:
                break  # genuine short row; next line starts here
            # else: the bytes continue THIS row
        if not (
            i < xsize
            and (
                row == ysize - 1
                or next_known is None
                or pos < next_known
            )
        ):
            break
    # remaining pixels stay zero
    return out, pos


def bsb_decode(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """KAP bytes -> (index band uint8 (h, w), palette (n, 3) uint8)."""
    info = parse_header(data)
    offs = line_offsets(data, info)
    h, w = info["ysize"], info["xsize"]
    out = np.zeros((h, w), dtype=np.uint8)
    for row, off in enumerate(offs):
        nxt = offs[row + 1] if row + 1 < len(offs) else None
        pixels, _ = decode_row(data, off, info, row, next_known=nxt)
        out[row] = pixels
    # BSB indices are 1-based; 0 marks missing values. The reference
    # band shifts nonzero indices down by one (bsbdataset.cpp
    # IReadBlock) and the color table follows.
    out = np.where(out > 0, out - 1, out).astype(np.uint8)
    n = max(info["pct"]) if info["pct"] else 0
    pct = np.zeros((n, 3), dtype=np.uint8)
    for i, rgb in info["pct"].items():
        if i >= 1:
            pct[i - 1] = rgb
    return out, pct


def bsb_encode(idx: np.ndarray, pct: np.ndarray) -> bytes:
    """Minimal conforming KAP writer (version 3.0, index table)."""
    h, w = idx.shape
    ncolors = len(pct)
    # stored values are 1-based (index 0 = missing), so the stream needs
    # ncolors+1 distinct codes
    csize = max(1, int(np.ceil(np.log2(max(ncolors + 1, 2)))))
    lines = [
        "! Created by gdal_spark",
        "VER/3.0",
        f"BSB/NA=chart,NU=,RA={w},{h},DU=254",
    ]
    for i in range(ncolors):
        lines.append(f"RGB/{i + 1},{pct[i][0]},{pct[i][1]},{pct[i][2]}")
    head = ("\r\n".join(lines) + "\r\n").encode("ascii")
    out = bytearray(head)
    out += b"\x1a\x00"
    out.append(csize)
    vshift = 7 - csize
    max_count0 = (1 << vshift) - 1
    offsets = []

    def marker_bytes(m):
        bs = [m & 0x7F]
        m >>= 7
        while m:
            bs.append((m & 0x7F) | 0x80)
            m >>= 7
        return bytes(reversed(bs))

    for row in range(h):
        offsets.append(len(out))
        out += marker_bytes(row + 1)
        r = idx[row].astype(np.int32) + 1  # back to the 1-based stream
        i = 0
        while i < w:
            j = i
            while j < w and r[j] == r[i]:
                j += 1
            count = j - i - 1
            val = int(r[i]) << vshift
            if count <= max_count0:
                out.append(val | count)
            else:
                # extended count: first byte holds the top bits
                parts = []
                c = count
                parts.append(c & 0x7F)
                c >>= 7
                while c > max_count0:
                    parts.append((c & 0x7F) | 0x80)
                    c >>= 7
                out.append(val | c | 0x80)
                for p in reversed(parts):
                    out.append(p)
            i = j
        out.append(0)
    tbl = len(out)
    for o in offsets:
        out += struct.pack(">i", o)
    out += struct.pack(">i", tbl)
    return bytes(out)
