"""XLS (Excel 97-2003 BIFF8) reader
(ogr/ogrsf_frmts/xls delegates to freexl; this is a pure-python
re-derivation of the public OLE2 + BIFF8 formats).

OLE2 compound file: 512-byte header (D0CF11E0 magic), FAT sector
chains, directory entries (64-char UTF-16 names), mini-stream for
streams < 4096 bytes. The Workbook/Book stream holds BIFF8 records
(u2 opcode, u2 length): BOF/EOF bracket substreams, BOUNDSHEET names
sheets, SST carries shared strings, LABELSST/NUMBER/RK/MULRK/BOOLERR/
LABEL carry cell values, FORMAT + XF map cells to number formats
(date/datetime detection via the builtin 14..22 ids and d/m/y/h
format codes, serial dates on the 1899-12-30 epoch).

Layer semantics follow the reference driver: first row = headers
(unless disabled), column types inferred per column (integer, real,
string, date, datetime)."""

from __future__ import annotations

import datetime as _dt
import struct

import numpy as np

__all__ = ["xls_read"]

OLE_MAGIC = bytes.fromhex("d0cf11e0a1b11ae1")
FREE, ENDOFCHAIN = 0xFFFFFFFF, 0xFFFFFFFE


def _ole_stream(data: bytes, name_want: str) -> bytes:
    if data[:8] != OLE_MAGIC:
        raise ValueError("not an OLE2 compound file")
    sector_shift, mini_shift = struct.unpack_from("<HH", data, 30)
    ssz, msz = 1 << sector_shift, 1 << mini_shift
    num_fat = struct.unpack_from("<I", data, 44)[0]
    dir_start = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    minifat_start, num_minifat = struct.unpack_from("<II", data, 60)
    difat_start, num_difat = struct.unpack_from("<II", data, 68)

    difat = list(struct.unpack_from("<109I", data, 76))
    sec = difat_start
    for _ in range(num_difat):
        if sec in (FREE, ENDOFCHAIN):
            break
        off = 512 + sec * ssz
        vals = struct.unpack_from(f"<{ssz // 4}I", data, off)
        difat.extend(vals[:-1])
        sec = vals[-1]
    fat: list[int] = []
    for sec in difat[:num_fat]:
        if sec in (FREE, ENDOFCHAIN):
            continue
        fat.extend(struct.unpack_from(f"<{ssz // 4}I", data,
                                      512 + sec * ssz))

    def chain(start: int) -> bytes:
        out = bytearray()
        s = start
        seen = 0
        while s not in (FREE, ENDOFCHAIN) and seen < len(fat) + 2:
            out.extend(data[512 + s * ssz:512 + (s + 1) * ssz])
            s = fat[s] if s < len(fat) else ENDOFCHAIN
            seen += 1
        return bytes(out)

    directory = chain(dir_start)
    minifat: list[int] = []
    s = minifat_start
    for _ in range(num_minifat):
        if s in (FREE, ENDOFCHAIN):
            break
        minifat.extend(struct.unpack_from(f"<{ssz // 4}I", data,
                                          512 + s * ssz))
        s = fat[s] if s < len(fat) else ENDOFCHAIN

    root_start = struct.unpack_from("<I", directory, 0x74)[0]
    ministream = chain(root_start)

    def mini_chain(start: int, size: int) -> bytes:
        out = bytearray()
        s = start
        while s not in (FREE, ENDOFCHAIN) and len(out) < size + msz:
            out.extend(ministream[s * msz:(s + 1) * msz])
            s = minifat[s] if s < len(minifat) else ENDOFCHAIN
        return bytes(out[:size])

    for off in range(0, len(directory) - 127, 128):
        nlen = struct.unpack_from("<H", directory, off + 64)[0]
        if nlen < 2:
            continue
        name = directory[off:off + nlen - 2].decode("utf-16-le",
                                                    "replace")
        if name.lstrip("\x00\x01\x05") != name_want:
            continue
        start, size = struct.unpack_from("<II", directory, off + 116)
        if size < mini_cutoff:
            return mini_chain(start, size)
        return chain(start)[:size]
    raise ValueError(f"OLE2 stream {name_want!r} not found")


_DATE_BUILTINS = {14, 15, 16, 17, 45, 46, 47}
_DATETIME_BUILTINS = {22}
_TIME_BUILTINS = {18, 19, 20, 21}


def _fmt_kind(code: str) -> str | None:
    c = code.lower().replace("\\", "")
    c = "".join(ch for ch in c if ch not in '"[]')
    has_date = any(t in c for t in ("yy", "dd", "mmm")) or (
        "d" in c and "m" in c)
    has_time = "h" in c or "ss" in c
    if has_date and has_time:
        return "datetime"
    if has_date:
        return "date"
    if has_time:
        return "time"
    return None


def _serial_to_dt(v: float) -> _dt.datetime:
    return (_dt.datetime(1899, 12, 30)
            + _dt.timedelta(days=float(v)))


def _rk_value(rk: int) -> float:
    div100 = rk & 1
    is_int = rk & 2
    if is_int:
        v = float(np.int32(rk) >> 2)
    else:
        v = struct.unpack("<d", struct.pack(
            "<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return v / 100.0 if div100 else v


class _SSTReader:
    """Cursor over the SST body plus its CONTINUE record bodies.

    BIFF8 XLUnicodeRichExtendedString continuation rules ([MS-XLS]
    2.5.293, mirrored by the reference's freexl-based driver): records
    split only at whole-string or character boundaries (or inside
    rgRun/ExtRst byte data); when the split lands inside the character
    array, the continuation's first byte is a fresh fHighByte flag that
    may differ from the string's original flags.
    """

    def __init__(self, segments: list[bytes]):
        self.segs = [s for s in segments if s]
        self.i = 0
        self.pos = 0

    def _avail(self) -> int:
        if self.i >= len(self.segs):
            return 0
        return len(self.segs[self.i]) - self.pos

    def _advance(self) -> None:
        self.i += 1
        self.pos = 0

    def read(self, n: int) -> bytes:
        """Raw bytes spanning segment boundaries (headers, rgRun,
        ExtRst — no flag byte at the boundary)."""
        out = bytearray()
        while n > 0:
            avail = self._avail()
            if avail == 0:
                if self.i >= len(self.segs):
                    raise ValueError("xls: SST truncated")
                self._advance()
                continue
            take = min(n, avail)
            seg = self.segs[self.i]
            out += seg[self.pos:self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def read_chars(self, ln: int, high: bool) -> str:
        """ln characters; at each mid-string segment boundary the next
        segment opens with a new fHighByte flag byte."""
        out = []
        while ln > 0:
            avail = self._avail()
            if avail == 0:
                if self.i + 1 >= len(self.segs):
                    raise ValueError("xls: SST string truncated")
                self._advance()
                high = bool(self.segs[self.i][0] & 1)
                self.pos = 1
                avail = self._avail()
            width = 2 if high else 1
            nch = min(ln, avail // width)
            if nch == 0:
                # odd byte left before the boundary (can't happen for
                # valid files: splits are at character boundaries)
                raise ValueError("xls: SST split inside a character")
            seg = self.segs[self.i]
            chunk = seg[self.pos:self.pos + nch * width]
            out.append(chunk.decode("utf-16-le" if high else "latin-1"))
            self.pos += nch * width
            ln -= nch
        return "".join(out)


def _sst_strings(payload: bytes,
                 continues: list[bytes] | None = None) -> list[str]:
    """Parse an SST record body plus any CONTINUE (0x003C) bodies."""
    rd = _SSTReader([payload] + list(continues or []))
    total, unique = struct.unpack("<II", rd.read(8))
    out = []
    for _ in range(unique):
        ln, flags = struct.unpack("<HB", rd.read(3))
        rich = 0
        ext = 0
        if flags & 8:
            rich = struct.unpack("<H", rd.read(2))[0]
        if flags & 4:
            ext = struct.unpack("<I", rd.read(4))[0]
        out.append(rd.read_chars(ln, bool(flags & 1)))
        rd.read(4 * rich + ext)
    return out


def xls_read(data: bytes, headers: bool = True) -> dict:
    """-> {sheet name: {"fields": [(name, type)], "rows": [dict]}}."""
    try:
        wb = _ole_stream(data, "Workbook")
    except ValueError:
        wb = _ole_stream(data, "Book")

    # global pass: sheets, SST, formats, XFs
    sheets: list[tuple[int, str]] = []
    sst: list[str] = []
    formats: dict[int, str] = {}
    xf_fmt: list[int] = []
    pos = 0
    while pos + 4 <= len(wb):
        op, ln = struct.unpack_from("<HH", wb, pos)
        body = wb[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if op == 0x0085:  # BOUNDSHEET
            off = struct.unpack_from("<I", body, 0)[0]
            nlen, flags = body[6], body[7]
            if flags & 1:
                name = body[8:8 + 2 * nlen].decode("utf-16-le")
            else:
                name = body[8:8 + nlen].decode("latin-1")
            sheets.append((off, name))
        elif op == 0x00FC:  # SST (+ immediately following CONTINUEs)
            cont = []
            while pos + 4 <= len(wb):
                op2, ln2 = struct.unpack_from("<HH", wb, pos)
                if op2 != 0x003C:
                    break
                cont.append(wb[pos + 4:pos + 4 + ln2])
                pos += 4 + ln2
            sst = _sst_strings(body, cont)
        elif op == 0x041E:  # FORMAT
            idx = struct.unpack_from("<H", body, 0)[0]
            nlen = struct.unpack_from("<H", body, 2)[0]
            flags = body[4]
            if flags & 1:
                formats[idx] = body[5:5 + 2 * nlen].decode("utf-16-le")
            else:
                formats[idx] = body[5:5 + nlen].decode("latin-1")
        elif op == 0x00E0:  # XF
            xf_fmt.append(struct.unpack_from("<H", body, 2)[0])

    def xf_kind(ixf: int) -> str | None:
        if ixf >= len(xf_fmt):
            return None
        ifmt = xf_fmt[ixf]
        if ifmt in _DATETIME_BUILTINS:
            return "datetime"
        if ifmt in _DATE_BUILTINS:
            return "date"
        if ifmt in _TIME_BUILTINS:
            return "time"
        if ifmt in formats:
            return _fmt_kind(formats[ifmt])
        return None

    out: dict[str, dict] = {}
    for off, name in sheets:
        cells: dict[tuple[int, int], object] = {}
        pos = off
        depth = 0
        while pos + 4 <= len(wb):
            op, ln = struct.unpack_from("<HH", wb, pos)
            body = wb[pos + 4:pos + 4 + ln]
            pos += 4 + ln
            if op == 0x0809:  # BOF
                depth += 1
            elif op == 0x000A:  # EOF
                depth -= 1
                if depth <= 0:
                    break
            elif op == 0x00FD:  # LABELSST
                r, c, ixf, isst = struct.unpack_from("<HHHI", body, 0)
                cells[(r, c)] = sst[isst] if isst < len(sst) else ""
            elif op == 0x0203:  # NUMBER
                r, c, ixf = struct.unpack_from("<HHH", body, 0)
                (v,) = struct.unpack_from("<d", body, 6)
                cells[(r, c)] = _typed_num(v, xf_kind(ixf))
            elif op == 0x027E:  # RK
                r, c, ixf = struct.unpack_from("<HHH", body, 0)
                (rk,) = struct.unpack_from("<i", body, 6)
                cells[(r, c)] = _typed_num(_rk_value(rk), xf_kind(ixf))
            elif op == 0x00BD:  # MULRK
                r, c0 = struct.unpack_from("<HH", body, 0)
                n = (ln - 6) // 6
                for k in range(n):
                    ixf, rk = struct.unpack_from("<Hi", body, 4 + 6 * k)
                    cells[(r, c0 + k)] = _typed_num(_rk_value(rk),
                                                    xf_kind(ixf))
            elif op == 0x0204:  # LABEL (BIFF8 unicode)
                r, c, ixf, nlen, flags = struct.unpack_from("<HHHHB",
                                                            body, 0)
                if flags & 1:
                    cells[(r, c)] = body[9:9 + 2 * nlen].decode(
                        "utf-16-le")
                else:
                    cells[(r, c)] = body[9:9 + nlen].decode("latin-1")
        if not cells:
            continue  # empty sheets surface no layer (reference parity)
        max_r = max(r for r, _ in cells)
        max_c = max(c for _, c in cells)
        grid = [[cells.get((r, c)) for c in range(max_c + 1)]
                for r in range(max_r + 1)]
        if headers and grid:
            hdr = [str(v) if v is not None else f"Field{c + 1}"
                   for c, v in enumerate(grid[0])]
            body_rows = grid[1:]
        else:
            hdr = [f"Field{c + 1}" for c in range(max_c + 1)]
            body_rows = grid
        types = []
        for c in range(max_c + 1):
            col = [row[c] for row in body_rows if row[c] is not None]
            types.append(_infer(col))
        out[name] = {
            "fields": list(zip(hdr, types)),
            "rows": [dict(zip(hdr, row)) for row in body_rows],
        }
    return out


def _typed_num(v: float, kind: str | None):
    if kind == "date":
        return _serial_to_dt(v).date()
    if kind == "datetime":
        return _serial_to_dt(v)
    if kind == "time":
        return (_dt.datetime(1899, 12, 30)
                + _dt.timedelta(days=float(v))).time()
    if float(v).is_integer() and abs(v) < 2 ** 31:
        return int(v)
    return float(v)


def _infer(col: list) -> str:
    kinds = {type(v) for v in col}
    if not kinds:
        return "string"
    if kinds <= {int}:
        return "integer"
    if kinds <= {int, float}:
        return "real"
    if kinds <= {_dt.date}:
        return "date"
    if kinds <= {_dt.datetime}:
        return "datetime"
    if kinds <= {_dt.time}:
        return "time"
    if kinds <= {_dt.date, _dt.datetime, _dt.time}:
        return "datetime"  # mixed temporal cells promote (freexl parity)
    return "string"
