"""XYZ ASCII grid driver (frmts/xyz/xyzdataset.cpp).

Pure-python transcription of the reference's on-disk facts:

  identify/header    IdentifyEx                :700-850 (// comments, header
                     tokens x/lon*/east*, y/lat*/north*, z/alt*/height,
                     COLUMN_ORDER XYZ|YXZ|AUTO)
  decimal separator  first-line sniff          :1009-1050
  step detection     Open                      :1178-1445 (RELATIVE_ERROR
                     1e-3, mean-updated steps, multiples = missing lines,
                     by-column layouts)
  grid derivation    Open                      :1470-1535
  cell placement     IReadBlock                :430-575 (round to nearest
                     cell center)
  nodata rule        GetNoDataValue            :625-645
  writer             CreateCopy                :1650-1760

Decoders take the whole small file as bytes/str; at cluster scale they
run inside mapInPandas batches over a binary column (functions/codecs.py
convention) — no driver-side IO.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["xyz_decode", "xyz_encode"]

_REL_ERR = 1e-3


def _header_indices(tokens: list[str]) -> tuple[int, int, int]:
    xi = yi = zi = -1
    for i, t in enumerate(tokens):
        tl = t.lower().strip('"')
        if tl == "x" or tl.startswith("lon") or tl.startswith("east"):
            xi = i
        elif tl == "y" or tl.startswith("lat") or tl.startswith("north"):
            yi = i
        elif tl == "z" or tl.startswith("alt") or tl == "height":
            zi = i
    return xi, yi, zi


def _sniff_decimal_sep(line: str) -> str | None:
    n_comma = 0
    n_fieldsep = 0
    last_was_sep = True
    for ch in line:
        if ch == ".":
            return "."
        if ch == ",":
            n_comma += 1
            last_was_sep = False
        elif ch == " ":
            if not last_was_sep:
                n_fieldsep += 1
            last_was_sep = True
        elif ch in "\t;":
            n_fieldsep += 1
            last_was_sep = True
        else:
            last_was_sep = False
    if n_comma >= 2 and n_fieldsep == 0:
        return "."
    if n_comma > 0 and n_fieldsep > 0:
        return ","
    return None


def _tokenize(line: str, decimal_sep: str) -> list[str]:
    seps = " \t;" + ("," if decimal_sep != "," else "")
    out = []
    cur = []
    for ch in line:
        if ch in seps:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def xyz_decode(data: bytes | str, column_order: str = "AUTO"
               ) -> tuple[np.ndarray, dict]:
    text = data.decode("ascii", "replace") if isinstance(data, bytes) else data
    lines = text.splitlines()

    # leading // comment lines
    i0 = 0
    while i0 < len(lines) and lines[i0].startswith("//"):
        i0 += 1

    # header-line detection on the first non-comment line
    has_header = False
    first = lines[i0] if i0 < len(lines) else ""
    for ch in first:
        if ch in ' ,\t;0123456789.+-eE':
            continue
        if ch == '"' or ch.isalpha():
            has_header = True
        else:
            raise ValueError("not an XYZ grid")

    if column_order.upper() == "XYZ":
        xi, yi, zi = 0, 1, 2
    elif column_order.upper() == "YXZ":
        xi, yi, zi = 1, 0, 2
    elif column_order.upper() == "AUTO":
        xi = yi = zi = -1
        if has_header:
            xi, yi, zi = _header_indices(first.replace(",", " ")
                                         .replace(";", " ")
                                         .replace("\t", " ").split())
        if xi < 0 or yi < 0 or zi < 0:
            xi, yi, zi = 0, 1, 2
    else:
        raise ValueError("COLUMN_ORDER can only be XYZ, YXZ and AUTO")
    if has_header:
        i0 += 1
    min_tokens = 1 + max(xi, yi, zi)

    decimal_sep: str | None = None
    pts_x: list[float] = []
    pts_y: list[float] = []
    pts_z: list[float] = []
    eDT = "Byte"
    n = 0
    last_x = last_y = 0.0
    steps_x: list[float] = []
    steps_y: list[float] = []
    count_step_x = 0
    count_step_y = 0
    step_y_sign = 0
    col_org = False

    for line in lines[i0:]:
        if decimal_sep is None:
            decimal_sep = _sniff_decimal_sep(line)
        dsep = decimal_sep or "."
        toks = _tokenize(line, dsep)
        if not toks:
            continue
        if len(toks) < min_tokens:
            raise ValueError(f"found {len(toks)} tokens, expected "
                             f"{min_tokens} at least")
        conv = (lambda s: float(s.replace(",", "."))) if dsep == "," \
            else float
        x, y, z = conv(toks[xi]), conv(toks[yi]), conv(toks[zi])
        if math.isnan(x) or math.isnan(y):
            raise ValueError("NaN coordinate")
        n += 1
        if not (-2147483648 <= z <= 2147483647) or int(z) != z:
            eDT = "Float32"
        elif eDT in ("Byte", "Int16") and not (0 <= z <= 255):
            eDT = "Int32" if not (-32768 <= z <= 32767) else "Int16"

        if n == 1:
            min_x = max_x = x
            min_y = max_y = y
            min_z = max_z = z
        else:
            min_z, max_z = min(min_z, z), max(max_z, z)
            if n == 2 and x == last_x:
                if y == last_y:
                    raise ValueError("ungridded dataset")
                col_org = True
                steps_y.append(abs(y - last_y))
                step_y_sign = 1 if y > last_y else -1
            elif col_org:
                dx = x - last_x
                if dx == 0:
                    dy = y - last_y
                    exp = steps_y[-1] * step_y_sign
                    if abs((dy - exp) / exp) > _REL_ERR:
                        raise ValueError("ungridded dataset (col Y spacing)")
                elif dx > 0:
                    if not steps_x:
                        steps_x.append(dx)
                    elif abs((dx - steps_x[-1]) / steps_x[-1]) > _REL_ERR:
                        raise ValueError("ungridded dataset (col X spacing)")
                elif n == 3:
                    dy = y - last_y
                    last_signed = step_y_sign * steps_y[-1]
                    if dy * last_signed > 0 and abs(dy - last_signed) <= \
                            _REL_ERR * abs(last_signed):
                        steps_x.append(last_x - x)
                        col_org = False
                    else:
                        raise ValueError("ungridded dataset (X spacing <= 0)")
                elif steps_x and abs(
                        round(-dx / steps_x[0]) - (-dx / steps_x[0])
                ) <= _REL_ERR:
                    col_org = False
                elif not steps_x:
                    steps_x.append(abs(dx))
                    col_org = False
                else:
                    raise ValueError("ungridded dataset (X not a multiple)")
            else:
                dy = y - last_y
                if dy == 0.0:
                    dx = x - last_x
                    if dx <= 0:
                        raise ValueError("ungridded dataset (X spacing <= 0)")
                    if dx not in steps_x:
                        add_new = True
                        new_steps: list[float] = []
                        it = iter(range(len(steps_x)))
                        idx = 0
                        while idx < len(steps_x):
                            s = steps_x[idx]
                            if abs((dx - s) / dx) < _REL_ERR:
                                new_val = s
                                if count_step_x > 0:
                                    count_step_x += 1
                                    new_val += (dx - s) / count_step_x
                                new_steps.append(new_val)
                                add_new = False
                                idx += 1
                                break
                            elif dx < s and abs(
                                    s - int(s / dx + 0.5) * dx) / dx \
                                    < _REL_ERR:
                                count_step_x = -1
                                idx += 1
                            elif dx > s and abs(
                                    dx - int(dx / s + 0.5) * s) / dx \
                                    < _REL_ERR:
                                count_step_x = -1
                                add_new = False
                                new_steps.append(s)
                                idx += 1
                                break
                            else:
                                new_steps.append(s)
                                idx += 1
                        new_steps.extend(steps_x[idx:])
                        steps_x = new_steps
                        if add_new:
                            steps_x.append(dx)
                            if len(steps_x) == 1 and count_step_x == 0:
                                count_step_x += 1
                            elif len(steps_x) == 2:
                                count_step_x = -1
                            elif len(steps_x) >= 10:
                                raise ValueError("too many stepX values")
                else:
                    new_sign = -1 if dy < 0 else 1
                    if step_y_sign == 0:
                        step_y_sign = new_sign
                    elif step_y_sign != new_sign:
                        raise ValueError("change of Y direction")
                    if new_sign < 0:
                        dy = -dy
                    count_step_y += 1
                    if not steps_y:
                        steps_y.append(dy)
                    elif abs((steps_y[0] - dy) / dy) > _REL_ERR:
                        if dy > steps_y[0] and abs(
                                round(dy / steps_y[0]) - dy / steps_y[0]
                        ) <= _REL_ERR:
                            pass  # missing line(s): a multiple of the step
                        else:
                            raise ValueError("too many stepY values")
                    else:
                        steps_y[0] += (dy - steps_y[0]) / count_step_y

            min_x, max_x = min(min_x, x), max(max_x, x)
            min_y, max_y = min(min_y, y), max(max_y, y)
        last_x, last_y = x, y
        pts_x.append(x)
        pts_y.append(y)
        pts_z.append(z)

    if n == 0 or len(steps_x) != 1 or steps_x[0] == 0:
        raise ValueError("couldn't determine X spacing")
    if len(steps_y) != 1 or steps_y[0] == 0:
        raise ValueError("couldn't determine Y spacing")
    if col_org:
        step_y_sign = -1

    w = int(1 + ((max_x - min_x) / steps_x[0] + 0.5))
    h = int(1 + ((max_y - min_y) / steps_y[0] + 0.5))
    step_x = (max_x - min_x) / (w - 1)
    step_y = (max_y - min_y) / (h - 1) * step_y_sign

    same_count = n == w * h
    if not same_count and col_org:
        raise ValueError("by-column layout with missing values unsupported")
    if col_org:  # bIngestAll dtype promotion
        if eDT == "Int32":
            eDT = "Float32"
        elif eDT == "Byte":
            eDT = "Int16"

    x0 = min_x - step_x / 2
    y0 = (max_y - step_y / 2) if step_y < 0 else (min_y - step_y / 2)
    gt = (x0, step_x, 0.0, y0, 0.0, step_y)

    nodata = None
    if not same_count:
        if eDT != "Byte" and min_z > -32768:
            nodata = 0.0 if min_z > 0 else -32768.0
        elif eDT == "Byte" and min_z > 0:
            nodata = 0.0

    np_dt = {"Byte": np.uint8, "Int16": np.int16, "Int32": np.int32,
             "Float32": np.float32}[eDT]
    fill = nodata if nodata is not None else 0.0
    arr = np.full((h, w), fill, dtype=np_dt)
    xs = np.asarray(pts_x)
    ys = np.asarray(pts_y)
    zs = np.asarray(pts_z)
    cols = ((xs - 0.5 * step_x - x0) / step_x + 0.5).astype(np.int64)
    rows = ((ys - 0.5 * step_y - y0) / step_y + 0.5).astype(np.int64)
    ok = (cols >= 0) & (cols < w) & (rows >= 0) & (rows < h)
    arr[rows[ok], cols[ok]] = zs[ok].astype(np_dt)

    return arr, {"gt": gt, "nodata": nodata, "dtype": eDT,
                 "min_z": min_z, "max_z": max_z,
                 "organization": "columns" if col_org else "rows"}


def xyz_encode(arr: np.ndarray, gt: tuple, column_separator: str = " ",
               add_header_line: bool = False,
               decimal_precision: int | None = None,
               significant_digits: int | None = None) -> str:
    """CreateCopy: x-major lines at pixel centers, top row first.
    Integer bands print Z as %d, float bands as %.17g (:1680-1760)."""
    sep = {"COMMA": ",", "SPACE": " ", "SEMICOLON": ";", "TAB": "\t",
           "\\t": "\t"}.get(column_separator, column_separator)
    is_int = arr.dtype.kind in "iub"
    if decimal_precision is not None:
        cfmt = "%%.%df" % decimal_precision
    elif significant_digits is not None:
        cfmt = "%%.%dg" % significant_digits
    else:
        cfmt = "%.17g"
    out = []
    if add_header_line:
        out.append(f"X{sep}Y{sep}Z\n")
    h, w = arr.shape
    src = arr if is_int else arr.astype(np.float32)
    for j in range(h):
        y = gt[3] + (j + 0.5) * gt[5]
        for i in range(w):
            x = gt[0] + (i + 0.5) * gt[1]
            if is_int:
                out.append("%s%s%s%s%d\n" % (cfmt % x, sep, cfmt % y, sep,
                                             int(src[j, i])))
            else:
                out.append("%s%s%s%s%s\n" % (cfmt % x, sep, cfmt % y, sep,
                                             cfmt % float(src[j, i])))
    return "".join(out)
