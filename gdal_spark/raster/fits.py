"""FITS driver (frmts/fits/fitsdataset.cpp, no cfitsio — pure numpy).

Format facts transcribed (decode re-derived):
  2880-byte header blocks of 80-char cards; END terminates
  dtype ladder       Init          :2109-2155 (BITPIX 8/16/32/-32/-64,
                     BZERO 32768 -> UInt16, 2147483648 -> UInt32)
  BLANK nodata       Init          :2104-2106
  BSCALE/BZERO       band offset/scale metadata (:3660-3680)
  bottom-up rows     IReadBlock    :1744-1762 (FITS row 1 = bottom left)
  NAXIS3 = bands     Init          :2160-2175 (BSQ)
  multi-HDU          Open          (first HDU with NAXIS in (2,3);
                     primary-HDU metadata merged, image HDU overrides)
  WCS georef         LoadGeoreferencing :3396-3560 (CDELT x PC / CD
                     matrix, radfac = A_RADIUS * pi/180, CRPIX center
                     convention -> 0.5 shift)
"""

from __future__ import annotations

import math

import numpy as np

from gdal_spark.raster.rawband import raw_read, raw_write

__all__ = ["fits_parse_cards", "fits_decode", "fits_encode"]

_IGNORED = {
    "SIMPLE", "BITPIX", "NAXIS", "NAXIS1", "NAXIS2", "NAXIS3", "END",
    "EXTEND", "XTENSION", "PCOUNT", "GCOUNT", "COMMENT", "HISTORY",
    "LONGSTRN", "BZERO", "BSCALE", "BLANK", "CHECKSUM", "DATASUM",
}

_BITPIX_DT = {8: "u1", 16: ">i2", 32: ">i4", 64: ">i8",
              -32: ">f4", -64: ">f8"}


def _parse_value(raw: str):
    v = raw.split("/", 1)[0].strip()
    if v.startswith("'"):
        end = v.rfind("'")
        return v[1:end] if end > 0 else v[1:]
    if v in ("T", "F"):
        return v == "T"
    try:
        if any(c in v for c in ".eEdD") and not v.lstrip("+-").isdigit():
            return float(v.replace("D", "E").replace("d", "e"))
        return int(v)
    except ValueError:
        return v


def fits_parse_cards(data: bytes, offset: int = 0) -> tuple[dict, int]:
    """Parse one header unit starting at ``offset`` -> (cards, data_start)."""
    cards: dict = {}
    pos = offset
    done = False
    while not done:
        block = data[pos:pos + 2880]
        if len(block) < 2880:
            raise ValueError("truncated FITS header")
        for i in range(0, 2880, 80):
            card = block[i:i + 80].decode("ascii", "replace")
            key = card[:8].strip()
            if key == "END":
                done = True
                break
            if not key or key in ("COMMENT", "HISTORY"):
                continue
            if card[8:10] != "= ":
                continue
            cards[key] = card[10:]
        pos += 2880
    return cards, pos


def _hdu_chain(data: bytes) -> list[tuple[dict, int, int]]:
    """-> [(cards, data_start, data_len_padded)] for every HDU."""
    out = []
    pos = 0
    while pos + 2880 <= len(data):
        head = data[pos:pos + 30]
        if not (head.startswith(b"SIMPLE  =") or head.startswith(b"XTENSION=")):
            break
        cards, dstart = fits_parse_cards(data, pos)
        bitpix = abs(int(_parse_value(cards.get("BITPIX", "8"))))
        naxis = int(_parse_value(cards.get("NAXIS", "0")))
        n = 1 if naxis > 0 else 0
        for ax in range(1, naxis + 1):
            n *= int(_parse_value(cards.get(f"NAXIS{ax}", "0")))
        pcount = int(_parse_value(cards.get("PCOUNT", "0")))
        nbytes = (n + pcount) * (bitpix // 8)
        padded = (nbytes + 2879) // 2880 * 2880
        out.append((cards, dstart, nbytes))
        pos = dstart + padded
    return out


def _wcs_gt(cards: dict) -> tuple | None:
    if "A_RADIUS" not in cards or "CTYPE1" not in cards:
        return None
    ctype1 = str(_parse_value(cards["CTYPE1"]))
    if "LN" not in ctype1:
        return None
    try:
        crpix1 = float(_parse_value(cards["CRPIX1"]))
        crpix2 = float(_parse_value(cards["CRPIX2"]))
        crval1 = float(_parse_value(cards["CRVAL1"]))
    except KeyError:
        return None
    a_radius = float(_parse_value(cards["A_RADIUS"]))
    if "CDELT1" in cards and "PC1_1" in cards:
        cdelt1 = float(_parse_value(cards["CDELT1"]))
        cdelt2 = float(_parse_value(cards["CDELT2"]))
        cd = [cdelt1 * float(_parse_value(cards["PC1_1"])),
              cdelt1 * float(_parse_value(cards["PC1_2"])),
              cdelt2 * float(_parse_value(cards["PC2_1"])),
              cdelt2 * float(_parse_value(cards["PC2_2"]))]
    elif "CD1_1" in cards:
        cd = [float(_parse_value(cards["CD1_1"])),
              float(_parse_value(cards["CD1_2"])),
              float(_parse_value(cards["CD2_1"])),
              float(_parse_value(cards["CD2_2"]))]
    else:
        return None
    radfac = math.pi / 180.0 * a_radius
    xscale = cd[0] * radfac
    xrot = cd[1] * radfac
    yrot = cd[2] * radfac
    yscale = -cd[3] * radfac
    if crval1 > 180.0:
        crval1 -= 180.0
    x0 = crval1 * radfac - xscale * (crpix1 - 0.5)
    y0 = -yscale * (crpix2 - 0.5)
    return (x0, xscale, xrot, y0, yrot, yscale)


def fits_decode(data: bytes, hdu: int | None = None
                ) -> tuple[np.ndarray, dict]:
    """-> (HxW or HxWxB array, meta). ``hdu`` selects a 1-based HDU;
    default = the first HDU carrying a 2- or 3-D image."""
    if not data.startswith(b"SIMPLE  ="):
        raise ValueError("not a FITS file")
    hdus = _hdu_chain(data)
    if not hdus:
        raise ValueError("no FITS HDUs")

    meta_cards: dict = {}
    chosen = None
    for idx, (cards, dstart, nbytes) in enumerate(hdus):
        naxis = int(_parse_value(cards.get("NAXIS", "0")))
        is_image = (cards.get("XTENSION") is None
                    or "IMAGE" in str(_parse_value(cards["XTENSION"]))) \
            and naxis in (2, 3)
        for k, v in cards.items():
            if k not in _IGNORED and k != "XTENSION":
                # the image HDU overrides the primary HDU's values
                if chosen is None or is_image:
                    meta_cards[k] = v
        if hdu is not None:
            if idx + 1 == hdu:
                chosen = (cards, dstart, nbytes)
        elif chosen is None and is_image:
            chosen = (cards, dstart, nbytes)
    if chosen is None:
        raise ValueError("no image HDU in FITS file")
    cards, dstart, nbytes = chosen

    bitpix = int(_parse_value(cards["BITPIX"]))
    naxis = int(_parse_value(cards["NAXIS"]))
    w = int(_parse_value(cards["NAXIS1"]))
    h = int(_parse_value(cards["NAXIS2"]))
    nb = int(_parse_value(cards["NAXIS3"])) if naxis == 3 else 1
    if bitpix not in _BITPIX_DT:
        raise ValueError(f"unknown BITPIX {bitpix}")
    raw = raw_read(data, h, w, nb, _BITPIX_DT[bitpix], "bsq", dstart,
                   zero_fill=False)

    bzero = float(_parse_value(cards["BZERO"])) if "BZERO" in cards else 0.0
    bscale = float(_parse_value(cards["BSCALE"])) if "BSCALE" in cards else 1.0

    # unsigned-marker BZERO values become unsigned types (:2115-2140)
    if bitpix == 16 and bzero == 32768.0:
        arr = (raw.astype(np.int32) + 32768).astype(np.uint16)
        offset, scale = 0.0, 1.0
    elif bitpix == 32 and bzero == 2147483648.0:
        arr = (raw.astype(np.int64) + 2147483648).astype(np.uint32)
        offset, scale = 0.0, 1.0
    else:
        arr = raw
        offset, scale = bzero, bscale

    arr = np.ascontiguousarray(arr[::-1])  # FITS rows start at the bottom left

    meta: dict = {"dtype": arr.dtype.name, "n_hdus": len(hdus)}
    if offset != 0.0 or scale != 1.0:
        meta["offset"] = offset
        meta["scale"] = scale
    if "BLANK" in cards:
        meta["nodata"] = float(_parse_value(cards["BLANK"]))
    gt = _wcs_gt(cards)
    if gt is not None:
        meta["gt"] = gt
    md = {}
    for k, raw_v in meta_cards.items():
        if k in ("OBJECT", "A_RADIUS", "B_RADIUS", "C_RADIUS") or \
                k.startswith(("CTYPE", "CRVAL", "CRPIX", "CDELT", "PC1",
                              "PC2", "CD1", "CD2")):
            continue
        v = _parse_value(raw_v)
        md[k] = v if isinstance(v, str) else str(v)
    if md:
        meta["metadata"] = md
    return arr, meta


def _card(key: str, value: str, comment: str = "") -> bytes:
    s = f"{key:<8}= {value:>20}"
    if comment:
        s += f" / {comment}"
    return s[:80].ljust(80).encode()


def fits_encode(arr: np.ndarray, nodata: float | None = None,
                offset: float | None = None, scale: float | None = None,
                metadata: dict | None = None) -> bytes:
    """CreateCopy: big-endian data, bottom-up rows, BZERO unsigned
    markers, BLANK for nodata, BZERO/BSCALE for band offset/scale."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    kind = arr.dtype.kind
    bzero = None
    if arr.dtype == np.uint16:
        bitpix, store = 16, (arr.astype(np.int32) - 32768).astype(">i2")
        bzero = 32768.0
    elif arr.dtype == np.uint32:
        bitpix, store = 32, (arr.astype(np.int64) - 2147483648).astype(">i4")
        bzero = 2147483648.0
    elif arr.dtype == np.uint8:
        bitpix, store = 8, arr.astype("u1")
    elif arr.dtype == np.int16:
        bitpix, store = 16, arr.astype(">i2")
    elif kind == "i":
        bitpix, store = 32, arr.astype(">i4")
    elif arr.dtype == np.float64:
        bitpix, store = -64, arr.astype(">f8")
    else:
        bitpix, store = -32, arr.astype(">f4")

    cards = [_card("SIMPLE", "T", "file does conform to FITS standard"),
             _card("BITPIX", str(bitpix), "number of bits per data pixel"),
             _card("NAXIS", "3" if nb > 1 else "2", "number of data axes"),
             _card("NAXIS1", str(w), "length of data axis 1"),
             _card("NAXIS2", str(h), "length of data axis 2")]
    if nb > 1:
        cards.append(_card("NAXIS3", str(nb), "length of data axis 3"))
    cards.append(_card("EXTEND", "T", "FITS dataset may contain extensions"))
    if bzero is not None:
        cards.append(_card("BZERO", "%.17g" % bzero))
        cards.append(_card("BSCALE", "1"))
    elif offset is not None or (scale is not None and scale != 1):
        cards.append(_card("BZERO", "%.17g" % (offset or 0.0)))
        cards.append(_card("BSCALE", "%.17g" % (1.0 if scale is None
                                                else scale)))
    if nodata is not None:
        cards.append(_card("BLANK", "%.17g" % nodata))
    for k, v in (metadata or {}).items():
        cards.append(_card(k[:8].upper(), "'%s'" % str(v)[:18]))
    cards.append(b"END".ljust(80))
    header = b"".join(cards)
    header += b" " * ((2880 - len(header) % 2880) % 2880)

    body = raw_write(store[::-1], store.dtype, "bsq")
    body += b"\x00" * ((2880 - len(body) % 2880) % 2880)
    return header + body
