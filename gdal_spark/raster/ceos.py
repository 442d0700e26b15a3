"""CEOS (conventional) and SAR_CEOS drivers, pure numpy.

Conventional CEOS re-expresses frmts/ceos/ceosopen.c (record reader,
file-descriptor field layout, per-band scanline offsets) and
frmts/ceos/ceosdataset.cpp (8-bit gate, identify bytes 4..7 =
3f c0 12 12, little-endian flip heuristic on bytes 0/1).

SAR_CEOS re-expresses frmts/ceos2/: the 12-byte record header walk of
sar_ceosdataset.cpp ProcessData, the companion-file naming table
(CeosExtension), the field recipes of ceosrecipe.c (RadarSat / Jers /
ScanSAR / SIR-C / PALSAR, tried in the reference's reversed
registration order), the interleave/file-position math of
ceossar.c CalcCeosSARImageFilePosition, the CEOS_* metadata field
table and the prefix-GCP / map-projection-GCP scan of
sar_ceosdataset.cpp ScanForMetadata/ScanForGCPs, and the
CCP (SIR-C compressed cross-products) and PALSAR covariance band
decoders.

Everything operates on bytes in executor memory: on Spark the image
file rides a binary column and each (file, line-chunk) decode is an
Arrow-batched task, so a 10^12-scene archive fans out without any
driver-side parsing.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Conventional CEOS (frmts/ceos)
# ---------------------------------------------------------------------------

_CRT_IMAGE_FDR = b"\x3f\xc0\x12\x12"


def detect_ceos(h: bytes) -> bool:
    """ceosdataset.cpp Open: bytes 4..7 must be the image FDR typecode."""
    return len(h) >= 100 and bytes(h[4:8]) == _CRT_IMAGE_FDR


def read_ceos_fdr(data: bytes) -> dict:
    """Parse the imagery file descriptor record (ceosopen.c CEOSOpen).

    Returns width/height/band count plus the per-band data-start offsets
    used by CEOSReadScanline.  Raises ValueError on malformed files.
    """
    if not detect_ceos(data):
        raise ValueError("not a conventional CEOS imagery file")
    # bizarre little-endian variant (#1862): record number bytes nonzero
    little = data[0] != 0 or data[1] != 0
    fmt = "<I" if little else ">I"
    rec_num = struct.unpack(fmt, data[0:4])[0]
    rec_len = struct.unpack(fmt, data[8:12])[0]
    if rec_num > 200000 or rec_len < 12 or rec_len > 200000:
        raise ValueError("CEOS record leader appears to be corrupt")
    if rec_len < 292 or rec_len > len(data):
        raise ValueError("short CEOS file descriptor record")
    hdr = data[:rec_len]
    if hdr[16:28] == b"CEOS-SAR-CCT":
        raise ValueError("CEOS-SAR-CCT transfers belong to SAR_CEOS")

    def _i(off: int, n: int) -> int:
        s = hdr[off : off + n].split(b"\x00")[0].decode("ascii", "replace")
        s = s.strip()
        neg = s.startswith("-")
        digits = "".join(c for c in s if c.isdigit())
        if not digits:
            return 0
        return -int(digits) if neg else int(digits)

    info = {
        "little_endian": little,
        "rec_count": _i(180, 6),
        "rec_length": _i(186, 6),
        "bits_per_pixel": _i(216, 4),
        "nbands": _i(232, 4),
        "height": _i(236, 8),
        "width": _i(248, 8),
        "prefix": _i(276, 4),
        "suffix": _i(288, 4),
    }
    if info["bits_per_pixel"] != 8:
        raise ValueError(
            "the CEOS driver only handles 8 bits per pixel "
            f"(got {info['bits_per_pixel']})"
        )
    if info["rec_length"] <= 0 or info["nbands"] <= 0 or info["width"] <= 0:
        raise ValueError("non-positive CEOS image dimensions")
    info["line_offset"] = info["nbands"] * info["rec_length"]
    info["data_start"] = [
        rec_len + b * info["rec_length"] + 12 + info["prefix"]
        for b in range(info["nbands"])
    ]
    return info


def ceos_read_window(
    data: bytes, info: dict, band: int, yoff: int, ysize: int
) -> np.ndarray:
    """CEOSReadScanline over a line window (1-based band).

    Raises IOError when a scanline extends past EOF — the analog of the
    reference returning CE_Failure (and GDAL Checksum() returning -1)
    on the truncated autotest fixture.
    """
    w = info["width"]
    out = np.empty((ysize, w), dtype=np.uint8)
    start = info["data_start"][band - 1]
    stride = info["line_offset"]
    for i in range(ysize):
        off = start + (yoff + i) * stride
        if off + w > len(data):
            raise IOError(
                f"read of {w} bytes for scanline {yoff + i + 1} failed"
            )
        out[i] = np.frombuffer(data, np.uint8, w, off)
    return out


def ceos_available_lines(data: bytes, info: dict, band: int) -> int:
    """How many whole scanlines of `band` the (possibly truncated) file
    actually holds — the autotest fixture keeps 3 of 5936."""
    start = info["data_start"][band - 1]
    stride = info["line_offset"]
    n = 0
    while start + n * stride + info["width"] <= len(data) and n < info["height"]:
        n += 1
    return n


# ---------------------------------------------------------------------------
# SAR_CEOS (frmts/ceos2)
# ---------------------------------------------------------------------------

# file ids (ceos.h)
VOLUME_DIR_FILE = 0
LEADER_FILE = 1
IMAGRY_OPT_FILE = 2
TRAILER_FILE = 3
NULL_VOL_FILE = 4

# companion-file naming conventions (sar_ceosdataset.cpp CeosExtension)
_CEOS_EXTENSION = [
    ("vol", "led", "img", "trl", "nul", "ext"),
    ("vol", "lea", "img", "trl", "nul", "ext"),
    ("vol", "led", "img", "tra", "nul", "ext"),
    ("vol", "lea", "img", "tra", "nul", "ext"),
    ("vdf", "slf", "sdf", "stf", "nvd", "ext"),
    ("vdf", "ldr", "img", "tra", "nul", "ext2"),
    ("VOLD", "Sarl_01", "Imop_%02d", "Sart_01", "NULL", "base"),
    ("vdf_dat", "lea_%02d", "dat_%02d", "tra_%02d", "nul_vdf", "base"),
    ("vdf_dat", "lea_%02d", "dat_%02d", "tra_%02d", "nul_dat", "base"),
    ("volume", "leader", "image", "trailer", "nul_dat", "whole"),
    ("VDF", "LF", "SLC", "", "", "ext"),
    ("vol", "sarl", "sard", "sart", "nvol", "ext"),
    ("", "L", "D", "", "", "ext"),
    ("VOL", "LED", "", "TRL", "", "ALOS2-ALOS4"),
]

# record typecodes (sar_ceosdataset.cpp QuadToTC table)
TC_VOLUME_DESCRIPTOR = (192, 192, 18, 18)
TC_IMAGE_HEADER = (63, 192, 18, 18)
TC_IMAGE_JERS_HEADER = (50, 192, 18, 18)
TC_IMAGE_DATA = (0xED, 0xED, 0x12, 0x12)
TC_PROC_DATA = (50, 11, 18, 20)
TC_PROC_DATA_ALT = (50, 11, 31, 20)
TC_PROC_DATA_ALT2 = (50, 11, 31, 50)
TC_PROC_DATA_ALOS2 = (50, 10, 18, 20)
TC_DATASET_SUMMARY = (18, 10, 18, 20)
TC_DATASET_SUMMARY_ERS2 = (10, 10, 31, 20)
TC_DATASET_SUMMARY_ASF = (10, 10, 18, 20)
TC_MAP_PROJ = (10, 20, 31, 20)
TC_MAP_PROJ_JERS = (18, 20, 18, 20)
TC_MAP_PROJ_ASF = (10, 20, 18, 20)
TC_FACILITY_ASF = (90, 210, 18, 61)
TC_RADIOMETRIC_COMP = (18, 51, 18, 20)
TC_ERS_FACILITY = (10, 200, 31, 50)
TC_ERS_FACILITY_ALT = (10, 216, 31, 50)
TC_RSAT_PROC_PARAM = (18, 120, 18, 20)

# CEOS data types (ceos.h)
TYP_CHAR, TYP_UCHAR, TYP_SHORT, TYP_USHORT = 1, 2, 3, 4
TYP_LONG, TYP_ULONG, TYP_FLOAT, TYP_DOUBLE = 5, 6, 7, 8
TYP_COMPLEX_CHAR, TYP_COMPLEX_UCHAR = 9, 10
TYP_COMPLEX_SHORT, TYP_COMPLEX_USHORT = 11, 12
TYP_COMPLEX_LONG, TYP_COMPLEX_ULONG = 13, 14
TYP_COMPLEX_FLOAT, TYP_CCP_COMPLEX_FLOAT, TYP_PALSAR_COMPLEX_SHORT = 15, 16, 17

IL_PIXEL, IL_LINE, IL_BAND = 1, 2, 3

# string -> type, matched by prefix in table order (ceosrecipe.c CeosDataType)
_DATA_TYPE_STRINGS = [
    ("IU1", TYP_UCHAR),
    ("IU2", TYP_USHORT),
    ("UI1", TYP_UCHAR),
    ("UI2", TYP_USHORT),
    ("CI*2", TYP_COMPLEX_CHAR),
    ("CI*4", TYP_COMPLEX_SHORT),
    ("CIS4", TYP_COMPLEX_SHORT),
    ("CI*8", TYP_COMPLEX_LONG),
    ("C*8", TYP_COMPLEX_FLOAT),
    ("R*4", TYP_FLOAT),
]
_INTERLEAVE_STRINGS = [
    ("BSQ", IL_BAND),
    (" BSQ", IL_BAND),
    ("BIL", IL_LINE),
    (" BIL", IL_LINE),
]


class CeosRecord:
    __slots__ = ("sequence", "typecode", "length", "file_id", "subsequence", "buf")

    def __init__(self, sequence, typecode, length, file_id, buf):
        self.sequence = sequence
        self.typecode = typecode
        self.length = length
        self.file_id = file_id
        self.subsequence = 0
        self.buf = buf


def _a(buf: bytes, off: int, n: int) -> str:
    """A-format field, 1-based offset (ceos.c GetCeosField)."""
    return (
        buf[off - 1 : off - 1 + n]
        .replace(b"\x00", b" ")
        .decode("ascii", "replace")
    )


def _i_field(buf: bytes, off: int, n: int) -> int:
    s = _a(buf, off, n).strip()
    try:
        return int(s)
    except ValueError:
        return 0


def _b4(buf: bytes, off: int) -> int:
    """B4 big-endian binary field, 1-based offset."""
    if off - 1 + 4 > len(buf):
        return 0
    return struct.unpack(">i", buf[off - 1 : off + 3])[0]


def scan_records(
    data: bytes, file_id: int, max_records: int = -1
) -> tuple[list[CeosRecord], str]:
    """ProcessData analog: walk 12-byte record headers.

    Returns (records, status) where status is 'ok', 'warning' (wrong
    second record sequence — padded products, accepted), or 'error'.
    New records are PREPENDED like the reference's InsertLink so
    find_record sees the same shadowing order.
    """
    records: list[CeosRecord] = []
    start = 0
    this_rec = 0
    cur_type = None
    cur_subseq = 0
    while max_records != 0 and start < len(data):
        this_rec += 1
        if start + 12 > len(data):
            return records, "error"
        hdr = data[start : start + 12]
        length = struct.unpack(">i", hdr[8:12])[0]
        sequence = struct.unpack(">i", hdr[0:4])[0]
        if sequence != this_rec:
            if this_rec == 2:
                return records, "warning"
            return records, "error"
        if length <= 12:
            return records, "error"
        if start + length > len(data):
            # partial record at EOF (reference: max_bytes clamp)
            length = len(data) - start
            if length <= 12:
                break
        tc = tuple(hdr[4:8])
        rec = CeosRecord(sequence, tc, length, file_id, data[start : start + length])
        if cur_type == tc:
            cur_subseq += 1
            rec.subsequence = cur_subseq
        else:
            cur_type = tc
            cur_subseq = 0
        records.insert(0, rec)
        start += length
        if max_records > 0:
            max_records -= 1
    return records, "ok"


def find_record(
    records: list[CeosRecord],
    typecode: tuple,
    file_id: int = -1,
    subsequence: int = -1,
) -> CeosRecord | None:
    for r in records:
        if (
            r.typecode == typecode
            and (file_id == -1 or r.file_id == file_id)
            and (subsequence == -1 or r.subsequence == subsequence)
        ):
            return r
    return None


# ---------------------------------------------------------------------------
# recipes (ceosrecipe.c) — each entry: (key, override, file_id, tc, off, len, fmt)
# ---------------------------------------------------------------------------

def _recipe(tc_img, tc_proc_list, lines_any_file=False):
    rec = [
        ("num_chans", IMAGRY_OPT_FILE, tc_img, 233, 4, "I"),
        ("interleave", IMAGRY_OPT_FILE, tc_img, 269, 4, "A"),
        ("data_type", IMAGRY_OPT_FILE, tc_img, 429, 4, "A"),
        (
            "lines",
            -1 if lines_any_file else IMAGRY_OPT_FILE,
            TC_DATASET_SUMMARY if lines_any_file else tc_img,
            325 if lines_any_file else 237,
            8,
            "I",
        ),
        ("ppl", IMAGRY_OPT_FILE, tc_img, 249, 8, "I"),
        ("lbp", IMAGRY_OPT_FILE, tc_img, 245, 4, "I"),
        ("rbp", IMAGRY_OPT_FILE, tc_img, 257, 4, "I"),
        ("bpp", IMAGRY_OPT_FILE, tc_img, 225, 4, "I"),
        ("rpl", IMAGRY_OPT_FILE, tc_img, 273, 2, "I"),
        ("pdbpr", IMAGRY_OPT_FILE, tc_img, 281, 8, "I"),
        ("ids", IMAGRY_OPT_FILE, tc_img, 277, 4, "I"),
        ("fdl", IMAGRY_OPT_FILE, tc_img, 9, 4, "B"),
        ("suffix", IMAGRY_OPT_FILE, tc_img, 289, 4, "I"),
    ]
    for tc_proc in tc_proc_list:
        rec.append(("bytes_per_record", IMAGRY_OPT_FILE, tc_proc, 9, 4, "B"))
    return rec


_RADARSAT_RECIPE = _recipe(
    TC_IMAGE_HEADER, [TC_PROC_DATA, TC_PROC_DATA_ALT, TC_PROC_DATA_ALT2]
)
_JERS_RECIPE = _recipe(TC_IMAGE_JERS_HEADER, [TC_PROC_DATA, TC_PROC_DATA_ALOS2])
# ScanSAR: reduced field set, lines from the data set summary in ANY file
_SCANSAR_RECIPE = [
    e
    for e in _recipe(TC_IMAGE_HEADER, [TC_PROC_DATA], lines_any_file=True)
    if e[0] not in ("lbp", "rbp", "pdbpr")
]


def _apply_recipe(records: list[CeosRecord], recipe, sanity: bool = True) -> dict:
    """CeosDefaultRecipe: extract fields then apply the fallback rules.
    With sanity=False the field dict is returned unvalidated — the
    SIR-C/PALSAR recipe functions run their own reduced checks."""
    d = {
        "num_chans": 0, "interleave": 0, "data_type": 0, "lines": 0,
        "tbp": 0, "bbp": 0, "ppl": 0, "lbp": 0, "rbp": 0, "bpp": 0,
        "rpl": 0, "pdbpr": 0, "ids": 0, "fdl": 0, "suffix": 0,
        "bytes_per_record": 0, "ppr": 0,
    }
    for key, file_id, tc, off, n, fmt in recipe:
        if d.get(key):
            continue  # first matching PROC_DATA variant wins
        rec = find_record(records, tc, file_id)
        if rec is None:
            continue
        if fmt == "I":
            d[key] = _i_field(rec.buf, off, n)
        elif fmt == "B":
            d[key] = _b4(rec.buf, off)
        elif fmt == "A":
            s = _a(rec.buf, off, n)
            table = (
                _INTERLEAVE_STRINGS if key == "interleave" else _DATA_TYPE_STRINGS
            )
            for prefix, val in table:
                if s.startswith(prefix):
                    d[key] = val
                    break
    # ImageDataStart patch (ceosrecipe.c: 192/544/800 already include the
    # 12-byte record header; everything else needs it added)
    if d["ids"] and d["ids"] not in (192, 544, 800):
        d["ids"] += 12
    # Telaviv fallback: derive pixels per line
    if d["ppl"] == 0 and d["pdbpr"] and d["bpp"]:
        d["ppl"] = d["pdbpr"] // d["bpp"]
    # derive record size and check against the actual imagery record
    if d["bytes_per_record"] == 0 and d["rpl"] == 1 and d["ppl"] > 0 and d["bpp"] > 0:
        guess = d["ppl"] * d["bpp"] + d["ids"] + d["suffix"]
        img_rec = find_record(records, TC_IMAGE_DATA, IMAGRY_OPT_FILE)
        if img_rec is None or img_rec.length != guess:
            return {}
        d["bytes_per_record"] = guess
    if d["ppr"] == 0 and d["bytes_per_record"] and d["bpp"]:
        d["ppr"] = (d["bytes_per_record"] - d["suffix"] - d["ids"]) // d["bpp"]
        d["ppr"] = min(d["ppr"], d["ppl"])
    if d["data_type"] == 0 and d["bpp"] and d["num_chans"]:
        size = d["bpp"] // d["num_chans"]
        if size == 1:
            d["data_type"] = TYP_UCHAR
        elif size == 2:
            d["data_type"] = TYP_USHORT
    if sanity and (
        d["ppl"] == 0 or d["lines"] == 0 or d["rpl"] == 0 or d["ids"] == 0
        or d["fdl"] == 0 or d["data_type"] == 0 or d["num_chans"] == 0
        or d["bpp"] == 0 or d["interleave"] == 0
        or d["bytes_per_record"] == 0
    ):
        return {}
    return d


def _reduced_sanity(d: dict, check_num_chans: bool) -> bool:
    return not (
        d["ppl"] == 0 or d["lines"] == 0 or d["rpl"] == 0 or d["ids"] == 0
        or d["fdl"] == 0 or (check_num_chans and d["num_chans"] == 0)
        or d["interleave"] == 0 or d["bytes_per_record"] == 0
    )


def _sirc_recipe(records):
    """SIRCRecipeFCN: COMPRESSED CROSS-PRODUCTS marker + 10-byte pixels."""
    rec = find_record(records, TC_IMAGE_HEADER, IMAGRY_OPT_FILE)
    if rec is None or not _a(rec.buf, 401, 28).upper().startswith(
        "COMPRESSED CROSS-PRODUCTS"
    ):
        return {}
    d = _apply_recipe(records, _RADARSAT_RECIPE, sanity=False)
    if not d or d["bpp"] != 10:
        return {}
    d["pdbpr"] = d["bpp"] * d["ppl"]
    d["data_type"] = TYP_CCP_COMPLEX_FLOAT
    return d if _reduced_sanity(d, check_num_chans=True) else {}


def _palsar_recipe(records):
    """PALSARRecipeFCN: INTEGER*18 + ALOS- product → 6-band covariance."""
    rec = find_record(records, TC_IMAGE_HEADER, IMAGRY_OPT_FILE)
    if rec is None:
        return {}
    if not _a(rec.buf, 401, 28).upper().startswith("INTEGER*18"):
        return {}
    if not _a(rec.buf, 49, 16).upper().startswith("ALOS-"):
        return {}
    d = _apply_recipe(records, _RADARSAT_RECIPE, sanity=False)
    if not d or d["bpp"] != 18:
        return {}
    d["data_type"] = TYP_PALSAR_COMPLEX_SHORT
    d["num_chans"] = 6
    return d if _reduced_sanity(d, check_num_chans=False) else {}


def _scansar_recipe(records):
    d = _apply_recipe(records, _SCANSAR_RECIPE)
    if d:
        d["lines"] *= 2
    return d


def image_desc(records: list[CeosRecord]) -> dict:
    """GetCeosSARImageDesc: first recipe that validates wins.  The
    reference registers SIR-C..PALSAR then walks the list LIFO
    (PALSAR, Jers, RadarSat, ScanSAR, SIR-C).  Deviation: we hoist the
    marker-gated SIR-C recipe ahead of the generic defaults — in the
    reference order a COMPRESSED CROSS-PRODUCTS file whose channel
    count divides its 10-byte groups is shadowed by RadarSat's
    bytes/channels UInt16 guess and never reaches the CCP decoder."""
    for fn in (
        _palsar_recipe,
        _sirc_recipe,
        lambda r: _apply_recipe(r, _JERS_RECIPE),
        lambda r: _apply_recipe(r, _RADARSAT_RECIPE),
        _scansar_recipe,
    ):
        d = fn(records)
        if d:
            return d
    return {}


_NP_DTYPE = {
    TYP_CHAR: np.dtype(np.uint8),  # GDT_UInt8 per reference switch
    TYP_UCHAR: np.dtype(np.uint8),
    TYP_SHORT: np.dtype(">i2"),
    TYP_USHORT: np.dtype(">u2"),
    TYP_LONG: np.dtype(">i4"),
    TYP_ULONG: np.dtype(">u4"),
    TYP_FLOAT: np.dtype(">f4"),
    TYP_DOUBLE: np.dtype(">f8"),
    TYP_COMPLEX_SHORT: np.dtype([("re", ">i2"), ("im", ">i2")]),
    TYP_PALSAR_COMPLEX_SHORT: np.dtype([("re", ">i2"), ("im", ">i2")]),
    TYP_COMPLEX_FLOAT: np.dtype(">c8"),
    TYP_CCP_COMPLEX_FLOAT: np.dtype(">c8"),
}

_GDAL_TYPE_NAME = {
    TYP_CHAR: "Byte", TYP_UCHAR: "Byte", TYP_SHORT: "Int16",
    TYP_USHORT: "UInt16", TYP_LONG: "Int32", TYP_ULONG: "UInt32",
    TYP_FLOAT: "Float32", TYP_DOUBLE: "Float64",
    TYP_COMPLEX_SHORT: "CInt16", TYP_PALSAR_COMPLEX_SHORT: "CInt16",
    TYP_COMPLEX_FLOAT: "CFloat32", TYP_CCP_COMPLEX_FLOAT: "CFloat32",
}


class SARCEOSVolume:
    """Parsed SAR_CEOS volume: image bytes + merged record list + desc."""

    def __init__(self, img_data: bytes, records: list[CeosRecord], desc: dict):
        self.img_data = img_data
        self.records = records
        self.desc = desc

    # -- size / bands -------------------------------------------------
    @property
    def width(self) -> int:
        return self.desc["ppl"] + self.desc["lbp"] + self.desc["rbp"]

    @property
    def height(self) -> int:
        return self.desc["lines"]

    @property
    def nbands(self) -> int:
        return self.desc["num_chans"]

    @property
    def dtype_name(self) -> str:
        return _GDAL_TYPE_NAME[self.desc["data_type"]]

    def _line_offset(self, channel: int, line: int) -> int:
        """CalcCeosSARImageFilePosition (1-based channel and line)."""
        d = self.desc
        il = d["interleave"]
        if il == IL_PIXEL:
            recs = (line - 1) * d["rpl"]
        elif il == IL_LINE:
            recs = (d["num_chans"] * (line - 1) + (channel - 1)) * d["rpl"]
        else:  # IL_BAND
            recs = ((channel - 1) * d["lines"] + (line - 1)) * d["rpl"]
        return d["fdl"] + recs * d["bytes_per_record"]

    def read_line(self, channel: int, line: int) -> np.ndarray:
        """One scanline of one band (SAR_CEOSRasterBand / raw-band path).
        Raises IOError past EOF like the reference's CE_Failure."""
        d = self.desc
        width = self.width
        dt = _NP_DTYPE[d["data_type"]]
        if d["data_type"] == TYP_CCP_COMPLEX_FLOAT:
            return self._read_ccp_line(channel, line)
        if d["data_type"] == TYP_PALSAR_COMPLEX_SHORT:
            return self._read_palsar_line(channel, line)
        bpp = d["bpp"]
        raw = np.empty(width * bpp, np.uint8)
        got = 0
        off = self._line_offset(channel, line) + d["ids"]
        for _ in range(d["rpl"]):
            todo = min(d["ppr"], width - got)
            nbytes = todo * bpp
            if off + nbytes > len(self.img_data):
                raise IOError(f"read past EOF at line {line}")
            raw[got * bpp : (got + todo) * bpp] = np.frombuffer(
                self.img_data, np.uint8, nbytes, off
            )
            got += todo
            off += d["bytes_per_record"]
        il = d["interleave"]
        itemsize = dt.itemsize
        if il == IL_PIXEL:
            # channels packed per pixel group: stride over the group
            groups = raw.reshape(width, bpp)
            mine = groups[:, (channel - 1) * itemsize : channel * itemsize]
            return np.ascontiguousarray(mine).view(dt).reshape(width)
        # IL_LINE: _line_offset already selected this channel's record;
        # IL_BAND: the record holds exactly this channel's line.
        return raw[: width * itemsize].view(dt).reshape(width)

    def _read_ccp_line(self, channel: int, line: int) -> np.ndarray:
        """CCPRasterBand: SIR-C compressed cross-products -> complex64."""
        d = self.desc
        width = self.width
        off = d["fdl"] + d["bytes_per_record"] * (line - 1) + d["ids"]
        nbytes = d["bpp"] * width
        if off + nbytes > len(self.img_data):
            raise IOError(f"read past EOF at line {line}")
        g = (
            np.frombuffer(self.img_data, np.int8, nbytes, off)
            .reshape(width, d["bpp"])
            .astype(np.float64)
        )
        scale = np.sqrt((g[:, 1] / 254.0 + 1.5) * np.exp2(g[:, 0]))
        re = g[:, 2 * channel] * scale / 127.0
        im = g[:, 2 * channel + 1] * scale / 127.0
        return (re + 1j * im).astype(np.complex64)

    def _read_palsar_line(self, channel: int, line: int) -> np.ndarray:
        """PALSARRasterBand: 18-byte groups -> 6 covariance bands CInt16,
        returned as (re, im) int16 pairs."""
        d = self.desc
        width = self.width
        off = d["fdl"] + d["bytes_per_record"] * (line - 1) + d["ids"]
        nbytes = 18 * width
        if off + nbytes > len(self.img_data):
            raise IOError(f"read past EOF at line {line}")
        g = np.frombuffer(self.img_data, np.uint8, nbytes, off).reshape(width, 18)

        def i16(col):
            return (
                np.ascontiguousarray(g[:, col : col + 2]).view(">i2").reshape(width)
            ).astype(np.int32)

        out = np.zeros((width, 2), np.int32)
        if channel in (1, 2, 3):
            out[:, 0] = i16(4 * (channel - 1))
            if channel == 2:  # Covariance_22 = 2*HV*conj(HV)
                out *= 2
        else:
            base = 6 + 4 * (channel - 4)
            out[:, 0] = i16(base)
            out[:, 1] = i16(base + 2)
            s2 = math.sqrt(2.0)
            if channel == 4:  # sqrt(2)*HH*conj(HV)
                out = np.floor(out * s2 + 0.5).astype(np.int32)
            elif channel == 6:  # sqrt(2)*conj(HV*conj(VV))
                out[:, 0] = np.floor(out[:, 0] * s2 + 0.5).astype(np.int32)
                out[:, 1] = np.floor(-out[:, 1] * s2 + 0.5).astype(np.int32)
        return np.clip(out, -32768, 32767).astype(np.int16)

    def read_band(self, channel: int, yoff: int = 0, ysize: int | None = None):
        if ysize is None:
            ysize = self.height - yoff
        return np.stack(
            [self.read_line(channel, yoff + i + 1) for i in range(ysize)]
        )

    def available_lines(self, channel: int = 1) -> int:
        n = 0
        try:
            while n < self.height:
                self.read_line(channel, n + 1)
                n += 1
        except IOError:
            pass
        return n

    # -- metadata (ScanForMetadata) ------------------------------------
    def metadata(self) -> dict:
        md = {}
        vol = find_record(self.records, TC_VOLUME_DESCRIPTOR, VOLUME_DIR_FILE)
        vol_id = ""
        if vol is not None:
            vol_id = _a(vol.buf, 61, 16).strip()
            md["CEOS_LOGICAL_VOLUME_ID"] = vol_id
            for name, off, n in (
                ("CEOS_PROCESSING_FACILITY", 149, 12),
                ("CEOS_PROCESSING_AGENCY", 141, 8),
                ("CEOS_PROCESSING_COUNTRY", 129, 12),
                ("CEOS_SOFTWARE_ID", 33, 12),
                ("CEOS_PRODUCT_ID", 261, 8),
                ("CEOS_VOLSET_ID", 77, 16),
            ):
                v = _a(vol.buf, off, n).strip()
                if v:
                    md[name] = v
        rec = (
            find_record(self.records, TC_DATASET_SUMMARY, LEADER_FILE)
            or find_record(self.records, TC_DATASET_SUMMARY_ASF, LEADER_FILE)
            or find_record(self.records, TC_DATASET_SUMMARY, TRAILER_FILE)
            or find_record(self.records, TC_DATASET_SUMMARY_ERS2, LEADER_FILE)
        )
        if rec is not None:
            for name, off, n in (
                ("CEOS_ACQUISITION_TIME", 69, 32),
                ("CEOS_ASC_DES", 101, 16),
                ("CEOS_TRUE_HEADING", 149, 16),
                ("CEOS_ELLIPSOID", 165, 16),
                ("CEOS_SEMI_MAJOR", 181, 16),
                ("CEOS_SEMI_MINOR", 197, 16),
                ("CEOS_SCENE_LENGTH_KM", 341, 16),
                ("CEOS_SCENE_WIDTH_KM", 357, 16),
                ("CEOS_MISSION_ID", 397, 16),
                ("CEOS_SENSOR_ID", 413, 32),
                ("CEOS_ORBIT_NUMBER", 445, 8),
                ("CEOS_PLATFORM_LATITUDE", 453, 8),
                ("CEOS_PLATFORM_LONGITUDE", 461, 8),
                ("CEOS_PLATFORM_HEADING", 469, 8),
                ("CEOS_SENSOR_CLOCK_ANGLE", 477, 8),
                ("CEOS_INC_ANGLE", 485, 8),
                ("CEOS_FACILITY", 1047, 16),
                ("CEOS_PIXEL_TIME_DIR", 1527, 8),
                ("CEOS_LINE_SPACING_METERS", 1687, 16),
                ("CEOS_PIXEL_SPACING_METERS", 1703, 16),
            ):
                v = _a(rec.buf, off, n).strip()
                # ASC_DES is RSAT-specific (reference gates on the volume id)
                if v and ("RSAT" in vol_id or name != "CEOS_ASC_DES"):
                    md[name] = v
        rec = find_record(self.records, TC_RADIOMETRIC_COMP, LEADER_FILE)
        if "RSAT" in vol_id and rec is not None:
            md["CEOS_BEAM_TYPE"] = _a(rec.buf, 4189, 16).strip()
        return md

    # -- GCPs (ScanForGCPs / ScanForMapProjection) ----------------------
    def gcps(self) -> list[tuple[float, float, float, float]]:
        """Returns (pixel, line, x, y) tuples."""
        d = self.desc
        md = self.metadata()
        if d["ids"] >= 192 and not md.get("CEOS_FACILITY", "").startswith("ASF"):
            out = []
            nmax = 15
            step = max(1, (self.height - 1) // (nmax // 3 - 1))
            for line in range(0, self.height, step):
                if len(out) > nmax - 3:
                    break
                off = self._line_offset(1, line + 1)
                if off + 192 > len(self.img_data):
                    break
                pre = np.frombuffer(self.img_data, ">i4", 48, off)
                for igcp in range(3):
                    lat, lon = int(pre[33 + igcp]), int(pre[36 + igcp])
                    if lat or lon:
                        px = (
                            0.5 if igcp == 0
                            else self.width / 2.0 if igcp == 1
                            else self.width - 0.5
                        )
                        out.append((px, line + 0.5, lon / 1e6, lat / 1e6))
            if out:
                return out
        return self._map_projection_gcps()

    def _map_projection_gcps(self):
        rec = find_record(self.records, TC_MAP_PROJ, LEADER_FILE)
        order = "std"
        if rec is None:
            rec = find_record(self.records, TC_MAP_PROJ_JERS, LEADER_FILE)
        if rec is None:
            rec = find_record(self.records, TC_MAP_PROJ_ASF, LEADER_FILE)
            order = "asf_map"
        if rec is None:
            rec = find_record(self.records, TC_FACILITY_ASF, LEADER_FILE)
            order = "asf_fac"
        if rec is None:
            return []
        field = _a(rec.buf, 29, 16)
        size, off0 = 16, 1073
        if not field.upper().startswith(("SLANT RANGE", "GROUND RANGE", "GEOCODED")):
            if _a(rec.buf, 1079, 7).upper().startswith(("SLANT", "GROUND")):
                size, off0 = 17, 157
            else:
                return []
        if _a(rec.buf, off0, size).startswith("        "):
            return []
        ys, xs = self.height, self.width
        corners = []
        for i in range(4):
            y = float(_a(rec.buf, off0 + size * 2 * i, size).strip() or 0)
            x = float(_a(rec.buf, off0 + size + size * 2 * i, size).strip() or 0)
            corners.append((x, y))
        if order == "std":  # UL UR LR LL
            pl = [(0.5, 0.5), (xs - 0.5, 0.5), (xs - 0.5, ys - 0.5), (0.5, ys - 0.5)]
        elif order == "asf_fac":  # UL LL UR LR
            pl = [(0.5, 0.5), (0.5, ys - 0.5), (xs - 0.5, 0.5), (xs - 0.5, ys - 0.5)]
        else:  # asf_map: LL LR UR UL
            pl = [(0.5, ys - 0.5), (xs - 0.5, ys - 0.5), (xs - 0.5, 0.5), (0.5, 0.5)]
        return [
            (pl[i][0], pl[i][1], corners[i][0], corners[i][1]) for i in range(4)
        ]


def detect_sar_ceos(h: bytes) -> bool:
    """sar_ceosdataset.cpp Open gate: big-endian sequence + FDR typecode
    with subtype1 0x3f or 0x32."""
    return (
        len(h) >= 12
        and h[0] == 0
        and h[4] in (0x3F, 0x32)
        and h[5] == 0xC0
        and h[6] == 0x12
        and h[7] == 0x12
    )


def _companion_names(path: str):
    """Candidate (file_id, path) pairs per the CeosExtension table."""
    dirname = os.path.dirname(path)
    base = os.path.basename(path)
    stem, ext = (base.rsplit(".", 1) + [""])[:2] if "." in base else (base, "")
    # atoi(basename+4): leading digits only
    nband = 0
    if len(stem) > 4:
        digits = ""
        for c in stem[4:]:
            if c.isdigit():
                digits += c
            else:
                break
        nband = int(digits) if digits else 0
    is_alos2 = stem.upper().startswith("IMG-") and (
        "-ALOS2" in stem.upper() or "-ALOS4" in stem.upper()
    )
    for row in _CEOS_EXTENSION:
        method = row[5]
        for file_id in (VOLUME_DIR_FILE, LEADER_FILE, TRAILER_FILE, NULL_VOL_FILE):
            part = row[file_id]
            if not part:
                continue
            if method == "base":
                name = (part % nband) if "%" in part else part
                cand = os.path.join(dirname, name + ("." + ext if ext else ""))
            elif method == "ext":
                cand = os.path.join(dirname, stem + "." + part)
            elif method == "whole":
                cand = os.path.join(dirname, part)
            elif method == "ext2":
                this_ext = part + (ext[3:] if len(ext) > 3 else "")
                cand = os.path.join(dirname, stem + "." + this_ext)
            elif method == "ALOS2-ALOS4":
                if not is_alos2:
                    continue
                cand = os.path.join(
                    dirname, part + stem[len("IMG-HH"):] + ("." + ext if ext else "")
                )
            else:
                continue
            yield file_id, cand


def sar_ceos_open(path: str) -> SARCEOSVolume:
    """SAR_CEOSDataset::Open over a local imagery file path."""
    with open(path, "rb") as f:
        img_data = f.read()
    if not detect_sar_ceos(img_data[:12]):
        raise ValueError("not a SAR_CEOS imagery file")
    records, status = scan_records(img_data, IMAGRY_OPT_FILE, max_records=4)
    if status == "error":
        raise ValueError("corrupt SAR_CEOS imagery file")
    found: dict[int, bool] = {}
    for file_id, cand in _companion_names(path):
        if found.get(file_id):
            continue
        use = None
        if os.path.exists(cand):
            use = cand
        else:
            upper = os.path.join(
                os.path.dirname(cand), os.path.basename(cand).upper()
            )
            if os.path.exists(upper):
                use = upper
        if use is None or os.path.abspath(use) == os.path.abspath(path):
            continue
        with open(use, "rb") as f:
            data = f.read()
        recs, st = scan_records(data, file_id)
        # reference keeps already-scanned records even when ProcessData
        # fails partway; only the per-file-type "found" flag is withheld
        records = recs + records
        if st != "error":
            found[file_id] = True
    desc = image_desc(records)
    if not desc:
        raise ValueError("unable to extract CEOS image description")
    return SARCEOSVolume(img_data, records, desc)
