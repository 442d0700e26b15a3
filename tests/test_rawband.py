"""Pinned outputs of the raw-raster readers and writers.

Every case builds its input in memory, from the module's own writer or
from a synthesized text header plus body, so nothing here needs the
reference autotest data. A case's digest covers the decoded array
(shape, dtype, bytes) and its metadata; the pins were recorded before
the readers were moved onto one raw-band reader, and must not move.
"""

from __future__ import annotations

import hashlib
import json
import struct
import tracemalloc

import numpy as np
import pytest

from gdal_spark.raster import envi as EN
from gdal_spark.raster import fits as FT
from gdal_spark.raster import isce_eir as IE
from gdal_spark.raster import moreraw as MR
from gdal_spark.raster import planetary as PL
from gdal_spark.raster import rawfmts as RF
from gdal_spark.raster import vicar as VI
from gdal_spark.raster.rawband import (
    MAX_RAW_BYTES, raw_layout, raw_read, raw_write,
)

H, W, NB = 4, 5, 3


def _pix(h: int, w: int, nb: int, dt) -> np.ndarray:
    """Deterministic samples that use every byte of the type."""
    dt = np.dtype(dt)
    base = (np.arange(h * w * nb, dtype=np.int64) * 7919) % 251
    if dt.kind == "u":
        v = base * (1 if dt.itemsize == 1 else 257)
    elif dt.kind == "i":
        v = (base - 125) * (1 if dt.itemsize == 1 else 257)
    elif dt.kind == "f":
        v = (base - 125) / 8.0 + 1000.0
    else:
        v = (base - 125) / 4.0 + 1j * (base % 13)
    v = v.astype(dt.newbyteorder("="))
    return v.reshape((h, w) if nb == 1 else (h, w, nb))


def _layout(arr: np.ndarray, interleave: str, dt) -> bytes:
    """The test's own BSQ/BIL/BIP writer (independent of the package)."""
    a = arr if arr.ndim == 3 else arr[:, :, None]
    a = {"bsq": a.transpose(2, 0, 1), "bil": a.transpose(0, 2, 1),
         "bip": a}[interleave]
    return np.ascontiguousarray(a).astype(np.dtype(dt)).tobytes()


def _digest(out) -> str:
    arr, meta = out
    h = hashlib.sha256()
    for a in (arr if isinstance(arr, list) else [arr]):
        h.update(repr((a.shape, a.dtype.str)).encode())
        h.update(np.ascontiguousarray(a).tobytes())
    h.update(json.dumps(meta, sort_keys=True, default=repr).encode())
    return h.hexdigest()[:16]


def _bytes_digest(*parts) -> tuple:
    blob = b"".join(p.encode() if isinstance(p, str) else p for p in parts)
    return np.frombuffer(blob, np.uint8), {}


CASES: dict = {}


def case(name):
    def deco(fn):
        CASES[name] = fn
        return fn
    return deco


# ---------------------------------------------------------------------------
# ENVI (writer + reader)
# ---------------------------------------------------------------------------

for _il in ("bsq", "bil", "bip"):
    for _bo in (0, 1):
        for _dt in ("i2", "f4"):
            def _envi(il=_il, bo=_bo, dt=_dt):
                hdr, body = EN.envi_encode(_pix(H, W, NB, dt), interleave=il,
                                           byte_order=bo,
                                           gt=(10.0, 0.5, 0.0, 20.0, 0.0, -0.5),
                                           nodata=-1.0)
                return EN.envi_decode(hdr, body)
            case(f"envi_{_il}_{'be' if _bo else 'le'}_{_dt}")(_envi)

for _dt in ("u1", "u2", "i4", "u4", "i8", "u8", "f8", "c8", "c16"):
    def _envi1(dt=_dt):
        hdr, body = EN.envi_encode(_pix(H, W, 1, dt), interleave="bip")
        return EN.envi_decode(hdr, body)
    case(f"envi_nb1_{_dt}")(_envi1)


@case("envi_writer_bytes")
def _envi_writer():
    parts = []
    for il in ("bsq", "bil", "bip", "weird"):
        for bo in (0, 1):
            hdr, body = EN.envi_encode(_pix(H, W, NB, "i2"), interleave=il,
                                       byte_order=bo)
            parts += [hdr, body]
    return _bytes_digest(*parts)


@case("envi_truncated_zero_fill")
def _envi_trunc():
    hdr, body = EN.envi_encode(_pix(H, W, NB, "i2"), interleave="bil")
    return EN.envi_decode(hdr, body[:33])


@case("envi_header_offset_gzip")
def _envi_off():
    import gzip
    hdr, body = EN.envi_encode(_pix(H, W, NB, "f4"), interleave="bsq")
    hdr = hdr.replace("header offset = 0", "header offset = 7")
    hdr += "file compression = 1\n"
    return EN.envi_decode(hdr, gzip.compress(b"\x01" * 7 + body))


# ---------------------------------------------------------------------------
# ISCE (writer: BIP little-endian) and EIR
# ---------------------------------------------------------------------------

@case("isce_writer_bytes")
def _isce_writer():
    body, xml = IE.isce_encode(_pix(H, W, NB, "f4"),
                               gt=(1.0, 0.5, 0.0, 2.0, 0.0, -0.5))
    body1, xml1 = IE.isce_encode(_pix(H, W, 1, "c8"))
    return _bytes_digest(body, xml, body1, xml1)


for _scheme in ("BIP", "BIL", "BSQ"):
    for _bo in ("l", "b"):
        def _isce(scheme=_scheme, bo=_bo):
            arr = _pix(H, W, NB, "i2")
            _, xml = IE.isce_encode(arr, gt=(1.0, 0.5, 0.0, 2.0, 0.0, -0.5))
            xml = xml.replace("<value>BIP</value>", f"<value>{scheme}</value>")
            xml = xml.replace("<value>l</value>", f"<value>{bo}</value>")
            dt = ("<" if bo == "l" else ">") + "i2"
            return IE.isce_decode(_layout(arr, scheme.lower(), dt), xml)
        case(f"isce_{_scheme.lower()}_{_bo}e")(_isce)


@case("isce_nb1_c8")
def _isce_c8():
    body, xml = IE.isce_encode(_pix(H, W, 1, "c8"))
    return IE.isce_decode(body, xml)


def _isce_truncated():
    body, xml = IE.isce_encode(_pix(H, W, NB, "f4"))
    return IE.isce_decode(body[:-1], xml)


def _eir_hdr(fmt: str, dtname: str, bo: str, off: int, nb: int = NB) -> str:
    return ("IMAGINE_RAW_FILE\n"
            f"WIDTH {W}\nHEIGHT {H}\nNUM_LAYERS {nb}\nFORMAT {fmt}\n"
            f"DATATYPE {dtname}\nBYTE_ORDER {bo}\nDATA_OFFSET {off}\n"
            "PIXEL_FILES img.raw\nEND_RAW_FILE\n")


for _fmt in ("BIL", "BIP", "BSQ"):
    for _bo in ("LSB", "MSB"):
        def _eir(fmt=_fmt, bo=_bo):
            arr = _pix(H, W, NB, "u2")
            dt = ("<" if bo == "LSB" else ">") + "u2"
            data = b"\x07" * 3 + _layout(arr, fmt.lower(), dt)
            return IE.eir_decode(_eir_hdr(fmt, "U16", bo, 3), data)
        case(f"eir_{_fmt.lower()}_{_bo.lower()}")(_eir)


@case("eir_nb1_f64")
def _eir1():
    arr = _pix(H, W, 1, "f8")
    return IE.eir_decode(_eir_hdr("BSQ", "F64", "MSB", 0, 1),
                         _layout(arr, "bsq", ">f8"))


def _eir_truncated():
    arr = _pix(H, W, NB, "u2")
    return IE.eir_decode(_eir_hdr("BIL", "U16", "LSB", 0),
                         _layout(arr, "bil", "<u2")[:-2])


# ---------------------------------------------------------------------------
# moreraw: ERS, ROI_PAC, GenBin, RRASTER, BYN, ACE2, SNODAS, NDF, LCP
# ---------------------------------------------------------------------------

def _ers_hdr(celltype: str, bo: str, nb: int, off: int, h: int = H,
             w: int = W) -> str:
    return f"""DatasetHeader Begin
\tVersion\t= "6.0"
\tDataSetType\t= ERStorage
\tDataType\t= Raster
\tByteOrder\t= {bo}
\tHeaderOffset = {off}
\tCoordinateSpace Begin
\t\tDatum\t= "WGS84"
\t\tProjection\t= "GEODETIC"
\t\tCoordinateType\t= LATLONG
\tCoordinateSpace End
\tRasterInfo Begin
\t\tCellType\t= {celltype}
\t\tNullCellValue = -99
\t\tCellInfo Begin
\t\t\tXdimension\t= 0.5
\t\t\tYdimension\t= 0.25
\t\tCellInfo End
\t\tNrOfLines\t= {h}
\t\tNrOfCellsPerLine\t= {w}
\t\tRegistrationCoord Begin
\t\t\tEastings\t= 100
\t\t\tNorthings\t= 200
\t\tRegistrationCoord End
\t\tNrOfBands\t= {nb}
\tRasterInfo End
DatasetHeader End
"""


for _bo in ("MSBFirst", "LSBFirst"):
    for _ct, _dt in (("Signed16BitInteger", "i2"), ("IEEE4ByteReal", "f4")):
        def _ers(bo=_bo, ct=_ct, dt=_dt):
            arr = _pix(H, W, NB, dt)
            e = ">" if bo == "MSBFirst" else "<"
            data = b"\x05" * 6 + _layout(arr, "bil", e + dt)
            return MR.ers_decode(_ers_hdr(ct, bo, NB, 6), data)
        case(f"ers_{_bo[:3].lower()}_{_dt}")(_ers)


@case("ers_nb1_u1")
def _ers1():
    arr = _pix(H, W, 1, "u1")
    return MR.ers_decode(_ers_hdr("Unsigned8BitInteger", "LSBFirst", 1, 0),
                         arr.tobytes())


@case("ers_truncated_zero_fill")
def _ers_trunc():
    arr = _pix(H, W, NB, "i2")
    data = _layout(arr, "bil", ">i2")[:41]
    return MR.ers_decode(_ers_hdr("Signed16BitInteger", "MSBFirst", NB, 0),
                         data)


def _rsc(h: int = H, w: int = W) -> str:
    return (f"WIDTH {w}\nFILE_LENGTH {h}\nX_FIRST 10.0\nY_FIRST 20.0\n"
            "X_STEP 0.5\nY_STEP -0.5\nPROJECTION LL\n")


_RSC = _rsc()

for _ext, _dt, _nb in (("dem", "<i2", 1), ("raw", "u1", 1), ("slc", "<c8", 1),
                       ("unw", "<f4", 2)):
    def _roipac(ext=_ext, dt=_dt, nb=_nb):
        arr = _pix(H, W, nb, dt)
        return MR.roipac_decode(_RSC, _layout(arr, "bil", dt), ext)
    case(f"roipac_{_ext}")(_roipac)


@case("roipac_truncated_zero_fill")
def _roipac_trunc():
    arr = _pix(H, W, 2, "f4")
    return MR.roipac_decode(_RSC, _layout(arr, "bil", "<f4")[:50], "cor")


def _genbin_hdr(nb, dtname, bo, inter, h=H, w=W):
    return (f"BANDS: {nb}\nROWS: {h}\nCOLS: {w}\nDATATYPE: {dtname}\n"
            f"BYTE_ORDER: {bo}\nINTERLEAVING: {inter}\n"
            "UL_X_COORDINATE: 1.5\nUL_Y_COORDINATE: 2.5\n"
            "PIXEL_WIDTH: 0.5\nPIXEL_HEIGHT: 0.25\n")


for _inter in ("BSQ", "BIL", "BIP"):
    for _bo in ("I", "M"):
        def _genbin(inter=_inter, bo=_bo):
            arr = _pix(H, W, NB, "i2")
            dt = ("<" if bo == "I" else ">") + "i2"
            return MR.genbin_decode(_genbin_hdr(NB, "S16", bo, inter),
                                    _layout(arr, inter.lower(), dt))
        case(f"genbin_{_inter.lower()}_{_bo.lower()}")(_genbin)


@case("genbin_nb1_f64")
def _genbin1():
    arr = _pix(H, W, 1, "f8")
    return MR.genbin_decode(_genbin_hdr(1, "F64", "NA", "BIL"),
                            _layout(arr, "bsq", ">f8"))


@case("genbin_truncated_zero_fill")
def _genbin_trunc():
    arr = _pix(H, W, NB, "u4")
    return MR.genbin_decode(_genbin_hdr(NB, "U32", "L", "BIP"),
                            _layout(arr, "bip", "<u4")[:77])


@case("rraster_writer_bytes")
def _rr_writer():
    parts = []
    for dt in ("u1", "i2", "i4", "f4", "f8"):
        for nb in (1, NB):
            grd, body = MR.rraster_encode(_pix(H, W, nb, dt),
                                          gt=(0.0, 2.0, 0.0, 8.0, 0.0, -2.0),
                                          nodata=-9)
            parts += [grd, body]
    return _bytes_digest(*parts)


for _order in ("BIL", "BIP", "BSQ"):
    for _bo in ("little", "big"):
        def _rr(order=_order, bo=_bo):
            arr = _pix(H, W, NB, "i2")
            grd, _ = MR.rraster_encode(arr)
            grd = grd.replace("bandorder=BIL", f"bandorder={order}")
            grd = grd.replace("byteorder=little", f"byteorder={bo}")
            dt = ("<" if bo == "little" else ">") + "i2"
            return MR.rraster_decode(grd, _layout(arr, order.lower(), dt))
        case(f"rraster_{_order.lower()}_{_bo}")(_rr)


@case("rraster_nb1_f4")
def _rr1():
    grd, body = MR.rraster_encode(_pix(H, W, 1, "f4"), nodata=-1.0)
    return MR.rraster_decode(grd, body)


def _rraster_truncated():
    grd, body = MR.rraster_encode(_pix(H, W, NB, "i2"))
    return MR.rraster_decode(grd, body[:-1])


def _byn(sizeof: int, byteorder: int, body: bytes | None = None,
         rows: int = H, cols: int = W) -> bytes:
    hdr = bytearray(80)
    # 10 arc-second spacing; rows/cols follow the reference's +1 rounding
    struct.pack_into("<4i", hdr, 0, 0, (rows - 1) * 10, 0, (cols - 1) * 10)
    struct.pack_into("<4h", hdr, 16, 10, 10, 0, 1)
    struct.pack_into("<d", hdr, 24, 0.001)
    struct.pack_into("<hh", hdr, 32, sizeof, 2)
    struct.pack_into("<6h", hdr, 40, 0, 0, 0, 0, byteorder, 0)
    if body is None:
        dt = (">" if byteorder == 0 else "<") + ("i2" if sizeof == 2 else "i4")
        body = _pix(rows, cols, 1, dt).astype(dt).tobytes()
    return bytes(hdr) + body


for _sz in (2, 4):
    for _bo in (0, 1):
        case(f"byn_i{_sz}_{'be' if _bo == 0 else 'le'}")(
            lambda sz=_sz, bo=_bo: MR.byn_decode(_byn(sz, bo)))


@case("byn_truncated_zero_fill")
def _byn_trunc():
    return MR.byn_decode(_byn(4, 1)[:80 + 27])


@case("ace2_5m_f32")
def _ace2():
    return MR.ace2_decode(_pix(180, 180, 1, "<f4").tobytes(),
                          "/x/45N015E_5M.ACE2")


@case("ace2_conf_i16_truncated_zero_fill")
def _ace2_conf():
    return MR.ace2_decode(_pix(10, 10, 1, "<i2").tobytes(),
                          "15S045W_CONF_5M.ACE2")


@case("ace2_untagged_size_from_data")
def _ace2_untagged():
    return MR.ace2_decode(_pix(16, 16, 1, "<f4").tobytes(), "00N000E.ACE2")


def _snodas(h: int = H, w: int = W) -> str:
    return (
        "Format version: NOHRSC GIS/RS raster file v1.1\n"
        f"Number of columns: {w}\nNumber of rows: {h}\n"
        "Minimum x-axis coordinate: -124.73\n"
        "Maximum y-axis coordinate: 52.87\n"
        "X-axis resolution: 0.0083\nY-axis resolution: 0.0083\n"
        "No data value: -9999\nData slope: 0.1\nData intercept: 0\n"
        "Data units: Meters\nData file pathname: snow.dat\n"
    )


_SNODAS = _snodas()

case("snodas")(lambda: MR.snodas_decode(
    _SNODAS, _pix(H, W, 1, ">i2").astype(">i2").tobytes()))
case("snodas_truncated_zero_fill")(lambda: MR.snodas_decode(
    _SNODAS, _pix(H, W, 1, ">i2").astype(">i2").tobytes()[:13]))
case("snodas_missing_dat")(lambda: MR.snodas_decode(_SNODAS, None))

def _ndf(h: int = H, w: int = W) -> str:
    return ("NDF_REVISION=2;\nPIXEL_FORMAT=BYTE;\n"
            f"PIXELS_PER_LINE={w};\nLINES_PER_DATA_FILE={h};\n"
            "NUMBER_OF_BANDS_IN_VOLUME=3;\nBAND1_FILENAME=scene.I1;\n"
            "BAND2_FILENAME=scene.I2;\nBAND3_FILENAME=absent.I3;\n")


_NDF = _ndf()


@case("ndf_two_bands_one_truncated")
def _ndf_two_bands():
    files = {"SCENE.I1": _pix(H, W, 1, "u1").tobytes(),
             "scene.i2": _pix(H, W, 1, "u1").tobytes()[::-1][:7]}
    return MR.ndf_read(_NDF, files)


def _lcp(crown: int, ground: int, nb: int, body: bytes | None = None,
         w: int = W, h: int = H) -> bytes:
    hdr = bytearray(7316)
    struct.pack_into("<iii", hdr, 0, crown, ground, 45)
    for slot in range(1, 11):
        struct.pack_into("<iii", hdr, 44 + 412 * (slot - 1), -slot, 100 * slot,
                         3 if slot == 4 else 0)
        struct.pack_into("<H", hdr, 4224 + 2 * (slot - 1), slot % 3)
        name = f"band{slot}.asc".encode()
        hdr[4244 + 256 * (slot - 1):4244 + 256 * (slot - 1) + len(name)] = name
    struct.pack_into("<4i", hdr, 44 + 412 * 3 + 12, 1, 2, 200, 3)
    struct.pack_into("<ii", hdr, 4164, w, h)
    struct.pack_into("<4d", hdr, 4172, 1000.0 + 30 * w, 1000.0,
                     5000.0 + 30 * h, 5000.0)
    struct.pack_into("<i", hdr, 4204, 1)
    struct.pack_into("<dd", hdr, 4208, 30.0, 30.0)
    hdr[6804:6804 + 9] = b"synthetic"
    if body is None:
        body = _pix(h, w, nb, "<i2").tobytes()
    return bytes(hdr) + body


case("lcp_crown_bip")(lambda: MR.lcp_decode(_lcp(21, 20, 8)))
case("lcp_ground_truncated_zero_fill")(
    lambda: MR.lcp_decode(_lcp(20, 21, 7)[:7316 + 45]))


# ---------------------------------------------------------------------------
# rawfmts: LAN, DOQ2, MFF, HKV, FAST, EHdr
# ---------------------------------------------------------------------------

def _lan(pixtype: int, nb: int, big: bool, body: bytes | None = None) -> bytes:
    bo = ">" if big else "<"
    hdr = bytearray(128)
    hdr[:6] = b"HEAD74"
    struct.pack_into(bo + "hh", hdr, 6, pixtype, nb)
    struct.pack_into(bo + "ii", hdr, 16, W, H)
    struct.pack_into(bo + "h", hdr, 88, 1)
    struct.pack_into(bo + "4f", hdr, 112, 500.0, 900.0, 2.0, 2.0)
    if body is None:
        if pixtype == 1:
            body = _pix(H, (W * nb + 1) // 2 + 1, 1, "u1").tobytes()
        else:
            dt = bo + ("i2" if pixtype == 2 else "u1")
            body = _layout(_pix(H, W, nb, dt), "bil", dt)
    return bytes(hdr) + body


for _big in (False, True):
    for _pt in (0, 2):
        for _nb in (1, NB):
            case(f"lan_t{_pt}_nb{_nb}_{'be' if _big else 'le'}")(
                lambda pt=_pt, nb=_nb, big=_big:
                RF.lan_decode(_lan(pt, nb, big)))
case("lan_4bit")(lambda: RF.lan_decode(_lan(1, 2, False)))


def _lan_truncated():
    return RF.lan_decode(_lan(2, NB, True)[:-1])


def _doq2(bits: int, contents: int, body: bytes | None, skip: int = 512,
          w: int = 500, h: int = 500, org: str = "BIP") -> bytes:
    lines = ["BEGIN_USGS_DOQ_HEADER", f"SAMPLES_AND_LINES {w} {h}",
             f"BYTE_COUNT {skip}", "XY_ORIGIN 351000.0 4680000.0",
             "HORIZONTAL_RESOLUTION 1.0", f"BAND_ORGANIZATION {org}"]
    lines += ["BAND_CONTENT RED", "BAND_CONTENT GREEN",
              "BAND_CONTENT BLUE"][:contents]
    lines += [f"BITS_PER_PIXEL {bits}", 'QUADRANGLE_NAME "TEST QUAD" *',
              "END_USGS_DOQ_HEADER"]
    head = ("\n".join(lines) + "\n").encode().ljust(skip, b" ")
    return head + (body or b"")


case("doq2_rgb_bip")(lambda: RF.doq2_decode(
    _doq2(8, 3, _pix(500, 500, 3, "u1").tobytes())))
case("doq2_gray_truncated_zero_fill")(lambda: RF.doq2_decode(
    _doq2(8, 1, _pix(100, 100, 1, "u1").tobytes(), org="BSQ")))

_MFF = "IMAGE_LINES = {h}\nLINE_SAMPLES = {w}\nBYTE_ORDER = {bo}\n"


for _bo in ("LSB", "MSB"):
    def _mff(bo=_bo):
        e = "<" if bo == "LSB" else ">"
        files = {"b00": _pix(H, W, 1, "u1").tobytes(),
                 "i01": _pix(H, W, 1, "u2").astype(e + "u2").tobytes(),
                 "r02": _pix(H, W, 1, "f4").astype(e + "f4").tobytes()[:-9],
                 "x03": b"ignored"}
        return RF.mff_read(_MFF.format(h=H, w=W, bo=bo), files)
    case(f"mff_{_bo.lower()}_one_truncated")(_mff)


@case("mff_tiled_truncated_zero_fill")
def _mff_tiled():
    tiles = _pix(6, 3 * 2, 1, "u2").astype(">u2").tobytes()[:-5]
    hdr = (_MFF.format(h=H, w=W, bo="MSB")
           + "tile_size_rows = 3\ntile_size_columns = 2\n")
    return RF.mff_read(hdr, {"i00": tiles, "b01": _pix(6, 6, 1, "u1").tobytes()})


def _hkv_attrib(nb, inter, size, enc, order):
    return (f"channel.enumeration = {nb}\n"
            f"channel.interleave = {{ {inter} }}\n"
            f"extent.cols = {W}\nextent.rows = {H}\n"
            f"pixel.size = {size}\npixel.encoding = {{ {enc} }}\n"
            f"pixel.order = {{ {order} }}\n")


for _inter in ("pixel", "sequential"):
    for _order in ("lsbf", "msbf"):
        def _hkv(inter=_inter, order=_order):
            arr = _pix(H, W, NB, "i2")
            il = "bip" if inter == "pixel" else "bsq"
            dt = ("<" if order == "lsbf" else ">") + "i2"
            attrib = _hkv_attrib(NB, f"*{inter} tape", 16,
                                 "unsigned *twos-complement ieee-754",
                                 f"*{order}")
            return RF.hkv_read(attrib, _layout(arr, il, dt))
        case(f"hkv_{_inter}_{_order}")(_hkv)


@case("hkv_nb1_f32")
def _hkv1():
    attrib = _hkv_attrib(1, "*pixel", 32, "*ieee-754", "*msbf")
    return RF.hkv_read(attrib, _pix(H, W, 1, ">f4").astype(">f4").tobytes())


def _hkv_truncated():
    attrib = _hkv_attrib(NB, "*pixel", 8, "*unsigned", "*lsbf")
    return RF.hkv_read(attrib, _pix(H, W, NB, "u1").tobytes()[:-1])


def _fast_header(bits: int, w: int = W, h: int = H) -> str:
    return ("ACQUISITION DATE =20020611 SATELLITE =LANDSAT7   "
            "SENSOR =ETM+      "
            f"PIXELS PER LINE ={w:05d} LINES PER BAND ={h:05d} "
            f"OUTPUT BITS PER PIXEL ={bits:2d} "
            "FILENAME =band1.dat                     "
            "FILENAME =BAND2.DAT                     "
            "FILENAME =missing.dat                   ")


for _bits in (8, 16):
    def _fast(bits=_bits):
        dt = ">u2" if bits == 16 else "u1"
        files = {"band1.dat": _pix(H, W, 1, dt).astype(dt).tobytes(),
                 "band2.dat": _pix(H, W, 1, dt).astype(dt).tobytes()[:11]}
        return RF.fast_read(_fast_header(bits), files, "header.dat")
    case(f"fast_{_bits}bit_one_truncated")(_fast)


@case("ehdr_writer_bytes")
def _ehdr_writer():
    parts = []
    for dt in ("u1", "i2", "i4", "f4", "f8"):
        for nb in (1, NB):
            hdr, body = RF.ehdr_encode(_pix(H, W, nb, dt),
                                       gt=(1.0, 0.5, 0.0, 9.0, 0.0, -0.5),
                                       nodata=-9.0)
            parts += [hdr, body]
    return _bytes_digest(*parts)


for _layout_name in ("BIL", "BIP", "BSQ"):
    for _bo in ("I", "M"):
        def _ehdr(lay=_layout_name, bo=_bo):
            arr = _pix(H, W, NB, "i2")
            hdr = (f"NCOLS {W}\nNROWS {H}\nNBANDS {NB}\nNBITS 16\n"
                   f"PIXELTYPE SIGNEDINT\nBYTEORDER {bo}\nLAYOUT {lay}\n"
                   "ULXMAP 1.25\nULYMAP 9.75\nXDIM 0.5\nYDIM 0.5\n"
                   "NODATA -9999\n")
            dt = ("<" if bo == "I" else ">") + "i2"
            return RF.ehdr_decode(hdr, _layout(arr, lay.lower(), dt))
        case(f"ehdr_{_layout_name.lower()}_{_bo.lower()}")(_ehdr)


@case("ehdr_gridfloat_inferred")
def _ehdr_flt():
    hdr = (f"ncols {W}\nnrows {H}\nxllcorner 0\nyllcorner 0\ncellsize 2\n"
           "NODATA_value -9999\nbyteorder LSBFIRST\n")
    return RF.ehdr_decode(hdr, _pix(H, W, 1, "<f4").tobytes(), "flt")


@case("ehdr_roundtrip_u1")
def _ehdr_rt():
    hdr, body = RF.ehdr_encode(_pix(H, W, NB, "u1"))
    return RF.ehdr_decode(hdr, body)


def _ehdr_truncated():
    hdr, body = RF.ehdr_encode(_pix(H, W, NB, "i2"))
    return RF.ehdr_decode(hdr, body[:-1])


# ---------------------------------------------------------------------------
# planetary: PDS3, ISIS2, ISIS3
# ---------------------------------------------------------------------------

def _pad(text: str, n: int) -> bytes:
    b = text.encode("latin-1")
    assert len(b) <= n
    return b.ljust(n, b" ")


def _pds_label(ptr: str, stype: str, bits: int, nb: int, storage: str,
               prefix: int = 0, suffix: int = 0, h: int = H,
               w: int = W) -> str:
    return f"""PDS_VERSION_ID = PDS3
RECORD_TYPE = FIXED_LENGTH
RECORD_BYTES = 1024
^IMAGE = {ptr}
OBJECT = IMAGE
  LINES = {h}
  LINE_SAMPLES = {w}
  BANDS = {nb}
  SAMPLE_TYPE = {stype}
  SAMPLE_BITS = {bits}
  BAND_STORAGE_TYPE = {storage}
  LINE_PREFIX_BYTES = {prefix}
  LINE_SUFFIX_BYTES = {suffix}
  SCALING_FACTOR = 0.5
  OFFSET = 10
  MISSING_CONSTANT = -32768
END_OBJECT = IMAGE
OBJECT = IMAGE_MAP_PROJECTION
  MAP_SCALE = 0.25 <KM/PIXEL>
  SAMPLE_PROJECTION_OFFSET = 10.5
  LINE_PROJECTION_OFFSET = 20.5
  MAP_PROJECTION_TYPE = "EQUIRECTANGULAR"
END_OBJECT = IMAGE_MAP_PROJECTION
END
"""


_PDS_STORAGE = {"BAND_SEQUENTIAL": "bsq", "LINE_INTERLEAVED": "bil",
                "SAMPLE_INTERLEAVED": "bip"}

for _st, _il in _PDS_STORAGE.items():
    for _stype, _dt in (("MSB_INTEGER", ">i2"), ("LSB_UNSIGNED_INTEGER", "<u2"),
                        ("PC_REAL", "<f4")):
        def _pds(st=_st, il=_il, stype=_stype, dt=_dt):
            bits = np.dtype(dt).itemsize * 8
            data = _pad(_pds_label("2", stype, bits, NB, st), 1024)
            data += _layout(_pix(H, W, NB, dt), il, dt)
            return PL.pds_open(data)
        case(f"pds_{_il}_{_stype.lower()}")(_pds)


@case("pds_bytes_pointer_nb1_u1")
def _pds_bytes():
    data = _pad(_pds_label("1025 <BYTES>", "UNSIGNED_INTEGER", 8, 1,
                           "BAND_SEQUENTIAL"), 1024)
    return PL.pds_open(data + _pix(H, W, 1, "u1").tobytes())


@case("pds_detached_truncated_zero_fill")
def _pds_detached():
    data = _pad(_pds_label('("IMAGE.IMG", 2)', "MSB_INTEGER", 16, NB,
                           "LINE_INTERLEAVED"), 1024)
    body = b"\x09" * 1024 + _layout(_pix(H, W, NB, ">i2"), "bil", ">i2")
    return PL.pds_open(data, siblings={"image.img": body[:1024 + 51]})


for _nb in (1, 2):
    def _pds_prefix(nb=_nb):
        arr = _pix(H, W, nb, ">i2")
        rows = b"".join(b"PFX!" + _layout(arr[y:y + 1], "bip", ">i2") + b"SX"
                        for y in range(H))
        data = _pad(_pds_label("2", "MSB_INTEGER", 16, nb, "SAMPLE_INTERLEAVED",
                               prefix=4, suffix=2), 1024)
        return PL.pds_open(data + rows[:-7])
    case(f"pds_prefix_suffix_nb{_nb}_truncated_zero_fill")(_pds_prefix)


def _isis2(ctype: str, nbytes: int, body: bytes, items=(W, H, NB)) -> bytes:
    label = f"""CCSD3ZF0000100000001NJPL3IF0PDS200000001 = SFDU_LABEL
RECORD_TYPE = FIXED_LENGTH
RECORD_BYTES = 512
LABEL_RECORDS = 1
^QUBE = 2
OBJECT = QUBE
  AXES = 3
  AXIS_NAME = (SAMPLE,LINE,BAND)
  CORE_ITEMS = ({items[0]},{items[1]},{items[2]})
  CORE_ITEM_BYTES = {nbytes}
  CORE_ITEM_TYPE = {ctype}
  CORE_BASE = 1.5
  CORE_MULTIPLIER = 2.0
  CORE_NULL = 16#FF7FFFFB#
  TARGET_NAME = MARS
END_OBJECT = QUBE
END
"""
    return _pad(label, 512) + body


case("isis2_sun_integer")(lambda: PL.isis2_open(
    _isis2("SUN_INTEGER", 2, _layout(_pix(H, W, NB, ">i2"), "bsq", ">i2"))))
case("isis2_pc_real_truncated_zero_fill")(lambda: PL.isis2_open(
    _isis2("PC_REAL", 4, _layout(_pix(H, W, NB, "<f4"), "bsq", "<f4")[:99])))


def _isis3_label(fmt: str, ptype: str, order: str, nb: int, start: int,
                 tiles: str = "", core: str = "", w: int = W,
                 h: int = H) -> str:
    return f"""Object = IsisCube
  Object = Core
    {core}StartByte = {start}
    Format = {fmt}
    {tiles}
    Group = Dimensions
      Samples = {w}
      Lines = {h}
      Bands = {nb}
    End_Group
    Group = Pixels
      Type = {ptype}
      ByteOrder = {order}
      Base = 0.5
      Multiplier = 2.0
    End_Group
  End_Object
  Group = Instrument
    TargetName = Mars
  End_Group
End_Object
End
"""


for _order, _e in (("Lsb", "<"), ("Msb", ">")):
    for _nb in (1, 2):
        def _isis3(order=_order, e=_e, nb=_nb):
            label = _isis3_label("BandSequential", "SignedWord", order, nb, 1025)
            body = _layout(_pix(H, W, nb, e + "i2"), "bsq", e + "i2")
            return PL.isis3_open(_pad(label, 1024) + body)
        case(f"isis3_bsq_{_order.lower()}_nb{_nb}")(_isis3)


for _nb in (1, 2):
    def _isis3_tile(nb=_nb):
        label = _isis3_label("Tile", "Real", "Msb", nb, 1025,
                             tiles="TileSamples = 2\n    TileLines = 3")
        ntiles = 3 * 2 * nb
        body = _pix(ntiles * 6, 1, 1, ">f4").astype(">f4").tobytes()
        return PL.isis3_open(_pad(label, 1024) + body[:-10])
    case(f"isis3_tile_nb{_nb}_truncated_zero_fill")(_isis3_tile)


@case("isis3_detached_core")
def _isis3_detached():
    label = _isis3_label("BandSequential", "UnsignedByte", "Lsb", 1, 1,
                         core='^Core = "cube.cub"\n    ')
    return PL.isis3_open(label.encode(),
                         siblings={"CUBE.CUB": _pix(H, W, 1, "u1").tobytes()})


# ---------------------------------------------------------------------------
# VICAR (writer: BSQ little-endian)
# ---------------------------------------------------------------------------

@case("vicar_writer_bytes")
def _vicar_writer():
    parts = [VI.vicar_encode(_pix(H, W, nb, dt))
             for dt in ("u1", "i2", "i4", "f4", "f8", "c8") for nb in (1, NB)]
    return _bytes_digest(*parts)


for _dt in ("u1", "i2", "i4", "f4", "f8", "c8"):
    for _nb in (1, NB):
        case(f"vicar_roundtrip_{_dt}_nb{_nb}")(
            lambda dt=_dt, nb=_nb: VI.vicar_decode(
                VI.vicar_encode(_pix(H, W, nb, dt))))


def _vicar(fields: dict, body: bytes, recsize: int) -> bytes:
    txt = "  ".join(f"{k}={v}" for k, v in fields.items())
    lblsize = -(-(len(txt) + 16) // recsize) * recsize
    return ("LBLSIZE=%d  " % lblsize + txt).ljust(lblsize).encode() + body


_VICAR_AXES = {"BSQ": lambda: (W, H, NB), "BIL": lambda: (W, NB, H),
               "BIP": lambda: (NB, W, H)}

for _org in ("BSQ", "BIL", "BIP"):
    for _intfmt in ("LOW", "HIGH"):
        def _vicar_org(org=_org, intfmt=_intfmt):
            n1, n2, n3 = _VICAR_AXES[org]()
            nbb, isz = 3, 2
            recsize = nbb + n1 * isz
            e = "<" if intfmt == "LOW" else ">"
            pix = _layout(_pix(H, W, NB, e + "i2"), org.lower(), e + "i2")
            recs = b"".join(b"NBB" + pix[r * n1 * isz:(r + 1) * n1 * isz]
                            for r in range(n2 * n3))
            fields = {"FORMAT": "'HALF'", "TYPE": "'IMAGE'", "ORG": f"'{org}'",
                      "NL": H, "NS": W, "NB": NB, "N1": n1, "N2": n2, "N3": n3,
                      "RECSIZE": recsize, "NBB": nbb, "NLB": 1,
                      "INTFMT": f"'{intfmt}'", "REALFMT": "'IEEE'",
                      "PROPERTY": "'MAP'", "MAP_SCALE": 0.5,
                      "LINE_PROJECTION_OFFSET": 10.0,
                      "SAMPLE_PROJECTION_OFFSET": 20.0,
                      "MAP_PROJECTION_TYPE": "'SINUSOIDAL'"}
            return VI.vicar_decode(_vicar(fields, b"L" * recsize + recs,
                                          recsize))
        case(f"vicar_{_org.lower()}_{_intfmt.lower()}_prefix")(_vicar_org)


for _fmt in ("REAL", "DOUB", "COMP"):
    def _vicar_vax(fmt=_fmt):
        isz = {"REAL": 4, "DOUB": 8, "COMP": 8}[fmt]
        raw = _pix(H, W * isz, NB, "u1")
        body = _layout(raw, "bsq", "u1")
        fields = {"FORMAT": f"'{fmt}'", "ORG": "'BSQ'", "NL": H, "NS": W,
                  "NB": NB, "RECSIZE": W * isz, "NBB": 0, "NLB": 0,
                  "REALFMT": "'VAX'"}
        return VI.vicar_decode(_vicar(fields, body, W * isz))
    case(f"vicar_vax_{_fmt.lower()}")(_vicar_vax)


@case("vicar_truncated_zero_fill")
def _vicar_trunc():
    return VI.vicar_decode(VI.vicar_encode(_pix(H, W, NB, "i2"))[:-17])


# ---------------------------------------------------------------------------
# FITS (writer: big-endian BSQ, bottom-up rows)
# ---------------------------------------------------------------------------

@case("fits_writer_bytes")
def _fits_writer():
    parts = [FT.fits_encode(_pix(H, W, nb, dt), nodata=-5.0,
                            metadata={"OBJECT": "pin"})
             for dt in ("u1", "i2", "u2", "i4", "u4", "f4", "f8")
             for nb in (1, NB)]
    parts.append(FT.fits_encode(_pix(H, W, 1, "f4"), offset=2.0, scale=0.5))
    return _bytes_digest(*parts)


for _dt in ("u1", "i2", "u2", "i4", "u4", "f4", "f8"):
    for _nb in (1, NB):
        case(f"fits_roundtrip_{_dt}_nb{_nb}")(
            lambda dt=_dt, nb=_nb: FT.fits_decode(
                FT.fits_encode(_pix(H, W, nb, dt), nodata=-5.0,
                               offset=None if dt[0] == "u" else 1.0,
                               scale=None if dt[0] == "u" else 0.5,
                               metadata={"TELESCOP": "pin"})))


def _fits_truncated():
    data = FT.fits_encode(_pix(H, W, NB, "i2"))
    _, dstart = FT.fits_parse_cards(data)
    return FT.fits_decode(data[:dstart + H * W * NB * 2 - 1])


PINNED: dict[str, str] = {
    "ace2_5m_f32": "25e324828f5cee85",
    "ace2_conf_i16_truncated_zero_fill": "5960a8820b0fb2de",
    "ace2_untagged_size_from_data": "087d17a548e49e21",
    "byn_i2_be": "b4f2125a0ac6ff5e",
    "byn_i2_le": "b4f2125a0ac6ff5e",
    "byn_i4_be": "fa868e43b1e6729b",
    "byn_i4_le": "fa868e43b1e6729b",
    "byn_truncated_zero_fill": "a47645bea507e5b1",
    "doq2_gray_truncated_zero_fill": "2f11df256dc435db",
    "doq2_rgb_bip": "de97175dad43fc86",
    "ehdr_bil_i": "637bbfd79d8aee09",
    "ehdr_bil_m": "637bbfd79d8aee09",
    "ehdr_bip_i": "637bbfd79d8aee09",
    "ehdr_bip_m": "637bbfd79d8aee09",
    "ehdr_bsq_i": "637bbfd79d8aee09",
    "ehdr_bsq_m": "637bbfd79d8aee09",
    "ehdr_gridfloat_inferred": "1481467e1e649cb6",
    "ehdr_roundtrip_u1": "f20fca311744fdbb",
    "ehdr_writer_bytes": "4eac22e01871bb6e",
    "eir_bil_lsb": "8b087a1db7d71db9",
    "eir_bil_msb": "8b087a1db7d71db9",
    "eir_bip_lsb": "0e4d638c1af327a8",
    "eir_bip_msb": "0e4d638c1af327a8",
    "eir_bsq_lsb": "c2cc9cb6abde100c",
    "eir_bsq_msb": "c2cc9cb6abde100c",
    "eir_nb1_f64": "ca94f36557474054",
    "envi_bil_be_f4": "a12f562c39bee106",
    "envi_bil_be_i2": "de9bf47fa5813f39",
    "envi_bil_le_f4": "a12f562c39bee106",
    "envi_bil_le_i2": "de9bf47fa5813f39",
    "envi_bip_be_f4": "81d0cbca38c85d59",
    "envi_bip_be_i2": "5c5d20baa61c8684",
    "envi_bip_le_f4": "81d0cbca38c85d59",
    "envi_bip_le_i2": "5c5d20baa61c8684",
    "envi_bsq_be_f4": "2f05719a4bcd7bd5",
    "envi_bsq_be_i2": "1d3bd5042b83feb4",
    "envi_bsq_le_f4": "2f05719a4bcd7bd5",
    "envi_bsq_le_i2": "1d3bd5042b83feb4",
    "envi_header_offset_gzip": "a1bde5344f970ce9",
    "envi_nb1_c16": "06b99532b456fe3b",
    "envi_nb1_c8": "d5ff4c622224a4a0",
    "envi_nb1_f8": "f5fa49e92cf83096",
    "envi_nb1_i4": "a85337e9cbbeaa57",
    "envi_nb1_i8": "7c751b7a106c3b9d",
    "envi_nb1_u1": "21a8defd6c9a4c32",
    "envi_nb1_u2": "ba92853d3f015412",
    "envi_nb1_u4": "ba0f4514270600f5",
    "envi_nb1_u8": "4cde5602b0e82186",
    "envi_truncated_zero_fill": "e39c9e422530cfd4",
    "envi_writer_bytes": "b6eda86b4c142659",
    "ers_lsb_f4": "e1f2341b56987261",
    "ers_lsb_i2": "6d960433ba83c560",
    "ers_msb_f4": "e1f2341b56987261",
    "ers_msb_i2": "6d960433ba83c560",
    "ers_nb1_u1": "66bcdb5724df6a0d",
    "ers_truncated_zero_fill": "45bf5913ef7b25ef",
    "fast_16bit_one_truncated": "5a09bc54db94bd44",
    "fast_8bit_one_truncated": "344f0cc7234182a4",
    "fits_roundtrip_f4_nb1": "1cca9d592fde58a3",
    "fits_roundtrip_f4_nb3": "2640736dd077a302",
    "fits_roundtrip_f8_nb1": "0fe5144d33eb6e3a",
    "fits_roundtrip_f8_nb3": "70f488e4889b9034",
    "fits_roundtrip_i2_nb1": "e705a1e1ebcc7824",
    "fits_roundtrip_i2_nb3": "446095e98b2b88c6",
    "fits_roundtrip_i4_nb1": "d1cc7ba3dac1499d",
    "fits_roundtrip_i4_nb3": "bd5523ebe21911c0",
    "fits_roundtrip_u1_nb1": "5fe97928c05e4645",
    "fits_roundtrip_u1_nb3": "bd1f47d64bef0d9a",
    "fits_roundtrip_u2_nb1": "783469106fb25292",
    "fits_roundtrip_u2_nb3": "1c3fed60f8ad5c18",
    "fits_roundtrip_u4_nb1": "e35455dd34441dc9",
    "fits_roundtrip_u4_nb3": "cd46348de56cae04",
    "fits_writer_bytes": "a604e6094a35ccbc",
    "genbin_bil_i": "a511ce09766a9a9c",
    "genbin_bil_m": "8be1c3c66176d449",
    "genbin_bip_i": "689b39bc0c31156d",
    "genbin_bip_m": "02d997b77490b303",
    "genbin_bsq_i": "064bfe1ac0d30ae0",
    "genbin_bsq_m": "4a98e0c470524944",
    "genbin_nb1_f64": "cb5fc46bac990b4c",
    "genbin_truncated_zero_fill": "f1077ad262220539",
    "hkv_nb1_f32": "dd991e180c673db3",
    "hkv_pixel_lsbf": "f6accaa05aa70f49",
    "hkv_pixel_msbf": "e4859e5e19f38e9d",
    "hkv_sequential_lsbf": "2d9df9c8c8f08251",
    "hkv_sequential_msbf": "b23e374b5eb9e841",
    "isce_bil_be": "61c3897237e2cb04",
    "isce_bil_le": "41251aa54e65d2e4",
    "isce_bip_be": "26d824d9f4cdc07c",
    "isce_bip_le": "934c32d3d5e65b63",
    "isce_bsq_be": "b35fb9f19fcdeac3",
    "isce_bsq_le": "f76fa0d7fe715d89",
    "isce_nb1_c8": "ec89716a3189c4f1",
    "isce_writer_bytes": "0cbe157698438815",
    "isis2_pc_real_truncated_zero_fill": "8342bed5d2d382e5",
    "isis2_sun_integer": "a8458ac55f509b4b",
    "isis3_bsq_lsb_nb1": "4263d8967b458190",
    "isis3_bsq_lsb_nb2": "8ccb83b0677519f8",
    "isis3_bsq_msb_nb1": "4263d8967b458190",
    "isis3_bsq_msb_nb2": "8ccb83b0677519f8",
    "isis3_detached_core": "75eb000d3f3dad59",
    "isis3_tile_nb1_truncated_zero_fill": "5fde4079831fb0f6",
    "isis3_tile_nb2_truncated_zero_fill": "70524d31f3ea7fdf",
    "lan_4bit": "d48d30ccdc90be13",
    "lan_t0_nb1_be": "b213d3f96ef72af7",
    "lan_t0_nb1_le": "b213d3f96ef72af7",
    "lan_t0_nb3_be": "635e46efa5606a59",
    "lan_t0_nb3_le": "635e46efa5606a59",
    "lan_t2_nb1_be": "9a6c9d384d9f7380",
    "lan_t2_nb1_le": "09b69975a19bd998",
    "lan_t2_nb3_be": "915b4949eb12e999",
    "lan_t2_nb3_le": "36570a7b40b749e8",
    "lcp_crown_bip": "35f2c1af84eefd6a",
    "lcp_ground_truncated_zero_fill": "068e3623f9d66957",
    "mff_lsb_one_truncated": "ed4a711c8de71192",
    "mff_msb_one_truncated": "a9a833c29240e7a4",
    "mff_tiled_truncated_zero_fill": "417944d43c67f51f",
    "ndf_two_bands_one_truncated": "e0bae2c17413e4d1",
    "pds_bil_lsb_unsigned_integer": "438bd372032f6015",
    "pds_bil_msb_integer": "74f8ec2faa7b9743",
    "pds_bil_pc_real": "4ba091302ea823a2",
    "pds_bip_lsb_unsigned_integer": "438bd372032f6015",
    "pds_bip_msb_integer": "74f8ec2faa7b9743",
    "pds_bip_pc_real": "4ba091302ea823a2",
    "pds_bsq_lsb_unsigned_integer": "438bd372032f6015",
    "pds_bsq_msb_integer": "74f8ec2faa7b9743",
    "pds_bsq_pc_real": "4ba091302ea823a2",
    "pds_bytes_pointer_nb1_u1": "edc5972c4ce590ba",
    "pds_detached_truncated_zero_fill": "3c9f9a152b59e63d",
    "pds_prefix_suffix_nb1_truncated_zero_fill": "59dabe6746a4d928",
    "pds_prefix_suffix_nb2_truncated_zero_fill": "c2a186bdc5ac2216",
    "roipac_dem": "878ef00ce64e3047",
    "roipac_raw": "e23b1337404f8b4b",
    "roipac_slc": "34ccd6df09731f30",
    "roipac_truncated_zero_fill": "30e3775262cdaff2",
    "roipac_unw": "b6bf15f87f083e58",
    "rraster_bil_big": "ac718a5ac452055f",
    "rraster_bil_little": "ac718a5ac452055f",
    "rraster_bip_big": "ac718a5ac452055f",
    "rraster_bip_little": "ac718a5ac452055f",
    "rraster_bsq_big": "ac718a5ac452055f",
    "rraster_bsq_little": "ac718a5ac452055f",
    "rraster_nb1_f4": "8c4beeca8806b622",
    "rraster_writer_bytes": "d8068d96388b277c",
    "snodas": "47ac2357eab65ac3",
    "snodas_missing_dat": "cc5b49a6fdf9e0d7",
    "snodas_truncated_zero_fill": "b10cd2cb12dd6c7e",
    "vicar_bil_high_prefix": "686738d7f2beb4cb",
    "vicar_bil_low_prefix": "c7bf3b4e8a4639f7",
    "vicar_bip_high_prefix": "6b83e3e1c5585cbd",
    "vicar_bip_low_prefix": "8a9c68a5f611d71e",
    "vicar_bsq_high_prefix": "c1e6b187b97892e1",
    "vicar_bsq_low_prefix": "96140df8eb771a25",
    "vicar_roundtrip_c8_nb1": "fbf12f5a11d7f838",
    "vicar_roundtrip_c8_nb3": "93a4d8188d292159",
    "vicar_roundtrip_f4_nb1": "ab031803dbc68680",
    "vicar_roundtrip_f4_nb3": "8082cd2c788ccc6e",
    "vicar_roundtrip_f8_nb1": "0f8fe74c16fa2348",
    "vicar_roundtrip_f8_nb3": "1f94ba3025040cb6",
    "vicar_roundtrip_i2_nb1": "3f4fef4b26362ca8",
    "vicar_roundtrip_i2_nb3": "26b1a069bb72b00b",
    "vicar_roundtrip_i4_nb1": "5e42e51ef8fcafb3",
    "vicar_roundtrip_i4_nb3": "5a628c0faddd5489",
    "vicar_roundtrip_u1_nb1": "72478eba4d2a5ea6",
    "vicar_roundtrip_u1_nb3": "c5202a8742586d90",
    "vicar_truncated_zero_fill": "7fa3799213e6483d",
    "vicar_vax_comp": "c1c9b5ec74b87958",
    "vicar_vax_doub": "508f9430fec942d5",
    "vicar_vax_real": "d419297cfe10fcc1",
    "vicar_writer_bytes": "7bd7a0289d6405f4",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_pinned_output(name):
    assert _digest(CASES[name]()) == PINNED[name]


def test_every_case_is_pinned():
    assert sorted(PINNED) == sorted(CASES)


@pytest.mark.parametrize("fn", [
    _isce_truncated, _eir_truncated, _rraster_truncated, _lan_truncated,
    _hkv_truncated, _ehdr_truncated, _fits_truncated,
], ids=lambda f: f.__name__.strip("_"))
def test_truncated_body_raises(fn):
    with pytest.raises(ValueError):
        fn()


# ---------------------------------------------------------------------------
# rawband primitives
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("interleave", ["bsq", "bil", "bip", "BIL"])
@pytest.mark.parametrize("nb", [1, NB])
def test_raw_write_read_roundtrip(interleave, nb):
    arr = _pix(H, W, nb, "i2")
    body = raw_write(arr, ">i2", interleave)
    assert body == _layout(arr, interleave.lower(), ">i2")
    back = raw_read(b"xy" + body, H, W, nb, ">i2", interleave, 2)
    assert back.dtype == np.dtype("=i2") and back.flags.c_contiguous
    np.testing.assert_array_equal(back, arr)
    flat = np.frombuffer(body, ">i2")
    np.testing.assert_array_equal(raw_layout(flat, H, W, nb, interleave), arr)


def test_raw_read_zero_fill_and_reject():
    body = _layout(_pix(H, W, NB, "u2"), "bil", "<u2")
    filled = raw_read(body[:7], H, W, NB, "<u2", "bil")
    want = np.frombuffer(body[:7] + b"\x00" * (len(body) - 7), "<u2")
    want = want.reshape(H, NB, W).transpose(0, 2, 1)
    np.testing.assert_array_equal(filled, want)
    assert filled.flags.writeable
    with pytest.raises(ValueError):
        raw_read(body[:-1], H, W, NB, "<u2", "bil", zero_fill=False)
    with pytest.raises(ValueError):
        raw_layout(np.zeros(H * W * NB), H, W, NB, "band")


def test_raw_read_ceiling():
    """Spark's binary-cell limit: one byte more cannot be zero-filled."""
    assert MAX_RAW_BYTES == 2**31 - 1
    with pytest.raises(ValueError, match="limit"):
        raw_read(b"", 1, MAX_RAW_BYTES + 1, 1, np.uint8, "bsq")
    assert raw_read(b"\x05", 1, 3, 1, np.uint8, "bsq").tolist() == [[5, 0, 0]]


@pytest.mark.parametrize("dims", [(0, W, 1), (H, -1, 1), (H, W, 0)])
def test_raw_read_rejects_empty_dimensions(dims):
    with pytest.raises(ValueError):
        raw_read(b"\x00" * 64, *dims, np.uint8, "bsq")


# ---------------------------------------------------------------------------
# Hostile headers: a claim beyond MAX_RAW_BYTES over a tiny body raises
# ValueError without allocating the claim. ACE2 has no such case: its
# claim comes from the filename's size tag and is at most 18000^2 float32
# (1.3 GB), under the ceiling.
# ---------------------------------------------------------------------------

BIG = 100_000
_TINY = b"\x01" * 100

HOSTILE = {
    "envi": lambda: EN.envi_decode(
        f"ENVI\nsamples = {BIG}\nlines = {BIG}\nbands = 100\n"
        "header offset = 0\ndata type = 1\ninterleave = bsq\n", _TINY),
    "ers": lambda: MR.ers_decode(
        _ers_hdr("Unsigned8BitInteger", "LSBFirst", 1, 0, BIG, BIG), _TINY),
    "roipac": lambda: MR.roipac_decode(_rsc(BIG, BIG), _TINY, "dem"),
    "genbin": lambda: MR.genbin_decode(
        _genbin_hdr(1, "U8", "I", "BSQ", BIG, BIG), _TINY),
    "byn": lambda: MR.byn_decode(_byn(2, 1, _TINY, 50_000, 50_000)),
    "snodas": lambda: MR.snodas_decode(_snodas(BIG, BIG), _TINY),
    "ndf": lambda: MR.ndf_read(_ndf(BIG, BIG), {"scene.i1": _TINY}),
    "lcp": lambda: MR.lcp_decode(_lcp(21, 21, 10, _TINY, BIG, BIG)),
    "doq2": lambda: RF.doq2_decode(_doq2(32, 0, _TINY, w=25000, h=25000)),
    "mff": lambda: RF.mff_read(_MFF.format(h=BIG, w=BIG, bo="LSB"),
                               {"b00": _TINY}),
    "mff_tiled": lambda: RF.mff_read(
        _MFF.format(h=BIG, w=BIG, bo="LSB")
        + "tile_size_rows = 3\ntile_size_columns = 2\n", {"i00": _TINY}),
    "fast": lambda: RF.fast_read(_fast_header(16, 99999, 99999),
                                 {"band1.dat": _TINY}, "header.dat"),
    "pds": lambda: PL.pds_open(_pad(_pds_label(
        "2", "MSB_INTEGER", 16, 1, "BAND_SEQUENTIAL", h=BIG, w=BIG), 1024)
        + _TINY),
    "pds_prefix": lambda: PL.pds_open(_pad(_pds_label(
        "2", "MSB_INTEGER", 16, 1, "BAND_SEQUENTIAL", prefix=4, h=BIG,
        w=BIG), 1024) + _TINY),
    "isis2": lambda: PL.isis2_open(
        _isis2("SUN_INTEGER", 2, _TINY, items=(BIG, BIG, 1))),
    "isis3": lambda: PL.isis3_open(_pad(_isis3_label(
        "BandSequential", "SignedWord", "Lsb", 1, 1025, w=BIG, h=BIG), 1024)
        + _TINY),
    "isis3_tiled": lambda: PL.isis3_open(_pad(_isis3_label(
        "Tile", "Real", "Msb", 1, 1025, w=BIG, h=BIG,
        tiles="TileSamples = 2\n    TileLines = 3"), 1024) + _TINY),
    "vicar": lambda: VI.vicar_decode(_vicar(
        {"FORMAT": "'BYTE'", "ORG": "'BSQ'", "NL": BIG, "NS": BIG, "NB": 1,
         "RECSIZE": BIG, "NBB": 0, "NLB": 0}, _TINY, 1000)),
}


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_header_rejected_in_bounded_memory(name):
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="limit"):
            HOSTILE[name]()
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 64 * 2**20
