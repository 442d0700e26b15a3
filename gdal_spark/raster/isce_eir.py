"""ISCE (InSAR SCE .slc + .xml) and EIR (Erdas Imagine Raw .hdr)
drivers (frmts/raw/iscedataset.cpp, eirdataset.cpp — re-derived).

ISCE facts: the sidecar XML property list carries WIDTH/LENGTH/
NUMBER_BANDS/DATA_TYPE (BYTE/SHORT/INT/LONG/FLOAT/DOUBLE/CSHORT/CINT/
CFLOAT/CDOUBLE)/SCHEME BIL|BIP|BSQ/BYTE_ORDER l|b; Coordinate1/2
components give the geotransform directly as (start, delta); every
property surfaces in the ISCE metadata domain.

EIR facts: IMAGINE_RAW_FILE keyword header with WIDTH/HEIGHT/
NUM_LAYERS/FORMAT BIL|BIP|BSQ/DATATYPE U1..F64/BYTE_ORDER/DATA_OFFSET
and a PIXEL_FILES data companion.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import numpy as np

from gdal_spark.raster.rawband import raw_read, raw_write

__all__ = ["isce_decode", "isce_encode", "eir_decode"]

_ISCE_DT = {
    "BYTE": "u1", "CHAR": "u1", "SHORT": "i2", "INT": "i4", "LONG": "i8",
    "FLOAT": "f4", "DOUBLE": "f8", "CSHORT": None, "CINT": None,
    "CFLOAT": "c8", "CDOUBLE": "c16",
}
_GDAL2ISCE = {"uint8": "BYTE", "int16": "SHORT", "int32": "INT",
              "int64": "LONG", "float32": "FLOAT", "float64": "DOUBLE",
              "complex64": "CFLOAT", "complex128": "CDOUBLE"}


def _xml_props(xml_text: str) -> tuple[dict, dict]:
    root = ET.fromstring(xml_text)
    props: dict = {}
    coords: dict = {}
    for prop in root.findall("property"):
        val = prop.find("value")
        if val is not None and prop.get("name"):
            props[prop.get("name").upper()] = (val.text or "").strip()
    for comp in root.findall("component"):
        cname = comp.get("name")
        cd = {}
        for prop in comp.findall("property"):
            val = prop.find("value")
            if val is not None and prop.get("name"):
                cd[prop.get("name")] = (val.text or "").strip()
        coords[cname] = cd
    return props, coords


def isce_decode(data: bytes, xml_text: str) -> tuple[np.ndarray, dict]:
    props, coords = _xml_props(xml_text)
    w = int(props["WIDTH"])
    h = int(props["LENGTH"])
    nb = int(props.get("NUMBER_BANDS", "1"))
    dt_name = props.get("DATA_TYPE", "FLOAT").upper()
    code = _ISCE_DT.get(dt_name)
    if code is None:
        raise ValueError(f"unsupported ISCE DATA_TYPE {dt_name}")
    bo = ">" if props.get("BYTE_ORDER", "l").lower().startswith("b") else "<"
    scheme = props.get("SCHEME", "BIP").upper()
    arr = raw_read(data, h, w, nb, bo + code,
                   scheme if scheme in ("BIL", "BSQ") else "BIP",
                   zero_fill=False)
    meta: dict = {"metadata": props, "scheme": scheme}
    c1 = coords.get("Coordinate1")
    c2 = coords.get("Coordinate2")
    if c1 and c2 and "startingValue" in c1 and "startingValue" in c2:
        meta["gt"] = (float(c1["startingValue"]), float(c1["delta"]), 0.0,
                      float(c2["startingValue"]), 0.0, float(c2["delta"]))
    return arr, meta


def isce_encode(arr: np.ndarray, gt: tuple | None = None,
                image_type: str = "slc") -> tuple[bytes, str]:
    """-> (raw bytes, sidecar XML)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nb = arr.shape
    dt_name = _GDAL2ISCE[arr.dtype.newbyteorder("=").name]
    body = raw_write(arr, arr.dtype.newbyteorder("<"), "bip")

    def prop(name, value):
        return ('    <property name="%s">\n        <value>%s</value>\n'
                "    </property>\n" % (name, value))

    xml = ["<imageFile>\n"]
    xml.append(prop("BYTE_ORDER", "l"))
    xml.append(prop("DATA_TYPE", dt_name))
    xml.append(prop("IMAGE_TYPE", image_type))
    xml.append(prop("WIDTH", w))
    xml.append(prop("LENGTH", h))
    xml.append(prop("NUMBER_BANDS", nb))
    xml.append(prop("SCHEME", "BIP"))
    if gt is not None:
        for cname, start, delta in (("Coordinate1", gt[0], gt[1]),
                                    ("Coordinate2", gt[3], gt[5])):
            xml.append('    <component name="%s">\n' % cname)
            xml.append("    " + prop("startingValue", repr(start)))
            xml.append("    " + prop("delta", repr(delta)))
            xml.append("    </component>\n")
    xml.append("</imageFile>\n")
    return body, "".join(xml)


_EIR_DT = {"U1": "u1", "U2": "u1", "U4": "u1", "U8": "u1",
           "U16": "u2", "U32": "u4", "S16": "i2", "S32": "i4",
           "F32": "f4", "F64": "f8"}


def eir_decode(hdr_text: str, data: bytes) -> tuple[np.ndarray, dict]:
    if "IMAGINE_RAW_FILE" not in hdr_text:
        raise ValueError("not an Erdas Imagine Raw header")
    kv: dict = {}
    for line in hdr_text.splitlines():
        toks = line.split()
        if len(toks) >= 2:
            kv[toks[0].upper()] = toks[1]
    w = int(kv["WIDTH"])
    h = int(kv["HEIGHT"])
    nb = int(kv.get("NUM_LAYERS", "1"))
    dt_name = kv.get("DATATYPE", "U8").upper()
    code = _EIR_DT.get(dt_name)
    if code is None:
        raise ValueError(f"unsupported EIR DATATYPE {dt_name}")
    bo = ">" if kv.get("BYTE_ORDER", "LSB").upper() == "MSB" else "<"
    off = int(kv.get("DATA_OFFSET", "0"))
    fmt = kv.get("FORMAT", "BIL").upper()
    arr = raw_read(data, h, w, nb, bo + code,
                   fmt if fmt in ("BIP", "BSQ") else "BIL", off,
                   zero_fill=False)
    return arr, {"format": fmt, "pixel_files": kv.get("PIXEL_FILES")}
