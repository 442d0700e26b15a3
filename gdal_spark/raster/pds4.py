"""PDS4 (Planetary Data System v4) label reader.

Re-expresses frmts/pds4/pds4dataset.cpp's read path: the
Product_Observational XML label with File_Area_Observational
Array_2D/Array_3D objects (axis resolution by Band/Line/Sample names
and sequence numbers, the PDS4 data-type ladder incl. MSB/LSB integer
and IEEE754 variants, byte offsets, Special_Constants with the
hexadecimal missing-constant bit patterns, scaling_factor /
value_offset), the cart: Cartography block (Geo_Transformation
upperleft corner + pixel resolutions with km/m unit scaling, the
Oblique Cylindrical axis swap, projection name + parameters, geodetic
model radii), browse products (File_Area_Browse Encoded_Image PNG)
and GeoTIFF-backed file areas read through the engine's own codecs.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

import numpy as np

__all__ = ["pds4_open", "PDS4Dataset"]

_DTYPES = {
    "UnsignedByte": np.dtype("u1"),
    "SignedByte": np.dtype("i1"),
    "UnsignedLSB2": np.dtype("<u2"), "UnsignedMSB2": np.dtype(">u2"),
    "SignedLSB2": np.dtype("<i2"), "SignedMSB2": np.dtype(">i2"),
    "UnsignedLSB4": np.dtype("<u4"), "UnsignedMSB4": np.dtype(">u4"),
    "SignedLSB4": np.dtype("<i4"), "SignedMSB4": np.dtype(">i4"),
    "UnsignedLSB8": np.dtype("<u8"), "UnsignedMSB8": np.dtype(">u8"),
    "SignedLSB8": np.dtype("<i8"), "SignedMSB8": np.dtype(">i8"),
    "IEEE754LSBSingle": np.dtype("<f4"), "IEEE754MSBSingle": np.dtype(">f4"),
    "IEEE754LSBDouble": np.dtype("<f8"), "IEEE754MSBDouble": np.dtype(">f8"),
    "ComplexLSB8": np.dtype("<c8"), "ComplexMSB8": np.dtype(">c8"),
    "ComplexLSB16": np.dtype("<c16"), "ComplexMSB16": np.dtype(">c16"),
}


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find(el, name):
    for c in el.iter():
        if _strip(c.tag) == name:
            return c
    return None


def _findall(el, name):
    return [c for c in el.iter() if _strip(c.tag) == name]


def _text(el, name, default=None):
    c = _find(el, name)
    return c.text.strip() if c is not None and c.text else default


def _unit_scale(el) -> float:
    unit = (el.get("unit") or "").lower()
    if unit.startswith("km"):
        return 1000.0
    return 1.0


def _decode_special(value: str, dtype: np.dtype):
    """missing_constant: decimal, or a 0x bit pattern of the type."""
    value = value.strip()
    if value.lower().startswith("0x"):
        raw = int(value, 16).to_bytes(dtype.itemsize, "big")
        return float(np.frombuffer(raw, dtype.newbyteorder(">"))[0])
    return float(value)


class PDS4Array:
    def __init__(self, label_dir, file_name, arr_el):
        self.file_name = file_name
        self.path = os.path.join(label_dir, file_name)
        self.offset = int(_text(arr_el, "offset", "0"))
        dt_name = _text(arr_el, "data_type", "UnsignedByte")
        if dt_name not in _DTYPES:
            raise ValueError(f"unsupported PDS4 data type {dt_name}")
        self.dtype = _DTYPES[dt_name]
        self.scaling = float(_text(arr_el, "scaling_factor", "1"))
        self.value_offset = float(_text(arr_el, "value_offset", "0"))
        # axes ordered by sequence_number (Last Index Fastest)
        axes = []
        for ax in _findall(arr_el, "Axis_Array"):
            axes.append((
                int(_text(ax, "sequence_number", "0")),
                (_text(ax, "axis_name", "") or "").lower(),
                int(_text(ax, "elements", "0")),
            ))
        axes.sort()
        self.axis_names = [n for _, n, _ in axes]
        self.axis_sizes = [s for _, _, s in axes]
        sc = _find(arr_el, "Special_Constants")
        self.nodata = None
        if sc is not None:
            mc = _text(sc, "missing_constant")
            if mc is not None:
                self.nodata = _decode_special(mc, self.dtype)
        # band/line/sample mapping
        names = self.axis_names
        self.band_axis = names.index("band") if "band" in names else None
        self.line_axis = names.index("line") if "line" in names else (
            0 if self.band_axis != 0 and len(names) >= 2 else
            (1 if len(names) == 3 else 0)
        )
        self.sample_axis = names.index("sample") if "sample" in names \
            else len(names) - 1

    @property
    def shape(self):
        return tuple(self.axis_sizes)

    @property
    def width(self):
        return self.axis_sizes[self.sample_axis]

    @property
    def height(self):
        return self.axis_sizes[self.line_axis]

    @property
    def bands(self):
        return self.axis_sizes[self.band_axis] \
            if self.band_axis is not None else 1

    def read(self) -> np.ndarray:
        """-> (bands, height, width) in native value space."""
        data = open(self.path, "rb").read()
        n = int(np.prod(self.axis_sizes))
        a = np.frombuffer(data, self.dtype, n, self.offset).reshape(
            self.axis_sizes
        )
        order = []
        if self.band_axis is not None:
            order.append(self.band_axis)
        order.append(self.line_axis)
        order.append(self.sample_axis)
        a = np.transpose(a, order)
        if self.band_axis is None:
            a = a[None, ...]
        return a


class PDS4Dataset:
    def __init__(self, label_path: str):
        self.label_path = label_path
        xml = open(label_path, "rb").read()
        # tolerate leading bytes (BOM / stray text) before the declaration
        idx = xml.find(b"<?xml")
        if idx > 0:
            xml = xml[idx:]
        elif idx < 0:
            idx2 = xml.find(b"<Product")
            if idx2 > 0:
                xml = xml[idx2:]
        self.label_xml = xml.decode("utf-8", "replace")
        root = ET.fromstring(xml)
        label_dir = os.path.dirname(os.path.abspath(label_path))

        self.arrays: list[PDS4Array] = []
        self.image_file = None       # PNG / GeoTIFF-backed file area
        self.image_kind = None
        for fa in list(root):
            t = _strip(fa.tag)
            if t not in ("File_Area_Observational", "File_Area_Browse"):
                continue
            fname = _text(fa, "file_name")
            for child in fa.iter():
                ct = _strip(child.tag)
                if ct in ("Array_2D", "Array_3D", "Array_2D_Image",
                          "Array_3D_Image", "Array_3D_Spectrum"):
                    self.arrays.append(PDS4Array(label_dir, fname, child))
                elif ct in ("Encoded_Image", "Encoded_Binary"):
                    self.image_file = os.path.join(label_dir, fname)
                    self.image_kind = (
                        "tiff" if fname.lower().endswith((".tif", ".tiff"))
                        else "png"
                    )
            if not self.arrays and self.image_file is None and fname and \
                    fname.lower().endswith((".tif", ".tiff")):
                self.image_file = os.path.join(label_dir, fname)
                self.image_kind = "tiff"

        self._parse_cartography(root)

    # -- cartography ---------------------------------------------------
    def _parse_cartography(self, root):
        self.geotransform = None
        self.projection = None
        self.projection_params = {}
        self.radii = None
        cart = None
        for el in root.iter():
            if _strip(el.tag) == "Cartography":
                cart = el
                break
        if cart is None:
            return
        self.projection = _text(cart, "map_projection_name")
        proj_el = _find(cart, "Map_Projection")
        if proj_el is not None:
            for c in proj_el.iter():
                t = _strip(c.tag)
                if c.text and c.text.strip() and t not in (
                    "map_projection_name",
                ):
                    try:
                        self.projection_params[t] = float(c.text.strip())
                    except ValueError:
                        self.projection_params[t] = c.text.strip()
        gm = _find(cart, "Geodetic_Model")
        if gm is not None:
            def radius(name):
                c = _find(gm, name)
                if c is None or not c.text:
                    return None
                return float(c.text.strip()) * _unit_scale(c)

            self.radii = {
                # newer carts: semi_major/minor/polar; older: a/b/c axis
                "semi_major": radius("semi_major_radius")
                or radius("a_axis_radius"),
                "semi_minor": radius("semi_minor_radius")
                or radius("b_axis_radius"),
                "polar": radius("polar_radius") or radius("c_axis_radius"),
                "spheroid": _text(gm, "spheroid_name"),
            }
        ulx_el = _find(cart, "upperleft_corner_x")
        uly_el = _find(cart, "upperleft_corner_y")
        rx_el = _find(cart, "pixel_resolution_x")
        ry_el = _find(cart, "pixel_resolution_y")
        if None in (ulx_el, uly_el, rx_el, ry_el):
            return
        ulx = float(ulx_el.text) * _unit_scale(ulx_el)
        uly = float(uly_el.text) * _unit_scale(uly_el)
        rx = float(rx_el.text) * _unit_scale(rx_el)
        ry = float(ry_el.text) * _unit_scale(ry_el)
        if self.projection == "Oblique Cylindrical":
            # the reference swaps axes (and negates the along-track
            # origin) for oblique cylindrical
            self.geotransform = (-uly, 0.0, rx, ulx, ry, 0.0)
        else:
            self.geotransform = (ulx, rx, 0.0, uly, 0.0, -ry)

    # -- raster access --------------------------------------------------
    @property
    def width(self):
        if self.arrays:
            return self.arrays[0].width
        return self._image_dims()[1]

    @property
    def height(self):
        if self.arrays:
            return self.arrays[0].height
        return self._image_dims()[0]

    @property
    def band_count(self):
        if self.arrays:
            return self.arrays[0].bands
        return self._image_dims()[2]

    def _image_dims(self):
        if self.image_kind == "png":
            from gdal_spark.functions.codecs import decode_image

            a = decode_image(open(self.image_file, "rb").read(), "png")
            return (a.shape[0], a.shape[1],
                    a.shape[2] if a.ndim == 3 else 1)
        if self.image_kind == "tiff":
            # header-only: don't materialize a potentially huge payload
            from gdal_spark.functions.tiff import _read_ifd, tiff_header

            data = open(self.image_file, "rb").read()
            bo, big, off = tiff_header(data)
            tags = _read_ifd(data, bo, off, big)
            return (tags[257][1][0], tags[256][1][0],
                    tags.get(277, (0, [1]))[1][0])
        raise ValueError("no image file area")

    def read(self) -> np.ndarray:
        """(bands, h, w) — raw array, browse PNG or GeoTIFF payload."""
        if self.arrays:
            return self.arrays[0].read()
        if self.image_kind == "png":
            from gdal_spark.functions.codecs import decode_image

            a = decode_image(open(self.image_file, "rb").read(), "png")
            return a[None, ...] if a.ndim == 2 else np.moveaxis(a, 2, 0)
        if self.image_kind == "tiff":
            from gdal_spark.functions.tiff import tiff_parse

            a, _ = tiff_parse(open(self.image_file, "rb").read())
            return a[None, ...] if a.ndim == 2 else np.moveaxis(a, 2, 0)
        raise ValueError("no raster payload")

    @property
    def nodata(self):
        return self.arrays[0].nodata if self.arrays else None

    @property
    def file_list(self):
        out = [self.label_path]
        if self.arrays:
            out.append(self.arrays[0].path)
        elif self.image_file:
            out.append(self.image_file)
        return out


def pds4_open(path: str) -> PDS4Dataset:
    head = open(path, "rb").read(2048)
    if b"Product_Observational" not in head and b"Product_Browse" not in head:
        raise ValueError("not a PDS4 label")
    return PDS4Dataset(path)
