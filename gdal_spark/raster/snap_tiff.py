"""SNAP_TIFF (ESA SNAP BEAM-DIMAP GeoTIFF) driver.

Re-expresses frmts/snap_tiff/snaptiffdriver.cpp: a classic TIFF whose
private DIMAP tag (65000) carries the BEAM-DIMAP document and whose
GeoTIFFTiePoints tag (33922) holds a dense, regularly spaced
geolocation array.  The driver validates the array exactly like the
reference (pixel/line 0.5 origin, constant pixel spacing across the
first three rows, spacing * (n-1) == size-1 within 1e-3), exposes the
four corner tie points as TL/TR/BL/BR GCPs, derives the GEOLOCATION
PIXEL_STEP/LINE_STEP from the spacings, and pulls band metadata
(NO_DATA_VALUE_USED/NO_DATA_VALUE, SCALING_FACTOR/OFFSET, BAND_NAME,
PHYSICAL_UNIT) from the first Spectral_Band_Info block of the DIMAP.

Identify: classic little/big-endian TIFF + the DIMAP tag present.
"""

from __future__ import annotations

import math
import re

__all__ = ["snap_tiff_open", "SNAPTiff"]

_DIMAP_TAG = 65000
_TIEPOINTS_TAG = 33922
_IMAGE_DESCRIPTION = 270
_GEOKEY_DIR = 34735


class SNAPTiff:
    def __init__(self, data: bytes):
        from gdal_spark.functions.tiff import _read_ifd, tiff_header

        bo, big, ifd_off = tiff_header(data)
        if big:
            raise ValueError("not a classic TIFF")
        tags = _read_ifd(data, bo, ifd_off)
        if _DIMAP_TAG not in tags:
            raise ValueError("not a SNAP BEAM-DIMAP TIFF")
        self.width = tags[256][1][0]
        self.height = tags[257][1][0]
        bps = tags.get(258, (0, [8]))[1][0]
        fmt = tags.get(339, (0, [1]))[1][0]
        self.dtype_name = {
            (32, 3): "Float32", (64, 3): "Float64",
            (8, 1): "Byte", (16, 1): "UInt16", (32, 1): "UInt32",
            (16, 2): "Int16", (32, 2): "Int32",
        }.get((bps, fmt), "Byte")
        self.samples = tags.get(277, (0, [1]))[1][0]
        self.image_description = tags.get(_IMAGE_DESCRIPTION, (0, [""]))[1][0]
        self.dimap = tags[_DIMAP_TAG][1][0]

        # geographic EPSG from the GeoKey directory (GeographicTypeGeoKey)
        self.epsg = None
        if _GEOKEY_DIR in tags:
            kv = tags[_GEOKEY_DIR][1]
            for i in range(4, len(kv) - 3, 4):
                if kv[i] == 2048:
                    self.epsg = kv[i + 3]

        # band metadata from the first Spectral_Band_Info block
        self.nodata = None
        self.scale, self.offset = 1.0, 0.0
        self.band_name = ""
        self.unit = ""
        m = re.search(r"<Spectral_Band_Info>.*?</Spectral_Band_Info>",
                      self.dimap[:10000], re.S)
        if m:
            block = m.group(0)

            def val(tag):
                mm = re.search(rf"<{tag}>([^<]*)</{tag}>", block)
                return mm.group(1).strip() if mm else None

            used = val("NO_DATA_VALUE_USED")
            nd = val("NO_DATA_VALUE")
            if used and nd and used.lower() in ("true", "1", "yes", "on"):
                self.nodata = float(nd)
            if val("SCALING_FACTOR") is not None:
                self.scale = float(val("SCALING_FACTOR"))
            if val("SCALING_OFFSET") is not None:
                self.offset = float(val("SCALING_OFFSET"))
            self.band_name = val("BAND_NAME") or ""
            self.unit = val("PHYSICAL_UNIT") or ""

        # geolocation array (GetGeolocationMetadata)
        self.gcps = []
        self.pixel_step = self.line_step = None
        self.geoloc_size = None
        if _TIEPOINTS_TAG in tags:
            vals = tags[_TIEPOINTS_TAG][1]
            self._geoloc_from_tiepoints(vals)

    def _geoloc_from_tiepoints(self, vals):
        n = len(vals)
        if n % 6:
            return
        num = n // 6
        gw = int(round(math.sqrt(self.width * num / self.height)))
        gh = int(round(math.sqrt(self.height * num / self.width)))
        if gw * gh != num or gh < 3:
            return
        per_line = gw * 6
        if vals[1] != 0.5 and vals[0] != 0.5:
            return
        pixel_spacing = vals[6 + 0] - vals[0]
        if not pixel_spacing >= 1:
            return
        if abs(pixel_spacing * (gw - 1) - (self.width - 1)) > 1e-3:
            return
        ys = []
        for line in range(3):
            ys.append(vals[line * per_line + 1])
            for i in range(line * per_line + 6, (line + 1) * per_line, 6):
                if vals[i + 1] != vals[i - 6 + 1]:
                    return
                sp = vals[i] - vals[i - 6]
                if abs(sp - pixel_spacing) > 1e-5 * abs(pixel_spacing):
                    return
        line_spacing = ys[1] - ys[0]
        if not line_spacing >= 1:
            return
        if abs(line_spacing * (gh - 1) - (self.height - 1)) > 1e-3:
            return
        if abs((ys[2] - ys[1]) - line_spacing) > 1e-5 * abs(line_spacing):
            return
        last = vals[(gh - 1) * per_line : gh * per_line]
        shift = per_line - 6
        # (id, pixel, line, x, y, z)
        self.gcps = [
            ("TL", vals[0], vals[1], vals[3], vals[4], vals[5]),
            ("TR", vals[shift + 0], vals[shift + 1], vals[shift + 3],
             vals[shift + 4], vals[shift + 5]),
            ("BL", last[0], last[1], last[3], last[4], last[5]),
            ("BR", last[shift + 0], last[shift + 1], last[shift + 3],
             last[shift + 4], last[shift + 5]),
        ]
        self.pixel_step = pixel_spacing
        self.line_step = line_spacing
        self.geoloc_size = (gw, gh)

    def geolocation_metadata(self, name: str) -> dict:
        """GEOLOCATION metadata domain (X/Y_DATASET use the
        SNAP_TIFF:"name":GEOLOCATION subdataset syntax)."""
        if self.pixel_step is None:
            return {}
        sub = f'SNAP_TIFF:"{name}":GEOLOCATION'
        return {
            "LINE_OFFSET": "0",
            "LINE_STEP": "%.17g" % self.line_step,
            "PIXEL_OFFSET": "0",
            "PIXEL_STEP": "%.17g" % self.pixel_step,
            "X_BAND": "1",
            "X_DATASET": sub,
            "Y_BAND": "2",
            "Y_DATASET": sub,
        }


def snap_tiff_open(data: bytes) -> SNAPTiff:
    return SNAPTiff(data)
