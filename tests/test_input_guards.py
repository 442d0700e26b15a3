"""Checks on outside input raise ValueError, not asserts that
``python -O`` strips (shapefile .shx/.dbf count, GeoPackage blob magic,
FlatGeobuf magic, OGR VRT root element, gdalenhance LUT lines, NTv2
grid band count)."""

from __future__ import annotations

import struct
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from gdal_spark.raster import enhance, shiftgrids
from gdal_spark.sources import flatgeobuf, ogrvrt
from gdal_spark.sources import vector_formats as VF


def _shx_dbf_mismatch(tmp: Path):
    # two .shx records against a .dbf header that claims three
    (tmp / "t.shx").write_bytes(bytes(100) + struct.pack(">ii", 50, 4) * 2)
    (tmp / "t.dbf").write_bytes(struct.pack("<4xIHH20x", 3, 33, 1) + b"\r")
    VF.read_shapefile(None, str(tmp / "t.shp"))


def _gpkg_blob_magic(tmp: Path):
    VF._gpkg_unblob(b"XP\x00\x01" + bytes(16))


def _fgb_magic(tmp: Path):
    flatgeobuf.parse_header(b"fgc\x03fgb\x00" + bytes(16))


def _vrt_root(tmp: Path):
    ogrvrt.read_ogrvrt(None, "<OGRVRTLayer/>")


def _lut_blank_line(tmp: Path):
    enhance.parse_luts("1:Band -0.5:ScaleMin 255.5:ScaleMax 0 1\n\n"
                       "2:Band -0.5:ScaleMin 255.5:ScaleMax 0 1\n")


def _lut_band_tag(tmp: Path):
    enhance.parse_luts("1 -0.5:ScaleMin 255.5:ScaleMax 0 1\n")


def _ntv2_bands(tmp: Path):
    # a 3-band grid: the writer's records hold 4 floats per node
    shiftgrids.ntv2_encode(np.zeros((2, 2, 3)), (0.0, 1.0, 0.0, 2.0, 0.0, -1.0))


GUARDS = {f.__name__: f for f in (_shx_dbf_mismatch, _gpkg_blob_magic,
                                  _fgb_magic, _vrt_root, _lut_blank_line,
                                  _lut_band_tag, _ntv2_bands)}


def raised(tmp: Path) -> list[str]:
    """Names of the guards that raise ValueError."""
    out = []
    for name, fn in GUARDS.items():
        try:
            fn(tmp)
        except ValueError:
            out.append(name)
        except Exception:
            pass
    return out


@pytest.mark.parametrize("name", sorted(GUARDS))
def test_guard_raises_value_error(name, tmp_path):
    with pytest.raises(ValueError):
        GUARDS[name](tmp_path)


def test_guards_survive_optimized_mode(tmp_path):
    root = Path(VF.__file__).resolve().parents[2]
    code = ("import sys, pathlib, tests.test_input_guards as t; "
            "print(','.join(t.raised(pathlib.Path(sys.argv[1]))))")
    out = subprocess.run([sys.executable, "-O", "-c", code, str(tmp_path)],
                         capture_output=True, check=True, cwd=root)
    assert out.stdout.decode().strip().split(",") == list(GUARDS)
