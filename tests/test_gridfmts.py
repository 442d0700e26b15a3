"""Geo-grid formats: AAIGrid (raster/asciigrid.py), ENVI (raster/envi.py),
XYZ and SRTM HGT (functions/gridfmts.py) — round-trips, georeferencing,
nodata, the distributed loader, a VRT over an .asc source, and
cross-format conversion."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.functions import gridfmts as GF
from gdal_spark.raster import vrt as V
from gdal_spark.raster.asciigrid import aaig_decode, aaig_encode
from gdal_spark.raster.envi import envi_decode, envi_encode

rng = np.random.default_rng(11)


@pytest.fixture()
def dem():
    arr = np.round(rng.uniform(-50, 500, (12, 9)), 4)
    gt = (102.5, 0.25, 0.0, 47.75, 0.0, -0.25)
    return arr, gt


def test_aaigrid_roundtrip(dem):
    arr, gt = dem
    raw = aaig_encode(arr, gt, nodata=-9999.0)
    back, meta = aaig_decode(raw, datatype="Float64")
    gt2, nod = meta["gt"], meta["nodata"]
    np.testing.assert_array_equal(back, arr)
    np.testing.assert_allclose(gt2, gt, atol=1e-12)
    assert nod == -9999.0


def test_aaigrid_foreign_header_variants():
    txt = b"""ncols 3\nnrows 2\nxllcenter 10.5\nyllcenter 20.5\ncellsize 1.0\n1 2 3\n4 5 6\n"""
    arr, meta = aaig_decode(txt, datatype="Float64")
    gt, nod = meta["gt"], meta["nodata"]
    assert arr.shape == (2, 3) and arr[1, 2] == 6.0
    assert gt[0] == 10.0 and gt[3] == 22.0  # center -> corner conversion
    assert nod is None


def test_xyz_roundtrip(dem):
    arr, gt = dem
    raw = GF.xyz_encode(arr, gt)
    back, gt2, _ = GF.xyz_decode(raw)
    np.testing.assert_array_equal(back, arr)
    np.testing.assert_allclose(gt2, gt, atol=1e-9)


def test_envi_roundtrip_and_big_endian(dem):
    arr, gt = dem
    hdr, raw = envi_encode(arr, gt, nodata=-1.0)
    back, meta = envi_decode(hdr, raw)
    gt2, nod = meta["gt"], meta["nodata"]
    np.testing.assert_array_equal(back, arr)
    np.testing.assert_allclose(gt2, gt, atol=1e-12)
    assert nod == -1.0
    # foreign big-endian float32 file
    be = arr.astype(">f4").tobytes()
    hdr_be = hdr.replace("data type = 5", "data type = 4").replace(
        "byte order = 0", "byte order = 1"
    )
    back2, _ = envi_decode(hdr_be, be)
    np.testing.assert_allclose(back2, arr, atol=1e-2)


def test_hgt_roundtrip_and_georef():
    n = 121
    arr = np.round(rng.uniform(0, 4000, (n, n)))
    arr[3, 4] = np.nan  # void cell
    raw = GF.hgt_encode(arr)
    back, gt, nod = GF.hgt_decode(raw, "N51E007.hgt")
    assert nod == GF.HGT_VOID
    assert back[3, 4] == GF.HGT_VOID
    mask = ~np.isnan(arr)
    np.testing.assert_array_equal(back[mask], arr[mask])
    # SW corner georef: sample centers span exactly [7..8] x [51..52]
    step = 1.0 / (n - 1)
    assert gt[0] + 0.5 * gt[1] == pytest.approx(7.0)
    assert gt[3] + 0.5 * gt[5] == pytest.approx(52.0)
    assert gt[0] + (n - 0.5) * gt[1] == pytest.approx(8.0, abs=1e-9)
    assert step == pytest.approx(gt[1])
    # southern/western hemisphere name
    _, gt2, _ = GF.hgt_decode(raw, "S34W059.hgt")
    assert gt2[0] + 0.5 * gt2[1] == pytest.approx(-59.0)
    assert gt2[3] + 0.5 * gt2[5] == pytest.approx(-33.0)


def test_cross_format_conversion_preserves_values(dem):
    arr, gt = dem
    a, ameta = aaig_decode(aaig_encode(arr, gt), datatype="Float64")
    x, xgt, _ = GF.xyz_decode(GF.xyz_encode(a, ameta["gt"]))
    hdr, raw = envi_encode(x, xgt)
    e, emeta = envi_decode(hdr, raw)
    egt = emeta["gt"]
    np.testing.assert_array_equal(e, arr)
    np.testing.assert_allclose(egt, gt, atol=1e-9)


def test_read_grid_files_distributed(spark, tmp_path, dem):
    arr, gt = dem
    files = []
    p1 = str(tmp_path / "a.asc")
    open(p1, "w").write(aaig_encode(arr, gt, nodata=-9999.0))
    files.append((p1, "aaigrid"))
    p2 = str(tmp_path / "b.xyz")
    open(p2, "wb").write(GF.xyz_encode(arr, gt))
    files.append((p2, "xyz"))
    hdr, raw = envi_encode(arr, gt)
    p3 = str(tmp_path / "c.dat")
    open(p3, "wb").write(raw)
    open(str(tmp_path / "c.hdr"), "w").write(hdr)
    files.append((p3, "envi"))
    sq = np.round(rng.uniform(0, 100, (61, 61)))
    p4 = str(tmp_path / "N10E020.hgt")
    open(p4, "wb").write(GF.hgt_encode(sq))
    files.append((p4, "hgt"))

    df = GF.read_grid_files(spark, files, num_partitions=2)
    rows = {r["fmt"]: r for r in df.collect()}
    assert set(rows) == {"aaigrid", "xyz", "envi", "hgt"}
    for fmt in ("aaigrid", "xyz", "envi"):
        r = rows[fmt]
        got = np.frombuffer(bytes(r["data"]), "<f8").reshape(r["h"], r["w"])
        np.testing.assert_array_equal(got, arr)
        np.testing.assert_allclose(r["gt"], list(gt), atol=1e-9)
    r = rows["hgt"]
    got = np.frombuffer(bytes(r["data"]), "<f8").reshape(r["h"], r["w"])
    np.testing.assert_array_equal(got, sq)
    assert rows["aaigrid"]["nodata"] == -9999.0


def test_vrt_asc_source_renders_float64_grid(tmp_path, dem):
    arr, gt = dem
    open(str(tmp_path / "dem.asc"), "w").write(aaig_encode(arr, gt))
    h, w = arr.shape
    xml = f"""<VRTDataset rasterXSize="{w}" rasterYSize="{h}">
  <VRTRasterBand dataType="Float64" band="1">
    <SimpleSource>
      <SourceFilename relativeToVRT="1">dem.asc</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="{w}" ySize="{h}"/>
      <DstRect xOff="0" yOff="0" xSize="{w}" ySize="{h}"/>
    </SimpleSource>
  </VRTRasterBand>
</VRTDataset>"""
    out = V.render_vrt(xml, str(tmp_path))
    assert out.shape == (1, h, w) and out.dtype == np.float64
    np.testing.assert_array_equal(out[0], arr)
