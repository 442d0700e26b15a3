"""Curved-geometry WKB + linearization tests — functions/curves.py.

Point-for-point parity with the reference's stroking on the autotest
ogr/ogr_geom.py cases (OGR_ARC_STEPSIZE=45 expected LINESTRINGs),
plus WKB structure handling for ISO types 8-12 and the default 4-deg
step geometry properties."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from gdal_spark.functions import curves as CV
from gdal_spark.functions import wkb as W


def _pts(txt: str) -> np.ndarray:
    return np.array([[float(v) for v in p.split()] for p in txt.split(",")])


def test_autotest_stroke_45_quarter():
    # ogr_geom.py: CIRCULARSTRING (0 0,1 1,1 -1) @ step 45
    exp = _pts(
        "0 0,0.218168517531969 0.623489801858729,"
        "0.777479066043687 0.974927912181831,"
        "1.433883739117561 0.900968867902435,"
        "1.900968867902463 0.433883739117562,"
        "1.974927912181821 -0.222520933956316,"
        "1.623489801858719 -0.78183148246804,1 -1")
    got = CV.circularstring_points(np.array([[0, 0], [1, 1], [1, -1]],
                                            float), 45.0)
    assert np.abs(got - exp).max() < 1e-12


def test_autotest_stroke_full_circle_3pt():
    # 3-point full circle: counter-clockwise like PostGIS
    exp = _pts(
        "0 0,0.116977778440514 -0.321393804843282,"
        "0.413175911166547 -0.49240387650611,0.75 -0.433012701892224,"
        "0.969846310392967 -0.171010071662835,"
        "0.969846310392967 0.171010071662835,0.75 0.433012701892224,"
        "0.413175911166547 0.49240387650611,"
        "0.116977778440514 0.321393804843282,0 0")
    got = CV.circularstring_points(np.array([[0, 0], [1, 0], [0, 0]],
                                            float), 45.0)
    assert np.abs(got - exp).max() < 1e-12


def test_autotest_stroke_full_circle_5pt():
    exp = _pts(
        "0 0,0.049515566048791 0.216941869558781,"
        "0.188255099070638 0.390915741234018,"
        "0.388739533021848 0.48746395609092,"
        "0.611260466978166 0.48746395609092,"
        "0.811744900929369 0.390915741234018,"
        "0.950484433951232 0.216941869558781,1 0,"
        "0.950484433951232 -0.216941869558781,"
        "0.811744900929369 -0.390915741234018,"
        "0.611260466978166 -0.48746395609092,"
        "0.388739533021848 -0.48746395609092,"
        "0.188255099070638 -0.390915741234018,"
        "0.049515566048791 -0.216941869558781,0 0")
    got = CV.circularstring_points(
        np.array([[0, 0], [0.5, 0.5], [1, 0], [0.5, -0.5], [0, 0]], float),
        45.0)
    assert got.shape == exp.shape
    assert np.abs(got - exp).max() < 1e-12


def test_direction_symmetry():
    fwd = CV.circularstring_points(np.array([[0, 0], [1, 1], [2, 0]], float))
    rev = CV.circularstring_points(np.array([[2, 0], [1, 1], [0, 0]], float))
    assert np.array_equal(fwd, rev[::-1])


def test_collinear_degrades_to_polyline():
    got = CV.circularstring_points(np.array([[0, 0], [1, 1], [2, 2]], float))
    assert np.array_equal(got, [[0, 0], [1, 1], [2, 2]])


def test_default_step_properties():
    # default 4-degree step over a semicircle: >= 45 segments, all
    # vertices on the circle, chord angles <= 4 deg
    got = CV.circularstring_points(
        np.array([[0, 0], [5, 5], [10, 0]], float))
    assert len(got) == 46  # stealth rule: 45 segments
    r = np.hypot(got[:, 0] - 5.0, got[:, 1])
    assert np.abs(r - 5.0).max() < 1e-9


def test_wkb_circularstring_roundtrip_and_linearize():
    cs = CV.write_circularstring([[0, 0], [1, 1], [2, 0]])
    assert CV.has_curve_geometry(cs)
    lin = CV.linearize_wkb(cs, 45.0)
    gt, pts = W.parse(lin)
    assert gt == W.WKB_LINESTRING
    assert not CV.has_curve_geometry(lin)
    assert tuple(pts[0]) == (0, 0) and tuple(pts[-1]) == (2, 0)


def test_wkb_circularstring_z():
    cs = CV.write_circularstring([[0, 0, 10], [1, 1, 20], [2, 0, 30]])
    lin = CV.linearize_wkb(cs, 45.0)
    gt, pts = W.parse(lin)
    assert pts.shape[1] == 3
    # z interpolated monotonically between endpoint values
    assert pts[0, 2] == 10 and pts[-1, 2] == 30
    assert (np.diff(pts[:, 2]) > 0).all()


@pytest.mark.parametrize("gtype", [2008, 3008])  # CIRCULARSTRING M / ZM
def test_wkb_measured_curve_rejected(gtype):
    ndim = 3 if gtype < 3000 else 4
    coords = np.array([[0, 0, 5, 1], [1, 1, 6, 1], [2, 0, 7, 1]], float)[:, :ndim]
    buf = struct.pack("<BII", 1, gtype, 3) + coords.astype("<f8").tobytes()
    with pytest.raises(ValueError, match="dimensionality"):
        CV.linearize_wkb(buf)
    with pytest.raises(ValueError, match="dimensionality"):
        CV.has_curve_geometry(buf)


def test_wkb_compoundcurve():
    # quarter arc + straight closing segments
    cc = CV.write_compoundcurve([
        CV.write_circularstring([[0, 0], [1, 1], [2, 0]]),
        W.write_linestring(np.array([[2, 0], [0, 0]], float)),
    ])
    lin = CV.linearize_wkb(cc, 45.0)
    gt, pts = W.parse(lin)
    assert gt == W.WKB_LINESTRING
    assert tuple(pts[0]) == (0, 0) and tuple(pts[-1]) == (0, 0)


def test_wkb_curvepolygon_full_circle_area():
    r, cx, cy = 3.0, 10.0, -4.0
    ring = CV.write_circularstring(
        [[cx + r, cy], [cx - r, cy], [cx + r, cy]])
    poly = CV.write_curvepolygon([ring])
    lin = CV.linearize_wkb(poly)  # default 4-deg step
    gt, rings = W.parse(lin)
    assert gt == W.WKB_POLYGON
    pts = rings[0]
    assert np.allclose(pts[0], pts[-1])
    n = len(pts) - 1
    x, y = pts[:-1, 0], pts[:-1, 1]
    area = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    assert area == pytest.approx((n / 2) * r * r * math.sin(2 * math.pi / n),
                                 abs=1e-9)
    assert area == pytest.approx(math.pi * r * r, rel=2e-3)


def test_wkb_multicurve_and_multisurface():
    mc = CV.write_multicurve([
        CV.write_circularstring([[0, 0], [1, 1], [2, 0]]),
        W.write_linestring(np.array([[5, 5], [6, 6]], float)),
    ])
    gt, lines = W.parse(CV.linearize_wkb(mc, 45.0))
    assert gt == W.WKB_MULTILINESTRING and len(lines) == 2

    ring = CV.write_circularstring([[1, 0], [-1, 0], [1, 0]])
    ms = CV.write_multisurface([
        CV.write_curvepolygon([ring]),
        W.write_polygon([np.array([[0, 0], [1, 0], [1, 1], [0, 0]], float)]),
    ])
    gt, polys = W.parse(CV.linearize_wkb(ms, 45.0))
    assert gt == W.WKB_MULTIPOLYGON and len(polys) == 2


def test_wkb_curvepolygon_and_multicurve_keep_z():
    arc = CV.write_circularstring([[1, 0, 7], [-1, 0, 8], [1, 0, 7]])
    lin = CV.linearize_wkb(struct.pack("<BII", 1, 1010, 1) + arc, 45.0)
    gtype, nrings, npts = struct.unpack_from("<III", lin, 1)
    assert (gtype, nrings) == (1003, 1)
    assert W._geom_length(lin, 0) == len(lin)
    ring = np.frombuffer(lin, "<f8", npts * 3, 13).reshape(npts, 3)
    assert (ring[0] == (1, 0, 7)).all() and (ring[-1] == (1, 0, 7)).all()
    assert (ring[:, 2] == 7).all()

    half = CV.write_circularstring([[1, 0, 7], [0, 1, 8], [-1, 0, 9]])
    lin = CV.linearize_wkb(struct.pack("<BII", 1, 1011, 2) + half + arc, 45.0)
    assert struct.unpack_from("<II", lin, 1) == (1005, 2)
    assert W._geom_length(lin, 0) == len(lin)
    gt, pts = W.parse(lin[9:])
    assert gt == W.WKB_LINESTRING_Z and (pts[0, 2], pts[-1, 2]) == (7, 9)

    ms = struct.pack("<BII", 1, 1012, 1) + struct.pack("<BII", 1, 1010, 1) + arc
    lin = CV.linearize_wkb(ms, 45.0)
    assert struct.unpack_from("<II", lin, 1) == (1006, 1)
    assert struct.unpack_from("<I", lin, 10) == (1003,)
    assert W._geom_length(lin, 0) == len(lin)


def test_linearized_z_curves_reach_the_kernels():
    """The Z WKB linearize_wkb emits parses and feeds to_wkt, the area,
    bbox and PIP kernels, as the 2-D linearization of the same curve."""
    from gdal_spark.functions import geom as G
    from gdal_spark.functions import wkt as WT
    from gdal_spark.sources.vector_formats import _gpkg_unblob

    arc = CV.write_circularstring([[1, 0, 7], [-1, 0, 8], [1, 0, 7]])
    arc2d = CV.write_circularstring([[1, 0], [-1, 0], [1, 0]])
    flat45 = CV.linearize_wkb(struct.pack("<BII", 1, 10, 1) + arc2d, 45.0)
    flat = CV.linearize_wkb(struct.pack("<BII", 1, 10, 1) + arc2d)
    cpz = struct.pack("<BII", 1, 1010, 1) + arc
    # a GeoPackage blob (little-endian header, no envelope) linearizes on
    # read at the default step
    blob = b"GP\x00\x01" + struct.pack("<i", 4326) + cpz
    polys = [CV.linearize_wkb(cpz, 45.0), _gpkg_unblob(blob),
             CV.linearize_wkb(struct.pack("<BII", 1, 1012, 1) + cpz, 45.0)]
    for lin, flat in zip(polys, [flat45, flat, flat45]):
        gt, payload = W.parse(lin)
        assert gt in (W.WKB_POLYGON_Z, W.WKB_MULTIPOLYGON_Z)
        ring = (payload if gt == W.WKB_POLYGON_Z else payload[0])[0]
        assert ring.shape[1] == 3 and (ring[:, 2] == 7).all()
        assert G.wkb_area(lin) == pytest.approx(G.wkb_area(flat), abs=1e-12)
        assert G.wkb_area(lin) > 2.8
        assert W.bbox(lin) == pytest.approx(W.bbox(flat), abs=1e-12)
        assert G.points_in_wkb([0.0, 2.0], [0.0, 0.0], lin).tolist() == [
            True, False]
    assert WT.to_wkt(polys[0]).startswith("POLYGON Z ((1 0 7,")
    assert WT.to_wkt(polys[2]).startswith("MULTIPOLYGON Z (((1 0 7,")

    half = CV.write_circularstring([[1, 0, 7], [0, 1, 8], [-1, 0, 9]])
    mc = CV.linearize_wkb(struct.pack("<BII", 1, 1011, 2) + half + arc, 45.0)
    gt, lines = W.parse(mc)
    assert gt == W.WKB_MULTILINESTRING_Z and [ln.shape[1] for ln in lines] == [
        3, 3]
    assert lines[0][-1].tolist() == [-1, 0, 9]
    txt = WT.to_wkt(mc)
    assert txt.startswith("MULTILINESTRING Z ((1 0 7,") and txt.count("(") == 3


def test_linear_passthrough_identity():
    ls = W.write_linestring(np.array([[0, 0], [3, 4]], float))
    assert CV.linearize_wkb(ls) == ls
    assert not CV.has_curve_geometry(ls)


def test_collection_with_curve_child():
    coll = W.write_collection([
        CV.write_circularstring([[0, 0], [0, 1], [0, 0]]),
        W.write_point(9, 9),
    ])
    assert CV.has_curve_geometry(coll)
    gt, geoms = W.parse(CV.linearize_wkb(coll, 45.0))
    assert gt == W.WKB_GEOMETRYCOLLECTION
    assert geoms[0][0] == W.WKB_LINESTRING
    assert geoms[1][0] == W.WKB_POINT


def test_gpkg_curved_geometry_linearized_on_ingest(tmp_path):
    """A GeoPackage layer carrying a CircularString decodes to linear
    WKB through read_gpkg (SURVEY §1.2 linearize-on-ingest; reference:
    OGRGeometryFactory::forceTo)."""
    import sqlite3

    import pyspark.sql  # noqa: F401 — session fixture below
    from gdal_spark.sources import vector_formats as VF

    cs = CV.write_circularstring([[0, 0], [1, 1], [2, 0]])
    blob = b"GP" + bytes([0, 0]) + (4326).to_bytes(4, "little") + cs
    out = VF._gpkg_unblob(blob)
    gt, pts = W.parse(out)
    assert gt == W.WKB_LINESTRING
    assert len(pts) > 3 and tuple(pts[-1]) == (2, 0)
    # linear blobs still pass through untouched
    ls = W.write_linestring(np.array([[0, 0], [1, 1]], float))
    blob2 = b"GP" + bytes([0, 0]) + (4326).to_bytes(4, "little") + ls
    assert VF._gpkg_unblob(blob2) == ls


def test_st_curvetoline_sql(spark):
    from gdal_spark.functions.st_catalog import register_all

    register_all(spark)
    cs = CV.write_circularstring([[0, 0], [1, 1], [2, 0]])
    df = spark.createDataFrame([(bytearray(cs),)], "g binary")
    df.createOrReplaceTempView("curves_t")
    out = spark.sql(
        "SELECT ST_CurveToLine(g) AS lg FROM curves_t").collect()[0]
    gt, pts = W.parse(bytes(out.lg))
    assert gt == W.WKB_LINESTRING and len(pts) == 46


def test_wkt_curved_kinds_parse():
    """CIRCULARSTRING / COMPOUNDCURVE / CURVEPOLYGON / MULTICURVE /
    MULTISURFACE WKT (the autotest ogr_geom.py inputs) parse to curved
    WKB and linearize correctly."""
    from gdal_spark.functions.wkt import from_wkt

    cs = from_wkt("CIRCULARSTRING (0 0,1 1,1 -1)")
    got = W.parse(CV.linearize_wkb(cs, 45.0))[1]
    assert len(got) == 8 and tuple(got[-1]) == (1, -1)

    cc = from_wkt("COMPOUNDCURVE(CIRCULARSTRING (0 0, 1 1, 2 0),(2 0,0 0))")
    gt, pts = W.parse(CV.linearize_wkb(cc, 45.0))
    assert gt == W.WKB_LINESTRING and tuple(pts[-1]) == (0, 0)

    cp = from_wkt("CURVEPOLYGON(CIRCULARSTRING (1 0,-1 0,1 0))")
    gt, rings = W.parse(CV.linearize_wkb(cp, 45.0))
    assert gt == W.WKB_POLYGON and len(rings) == 1

    mc = from_wkt("MULTICURVE(CIRCULARSTRING (0 0,1 1,2 0),(5 5,6 6))")
    gt, lines = W.parse(CV.linearize_wkb(mc, 45.0))
    assert gt == W.WKB_MULTILINESTRING and len(lines) == 2

    ms = from_wkt("MULTISURFACE(CURVEPOLYGON(CIRCULARSTRING (1 0,-1 0,1 0)),"
                  "((0 0,1 0,1 1,0 0)))")
    gt, polys = W.parse(CV.linearize_wkb(ms, 45.0))
    assert gt == W.WKB_MULTIPOLYGON and len(polys) == 2

    csz = from_wkt("CIRCULARSTRING Z (0 0 10,1 1 20,2 0 30)")
    gt, pts = W.parse(CV.linearize_wkb(csz, 45.0))
    assert pts.shape[1] == 3 and pts[-1, 2] == 30
