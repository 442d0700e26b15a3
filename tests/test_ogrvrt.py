"""OGR vector VRT driver parity — autotest/ogr/ogr_vrt.py semantics on
the reference's own vrt_test.vrt + flat.dbf, plus union (test30) and
warped (test29) layer shapes built with the engine's own writers."""

import numpy as np
import pytest

from gdal_spark.functions.wkt import from_wkt, to_wkt
from gdal_spark.sources.ogrvrt import read_ogrvrt

VRT = "/root/reference/autotest/ogr/data/vrt/vrt_test.vrt"


@pytest.fixture(scope="module")
def spark():
    from gdal_spark.session import get_session

    s = get_session(master="local[4]")
    s.sparkContext.setLogLevel("FATAL")
    return s


@pytest.fixture(scope="module")
def layers(spark):
    return read_ogrvrt(spark, VRT)


class TestVrtTestFile:
    def test_layer_discovery(self, layers):
        """All layers except the dummySrcDataSource one instantiate."""
        names = {k for k in layers if k != "_errors"}
        assert names == {f"test{i}" for i in (2, 3, 4, 6, 7, 8)}
        assert "test5" in layers["_errors"]

    def test_2_point_from_columns(self, layers):
        """ogr_vrt test2: x/y/z columns -> POINT Z, record-index FID."""
        rows = layers["test2"].orderBy("fid").collect()
        assert [r["fid"] for r in rows] == [0, 1]
        assert to_wkt(bytes(rows[0]["wkb"])) == "POINT Z (12.5 17 1.2)"
        assert to_wkt(bytes(rows[1]["wkb"])) == "POINT Z (100 200 0)"
        assert [r["other"] for r in rows] == ["First", "Second"]

    def test_3_wkt_field_and_fid_from_attribute(self, layers):
        rows = layers["test3"].orderBy("fid").collect()
        assert [r["fid"] for r in rows] == [1, 2]
        assert to_wkt(bytes(rows[0]["wkb"])) == "POINT Z (12.5 17 1.2)"

    def test_5_attribute_filter(self, layers):
        """ogr_vrt test5 (attribute filter x < 50) via Catalyst."""
        rows = layers["test3"].filter("x < 50").collect()
        assert [r["other"] for r in rows] == ["First"]

    def test_7_src_sql(self, layers):
        rows = layers["test4"].orderBy("fid").collect()
        assert [(r["fid"], r["other"]) for r in rows] == [
            (1, "First"), (2, "Second"),
        ]

    def test_field_subsetting_and_fid_rename(self, layers):
        assert layers["test6"].columns == ["fid", "x"]
        assert layers["test7"].columns == ["bar", "x"]
        rows = layers["test7"].orderBy("bar").collect()
        assert [(r["bar"], r["x"]) for r in rows] == [(1, 12.5), (2, 100.0)]

    def test_8_nested_inline_vrt(self, layers):
        """CDATA-nested VRT datasource; <FID/> passes the source FID
        through even when the inner layer renamed it."""
        rows = layers["test8"].orderBy("fid").collect()
        assert [r["fid"] for r in rows] == [1, 2]

    def test_inline_xml_open(self, spark):
        """ogr_vrt test8 (whole VRT as the 'filename')."""
        xml = (
            '<OGRVRTDataSource><OGRVRTLayer name="t">'
            '<SrcDataSource relativeToVRT="0">'
            "/root/reference/autotest/ogr/data/flat.dbf</SrcDataSource>"
            "<SrcSQL>SELECT * FROM flat</SrcSQL><FID>fid</FID>"
            '<GeometryField encoding="PointFromColumns" x="x" y="y" z="z"/>'
            "</OGRVRTLayer></OGRVRTDataSource>"
        )
        rows = read_ogrvrt(spark, xml)["t"].orderBy("fid").collect()
        assert [r["fid"] for r in rows] == [1, 2]
        assert to_wkt(bytes(rows[0]["wkb"])) == "POINT Z (12.5 17 1.2)"


class TestUnionWarped:
    def _write_member(self, spark, tmp_path, name, id_fields, x0):
        from gdal_spark.sources.vector_formats import write_shapefile

        rows = []
        for i in range(5):
            for j in range(5):
                base = i * 5 + j
                vals = {f: off + base for f, off in id_fields}
                rows.append(
                    dict(
                        wkb=bytearray(
                            from_wkt(f"POINT ({x0 + i / 5.0} {49 + j / 5.0})")
                        ),
                        **vals,
                    )
                )
        df = spark.createDataFrame(rows)
        cols = ["wkb"] + [f for f, _ in id_fields]
        write_shapefile(df.select(*cols), str(tmp_path / f"{name}.shp"))

    def test_union_layer_test30(self, spark, tmp_path):
        """test30: field union by name, FIDs continue across members,
        missing member fields are null."""
        self._write_member(spark, tmp_path, "m1",
                           [("id1", 0), ("id2", 100)], 2)
        self._write_member(spark, tmp_path, "m2",
                           [("id2", 200), ("id3", 300)], 4)
        xml = f"""<OGRVRTDataSource>
        <OGRVRTUnionLayer name="union_layer">
            <OGRVRTLayer name="m1">
                <SrcDataSource>{tmp_path}/m1.shp</SrcDataSource>
            </OGRVRTLayer>
            <OGRVRTLayer name="m2">
                <SrcDataSource>{tmp_path}/m2.shp</SrcDataSource>
            </OGRVRTLayer>
            <SourceLayerFieldName>src_layer</SourceLayerFieldName>
        </OGRVRTUnionLayer></OGRVRTDataSource>"""
        lyr = read_ogrvrt(spark, xml)["union_layer"]
        rows = lyr.orderBy("fid").collect()
        assert len(rows) == 50
        assert [r["fid"] for r in rows] == list(range(50))
        r0, r25 = rows[0], rows[25]
        assert r0["id1"] == 0 and r0["id2"] == 100 and r0["id3"] is None
        assert r25["id1"] is None and r25["id2"] == 200 and r25["id3"] == 300
        assert r0["src_layer"] == "m1" and r25["src_layer"] == "m2"
        assert to_wkt(bytes(r0["wkb"])) == "POINT (2 49)"

    def test_warped_layer_test29(self, spark, tmp_path):
        """Warped layer 4326 -> 32631 equals the engine transform."""
        from gdal_spark.functions import crs as CRS

        self._write_member(spark, tmp_path, "w1", [("id1", 0)], 2)
        xml = f"""<OGRVRTDataSource>
        <OGRVRTWarpedLayer>
            <OGRVRTLayer name="w1">
                <SrcDataSource>{tmp_path}/w1.shp</SrcDataSource>
            </OGRVRTLayer>
            <TargetSRS>EPSG:32631</TargetSRS>
        </OGRVRTWarpedLayer></OGRVRTDataSource>"""
        lyr = read_ogrvrt(spark, xml)["w1"]
        rows = lyr.orderBy("fid").collect()
        from gdal_spark.functions.wkb import parse

        got = np.array([parse(bytes(r["wkb"]))[1] for r in rows])
        lons = np.array([2 + (f // 5) / 5.0 for f in range(25)])
        lats = np.array([49 + (f % 5) / 5.0 for f in range(25)])
        ex, ey = CRS.transform("EPSG:4326", "EPSG:32631", lons, lats)
        assert np.allclose(got[:, 0], ex, atol=1e-6)
        assert np.allclose(got[:, 1], ey, atol=1e-6)

    def test_warped_layer_errors(self, spark, tmp_path):
        """Missing TargetSRS and non-spatial sources error (test29)."""
        out = read_ogrvrt(spark, f"""<OGRVRTDataSource>
        <OGRVRTWarpedLayer>
            <OGRVRTLayer name="flat">
                <SrcDataSource relativeToVRT="0">/root/reference/autotest/ogr/data/flat.dbf</SrcDataSource>
            </OGRVRTLayer>
            <TargetSRS>EPSG:32631</TargetSRS>
        </OGRVRTWarpedLayer></OGRVRTDataSource>""")
        assert "_errors" in out  # non-spatial layer
        out = read_ogrvrt(spark, f"""<OGRVRTDataSource>
        <OGRVRTWarpedLayer>
            <OGRVRTLayer name="w1">
                <SrcDataSource>{tmp_path}/w1.shp</SrcDataSource>
            </OGRVRTLayer>
        </OGRVRTWarpedLayer></OGRVRTDataSource>""")
        assert "_errors" in out  # missing TargetSRS


def test_wkt_geometry_field_empty_is_null(spark, tmp_path):
    """A WKT field holding '... EMPTY' reads as a NULL geometry; the
    other rows keep theirs."""
    src = str(tmp_path / "wkt.parquet")
    spark.createDataFrame(
        [(1, "POINT (1 2)"), (2, "POINT EMPTY")], ["id", "geom_wkt"]
    ).write.parquet(src)
    xml = (
        '<OGRVRTDataSource><OGRVRTLayer name="t">'
        f'<SrcDataSource relativeToVRT="0">{src}</SrcDataSource>'
        '<FID>id</FID><GeometryField encoding="WKT" field="geom_wkt"/>'
        "</OGRVRTLayer></OGRVRTDataSource>"
    )
    rows = read_ogrvrt(spark, xml)["t"].orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [1, 2]
    assert to_wkt(bytes(rows[0]["wkb"])) == "POINT (1 2)"
    assert rows[1]["wkb"] is None
