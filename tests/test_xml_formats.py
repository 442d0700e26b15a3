"""GPX/KML loader (sources/kml.py xml_features / read_xml_features over
the gpx and kml drivers): round-trips, foreign files, and the
distributed mixed-format loader."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.functions import wkb as W
from gdal_spark.functions import wkt as WT
from gdal_spark.sources import gpx as GPX
from gdal_spark.sources import kml as KML


def _gpx_text():
    return GPX.write_gpx(
        waypoints=[
            {"lon": 11.25, "lat": 47.5, "name": "summit", "ele": 2650.5},
            {"lon": -3.5, "lat": 40.25},
        ],
        track_points=[
            {"lon": x, "lat": y, "track_fid": 0, "track_seg_id": 0,
             "track_name": "run"}
            for x, y in ((0.0, 0.0), (1.5, 0.5), (2.0, 2.0))
        ],
    )


def test_gpx_roundtrip(tmp_path):
    p = tmp_path / "a.gpx"
    p.write_text(_gpx_text())
    back = KML.xml_features(p.read_bytes())
    assert [f["layer"] for f in back] == ["waypoints", "waypoints", "tracks"]
    assert back[0]["name"] == "summit" and back[0]["ele"] == 2650.5
    assert W.parse(back[0]["wkb"])[1] == (11.25, 47.5)
    gtype, segs = W.parse(back[2]["wkb"])
    assert gtype == W.WKB_MULTILINESTRING and len(segs) == 1
    np.testing.assert_array_equal(
        segs[0], np.array([[0.0, 0.0], [1.5, 0.5], [2.0, 2.0]])
    )


def test_gpx_foreign_multiseg_track():
    raw = b"""<?xml version="1.0"?>
<gpx version="1.1" creator="x" xmlns="http://www.topografix.com/GPX/1/1">
 <trk><name>hike</name>
  <trkseg><trkpt lat="1.0" lon="2.0"/><trkpt lat="1.5" lon="2.5"/></trkseg>
  <trkseg><trkpt lat="2.0" lon="3.0"/></trkseg>
 </trk>
</gpx>"""
    feats = KML.xml_features(raw)
    assert len(feats) == 1 and feats[0]["name"] == "hike"
    # the reference's answer: MULTILINESTRING ((2 1,2.5 1.5),(3 2))
    assert feats[0]["wkb"] == WT.from_wkt("MULTILINESTRING ((2 1,2.5 1.5),(3 2))")


def test_kml_roundtrip_polygon_with_hole(tmp_path):
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[3, 3], [3, 5], [5, 5], [5, 3], [3, 3]], float)
    feats = [
        {"wkt": WT.to_wkt(W.write_point(5.5, -2.25)), "name": "pin"},
        {"wkt": WT.to_wkt(W.write_polygon([outer, hole])), "name": "zone"},
    ]
    p = tmp_path / "b.kml"
    p.write_text(KML.write_kml(
        [{"name": "placemarks", "fields": [("name", "string")],
          "features": feats}]))
    back = KML.xml_features(p.read_bytes())
    assert [f["name"] for f in back] == ["pin", "zone"]
    rings = W.polygon_rings(back[1]["wkb"])[0]
    assert len(rings) == 2
    np.testing.assert_array_equal(rings[0], outer)
    np.testing.assert_array_equal(rings[1], hole)


def test_kml_foreign_namespaced_doc():
    raw = b"""<?xml version="1.0"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>
 <Placemark><name>hq</name>
  <Point><coordinates>-122.08,37.42,0</coordinates></Point>
 </Placemark>
</Folder></Document></kml>"""
    feats = KML.xml_features(raw)
    assert len(feats) == 1
    assert W.parse(feats[0]["wkb"])[1] == (-122.08, 37.42)


def test_kml_multigeometry_carried_under_folder_name():
    raw = b"""<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Folder><name>sites</name>
 <Placemark><name>pair</name><MultiGeometry>
  <Point><coordinates>1,2</coordinates></Point>
  <Point><coordinates>3,4,5</coordinates></Point>
 </MultiGeometry></Placemark>
 <Placemark><name>mixed</name><MultiGeometry>
  <Point><coordinates>1,2</coordinates></Point>
  <LineString><coordinates>0,0 1,1</coordinates></LineString>
 </MultiGeometry></Placemark>
</Folder></Document></kml>"""
    feats = KML.xml_features(raw)
    assert [(f["layer"], f["name"]) for f in feats] == [
        ("sites", "pair"), ("sites", "mixed")]
    assert feats[0]["wkb"] == W.write_multipoint([[1, 2], [3, 4]])
    assert feats[1]["wkb"] == W.write_collection(
        [W.write_point(1, 2), W.write_linestring(np.array([[0, 0], [1, 1]]))])


def test_read_xml_features_mixed(spark, tmp_path):
    g = tmp_path / "t.gpx"
    g.write_text(_gpx_text())
    k = tmp_path / "t.kml"
    k.write_text(KML.write_kml(
        [{"name": "placemarks", "fields": [("name", "string")],
          "features": [{"wkt": "POINT (1 2)", "name": "p"}]}]))
    df = KML.read_xml_features(spark, [str(g), str(k)], num_partitions=2)
    rows = df.collect()
    assert len(rows) == 4
    layers = {r["layer"] for r in rows}
    assert layers == {"waypoints", "tracks", "placemarks"}
    by_name = {r["name"]: r for r in rows if r["name"]}
    assert by_name["summit"]["ele"] == 2650.5


def test_read_xml_features_unencodable_geometry_names_file(spark, tmp_path):
    bad = tmp_path / "bad.kml"
    bad.write_text(
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        "<Placemark><name>x</name><LineString><coordinates/></LineString>"
        "</Placemark></Document></kml>")
    with pytest.raises(Exception, match="bad.kml"):
        KML.read_xml_features(spark, [str(bad)]).collect()
