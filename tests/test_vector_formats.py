"""Vector format drivers (sources/vector_formats.py): GeoJSON(Seq),
CSV/WKT, Shapefile, GeoPackage — round-trips, foreign-file reads, and
the ogr2ogr dispatch chain."""

from __future__ import annotations

import json
import os
import sqlite3
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import geom as G
from gdal_spark.functions import wkb as W
from gdal_spark.functions import wkt as WT
from gdal_spark.sources import vector_formats as VF


# ---- WKT codec -----------------------------------------------------------


def test_wkt_roundtrip_point_line():
    p = W.write_point(3.5, -7.25)
    assert WT.to_wkt(p) == "POINT (3.5 -7.25)"
    assert WT.from_wkt(WT.to_wkt(p)) == p
    ls = W.write_linestring(np.array([[0.0, 0.0], [1.5, 2.5], [3.0, -1.0]]))
    assert WT.from_wkt(WT.to_wkt(ls)) == ls


def test_wkt_roundtrip_polygon_hole_and_multi():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]], float)
    pg = W.write_polygon([outer, hole])
    assert WT.from_wkt(WT.to_wkt(pg)) == pg
    mp = W.write_multipolygon([[outer, hole], [outer + 100.0]])
    assert WT.from_wkt(WT.to_wkt(mp)) == mp
    assert WT.to_wkt(mp).startswith("MULTIPOLYGON (((")


def test_wkt_parses_foreign_formatting():
    # extra whitespace / scientific notation, as other writers emit
    b = WT.from_wkt("POINT( 1.0e1   -2.5E-1 )")
    assert W.parse(b)[1] == (10.0, -0.25)
    assert WT.from_wkt("POLYGON EMPTY") is None


@pytest.mark.parametrize("txt", [
    "LINESTRING (0 0, 1 x, 2 2)",
    "POINT (1 2x)",
    "POLYGON ((0 0, 1 0, 1 1, 0 0 0))",
    "MULTIPOINT ((0 0), (1))",
])
def test_wkt_malformed_vertex_raises(txt):
    with pytest.raises(ValueError):
        WT.from_wkt(txt)


def test_wkt_nan_inf_and_z_point():
    x, y = W.parse(WT.from_wkt("POINT (nan inf)"))[1]
    assert np.isnan(x) and y == np.inf
    assert W.parse(WT.from_wkt("POINT (1 2 3)")) == (W.WKB_POINT_Z, (1.0, 2.0, 3.0))


def test_wkt_multi_and_collection_kinds():
    pts = np.array([[0.0, 1.0], [2.5, -3.0]])
    assert WT.from_wkt("MULTIPOINT ((0 1),(2.5 -3))") == W.write_multipoint(pts)
    assert WT.from_wkt("MULTIPOINT (0 1, 2.5 -3)") == W.write_multipoint(pts)
    lines = [np.array([[2, 1], [2.5, 1.5]]), np.array([[3.0, 2.0]])]
    assert (WT.from_wkt("MULTILINESTRING ((2 1,2.5 1.5),(3 2))")
            == W.write_multilinestring(lines))
    gc = WT.from_wkt("GEOMETRYCOLLECTION (POINT (1 2),LINESTRING (0 0,1 1))")
    assert gc == W.write_collection(
        [W.write_point(1, 2), W.write_linestring(np.array([[0, 0], [1, 1]]))])


# ---- fixture -------------------------------------------------------------


@pytest.fixture(scope="module")
def feats(spark):
    rows = []
    for i in range(40):
        if i % 3 == 0:
            g = W.write_point(i * 1.5, -i * 0.5)
        elif i % 3 == 1:
            g = W.write_linestring(np.array([[i, 0.0], [i + 1.0, 2.0], [i, 4.0]]))
        else:
            o = np.array(
                [[i, i], [i + 4.0, i], [i + 4.0, i + 3.0], [i, i + 3.0], [i, i]]
            )
            h = np.array(
                [[i + 1.0, i + 1.0], [i + 1.0, i + 2.0], [i + 2.0, i + 2.0], [i + 1.0, i + 1.0]]
            )
            g = W.write_polygon([o, h])
        rows.append((i, g, f"name_{i}", i * 10, float(i) * 0.25))
    return spark.createDataFrame(
        rows, "fid: long, wkb: binary, name: string, rank: long, score: double"
    )


def _collect(df):
    return {
        r["fid"]: (bytes(r["wkb"]), r["name"], r["rank"], r["score"])
        for r in df.collect()
    }


# ---- GeoJSON -------------------------------------------------------------


def test_geojson_seq_roundtrip(spark, feats, tmp_path):
    p = str(tmp_path / "seq")
    VF.write_geojson_seq(feats, p)
    back = VF.read_geojson_seq(spark, p)
    assert _collect(back) == _collect(feats)


def test_geojson_doc_roundtrip(spark, feats, tmp_path):
    p = str(tmp_path / "fc.geojson")
    VF.write_geojson(feats, p)
    doc = json.load(open(p))
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 40
    back = VF.read_geojson(spark, p)
    assert _collect(back) == _collect(feats)


def test_geojson_foreign_document(spark, tmp_path):
    # hand-written doc (not our writer): nulls, missing id, bool prop
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [1, 2]},
                "properties": {"a": 1, "flag": True},
            },
            {"type": "Feature", "geometry": None, "properties": {"a": None, "flag": False}},
        ],
    }
    p = str(tmp_path / "f.geojson")
    json.dump(doc, open(p, "w"))
    back = VF.read_geojson(spark, p).orderBy("fid").collect()
    assert back[0]["a"] == 1 and back[0]["flag"] is True
    assert W.parse(bytes(back[0]["wkb"]))[1] == (1.0, 2.0)
    assert back[1]["wkb"] is None and back[1]["a"] is None


# ---- CSV/WKT -------------------------------------------------------------


def test_csv_wkt_roundtrip(spark, feats, tmp_path):
    p = str(tmp_path / "csv")
    VF.write_csv_wkt(feats, p)
    assert os.path.exists(os.path.join(p, "_schema.csvt"))
    back = VF.read_csv_wkt(spark, p)
    assert dict(back.dtypes)["rank"] == "bigint"  # csvt Integer64 honored
    assert _collect(back) == _collect(feats)


def test_csv_wkt_foreign_file(spark, tmp_path):
    p = str(tmp_path / "pts.csv")
    with open(p, "w") as fh:
        fh.write('WKT,city,pop\n"POINT (2.35 48.85)",paris,2100000\n')
        fh.write('"POINT (-0.12 51.5)",london,8800000\n')
    back = VF.read_csv_wkt(spark, p).orderBy("city").collect()
    assert [r["city"] for r in back] == ["london", "paris"]
    assert W.parse(bytes(back[1]["wkb"]))[1] == (2.35, 48.85)


# ---- Shapefile -----------------------------------------------------------


def test_shapefile_roundtrip_points(spark, feats, tmp_path):
    pts = feats.filter(F.col("fid") % 3 == 0)
    p = str(tmp_path / "pts.shp")
    VF.write_shapefile(pts, p)
    for ext in (".shp", ".shx", ".dbf"):
        assert os.path.exists(str(tmp_path / "pts") + ext)
    back = VF.read_shapefile(spark, p)
    # shapefile FID is the record number (OGR shape-driver semantics),
    # so match rows by the carried attributes instead
    a = {r["name"]: r for r in back.collect()}
    b = {r["name"]: r for r in pts.collect()}
    assert set(a) == set(b)
    for k in a:
        assert W.parse(bytes(a[k]["wkb"]))[1] == W.parse(bytes(b[k]["wkb"]))[1]
        assert (a[k]["rank"], a[k]["score"]) == (b[k]["rank"], b[k]["score"])


def test_shapefile_roundtrip_polygons_with_hole(spark, feats, tmp_path):
    pgs = feats.filter(F.col("fid") % 3 == 2)
    p = str(tmp_path / "pg.shp")
    VF.write_shapefile(pgs, p)
    back = VF.read_shapefile(spark, p, num_partitions=3)
    a = {r["name"]: bytes(r["wkb"]) for r in back.collect()}
    b = {r["name"]: bytes(r["wkb"]) for r in pgs.collect()}
    assert set(a) == set(b)
    for k in a:
        ra = W.polygon_rings(a[k])[0]
        rb = W.polygon_rings(b[k])[0]
        assert len(ra) == len(rb) == 2  # exterior + hole survived
        # same area regardless of ring direction normalization
        for rr_a, rr_b in zip(ra, rb):
            assert abs(abs(G.ring_area(rr_a)) - abs(G.ring_area(rr_b))) < 1e-9


def test_shapefile_multipolygon_ring_assembly():
    # two outers, one with a hole -> parts stream -> back to multipolygon
    o1 = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]], float)  # CW (y-up)
    h1 = np.array([[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]], float)  # CCW
    o2 = np.array([[20, 0], [20, 5], [25, 5], [25, 0], [20, 0]], float)
    assert G.ring_area(o1) < 0 and G.ring_area(h1) > 0
    wkb_buf = W.write_multipolygon(G.organize_polygons([o1, h1, o2], only_ccw=True))
    polys = W.polygon_rings(wkb_buf)
    assert len(polys) == 2
    n_rings = sorted(len(p) for p in polys)
    assert n_rings == [1, 2]


# ---- GeoPackage ----------------------------------------------------------


def test_gpkg_roundtrip(spark, feats, tmp_path):
    p = str(tmp_path / "data.gpkg")
    VF.write_gpkg(feats, p, layer="mix")
    con = sqlite3.connect(p)
    assert con.execute("select data_type from gpkg_contents").fetchone()[0] == "features"
    blob = con.execute("select geom from mix where fid=0").fetchone()[0]
    assert blob[:2] == b"GP"  # spec magic
    con.close()
    back = VF.read_gpkg(spark, p)
    assert _collect(back) == _collect(feats)


def test_gpkg_partitioned_read_matches(spark, feats, tmp_path):
    p = str(tmp_path / "data2.gpkg")
    VF.write_gpkg(feats, p)
    one = VF.read_gpkg(spark, p, num_partitions=1)
    many = VF.read_gpkg(spark, p, num_partitions=7)
    assert _collect(one) == _collect(many)


# ---- ogr2ogr dispatch chain ---------------------------------------------


def test_convert_chain(spark, feats, tmp_path):
    seq = str(tmp_path / "a_seq")
    VF.write_geojson_seq(feats, seq)
    n = VF.convert(spark, seq, "geojsonseq", str(tmp_path / "b.gpkg"), "gpkg")
    assert n == 40
    n = VF.convert(spark, str(tmp_path / "b.gpkg"), "gpkg", str(tmp_path / "c_csv"), "csv")
    assert n == 40
    back = VF.read_csv_wkt(spark, str(tmp_path / "c_csv"))
    assert _collect(back) == _collect(feats)


# ---- Arrow IPC / Feather v2 ---------------------------------------------


def test_arrow_ipc_roundtrip(spark, feats, tmp_path):
    p = str(tmp_path / "pts_arrow")
    VF.write_arrow_ipc(feats.repartition(3), p)
    parts = [f for f in os.listdir(p) if f.endswith(".arrow")]
    assert len(parts) == 3  # one IPC file per partition
    back = VF.read_arrow_ipc(spark, p)
    assert _collect(back) == _collect(feats)


def test_arrow_ipc_geo_metadata_tag(spark, feats, tmp_path):
    """OGRFeatherWriter tags the geometry column geoarrow.wkb — foreign
    GeoArrow readers key on that (ogr/ogrsf_frmts/arrow)."""
    import pyarrow as pa

    p = str(tmp_path / "tagged")
    VF.write_arrow_ipc(feats.coalesce(1), p)
    f = os.path.join(p, os.listdir(p)[0])
    sch = pa.ipc.open_file(f).schema
    md = sch.field("wkb").metadata
    assert md and md[b"ARROW:extension:name"] == b"geoarrow.wkb"
    assert pa.types.is_binary(sch.field("wkb").type) or pa.types.is_large_binary(
        sch.field("wkb").type
    )


def test_arrow_ipc_single_file_read(spark, feats, tmp_path):
    import pyarrow as pa

    p = str(tmp_path / "one")
    VF.write_arrow_ipc(feats.coalesce(1), p)
    f = os.path.join(p, os.listdir(p)[0])
    back = VF.read_arrow_ipc(spark, f)  # direct file path, not a dir
    assert _collect(back) == _collect(feats)


def test_arrow_ipc_schema_types(spark, tmp_path):
    """int32/float32/bool survive with exact Spark type mapping."""
    import pyarrow as pa
    import pyarrow.ipc

    t = pa.table(
        {
            "fid": pa.array([1, 2], pa.int64()),
            "i32": pa.array([7, -7], pa.int32()),
            "f32": pa.array([0.5, 1.5], pa.float32()),
            "flag": pa.array([True, False]),
            "txt": pa.array(["a", "b"]),
        }
    )
    os.makedirs(str(tmp_path / "mixed"))
    fn = str(tmp_path / "mixed" / "part-0.arrow")
    with pa.OSFile(fn, "wb") as fh, pa.ipc.new_file(fh, t.schema) as w:
        w.write_table(t)
    df = VF.read_arrow_ipc(spark, str(tmp_path / "mixed"))
    types = dict(df.dtypes)
    assert types == {
        "fid": "bigint", "i32": "int", "f32": "float",
        "flag": "boolean", "txt": "string",
    }
    assert df.count() == 2


def test_convert_through_arrow(spark, feats, tmp_path):
    n = VF.convert(
        spark,
        _write_seq_for_convert(feats, tmp_path),
        "geojsonseq",
        str(tmp_path / "x_arrow"),
        "arrow",
    )
    assert n == 40
    back = VF.read_arrow_ipc(spark, str(tmp_path / "x_arrow"))
    assert back.count() == 40


def _write_seq_for_convert(feats, tmp_path):
    p = str(tmp_path / "seq_src")
    VF.write_geojson_seq(feats, p)
    return p
