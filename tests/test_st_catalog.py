"""ST_ SQL catalog: WKT round-trip, predicates vs engine kernels,
closed-form scalar checks, SQL-level invocation."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark import datagen
from gdal_spark.functions import geom as G
from gdal_spark.functions import st_catalog as ST
from gdal_spark.functions import wkb as W
from gdal_spark.functions.wkt import from_wkt


class TestWkt:
    def test_roundtrip_point_line(self):
        p = W.write_point(1.5, -2.25)
        assert from_wkt(ST.wkt_from_wkb(p)) == p
        ls = W.write_linestring(np.array([[0, 0], [1, 2], [3, 1.5]]))
        assert from_wkt(ST.wkt_from_wkb(ls)) == ls

    def test_roundtrip_polygons(self):
        for r in datagen.polygons_pdf(10).itertuples(index=False):
            buf = bytes(r.wkb)
            back = from_wkt(ST.wkt_from_wkb(buf))
            assert G.wkb_area(back) == pytest.approx(G.wkb_area(buf), rel=1e-9)
            assert W.bbox(back) == pytest.approx(W.bbox(buf), rel=1e-9)

    def test_multipolygon(self):
        mp = W.write_multipolygon(
            [[np.array([[0, 0], [2, 0], [2, 2], [0, 2]])],
             [np.array([[5, 5], [7, 5], [7, 7], [5, 7]])]]
        )
        back = from_wkt(ST.wkt_from_wkb(mp))
        assert G.wkb_area(back) == pytest.approx(8.0)


class TestScalarKernels:
    def test_centroid_box_and_hole(self):
        box = W.write_polygon([np.array([[0, 0], [4, 0], [4, 2], [0, 2]])])
        t, (x, y) = W.parse(ST._centroid(box))
        assert (x, y) == pytest.approx((2.0, 1.0))
        holed = W.write_polygon(
            [np.array([[0, 0], [4, 0], [4, 4], [0, 4]]),
             np.array([[2, 1], [3, 1], [3, 3], [2, 3]])]  # hole right of center
        )
        _, (hx, hy) = W.parse(ST._centroid(holed))
        assert hx < 2.0 and hy == pytest.approx(2.0)

    def test_distance(self):
        a = W.write_point(0, 0)
        b = W.write_point(3, 4)
        assert ST._distance(a, b) == pytest.approx(5.0)
        box = W.write_polygon([np.array([[2, -1], [4, -1], [4, 1], [2, 1]])])
        assert ST._distance(a, box) == pytest.approx(2.0)
        inside = W.write_point(3, 0)
        assert ST._distance(inside, box) == 0.0

    def test_intersects_within(self):
        big = W.write_polygon([np.array([[0, 0], [10, 0], [10, 10], [0, 10]])])
        small = W.write_polygon([np.array([[2, 2], [4, 2], [4, 4], [2, 4]])])
        far = W.write_polygon([np.array([[20, 20], [22, 20], [22, 22], [20, 22]])])
        assert ST._intersects(big, small) and not ST._intersects(big, far)
        assert ST._within(small, big) and not ST._within(big, small)

    def test_transform_inverse(self):
        p = W.write_point(12.5, 48.25)
        m = ST._transform(p, 4326, 3857)
        back = ST._transform(m, 3857, 4326)
        _, (x, y) = W.parse(back)
        assert (x, y) == pytest.approx((12.5, 48.25), rel=1e-12)

    def test_transform_projection_families(self):
        # Lambert-93 SRID and the ESRI sinusoidal alias dispatch too
        p = W.write_point(2.3522, 48.8566)
        l93 = ST._transform(p, 4326, 2154)
        _, (x, y) = W.parse(l93)
        assert (x, y) == pytest.approx((652469.02, 6862035.26), abs=0.01)
        back = ST._transform(ST._transform(p, 4326, 54008), 54008, 4326)
        _, (x2, y2) = W.parse(back)
        assert (x2, y2) == pytest.approx((2.3522, 48.8566), rel=1e-9)

    def test_buffer_area(self):
        c = ST._buffer(W.write_point(1, 1), 2.0, quadsegs=64)
        assert G.wkb_area(c) == pytest.approx(np.pi * 4, rel=1e-3)
        # polygon dilation / erosion (post point-only upgrade)
        sq = W.write_polygon(
            [np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float)]
        )
        assert G.wkb_area(ST._buffer(sq, -1.0)) == pytest.approx(4.0)
        assert G.wkb_area(ST._buffer(sq, 1.0)) > 16 + 16


class TestSqlLevel:
    @pytest.fixture(scope="class")
    def session_with_catalog(self, spark):
        ST.register_all(spark)
        polys = datagen.polygons_df(spark, 10)
        polys.createOrReplaceTempView("st_polys")
        return spark

    def test_area_matches_fixture_column(self, session_with_catalog):
        rows = session_with_catalog.sql(
            "select poly_id, ST_Area(wkb) as a, area from st_polys"
        ).collect()
        assert len(rows) == 10
        for r in rows:
            assert r.a == pytest.approx(r.area, rel=1e-9)

    def test_predicates_and_accessors(self, session_with_catalog):
        rows = session_with_catalog.sql(
            """
            select poly_id,
                   ST_Within(ST_Centroid(wkb), wkb) as c_in,
                   ST_Intersects(wkb, ST_Envelope(wkb)) as env_hits,
                   ST_IsValid(wkb) as valid,
                   ST_Distance(ST_MakePoint(xmin - 1.0, ymin), wkb) >= 0.99 as dist_ok,
                   ST_AsText(ST_MakePoint(1.5, 2.5)) as wkt
            from st_polys
            """
        ).collect()
        for r in rows:
            assert r.env_hits and r.valid and r.dist_ok
            assert r.wkt == "POINT (1.5 2.5)"
        # centroid-in-polygon holds for all but possibly concave C-shapes
        assert sum(r.c_in for r in rows) >= 7

    def test_intersection_geometry_sql(self, session_with_catalog):
        row = session_with_catalog.sql(
            """
            select ST_Area(ST_Intersection(
                     ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
                     ST_GeomFromText('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))')
                   )) as a,
                   ST_Area(ST_Difference(
                     ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
                     ST_GeomFromText('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))')
                   )) as d
            """
        ).collect()[0]
        assert row.a == pytest.approx(4.0)
        assert row.d == pytest.approx(12.0)

    def test_convex_hull_sql(self, session_with_catalog):
        row = session_with_catalog.sql(
            """
            select ST_Area(ST_ConvexHull(
                     ST_GeomFromText('POLYGON ((0 0, 4 0, 2 1, 4 4, 0 4, 0 0))')
                   )) as a,
                   ST_NPoints(ST_ConvexHull(
                     ST_GeomFromText('POLYGON ((0 0, 4 0, 2 1, 4 4, 0 4, 0 0))')
                   )) as n,
                   ST_AsText(ST_ConvexHull(ST_MakePoint(3.0, 7.0))) as pt_wkt
            """
        ).collect()[0]
        # hull of the concave hexagon is the 4x4 square
        assert row.a == pytest.approx(16.0)
        assert row.n == 5  # closed ring: 4 corners + closure
        assert row.pt_wkt == "POINT (3 7)"

    def test_union_cascaded_sql(self, session_with_catalog):
        row = session_with_catalog.sql(
            """
            select ST_Area(ST_UnionCascaded(ST_GeomFromText(
              'MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),
                             ((1 1, 3 1, 3 3, 1 3, 1 1)),
                             ((10 10, 11 10, 11 11, 10 11, 10 10)))'
            ))) as a
            """
        ).collect()[0]
        # 4 + 4 - 1 overlap + 1 disjoint island
        assert row.a == pytest.approx(8.0)
