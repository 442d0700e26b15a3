"""Spark-side operator tests: Column math twins, spatial join vs numpy
oracle, kNN paths, driver-contract integrity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import datagen
from gdal_spark.functions import cells as C
from gdal_spark.functions import geom
from gdal_spark.functions import mercator as M
from gdal_spark.functions import wkb
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import spatial_join as SJ

# ---------------------------------------------------------------- cells


def test_tile_and_quadkey_columns_match_python(spark):
    pts = [(i, -179.0 + i * 7.3, -80.0 + i * 3.7) for i in range(44)]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    z = 9
    tx, ty = M.lonlat_to_tile(F.col("lon"), F.col("lat"), z)
    out = df.select(
        "id", "lon", "lat",
        tx.alias("tx"), ty.alias("ty"),
        M.quadkey(tx, ty, z).alias("qk"),
        M.quadkey_num(tx, ty, z).alias("qkn"),
    ).collect()
    for r in out:
        etx, ety = M.lonlat_to_tile_py(r.lon, r.lat, z)
        assert (r.tx, r.ty) == (etx, ety)
        eqk = M.quadkey_py(etx, ety, z)
        assert r.qk == eqk
        assert r.qkn == int(eqk, 4)


def test_cover_cells_and_kring(spark):
    df = spark.createDataFrame(
        [(10.0, 40.0, 11.5, 41.2)], "lon_min double, lat_min double, lon_max double, lat_max double"
    )
    res = 7
    cells = df.select(
        C.cover_cells(F.col("lon_min"), F.col("lat_min"), F.col("lon_max"), F.col("lat_max"), res).alias("cs")
    ).collect()[0].cs
    tx0, ty0 = M.lonlat_to_tile_py(10.0, 40.0, res)
    tx1, ty1 = M.lonlat_to_tile_py(11.5, 41.2, res)
    expected = {
        C.pack_cell_py(res, tx, ty)
        for tx in range(tx0, tx1 + 1)
        for ty in range(ty0, ty1 + 1)
    }
    assert set(cells) == expected

    cell0 = C.pack_cell_py(res, tx0, ty0)
    ring = (
        spark.range(1)
        .select(C.kring(F.lit(cell0), 1).alias("r"))
        .collect()[0]
        .r
    )
    n = 1 << res
    exp_ring = {
        C.pack_cell_py(res, (tx0 + dx) % n, ty0 + dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if 0 <= ty0 + dy < n
    }
    assert set(ring) == exp_ring


def test_parent_cell(spark):
    cell = C.pack_cell_py(8, 200, 100)
    got = spark.range(1).select(C.parent_cell(F.lit(cell), 2).alias("p")).collect()[0].p
    assert got == C.pack_cell_py(6, 50, 25)


# ---------------------------------------------------------------- footprint twins


def test_footprint_column_twin_matches_numpy(spark):
    n = 64
    imgs = datagen.with_footprint(datagen.images_df(spark, n, with_pixels=False))
    rows = {r.image_id: r for r in imgs.collect()}
    fp = datagen.footprint_np(np.arange(n))
    for i in range(n):
        r = rows[f"img{i:08d}"]
        for k in ("lon_min", "lat_min", "lon_max", "lat_max"):
            assert getattr(r, k) == pytest.approx(fp[k][i], abs=1e-9)


# ---------------------------------------------------------------- spatial join


def _expected_pip_counts(n_imgs, pp):
    fp = datagen.footprint_np(np.arange(n_imgs))
    cx = (fp["lon_min"] + fp["lon_max"]) / 2
    cy = (fp["lat_min"] + fp["lat_max"]) / 2
    out = {}
    for _, r in pp.iterrows():
        m = geom.points_in_wkb(cx, cy, r["wkb"])
        if m.sum():
            out[int(r["poly_id"])] = int(m.sum())
    return out


def _star(cx, cy, n, r_out, r_in):
    """n-vertex star-shaped ring, radii alternating r_out/r_in: n edges,
    none horizontal."""
    ang = 0.1 + 2 * np.pi * np.arange(n) / n
    r = np.where(np.arange(n) % 2 == 0, r_out, r_in)
    return np.c_[cx + r * np.cos(ang), cy + r * np.sin(ang)]


def _pip_polygons(polyset):
    """Polygon sets around the unroll cap: `over_cap`'s widest polygon
    exceeds it (the pip_udf fallback); `at_cap`'s widest has exactly the
    cap, so the shorter ones leave NULL edge slots."""
    if polyset == "datagen":
        return datagen.polygons_pdf(16)
    cap = SJ.UNROLL_MAX_EDGES
    if polyset == "over_cap":
        polys = [
            [_star(12, 44, cap + 12, 5, 2.5)],  # over the datagen hot box
            [_star(-60, 10, 2 * cap, 40, 20)],
            [_star(100, -30, cap + 1, 35, 15)],
            [_star(40, 30, 40, 35, 20), _star(40, 30, 12, 12, 6)],  # holed
        ]
    else:
        polys = [
            [_star(12, 44, cap, 5, 2.5)],
            [_star(-60, 10, 7, 40, 20)],
            [_star(40, 30, 9, 35, 20), _star(40, 30, 5, 12, 6)],  # holed
            [np.array([[75.0, -55], [125, -55], [125, -5], [75, -5]])],
        ]
    rows = []
    for i, rings in enumerate(polys):
        buf = wkb.write_polygon(rings)
        rows.append((i, buf, *wkb.bbox(buf)))
    pp = pd.DataFrame(rows, columns=["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"])
    widest = max(len(SJ.prepared_edges(b)) for b in pp["wkb"])
    assert (widest > cap) if polyset == "over_cap" else (widest == cap)
    return pp


_PIP_PATHS = [(True, 0), (False, 0), (False, 4)]


@pytest.mark.parametrize(
    "polyset,broadcast,salt",
    [pytest.param("datagen", b, s, id=f"{b}-{s}") for b, s in _PIP_PATHS]
    + [
        pytest.param(p, b, s, id=f"{p}-{b}-{s}")
        for p in ("over_cap", "at_cap")
        for b, s in _PIP_PATHS
    ],
)
def test_spatial_join_center_within(spark, polyset, broadcast, salt):
    imgs = datagen.with_footprint(datagen.images_df(spark, 300, with_pixels=False))
    pp = _pip_polygons(polyset)
    polys = spark.createDataFrame(
        pp[["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"]],
        "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double",
    )
    j = SJ.spatial_join(
        imgs, polys, res=5, predicate="center_within",
        broadcast_polygons=broadcast, salt=salt,
    )
    got = {r.poly_id: r.n_images for r in SJ.count_per_polygon(j).collect()}
    exp = _expected_pip_counts(300, pp)
    assert exp
    assert got == exp


def test_spatial_join_intersects(spark):
    imgs = datagen.with_footprint(datagen.images_df(spark, 200, with_pixels=False))
    polys = datagen.polygons_df(spark, 12)
    j = SJ.spatial_join(imgs, polys, res=5, predicate="intersects", broadcast_polygons=True)
    got = {r.poly_id: r.n_images for r in SJ.count_per_polygon(j).collect()}

    fp = datagen.footprint_np(np.arange(200))
    pp = datagen.polygons_pdf(12)
    exp = {}
    for _, r in pp.iterrows():
        cnt = 0
        for i in range(200):
            clipped = geom.clip_wkb_to_box(
                r["wkb"], fp["lon_min"][i], fp["lat_min"][i], fp["lon_max"][i], fp["lat_max"][i]
            )
            if clipped is not None:
                cnt += 1
        if cnt:
            exp[int(r["poly_id"])] = cnt
    assert got == exp


def test_spatial_join_pair_dedup_across_cells(spark):
    """A polygon spanning many cells must still produce each pair once."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 150, with_pixels=False))
    polys = datagen.polygons_df(spark, 8)
    fine = SJ.spatial_join(imgs, polys, res=8, broadcast_polygons=True)  # many cells/poly
    coarse = SJ.spatial_join(imgs, polys, res=3, broadcast_polygons=True)
    a = {(r.image_id, r.poly_id) for r in fine.select("image_id", "poly_id").collect()}
    b = {(r.image_id, r.poly_id) for r in coarse.select("image_id", "poly_id").collect()}
    assert a == b


# ---------------------------------------------------------------- kNN


def test_knn_broadcast_matches_numpy(spark):
    pts = datagen.points_df(spark, 400)
    qs = spark.createDataFrame(
        [(i, -50.0 + i * 13.0, -30.0 + i * 11.0) for i in range(6)],
        "query_id long, qx double, qy double",
    )
    got = {
        (r.query_id, r.rank): r.pt_id
        for r in KNN.knn_join_broadcast(pts, qs, 4).select("query_id", "rank", "pt_id").collect()
    }
    pdf = datagen.points_pdf(400)
    for qid in range(6):
        qx, qy = -50.0 + qid * 13.0, -30.0 + qid * 11.0
        d2 = (pdf.x - qx) ** 2 + (pdf.y - qy) ** 2
        order = sorted(zip(d2, pdf.pt_id))[:4]
        for rank, (_, pid) in enumerate(order, 1):
            assert got[(qid, rank)] == int(pid)


def test_knn_cells_matches_broadcast(spark):
    pts = datagen.points_df(spark, 600)
    qs = spark.createDataFrame(
        [(i, 10.0 + i * 0.2, 45.0 + i * 0.1) for i in range(4)],
        "query_id long, qx double, qy double",
    )
    bc = {
        (r.query_id, r.rank): r.pt_id
        for r in KNN.knn_join_broadcast(pts, qs, 3).select("query_id", "rank", "pt_id").collect()
    }
    cc = {
        (r.query_id, r.rank): r.pt_id
        for r in KNN.knn_join_cells(pts, qs, 3, res=4, ring=2).select("query_id", "rank", "pt_id").collect()
    }
    assert cc == bc


# ---------------------------------------------------------------- contract


def test_driver_contract_keys():
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert qs, "queries() must not be empty"
    unknown = set(osql) - set(qs)
    assert not unknown, f"oracle keys without queries: {unknown}"


def test_entry_returns_rows(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
