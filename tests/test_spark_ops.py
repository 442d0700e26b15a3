"""Spark-side operator tests: Column math twins, spatial join vs numpy
oracle, kNN paths, driver-contract integrity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gdal_spark import datagen
from gdal_spark.functions import cells as C
from gdal_spark.functions import geom
from gdal_spark.functions import mercator as M
from gdal_spark.functions import wkb
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import spatial_join as SJ
from conftest import broadcast_threshold

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


def _polys_pdf(polys):
    """poly_id, wkb and bbox columns of a list of ring lists."""
    rows = []
    for i, rings in enumerate(polys):
        buf = wkb.write_polygon(rings)
        rows.append((i, buf, *wkb.bbox(buf)))
    return pd.DataFrame(rows, columns=["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"])


_POLY_DDL = "poly_id long, wkb binary, xmin double, ymin double, xmax double, ymax double"


def _pip_polygons(polyset):
    """Polygon sets around the unroll cap: `over_cap`'s widest polygon
    exceeds it (the pip_udf fallback); `at_cap`'s widest has exactly the
    cap, so the shorter ones are padded with the sentinel edge."""
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
    pp = _polys_pdf(polys)
    widest = max(len(SJ.prepared_edges(b)) for b in pp["wkb"])
    assert (widest > cap) if polyset == "over_cap" else (widest == cap)
    return pp


# broadcast_polygons forced each way; the ids keep the `-0` suffix they
# had when a salt count was part of them
_PIP_PATHS = [pytest.param(b, id=f"{b}-0") for b in (True, False)]


@pytest.mark.parametrize(
    "polyset,broadcast",
    [pytest.param("datagen", b, id=f"{b}-0") for b in (True, False)]
    + [
        pytest.param(p, b, id=f"{p}-{b}-0")
        for p in ("over_cap", "at_cap")
        for b in (True, False)
    ],
)
def test_spatial_join_center_within(spark, polyset, broadcast):
    imgs = datagen.with_footprint(datagen.images_df(spark, 300, with_pixels=False))
    pp = _pip_polygons(polyset)
    polys = spark.createDataFrame(
        pp[["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"]], _POLY_DDL)
    j = SJ.spatial_join(
        imgs, polys, res=5, predicate="center_within", broadcast_polygons=broadcast,
    )
    got = {r.poly_id: r.n_images for r in SJ.count_per_polygon(j).collect()}
    exp = _expected_pip_counts(300, pp)
    assert exp
    assert got == exp


@pytest.mark.parametrize("keep_wkb", [False, True])
@pytest.mark.parametrize("broadcast", _PIP_PATHS)
def test_spatial_join_intersects(spark, broadcast, keep_wkb):
    """Exact intersects counts on every path; the polygon `wkb` is in the
    output iff keep_wkb, whichever path ran."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 200, with_pixels=False))
    polys = datagen.polygons_df(spark, 12)
    j = SJ.spatial_join(imgs, polys, res=5, predicate="intersects",
                        broadcast_polygons=broadcast, keep_wkb=keep_wkb)
    assert ("wkb" in j.columns) == keep_wkb
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


def _subtree(lines: list[str], i: int) -> list[str]:
    """Plan line i and the lines of the operators under it."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = [lines[i]]
    for line in lines[i + 1:]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out


@pytest.mark.parametrize("predicate", ["center_within", "intersects"])
def test_broadcast_join_build_side_is_one_local_table(spark, predicate):
    """The broadcast path, forced or picked by default (2000 polygons are
    far under the session's broadcast threshold), plans ONE
    BroadcastHashJoin whose build side is a LocalTableScan (no Generate,
    no Scan ExistingRDD, so no broadcast job and no second join to an
    edge table); center_within's parity sits in that join's condition."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 100, with_pixels=False))
    polys = datagen.polygons_df(spark, 2000)
    for broadcast in (True, None):
        j = SJ.spatial_join(imgs, polys, res=5, predicate=predicate,
                            broadcast_polygons=broadcast)
        lines = j._jdf.queryExecution().executedPlan().toString().splitlines()
        joins = [line for line in lines if "BroadcastHashJoin" in line]
        assert len(joins) == 1, broadcast
        (bx,) = [i for i, line in enumerate(lines) if "BroadcastExchange" in line]
        build = _subtree(lines, bx)
        assert "LocalTableScan" in build[-1]
        assert not any("Generate" in line or "ExistingRDD" in line for line in build)
        if predicate == "center_within":
            assert "CASE WHEN" in joins[0] and "% 2) = 1)" in joins[0]


def test_shuffle_join_build_side_is_one_map_in_arrow(spark):
    """The shuffle path, forced or picked by default under a -1 broadcast
    threshold, builds the polygon side with the broadcast path's builder:
    under its exchange sits ONE MapInArrow (no Generate explode, no
    ArrowEvalPython edge UDF), and center_within's parity sits in the
    sort-merge join's condition."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 100, with_pixels=False))
    polys = datagen.polygons_df(spark, 2000)
    for broadcast in (False, None):
        with broadcast_threshold(spark, "-1"):
            j = SJ.spatial_join(imgs, polys, res=5, broadcast_polygons=broadcast)
            lines = j._jdf.queryExecution().executedPlan().toString().splitlines()
        (join,) = [line for line in lines if "SortMergeJoin" in line]
        assert "CASE WHEN" in join and "% 2) = 1)" in join
        sides = [_subtree(lines, i) for i, line in enumerate(lines)
                 if "Exchange hashpartitioning(cell" in line]
        (build,) = [s for s in sides if any("MapInArrow" in line for line in s)]
        assert sum("MapInArrow" in line for line in build) == 1
        assert not any("Generate" in line or "ArrowEvalPython" in line for line in build)


@pytest.mark.parametrize("broadcast", _PIP_PATHS)
@pytest.mark.parametrize("predicate", ["center_within", "intersects"])
def test_probe_side_has_no_inferred_null_filter(spark, predicate, broadcast):
    """The probe box is non-nullable, so Catalyst infers no
    isnotnull(bbox) filter from the join condition: the probe side of the
    join has no Filter re-evaluating datagen's computed footprint, and no
    isnotnull over a probe bbox column is left anywhere in the plan."""
    imgs = datagen.with_footprint(datagen.images_df(spark, 100, with_pixels=False))
    polys = datagen.polygons_df(spark, 50)
    j = SJ.spatial_join(imgs, polys, res=5, predicate=predicate,
                        broadcast_polygons=broadcast)
    lines = j._jdf.queryExecution().executedPlan().toString().splitlines()
    (join,) = [i for i, line in enumerate(lines)
               if "BroadcastHashJoin" in line or "SortMergeJoin" in line]
    probe = _subtree(lines, join + 1)
    assert any("Range" in line for line in probe)
    assert not any("Filter" in line or "isnotnull" in line for line in probe)
    assert not any(f"isnotnull({c}#" in line for line in lines for c in SJ.LEFT_BBOX)


def test_build_side_pads_edge_slots_with_the_sentinel(spark):
    """Slots past a polygon's last edge hold the sentinel edge (ylo +inf,
    yhi -inf), never NULL, and the broadcast plan's LocalRelation marks
    every edge slot non-nullable."""
    pp = _polys_pdf([[np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]])],
                     [_star(20, 20, 9, 5, 2.5)]])
    n_box, n_star = (len(SJ.prepared_edges(b)) for b in pp["wkb"])
    assert (n_box, n_star) == (2, 9)
    out = SJ._build_side(pa.Table.from_pandas(pp), 3, ["poly_id"], n_star)
    slots = [c for c in out.column_names if c.startswith("_e")]
    assert len(slots) == n_star * len(SJ._EDGE_FIELDS)
    assert [out[c].null_count for c in slots] == [0] * len(slots)
    box = out["poly_id"].to_numpy() == 0
    assert box.any() and not box.all()
    for i in range(n_star):
        ylo, yhi = (out[f"_e{i}_{f}"].to_numpy() for f in ("ylo", "yhi"))
        padded = (ylo[box] == np.inf) & (yhi[box] == -np.inf)
        assert padded.all() if i >= n_box else not padded.any()
        assert np.isfinite(ylo[~box]).all() and np.isfinite(yhi[~box]).all()

    imgs = datagen.with_footprint(datagen.images_df(spark, 50, with_pixels=False))
    j = SJ.spatial_join(imgs, spark.createDataFrame(pp, _POLY_DDL), res=3,
                        broadcast_polygons=True)
    leaves = j._jdf.queryExecution().optimizedPlan().collectLeaves()
    (local,) = [leaves.apply(i) for i in range(leaves.size())
                if leaves.apply(i).nodeName() == "LocalRelation"]
    attrs = [local.output().apply(k) for k in range(local.output().size())]
    edge = {a.name(): a.nullable() for a in attrs if a.name().startswith("_e")}
    assert sorted(edge) == sorted(slots)
    assert not any(edge.values())


def _padded_polys():
    """A world box, a triangle and a star: 2, 3 and 9 edges, so the two
    shorter ones are probed through sentinel-padded slots."""
    pp = _polys_pdf([
        [np.array([[-179.0, -80], [179, -80], [179, 80], [-179, 80]])],
        [np.array([[-40.0, -30], [40, -20], [0, 50]])],
        [_star(12, 44, 9, 20, 10)],
    ])
    assert [len(SJ.prepared_edges(b)) for b in pp["wkb"]] == [2, 3, 9]
    return pp


@pytest.mark.parametrize("broadcast", _PIP_PATHS)
def test_non_finite_probes_never_cross_the_sentinel(spark, broadcast):
    """Probes whose centre is NaN, +-inf or NULL, in cells where polygons
    shorter than the widest one are probed through their padded slots,
    give no pair on any path; finite probes still match
    geom.points_in_wkb."""
    inf, nan = float("inf"), float("nan")
    pp = _padded_polys()
    odd = [  # (lon_min, lat_min, lon_max, lat_max) whose centre is not finite
        (-inf, 10.0, inf, 10.0), (10.0, -inf, 10.0, inf), (-inf, -inf, inf, inf),
        (0.0, 10.0, inf, 10.0), (-inf, 10.0, 0.0, 10.0),
        (10.0, 0.0, 10.0, inf), (10.0, -inf, 10.0, 0.0),
        (nan, 10.0, nan, 10.0), (10.0, nan, 10.0, nan),
        (None, 10.0, None, 10.0), (10.0, None, 10.0, None), (None, None, None, None),
    ]
    gx, gy = (a.ravel() for a in np.meshgrid(np.linspace(-170, 170, 18),
                                             np.linspace(-75, 75, 11)))
    rows = [(f"odd{i}", *b) for i, b in enumerate(odd)]
    rows += [(f"pt{i}", x, y, x, y)
             for i, (x, y) in enumerate(zip(gx.tolist(), gy.tolist()))]
    imgs = spark.createDataFrame(
        rows, "image_id string, lon_min double, lat_min double, lon_max double, lat_max double")
    j = SJ.spatial_join(imgs, spark.createDataFrame(pp, _POLY_DDL), res=3,
                        broadcast_polygons=broadcast)
    got = {(r.image_id, r.poly_id) for r in j.select("image_id", "poly_id").collect()}
    exp = {(f"pt{i}", int(r.poly_id))
           for r in pp.itertuples()
           for i in np.flatnonzero(geom.points_in_wkb(gx, gy, r.wkb))}
    assert {p for _, p in exp} == {0, 1, 2}
    assert got == exp


@pytest.mark.parametrize("broadcast", _PIP_PATHS)
@pytest.mark.parametrize("predicate", ["center_within", "intersects"])
def test_null_edged_probes_give_no_pair(spark, predicate, broadcast):
    """Probe boxes with one, two or all four edges NULL, whose other edges
    lie inside polygons covering the cells they key, give no pair for
    either predicate on either path; finite probes still match their
    oracle (geom.points_in_wkb for center_within, geom.clip_wkb_to_box for
    intersects)."""
    pp = _padded_polys()
    nulled = [  # (lon_min, lat_min, lon_max, lat_max) with a NULL edge
        (None, 10.0, 10.5, 10.5), (10.0, None, 10.5, 10.5),
        (10.0, 10.0, None, 10.5), (10.0, 10.0, 10.5, None),
        (None, None, 10.5, 10.5), (10.0, 10.0, None, None),
        (None, 10.0, None, 10.5), (10.0, None, 10.5, None),
        (None, 44.0, 12.5, None), (12.0, None, None, 44.5),
        (None, -79.5, -178.5, -79.0), (None, None, None, None),
    ]
    gx, gy = (a.ravel() for a in np.meshgrid(np.linspace(-170, 170, 18),
                                             np.linspace(-75, 75, 11)))
    half = 0.0 if predicate == "center_within" else 1.5
    boxes = [(x - half, y - half, x + half, y + half)
             for x, y in zip(gx.tolist(), gy.tolist())]
    rows = [(f"null{i}", *b) for i, b in enumerate(nulled)]
    rows += [(f"pt{i}", *b) for i, b in enumerate(boxes)]
    imgs = spark.createDataFrame(
        rows, "image_id string, lon_min double, lat_min double, lon_max double, lat_max double")
    j = SJ.spatial_join(imgs, spark.createDataFrame(pp, _POLY_DDL), res=3,
                        predicate=predicate, broadcast_polygons=broadcast)
    got = {(r.image_id, r.poly_id) for r in j.select("image_id", "poly_id").collect()}
    if predicate == "center_within":
        exp = {(f"pt{i}", int(r.poly_id))
               for r in pp.itertuples()
               for i in np.flatnonzero(geom.points_in_wkb(gx, gy, r.wkb))}
    else:
        exp = {(f"pt{i}", int(r.poly_id))
               for r in pp.itertuples()
               for i, b in enumerate(boxes)
               if geom.clip_wkb_to_box(r.wkb, *b) is not None}
    assert {p for _, p in exp} == {0, 1, 2}
    assert got == exp


def _tile_edges(res: int) -> tuple[np.ndarray, np.ndarray]:
    """lon and lat of every res-`res` tile boundary."""
    k = np.arange((1 << res) + 1)
    lons = -180.0 + 360.0 * k / (1 << res)
    size = M.resolution_py(res) * M.TILE_SIZE
    lats = np.array([M.meters_to_lonlat_py(0.0, -M.ORIGIN_SHIFT + t * size)[1]
                     for t in k])
    return lons, lats


def test_cover_cells_np_is_superset_of_jvm_cover(spark):
    """The driver cover holds every cell of the JVM cover of the same
    bbox, and at most one tile ring more, at res 0-12: random bboxes,
    bbox edges exactly on tile edges, lon +-180, lat +-85.0511, +-90 and
    past +-90."""
    rng = np.random.default_rng(7)
    rows = []
    for res in range(13):
        tile_deg = 360.0 / (1 << res)
        lons, lats = _tile_edges(res)
        for _ in range(40):
            x0, y0 = rng.uniform(-180, 180), rng.uniform(-85, 85)
            w, h = rng.uniform(0, 3) * tile_deg, rng.uniform(0, 3) * tile_deg / 2
            rows.append((res, x0, y0, min(x0 + w, 180.0), min(y0 + h, 85.0)))
        for _ in range(30):
            a, b = rng.integers(0, len(lons), 2)
            c, d = rng.integers(0, len(lats), 2)
            rows.append((res, lons[min(a, b)], lats[min(c, d)],
                         lons[min(max(a, b), min(a, b) + 2)],
                         lats[min(max(c, d), min(c, d) + 2)]))
        step = min(tile_deg, 1.0)
        for x0, y0, x1, y1 in [
            (-180.0, -10.0, -180.0 + step, -10.0 + step),
            (180.0 - step, 10.0, 180.0, 10.0 + step),
            (-180.0, -85.0511, 180.0, -85.0511),
            (0.0, 85.0511, step, 85.0511),
            (-step, 85.0511 - step, 0.0, 90.0),
            (0.0, -90.0, step, -90.0 + step),
            # latitudes past +-90 clamp to the polar rows, as in cover_cells_np
            (0.0, 85.0, step, 91.0),
            (0.0, 91.0, step, 180.0),
            (-step, 269.0, 0.0, 300.0),
            (0.0, 300.0, step, 400.0),
            (0.0, -400.0, step, -91.0),
            # the whole world covers all 4**res cells: coarse res only
            *([(-180.0, -90.0, 180.0, 90.0)] if res <= 6 else []),
        ]:
            rows.append((res, x0, y0, x1, y1))
    pdf = pd.DataFrame(rows, columns=["res", "x0", "y0", "x1", "y1"])
    pdf["id"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    jvm = df.filter(F.lit(False)).select("id", F.lit(0).cast("long").alias("cell"))
    for res in range(13):
        cc = C.cover_cells(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), res)
        jvm = jvm.unionByName(df.filter(F.col("res") == res).select(
            "id", F.explode(cc).alias("cell")))
    got: dict[int, set[int]] = {}
    for r in jvm.collect():
        got.setdefault(r.id, set()).add(r.cell)
    checked = 0
    for res in range(13):
        sub = pdf[pdf["res"] == res]
        row, cells = C.cover_cells_np(sub["x0"], sub["y0"], sub["x1"], sub["y1"], res)
        ids = sub["id"].to_numpy()[row]
        for i in sub["id"]:
            mine = cells[ids == i]
            assert len(set(mine)) == len(mine)
            ref = got.get(i, set())
            box = pdf.iloc[i].tolist()
            assert ref <= set(mine.tolist()), box
            if ref:
                # one tile ring more at most
                for key in (lambda c: c >> C.TX_SHIFT & C.COORD_MASK,
                            lambda c: c & C.COORD_MASK):
                    a, b = key(mine), key(np.array(sorted(ref)))
                    assert b.min() - 1 <= a.min() and a.max() <= b.max() + 1, box
                checked += 1
    assert checked > 13 * 60


def test_polar_latitudes_key_the_bottom_row(spark):
    """At lat <= -90 Spark's ln is NULL; the cell of such a point is still
    the bottom tile row (ty 0), like lat -89.5, and a NaN latitude keeps
    its cell. A bbox from lat -90 covers only the rows it reaches."""
    df = spark.createDataFrame(
        [(-90.0,), (-91.0,), (-89.5,), (float("nan"),)], "lat double")
    cells = [r.c for r in df.select(
        C.lonlat_cell(F.lit(10.0), F.col("lat"), 3).alias("c")).collect()]
    assert [c & C.COORD_MASK for c in cells] == [0, 0, 0, 0]
    (box,) = spark.range(1).select(C.cover_cells(
        F.lit(0.0), F.lit(-90.0), F.lit(1.0), F.lit(-89.0), 1).alias("c")).collect()
    assert {c & C.COORD_MASK for c in box.c} == {0}


def test_out_of_range_coordinates_key_the_edge_tiles(spark):
    """A latitude past +90 keys the top tile row (ty 7 at res 3) whatever
    tan's 360-degree period would give, and a longitude past +-180, however
    far (-inf, whose tile would overflow a long, included), keys the edge
    column, as cover_cells_np clips them; a NaN latitude still keys ty 0."""
    inf, nan = float("inf"), float("nan")
    pts = [(10.0, v) for v in (89.0, 90.0, 91.0, 180.0, 269.0, 300.0, 400.0, nan)]
    pts += [(v, 10.0) for v in (-inf, -1e300, -540.0, -180.0, 180.0, 540.0, 1e300, inf)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    cells = [r.c for r in df.select(
        C.lonlat_cell(F.col("lon"), F.col("lat"), 3).alias("c")).collect()]
    assert [c & C.COORD_MASK for c in cells[:8]] == [7] * 7 + [0]
    assert [c >> C.TX_SHIFT & C.COORD_MASK for c in cells[8:]] == [0] * 4 + [7] * 4


def test_center_within_on_tile_boundaries(spark):
    """Image centres exactly on res-5 tile boundaries, polygons whose
    bboxes (and edges) lie on them too: broadcast == shuffle ==
    geom.points_in_wkb."""
    res = 5
    lons, lats = _tile_edges(res)
    lons, lats = lons[10:20], lats[14:20]
    px, py = (a.ravel() for a in np.meshgrid(lons, lats))
    imgs = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"p{i}" for i in range(len(px))],
                      "lon_min": px, "lat_min": py, "lon_max": px, "lat_max": py}))
    polys = [
        [np.array([[lons[1], lats[1]], [lons[4], lats[1]],
                   [lons[4], lats[3]], [lons[1], lats[3]]])],
        [np.array([[lons[3], lats[2]], [lons[8], lats[0]], [lons[6], lats[5]]])],
        [np.array([[lons[0], lats[0]], [lons[9], lats[0]],
                   [lons[9], lats[5]], [lons[0], lats[5]]]),
         np.array([[lons[2], lats[1]], [lons[5], lats[1]],
                   [lons[5], lats[4]], [lons[2], lats[4]]])],
    ]
    pp = _polys_pdf(polys)
    polys_df = spark.createDataFrame(pp, _POLY_DDL)
    exp = {int(r.poly_id): int(geom.points_in_wkb(px, py, r.wkb).sum())
           for r in pp.itertuples()}
    assert all(exp.values())
    for broadcast in (True, False):
        j = SJ.spatial_join(imgs, polys_df, res=res, broadcast_polygons=broadcast)
        got = {r.poly_id: r.n_images for r in SJ.count_per_polygon(j).collect()}
        assert got == exp, broadcast


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
