"""Layer-algebra Spark operators: orchestration vs driver-side brute
force (pair completeness, union-of-matches folding, remainders) AND
geo-grid mask oracles independent of the orchestration path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark import datagen
from gdal_spark.functions import geom as G
from gdal_spark.functions import polyclip as PC
from gdal_spark.functions import wkb as W
from gdal_spark.operators import layer_algebra as LA
from gdal_spark.raster import kernels as K
from test_spark_ops import _subtree

NA, NB = 12, 10
GRID = 72


def _shifted_polys(p: int, dx_frac: float = 0.35, dy_frac: float = 0.25) -> pd.DataFrame:
    """B layer: A's polygons translated by a fraction of their own bbox —
    guarantees overlaps without identical geometry."""
    pdf = datagen.polygons_pdf(p)
    rows = []
    for r in pdf.itertuples(index=False):
        rings = W.polygon_rings(bytes(r.wkb))[0]
        dx = (r.xmax - r.xmin) * dx_frac
        dy = (r.ymax - r.ymin) * dy_frac
        moved = [rr + np.array([dx, dy]) for rr in rings]
        rows.append(
            (r.poly_id, bytearray(W.write_polygon(moved)),
             r.xmin + dx, r.ymin + dy, r.xmax + dx, r.ymax + dy)
        )
    return pd.DataFrame(rows, columns=["poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"])


@pytest.fixture(scope="module")
def ab(spark):
    a = datagen.polygons_df(spark, NA).select("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
    b = spark.createDataFrame(_shifted_polys(NB))
    return a.cache(), b.cache()


def _flat(wkb_buf):
    out = []
    for rings in W.polygon_rings(bytes(wkb_buf)):
        out.extend(rings)
    return out


def _geo_mask(ring_list, gt):
    m = np.zeros((GRID, GRID), dtype=bool)
    for r in ring_list:
        m ^= K.rasterize_rings([r], GRID, GRID, gt=gt)
    return m


def _gt_for(bbox):
    xmin, ymin, xmax, ymax = bbox
    pad_x = (xmax - xmin) * 0.05 + 1e-6
    pad_y = (ymax - ymin) * 0.05 + 1e-6
    xmin, xmax = xmin - pad_x, xmax + pad_x
    ymin, ymax = ymin - pad_y, ymax + pad_y
    return (xmin, (xmax - xmin) / GRID, 0.0, ymax, 0.0, -(ymax - ymin) / GRID)


def _brute_pairs(a_pdf, b_pdf):
    """(a_id, b_id) pairs whose polygons truly intersect (mask-level)."""
    out = {}
    for ra in a_pdf.itertuples(index=False):
        for rb in b_pdf.itertuples(index=False):
            if ra.xmin > rb.xmax or rb.xmin > ra.xmax or ra.ymin > rb.ymax or rb.ymin > ra.ymax:
                continue
            gt = _gt_for((min(ra.xmin, rb.xmin), min(ra.ymin, rb.ymin),
                          max(ra.xmax, rb.xmax), max(ra.ymax, rb.ymax)))
            inter = _geo_mask(_flat(ra.wkb), gt) & _geo_mask(_flat(rb.wkb), gt)
            if inter.any():
                out[(ra.poly_id, rb.poly_id)] = inter.sum()
    return out


class TestIntersection:
    @pytest.mark.parametrize("broadcast_b", [True, False], ids=["broadcast", "shuffle"])
    def test_pairs_and_masks(self, spark, ab, broadcast_b):
        a, b = ab
        got = LA.intersection(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        a_pdf = a.toPandas()
        b_pdf = b.toPandas()
        want = _brute_pairs(a_pdf, b_pdf)
        got_pairs = {(r.a_id, r.b_id) for r in got.itertuples(index=False)}
        assert got_pairs == set(want)
        # mask check per emitted pair
        a_by = {r.poly_id: r for r in a_pdf.itertuples(index=False)}
        b_by = {r.poly_id: r for r in b_pdf.itertuples(index=False)}
        for r in got.itertuples(index=False):
            ra, rb = a_by[r.a_id], b_by[r.b_id]
            gt = _gt_for((min(ra.xmin, rb.xmin), min(ra.ymin, rb.ymin),
                          max(ra.xmax, rb.xmax), max(ra.ymax, rb.ymax)))
            wantm = _geo_mask(_flat(ra.wkb), gt) & _geo_mask(_flat(rb.wkb), gt)
            gotm = _geo_mask(_flat(r.wkb), gt)
            assert (gotm != wantm).sum() <= 2, (r.a_id, r.b_id)
            assert r.area > 0

    def test_broadcast_plan_is_one_local_table_join(self, spark, ab):
        """broadcast_b pairs the layers through spatial_join's broadcast
        path: ONE BroadcastHashJoin whose build side is B as a
        LocalTableScan, with no Generate under the BroadcastExchange."""
        a, b = ab
        lines = (LA.intersection(a, b, res=5)._jdf.queryExecution()
                 .executedPlan().toString().splitlines())
        assert sum("BroadcastHashJoin" in line for line in lines) == 1
        (bx,) = [i for i, line in enumerate(lines) if "BroadcastExchange" in line]
        build = _subtree(lines, bx)
        assert "LocalTableScan" in build[-1]
        assert not any("Generate" in line for line in build)


class TestEraseClip:
    @pytest.mark.parametrize("broadcast_b", [True, False], ids=["broadcast", "shuffle"])
    def test_erase_masks_and_partition(self, spark, ab, broadcast_b):
        a, b = ab
        er = {r.a_id: r for r in LA.erase(a, b, res=5, broadcast_b=broadcast_b)
              .toPandas().itertuples(index=False)}
        cl = {r.a_id: r for r in LA.clip(a, b, res=5, broadcast_b=broadcast_b)
              .toPandas().itertuples(index=False)}
        a_pdf = a.toPandas()
        b_pdf = b.toPandas()
        for ra in a_pdf.itertuples(index=False):
            gt = _gt_for((ra.xmin, ra.ymin, ra.xmax, ra.ymax))
            am = _geo_mask(_flat(ra.wkb), gt)
            bm = np.zeros_like(am)
            for rb in b_pdf.itertuples(index=False):
                bm |= _geo_mask(_flat(rb.wkb), gt)
            want_er = am & ~bm
            want_cl = am & bm
            got_er = _geo_mask(_flat(er[ra.poly_id].wkb), gt) if ra.poly_id in er \
                else np.zeros_like(am)
            assert (got_er != want_er).sum() <= 3, f"erase a={ra.poly_id}"
            got_cl = _geo_mask(_flat(cl[ra.poly_id].wkb), gt) if ra.poly_id in cl \
                else np.zeros_like(am)
            assert (got_cl != want_cl).sum() <= 3, f"clip a={ra.poly_id}"
            # erase + clip partition A exactly
            assert ((got_er ^ got_cl) != am).sum() <= 4
            # area additivity
            area_a = G.wkb_area(bytes(ra.wkb))
            area_sum = (er[ra.poly_id].area if ra.poly_id in er else 0.0) + (
                cl[ra.poly_id].area if ra.poly_id in cl else 0.0
            )
            assert area_sum == pytest.approx(area_a, rel=1e-6)


class TestCompositeOps:
    @pytest.mark.parametrize("broadcast_b", [True, False], ids=["broadcast", "shuffle"])
    def test_identity_union_symdiff_update_row_structure(self, spark, ab, broadcast_b):
        a, b = ab
        n_inter = LA.intersection(a, b, res=5, broadcast_b=broadcast_b).count()
        n_er_a = LA.erase(a, b, res=5, broadcast_b=broadcast_b).count()
        n_er_b = LA.erase(
            b.select("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax"), a, res=5,
            broadcast_b=broadcast_b,
        ).count()

        ident = LA.identity(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        assert len(ident) == n_inter + n_er_a
        assert ident["b_id"].isna().sum() == n_er_a

        un = LA.union_layers(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        assert len(un) == n_inter + n_er_a + n_er_b

        sd = LA.sym_difference(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        assert len(sd) == n_er_a + n_er_b

        up = LA.update(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        assert len(up) == n_er_a + NB
        # update total area = erase(A,B) + all B areas
        b_area = sum(G.wkb_area(bytes(r.wkb)) for r in _shifted_polys(NB).itertuples(index=False))
        er_area = LA.erase(a, b, res=5, broadcast_b=broadcast_b).toPandas()["area"].sum()
        assert up["area"].sum() == pytest.approx(er_area + b_area, rel=1e-9)

    @pytest.mark.parametrize("broadcast_b", [True, False], ids=["broadcast", "shuffle"])
    def test_union_piece_accounting_and_b_side_erase(self, spark, ab, broadcast_b):
        """union rows = inter + eraseA + eraseB pieces exactly (GDAL's
        Union emits exactly these three groups, ogrlayer.cpp:5803); plus
        a brute mask check of the B-side remainder."""
        a, b = ab
        un = LA.union_layers(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        inter = LA.intersection(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        er_a = LA.erase(a, b, res=5, broadcast_b=broadcast_b).toPandas()
        b_sel = b.select("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
        er_b = LA.erase(b_sel, a, res=5, broadcast_b=broadcast_b).toPandas()
        assert un["area"].sum() == pytest.approx(
            inter["area"].sum() + er_a["area"].sum() + er_b["area"].sum(), rel=1e-9
        )
        # mask-verify B-side remainders (same oracle as the A side)
        a_pdf = a.toPandas()
        er_b_by = {r.a_id: r for r in er_b.itertuples(index=False)}
        for rb in _shifted_polys(NB).itertuples(index=False):
            gt = _gt_for((rb.xmin, rb.ymin, rb.xmax, rb.ymax))
            bm = _geo_mask(_flat(rb.wkb), gt)
            am = np.zeros_like(bm)
            for ra in a_pdf.itertuples(index=False):
                am |= _geo_mask(_flat(ra.wkb), gt)
            want = bm & ~am
            got = _geo_mask(_flat(er_b_by[rb.poly_id].wkb), gt) if rb.poly_id in er_b_by \
                else np.zeros_like(bm)
            assert (got != want).sum() <= 3, f"erase(B,A) b={rb.poly_id}"
