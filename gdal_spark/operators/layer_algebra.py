"""Layer algebra: Intersection / Clip / Erase / Identity / Union /
SymDifference / Update (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385-7900).

The reference runs a nested loop per input feature with an envelope
pre-filter, per-row spatial-filter pushdown and prepared geometries,
emitting pairwise GEOS results. Here:

  candidates  = cell equi-join + bbox conjunction (operators/spatial_join
                candidate machinery — same two-phase filter)
  kernels     = even-odd ring algebra over Greiner-Hormann clips
                (functions/polyclip) inside Arrow-batched UDFs
  remainders  = groupBy(feature).collect of intersecting method features,
                then A △ (A ∩ ∪B) — the "minus all matches" second loop
                of Union/Erase (ogrlayer.cpp:5803ff) as one aggregation

Output geometry is structured Polygon/MultiPolygon WKB (nesting resolved
via structure_rings), so downstream PIP/area/rasterize read it natively.

Semantics notes vs the reference:
  * PROMOTE_TO_MULTI is implicit (multi output whenever >1 part).
  * SKIP_FAILURES is moot (kernels are total on non-degenerate input).
  * KEEP_LOWER_DIMENSION_GEOMETRIES=NO: zero-area results are dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import cells as C

_PAIR_GEOM_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.LongType()),
        T.StructField("b_id", T.LongType()),
        T.StructField("wkb", T.BinaryType()),
        T.StructField("area", T.DoubleType()),
    ]
)

_FEAT_GEOM_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.LongType()),
        T.StructField("wkb", T.BinaryType()),
        T.StructField("area", T.DoubleType()),
    ]
)


def _region(wkb_buf: bytes):
    """WKB polygon/multipolygon -> Region (list of [ext, holes...])."""
    from gdal_spark.functions import wkb as W

    return [list(rings) for rings in W.polygon_rings(wkb_buf)]


def _emit_wkb(region):
    """Region -> structured WKB + exact area, or (None, 0) if empty."""
    from gdal_spark.functions import polyclip as PC
    from gdal_spark.functions import wkb as W

    region = [
        [p[0]] + [h for h in p[1:] if abs(_ring_area(h)) > 1e-12]
        for p in region
        if p and abs(_ring_area(p[0])) > 1e-12
    ]
    if not region:
        return None, 0.0
    area = PC.region_area(region)
    if area <= 1e-12:
        return None, 0.0
    buf = W.write_polygon(region[0]) if len(region) == 1 else W.write_multipolygon(region)
    return buf, float(area)


def _ring_area(r):
    from gdal_spark.functions import geom as G

    return G.ring_area(r)


def _candidates(
    a: DataFrame, b: DataFrame, res: int,
    a_key: str, b_key: str, broadcast_b: bool,
) -> DataFrame:
    """Cell-join candidate pairs with bbox conjunction (two-phase filter
    phase 1); each (a,b) pair exactly once."""
    ac = a.select(
        F.col(a_key).alias("a_id"), F.col("wkb").alias("a_wkb"),
        F.col("xmin").alias("axmin"), F.col("ymin").alias("aymin"),
        F.col("xmax").alias("axmax"), F.col("ymax").alias("aymax"),
    ).withColumn(
        "cell",
        F.explode(C.cover_cells(F.col("axmin"), F.col("aymin"),
                                F.col("axmax"), F.col("aymax"), res)),
    )
    bc = b.select(
        F.col(b_key).alias("b_id"), F.col("wkb").alias("b_wkb"),
        F.col("xmin").alias("bxmin"), F.col("ymin").alias("bymin"),
        F.col("xmax").alias("bxmax"), F.col("ymax").alias("bymax"),
    ).withColumn(
        "cell",
        F.explode(C.cover_cells(F.col("bxmin"), F.col("bymin"),
                                F.col("bxmax"), F.col("bymax"), res)),
    )
    if broadcast_b:
        bc = F.broadcast(bc)
    # exactly-once pairs WITHOUT a dedup shuffle: a pair discovered in
    # several shared cells is kept only in the cell containing the
    # lower-left corner of the bbox intersection (reference-point rule,
    # same as spatial_join's intersects path — a Column filter, not dropDuplicates)
    ref_cell = C.lonlat_cell(
        F.greatest(F.col("axmin"), F.col("bxmin")),
        F.greatest(F.col("aymin"), F.col("bymin")),
        res,
    )
    return (
        ac.join(bc, on="cell")
        .filter(
            (F.col("axmin") <= F.col("bxmax")) & (F.col("bxmin") <= F.col("axmax"))
            & (F.col("aymin") <= F.col("bymax")) & (F.col("bymin") <= F.col("aymax"))
        )
        .filter(F.col("cell") == ref_cell)
        .drop("cell")
    )


def intersection(
    a: DataFrame, b: DataFrame, res: int = 5,
    a_key: str = "poly_id", b_key: str = "poly_id", broadcast_b: bool = True,
) -> DataFrame:
    """Pairwise A ∩ B pieces (ogrlayer.cpp:5385 core loop)."""
    pairs = _candidates(a, b, res, a_key, b_key, broadcast_b)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import polyclip as PC

        cols = [f.name for f in _PAIR_GEOM_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                region = PC.region_intersection(
                    _region(bytes(r.a_wkb)), _region(bytes(r.b_wkb))
                )
                buf, area = _emit_wkb(region)
                if buf is not None:
                    rows.append((r.a_id, r.b_id, bytearray(buf), area))
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(run, _PAIR_GEOM_SCHEMA)


def _minus_all(
    a: DataFrame, b: DataFrame, res: int, a_key: str, b_key: str, broadcast_b: bool,
) -> DataFrame:
    """A features minus the union of ALL intersecting B features —
    the remainder loop of Union/Erase (ogrlayer.cpp:5803ff, :7846).
    Non-matching A features pass through unchanged (left join)."""
    pairs = _candidates(a, b, res, a_key, b_key, broadcast_b)
    matches = pairs.groupBy("a_id").agg(
        F.first("a_wkb").alias("a_wkb"), F.collect_list("b_wkb").alias("b_wkbs")
    )
    lone = (
        a.select(F.col(a_key).alias("a_id"), F.col("wkb").alias("a_wkb"))
        .join(matches.select("a_id"), on="a_id", how="left_anti")
        .withColumn("b_wkbs", F.array().cast("array<binary>"))
    )
    allrows = matches.unionByName(lone)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import polyclip as PC

        cols = [f.name for f in _FEAT_GEOM_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                region = _region(bytes(r.a_wkb))
                for bw in r.b_wkbs:
                    region = PC.region_minus(region, _region(bytes(bw)))
                buf, area = _emit_wkb(region)
                if buf is not None:
                    rows.append((r.a_id, bytearray(buf), area))
            yield pd.DataFrame(rows, columns=cols)

    return allrows.mapInPandas(run, _FEAT_GEOM_SCHEMA)


def erase(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """A minus B coverage (ogrlayer.cpp:7846)."""
    kw.setdefault("res", 5)
    kw.setdefault("a_key", "poly_id")
    kw.setdefault("b_key", "poly_id")
    kw.setdefault("broadcast_b", True)
    return _minus_all(a, b, kw["res"], kw["a_key"], kw["b_key"], kw["broadcast_b"])


def clip(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """A clipped to B coverage, keeping A attrs (ogrlayer.cpp:7537).

    A ∩ ∪Bi is assembled as disjoint pieces A∩B1, A∩(B2∖B1),
    A∩(B3∖B2∖B1), ... — overlap-safe for overlapping method features and
    free of the shared-boundary degeneracies an A∖(A∖∪B) formulation
    would create. O(k²) in matches per feature (k is small: features
    overlapping one input feature)."""
    kw.setdefault("res", 5)
    kw.setdefault("a_key", "poly_id")
    kw.setdefault("b_key", "poly_id")
    kw.setdefault("broadcast_b", True)
    pairs = _candidates(a, b, kw["res"], kw["a_key"], kw["b_key"], kw["broadcast_b"])
    matches = pairs.groupBy("a_id").agg(
        F.first("a_wkb").alias("a_wkb"), F.collect_list("b_wkb").alias("b_wkbs")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.functions import polyclip as PC

        cols = [f.name for f in _FEAT_GEOM_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a_region = _region(bytes(r.a_wkb))
                region = []
                prev = []
                for bw in r.b_wkbs:
                    b_reg = _region(bytes(bw))
                    for prev_reg in prev:
                        b_reg = PC.region_minus(b_reg, prev_reg)
                    region.extend(PC.region_intersection(a_region, b_reg))
                    prev.append(_region(bytes(bw)))
                buf, area = _emit_wkb(region)
                if buf is not None:
                    rows.append((r.a_id, bytearray(buf), area))
            yield pd.DataFrame(rows, columns=cols)

    return matches.mapInPandas(run, _FEAT_GEOM_SCHEMA)


def identity(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """A split by B (ogrlayer.cpp:6770): A∩B pieces + A remainders."""
    inter = intersection(a, b, **kw)
    rem = erase(a, b, **kw).withColumn("b_id", F.lit(None).cast("long"))
    return inter.unionByName(rem.select("a_id", "b_id", "wkb", "area"))


def union_layers(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """ogrlayer.cpp:5803: A∩B pieces + A-minus-B + B-minus-A."""
    inter = intersection(a, b, **kw)
    rem_a = erase(a, b, **kw).select(
        F.col("a_id"), F.lit(None).cast("long").alias("b_id"), "wkb", "area"
    )
    kw_swap = dict(kw)
    kw_swap["a_key"], kw_swap["b_key"] = (
        kw.get("b_key", "poly_id"), kw.get("a_key", "poly_id"),
    )
    rem_b = erase(b, a, **kw_swap).select(
        F.lit(None).cast("long").alias("a_id"), F.col("a_id").alias("b_id"), "wkb", "area"
    )
    return inter.unionByName(rem_a).unionByName(rem_b)


def sym_difference(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """A △ B pieces (ogrlayer.cpp:6340): both remainders, no overlap."""
    rem_a = erase(a, b, **kw).select(
        F.col("a_id"), F.lit(None).cast("long").alias("b_id"), "wkb", "area"
    )
    kw_swap = dict(kw)
    kw_swap["a_key"], kw_swap["b_key"] = (
        kw.get("b_key", "poly_id"), kw.get("a_key", "poly_id"),
    )
    rem_b = erase(b, a, **kw_swap).select(
        F.lit(None).cast("long").alias("a_id"), F.col("a_id").alias("b_id"), "wkb", "area"
    )
    return rem_a.unionByName(rem_b)


def update(a: DataFrame, b: DataFrame, **kw) -> DataFrame:
    """B patches over A (ogrlayer.cpp:7188): A-minus-B + all B."""
    rem_a = erase(a, b, **kw).select(
        F.col("a_id"), F.lit(None).cast("long").alias("b_id"), "wkb", "area"
    )
    b_key = kw.get("b_key", "poly_id")
    from gdal_spark.functions import geom as G

    @F.pandas_udf(T.DoubleType())
    def area_udf(wkb_col: pd.Series) -> pd.Series:
        return wkb_col.map(lambda b_: G.wkb_area(bytes(b_)))

    b_rows = b.select(
        F.lit(None).cast("long").alias("a_id"),
        F.col(b_key).alias("b_id"), "wkb",
        area_udf(F.col("wkb")).alias("area"),
    )
    return rem_a.unionByName(b_rows)
