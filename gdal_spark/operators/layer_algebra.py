"""Layer algebra: Intersection / Clip / Erase / Identity / Union /
SymDifference / Update (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385-7900).

The reference runs a nested loop per input feature with an envelope
pre-filter, per-row spatial-filter pushdown and prepared geometries,
emitting pairwise GEOS results. Here:

  candidates  = spatial_join's intersects path (operators/spatial_join):
                A's bbox probes B's one polygon build side through the
                cell join, envelope filter, reference-point rule and
                exact box test there; broadcast_b picks its path
  kernels     = even-odd ring algebra over Greiner-Hormann clips
                (functions/polyclip) inside Arrow-batched UDFs
  remainders  = groupBy(feature).collect of intersecting method features,
                then A △ (A ∩ ∪B) — the "minus all matches" second loop
                of Union/Erase (ogrlayer.cpp:5803ff) as one aggregation

Both layers are (poly_id, wkb, xmin, ymin, xmax, ymax) frames; output
rows name their features a_id / b_id. Output geometry is structured
Polygon/MultiPolygon WKB (nesting resolved via structure_rings), so
downstream PIP/area/rasterize read it natively.

Semantics notes vs the reference:
  * PROMOTE_TO_MULTI is implicit (multi output whenever >1 part).
  * SKIP_FAILURES is moot (kernels are total on non-degenerate input).
  * KEEP_LOWER_DIMENSION_GEOMETRIES=NO: zero-area results are dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.ogrsql import _wkb_area
from gdal_spark.operators import spatial_join as SJ

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
    from gdal_spark.functions import geom as G
    from gdal_spark.functions import polyclip as PC
    from gdal_spark.functions import wkb as W

    region = [
        [p[0]] + [h for h in p[1:] if abs(G.ring_area(h)) > 1e-12]
        for p in region
        if p and abs(G.ring_area(p[0])) > 1e-12
    ]
    if not region:
        return None, 0.0
    area = PC.region_area(region)
    if area <= 1e-12:
        return None, 0.0
    buf = W.write_polygon(region[0]) if len(region) == 1 else W.write_multipolygon(region)
    return buf, float(area)


def _candidates(a: DataFrame, b: DataFrame, res: int, broadcast_b: bool) -> DataFrame:
    """(a_id, a_wkb, b_id, b_wkb) candidate pairs, each exactly once:
    spatial_join's intersects path with A's bbox as the probe box and B
    as the polygon side. A pair its exact box test drops has an empty
    A ∩ B, which every op below would drop anyway."""
    probe = a.select(
        F.col("poly_id").alias("a_id"), F.col("wkb").alias("a_wkb"),
        F.col("xmin").alias("lon_min"), F.col("ymin").alias("lat_min"),
        F.col("xmax").alias("lon_max"), F.col("ymax").alias("lat_max"),
    )
    polys = b.select(F.col("poly_id").alias("b_id"), "wkb", "xmin", "ymin", "xmax", "ymax")
    return SJ.spatial_join(
        probe, polys, res=res, predicate="intersects",
        broadcast_polygons=broadcast_b, keep_wkb=True,
    ).select("a_id", "a_wkb", "b_id", F.col("wkb").alias("b_wkb"))


def _matches(a: DataFrame, b: DataFrame, res: int, broadcast_b: bool) -> DataFrame:
    """(a_id, a_wkb, b_wkbs): each A feature with every B feature it meets."""
    return _candidates(a, b, res, broadcast_b).groupBy("a_id").agg(
        F.first("a_wkb").alias("a_wkb"), F.collect_list("b_wkb").alias("b_wkbs")
    )


def intersection(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """Pairwise A ∩ B pieces (ogrlayer.cpp:5385 core loop)."""
    pairs = _candidates(a, b, res, broadcast_b)

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


def erase(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """A minus the union of ALL intersecting B features (ogrlayer.cpp:7846)
    — the remainder loop of Union/Erase (ogrlayer.cpp:5803ff). Non-matching
    A features pass through unchanged."""
    matches = _matches(a, b, res, broadcast_b)
    lone = (
        a.select(F.col("poly_id").alias("a_id"), F.col("wkb").alias("a_wkb"))
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


def clip(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """A clipped to B coverage, keeping A attrs (ogrlayer.cpp:7537).

    A ∩ ∪Bi is assembled as disjoint pieces A∩B1, A∩(B2∖B1),
    A∩(B3∖B2∖B1), ... — overlap-safe for overlapping method features and
    free of the shared-boundary degeneracies an A∖(A∖∪B) formulation
    would create. O(k²) in matches per feature (k is small: features
    overlapping one input feature)."""
    matches = _matches(a, b, res, broadcast_b)

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


def _remainder(
    a: DataFrame, b: DataFrame, res: int, broadcast_b: bool, of_b: bool = False,
) -> DataFrame:
    """erase(a, b) as (a_id, b_id, wkb, area) rows with a NULL b_id — or,
    with of_b (the layers passed swapped), filed under b_id with a NULL
    a_id."""
    ids = (F.col("a_id"), F.lit(None).cast("long"))
    a_id, b_id = ids[::-1] if of_b else ids
    return erase(a, b, res, broadcast_b).select(
        a_id.alias("a_id"), b_id.alias("b_id"), "wkb", "area"
    )


def identity(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """A split by B (ogrlayer.cpp:6770): A∩B pieces + A remainders."""
    return intersection(a, b, res, broadcast_b).unionByName(
        _remainder(a, b, res, broadcast_b)
    )


def sym_difference(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """A △ B pieces (ogrlayer.cpp:6340): both remainders, no overlap."""
    return _remainder(a, b, res, broadcast_b).unionByName(
        _remainder(b, a, res, broadcast_b, of_b=True)
    )


def union_layers(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """ogrlayer.cpp:5803: A∩B pieces + A-minus-B + B-minus-A."""
    return intersection(a, b, res, broadcast_b).unionByName(
        sym_difference(a, b, res, broadcast_b)
    )


def update(a: DataFrame, b: DataFrame, res: int = 5, broadcast_b: bool = True) -> DataFrame:
    """B patches over A (ogrlayer.cpp:7188): A-minus-B + all B."""
    b_rows = b.select(
        F.lit(None).cast("long").alias("a_id"), F.col("poly_id").alias("b_id"), "wkb",
        _wkb_area(F.col("wkb")).alias("area"),
    )
    return _remainder(a, b, res, broadcast_b).unionByName(b_rows)
