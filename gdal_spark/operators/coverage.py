"""Distributed polygonal-coverage simplification.

Reference parity: `gdal vector simplify-coverage`
(apps/gdalalg_vector_simplify_coverage.cpp), which wraps GEOS
CoverageSimplifier: in a noded polygonal coverage (neighbors share
identical boundary vertex chains), simplification must (a) simplify each
shared boundary exactly once so both owners stay conformal (no slivers or
gaps), and (b) preserve junction nodes — vertices where the set of
adjacent polygons changes (T-nodes) — even when they are collinear for
one of the owners. Independent per-polygon Douglas-Peucker breaks both.

Spark-first decomposition (every stage a DataFrame op, no driver loops):

  1. explode    polygons -> directed boundary segments, each with a
                canonical undirected key (exact coord bytes — a noded
                coverage shares bit-identical vertices).
  2. label      groupBy segment key -> sorted owner set ("pair label").
                One shuffle keyed by an 8-byte hash; this is the analog
                of GEOS's coverage edge classification.
  3. chain      re-join labels to the per-ring ordered segment list, then
                applyInPandas per ring: split the closed walk at label
                changes -> maximal chains; emit (ring -> chain refs in
                order) plus one chain-payload candidate per owner.
  4. simplify   groupBy canonical chain key -> simplify ONCE
                (Douglas-Peucker with chain endpoints pinned).
  5. reassemble join simplified payloads back to the ordered refs and
                rebuild each ring with applyInPandas per polygon.

Deviation from GEOS CoverageSimplifier (documented): no cross-chain
intersection repair — a tolerance large enough to fold one simplified
chain across another is not detected (GEOS steers the simplification
away). The coverage-conformance property (identical shared boundaries,
preserved nodes) is exact.

Scale shape: shuffles are keyed by segment/chain hashes (uniform);
per-ring and per-chain work is local pandas; chain payloads ride the
shuffle as packed float64 bytes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import simplify as SIMP
from gdal_spark.functions import wkb as W

_SEG_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("ring_idx", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("ax", T.DoubleType()),
        T.StructField("ay", T.DoubleType()),
        T.StructField("bx", T.DoubleType()),
        T.StructField("by", T.DoubleType()),
        T.StructField("skey", T.BinaryType()),
    ]
)


def _seg_key(ax: float, ay: float, bx: float, by: float) -> bytes:
    a = np.array([ax, ay]).tobytes()
    b = np.array([bx, by]).tobytes()
    lo, hi = (a, b) if a <= b else (b, a)
    return hashlib.md5(lo + hi).digest()[:12]


def _explode_segments(batches):
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            polys = W.polygon_rings(bytes(r.wkb))
            for ri, ring in enumerate(
                rr for poly in polys for rr in poly
            ):
                v = np.asarray(ring, dtype=np.float64)
                if np.array_equal(v[0], v[-1]):
                    v = v[:-1]  # drop closure; walk is circular
                n = len(v)
                for i in range(n):
                    a, b = v[i], v[(i + 1) % n]
                    rows.append(
                        (
                            r.poly_id, ri, i,
                            float(a[0]), float(a[1]),
                            float(b[0]), float(b[1]),
                            _seg_key(a[0], a[1], b[0], b[1]),
                        )
                    )
        yield pd.DataFrame(
            rows, columns=[f.name for f in _SEG_SCHEMA.fields]
        )


_CHAINREF_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("ring_idx", T.IntegerType()),
        T.StructField("chain_pos", T.IntegerType()),
        T.StructField("reversed", T.BooleanType()),
        T.StructField("ckey", T.BinaryType()),
        T.StructField("coords", T.BinaryType()),
    ]
)


def _chain_canonical(coords: np.ndarray) -> tuple[bytes, bool, np.ndarray]:
    """Canonical orientation: open chains point from the lexicographically
    smaller endpoint; closed loops rotate to their smallest vertex and
    take the smaller-neighbor direction. Returns (key, was_reversed,
    canonical_coords)."""
    closed = bool(np.array_equal(coords[0], coords[-1]))
    if closed:
        body = coords[:-1]
        i0 = int(np.lexsort((body[:, 1], body[:, 0]))[0])
        rolled = np.roll(body, -i0, axis=0)
        fwd = np.vstack([rolled, rolled[:1]])
        rev = fwd[::-1]
        # pick direction by comparing the second vertex
        use_rev = tuple(rev[1]) < tuple(fwd[1])
        canon = rev if use_rev else fwd
    else:
        use_rev = tuple(coords[-1]) < tuple(coords[0])
        canon = coords[::-1] if use_rev else coords
    key = hashlib.md5(np.ascontiguousarray(canon).tobytes()).digest()[:12]
    return key, use_rev, canon


def _rings_to_chains(key, pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("pos")
    n = len(pdf)
    labels = pdf["label"].to_numpy()
    pts = pdf[["ax", "ay"]].to_numpy()
    # node vertices: where the incoming segment's label differs from the
    # outgoing segment's label (circular walk)
    nodes = [i for i in range(n) if labels[i - 1] != labels[i]]
    rows = []
    poly_id = int(pdf["poly_id"].iloc[0])
    ring_idx = int(pdf["ring_idx"].iloc[0])
    if not nodes:
        # single-label ring (island or fully-shared hole): one closed chain
        coords = np.vstack([pts, pts[:1]])
        ckey, rev, canon = _chain_canonical(coords)
        rows.append((poly_id, ring_idx, 0, rev, ckey, canon.tobytes()))
    else:
        for ci in range(len(nodes)):
            i, j = nodes[ci], nodes[(ci + 1) % len(nodes)]
            idx = (
                list(range(i, j + 1))
                if j > i
                else list(range(i, n)) + list(range(0, j + 1))
            )
            coords = pts[np.array(idx) % n]
            ckey, rev, canon = _chain_canonical(coords)
            rows.append((poly_id, ring_idx, ci, rev, ckey, canon.tobytes()))
    return pd.DataFrame(
        rows, columns=[f.name for f in _CHAINREF_SCHEMA.fields]
    )


def simplify_coverage(df: DataFrame, tol: float) -> DataFrame:
    """df: (poly_id long, wkb binary) noded polygonal coverage.
    Returns (poly_id, wkb) with every boundary chain Douglas-Peucker
    simplified exactly once, chain endpoints (junction nodes) pinned."""
    segs = df.mapInPandas(_explode_segments, schema=_SEG_SCHEMA)
    labels = (
        segs.groupBy("skey")
        .agg(F.sort_array(F.collect_set("poly_id")).alias("owners"))
        .select(
            "skey",
            F.md5(F.concat_ws(",", F.col("owners").cast("array<string>"))).alias(
                "label"
            ),
        )
    )
    labeled = segs.join(labels, "skey")
    refs = labeled.groupBy("poly_id", "ring_idx").applyInPandas(
        _rings_to_chains, schema=_CHAINREF_SCHEMA
    )

    simp_schema = T.StructType(
        [
            T.StructField("ckey", T.BinaryType()),
            T.StructField("scoords", T.BinaryType()),
        ]
    )

    def _simplify_chain(key, pdf: pd.DataFrame) -> pd.DataFrame:
        coords = np.frombuffer(bytes(pdf["coords"].iloc[0]), np.float64).reshape(-1, 2)
        closed = bool(np.array_equal(coords[0], coords[-1]))
        if closed:
            out = SIMP.simplify_ring(coords, tol)
            if out is None:
                out = coords  # preserve-topology: keep degenerate loops
        else:
            out = SIMP.dp_simplify(coords, tol)
        return pd.DataFrame(
            {"ckey": [pdf["ckey"].iloc[0]], "scoords": [out.tobytes()]}
        )

    simplified = (
        refs.select("ckey", "coords")
        .groupBy("ckey")
        .applyInPandas(_simplify_chain, schema=simp_schema)
    )

    out_schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType()),
            T.StructField("wkb", T.BinaryType()),
        ]
    )

    def _reassemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        poly_id = int(pdf["poly_id"].iloc[0])
        rings = []
        for ring_idx, grp in pdf.groupby("ring_idx"):
            grp = grp.sort_values("chain_pos")
            verts: list[np.ndarray] = []
            for r in grp.itertuples(index=False):
                c = np.frombuffer(bytes(r.scoords), np.float64).reshape(-1, 2)
                if r.reversed:
                    c = c[::-1]
                # chains join end-to-start: drop the duplicated junction
                verts.append(c[:-1])
            ring = np.vstack(verts + [verts[0][:1]])
            rings.append(ring)
        return pd.DataFrame(
            {"poly_id": [poly_id], "wkb": [bytearray(W.write_polygon(rings))]}
        )

    return (
        refs.drop("coords")
        .join(simplified, "ckey")
        .groupBy("poly_id")
        .applyInPandas(_reassemble, schema=out_schema)
    )


# --------------------------------------------------------------------------
# Coverage validation (`gdal vector check-coverage` /
# GEOS CoverageValidator via apps/gdalalg_vector_check_coverage.cpp)
# --------------------------------------------------------------------------


def boundary_segment_stats(df: DataFrame) -> DataFrame:
    """Per boundary segment: how many polygons own it. In a valid noded
    coverage every segment has 1 owner (outer boundary) or 2 (shared
    interior boundary); >= 3 means duplicated/overlapping geometry.
    One hash-keyed shuffle; segment explode is embarrassingly parallel."""
    segs = df.mapInPandas(_explode_segments, schema=_SEG_SCHEMA)
    return segs.groupBy("skey").agg(
        F.countDistinct("poly_id").alias("n_owners"),
        F.min("poly_id").alias("min_owner"),
    )


def overlap_pairs(df: DataFrame, cell: float) -> DataFrame:
    """Pairs of polygons whose INTERIORS overlap (positive intersection
    area) — invalid in a coverage. Candidates come from a bbox cover-cell
    equi-join (each polygon explodes to the grid cells its bbox covers;
    pairs sharing a cell are deduped by the reference-cell rule, no
    dropDuplicates shuffle); the exact area uses the slab-sweep
    inclusion-exclusion kernel, immune to shared-edge degeneracies.
    `cell` should be on the order of a typical polygon diameter. The grid
    is planar, not spatial_join's: coverage coordinates may be in any CRS,
    and the Web-Mercator cell key clamps at +-180/+-89 degrees, so
    projected coordinates would all fall into one cell."""
    box_schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType()),
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
        ]
    )

    def boxes(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                bx = W.bbox(bytes(r.wkb))
                rows.append((r.poly_id, *bx))
            yield pd.DataFrame(
                rows, columns=[f.name for f in box_schema.fields]
            )

    bx = df.mapInPandas(boxes, schema=box_schema)
    cells = bx.select(
        "poly_id", "x0", "y0", "x1", "y1",
        F.explode(
            F.sequence(
                F.floor(F.col("x0") / cell), F.floor(F.col("x1") / cell)
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("y0") / cell), F.floor(F.col("y1") / cell)
            )
        ).alias("cy"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.poly_id") < F.col("b.poly_id"))
            # bbox overlap test
            & (F.col("a.x0") <= F.col("b.x1"))
            & (F.col("b.x0") <= F.col("a.x1"))
            & (F.col("a.y0") <= F.col("b.y1"))
            & (F.col("b.y0") <= F.col("a.y1")),
        )
        # reference-cell rule: count each pair once, at the cell holding
        # the intersection bbox's lower-left corner (no distinct shuffle)
        .filter(
            (F.col("a.cx") == F.floor(
                F.greatest(F.col("a.x0"), F.col("b.x0")) / cell))
            & (F.col("a.cy") == F.floor(
                F.greatest(F.col("a.y0"), F.col("b.y0")) / cell))
        )
        .select(
            F.col("a.poly_id").alias("poly_a"),
            F.col("b.poly_id").alias("poly_b"),
        )
    )
    wkbs_a = df.select(
        F.col("poly_id").alias("poly_a"), F.col("wkb").alias("wkb_a")
    )
    wkbs_b = df.select(
        F.col("poly_id").alias("poly_b"), F.col("wkb").alias("wkb_b")
    )
    paired = cand.join(wkbs_a, "poly_a").join(wkbs_b, "poly_b")

    out_schema = T.StructType(
        [
            T.StructField("poly_a", T.LongType()),
            T.StructField("poly_b", T.LongType()),
            T.StructField("inter_area", T.DoubleType()),
        ]
    )

    def exact(batches):
        from gdal_spark.functions import st_catalog as ST

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                area = ST._inter_area(bytes(r.wkb_a), bytes(r.wkb_b))
                rows.append((r.poly_a, r.poly_b, float(area)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return (
        paired.mapInPandas(exact, schema=out_schema)
        .filter(F.col("inter_area") > 1e-9)
    )


# ----------------------------------------------------------------------------
# clean_coverage — `gdal vector clean-coverage`
# (apps/gdalalg_vector_clean_coverage.cpp, GEOS CoverageCleaner)
# ----------------------------------------------------------------------------


def _snap_rings(buf: bytes, tol: float):
    """Snap every vertex to the tol grid (bit-identical across features —
    np.round on the shared grid, no per-feature state) and drop collapsed
    rings. Returns a Region (list of polys, each a ring list) or None."""
    out = []
    for rings in W.polygon_rings(buf):
        poly = []
        for ring in rings:
            r = np.round(np.asarray(ring, dtype=np.float64) / tol) * tol
            keep = np.ones(len(r), dtype=bool)
            keep[1:] = (r[1:, 0] != r[:-1, 0]) | (r[1:, 1] != r[:-1, 1])
            r = r[keep]
            if len(r) and (r[0][0] != r[-1][0] or r[0][1] != r[-1][1]):
                r = np.vstack([r, r[:1]])
            if len(r) >= 4:
                poly.append(r)
        if poly:
            out.append(poly)
    return out or None


def clean_coverage(
    df: DataFrame, snap_tol: float = 0.0, cell: float = 16.0
) -> DataFrame:
    """Clean an (almost-)coverage of (poly_id, wkb) rows.

    1. snap      vertices to the snap_tol grid (embarrassingly parallel) —
                 closes gaps narrower than the tolerance, the snapping-
                 distance semantics of GEOS CoverageCleaner.
    2. pairs     exact interior-overlap pairs via the bbox cover-cell join
                 (overlap_pairs — one equi-join shuffle, no O(N^2)).
    3. resolve   merge strategy ``min-index`` (GEOS_MERGE_MIN_INDEX):
                 every overlap region goes to the lowest poly_id covering
                 it — each loser subtracts ALL its lower-index overlapping
                 neighbors, so the fixpoint needs a single pass.

    Deviation (documented): gap closing beyond snapping (maximum-gap-width
    with sliver synthesis) and the longest-border/area merge strategies are
    not implemented; min-index is the deterministic default here.
    """
    if snap_tol > 0.0:

        def snap(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    region = _snap_rings(bytes(r.wkb), snap_tol)
                    if region is None:
                        continue
                    if len(region) == 1:
                        buf = W.write_polygon(region[0])
                    else:
                        buf = W.write_multipolygon(region)
                    rows.append((r.poly_id, bytearray(buf)))
                yield pd.DataFrame(rows, columns=["poly_id", "wkb"])

        df = df.mapInPandas(snap, schema=df.schema)
        df = df.persist()  # snapped geometry feeds both the pair join and the cut

    pairs = overlap_pairs(df, cell)
    cutters = (
        pairs.join(
            df.select(
                F.col("poly_id").alias("poly_a"), F.col("wkb").alias("cut_wkb")
            ),
            "poly_a",
        )
        .groupBy("poly_b")
        .agg(F.collect_list("cut_wkb").alias("cuts"))
    )
    joined = df.join(
        cutters, df["poly_id"] == cutters["poly_b"], "left"
    ).select("poly_id", "wkb", "cuts")

    def resolve(batches):
        from gdal_spark.functions import polyclip as PC

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                buf = bytes(r.wkb)
                cuts = r.cuts
                if cuts is None or (isinstance(cuts, float)) or len(cuts) == 0:
                    rows.append((r.poly_id, bytearray(buf)))
                    continue
                region = [list(rings) for rings in W.polygon_rings(buf)]
                for cut in cuts:
                    region = PC.region_minus(
                        region, [list(rings) for rings in W.polygon_rings(bytes(cut))]
                    )
                    if not region:
                        break
                if not region:
                    continue  # fully ceded to lower-index neighbors
                if len(region) == 1:
                    out = W.write_polygon([np.asarray(x) for x in region[0]])
                else:
                    out = W.write_multipolygon(
                        [[np.asarray(x) for x in p] for p in region]
                    )
                rows.append((r.poly_id, bytearray(out)))
            yield pd.DataFrame(rows, columns=["poly_id", "wkb"])

    out_schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType()),
            T.StructField("wkb", T.BinaryType()),
        ]
    )
    return joined.mapInPandas(resolve, schema=out_schema)
