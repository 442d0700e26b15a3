"""Deterministic synthetic fixtures (FIXTURES.md): `images`, `polygons`,
`points` — seed 42, no external data.

The `images` table matches the BASELINE.json input_hint exactly:
(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long). Generation is DISTRIBUTED (spark.range -> mapInPandas), so the
same code that makes 200 test rows makes 2M bench rows across executors;
each row is derived only from its index i (seed 42+i), so any subset is
reproducible on any partitioning.

Geo-footprints are NOT stored: the engine derives them from image_id via
the closed-form in `footprint_expr` (both numpy and Column twins below) —
this plays the role of the geotransform metadata a real corpus would carry.
A Zipf-ish hot cluster (every 5th image inside one 1°x1° box) exercises
hot-cell skew, per FIXTURES.md §1.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import codecs, quality, wkb

SEED = 42
W_CYCLE = [64, 128, 256, 257]
H_CYCLE = [64, 96, 256, 255]
FMT_CYCLE = ["png", "jpeg"]
NOUNS = ["river", "forest", "runway", "harbor", "glacier", "desert", "reef", "delta"]
PLACES = ["tunis", "osaka", "quito", "lagos", "bergen", "perth", "denver", "hanoi"]

# Footprint closed-form constants (golden-angle increments -> quasi-uniform)
PHI_LON = 137.50776405003785
PHI_LAT = 78.61803398874989
HOT_LON0, HOT_LAT0 = 10.0, 45.0  # the 1-degree hot box (skew cluster)


# --------------------------------------------------------------------------
# Footprint closed form — numpy twin + Column twin (must stay in lockstep)
# --------------------------------------------------------------------------


def footprint_np(i: np.ndarray) -> dict[str, np.ndarray]:
    i = np.asarray(i, dtype=np.float64)
    hot = (i % 5.0) == 0.0
    lon_c = np.where(hot, HOT_LON0 + (i * PHI_LON) % 1.0, -180.0 + (i * PHI_LON) % 360.0)
    lat_c = np.where(hot, HOT_LAT0 + (i * PHI_LAT) % 1.0, -85.0 + (i * PHI_LAT) % 170.0)
    # integer-mod form: exact in every engine (no float knife-edges where
    # i*step is an exact multiple of the modulus, e.g. 37*392 == 296*49)
    ii = np.asarray(i, dtype=np.int64)
    dlon = 0.01 + (ii * 37 % 49) / 100.0
    dlat = 0.01 + (ii * 23 % 49) / 100.0
    return {
        "lon_min": lon_c - dlon / 2.0,
        "lat_min": np.clip(lat_c - dlat / 2.0, -85.0, 85.0),
        "lon_max": lon_c + dlon / 2.0,
        "lat_max": np.clip(lat_c + dlat / 2.0, -85.0, 85.0),
    }


def image_index(image_id: Column) -> Column:
    """img00000042 -> 42."""
    return F.substring(image_id, 4, 8).cast("long")


def footprint_cols(idx: Column) -> dict[str, Column]:
    """Column twin of footprint_np (keyed by image index)."""
    i = idx.cast("double")
    hot = (idx % 5) == 0
    lon_c = F.when(hot, F.lit(HOT_LON0) + (i * PHI_LON) % 1.0).otherwise(
        F.lit(-180.0) + (i * PHI_LON) % 360.0
    )
    lat_c = F.when(hot, F.lit(HOT_LAT0) + (i * PHI_LAT) % 1.0).otherwise(
        F.lit(-85.0) + (i * PHI_LAT) % 170.0
    )
    dlon = F.lit(0.01) + (idx * 37 % 49).cast("double") / 100.0
    dlat = F.lit(0.01) + (idx * 23 % 49).cast("double") / 100.0
    clip = lambda c: F.greatest(F.lit(-85.0), F.least(F.lit(85.0), c))  # noqa: E731
    return {
        "lon_min": lon_c - dlon / 2.0,
        "lat_min": clip(lat_c - dlat / 2.0),
        "lon_max": lon_c + dlon / 2.0,
        "lat_max": clip(lat_c + dlat / 2.0),
    }


def with_footprint(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Attach footprint bbox columns derived from image_id (pure Column math)."""
    cols = footprint_cols(image_index(F.col(id_col)))
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df


# --------------------------------------------------------------------------
# Pixel synthesis
# --------------------------------------------------------------------------


def make_pixels(i: int, h: int, w: int) -> np.ndarray:
    """Seeded noise + deterministic geometric primitives (rect + disk), so
    rasterize/polygonize/feature ops have structure to find."""
    rng = np.random.default_rng(SEED + i)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    # flat rectangle
    x0, y0 = (i * 13) % max(1, w // 2), (i * 7) % max(1, h // 2)
    x1, y1 = x0 + w // 3, y0 + h // 3
    arr[y0:y1, x0:x1] = [(i * 29) % 256, (i * 53) % 256, (i * 97) % 256]
    # filled disk
    cy, cx = (i * 11) % h, (i * 17) % w
    r = max(3, min(h, w) // 6)
    yy, xx = np.ogrid[:h, :w]
    arr[(yy - cy) ** 2 + (xx - cx) ** 2 <= r * r] = [(i * 71) % 256] * 3
    return arr


IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def row_meta(i: int, size_cap: int | None = None) -> tuple[int, int, str, str]:
    w = W_CYCLE[i % len(W_CYCLE)]
    h = H_CYCLE[i % len(H_CYCLE)]
    if size_cap:
        w, h = min(w, size_cap), min(h, size_cap)
    fmt = FMT_CYCLE[i % len(FMT_CYCLE)]
    caption = f"caption of img{i:08d}: {NOUNS[i % len(NOUNS)]} over {PLACES[i % len(PLACES)]}"
    return w, h, fmt, caption


def images_df(
    spark: SparkSession,
    n: int,
    with_pixels: bool = True,
    size_cap: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """The canonical `images` table, generated distributed.

    with_pixels=False emits bytes/phash as NULL (metadata-only mode for
    join/tile benchmarks where decoding isn't under test) and stays 100%
    Column math — no Python boundary at all, so metadata-scale benches
    measure the engine, not the generator.
    """
    if not with_pixels:
        rng = spark.range(
            n, numPartitions=partitions or spark.sparkContext.defaultParallelism
        )
        idx = F.col("id")
        w_arr = F.array(*[F.lit(v) for v in W_CYCLE])
        h_arr = F.array(*[F.lit(v) for v in H_CYCLE])
        w = F.element_at(w_arr, (idx % len(W_CYCLE) + 1).cast("int"))
        h = F.element_at(h_arr, (idx % len(H_CYCLE) + 1).cast("int"))
        if size_cap:
            w = F.least(w, F.lit(size_cap))
            h = F.least(h, F.lit(size_cap))
        noun = F.element_at(
            F.array(*[F.lit(s) for s in NOUNS]), (idx % len(NOUNS) + 1).cast("int")
        )
        place = F.element_at(
            F.array(*[F.lit(s) for s in PLACES]), (idx % len(PLACES) + 1).cast("int")
        )
        # concat+lpad, NOT format_string: java.util.Formatter costs ~us per
        # call and projection collapsing re-evaluates the id expression many
        # times per row (measured: 20M metadata rows noop-write 79s -> ~4s).
        # Fixture ids are < 10^8 by contract, so lpad(8) == %08d.
        id8 = F.lpad(idx.cast("string"), 8, "0")
        return rng.select(
            F.concat(F.lit("img"), id8).alias("image_id"),
            F.lit(None).cast("binary").alias("bytes"),
            w.cast("int").alias("w"),
            h.cast("int").alias("h"),
            F.element_at(
                F.array(*[F.lit(s) for s in FMT_CYCLE]),
                (idx % len(FMT_CYCLE) + 1).cast("int"),
            ).alias("fmt"),
            F.concat(
                F.lit("caption of img"), id8, F.lit(": "), noun, F.lit(" over "), place
            ).alias("caption"),
            F.lit(None).cast("long").alias("phash"),
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                w, h, fmt, caption = row_meta(i, size_cap)
                if with_pixels:
                    arr = make_pixels(i, h, w)
                    data = codecs.encode_image(arr, fmt)
                    ph = quality.phash64(codecs.decode_image(data, fmt))
                else:
                    data, ph = None, None
                rows.append((f"img{i:08d}", data, w, h, fmt, caption, ph))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    rng = spark.range(n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, IMAGES_SCHEMA)


# --------------------------------------------------------------------------
# Polygons fixture (FIXTURES.md §2) — driver-side numpy, it is a dim table
# --------------------------------------------------------------------------

POLYGONS_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType(), False),
        T.StructField("eas_id", T.LongType(), False),
        T.StructField("prfedea", T.StringType(), False),
        T.StructField("wkb", T.BinaryType(), False),
        T.StructField("area", T.DoubleType(), False),
        T.StructField("xmin", T.DoubleType(), False),
        T.StructField("ymin", T.DoubleType(), False),
        T.StructField("xmax", T.DoubleType(), False),
        T.StructField("ymax", T.DoubleType(), False),
    ]
)


def _poly_rings(i: int, rng: np.random.Generator) -> list[np.ndarray]:
    """Mix of boxes / convex k-gons / concave C-shapes with a hole."""
    # centers quasi-uniform over the globe, every 7th in the hot box
    if i % 7 == 0:
        cx = HOT_LON0 + (i * PHI_LON) % 1.0
        cy = HOT_LAT0 + (i * PHI_LAT) % 1.0
    else:
        cx = -175.0 + (i * PHI_LON * 1.7) % 350.0
        cy = -80.0 + (i * PHI_LAT * 1.3) % 160.0
    size = 0.2 + (i * 0.61) % 2.8
    kind = i % 3
    if kind == 0:  # axis-aligned box
        return [
            np.array(
                [[cx - size, cy - size], [cx + size, cy - size], [cx + size, cy + size], [cx - size, cy + size]]
            )
        ]
    if kind == 1:  # convex k-gon
        k = 5 + i % 5
        ang = np.linspace(0, 2 * np.pi, k, endpoint=False) + (i % 10) * 0.1
        radii = size * (0.7 + 0.3 * rng.random(k))
        pts = np.c_[cx + radii * np.cos(ang), cy + radii * np.sin(ang)]
        return [pts]
    # concave "C" with a hole
    s = size
    outer = np.array(
        [
            [cx - s, cy - s], [cx + s, cy - s], [cx + s, cy - s / 2],
            [cx - s / 3, cy - s / 2], [cx - s / 3, cy + s / 2],
            [cx + s, cy + s / 2], [cx + s, cy + s], [cx - s, cy + s],
        ]
    )
    hole = np.array(
        [
            [cx - 0.8 * s, cy - 0.3 * s], [cx - 0.5 * s, cy - 0.3 * s],
            [cx - 0.5 * s, cy + 0.3 * s], [cx - 0.8 * s, cy + 0.3 * s],
        ]
    )
    return [outer, hole]


def polygons_pdf(p: int) -> pd.DataFrame:
    from gdal_spark.functions import geom

    rng = np.random.default_rng(SEED)
    rows = []
    for i in range(p):
        rings = _poly_rings(i, rng)
        buf = wkb.write_polygon(rings)
        xmin, ymin, xmax, ymax = wkb.bbox(buf)
        rows.append(
            (
                i,
                158 + ((i * 37) % max(1, p)),
                f"35043{1410 + i}",
                buf,
                geom.polygon_area(rings),
                xmin, ymin, xmax, ymax,
            )
        )
    return pd.DataFrame(
        rows,
        columns=["poly_id", "eas_id", "prfedea", "wkb", "area", "xmin", "ymin", "xmax", "ymax"],
    )


def polygons_df(spark: SparkSession, p: int) -> DataFrame:
    return spark.createDataFrame(polygons_pdf(p), POLYGONS_SCHEMA)


# --------------------------------------------------------------------------
# Points fixture (kNN / gridding, FIXTURES.md §3)
# --------------------------------------------------------------------------


def points_pdf(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(SEED)
    i = np.arange(n, dtype=np.float64)
    hot = (i % 4.0) == 0.0
    x = np.where(hot, HOT_LON0 + rng.random(n), -180.0 + (i * PHI_LON) % 360.0)
    y = np.where(hot, HOT_LAT0 + rng.random(n), -85.0 + (i * PHI_LAT) % 170.0)
    z = np.sin(x / 10.0) + np.cos(y / 10.0) + 0.05 * rng.standard_normal(n)
    return pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64), "x": x, "y": y, "z": z})


def points_df(spark: SparkSession, n: int) -> DataFrame:
    return spark.createDataFrame(points_pdf(n))
