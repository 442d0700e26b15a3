"""The four benchmark workloads. Each makes its inputs from the seed, runs
timed passes through the package's public API (or, for tile_pyramid, the
job script), checks every pass's output, and has a traced variant that
breaks a pass into per-layer metrics."""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

from observe import SparkMetrics, op_count, op_sum, seconds

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".geobench")
MASTER = "local[4]"

# (name, unit) of every per-layer metric a traced run prints, in order
PER_LAYER = [
    ("session.start_s", "s"),
    ("datagen.self_s", "s"),
    ("cells.self_s", "s"),
    ("cells.poly_cells", "count"),
    ("spatial_join.prep_s", "s"),
    ("spatial_join.self_s", "s"),
    ("spatial_join.candidates", "count"),
    ("spatial_join.envelope_rows", "count"),
    ("spatial_join.pairs", "count"),
    ("spatial_join.pip_yield", "ratio"),
    ("spatial_join.shuffle_bytes", "B"),
    ("spatial_join.task_skew", "ratio"),
    ("spatial_join.aqe_skew_splits", "count"),
    ("aggregate.self_s", "s"),
    ("aggregate.shuffle_bytes", "B"),
    ("aggregate.spill_bytes", "B"),
    ("mercator.self_s", "s"),
    ("codecs.classify_ms.png", "ms"),
    ("codecs.classify_ms.jpeg", "ms"),
    ("codecs.classify_ms.webp_lossy", "ms"),
    ("codecs.classify_ms.webp_alpha", "ms"),
    ("codecs.classify_ms.heif", "ms"),
    ("codecs.classify_ms.avif", "ms"),
    ("codecs.classify_ms.webp_anim", "ms"),
    ("codecs.classify_ms.corrupt", "ms"),
    ("codecs.self_s", "s"),
    ("codecs.status.ok", "count"),
    ("codecs.status.unsupported_codec", "count"),
    ("codecs.status.corrupt", "count"),
    ("codecs.png_encode_ms", "ms"),
    ("codecs.png_decode_ms", "ms"),
    ("codecs.src_decode_ms", "ms"),
    ("arrow.passthrough_s", "s"),
    ("arrow.bytes_to_python", "B"),
    ("arrow.rows_to_python", "count"),
    ("warp.ms_per_tile", "ms"),
    ("tiles.base_patches.self_s", "s"),
    ("tiles.base_patches.rows", "count"),
    ("tiles.base_patches.executions", "count"),
    ("tiles.patch_reuse", "ratio"),
    ("tiles.composite.self_s", "s"),
    ("tiles.composite.shuffle_bytes", "B"),
    ("tiles.overview.self_s", "s"),
    ("tiles.write.self_s", "s"),
    ("tiles.write.bytes", "B"),
    ("tiles.write.files", "count"),
    ("tiles.resume.skipped", "count"),
    ("tiles.resume.recomputed", "count"),
    ("tiles.resume.patches_computed", "count"),
    ("spark.gc_s", "s"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("tiles_per_s", "tiles/s"),
    ("resume_s", "s"),
    ("store_bytes_per_tile", "B"),
    ("py_worker_peak_rss_mb", "MB"),
    ("rows_per_s", "rows/s"),
    ("failed_frac", "ratio"),
    ("trace_overhead_frac", "ratio"),
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def start_spark(name: str, conf: dict | None = None):
    from gdal_spark.session import get_session

    return get_session(
        app_name=f"geobench_{name}", master=MASTER,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    # the whole heap from the start: no resizing while timed
                    "spark.driver.extraJavaOptions": "-Xms3g",
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                    **(conf or {})})


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


PREFIX_ROUNDS = 3


def prefix_rounds(tr, prefixes: list[tuple[str, object]]) -> tuple[dict, dict]:
    """Materialise each pipeline prefix once per round, in pipeline order,
    for PREFIX_ROUNDS rounds, with a span around each. Interleaving the
    rounds gives every prefix the same JIT and cache state. Returns the
    median wall time and the last result of each prefix, by name."""
    times: dict[str, list[float]] = {name: [] for name, _ in prefixes}
    last: dict[str, object] = {}
    for r in range(PREFIX_ROUNDS):
        for name, fn in prefixes:
            with tr.span(name, round=r) as s:
                last[name] = fn()
            times[name].append(seconds(s))
    return {n: statistics.median(t) for n, t in times.items()}, last


def median_ms(fn, reps: int = 7) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Seeded inputs
# ---------------------------------------------------------------------------

POLY_POOL, N_POLYS, RES, TILE_Z = 3000, 2000, 6, 8


@functools.lru_cache(maxsize=1)
def _polygon_pool():
    from gdal_spark import datagen

    return datagen.polygons_pdf(POLY_POOL)


def seeded_polygons(rng: np.random.Generator):
    """A seed-chosen subset of datagen's polygon pool (the hot-box share
    stays 1/7 in expectation)."""
    sel = np.sort(rng.choice(POLY_POOL, N_POLYS, replace=False))
    return _polygon_pool().iloc[sel].reset_index(drop=True)


def seeded_images(spark, n: int, offset: int):
    """datagen's metadata-only images with the index range shifted by
    `offset`; every 5th index still falls in the hot box."""
    from pyspark.sql import functions as F

    from gdal_spark import datagen

    imgs = datagen.images_df(spark, n, with_pixels=False)
    idx = datagen.image_index(F.col("image_id")) + F.lit(offset)
    imgs = imgs.withColumn(
        "image_id", F.concat(F.lit("img"), F.lpad(idx.cast("string"), 8, "0")))
    return datagen.with_footprint(imgs)


def oracle_counts(offset: int, n: int, polys) -> dict[int, int]:
    """Images whose footprint center lies in each polygon, by numpy
    (geom.points_in_wkb over datagen.footprint_np centers)."""
    from gdal_spark import datagen
    from gdal_spark.functions import geom

    fp = datagen.footprint_np(np.arange(offset, offset + n))
    cx = (fp["lon_min"] + fp["lon_max"]) / 2.0
    cy = (fp["lat_min"] + fp["lat_max"]) / 2.0
    order = np.argsort(cx, kind="stable")
    cx, cy = cx[order], cy[order]
    out = {}
    for r in polys.itertuples(index=False):
        lo = np.searchsorted(cx, r.xmin, side="left")
        hi = np.searchsorted(cx, r.xmax, side="right")
        out[int(r.poly_id)] = int(geom.points_in_wkb(cx[lo:hi], cy[lo:hi],
                                                     bytes(r.wkb)).sum())
    return out


# ---------------------------------------------------------------------------
# Workload base
# ---------------------------------------------------------------------------


class Workload:
    """A run starts the session (and its JVM) once, then runs `setup`
    (make the inputs, compile the plans on a small slice) SETUP_REPS
    times: setup_s is the session start plus the median set-up. The
    session is not restarted per set-up because a Python worker stage in
    a second SparkContext of the same JVM ran about 2x slower on a 4-CPU
    host. `expect` then computes the expected outputs once, and
    WARM_PASSES untimed passes precede the timed ones."""

    name = ""
    CONF: dict = {}
    SETUP_REPS = 3
    WARM_PASSES = 1

    def __init__(self, seed: int, dir: str | None = None):
        self.seed = seed
        self.dir = dir or os.path.join(WORK, f"{self.name}-{seed}")
        os.makedirs(self.dir, exist_ok=True)
        self.spark = None

    def rng(self) -> np.random.Generator:
        return np.random.default_rng(self.seed)

    def close(self) -> None:
        stop_jvm()

    def extra_metrics(self, timed: dict) -> dict:
        return {}


    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_spark(self.name, self.CONF)
        self.session_s = time.perf_counter() - t0


class SparkWorkload(Workload):
    def setup(self) -> None:
        self.make_inputs()
        self.warm()

    def instrumented_pass(self, tr, sm, timed: dict) -> tuple[dict, bool, dict, dict]:
        """One more timed pass, inside a span and with Spark's metrics read
        after it: the engine metrics of one pass, and the trace overhead
        (this pass against the median untraced pass). Returns the layer
        metrics, the pass's check, its output and its Spark metrics."""
        mk = sm.mark()
        with tr.span(f"{self.name}.pass") as s:
            out = self.run_pass()
            m = sm.since(mk)
        L = {"session.start_s": self.session_s,
             "spark.gc_s": m["gc_s"], "spark.stages": m["stages"],
             "spark.tasks": m["tasks"],
             "trace_overhead_frac": seconds(s) / timed["median_s"] - 1.0}
        return L, self.check(out), out, m


# ---------------------------------------------------------------------------
# join_tile and skew_join_shuffle
# ---------------------------------------------------------------------------


class JoinTile(SparkWorkload):
    """The flagship: footprint -> broadcast center_within join to 2000
    polygons at res 6 -> count_per_polygon, plus z8 tile counts."""

    name = "join_tile"
    N = 100_000
    BROADCAST = True
    ORACLE_SAMPLE = 32
    WARM_PASSES = 3

    def make_inputs(self) -> None:
        from gdal_spark import datagen

        rng = self.rng()
        self.offset = int(rng.integers(0, 50_000_000))
        self.polys_pdf = seeded_polygons(rng)
        self.polys = self.spark.createDataFrame(self.polys_pdf,
                                                datagen.POLYGONS_SCHEMA)
        self.imgs = seeded_images(self.spark, self.N, self.offset)
        self.pick = np.sort(rng.choice(N_POLYS, self.ORACLE_SAMPLE,
                                       replace=False))

    def expect(self) -> None:
        self.expected = oracle_counts(self.offset, self.N,
                                      self.polys_pdf.iloc[self.pick])

    def join(self, imgs):
        from gdal_spark.operators import spatial_join as SJ

        return SJ.spatial_join(imgs, self.polys, res=RES,
                               predicate="center_within",
                               broadcast_polygons=self.BROADCAST, carry=[])

    @staticmethod
    def tiles(imgs):
        from pyspark.sql import functions as F

        from gdal_spark.functions import mercator as M

        cx = (F.col("lon_min") + F.col("lon_max")) / 2
        cy = (F.col("lat_min") + F.col("lat_max")) / 2
        tx, ty = M.lonlat_to_tile(cx, cy, TILE_Z)
        return imgs.select(tx.alias("tx"), M.tms_to_xyz(ty, TILE_Z).alias("ty"))

    @staticmethod
    def tile_counts(tiles):
        from pyspark.sql import functions as F

        return tiles.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n"))

    def run_on(self, imgs) -> dict:
        from gdal_spark.operators import spatial_join as SJ

        counts = SJ.count_per_polygon(self.join(imgs))
        got = {int(r["poly_id"]): int(r["n_images"]) for r in counts.collect()}
        noop(self.tile_counts(self.tiles(imgs)))
        return got

    def warm(self) -> None:
        self.run_on(seeded_images(self.spark, 2000, self.offset))

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        got = self.run_on(self.imgs)
        return {"wall_s": time.perf_counter() - t0, "rows": self.N,
                "counts": got}

    def check(self, out: dict) -> bool:
        return all(out["counts"].get(pid, 0) == n
                   for pid, n in self.expected.items())

    # -- traced ------------------------------------------------------------

    def cell_prefix(self):
        """The images keyed by the res-6 cell of their center, as the
        center_within join keys them, from the public cells functions."""
        from pyspark.sql import functions as F

        from gdal_spark.functions import cells as C

        cx = (F.col("lon_min") + F.col("lon_max")) / 2.0
        cy = (F.col("lat_min") + F.col("lat_max")) / 2.0
        return self.imgs.withColumn("cell", C.lonlat_cell(cx, cy, RES))

    def candidate_counts(self, tr, lc) -> dict:
        """Polygon cover cells, cell-join candidates and envelope survivors,
        counted on prefixes of the join built from the public cells
        functions."""
        from pyspark.sql import functions as F

        from gdal_spark.functions import cells as C

        pc = self.polys.drop("wkb").withColumn("cell", F.explode(
            C.cover_cells(F.col("xmin"), F.col("ymin"), F.col("xmax"),
                          F.col("ymax"), RES)))
        cand = lc.join(F.broadcast(pc) if self.BROADCAST else pc, on="cell")
        env = cand.filter((F.col("lon_min") <= F.col("xmax"))
                          & (F.col("xmin") <= F.col("lon_max"))
                          & (F.col("lat_min") <= F.col("ymax"))
                          & (F.col("ymin") <= F.col("lat_max")))
        L = {}
        for name, df in (("cells.poly_cells", pc),
                         ("spatial_join.candidates", cand),
                         ("spatial_join.envelope_rows", env)):
            with tr.span(name):
                L[name] = df.count()
        return L

    def traced(self, tr, timed: dict) -> tuple[dict, dict]:
        from gdal_spark.operators import spatial_join as SJ

        sm = SparkMetrics(self.spark)
        L, ok, _, m_pass = self.instrumented_pass(tr, sm, timed)
        lc = self.cell_prefix()
        L.update(self.candidate_counts(tr, lc))
        with tr.span("spatial_join.call") as s_call:
            joined = self.join(self.imgs)
        counts = SJ.count_per_polygon(joined)
        tiles = self.tiles(self.imgs)
        P, last = prefix_rounds(tr, [
            ("datagen", lambda: noop(self.imgs)),
            ("cells", lambda: noop(lc)),
            ("spatial_join", joined.count),
            ("aggregate.count_per_polygon", counts.collect),
            ("mercator", lambda: noop(tiles)),
            ("aggregate.tile_counts", lambda: noop(self.tile_counts(tiles))),
        ])
        got = {int(r["poly_id"]): int(r["n_images"])
               for r in last["aggregate.count_per_polygon"]}
        pairs = sum(got.values())
        with tr.span("spatial_join.shuffle_path"):
            shuffle_pairs, L_shuffle = self.shuffle_join(tr, sm)
        L.update(L_shuffle)
        L.update({
            "datagen.self_s": P["datagen"],
            "cells.self_s": P["cells"] - P["datagen"],
            "spatial_join.prep_s": seconds(s_call),
            "spatial_join.self_s": P["spatial_join"] - P["cells"],
            "spatial_join.pairs": pairs,
            "spatial_join.pip_yield": pairs / max(1, L["spatial_join.candidates"]),
            "aggregate.self_s": (P["aggregate.count_per_polygon"]
                                 - P["spatial_join"]
                                 + P["aggregate.tile_counts"] - P["mercator"]),
            # the broadcast join shuffles nothing: a pass's exchanges are
            # the two aggregates'
            "aggregate.shuffle_bytes": m_pass["shuffle_write_bytes"],
            "aggregate.spill_bytes": m_pass["spill_bytes"],
            "mercator.self_s": P["mercator"] - P["datagen"],
        })
        # both join paths must find the same pairs
        ok_traced = self.check({"counts": got}) and shuffle_pairs == pairs
        L["_attempted"], L["_failed"] = 2, int(not ok) + int(not ok_traced)
        return L, {"scaling_eff": "not measured: needs a second JVM at local[2]"}

    def shuffle_join(self, tr, sm) -> tuple[int, dict]:
        """The join on the shuffle path (no broadcast at all): its pair
        count and its exchange metrics (shuffle bytes, task skew of the
        busiest stage, AQE skew splits)."""
        from gdal_spark.operators import spatial_join as SJ

        key = "spark.sql.autoBroadcastJoinThreshold"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, "-1")
        try:
            joined = SJ.spatial_join(self.imgs, self.polys, res=RES,
                                     predicate="center_within",
                                     broadcast_polygons=False, carry=[])
            mk = sm.mark()
            with tr.span("spatial_join.shuffle_count"):
                pairs = joined.count()
            m = sm.since(mk)
        finally:
            self.spark.conf.set(key, old)
        return pairs, exchange_metrics(m)


def exchange_metrics(m: dict) -> dict:
    return {
        "spatial_join.shuffle_bytes": m["shuffle_write_bytes"],
        "spatial_join.task_skew": m["task_skew"],
        "spatial_join.aqe_skew_splits": op_sum(
            m, "AQEShuffleRead", "number of skewed partition splits"),
    }


class SkewJoinShuffle(JoinTile):
    """The same join on the shuffle path: broadcast_polygons=False and no
    automatic broadcast, so edges_array_udf, the flat-edge exchange and
    AQE's skew split run. One res-6 cell holds the hot box."""

    name = "skew_join_shuffle"
    N = 200_000
    BROADCAST = False
    CONF = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def expect(self) -> None:
        self.expected = sum(oracle_counts(self.offset, self.N,
                                          self.polys_pdf).values())

    def warm(self) -> None:
        self.join(seeded_images(self.spark, 2000, self.offset)).count()

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        n = self.join(self.imgs).count()
        return {"wall_s": time.perf_counter() - t0, "rows": self.N, "pairs": n}

    def check(self, out: dict) -> bool:
        return out["pairs"] == self.expected

    def extra_metrics(self, timed: dict) -> dict:
        return {"py_worker_peak_rss_mb": (timed["py_worker_peak_rss_mb"], "MB")}

    def traced(self, tr, timed: dict) -> tuple[dict, dict]:
        sm = SparkMetrics(self.spark)
        L, ok, out, m_pass = self.instrumented_pass(tr, sm, timed)
        lc = self.cell_prefix()
        L.update(self.candidate_counts(tr, lc))
        with tr.span("spatial_join.call") as s_call:
            joined = self.join(self.imgs)
        P, _ = prefix_rounds(tr, [
            ("datagen", lambda: noop(self.imgs)),
            ("cells", lambda: noop(lc)),
            ("spatial_join", joined.count),
        ])
        L.update({
            **exchange_metrics(m_pass),
            "datagen.self_s": P["datagen"],
            "cells.self_s": P["cells"] - P["datagen"],
            "spatial_join.prep_s": seconds(s_call),
            "spatial_join.self_s": P["spatial_join"] - P["cells"],
            "spatial_join.pairs": out["pairs"],
            "spatial_join.pip_yield": out["pairs"] / max(
                1, L["spatial_join.candidates"]),
        })
        L["_attempted"], L["_failed"] = 1, int(not ok)
        return L, {"scaling_eff": "not measured: needs a second JVM at local[2]"}


# ---------------------------------------------------------------------------
# decode_mixed
# ---------------------------------------------------------------------------

FIXTURE_NAMES = ["png", "jpeg", "webp_lossy", "webp_alpha", "heif", "avif",
                 "webp_anim", "corrupt"]


@functools.lru_cache(maxsize=1)
def planted_fixtures() -> list[tuple[str, bytes]]:
    """(fmt, bytes) per FIXTURE_NAMES entry: six decodable, one animated
    WebP (unsupported_codec), one truncated PNG (corrupt)."""
    from gdal_spark.functions import codecs as C
    from gdal_spark.functions.heif_fixtures import AVIF_FIXTURE, HEIC_FIXTURE
    from gdal_spark.functions.webp_fixtures import (
        ALPHA_WEBP, ANIM_WEBP, LOSSY_WEBP, fixture_gradient)

    g = fixture_gradient()[:, :, 0]
    return [("png", C.encode_image(g, "png")), ("jpeg", C.encode_image(g, "jpeg")),
            ("webp", LOSSY_WEBP), ("webp", ALPHA_WEBP), ("heif", HEIC_FIXTURE),
            ("avif", AVIF_FIXTURE), ("webp", ANIM_WEBP),
            ("png", b"\x89PNG\r\n\x1a\n" + bytes(24))]


def write_corpus(path: str, kinds: np.ndarray, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    fx = planted_fixtures()
    for f, part in enumerate(np.array_split(np.arange(len(kinds)), files)):
        pq.write_table(pa.table({
            "row_id": pa.array(part, pa.int64()),
            "fmt": pa.array([fx[k][0] for k in kinds[part]], pa.string()),
            "bytes": pa.array([fx[k][1] for k in kinds[part]], pa.binary()),
        }), os.path.join(path, f"part-{f:03d}.parquet"))


class DecodeMixed(SparkWorkload):
    """codecs.classify_table + a status group-by over a planted corpus."""

    name = "decode_mixed"
    ROWS = 2048
    FILES = 16
    WARM_PASSES = 4

    def make_inputs(self) -> None:
        kinds = self.rng().permutation(np.tile(np.arange(8), self.ROWS // 8))
        self.corpus = os.path.join(self.dir, "corpus")
        write_corpus(self.corpus, kinds, self.FILES)
        self.warm_corpus = os.path.join(self.dir, "warm")
        write_corpus(self.warm_corpus, np.tile(np.arange(8), 8), 4)

    def expect(self) -> None:
        self.expected = {"ok": self.ROWS * 6 // 8,
                         "unsupported_codec": self.ROWS // 8,
                         "corrupt": self.ROWS // 8}

    def classify(self, path: str, fn=None) -> dict:
        from pyspark.sql import functions as F

        from gdal_spark.functions import codecs as C

        df = self.spark.read.parquet(path)
        df = C.classify_table(df) if fn is None else df.withColumn(
            "decode_status", fn(F.col("bytes"), F.col("fmt")))
        rows = df.groupBy("decode_status").agg(
            F.count(F.lit(1)).alias("n")).collect()
        return {r["decode_status"]: int(r["n"]) for r in rows}

    def warm(self) -> None:
        self.classify(self.warm_corpus)

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        got = self.classify(self.corpus)
        return {"wall_s": time.perf_counter() - t0, "rows": self.ROWS,
                "status": got}

    def check(self, out: dict) -> bool:
        return out["status"] == self.expected

    def extra_metrics(self, timed: dict) -> dict:
        return {"py_worker_peak_rss_mb": (timed["py_worker_peak_rss_mb"], "MB")}

    def traced(self, tr, timed: dict) -> tuple[dict, dict]:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from gdal_spark.functions import codecs as C

        L: dict = {}
        for name, (fmt, data) in zip(FIXTURE_NAMES, planted_fixtures()):
            with tr.span(f"codecs.classify_image.{name}"):
                L[f"codecs.classify_ms.{name}"] = median_ms(
                    lambda: C.classify_image(data, fmt))

        def passthrough(b: pd.Series, f: pd.Series) -> pd.Series:
            return pd.Series(["ok"] * len(b), dtype=object)

        # real annotation objects: string hints do not resolve in a local scope
        passthrough.__annotations__ = {"b": pd.Series, "f": pd.Series,
                                       "return": pd.Series}
        const = F.pandas_udf(passthrough, T.StringType())
        self.classify(self.warm_corpus, const)
        sm = SparkMetrics(self.spark)
        L_pass, ok, out, m_pass = self.instrumented_pass(tr, sm, timed)
        L.update(L_pass)
        P, _ = prefix_rounds(tr, [
            ("arrow.passthrough", lambda: self.classify(self.corpus, const)),
            ("codecs.classify_table", lambda: self.classify(self.corpus)),
        ])
        L.update({
            "arrow.passthrough_s": P["arrow.passthrough"],
            "codecs.self_s": P["codecs.classify_table"] - P["arrow.passthrough"],
            "arrow.bytes_to_python": op_sum(m_pass, "ArrowEvalPython",
                                            "data sent to Python workers"),
            "arrow.rows_to_python": op_sum(m_pass, "ArrowEvalPython",
                                           "number of output rows"),
            **{f"codecs.status.{k}": out["status"].get(k, 0)
               for k in self.expected},
        })
        L["_attempted"], L["_failed"] = 1, int(not ok)

        # the tile pyramid's layers, on this session: a timed tile_pyramid
        # run is too slow and too noisy to be a bounded workload
        tp = TilePyramid(self.seed, os.path.join(self.dir, "tile_pyramid"))
        tp.spark = self.spark
        with tr.span("tile_pyramid.setup"):
            tp.setup()
            tp.expect()
        with tr.span("tile_pyramid"):
            T = tp.trace_pyramid(tr, sm)
        self.spark = None
        del T["_build_s"]
        L["_attempted"] += T.pop("_attempted")
        L["_failed"] += T.pop("_failed")
        L.update(T)
        return L, {}


# ---------------------------------------------------------------------------
# tile_pyramid
# ---------------------------------------------------------------------------


def store_tiles(path: str) -> dict[tuple[int, int, int], bytes]:
    """(tz, tx, ty) -> png of every tile in a tile store (hive layout)."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["tz", "tx", "ty", "png"]).to_pydict()
    return {(int(z), int(x), int(y)): p
            for z, x, y, p in zip(t["tz"], t["tx"], t["ty"], t["png"])}


def store_files(path: str) -> list[str]:
    """Parquet files of the tile store (the job's _metrics table excluded)."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


@functools.lru_cache(maxsize=1)
def tile_job():
    """jobs/tile_job.py of the checkout, as a module."""
    spec = importlib.util.spec_from_file_location(
        "tile_job", os.path.join(ROOT, "jobs", "tile_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TilePyramid(Workload):
    """jobs/tile_job.py's main() with the arguments a user gives it: a
    pinned z6->z5 build over a pixel-bearing images parquet. It runs in
    the benchmark's process, so a pass pays the job's SparkContext start
    but not a JVM launch (the JVM starts once, in set-up). A pass takes
    about 10 s and varies by a fifth between runs, so this workload is not
    bounded in BENCHMARK.json; `trace_pyramid` measures its layers, here
    and in decode_mixed's traced run."""

    name = "tile_pyramid"
    N = 24
    SIZE_CAP = 128
    TZ_MAX, TZ_MIN = 6, 5

    def setup(self) -> None:
        """Write the images table. The job's first get_session finds the
        session the run started; each job stops its session, so later
        passes start their own."""
        self.pass_log: list[dict] = []
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gdal_spark import datagen
        from gdal_spark.functions import codecs

        self.offset = int(self.rng().integers(0, 50_000_000))
        rows = []
        for i in range(self.offset, self.offset + self.N):
            w, h, fmt, caption = datagen.row_meta(i, self.SIZE_CAP)
            data = codecs.encode_image(datagen.make_pixels(i, h, w), fmt)
            rows.append((f"img{i:08d}", data, w, h, fmt, caption, None))
        pdf = pd.DataFrame(rows, columns=[f.name for f in
                                          datagen.IMAGES_SCHEMA.fields])
        self.images = os.path.join(self.dir, "images.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       self.images)
        self.rows = rows

    def job(self, out: str, resume: bool) -> dict:
        """One run of the job's main(); it stops its session when done."""
        argv = ["tile_job.py", "--images", self.images, "--output", out,
                "--tz-max", str(self.TZ_MAX), "--tz-min", str(self.TZ_MIN),
                "--master", MASTER] + (["--resume"] if resume else [])
        buf, old = io.StringIO(), sys.argv
        sys.argv = argv
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(buf):
                tile_job().main()
            wall = time.perf_counter() - t0
        finally:
            sys.argv = old
        self.spark = None
        res = json.loads(buf.getvalue().strip().splitlines()[-1])
        return {**res, "wall_s": wall}

    def deleted_partitions(self, store: str) -> list[str]:
        base = os.path.join(store, f"tz={self.TZ_MAX}")
        parts = sorted(os.listdir(base))
        k = max(1, len(parts) // 3)
        pick = self.rng().choice(len(parts), k, replace=False)
        return [os.path.join(base, parts[i]) for i in sorted(pick)]

    def run_pass(self) -> dict:
        store = os.path.join(self.dir, "store")
        shutil.rmtree(store, ignore_errors=True)
        build = self.job(store, resume=False)
        files = store_files(store)
        out = {"wall_s": build["wall_s"], "rows": self.N, "build": build,
               "detail": {"build_wall_s": build["wall_s"],
                          "build_job_s": build["sec"], "tiles": build["tiles"]},
               "full": store_tiles(store),
               "store_bytes": sum(os.path.getsize(f) for f in files)}
        self.pass_log.append(out)
        return out

    def covering_tiles(self, row):
        """(tx, ty, source array, source and tile geotransforms) for every
        base-zoom tile the image's footprint touches (base_patches' walk)."""
        from gdal_spark import datagen
        from gdal_spark.functions import codecs
        from gdal_spark.functions import mercator as M
        from gdal_spark.raster.warp import footprint_gt, lonlat_to_meters_np

        image_id, data, _, _, fmt, _, _ = row
        arr = codecs.decode_image(data, fmt)
        fp = {k: float(v[0]) for k, v in
              datagen.footprint_np(np.array([int(image_id[3:])])).items()}
        gt = footprint_gt(fp["lon_min"], fp["lat_min"], fp["lon_max"],
                          fp["lat_max"], arr.shape[1], arr.shape[0])
        mx0, my0 = lonlat_to_meters_np(np.float64(fp["lon_min"]),
                                       np.float64(fp["lat_min"]))
        mx1, my1 = lonlat_to_meters_np(np.float64(fp["lon_max"]),
                                       np.float64(fp["lat_max"]))
        x0, y0 = M.meters_to_tile_py(float(mx0), float(my0), self.TZ_MAX)
        x1, y1 = M.meters_to_tile_py(float(mx1), float(my1), self.TZ_MAX)
        for tx in range(x0, x1 + 1):
            for ty in range(y0, y1 + 1):
                b = M.tile_bounds_meters_py(tx, ty, self.TZ_MAX)
                dst = (b[0], (b[2] - b[0]) / 256, 0.0, b[3], 0.0,
                       -(b[3] - b[1]) / 256)
                yield tx, ty, arr, gt, dst

    def expect(self) -> None:
        """Tile keys per zoom computed directly: base tiles are the ones a
        source's warp mask touches, overview tiles their parents."""
        from gdal_spark.raster.warp import warp_array

        base = set()
        for row in self.rows:
            for tx, ty, arr, gt, dst in self.covering_tiles(row):
                _, mask = warp_array(arr, gt, dst, 256, 256,
                                     resample="bilinear", return_mask=True)
                if mask.any():
                    base.add((tx, ty))
        keys = {self.TZ_MAX: base}
        for z in range(self.TZ_MAX - 1, self.TZ_MIN - 1, -1):
            keys[z] = {(x >> 1, y >> 1) for x, y in keys[z + 1]}
        self.expected_keys = keys

    def check(self, out: dict) -> bool:
        """The build's tile keys per zoom are as expected, the job counted
        every tile in the store, and every tile decodes to 256x256 RGB."""
        from gdal_spark.functions import codecs

        full = out["full"]
        per_zoom = {z: {(x, y) for (zz, x, y) in full if zz == z}
                    for z in self.expected_keys}
        return (per_zoom == self.expected_keys
                and out["build"]["tiles"] == len(full)
                and all(codecs.png_decode(bytes(p)).shape == (256, 256, 3)
                        for p in full.values()))

    def resume(self, store: str, run) -> tuple[dict, bool]:
        """Delete the seed-chosen base partitions of a full store, resume it
        with `run(store)` (which returns the tiles it wrote), and check that
        the store's key set equals the full build's, skipped + recomputed =
        total, and a deleted tile decodes to the full build's pixels."""
        from gdal_spark.functions import codecs

        full = store_tiles(store)
        for d in self.deleted_partitions(store):
            shutil.rmtree(d)
        kept = store_tiles(store)
        res = run(store)
        after = store_tiles(store)
        sample = min(set(full) - set(kept))
        ok = (set(after) == set(full)
              and len(kept) + res["tiles"] == len(full)
              and np.array_equal(codecs.png_decode(bytes(full[sample])),
                                 codecs.png_decode(bytes(after[sample]))))
        return {**res, "skipped": len(kept)}, ok

    def extra_metrics(self, timed: dict) -> dict:
        log = self.pass_log
        return {
            "tiles_per_s": (statistics.median(
                len(p["full"]) / p["wall_s"] for p in log), "tiles/s"),
            "store_bytes_per_tile": (statistics.median(
                p["store_bytes"] / len(p["full"]) for p in log), "B"),
            "py_worker_peak_rss_mb": (timed["py_worker_peak_rss_mb"], "MB"),
        }

    def job_loop(self, tr, sm, images, store: str, existing) -> dict:
        """jobs/tile_job.py's per-zoom loop, in-process, with a span around
        each count, tile write and lineage write."""
        from pyspark.sql import functions as F

        from gdal_spark.tiles import pipeline as P

        mk = sm.mark()
        t0 = time.perf_counter()
        n_total, write_s = 0, 0.0
        pyramid = P.build_pyramid(images, tz_max=self.TZ_MAX, tz_min=self.TZ_MIN,
                                  resample="bilinear", existing=existing)
        for tz in sorted(pyramid, reverse=True):
            with tr.span(f"tiles.zoom.{tz}"):
                tiles = pyramid[tz].persist()
                with tr.span("tiles.count"):
                    n_total += tiles.count()
                with tr.span("tiles.write") as s_w:
                    P.write_tiles(tiles.drop("ms"), store)
                write_s += seconds(s_w)
                with tr.span("tiles.lineage_write"):
                    tiles.select("tz", "tx", "ty", "n_src", "src_ids", "ms",
                                 F.lit(time.time()).alias("written_at")
                                 ).write.mode("append").parquet(
                                     os.path.join(store, "_metrics"))
                tiles.unpersist()
        return {"wall_s": time.perf_counter() - t0, "tiles": n_total,
                "write_s": write_s, "m": sm.since(mk)}

    def traced(self, tr, timed: dict) -> tuple[dict, dict]:
        """The pyramid's layers in a new session (each timed job stopped
        its own), plus the engine metrics and the trace overhead: the
        in-process build loop against the median build job."""
        with tr.span("session.start"):
            self.start_session()
        sm = SparkMetrics(self.spark)
        mk = sm.mark()
        L = self.trace_pyramid(tr, sm)
        m = sm.since(mk)
        L.update({
            "session.start_s": self.session_s,
            "spark.gc_s": m["gc_s"], "spark.stages": m["stages"],
            "spark.tasks": m["tasks"],
            "trace_overhead_frac": L.pop("_build_s") / statistics.median(
                p["build"]["sec"] for p in self.pass_log) - 1.0,
        })
        return L, {}

    def trace_pyramid(self, tr, sm) -> dict:
        """The tile layers, on the session in `self.spark` after `setup`
        and `expect`: direct codec and warp calls; the job's per-zoom loop
        in-process, building a store and then resuming it after the
        seed-chosen deletions; the pipeline prefixes (patches, composite,
        each overview zoom); and last the job's own --resume on a copy of
        the built store after the same deletions. The job stops the
        session. Returns the layer metrics, with `_attempted`, `_failed`
        and `_build_s` (the in-process build's wall time)."""
        from gdal_spark import datagen
        from gdal_spark.functions import codecs
        from gdal_spark.raster.warp import warp_array
        from gdal_spark.tiles import pipeline as P

        L: dict = {}
        tile = datagen.make_pixels(self.offset, 256, 256)
        png = codecs.png_encode(tile)
        with tr.span("codecs.png_encode"):
            L["codecs.png_encode_ms"] = median_ms(lambda: codecs.png_encode(tile))
        with tr.span("codecs.png_decode"):
            L["codecs.png_decode_ms"] = median_ms(lambda: codecs.png_decode(png))
        with tr.span("codecs.src_decode"):
            L["codecs.src_decode_ms"] = statistics.median(
                median_ms(lambda: codecs.decode_image(r[1], r[4]), reps=3)
                for r in self.rows[:8])
        with tr.span("warp.warp_array"):
            L["warp.ms_per_tile"] = statistics.median(
                median_ms(lambda: warp_array(arr, gt, dst, 256, 256,
                                             resample="bilinear",
                                             return_mask=True), reps=3)
                for r in self.rows[:8]
                for _, _, arr, gt, dst in [next(self.covering_tiles(r))])

        images = datagen.with_footprint(self.spark.read.parquet(self.images))
        store = os.path.join(self.dir, "traced-store")
        job_store = os.path.join(self.dir, "job-store")
        for d in (store, job_store):
            shutil.rmtree(d, ignore_errors=True)
        with tr.span("tiles.build_loop"):
            build = self.job_loop(tr, sm, images, store, None)
        full = store_tiles(store)
        ok_build = self.check({"full": full, "build": build})
        files = store_files(store)
        write_bytes = sum(os.path.getsize(f) for f in files)
        shutil.copytree(store, job_store)
        with tr.span("tiles.resume_loop"):
            resume, ok_loop = self.resume(store, lambda st: self.job_loop(
                tr, sm, images, st, P.read_tiles(self.spark, st)))

        patches = P.base_patches(images, self.TZ_MAX)
        with tr.span("tiles.base_patches") as s_p:
            mk_p = sm.mark()
            noop(patches)
            distinct = op_sum(sm.since(mk_p), "MapInPandas", "number of output rows")
        comp = P.composite_tiles(patches)
        with tr.span("tiles.composite") as s_c:
            mk_c = sm.mark()
            noop(comp)
            m_c = sm.since(mk_c)
        prev, prev_s, overview_s = comp, seconds(s_c), 0.0
        for tz in range(self.TZ_MAX - 1, self.TZ_MIN - 1, -1):
            prev = P.overview_zoom(prev)
            with tr.span(f"tiles.overview.{tz}") as s_o:
                noop(prev)
            overview_s += seconds(s_o) - prev_s
            prev_s = seconds(s_o)

        with tr.span("tile_job.resume"):
            job_resume, ok_job = self.resume(
                job_store, lambda st: self.job(st, resume=True))
        produced = op_sum(build["m"], "MapInPandas", "number of output rows")
        L.update({
            "tiles_per_s": len(full) / build["wall_s"],
            "resume_s": job_resume["wall_s"],
            "store_bytes_per_tile": write_bytes / len(full),
            "tiles.base_patches.self_s": seconds(s_p),
            "tiles.base_patches.rows": distinct,
            "tiles.base_patches.executions": op_count(
                build["m"], "MapInPandas", "number of output rows"),
            "tiles.patch_reuse": distinct / produced if produced else 0.0,
            "tiles.composite.self_s": seconds(s_c) - seconds(s_p),
            "tiles.composite.shuffle_bytes": m_c["shuffle_write_bytes"],
            "tiles.overview.self_s": overview_s,
            "tiles.write.self_s": build["write_s"],
            "tiles.write.bytes": write_bytes,
            "tiles.write.files": len(files),
            "tiles.resume.skipped": resume["skipped"],
            "tiles.resume.recomputed": resume["tiles"],
            "tiles.resume.patches_computed": op_sum(
                resume["m"], "MapInPandas", "number of output rows"),
            "_build_s": build["wall_s"],
            "_attempted": 3,
            "_failed": 3 - ok_build - ok_loop - ok_job,
        })
        return L


WORKLOADS = {w.name: w for w in (JoinTile, SkewJoinShuffle, DecodeMixed,
                                 TilePyramid)}
