"""Skew ablation: hot-cell spatial join through the SHUFFLE path, AQE
skew-join on/off, per exact-kernel flavour.

Usage:
  python tools/skew_bench.py [cores] [n] [kernel] [aqe]
      one measurement, prints a RESULT line
  python tools/skew_bench.py --matrix [cores] [n]
      runs the {kernel codegen,arrow} x {aqe on,off} grid RUNS times,
      each cell in its own subprocess, and rewrites
      BENCH/SKEW.md's table, keeping its hand-kept `## ` sections

Fixture skew: every 5th image lands in one 1x1-degree box (datagen
HOT_LON0/HOT_LAT0), and ~1/7 of polygons overlap it, so one cell holds
~40% of all candidate pairs — the Zipfian-cell scenario.  AQE skew-join
(spark.sql.adaptive.skewJoin.enabled) splits oversized partitions after
the map stage; it is the only hot-cell handling spatial_join has.

kernel=codegen is the production JVM unrolled-parity PIP (pair cost a
few ns); kernel=arrow forces pip_udf, the Arrow-batched Python fallback
that polygons wider than spatial_join.UNROLL_MAX_EDGES take, standing in
for any expensive per-pair kernel (heavy geometry, Python predicates).
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKEW_MD = os.path.join(REPO, "BENCH", "SKEW.md")
# runs per grid cell, interleaved across the grid: two show the spread
RUNS = 2


def run_one(cores: str, n: int, kernel: str, aqe: str) -> None:
    from gdal_spark import datagen
    from gdal_spark.operators import spatial_join as SJ
    from gdal_spark.session import get_session

    spark = get_session(app_name="skew", master=f"local[{cores}]")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                   "true" if aqe == "on" else "false")
    if kernel == "arrow":
        # force the pip_udf fallback (the path wide polygons take): make
        # every polygon exceed the unroll cap
        SJ.UNROLL_MAX_EDGES = 0

    def run(nn):
        imgs = datagen.with_footprint(
            datagen.images_df(spark, nn, with_pixels=False))
        polys = datagen.polygons_df(spark, 2000)
        return SJ.spatial_join(
            imgs, polys, res=6, predicate="center_within",
            broadcast_polygons=False, carry=[])

    run(2000).count()  # warmup
    t0 = time.time()
    cnt = run(n).count()
    print(f"RESULT kernel={kernel} aqe={aqe} cores={cores} "
          f"n={n} sec={time.time() - t0:.2f} rows={cnt}", flush=True)
    spark.stop()


def matrix(cores: str, n: int) -> None:
    grid = [(k, a) for k in ("codegen", "arrow") for a in ("on", "off")]
    secs = {g: [] for g in grid}
    rows = {g: set() for g in grid}
    for _ in range(RUNS):
        for kernel, aqe in grid:
            cmd = [sys.executable, os.path.abspath(__file__), cores,
                   str(n), kernel, aqe]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 cwd=REPO)
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("RESULT")]
            print(line[0] if line else f"FAILED: {out.stderr[-400:]}")
            kv = dict(p.split("=") for p in line[0].split()[1:]) if line else {}
            secs[kernel, aqe].append(kv.get("sec", "failed"))
            rows[kernel, aqe].add(kv.get("rows", "failed"))
    md = [
        "# Skew ablation: hot cell on the spatial join's shuffle path",
        "",
        f"Hot-cell spatial join, shuffle path, local[{cores}] on a "
        f"{os.cpu_count()}-CPU host, n={n:,} images / 2,000 polygons; one "
        "res-6 cell holds ~40% of candidate pairs (datagen hot box). "
        f"Seconds of the timed count, {RUNS} runs per cell, runs "
        "interleaved across the grid (`python tools/skew_bench.py "
        f"--matrix {cores} {n}`).",
        "",
        "| kernel | AQE skew-join | sec per run | rows |",
        "|---|---|---|---|",
    ]
    for kernel, aqe in grid:
        md.append(f"| {kernel} | {aqe} | {', '.join(secs[kernel, aqe])} | "
                  f"{', '.join(sorted(rows[kernel, aqe]))} |")
    kept = ""
    if os.path.exists(SKEW_MD):
        with open(SKEW_MD) as fh:
            text = fh.read()
        if "\n## " in text:
            kept = text[text.index("\n## "):]
    with open(SKEW_MD, "w") as fh:
        fh.write("\n".join(md) + "\n" + kept)
    print(f"wrote {SKEW_MD}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--matrix":
        cores = sys.argv[2] if len(sys.argv) > 2 else "16"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 500_000
        matrix(cores, n)
        return
    cores = sys.argv[1] if len(sys.argv) > 1 else "16"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    kernel = sys.argv[3] if len(sys.argv) > 3 else "codegen"
    aqe = sys.argv[4] if len(sys.argv) > 4 else "on"
    run_one(cores, n, kernel, aqe)


if __name__ == "__main__":
    main()
