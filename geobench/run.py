"""spark-geotile benchmark: one workload per run, closed loop, 1 client,
local[4].

  python3 geobench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0

Run from the root of a spark-geotile checkout. `--workload all` runs every
workload in turn, each in its own process, and merges their results. The last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the metrics are the end-to-end ones (BENCHMARK.json
`end_to_end`), with --trace 1 the per-layer ones (`per_layer`). The line
before it holds the workload-specific figures that are not common to all
workloads (--trace 0) or the per-layer metrics that could not be read,
with the reason (--trace 1). See geobench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".geobench")
HERE = os.path.dirname(os.path.abspath(__file__))


def _prepare_env() -> None:
    """Keep every file the run makes inside the checkout and size the JVM
    for a shared host; the package under test comes from the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "tile_job.py"))):
        print("geobench: gdal_spark/ and jobs/tile_job.py not found; run from "
              "the root of a spark-geotile checkout", file=sys.stderr)
        return 2
    _prepare_env()
    import workloads as W

    if args.workload == "all":
        return run_all(args, list(W.WORKLOADS))
    if args.workload not in W.WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload](args.seed)
    try:
        result = measure(wl, args)
    finally:
        wl.close()
        shutil.rmtree(os.path.join(WORK, f"{wl.name}-{args.seed}"),
                      ignore_errors=True)
    print(json.dumps(result["side"], sort_keys=True))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


def run_all(args, names: list[str]) -> int:
    """Every workload in turn for the same seed, each in its own process
    (one JVM each). Each workload's two lines are printed as they come;
    the last line merges the results, with every metric, the
    workload-specific end-to-end figures included, named
    `<workload>.<metric>`."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"geobench: {name} exited {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print(lines[-2])
        print(lines[-1])
        side, res = json.loads(lines[-2]), json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        figures = {k: v for k, v in side.items()
                   if isinstance(v, dict) and "unit" in v}
        for k, v in {**figures, **res["metrics"]}.items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def timed_passes(wl, seconds: float, mem) -> dict:
    """Closed loop: WARM_PASSES untimed passes, so the JIT and the Python
    workers are warm, then passes back to back until `seconds` have gone
    by (at least one). Every pass is checked; a pass that raises or fails
    its output check counts as failed. Each pass records its wall time and
    the CPU time of the whole process tree."""
    from observe import tree_cpu_s

    walls, cpus, warm, details, rows, attempted, failed = [], [], [], [], 0, 0, 0

    def one_pass():
        nonlocal attempted, failed
        attempted += 1
        try:
            c0 = tree_cpu_s()
            out = wl.run_pass()
            out["cpu_s"] = tree_cpu_s() - c0
            if wl.check(out):
                return out
        except Exception:
            traceback.print_exc()
        failed += 1
        return None

    for _ in range(wl.WARM_PASSES):
        out = one_pass()
        if out:
            warm.append(out["wall_s"])
    mem.reset()
    end = time.perf_counter() + seconds
    while attempted == wl.WARM_PASSES or time.perf_counter() < end:
        out = one_pass()
        if out:
            walls.append(out["wall_s"])
            cpus.append(out["cpu_s"])
            details.append(out.get("detail"))
            rows = out["rows"]
    med = statistics.median(walls) if walls else float("nan")
    return {"walls": walls, "cpus": cpus, "warm": warm, "details": details,
            "median_s": med, "rows": rows, "attempted": attempted,
            "failed": failed,
            "rows_per_s": rows / med if walls else 0.0,
            "rows_per_cpu_s": rows / statistics.median(cpus) if cpus else 0.0,
            "py_worker_peak_rss_mb": mem.peak_mb}


def measure(wl, args) -> dict:
    import workloads as W
    from observe import Tracer, WorkerMemory

    setups = []
    with WorkerMemory() as mem:
        wl.start_session()
        for _ in range(wl.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        # the checker's oracle is the benchmark's work, not the program's
        # set-up, so it stays outside setup_s
        wl.expect()
        timed = timed_passes(wl, args.seconds, mem)
        extra = {"rows_per_s": (timed["rows_per_s"], "rows/s"),
                 **wl.extra_metrics(timed)}
        attempted, failed = timed["attempted"], timed["failed"]
        if args.trace:
            tracer = Tracer(f"{wl.name}-{args.seed}", enabled=True)
            try:
                layers, unread = wl.traced(tracer, timed)
            except Exception as exc:
                traceback.print_exc()
                layers = {"_attempted": 1, "_failed": 1}
                unread = {"traced_pass": f"raised {exc!r}"}
            tracer.write(os.path.join(WORK, "trace",
                                      f"{wl.name}-{args.seed}.jsonl"))
            attempted += layers.pop("_attempted")
            failed += layers.pop("_failed")
    e2e = {
        "rows_per_cpu_s": (timed["rows_per_cpu_s"], "rows/cpu_s"),
        "setup_s": (wl.session_s + statistics.median(setups), "s"),
    }
    side = {"workload": wl.name, "seed": args.seed,
            "passes": len(timed["walls"]), "pass_s": timed["walls"],
            "pass_cpu_s": timed["cpus"], "warm_pass_s": timed["warm"],
            "pass_detail": [d for d in timed["details"] if d],
            "session_start_s": wl.session_s, "setup_runs_s": setups,
            **{k: {"value": v, "unit": u}
                                       for k, (v, u) in extra.items()}}
    if args.trace:
        metrics = {"failed_frac": failed / attempted}
        for name, unit in W.PER_LAYER:
            if name in metrics:
                continue
            if name in layers:
                metrics[name] = layers[name]
            elif name in extra:
                metrics[name] = extra[name][0]
            else:
                metrics[name] = 0.0
                unread.setdefault(name, f"layer not exercised by {wl.name}")
        metrics = {n: {"value": metrics[n], "unit": u} for n, u in W.PER_LAYER}
        side = {"workload": wl.name, "seed": args.seed, "unread": unread}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        side["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "side": side}


if __name__ == "__main__":
    sys.exit(main())
