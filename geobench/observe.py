"""Measurement helpers: spans, Spark's own stage/operator metrics, and a
/proc sampler for the PySpark Python workers.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, Spark metrics are read from the status
stores after each action, and worker memory is read from /proc.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end. `enabled=False` makes `span` a bare timer."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}, default=str) + "\n")


def seconds(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0,
          "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value as a number (bytes, seconds or count),
    or None for a value with no total (average metrics). Timing and size
    metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkMetrics:
    """Reads per-stage and per-operator metrics for the actions run between
    `mark()` and `since(mark)`, from `sparkContext.statusStore()` and
    `sharedState().statusStore()` (both populated with the UI off)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        lst = self._jvm.java.util.ArrayList
        seq = self._sc.statusStore().stageList(
            lst(), False, False, self._gw.new_array(self._jvm.double, 0), lst())
        return [seq.apply(i) for i in range(seq.size())]

    def _execution_ids(self) -> list[int]:
        seq = self._sql.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def mark(self) -> tuple[int, set]:
        self._drain()
        return (max(self._execution_ids(), default=-1),
                {(s.stageId(), s.attemptId()) for s in self._stages()})

    def since(self, mark: tuple[int, set]) -> dict:
        """Totals over the stages and SQL executions that started after
        `mark`: stages, tasks, gc_s, run_s, shuffle_write_bytes,
        spill_bytes, task_skew of the busiest stage, and `ops`, a list of
        (operator name, {metric name: value}) per executed plan node."""
        self._drain()
        last_eid, seen = mark
        stages = [s for s in self._stages()
                  if (s.stageId(), s.attemptId()) not in seen]
        out = {
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "run_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                               for s in stages),
            "task_skew": 0.0,
            "ops": [],
        }
        if stages:
            busy = max(stages, key=lambda s: s.executorRunTime())
            tasks = self._sc.statusStore().taskList(
                busy.stageId(), busy.attemptId(), 100000)
            durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
                    if tasks.apply(i).duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        for eid in self._execution_ids():
            if eid <= last_eid:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                got = {}
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = values.get(pm.accumulatorId())
                    value = parse_metric(v.get()) if v.isDefined() else None
                    if value is not None:
                        got[pm.name()] = value
                if got:
                    out["ops"].append((node.name(), got))
        return out


def op_sum(m: dict, op: str, metric: str) -> float:
    return sum(v.get(metric, 0.0) for name, v in m["ops"] if name == op)


def op_count(m: dict, op: str, metric: str) -> int:
    """How many executed instances of `op` reported `metric` above 0."""
    return sum(1 for name, v in m["ops"] if name == op and v.get(metric, 0) > 0)


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command line, CPU clock ticks of the process and
    of its reaped children)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), cmd,
                         sum(int(x) for x in fields[11:15]))
    return procs


def _below_me(procs: dict, pid: int) -> bool:
    """Whether `pid` is this process or one of its descendants."""
    me, hops = os.getpid(), 0
    while pid > 1 and pid != me and hops < 64:
        pid, hops = procs.get(pid, (0,))[0], hops + 1
    return pid == me


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it:
    the benchmark's driver, the JVM and the PySpark Python workers. Time
    the host gives to other tenants (steal) is not in it."""
    procs = _proc_table()
    ticks = sum(t for pid, (_, _, t) in procs.items() if _below_me(procs, pid))
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerMemory:
    """Background sampler of the highest VmHWM over PySpark Python worker
    processes descended from this process (the one thread the benchmark
    adds). `peak_mb` is 0.0 when no worker ever ran."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def reset(self) -> None:
        self.peak_kb = 0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        procs = _proc_table()
        for pid, (_, cmd, _) in procs.items():
            if ("pyspark.daemon" in cmd or "pyspark.worker" in cmd) \
                    and _below_me(procs, pid):
                self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))
