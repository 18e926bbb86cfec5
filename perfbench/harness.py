"""Run bookkeeping shared by the workloads: the Spark session, timed
operations with their job groups, checks, peak RSS and the status-API
read-back of a traced run."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

import attribution as attr

# ------------------------------------- the process tree: CPU and memory


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks(pid: int) -> int:
    """User and system CPU time of a process and of its reaped children,
    in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().decode(errors="replace").rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_ticks() -> int:
    """CPU ticks used so far by this process, the Spark JVM and the Python
    workers. Unlike wall time, CPU time does not grow while the host runs
    other guests on our CPUs."""
    me = os.getpid()
    return sum(cpu_ticks(p) for p in [me, *descendants(me)])


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the forked
    Python workers share most of the worker daemon's) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class PeakRss:
    """Samples the resident memory of this process's descendants (the Spark
    JVM and the Python worker daemon and workers it forks), summed as PSS."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kids = descendants(me)
            parts = {"jvm": 0, "python": 0}
            for pid in kids:
                parts["jvm" if _is_java(pid) else "python"] += pss_bytes(pid)
            self.peak = max(self.peak, sum(parts.values()))
            for k, v in parts.items():
                self.peak_parts[k] = max(self.peak_parts[k], v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat readings: wall times on a host under contention read
    slower, and this says by how much."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


# ------------------------------------------------------------------ ops


@dataclass
class Op:
    kind: str          # what was called, e.g. "run_month" or "kpis"
    layer: str         # layer of the public function the benchmark called
    seconds: float
    start: float       # wall clock, for matching Spark job times
    end: float
    ok: bool = True
    cpu_s: float = 0.0  # CPU seconds of the process tree during the call


class Run:
    """One benchmark run: set-up rounds, timed ops and checks."""

    def __init__(self, spark, tracer, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.ops: list[Op] = []
        self.checks: list[Op] = []
        self.setup_rounds: list[float] = []
        self.setup_rounds_cpu: list[float] = []
        self.inputs: dict[str, int] = {}
        self.detail: dict[str, object] = {}   # the workload's own figures
        self.failures: list[str] = []
        self.phase_s: dict[str, float] = {}
        self._group = ("start", "", "")
        tracer.scope = self.scope

    @contextmanager
    def phase(self, name: str):
        """Wall time per phase of the run (set-up, warm-up, timed loop)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    def group(self, phase: str, layer: str, what: str) -> None:
        self._group = (phase, layer, what)
        self.spark.sparkContext.setJobGroup(f"{phase}:{layer}", what)

    @contextmanager
    def scope(self, layer: str, what: str):
        """Name ``layer`` in the job group while a traced layer function
        runs. Writes, ``count()`` and broadcasts start jobs with no Python
        call site; this assigns them to the innermost layer function
        active."""
        prev = self._group
        self.group(prev[0], layer, what)
        try:
            yield
        finally:
            self.group(*prev)

    @contextmanager
    def setup_round(self, what: str):
        """One round of set-up. ``setup_s`` is the median over rounds of
        its CPU seconds; the wall times go to the detail line."""
        self.group("setup", "sources", what)
        c0, t0 = tree_cpu_ticks(), time.perf_counter()
        yield
        self.setup_rounds.append(time.perf_counter() - t0)
        self.setup_rounds_cpu.append((tree_cpu_ticks() - c0) / TICK)

    def timed(self, kind: str, layer: str, fn, *args, **kwargs):
        """Call ``fn`` as one timed operation. The job group names the
        layer of the public function called, for jobs whose call site is
        in the benchmark's own files."""
        self.group("timed", layer, kind)
        c0 = tree_cpu_ticks()
        w0, t0 = time.time(), time.perf_counter()
        ok, result = True, None
        try:
            with self.tracer.span(f"op.{kind}", layer):
                result = fn(*args, **kwargs)
        except Exception:  # a failed operation is counted, the run goes on
            ok = False
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
        op = Op(kind, layer, time.perf_counter() - t0, w0, time.time(), ok)
        op.cpu_s = (tree_cpu_ticks() - c0) / TICK
        self.ops.append(op)
        return op, result

    def check(self, what: str, ok: bool, op: Op | None = None) -> bool:
        """Record an output check. A failed check fails ``op`` when given
        (the operation whose output it read), else counts on its own."""
        if op is None:
            op = Op(f"check:{what}", "check", 0.0, time.time(), time.time())
            self.checks.append(op)
        if not ok:
            op.ok = False
            self.failures.append(f"check failed: {what}")
        return ok

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops + self.checks)

    def time_left(self, t_start: float) -> bool:
        return time.perf_counter() - t_start < self.seconds


# ------------------------------------------------------- status read-back


def rest(spark, path: str):
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def settled_jobs(spark, timeout: float = 20.0) -> list[dict]:
    """The status store is fed asynchronously; wait until no job is still
    running and two reads agree."""
    deadline = time.time() + timeout
    prev = None
    while True:
        jobs = rest(spark, "jobs")
        key = [(j["jobId"], j["status"]) for j in jobs]
        if key == prev and all(j["status"] != "RUNNING" for j in jobs):
            return jobs
        if time.time() > deadline:
            return jobs
        prev = key
        time.sleep(0.4)


def layer_metrics(run: Run) -> dict[str, float]:
    """Fold spans and the status API into the per-layer metrics of the
    timed phase. Every layer is reported, 0 where it did no work."""
    jobs = settled_jobs(run.spark)
    stages = rest(run.spark, "stages")
    executions = rest(run.spark, "sql?details=true&planDescription=false&length=1000000")
    folded = attr.fold_jobs(jobs, stages, "timed")
    timed_intervals = [(o.start, o.end) for o in run.ops]
    spans = [
        sp for sp in run.tracer.spans
        if any(s <= sp.start <= e for s, e in timed_intervals)
    ]
    span_times = attr.layer_span_times(spans)
    out: dict[str, float] = {}
    for layer in attr.LAYERS:
        tot = folded.layers.get(layer, attr.LayerTotals())
        st = span_times.get(layer, {})
        vals = {
            "span_s": st.get("span_s", 0.0), "self_s": st.get("self_s", 0.0),
            "jobs": tot.jobs, "stages": tot.stages, "exec_cpu_s": tot.exec_cpu_s,
            "shuffle_write_mb": tot.shuffle_write_mb, "spill_mb": tot.spill_mb,
        }
        for name, _unit in attr.LAYER_METRICS:
            out[f"{layer}.{name}"] = vals[name]
    timed_job_ids = {
        j["jobId"] for j in jobs if (j.get("jobGroup") or "").startswith("timed:")
    }
    for k, v in attr.fold_python_metrics(executions, timed_job_ids).items():
        out[f"python.{k}"] = v
    out["driver.no_job_s"] = attr.no_job_time(timed_intervals, folded.job_intervals)
    out["unattributed.jobs"] = folded.layers.get("unattributed", attr.LayerTotals()).jobs
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
