"""Spark-free logic of the benchmark: percentiles, span arithmetic and the
folding of Spark status-API records into per-layer metrics.

Everything here takes plain Python values (lists of dicts as the REST API
returns them, span tuples) so it can be tested without a SparkSession.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

PACKAGE = "nyc_taxi_bigdata_pipeline_spark"

# Layers reported in every traced run, named after the program's modules.
LAYERS = (
    "ingest", "warehouse", "quality", "pipeline", "sources",
    "analytics", "sql_interface", "operators", "benchqueries", "ml",
)
LAYER_METRICS = (
    ("span_s", "s"), ("self_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("exec_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)

_CALLSITE = re.compile(r" at (\S+?\.py):\d+")
MB = 1e6


# --------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile p with at least ``min_beyond`` of
    ``n`` samples above it, or None when fewer than ``min_beyond + 1``
    samples exist. p90 needs 100 samples, p99 needs 1000."""
    if n <= min_beyond:
        return None
    return min(99, math.floor(100 * (n - min_beyond) / n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    """One call into a layer: wall-clock start/end (epoch seconds)."""

    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: sp.duration - union_length(clip(children.get(sp.id, []), sp.start, sp.end))
        for sp in spans
    }


def layer_span_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: ``span_s`` (wall time covered by the layer's spans, nested
    same-layer spans counted once) and ``self_s`` (sum of self times)."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    by_layer: dict[str, list[Span]] = {}
    for sp in spans:
        by_layer.setdefault(sp.layer, []).append(sp)
    for layer, group in by_layer.items():
        out[layer] = {
            "span_s": union_length([(sp.start, sp.end) for sp in group]),
            "self_s": sum(selfs[sp.id] for sp in group),
        }
    return out


# --------------------------------------------------------- job attribution


def callsite_layer(job_name: str) -> str | None:
    """Layer of a job from the Python call site Spark puts in its name,
    e.g. ``first at /x/nyc_taxi_bigdata_pipeline_spark/operators/dedup.py:463``
    → ``operators``. None when the call site is not in the program."""
    m = _CALLSITE.search(job_name or "")
    if not m:
        return None
    parts = m.group(1).replace("\\", "/").split("/")
    if PACKAGE not in parts:
        return None
    rel = parts[len(parts) - 1 - parts[::-1].index(PACKAGE) + 1:]
    if not rel:
        return None
    return rel[0][:-3] if rel[0].endswith(".py") else rel[0]


def group_layer(job_group: str | None) -> str | None:
    """Layer recorded in the job group the benchmark sets around each call
    (``<phase>:<layer>``)."""
    if not job_group or ":" not in job_group:
        return None
    return job_group.split(":", 1)[1] or None


def job_layer(job: dict) -> str:
    """A job belongs to the module of its Python call site. Jobs called from
    the benchmark's own files, and jobs with no Python call site (writes,
    ``count()``, broadcasts, MLlib's JVM-side jobs), belong to the layer
    named by their job group."""
    return callsite_layer(job.get("name", "")) or group_layer(job.get("jobGroup")) or "unattributed"


def parse_time(stamp: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T02:51:50.123GMT``."""
    if not stamp:
        return None
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


@dataclass
class LayerTotals:
    jobs: int = 0
    stages: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class Folded:
    layers: dict[str, LayerTotals] = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def fold_jobs(jobs: list[dict], stages: list[dict], phase: str) -> Folded:
    """Fold the REST ``/jobs`` and ``/stages`` lists into per-layer totals,
    keeping only jobs whose group starts with ``phase:``. Each stage counts
    once, for the lowest-numbered job that lists it; skipped stages carry
    no work and are not counted."""
    out = Folded()
    kept = sorted(
        (j for j in jobs if (j.get("jobGroup") or "").startswith(phase + ":")),
        key=lambda j: j["jobId"],
    )
    stage_owner: dict[int, str] = {}
    for j in kept:
        layer = job_layer(j)
        out.layers.setdefault(layer, LayerTotals()).jobs += 1
        for sid in j.get("stageIds", []):
            stage_owner.setdefault(sid, layer)
        s, e = parse_time(j.get("submissionTime")), parse_time(j.get("completionTime"))
        if s is not None and e is not None:
            out.job_intervals.append((s, e))
    for st in stages:
        layer = stage_owner.get(st["stageId"])
        if layer is None or st.get("status") == "SKIPPED":
            continue
        t = out.layers.setdefault(layer, LayerTotals())
        t.stages += 1
        t.exec_cpu_s += st.get("executorCpuTime", 0) / 1e9
        t.shuffle_write_mb += st.get("shuffleWriteBytes", 0) / MB
        t.spill_mb += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / MB
    return out


def no_job_time(op_intervals: list[tuple[float, float]], job_intervals) -> float:
    """Time inside timed calls during which no Spark job was running:
    planning and driver-side Python."""
    return sum(
        (e - s) - union_length(clip(job_intervals, s, e)) for s, e in op_intervals
    )


# --------------------------------------------------------- python boundary

# SQL-node metric name → python.* metric; the REST API reports these on
# MapInPandas / ArrowEvalPython / FlatMapGroupsInPandas / ... nodes.
PYTHON_NODE_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1 / MB, "KiB": 1024 / MB, "MiB": 1024**2 / MB,
    "GiB": 1024**3 / MB, "TiB": 1024**4 / MB,
}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*(ns|ms|s|min|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric_total(value: str) -> float:
    """SQL metric values read ``total (min, med, max (stageId: taskId))\\n
    12.5 MiB (1.0 MiB, ...)`` or just ``12.5 MiB``; return the total in
    seconds or MB."""
    body = value.split("\n", 1)[1] if "\n" in value else value
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def fold_python_metrics(executions: list[dict], job_ids: set[int]) -> dict[str, float]:
    """Sum the Python-boundary node metrics of the SQL executions that ran
    any of ``job_ids``."""
    out = {v: 0.0 for v in PYTHON_NODE_METRICS.values()}
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(
            ex.get("runningJobIds", [])
        )
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", []):
            for met in node.get("metrics", []):
                key = PYTHON_NODE_METRICS.get(met.get("name"))
                if key:
                    out[key] += parse_metric_total(str(met.get("value", "")))
    return out
