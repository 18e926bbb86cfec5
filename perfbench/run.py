"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload month_batch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` wraps the program's public layer functions, reads
Spark's status REST API after the timed phase and reports the per-layer
metrics instead. The last line of stdout is the result
(``correct``/``attempted``/``failed``/``metrics``); the line before it
(``{"detail": ...}``) records the run context, the workload's own named
figures and any failures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
import uuid

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import attribution as attr  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402
from tracing import NoTracer, Tracer  # noqa: E402

CPUS_MAX = 4        # local[N] with N <= nproc
DRIVER_MEM_GB = 2   # the driver JVM is every executor in local mode

END_TO_END = {
    "setup_s": "s",
    "read_p50_cpu_ms": "ms",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    out = {}
    for layer in attr.LAYERS:
        for name, unit in attr.LAYER_METRICS:
            out[f"{layer}.{name}"] = unit
    out.update({
        "python.run_s": "s", "python.start_s": "s",
        "python.sent_mb": "MB", "python.recv_mb": "MB",
        "driver.no_job_s": "s", "unattributed.jobs": "count",
        "ingest.rows_in": "rows", "ingest.retention": "ratio",
        "warehouse.fact_appended_ratio": "ratio",
    })
    for shape in workloads.DASHBOARD_SHAPES:
        out[f"dashboard.{shape}.p50_ms"] = "ms"
    for q in workloads.REGISTRY_QUERIES:
        out[f"registry.{q}.s"] = "s"
    return out


def spark_env(work: str) -> tuple[int, dict[str, str]]:
    """Pin cores, memory and every scratch location inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(CPUS_MAX, nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MEM_GB": str(DRIVER_MEM_GB),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # JVMs write perf-data files to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size driver heap, so peak memory does not swing with
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM_GB}g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        # the traced read-back needs every job, stage and SQL execution of
        # the run; both modes keep the same settings
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return nproc, confs


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for every process
    this run started (the JVM and the Python workers it forked)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while harness.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in harness.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # benchmark the checkout's own source, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "nyc_taxi_bigdata_pipeline_spark", "__init__.py")):
        harness.log(f"the program package is not under {ROOT}; nothing to benchmark")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc, confs = spark_env(work)
    spark = None
    jiffies = harness.cpu_jiffies()
    try:
        with harness.PeakRss() as rss:
            from nyc_taxi_bigdata_pipeline_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
            spark.range(1).collect()
            session_start_s = time.perf_counter() - t0

            tracer = Tracer(uuid.uuid4().hex[:12]) if args.trace else NoTracer()
            run = harness.Run(spark, tracer, args.seed, args.seconds)
            try:
                extra = workloads.WORKLOADS[args.workload](run, work)
            finally:
                tracer.restore()
            peak_mb = rss.peak / attr.MB
            peak_parts_mb = {k: v / attr.MB for k, v in rss.peak_parts.items()}

        end_to_end = {
            "setup_s": attr.median(run.setup_rounds_cpu),
            "read_p50_cpu_ms": extra["read_p50_cpu_ms"],
            "pass_cpu_s": extra["pass_cpu_s"],
            "peak_rss_mb": peak_mb,
        }
        if args.trace:
            units = per_layer_units()
            layer_vals = {k: 0.0 for k in units}
            layer_vals.update(harness.layer_metrics(run))
            layer_vals.update({k: v for k, v in extra.items() if k in units})
            metrics = {k: {"value": float(layer_vals[k]), "unit": u} for k, u in units.items()}
        else:
            metrics = {k: {"value": float(end_to_end[k]), "unit": u} for k, u in END_TO_END.items()}

        sc = spark.sparkContext
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run_id": getattr(tracer, "run_id", None),
            "context": {
                "nproc": nproc,
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "SPARK_GRAFT_MEM_GB": os.environ["SPARK_GRAFT_MEM_GB"],
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "spark_version": spark.version,
                "python_version": platform.python_version(),
                "host_steal_share": harness.steal_share(jiffies, harness.cpu_jiffies()),
            },
            "inputs": run.inputs,
            "session_start_s": session_start_s,
            "peak_pss_mb_by_process": peak_parts_mb,
            "setup_rounds_s": run.setup_rounds,
            "setup_rounds_cpu_s": run.setup_rounds_cpu,
            "phase_s": run.phase_s,
            "end_to_end": end_to_end,
            "figures": run.detail,
            "ops": [[o.kind, round(o.seconds, 4), round(o.cpu_s, 2), o.ok] for o in run.ops],
            "extra": {k: v for k, v in extra.items() if k not in END_TO_END},
            "failures": run.failures,
        }
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
        teardown_s = time.perf_counter() - t0
    detail["phase_s"].update(session=session_start_s, teardown=teardown_s, total=time.perf_counter() - T_START)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
