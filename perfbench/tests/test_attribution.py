"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import attribution as attr
import inputs
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------- call sites


@pytest.mark.parametrize("name, layer", [
    ("first at /x/nyc_taxi_bigdata_pipeline_spark/operators/dedup.py:463", "operators"),
    ("collect at /co/nyc_taxi_bigdata_pipeline_spark/ingest.py:110", "ingest"),
    ("parquet at /co/nyc_taxi_bigdata_pipeline_spark/pipeline.py:71", "pipeline"),
    ("fit at /co/nyc_taxi_bigdata_pipeline_spark/ml/train.py:93", "ml"),
    ("collect at /co/nyc_taxi_bigdata_pipeline_spark/benchqueries/core.py:12", "benchqueries"),
    # a checkout nested under a directory that carries the package name
    ("count at /nyc_taxi_bigdata_pipeline_spark/co/nyc_taxi_bigdata_pipeline_spark/warehouse.py:9",
     "warehouse"),
])
def test_callsite_layer_is_the_module_of_the_call_site(name, layer):
    assert attr.callsite_layer(name) == layer


@pytest.mark.parametrize("name", [
    "collect at /co/perfbench/workloads.py:120",
    "run at ThreadPoolExecutor.java:1136",
    "",
])
def test_callsite_outside_the_program_has_no_layer(name):
    assert attr.callsite_layer(name) is None


def test_job_layer_falls_back_to_the_job_group():
    bench_job = {"name": "collect at /co/perfbench/workloads.py:120", "jobGroup": "timed:analytics"}
    broadcast = {"name": "run at ThreadPoolExecutor.java:1136", "jobGroup": "timed:sql_interface"}
    program = {"name": "count at /co/nyc_taxi_bigdata_pipeline_spark/ingest.py:110",
               "jobGroup": "timed:pipeline"}
    assert attr.job_layer(bench_job) == "analytics"
    assert attr.job_layer(broadcast) == "sql_interface"
    assert attr.job_layer(program) == "ingest"
    assert attr.job_layer({"name": "x"}) == "unattributed"


# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize("n, p", [
    (10, None), (11, 9), (20, 50), (40, 75), (100, 90), (200, 95), (1000, 99), (5000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert attr.tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        beyond = [v for v in values if v > attr.percentile(values, p)]
        assert len(beyond) >= 10


def test_percentile_nearest_rank():
    values = [5, 1, 4, 2, 3]
    assert attr.percentile(values, 50) == 3
    assert attr.percentile(values, 100) == 5
    assert attr.percentile(values, 1) == 1
    assert attr.median([4, 1, 3, 2]) == 2.5


# ------------------------------------------------------------------ spans


def S(i, layer, start, end, parent=None):
    return attr.Span(i, f"{layer}.{i}", layer, start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        S(0, "pipeline", 0.0, 10.0),
        S(1, "ingest", 1.0, 4.0, 0),
        S(2, "warehouse", 3.0, 5.0, 0),    # overlaps its sibling: counted once
        S(3, "quality", 8.0, 12.0, 0),     # runs past its parent: clipped
        S(4, "operators", 1.5, 2.0, 1),    # grandchild: not the root's child
    ]
    selfs = attr.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(0.5)


def test_layer_span_counts_nested_same_layer_spans_once():
    spans = [S(0, "analytics", 0.0, 1.0), S(1, "analytics", 0.2, 0.6, 0),
             S(2, "analytics", 2.0, 2.5)]
    t = attr.layer_span_times(spans)["analytics"]
    assert t["span_s"] == pytest.approx(1.5)
    # self times of parent and child add back up to the covered time
    assert t["self_s"] == pytest.approx(1.5)


def test_union_and_no_job_time():
    assert attr.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert attr.union_length([]) == 0
    ops = [(0.0, 10.0), (20.0, 22.0)]
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 21.0)]
    # op 1: jobs cover [1,4] and [9,10] -> 6 s without a job; op 2: [21,22]
    assert attr.no_job_time(ops, jobs) == pytest.approx(6.0 + 1.0)


# ------------------------------------------------------------ REST folding


def test_fold_jobs_keeps_the_timed_phase_and_counts_each_stage_once():
    jobs = [
        {"jobId": 1, "name": "count at /co/nyc_taxi_bigdata_pipeline_spark/ingest.py:1",
         "jobGroup": "timed:pipeline", "stageIds": [1, 2],
         "submissionTime": "2026-10-17T02:51:50.000GMT",
         "completionTime": "2026-10-17T02:51:51.500GMT"},
        {"jobId": 2, "name": "collect at /co/perfbench/workloads.py:1",
         "jobGroup": "timed:analytics", "stageIds": [2, 3]},
        {"jobId": 0, "name": "collect at /co/perfbench/workloads.py:1",
         "jobGroup": "warmup:analytics", "stageIds": [0]},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "executorCpuTime": 9e9},
        {"stageId": 1, "status": "COMPLETE", "executorCpuTime": 2e9,
         "shuffleWriteBytes": 3e6, "memoryBytesSpilled": 1e6, "diskBytesSpilled": 5e5},
        {"stageId": 2, "status": "COMPLETE", "executorCpuTime": 1e9},
        {"stageId": 3, "status": "SKIPPED", "executorCpuTime": 0},
    ]
    f = attr.fold_jobs(jobs, stages, "timed")
    ingest, analytics = f.layers["ingest"], f.layers["analytics"]
    assert (ingest.jobs, ingest.stages) == (1, 2)
    assert ingest.exec_cpu_s == pytest.approx(3.0)
    assert ingest.shuffle_write_mb == pytest.approx(3.0)
    assert ingest.spill_mb == pytest.approx(1.5)
    assert (analytics.jobs, analytics.stages) == (1, 0)
    [(start, end)] = f.job_intervals
    assert end - start == pytest.approx(1.5)


@pytest.mark.parametrize("text, value", [
    ("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.5 s, 0.9 s (stage 3.0: task 7))", 1.5),
    ("total (min, med, max)\n250 ms (10 ms, 50 ms, 90 ms)", 0.25),
    ("2.0 MiB", 2 * 1024**2 / 1e6),
    ("total (min, med, max)\n1,024.0 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB)", 1024 * 1024 / 1e6),
    ("", 0.0),
])
def test_parse_metric_total(text, value):
    assert attr.parse_metric_total(text) == pytest.approx(value)


def test_fold_python_metrics_reads_only_executions_of_the_given_jobs():
    node = {"nodeName": "MapInPandas", "metrics": [
        {"name": "data sent to Python workers", "value": "3.0 MiB"},
        {"name": "time to run Python workers", "value": "total (min, med, max)\n2.0 s (1 s, 1 s, 1 s)"},
        {"name": "number of output rows", "value": "7"},
    ]}
    executions = [{"successJobIds": [4], "nodes": [node]}, {"successJobIds": [9], "nodes": [node]}]
    out = attr.fold_python_metrics(executions, {4})
    assert out["run_s"] == pytest.approx(2.0)
    assert out["sent_mb"] == pytest.approx(3 * 1024**2 / 1e6)
    assert out["recv_mb"] == 0.0


# ------------------------------------------------- checks and the contract


def test_checksum_ignores_row_order_and_summation_noise():
    a = [(1, "x", 0.1 + 0.2), (2, "y", [1.0, 2.0])]
    b = [(2, "y", [1.0, 2.0]), (1, "x", 0.3)]
    assert workloads.checksum(a) == workloads.checksum(b)
    assert workloads.checksum(a) != workloads.checksum(a[:1])


def test_same_rows_tolerates_only_float_noise():
    cols = ("k", "v")
    a = [{"k": "a", "v": 0.1 + 0.2}, {"k": "b", "v": 1.0}]
    assert workloads.same_rows(a, [{"k": "b", "v": 1.0}, {"k": "a", "v": 0.3}], cols)
    assert not workloads.same_rows(a, [{"k": "b", "v": 1.0}, {"k": "a", "v": 0.31}], cols)
    assert not workloads.same_rows(a, a[:1], cols)


def test_inputs_are_a_function_of_the_seed():
    assert inputs.documents(50, 3).equals(inputs.documents(50, 3))
    assert not inputs.documents(50, 3).equals(inputs.documents(50, 4))
    a, b = inputs.shuffled(inputs.customers(40, 0), 1), inputs.shuffled(inputs.customers(40, 0), 2)
    assert not a.equals(b) and a.sort_by("c_custkey").equals(b.sort_by("c_custkey"))
    assert inputs.zone_rows(1) == inputs.zone_rows(1)
    assert len(inputs.zone_rows(1)) == 265


def test_benchmark_json_lists_what_the_runs_print():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    with open(workloads.CHECKSUMS, encoding="utf-8") as f:
        assert set(json.load(f)) == set(workloads.REGISTRY_QUERIES)


def test_steal_share_is_steal_over_all_cpu_time():
    import harness

    before = [100, 0, 50, 800, 0, 0, 10, 40]
    after = [200, 0, 70, 1000, 0, 0, 20, 90]   # +100 +20 +200 +10 +50 = 380
    assert harness.steal_share(before, after) == pytest.approx(50 / 380)
    assert harness.steal_share(before, before) == 0.0
