"""The workloads. Each stages its inputs from the seed, then runs a closed
loop of timed passes (one client thread; the next call starts when the
previous one returns) until the run's length is reached, and checks what
the operations returned.

Sizes are chosen so one run, Spark start-up included, takes about a
minute or less on a 4-core host: the benchmark's run budget is 22 runs
per workload within a fixed time, and most of a run here is fixed
per-call cost, not data."""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import os
import pkgutil
import time
from datetime import timedelta

import numpy as np

import attribution as attr
import inputs
from harness import Run, log

YEAR = 2023
MONTH_ROWS = 5_000       # raw rows per timed month
ML_ITERS = 1             # GBT boosting rounds per fit
ML_DEPTH = 4             # GBT tree depth
DASHBOARD_ROUNDS = 2     # rounds of the 10 dashboard shapes per pass


def _stage_months(run: Run, work: str, months: dict[str, tuple[int, int]]) -> dict:
    """Stage raw months (one set-up round each) and return their frames."""
    spark = run.spark
    frames = {}
    for key, (month, n) in months.items():
        path = os.path.join(work, f"raw_{key}")
        with run.setup_round(f"stage raw month {key}"):
            inputs.stage_month(spark, path, YEAR, month, n, run.seed)
        frames[key] = spark.read.parquet(path)
        run.inputs[f"raw_rows_{key}"] = n
    return frames


def _zones(run: Run, work: str):
    from nyc_taxi_bigdata_pipeline_spark.sources.csv import read_zone_lookup

    path = os.path.join(work, "zones.csv")
    inputs.write_zone_csv(path, run.seed)
    run.inputs["zones"] = inputs.N_ZONES
    return read_zone_lookup(run.spark, path)


# ------------------------------------------------------------ dashboard

ANALYTICS_SHAPES = ("kpis", "daily_trips", "hourly_trips", "payment_breakdown", "top_zones")
DASHBOARD_SHAPES = tuple(f"analytics.{s}" for s in ANALYTICS_SHAPES) + tuple(
    f"sql.{s}" for s in ANALYTICS_SHAPES
)
TWIN_COLS = {
    "kpis": ("total_trips", "total_revenue", "avg_amount", "avg_distance"),
    "daily_trips": ("pickup_date", "trips", "revenue"),
    "hourly_trips": ("hour", "trips"),
    "payment_breakdown": ("payment_description", "trips", "revenue"),
    "top_zones": ("borough", "zone", "trips", "revenue"),
}


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def same_rows(a: list[dict], b: list[dict], cols: tuple[str, ...]) -> bool:
    """Equal as multisets on ``cols``; doubles may differ in summation
    order, so they compare to 1e-9 relative."""
    def key(r):
        return tuple("" if isinstance(r[c], float) else str(r[c]) for c in cols)

    a, b = sorted(a, key=key), sorted(b, key=key)
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for c in cols:
            u, v = x[c], y[c]
            if isinstance(u, float) or isinstance(v, float):
                if not math.isclose(float(u), float(v), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True


class Dashboard:
    """The dashboard's requests over one gold star: the 5 ``analytics``
    functions and the 5 ``sql_interface.DASHBOARD_SQL`` texts. Date
    ranges run from one day to the full span; the ``analytics`` shapes
    also draw optional borough / zone / payment filters (the SQL texts
    take dates only)."""

    def __init__(self, spark, gold: str, rng):
        from nyc_taxi_bigdata_pipeline_spark import sql_interface

        self.spark, self.rng = spark, rng
        sql_interface.register_star(spark, gold)
        self.fact = spark.read.parquet(f"{gold}/fact_trip")
        self.dims = {n: spark.read.parquet(f"{gold}/{n}") for n in sql_interface.STAR_TABLES[1:]}
        first, last = self.fact.selectExpr("min(pickup_date)", "max(pickup_date)").collect()[0]
        self.first, self.days = first, (last - first).days + 1
        loc = self.dims["dim_location"].select("borough", "zone").collect()
        self.boroughs = sorted({r[0] for r in loc})
        self.zones = sorted({r[1] for r in loc if r[1]})
        self.payments = sorted(
            r[0] for r in self.dims["dim_payment_type"].select("payment_description").collect())

    def full_span(self) -> dict:
        last = self.first + timedelta(days=self.days - 1)
        return {"date_from": str(self.first), "date_to": str(last)}

    def draw(self, shape: str) -> dict:
        rng = self.rng
        length = int(rng.integers(1, self.days + 1))
        start = self.first + timedelta(days=int(rng.integers(0, self.days - length + 1)))
        params = {"date_from": str(start), "date_to": str(start + timedelta(days=length - 1))}
        if shape.startswith("analytics."):
            for key, choices, p, most in (("boroughs", self.boroughs, 0.3, 2),
                                          ("zones", self.zones, 0.2, 5),
                                          ("payment_descriptions", self.payments, 0.3, 2)):
                if rng.random() < p:
                    k = int(rng.integers(1, most + 1))
                    params[key] = [str(x) for x in rng.choice(choices, size=k, replace=False)]
        return params

    def request(self, shape: str, params: dict) -> list[dict]:
        from nyc_taxi_bigdata_pipeline_spark import analytics, sql_interface

        kind, name = shape.split(".")
        if kind == "sql":
            return _rows(sql_interface.dashboard_query(self.spark, name, **params))
        flt = analytics.TripFilters(**params)
        return _rows(getattr(analytics, name)(self.fact, self.dims, flt))

    @staticmethod
    def layer(shape: str) -> str:
        return "sql_interface" if shape.startswith("sql.") else "analytics"


# ------------------------------------------------------------ month_batch


def _wrap_batch_layers(tracer) -> None:
    from nyc_taxi_bigdata_pipeline_spark import (
        analytics, ingest, pipeline, quality, sql_interface, warehouse)
    from nyc_taxi_bigdata_pipeline_spark.ml import features, predict, train

    tracer.wrap(pipeline, "run_month", "pipeline")
    tracer.wrap(pipeline, "hadoop_path_exists", "sources")
    for name in ("ingest_month", "read_silver", "clean_month"):
        tracer.wrap(ingest, name, "ingest")
    for name in ("build_fact", "load_fact_idempotent", "seed_enum_dims",
                 "build_dim_location", "build_dim_date", "build_dim_time"):
        tracer.wrap(warehouse, name, "warehouse")
    for name in ("retention_check", "min_rowcount_check"):
        tracer.wrap(quality, name, "quality")
    tracer.wrap(predict, "schema_check", "quality")
    for name in ANALYTICS_SHAPES:
        tracer.wrap(analytics, name, "analytics")
    tracer.wrap(sql_interface, "dashboard_query", "sql_interface")
    tracer.wrap(sql_interface, "register_star", "sql_interface")
    tracer.wrap(features, "build_feature_table", "ml")
    tracer.wrap(train, "train_and_evaluate", "ml")
    tracer.wrap(train, "build_pipeline", "ml")
    tracer.wrap(predict, "score_batch", "ml")


def month_batch(run: Run, work: str) -> dict[str, float]:
    """The reference's monthly batch, one pass per loop:

    1. write path: ``pipeline.run_month`` for month A, then B, then A
       again (the idempotent re-run appends nothing), into fresh silver
       and gold;
    2. MLlib: the GBT fare model fit on A's silver, evaluated on B's, and
       B scored;
    3. read path: DASHBOARD_ROUNDS rounds of the 10 dashboard shapes in
       seed order over the new gold. They come last so that background
       JIT compilation of the write path has settled.

    The write path and MLlib are not warmed up: like a monthly
    ``spark-submit`` they run in a fresh process and pay JIT and codegen
    compilation every time. The dashboard is a long-lived service, so its
    shapes are warmed once before their timed rounds.
    """
    import pyspark.sql.functions as F
    from nyc_taxi_bigdata_pipeline_spark import analytics, ingest, pipeline
    from nyc_taxi_bigdata_pipeline_spark.ml import features, predict, train
    from nyc_taxi_bigdata_pipeline_spark.schema import FACT_NATURAL_KEY

    spark = run.spark
    rng = np.random.default_rng(run.seed)
    with run.phase("setup"):
        zones = _zones(run, work)
        raw = _stage_months(run, work, {"A": (2, MONTH_ROWS), "B": (3, MONTH_ROWS)})
    _wrap_batch_layers(run.tracer)

    def fit(silver: str, train_m: int, test_m: int):
        tr = features.build_feature_table(ingest.read_silver(spark, silver, [(YEAR, train_m)]))
        te = features.build_feature_table(ingest.read_silver(spark, silver, [(YEAR, test_m)]))
        return train.train_and_evaluate(tr, te, train.build_pipeline(
            max_iter=ML_ITERS, max_depth=ML_DEPTH)), te

    passes, etl_rows, etl_s, appended, incoming, retention = [], 0, 0.0, 0, 0, []
    reads: dict[str, list[float]] = {s: [] for s in DASHBOARD_SHAPES}
    fits, scored_rows, score_s = [], 0, 0.0
    t_start = time.perf_counter()
    p = 0
    while run.time_left(t_start):
        first_op = len(run.ops)
        silver, gold = f"{work}/pass{p}/silver", f"{work}/pass{p}/gold"
        fact_rows = 0
        for i, key in enumerate(("A", "B", "A")):
            month = 2 if key == "A" else 3
            op, res = run.timed("run_month", "pipeline", pipeline.run_month,
                                spark, raw[key], zones, silver, gold, YEAR, month)
            if not op.ok:
                continue
            new, fact_rows = res.counts["fact_rows"] - fact_rows, res.counts["fact_rows"]
            etl_rows += res.counts["rows_in"]
            etl_s += op.seconds
            appended += new
            incoming += res.counts["rows_out"]
            retention.append(res.counts["rows_out"] / res.counts["rows_in"])
            run.check(f"gates ok ({key})", res.ok, op)
            if i == 2:
                run.check("re-run appends no fact rows", new == 0, op)
        run.group("check", "pipeline", "fact key check")
        row = spark.read.parquet(f"{gold}/fact_trip").agg(
            F.count("*").alias("n"), F.countDistinct(*FACT_NATURAL_KEY).alias("keys")).collect()[0]
        run.check("fact rows == distinct natural keys", row["n"] == row["keys"] == fact_rows)

        op, out = run.timed("train_and_evaluate", "ml", fit, silver, 2, 3)
        if op.ok:
            res, te = out
            fits.append(res.train_seconds)
            m = res.metrics
            run.check("ml r2 > 0.5 and rmse < 10", m["r2"] > 0.5 and m["rmse"] < 10, op)
            sop, scored = run.timed("score_batch", "ml", predict.score_batch,
                                    res.model, te, with_label=True)
            if sop.ok:
                scored_rows += scored[1]["rows"]
                score_s += sop.seconds
                run.check("no implausible predictions", scored[1]["implausible"] == 0, sop)
        run.group("open", "sql_interface", "open star")
        dash = Dashboard(spark, gold, rng)
        if p == 0:
            # the dashboard is a long-lived service: its first request of
            # each shape (planning and codegen caches) is not timed
            run.group("warmup", "analytics", "warm-up")
            for shape in DASHBOARD_SHAPES:
                dash.request(shape, dash.full_span())
        sql_seen, kpi_seen = {}, None
        for _ in range(DASHBOARD_ROUNDS):
            for shape in rng.permutation(DASHBOARD_SHAPES):
                params = dash.draw(shape)
                op, rows = run.timed(shape, dash.layer(shape), dash.request, shape, params)
                if not op.ok:
                    continue
                reads[shape].append(op)
                if shape == "analytics.kpis":
                    run.check("kpis returns one row", len(rows) == 1, op)
                    kpi_seen = kpi_seen or (params, rows)
                if shape.startswith("sql."):
                    sql_seen.setdefault(shape, (params, rows, op))
        # every SQL text equals its analytics twin under the same dates,
        # and daily trips sum to the KPI total under the same filter
        run.group("check", "analytics", "twin checks")
        for shape, (params, rows, op) in sql_seen.items():
            name = shape.split(".")[1]
            twin = _rows(getattr(analytics, name)(dash.fact, dash.dims, analytics.TripFilters(**params)))
            run.check(f"{name}: analytics == sql", same_rows(rows, twin, TWIN_COLS[name]), op)
        if kpi_seen is not None:
            params, rows = kpi_seen
            daily = _rows(analytics.daily_trips(dash.fact, dash.dims, analytics.TripFilters(**params)))
            run.check("daily trips sum to total_trips",
                      sum(r["trips"] for r in daily) == rows[0]["total_trips"])

        passes.append(run.ops[first_op:])
        p += 1

    run.phase_s["timed"] = time.perf_counter() - t_start
    every_read = [o for v in reads.values() for o in v]
    wall_ms = [o.seconds * 1e3 for o in every_read]
    tail_p = attr.tail_percentile(len(wall_ms))
    run.detail.update({
        "etl_rows_per_s": etl_rows / etl_s if etl_s else 0.0,
        "dashboard_p50_ms": attr.median(wall_ms),
        "dashboard_tail_percentile": tail_p,
        "dashboard_tail_ms": attr.percentile(wall_ms, tail_p) if tail_p else None,
        "dashboard_requests": len(wall_ms),
        "dashboard_ms": [round(ms, 3) for ms in wall_ms],
        "ml_fit_s": attr.median(fits) if fits else 0.0,
        "ml_score_rows_per_s": scored_rows / score_s if score_s else 0.0,
    })
    out = {
        **pass_figures(run, passes, every_read),
        "ingest.rows_in": float(etl_rows),
        "ingest.retention": attr.median(retention),
        "warehouse.fact_appended_ratio": appended / incoming if incoming else 0.0,
    }
    for shape, ops in reads.items():
        out[f"dashboard.{shape}.p50_ms"] = attr.median([o.seconds for o in ops]) * 1e3 if ops else 0.0
    return out


def pass_figures(run: Run, passes: list[list], reads: list) -> dict[str, float]:
    """End-to-end figures of the timed passes. The bounded ones are CPU
    time of the process tree (JVM, Python workers, this process): on a host
    whose CPUs other guests share, wall time drifts with their load. The
    wall-clock twins go to the detail line."""
    run.detail.update({
        "passes": len(passes),
        "pass_wall_s": attr.median([sum(o.seconds for o in ops) for ops in passes]),
        "read_p50_wall_ms": attr.median([o.seconds for o in reads]) * 1e3,
    })
    return {
        "read_p50_cpu_ms": attr.median([o.cpu_s for o in reads]) * 1e3,
        "pass_cpu_s": attr.median([sum(o.cpu_s for o in ops) for ops in passes]),
    }


# ------------------------------------------------------ registry_operators

# Operator-backed registry queries named by ROADMAP open items 3, 5 and 7,
# in pass order.
# Items 4 and 6 (curation_domain_token_caps, dataset_split_leakage) each
# cost 8-13 s cold, more than the per-run budget leaves.
REGISTRY_QUERIES = (
    "dedup_incremental_batch",
    "fuzzy_record_linkage",
    "fuzzy_join_levenshtein",
)
CORPUS_SEED = 0              # the timed corpus is fixed: its checksums are pinned
CORPUS_DOCS, CORPUS_CUSTOMERS = 1_000, 1_500
CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_checksums.json")


def checksum(rows) -> str:
    """Order-insensitive checksum of collected rows: row count and the sum
    mod 2^64 of per-row hashes; doubles are rounded to 9 significant
    digits so summation order cannot change them."""
    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        if hasattr(v, "asDict"):
            return norm(tuple(v))
        return repr(v)

    total = 0
    for r in rows:
        h = hashlib.blake2b(norm(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return f"{len(rows)}:{total:016x}"


def _release(spark) -> None:
    """Drop temp views and persisted RDDs a query left behind, so one
    query's blocks do not slow the next."""
    import gc

    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    gc.collect()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def _wrap_registry_layers(tracer, queries: dict) -> dict:
    """Wrap each query's ``spark_fn`` (benchqueries), and in every
    benchqueries module the operator functions and ``load_table`` it
    calls through its own module attributes."""
    from nyc_taxi_bigdata_pipeline_spark import benchqueries

    pkg = "nyc_taxi_bigdata_pipeline_spark"
    for info in pkgutil.iter_modules(benchqueries.__path__):
        mod = importlib.import_module(f"{benchqueries.__name__}.{info.name}")
        for name, val in list(vars(mod).items()):
            home = getattr(val, "__module__", "") or ""
            if callable(val) and home.startswith(f"{pkg}.operators."):
                tracer.wrap(mod, name, "operators")
            elif name == "load_table" and home == f"{pkg}.sources.tables":
                tracer.wrap(mod, name, "sources")
    return {q: tracer.wrapped(fn, f"benchqueries.{q}", "benchqueries") for q, fn in queries.items()}


def registry_operators(run: Run, work: str) -> dict[str, float]:
    """Operator-backed registry queries over a fixed corpus, each collected
    and checksummed once per pass. The seed draws the physical row order
    of the corpus files; the rows, and so the pinned checksums, stay the
    same. Like a curation job submitted on its own, the queries run cold:
    a warm-up would cost more than the pass it warms. The pass order is
    fixed because a cold query's time depends on what ran before it (the
    first pays the process's first-use costs; the fuzzy queries share
    kernels)."""
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY
    from nyc_taxi_bigdata_pipeline_spark.sources.tables import load_table

    spark = run.spark
    with open(CHECKSUMS, encoding="utf-8") as f:
        pinned = json.load(f)

    t0 = time.perf_counter()
    corpus = None
    for i in range(3):
        with run.setup_round("stage corpus"):
            corpus = os.path.join(work, f"corpus{i}")
            counts = inputs.write_corpus(corpus, CORPUS_DOCS, CORPUS_CUSTOMERS, CORPUS_SEED, run.seed)
            for table, n in counts.items():
                got = load_table(spark, corpus, table).groupBy().count().collect()[0][0]
                run.check(f"staged {table} rows", got == n)
    run.inputs.update(counts)
    run.phase_s["setup"] = time.perf_counter() - t0

    fns = _wrap_registry_layers(run.tracer, {q: REGISTRY[q].spark_fn for q in REGISTRY_QUERIES})
    per_query: dict[str, list[float]] = {q: [] for q in REGISTRY_QUERIES}
    passes = []
    t_start = time.perf_counter()
    while run.time_left(t_start):
        first_op = len(run.ops)
        for q in REGISTRY_QUERIES:
            op, rows = run.timed(q, "benchqueries", lambda fn=fns[q]: fn(spark, corpus).collect())
            _release(spark)
            if not op.ok:
                continue
            per_query[q].append(op.seconds)
            got = checksum(rows)
            if got != pinned.get(q):
                log(f"{q}: checksum {got} != pinned {pinned.get(q)}")
            run.check(f"{q} checksum", got == pinned.get(q), op)
        passes.append(run.ops[first_op:])

    run.phase_s["timed"] = time.perf_counter() - t_start
    out = pass_figures(run, passes, [o for o in run.ops if o.ok])
    run.detail["registry_ops_s"] = run.detail["pass_wall_s"]
    for q, vals in per_query.items():
        out[f"registry.{q}.s"] = attr.median(vals) if vals else 0.0
    return out


WORKLOADS = {
    "month_batch": month_batch,
    "registry_operators": registry_operators,
}
