"""Run the benchmark over several seeds and write one results file.

    python3 perfbench/collect.py --seeds 1-10 --trace 0 --out perfbench/results/set1.json
    python3 perfbench/collect.py --seeds 1 --trace 1 --baseline perfbench/results/set1.json \\
        --out perfbench/results/traced.json
    python3 perfbench/collect.py --seeds 21-23 --pairs --out perfbench/results/overhead_pairs.json

For every workload and end-to-end metric the summary gives the median and
the quartile spread, (q3 - q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``, next to the metric's bound from
BENCHMARK.json. ``--baseline`` compares each median with another set's.
``--pairs`` runs each seed untraced and then traced, back to back, and
states the tracing overhead as the median traced / untraced ratio; pairs
keep slow host drift out of that ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "exit": proc.returncode,
                "wall_s": wall, "stderr_tail": proc.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "exit": 0, "wall_s": wall,
            "result": json.loads(lines[-1]), "detail": json.loads(lines[-2])["detail"]}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def summarize(records: list[dict], bench: dict, baseline: dict | None) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out: dict = {}
    for w in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == w and r["exit"] == 0]
        s: dict = {
            "runs": len(runs),
            "all_correct": all(r["result"]["correct"] for r in runs),
            "failed_ops_ratio": sum(r["result"]["failed"] for r in runs)
            / max(1, sum(r["result"]["attempted"] for r in runs)),
            "wall_s_max": max((r["wall_s"] for r in runs), default=None),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs) if runs else None,
        }
        metrics: dict = {}
        for name in bounds:
            vals = [r["detail"]["end_to_end"][name] for r in runs]
            if len(vals) >= 2:
                med, spr = spread(vals)
                metrics[name] = {"median": med, "spread": spr, "bound": bounds[name],
                                 "values": vals}
                if baseline and w in baseline:
                    base = baseline[w]["end_to_end"][name]["median"]
                    metrics[name]["vs_baseline"] = med / base - 1
        s["end_to_end"] = metrics
        reads = [x for r in runs for x in r["detail"]["figures"].get("dashboard_ms", [])]
        if len(reads) >= 100:
            q = statistics.quantiles(reads, n=100)
            s["dashboard_pooled"] = {"requests": len(reads), "p50_ms": q[49], "p90_ms": q[89]}
        figs: dict = {"host_steal_share": [r["detail"]["context"]["host_steal_share"] for r in runs]}
        for r in runs:
            for k, v in r["detail"]["figures"].items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    figs.setdefault(k, []).append(v)
        s["figures"] = {
            k: dict(zip(("median", "spread"), spread(v))) if len(v) >= 2 and statistics.median(v)
            else {"median": statistics.median(v)}
            for k, v in figs.items()
        }
        out[w] = s
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--summarize", action="store_true",
                    help="recompute the summary of an existing --out file without running")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pairs", action="store_true",
                    help="per seed and workload, an untraced then a traced run; "
                         "states the tracing overhead from the pairs")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--baseline", help="an untraced results file, for the tracing overhead")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    baseline = None
    if args.baseline:
        with open(args.baseline, encoding="utf-8") as f:
            baseline = json.load(f)["summary"]
    if args.summarize:
        with open(args.out, encoding="utf-8") as f:
            doc = json.load(f)
        doc["summary"] = summarize(doc["runs"], bench, baseline)
        return write(doc, args.out)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    modes = (0, 1) if args.pairs else (args.trace,)
    records = []
    for seed in parse_seeds(args.seeds):
        for w in names:
            for trace in modes:
                rec = run_once(w, seed, bench["run_seconds"], trace)
                rec["trace"] = trace
                records.append(rec)
                res = rec.get("result", {})
                print(f"{w} seed={seed} trace={trace} exit={rec['exit']} "
                      f"wall={rec['wall_s']:.1f}s correct={res.get('correct')}",
                      file=sys.stderr, flush=True)
    if args.pairs:
        doc = {"pairs": True, "run_seconds": bench["run_seconds"],
               "overhead": overhead(records, bench), "runs": records}
    else:
        doc = {"trace": args.trace, "run_seconds": bench["run_seconds"],
               "summary": summarize(records, bench, baseline), "runs": records}
    return write(doc, args.out)


def overhead(records: list[dict], bench: dict) -> dict:
    """Per workload and end-to-end metric: the traced / untraced ratio of
    each back-to-back pair (same seed), and the median ratio."""
    out: dict = {}
    ok = [r for r in records if r["exit"] == 0]
    for w in sorted({r["workload"] for r in ok}):
        per: dict = {}
        for seed in sorted({r["seed"] for r in ok if r["workload"] == w}):
            pair = {r["trace"]: r for r in ok if r["workload"] == w and r["seed"] == seed}
            if set(pair) != {0, 1}:
                continue
            for m in bench["end_to_end"]:
                name = m["name"]
                base = pair[0]["detail"]["end_to_end"][name]
                per.setdefault(name, []).append(pair[1]["detail"]["end_to_end"][name] / base)
        out[w] = {k: {"ratios": v, "median_ratio": statistics.median(v)} for k, v in per.items()}
    return out


def write(doc: dict, out: str) -> int:
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc.get("summary") or doc.get("overhead"), indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
