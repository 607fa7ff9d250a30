#!/usr/bin/env python3
"""Steadiness check: run each workload n times on one commit and compare.

    python3 graftbench/steady.py [--runs 10] [--sets 1] [--workloads a,b]
                                 [--first-seed 101] [--trace-runs 0]

Each run uses its own seed (first-seed, first-seed+1, ...) and BENCHMARK.json's
run_seconds. For every end-to-end metric it prints the median, the first and
third quartiles (statistics.quantiles(values, n=4)), the spread (Q3 - Q1) /
median, the metric's bound and the target of a third of it; a spread over
the bound fails. With --sets 2 it makes a second set of runs (new seeds) and
also fails a metric whose second median is worse than the first by more than
the bound. With --trace-runs m it also makes m traced runs per workload and
prints the tracing overhead: traced minus untraced medians. The summary is
written to graftbench/target/steady/<time>.json; the exit status is 1 if any
metric failed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import run


def one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(run.BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    rec = json.loads(Path(next(l.split(" ", 1)[1] for l in lines if l.startswith("record "))).read_text())
    print(f"  {workload} seed={seed} trace={trace} wall={wall:.1f}s correct={res['correct']} "
          f"failed={res['failed']}/{res['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return res, rec, wall


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    summary = {}
    ok = True
    for w in workloads:
        summary[w] = {"sets": []}
        for k in range(args.sets):
            first = args.first_seed + k * args.runs
            results = [one(w, first + i, spec["run_seconds"], 0) for i in range(args.runs)]
            walls = [wall for _, _, wall in results]
            print(f"{w} set {k + 1}: {args.runs} runs, run wall median {statistics.median(walls):.1f} s, "
                  f"max {max(walls):.1f} s, "
                  f"all correct: {all(r['correct'] and r['failed'] == 0 for r, _, _ in results)}, "
                  f"warm-up bound hit in {sum(rec['warmup']['hit_bound'] for _, rec, _ in results)} runs")
            print(f"  {'metric':20s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s} "
                  f"{'target':>7s} {'drift':>7s}")
            got = {"run_wall_s": walls, "metrics": {}}
            for name, (bound, better) in bounds.items():
                vals = [r["metrics"][name]["value"] for r, _, _ in results]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                verdict = "ok" if spread <= bound / 3 else "WIDE" if spread <= bound else "FAIL"
                drift = None
                if k > 0:
                    # how much worse this set's median is than the first set's
                    base = summary[w]["sets"][0]["metrics"][name]["median"]
                    drift = (med - base) / base if better == "lower" else (base - med) / base
                    if drift > bound:
                        verdict = "FAIL"
                ok &= verdict != "FAIL"
                print(f"  {name:20s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {bound:6.2f} {bound / 3:7.3f} "
                      f"{'' if drift is None else f'{drift:+.3f}':>7s} {verdict}")
                got["metrics"][name] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread,
                                        "bound": bound, "drift": drift}
            summary[w]["sets"].append(got)
        traced = [one(w, args.first_seed + i, spec["run_seconds"], 1)[1] for i in range(args.trace_runs)]
        if traced:
            summary[w]["tracing_overhead"] = {}
            for name in bounds:
                base = summary[w]["sets"][0]["metrics"][name]["median"]
                overhead = statistics.median(rec["end_to_end"][name]["value"] for rec in traced) - base
                summary[w]["tracing_overhead"][name] = overhead
                print(f"  {name:20s} tracing overhead (traced - untraced median): {overhead:+.4f}")
    out = run.TARGET / "steady"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{int(time.time())}.json").write_text(json.dumps(summary, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
