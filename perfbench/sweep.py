#!/usr/bin/env python3
"""Repeated benchmark runs: median, quartiles and spread per metric.

Usage (from the repository root):
    python3 perfbench/sweep.py --workloads ingest,surface --seeds 1-10 \
        [--out summary.json]

Runs perfbench/run.py untraced for BENCHMARK.json's run_seconds once per
(workload, seed), in that order, and prints
for each metric its median, first and third quartile and the spread
(Q3 - Q1) / median that the benchmark's bounds are checked against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "spread": 0.0, "n": 1}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            runs.append(res)
            print(f"{w} seed {s}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        names = runs[0]["metrics"].keys() if runs else []
        summary[w] = {
            "runs": len(runs),
            "correct": all(r["correct"] for r in runs),
            "metrics": {n: dict(summarize([r["metrics"][n]["value"] for r in runs]),
                            unit=runs[0]["metrics"][n]["unit"]) for n in names}}
        for n, m in summary[w]["metrics"].items():
            b = bounds.get(n)
            flag = "" if b is None else f" bound {b} ({'ok' if m['spread'] <= b / 3 else 'WIDE'})"
            print(f"  {w} {n}: median {m['median']:.4g} {m['unit']} "
                  f"q1 {m['q1']:.4g} q3 {m['q3']:.4g} spread {m['spread']:.3f}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
