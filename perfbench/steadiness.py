#!/usr/bin/env python3
"""Steadiness report for graft's benchmark.

Runs each workload several times with different seeds and reports, per
end-to-end metric, the median and quartiles of the runs and the
interquartile spread as a share of the median, next to the metric's
regression bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workload point_store ...] [--first-seed 1]

Run it from the root of a checkout. It writes the raw run results to
.bench_out/steadiness.json and exits non-zero when a run fails or a
spread exceeds a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(cmd, workload, seed, seconds):
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(args, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, p.returncode
    return json.loads(lines[-1]), 0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw, ok = {}, True
    for w in workloads:
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            res, code = run_once(bench["command"], w, seed, bench["run_seconds"])
            if res is None or not res["correct"]:
                print(f"{w} seed {seed}: run failed (exit {code})", flush=True)
                ok = False
                continue
            results.append(res)
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        raw[w] = results
        if len(results) < 4:
            continue
        print(f"\n{w}: {len(results)} runs")
        print(f"  {'metric':28} {'q1':>11} {'median':>11} {'q3':>11} {'spread':>8} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            steady = spread <= bound / 3
            ok = ok and steady
            print(f"  {name:28} {q1:11.4g} {med:11.4g} {q3:11.4g} {spread:8.3f} {bound:6.2f}"
                  f"{'' if steady else '  NOT STEADY'}")
        print(flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "steadiness.json"), "w") as f:
        json.dump(raw, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
