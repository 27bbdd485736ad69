#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts, compared per end-to-end metric.

Usage:

    python3 tools/paired_bench.py --parent ../parent --change . \\
        --workload corpus_serve --seeds 21-32 --out pairs.json

For each seed it runs `perfbench/run.py --workload W --seed S --seconds N
--trace T` once in each checkout, one after the other; which side runs
first alternates from seed to seed, so a slow spell on the host falls on
both sides alike. Every run (side, seed, order, exit code, wall time, the
JSON result line) is written to the output file as soon as it finishes.

Then, for each end-to-end metric the change's BENCHMARK.json declares, it
prints each side's q1/median/q3, the number of pairs the change wins, the
median gap against the parent's interquartile range, whether the
change's median stays inside the metric's bound, and a verdict:

    gain        the change wins at least 9 in 10 pairs (ties count for
                neither) and its median is better by more than the
                parent's interquartile range
    WORSE       the change's median is worse than the parent's by more
                than the bound
    unresolved  the parent's interquartile range is wider than the bound
                (relative to its median), unless every change run beats
                every parent run
    no worse    anything else

A run that exits
non-zero, prints no result line, is not `correct` or has failed
operations is a failure: its pair is left out of the comparison and the
failures are listed. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
        code, stdout, stderr = p.returncode, p.stdout, p.stderr
    except subprocess.TimeoutExpired:
        code, stdout, stderr = -1, "", "timed out"
    result = None
    lines = [l for l in stdout.splitlines() if l.strip()]
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    return {"exit": code, "wall_s": round(time.time() - t0, 2), "result": result,
            "stderr_tail": stderr[-400:] if code != 0 or result is None else ""}


def failure(run):
    r = run["result"]
    if run["exit"] != 0 or not isinstance(r, dict):
        return f"exit {run['exit']}, no result line"
    if not r.get("correct") or r.get("failed", 1) != 0:
        return f"correct={r.get('correct')} failed={r.get('failed')}"
    return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(ps, cs, bound, lower):
    """The verdict on one metric from the paired parent/change values."""
    better = (lambda a, b: b < a) if lower else (lambda a, b: b > a)
    pq, cq = quartiles(ps), quartiles(cs)
    wins = sum(1 for a, b in zip(ps, cs) if better(a, b))
    if 10 * wins >= 9 * len(ps) and better(pq[1], cq[1]) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
        return "gain"
    limit = pq[1] * (1 + bound) if lower else pq[1] * (1 - bound)
    if better(cq[1], limit):
        return "WORSE"
    spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else float("inf")
    every_run_better = better(min(ps), max(cs)) if lower else better(max(ps), min(cs))
    if spread > bound and not every_run_better:
        return "unresolved"
    return "no worse"


def report(runs, metrics):
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs, failures = [], []
    for seed in sorted(by_seed):
        sides = by_seed[seed]
        bad = [(side, failure(sides[side])) for side in ("parent", "change")
               if side in sides and failure(sides[side])]
        failures.extend(f"seed {seed} {side}: {why}" for side, why in bad)
        if not bad and len(sides) == 2:
            pairs.append((seed, sides["parent"]["result"]["metrics"], sides["change"]["result"]["metrics"]))
    print(f"{len(pairs)} complete pairs, {len(failures)} failed runs")
    for f in failures:
        print(f"  FAILED {f}")
    header = (f"{'metric':<28}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>7}{'gap':>10}"
              f"{'> IQR':>7}{'bound':>8}{'inside':>8}{'verdict':>12}")
    print(header)
    summary = {}
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        got = [(p[name]["value"], c[name]["value"]) for _, p, c in pairs if name in p and name in c]
        if not got:
            continue
        ps, cs = [a for a, _ in got], [b for _, b in got]
        pq, cq = quartiles(ps), quartiles(cs)
        wins = sum(1 for a, b in got if (b < a if lower else b > a))
        gap = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        limit = pq[1] * (1 + m["bound"]) if lower else pq[1] * (1 - m["bound"])
        inside = cq[1] <= limit if lower else cq[1] >= limit
        says = verdict(ps, cs, m["bound"], lower)
        summary[name] = {"parent": pq, "change": cq, "wins": wins, "pairs": len(got), "gap": gap,
                         "parent_iqr": iqr, "gap_exceeds_iqr": abs(gap) > iqr, "bound": m["bound"],
                         "inside_bound": inside, "verdict": says}
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:<28}{fmt(pq):>30}{fmt(cq):>30}{f'{wins}/{len(got)}':>7}{gap:>+10.4g}"
              f"{('yes' if abs(gap) > iqr else 'no'):>7}{m['bound']:>8}{('yes' if inside else 'NO'):>8}{says:>12}")
    return summary, failures


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-32 or 1,4,7-9")
    ap.add_argument("--out", required=True, help="JSON file every run is recorded in")
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    runs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            run = run_once(checkouts[side], a.workload, seed, a.seconds, a.trace)
            run.update(side=side, seed=seed, first=(pos == 0))
            runs.append(run)
            print(f"seed {seed} {side:<6} {run['wall_s']:>7.1f} s  {failure(run) or 'ok'}", file=sys.stderr)
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "checkouts": checkouts, "runs": runs}, f, indent=1)
    summary, failures = report(runs, metrics)
    with open(a.out, "w") as f:
        json.dump({"workload": a.workload, "checkouts": checkouts, "runs": runs, "summary": summary}, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
