#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

Usage:
    python3 tools/abab.py <parentDir> <changeDir> --workload ann --seeds 21-30

Each seed is one pair: `perfbench/run.py --workload W --seed S --seconds T
--trace 0` runs in each checkout, with T the change's BENCHMARK.json
`run_seconds`, the parent first on even pair indexes and the change first
on odd ones, so drift of the host lands on both sides alike. The tool only
reads perfbench's result line (the last line of its output). For each
end-to-end metric it prints each side's median and quartiles and the
number of pairs the change wins (ties count for neither side), then
whether the gain rule holds: the change wins at least nine tenths of the
pairs and the medians differ by more than the parent's interquartile
range. A run that fails is reported and its pair is left out of the metric
rows.

With --trace 1 every run is traced instead, and the tool prints each
side's median and quartiles of four per-layer metrics (task CPU, jobs,
idle time and the traced op median), without wins or a gain rule: a
traced run is slower, so it explains a gain but does not claim one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    lo = int(lo)
    hi = int(hi) if hi else lo
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


TRACED = ["spark.task_cpu_s", "spark.jobs", "spark.idle_s", "trace.op_p50_s"]


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    if p.returncode != 0 or result.get("failed"):
        return None, f"exit {p.returncode}, failed {result.get('failed')}"
    return {k: v["value"] for k, v in result["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}
    pairs = []
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side], err = run(sides[side], a.workload, seed,
                                 bench["run_seconds"], a.trace)
            if err:
                print(f"seed {seed} {side}: run failed: {err}", flush=True)
        op = "trace.op_p50_s" if a.trace else "op_p50_s"
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{side} {op}={got[side].get(op, float('nan')):.3f}"
            if got[side] else f"{side} failed" for side in sides), flush=True)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))
    print(f"\n{a.workload}: {len(pairs)} of {len(a.seeds)} pairs complete")
    if a.trace:
        print(f"{'metric':<18}{'parent median [Q1, Q3]':<34}"
              "change median [Q1, Q3]")
        for name in TRACED:
            both = [(p[name], c[name]) for p, c in pairs
                    if name in p and name in c]
            if not both:
                continue
            cells = []
            for xs in ([x for x, _ in both], [y for _, y in both]):
                q1, q3 = quartiles(xs)
                cells.append(f"{statistics.median(xs):.4g} [{q1:.4g}, {q3:.4g}]")
            print(f"{name:<18}{cells[0]:<34}{cells[1]}")
        return
    print(f"{'metric':<14}{'parent median [Q1, Q3]':<34}"
          f"{'change median [Q1, Q3]':<34}{'wins':<8}rule")
    for name, direction in better.items():
        both = [(p[name], c[name]) for p, c in pairs
                if name in p and name in c]
        if not both:
            continue
        ps, cs = [x for x, _ in both], [y for _, y in both]
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for x, y in both if sign * (y - x) > 0)
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        holds = wins >= 0.9 * len(both) and sign * (cm - pm) > p3 - p1
        print(f"{name:<14}{f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':<34}"
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':<34}"
              f"{f'{wins}/{len(both)}':<8}{'gain' if holds else '-'}")


if __name__ == "__main__":
    main()
