#!/usr/bin/env python3
"""Runs every workload on several seeds untraced, and once traced, and
writes the raw result lines plus a summary to a JSON file.

    python3 perfbench/report.py --seeds 1-10 --out perfbench/results/head.json

By default it runs the workloads of BENCHMARK.json for its run_seconds.

Per (workload, end-to-end metric) the summary holds the median and the
spread: the distance between the first and third quartile of the runs
(statistics.quantiles, n=4) as a share of the median. The traced run's
per-layer metrics sit beside the untraced medians, so their difference is
the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b) + 1)) if b else [int(x) for x in spec.split(",")]


def bench(workload, seed, seconds, trace):
    p = subprocess.run(
        ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "exit": p.returncode, "stderr": p.stderr[-2000:]}
    return {"seed": seed, "exit": 0, "detail": json.loads(lines[-2]),
            "result": json.loads(lines[-1])}


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        runs = [bench(w, s, args.seconds, 0) for s in seeds(args.seeds)]
        ok = [r for r in runs if r["exit"] == 0]
        summary = {}
        for name, _, _ in run.END_TO_END:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                summary[name] = {"median": med,
                                 "spread": (q[2] - q[0]) / med if med else 0.0}
        traced = bench(w, args.traced_seed, args.seconds, 1)
        report[w] = {"summary": summary, "failed_runs": len(runs) - len(ok),
                     "runs": runs, "traced": traced}
        print(w, json.dumps(summary), f"failed_runs={len(runs) - len(ok)}",
              flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
