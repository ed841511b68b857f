#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed-loop client, one JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload anonymize --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark (perfbench/build.py), runs the
workload's JVM side (graftbench.Main) at local[<cores>], checks every
output, and prints the metrics. With --trace 0 the last line holds the
end-to-end metrics; with --trace 1 it holds the per-layer metrics of a
traced run, whose full trace (spans, self times, job time per call site)
is written to .bench_build/traces/. The line before the last is a detail
line with the workload's own figures. Any failed operation or check makes
the exit code 1; a build or JVM failure exits 2 without a result line.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# BENCHMARK.json lists the first two; board and curate stay runnable for
# changes to the layers only they exercise (queries, curate)
WORKLOADS = ("anonymize", "ann", "board", "curate")

# (name, unit, better) — the order BENCHMARK.json lists them in
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
]
PER_LAYER = [
    ("configio.generate_s", "s", "lower"),
    ("planner.build_s", "s", "lower"),
    ("engine.dryrun_s", "s", "lower"),
    ("engine.apply_s", "s", "lower"),
    ("engine.validate_s", "s", "lower"),
    ("engine.output_bytes_per_input_byte", "ratio", "lower"),
    ("ann.build_s", "s", "lower"),
    ("ann.search_call_s", "s", "lower"),
    ("ann.index_bytes_per_vector", "B", "lower"),
    ("ann.recall_at_10", "ratio", "higher"),
    ("spark.planning_s", "s", "lower"),
    ("spark.codegen_compile_s", "s", "lower"),
    ("spark.codegen_compiles", "count", "lower"),
    ("spark.idle_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.slot_busy_ratio", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.fetch_wait_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.items_per_s", "1/s", "higher"),
]
BOARD_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170  # for the run itself, after any build


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(build_dir, args, work, out, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java_cmd(build_dir, [
        "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"], [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--work", work, "--out", out] +
        (["--plant-fault"] if args.plant_fault else []) +
        (["--digest"] if args.digest else []))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as fh:
            lines = [ln for ln in fh if not ln.lstrip().startswith(("at ", "..."))]
        tail = "".join(lines[-40:])
        why = "timed out" if rc is None else f"exited {rc}"
        fail(f"JVM {why}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def board_oracle(res):
    """Marks each board sample failed whose row count differs from its
    DuckDB oracle's row count on the same fixture."""
    import duckdb
    con = duckdb.connect()
    fx = res["fixture"]
    for t in BOARD_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fx}/{t}.parquet/*.parquet')")
    want = {}
    for name, sql in res["oracle"].items():
        try:
            want[name] = con.execute(
                f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS q"
            ).fetchone()[0]
        except Exception as e:  # an oracle that cannot run checks nothing
            want[name] = f"oracle error: {e}"[:300]
    for s in res["warmup"] + res["samples"]:
        w = want.get(s["label"])
        if s["error"] is None and s["rows"] != w:
            s["error"] = f"{s['label']}: {s['rows']} rows, oracle {w}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(res, trace):
    samples = res["samples"]
    ok = [s for s in samples if s["error"] is None]
    # a failed operation sits at +inf in the percentiles, never as a fast one
    times = sorted(s["s"] if s["error"] is None else math.inf for s in samples)
    spent = sum(s["s"] for s in samples if s["s"] is not None)
    e2e = {
        "setup_s": res["session_s"] + res["gen_s"] + res["warmup_s"],
        "op_p50_s": median(times),
        "items_per_s": sum(s["items"] for s in ok) / spent if spent else 0.0,
    }
    detail = {"workload": res["workload"], "cores": res["cores"],
              "samples": len(samples), "failed": len(samples) - len(ok),
              "errors": [s["error"] for s in res["warmup"] + samples
                         if s["error"]][:5],
              "setup": {"session_s": res["session_s"], "gen_s": res["gen_s"],
                        "warmup_s": res["warmup_s"]},
              "span_p50_s": res["span_p50_s"],
              "peak_rss_mb": res["peak_rss_mb"]}
    # the highest percentile with at least ten samples beyond it
    if len(times) >= 100:
        e90 = times[math.ceil(0.9 * len(times)) - 1]
        detail["op_p90_s"] = e90
    w, sp = res["workload"], res["span_p50_s"]
    named = {
        "anonymize": {"rows_per_s": e2e["items_per_s"]},
        "board": {"query_p50_s": e2e["op_p50_s"],
                  "queries_per_s": e2e["items_per_s"]},
        "ann": {"build_s": sp.get("Ann.build"),
                "search_p50_s": sp.get("Ann.search"),
                "recall_at_10": res["details"].get("ann.recall_at_10")},
        "curate": {"docs_per_s": e2e["items_per_s"],
                   "dup_recall": res["details"].get("curate.dup_recall")},
    }[w]
    named["failed_ratio"] = detail["failed"] / len(samples)
    if w == "board":
        per_q = {}
        for s in samples:
            per_q.setdefault(s["label"], []).append(s["s"])
        named["query_s"] = {q: median(v) for q, v in sorted(per_q.items())}
    detail["named"] = named
    if not trace:
        return e2e, detail
    layers = {k: res["layers"].get(k, 0.0) for k, _, _ in PER_LAYER}
    layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    layers["trace.op_p50_s"] = e2e["op_p50_s"]
    layers["trace.items_per_s"] = e2e["items_per_s"]
    detail["other_layers"] = {k: v for k, v in res["layers"].items()
                              if k not in layers and v}
    detail["predictions"] = predictions(w, layers, res["loop_s"] / len(samples))
    detail["job_s_by_call_site"] = res["job_s_by_call_site"]
    detail["self_time"] = res["self_time"]
    return layers, detail


def predictions(workload, m, wall_per_op):
    """The traced run's checks of what each layer should (not) do here.
    Planning and codegen run on the Spark driver while no task runs, so
    they are part of the idle time."""
    if workload == "anonymize":
        return {"shuffle_write_mb_per_op": round(m["spark.shuffle_write_mb"], 4),
                "no_shuffle": m["spark.shuffle_write_mb"] < 1.0}
    if workload == "board":
        share = {k: round(m[f"spark.{k}_s"] / wall_per_op, 3)
                 for k in ("planning", "codegen_compile", "idle")}
        return {**{f"{k}_share": v for k, v in share.items()},
                "overhead_bound": share["idle"] > 0.5}
    return {"shuffle_write_mb_per_op": round(m["spark.shuffle_write_mb"], 4),
            "shuffles": m["spark.shuffle_write_mb"] > 0.0}


def clean(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else sys.float_info.max


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one output before the checks (self-test)")
    ap.add_argument("--digest", action="store_true",
                    help="only generate the inputs and print their digests")
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    try:
        build_dir = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S
    work = os.path.join(root, build.BUILD_DIR, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(build_dir, args, work, os.path.join(work, "result.json"),
                      deadline)
        if args.digest:
            print(json.dumps(res["digests"], sort_keys=True))
            return 0
        if args.workload == "board":
            board_oracle(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics, detail = summarize(res, args.trace == 1)
    detail["wall_s"] = round(time.time() - started, 1)
    units = {k: u for k, u, _ in (PER_LAYER if args.trace else END_TO_END)}
    if args.trace:
        tdir = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"),
                  "w") as fh:
            json.dump({"detail": detail, "metrics": metrics,
                       "spans": res["spans"]}, fh, indent=1)
    attempted = len(res["samples"])
    failed = sum(1 for s in res["samples"] if s["error"])
    warm_failed = any(s["error"] for s in res["warmup"])
    print(json.dumps(detail, sort_keys=True, default=clean))
    print(json.dumps({
        "correct": failed == 0 and not warm_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": clean(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 1 if failed or warm_failed else 0


if __name__ == "__main__":
    sys.exit(main())
