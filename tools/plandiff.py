#!/usr/bin/env python3
"""Compare two graft.Diag plan dumps, query by query.

graft.Diag writes one formatted plan per query, <outDir>/<query>_<suffix>.txt.
This tool pairs the plans of two dumps, normalizes the tokens that change
from run to run of the same code (expression ids `#12`, generated names
`x_34`, `plan_id=5`, RDD ids `RDD[77]`, JVM lambda classes and identity
hashes `$$Lambda$12/0x7f..@1a2b`, `@16fe8b5f`, and the application id in
temp paths `local-1792290122337`) and prints the changed lines of the
rest. It exits 1 on any differing plan or on a plan present in one dump
only, else 0. Compare dumps taken with the same SPARK_GRAFT_CPUS and
driver heap: the heap sets the memory page size that broadcast stages
report. One difference is not normalized: Spark's rewrite of several
DISTINCT aggregates orders its Expand groups by expression-id hashes, so
such a query (q_agg_distinct, q_golden_record, q_profile) can differ
between two runs of the same code; check it against a second baseline
run.

Usage:
  tools/plandiff.py <dirA> <dirB>                 pair files by name
  tools/plandiff.py <dirA> <dirB> --suffix a,b    pair <q>_a.txt with <q>_b.txt
                                                  (dirA may equal dirB)
  tools/plandiff.py --selftest                    check itself on plans/r18
"""
import difflib
import os
import re
import sys

VOLATILE = [(re.compile(p), r) for p, r in (
    (r"#\d+", "#N"), (r"x_\d+", "x_N"), (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"), (r"\$\$Lambda\$\d+/0x[0-9a-f]+", "$$Lambda"),
    (r"@[0-9a-f]{4,}\b", "@H"), (r"local-\d+", "local-N"))]


def normalize(text):
    for pat, repl in VOLATILE:
        text = pat.sub(repl, text)
    return text.splitlines()


def diff(path_a, path_b):
    """The normalized diff's changed lines (+/-, no headers)."""
    with open(path_a) as fa, open(path_b) as fb:
        a, b = normalize(fa.read()), normalize(fb.read())
    return [l for l in difflib.unified_diff(a, b, lineterm="", n=0)
            if l[:1] in "+-" and not l.startswith(("+++", "---"))]


def plans(d, suffix):
    """query key -> path, for the plan files of one dump."""
    end = f"_{suffix}.txt" if suffix else ".txt"
    return {f[:-len(end)] if suffix else f: os.path.join(d, f)
            for f in sorted(os.listdir(d)) if f.endswith(end)}


def compare(dir_a, dir_b, suffixes=(None, None), out=print):
    """Prints each differing query's changed lines, each one-sided query
    and a summary; returns ({query: changed line count}, any difference)."""
    a, b = plans(dir_a, suffixes[0]), plans(dir_b, suffixes[1])
    counts = {}
    for q in sorted(a.keys() & b.keys()):
        lines = diff(a[q], b[q])
        counts[q] = len(lines)
        if lines:
            out(f"DIFF {q}: {len(lines)} lines")
            for l in lines:
                out("  " + l)
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    for q in only_a:
        out(f"ONLY {dir_a}: {q}")
    for q in only_b:
        out(f"ONLY {dir_b}: {q}")
    n_diff = sum(1 for n in counts.values() if n)
    out(f"plandiff: {n_diff} of {len(counts)} paired queries differ, "
        f"{len(only_a)} only in A, {len(only_b)} only in B")
    return counts, bool(n_diff or only_a or only_b)


def selftest():
    """The committed round-18 before/after pairs: two plans the round left
    unchanged (modulo ids) and two it changed, with known diff sizes."""
    r18 = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "plans", "r18")
    counts, _ = compare(r18, r18, ("before", "after"), out=lambda _: None)
    want = {"q_pq_search": 0, "q_ivf_pq_search": 0,
            "q_sq8_search": 4, "q_opq_balance": 16}
    got = {q: counts.get(q) for q in want}
    print(f"selftest: {got}")
    return 0 if got == want else 1


def main(argv):
    if argv == ["--selftest"]:
        return selftest()
    suffixes = (None, None)
    if "--suffix" in argv:
        i = argv.index("--suffix")
        suffixes = tuple(argv[i + 1].split(","))
        del argv[i:i + 2]
    if len(argv) != 2 or len(suffixes) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    _, differs = compare(argv[0], argv[1], suffixes)
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
