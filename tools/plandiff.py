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
report. Spark's rewrite of several DISTINCT aggregates orders its Expand
groups by expression-id hashes, so such a query (q_agg_distinct,
q_golden_record, q_profile) would differ between two runs of the same
code; the tool puts that Expand into a canonical order first (distinct
groups sorted by column name, their `gid` numbers renumbered to match,
and the same reordering applied to the lists after the Expand), so only
a real plan change shows.

With --oracles it compares two graft.Verify `oracle_sql.json` dumps
instead: oracles pair by query key, and each SQL text is compared after
every whitespace run that contains a line break becomes one space (so a
re-indented or re-wrapped fragment is no difference, while a change
inside a one-line literal such as `' '`, or a `null` spliced in by an
uninitialized value, is).

Usage:
  tools/plandiff.py <dirA> <dirB>                 pair files by name
  tools/plandiff.py <dirA> <dirB> --suffix a,b    pair <q>_a.txt with <q>_b.txt
                                                  (dirA may equal dirB)
  tools/plandiff.py --oracles <a.json> <b.json>   compare two oracle dumps
  tools/plandiff.py --selftest                    check itself on plans/r17,
                                                  r18 and on oracle cases
"""
import difflib
import json
import os
import re
import sys

VOLATILE = [(re.compile(p), r) for p, r in (
    (r"#\d+", "#N"), (r"x_\d+", "x_N"), (r"(lambda [A-Za-z]+)_\d+", r"\1_N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"), (r"\$\$Lambda\$\d+/0x[0-9a-f]+", "$$Lambda"),
    (r"@[0-9a-f]{4,}\b", "@H"), (r"local-\d+", "local-N"))]


def normalize(text):
    for pat, repl in VOLATILE:
        text = pat.sub(repl, text)
    return canonical_expand(text.splitlines())


def split_items(s):
    """Top-level comma-separated items of `s` (brackets and parentheses
    nest)."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


GID = "gid#N"
GID_TEST = re.compile(r"gid#N = (\d+)")


def distinct_expand(line):
    """For the Arguments line of a distinct-aggregate Expand (projections
    plus an output list holding `gid`), returns (projections, output, gid
    position, distinct-column positions), else None."""
    if not line.startswith("Arguments: [["):
        return None
    top = split_items(line[len("Arguments: "):])
    if len(top) != 2:
        return None
    projs = [split_items(p[1:-1]) for p in split_items(top[0][1:-1])]
    out = split_items(top[1][1:-1])
    if GID not in out or any(len(p) != len(out) for p in projs):
        return None
    g = out.index(GID)
    if not all(p[g].isdigit() for p in projs):
        return None
    cols = [i for i in range(g) if any(p[i] == "null" for p in projs)]
    return projs, out, g, cols


def canonical_expand(lines):
    """Puts each distinct-aggregate Expand into one canonical order: its
    distinct groups sorted by their column names, the `gid` literals
    renumbered to that order, and the run of distinct columns reordered the
    same way on the Expand line and on every later list that carries gid."""
    found = {n: e for n, e in ((n, distinct_expand(l))
                               for n, l in enumerate(lines)) if e}
    for n, (projs, out, g, cols) in found.items():
        group = {}  # distinct column position -> the gid that selects it
        for p in projs:
            for i in cols:
                if p[i] != "null":
                    group[i] = int(p[g])
        names = {}
        for i in cols:
            names.setdefault(group.get(i, 0), []).append(out[i])
        old_gids = sorted(names)
        order = sorted(old_gids, key=lambda v: sorted(names[v]))
        renum = dict(zip(order, old_gids))
        perm = sorted(cols, key=lambda i: (order.index(group.get(i, 0)),
                                           out[i], i))

        def permute(items):
            return [items[perm[cols.index(i)]] if i in cols else item
                    for i, item in enumerate(items)]

        new_projs = []
        for p in projs:
            q = permute(p)
            q[g] = str(renum.get(int(p[g]), int(p[g])))
            new_projs.append(q)
        new_projs.sort(key=lambda q: int(q[g]))
        lines[n] = "Arguments: [%s], [%s]" % (
            ", ".join("[" + ", ".join(q) + "]" for q in new_projs),
            ", ".join(permute(out)))
        # the same run of columns on the later lists (Input, Keys, Results,
        # hashpartitioning, sort orders), suffixes such as " ASC NULLS
        # FIRST" travelling with their column
        run = re.compile(r"(?<=[\[(, ])" + ", ".join(
            re.escape(out[i]) + r"((?: [A-Z][A-Z ]*)?)" for i in cols)
            + r"(?=[,\])])")
        new_run = [cols.index(i) for i in perm]

        def reorder(m):
            return ", ".join(out[cols[k]] + m.group(k + 1) for k in new_run)
        for k in range(n + 1, len(lines)):
            if GID in lines[k] and k not in found:
                lines[k] = run.sub(reorder, lines[k], count=1)
        if len(found) == 1:  # several Expands may number their gids alike
            lines[:] = [GID_TEST.sub(
                lambda m: "gid#N = %d" % renum.get(int(m.group(1)),
                                                   int(m.group(1))), l)
                if GID in l and k != n else l
                for k, l in enumerate(lines)]
    return lines


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


LINE_BREAK_RUN = re.compile(r"\s*\n\s*")


def oracle_text(sql):
    """An oracle's SQL with every whitespace run holding a line break made
    one space; whitespace within a line is kept."""
    return LINE_BREAK_RUN.sub(" ", sql)


def compare_oracles(a, b, out=print):
    """Prints each differing key (with the first point of difference) and
    each one-sided key; returns (differing count, any difference)."""
    n_diff = 0
    for k in sorted(a.keys() & b.keys()):
        x, y = oracle_text(a[k]), oracle_text(b[k])
        if x != y:
            n_diff += 1
            i = next((i for i, (p, q) in enumerate(zip(x, y)) if p != q),
                     min(len(x), len(y)))
            out(f"DIFF {k} at char {i}:")
            out(f"  - {x[max(0, i - 40):i + 40]!r}")
            out(f"  + {y[max(0, i - 40):i + 40]!r}")
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    for k in only_a:
        out(f"ONLY A: {k}")
    for k in only_b:
        out(f"ONLY B: {k}")
    out(f"plandiff --oracles: {n_diff} of {len(a.keys() & b.keys())} paired "
        f"oracles differ, {len(only_a)} only in A, {len(only_b)} only in B")
    return n_diff, bool(n_diff or only_a or only_b)


def oracle_selftest():
    """A re-indented, re-wrapped fragment is no difference; a `null`
    splice, a changed one-line literal and a one-sided key are."""
    base = {"q": "WITH c AS (\n    SELECT ' ' AS s, 1 AS k)\n"
                 "  SELECT * FROM c ORDER BY k"}
    cases = [
        ("re-indented", {"q": "WITH c AS (\n SELECT ' ' AS s,\n"
                              "        1 AS k)\nSELECT * FROM c ORDER BY k"},
         (0, False)),
        ("null splice", {"q": "WITH null,\n    SELECT ' ' AS s, 1 AS k)\n"
                              "  SELECT * FROM c ORDER BY k"}, (1, True)),
        ("literal", {"q": base["q"].replace("' '", "'  '")}, (1, True)),
        ("one-sided", dict(base, q2="SELECT 1"), (0, True)),
    ]
    ok = True
    for name, other, want in cases:
        got = compare_oracles(base, other, out=lambda _: None)
        print(f"selftest oracles {name}: {got}")
        ok = ok and got == want
    return ok


def selftest():
    """The committed round-18 before/after pairs: two plans the round left
    unchanged (modulo ids) and two it changed, with known diff sizes. And
    two round-17 pairs whose distinct-aggregate Expands came out in
    different orders: q_profile differs in nothing else, q_golden_record
    only in one localCheckpoint source line."""
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "..", "plans")
    want = {"r18": {"q_pq_search": 0, "q_ivf_pq_search": 0,
                    "q_sq8_search": 2, "q_opq_balance": 16},
            "r17": {"q_profile": 0, "q_golden_record": 2}}
    ok = True
    for rnd, cases in want.items():
        d = os.path.join(plans_dir, rnd)
        counts, _ = compare(d, d, ("before", "after"), out=lambda _: None)
        got = {q: counts.get(q) for q in cases}
        print(f"selftest {rnd}: {got}")
        ok = ok and got == cases
    ok = oracle_selftest() and ok
    return 0 if ok else 1


def main(argv):
    if argv == ["--selftest"]:
        return selftest()
    if argv[:1] == ["--oracles"] and len(argv) == 3:
        with open(argv[1]) as fa, open(argv[2]) as fb:
            _, differs = compare_oracles(json.load(fa), json.load(fb))
        return 1 if differs else 0
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
