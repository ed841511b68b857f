#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py            # every workload
    python3 perfbench/selftest.py board      # one workload

For each workload: the same seed gives the same input digest, another seed
a different one, and a run whose output is deliberately corrupted
(--plant-fault) is reported as failed with a nonzero exit. Also checks that
BENCHMARK.json lists exactly the metrics run.py prints, and that the
benchmark fails without a result line where the program's sources are
missing.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()
SELECTED = [a for a in sys.argv[1:] if a in run.WORKLOADS] or list(run.WORKLOADS)


def bench(*args, cwd=ROOT):
    return subprocess.run(
        ["python3", os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400)


class Digests(unittest.TestCase):
    def digest(self, workload, seed):
        p = bench("--workload", workload, "--seed", str(seed),
                  "--seconds", "1", "--digest")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_seed_determines_inputs(self):
        for w in SELECTED:
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 1), self.digest(w, 1), self.digest(w, 2)
                self.assertEqual(a, b, "same seed, different inputs")
                # region and nation are fixed dimension tables
                for table in set(a) - {"region", "nation"}:
                    self.assertNotEqual(a[table], c[table],
                                        f"{table}: seed does not change it")


class PlantedFault(unittest.TestCase):
    def test_corrupted_output_fails(self):
        for w in SELECTED:
            with self.subTest(workload=w):
                p = bench("--workload", w, "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--plant-fault")
                self.assertEqual(p.returncode, 1, p.stderr[-2000:])
                last = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertFalse(last["correct"])


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS[:len(spec["workloads"])]))

    def test_fails_without_program_sources(self):
        bare = os.path.join(ROOT, build.BUILD_DIR, "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            p = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", run.WORKLOADS[0],
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0]])
