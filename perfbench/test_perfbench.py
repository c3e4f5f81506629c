"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The generator tests take seconds. The metric and span tests run the
benchmark command once per workload, untraced and traced, for one
second of measuring each (a few minutes in all, one build first).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _hash(fn, seed, size):
    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        fn(d, seed, size)
        return gen.content_hash(d)


class GeneratorTest(unittest.TestCase):
    def test_tables_are_a_pure_function_of_seed_and_size(self):
        a = _hash(gen.tables, 7, 0.001)
        self.assertEqual(a, _hash(gen.tables, 7, 0.001))
        self.assertNotEqual(a, _hash(gen.tables, 8, 0.001))
        self.assertNotEqual(a, _hash(gen.tables, 7, 0.002))

    def test_crossref_is_a_pure_function_of_seed_and_size(self):
        a = _hash(gen.crossref, 7, 200)
        self.assertEqual(a, _hash(gen.crossref, 7, 200))
        self.assertNotEqual(a, _hash(gen.crossref, 8, 200))
        self.assertNotEqual(a, _hash(gen.crossref, 7, 300))

    def test_night_fits_the_scaled_churn_ceiling(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        for seed in (1, 2, 3):
            with tempfile.TemporaryDirectory(dir=scratch) as d:
                gen.crossref(d, seed, 300)
                with open(os.path.join(d, "truth.json")) as f:
                    truth = json.load(f)
            self.assertLessEqual(truth["works"], truth["churn_ceiling"])
            self.assertGreater(truth["adopted_works"], 0.85 * truth["works"])


def _run(workload, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}:\n"
                             f"{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


class RunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.declared = json.load(f)

    def test_every_metric_emitted_and_self_time_within_wall(self):
        for w in self.declared["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    result, lines = _run(w["name"], trace)
                    self.assertTrue(result["correct"], lines)
                    self.assertGreaterEqual(result["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in self.declared[section]}
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(want, got)
                    for name, unit in want.items():
                        self.assertIn(f"{name} ", "\n".join(lines))
                    if section == "end_to_end":
                        for name, v in result["metrics"].items():
                            self.assertGreater(v["value"], 0, name)
                    else:
                        extra = dict(l.split(" ", 1) for l in lines if l.startswith("trace."))
                        self_s = float(extra["trace.layer_self_s"])
                        wall = float(extra["trace.run_wall_s"])
                        self.assertGreater(self_s, 0)
                        self.assertLessEqual(self_s, wall)


if __name__ == "__main__":
    unittest.main()
