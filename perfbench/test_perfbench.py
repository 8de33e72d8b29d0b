"""Tests of the benchmark itself.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests build the harness if needed and run both workloads on tiny
inputs through the whole harness, traced run included; set
PERFBENCH_SKIP_SMOKE=1 to run only the fast tests.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(s["command"][:2], ["python3", "perfbench/run.py"])
        self.assertTrue(all(os.path.isdir(os.path.join(ROOT, p)) for p in s["paths"]))
        self.assertIsInstance(s["run_seconds"], int)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]] \
            + [m["name"] for m in s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_no_sources_exits_nonzero(self):
        """Next to BENCHMARK.json and perfbench alone, run.py must fail fast."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "suite",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


class DiffTest(unittest.TestCase):
    def record(self, d, name, **stamp):
        base = {"workload": "suite", "seed": 1, "nproc": 4, "commit": "a"}
        base.update(stamp)
        path = os.path.join(d, name)
        with open(path, "w") as fh:
            json.dump({"stamp": base, "end_to_end": {"wall_s": 1.0},
                       "per_layer": {}, "query_s": {"q1": {"median": 0.5}}}, fh)
        return path

    def run_diff(self, a, b):
        return subprocess.run([sys.executable, os.path.join(BENCH, "diff.py"), a, b],
                              capture_output=True, text=True, timeout=60)

    def test_commit_may_differ(self):
        with tempfile.TemporaryDirectory() as d:
            r = self.run_diff(self.record(d, "a.json"), self.record(d, "b.json", commit="b"))
            self.assertEqual(r.returncode, 0, r.stderr)
            self.assertIn("wall_s", r.stdout)

    def test_other_stamp_fields_refuse(self):
        with tempfile.TemporaryDirectory() as d:
            r = self.run_diff(self.record(d, "a.json"), self.record(d, "b.json", nproc=8))
            self.assertEqual(r.returncode, 2)
            self.assertIn("nproc", r.stderr)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_tables.generate(os.path.join(d, "a"), 0.0005, 7)
            gen_tables.generate(os.path.join(d, "b"), 0.0005, 7)
            for t in ("lineitem", "events", "documents", "embeddings"):
                a = pq.read_table(os.path.join(d, "a", f"{t}.parquet"))
                b = pq.read_table(os.path.join(d, "b", f"{t}.parquet"))
                self.assertTrue(a.equals(b), t)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1", "smoke tests skipped")
class SmokeTest(unittest.TestCase):
    """Both workloads on tiny inputs, untraced and traced."""

    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def check(self, workload, trace):
        res = self.run_bench(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return res

    def test_suite(self):
        self.check("suite", 0)
        self.check("suite", 1)

    def test_neardup(self):
        self.check("neardup", 0)
        res = self.check("neardup", 1)
        self.assertGreater(res["metrics"]["cand.yield"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
