"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark first (perfbench/build.py) and need a JDK and the
Spark jars, like the benchmark.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main_class(*args):
    tmp = os.path.join(build.BUILD, "test-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = run.java_cmd(build.ensure_built(), list(args), tmp)
    return subprocess.run(cmd, cwd=build.ROOT, capture_output=True, text=True, timeout=600)


class GeneratorTest(unittest.TestCase):

    def test_selftest(self):
        """Same seed, same bytes; another seed, other bytes; truth right by
        brute force on two tiny corpora."""
        p = main_class("selftest")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertNotIn("FAIL", p.stdout)
        self.assertEqual(p.stdout.count("SELFTEST ok"), 5, p.stdout)


class MetricNamesTest(unittest.TestCase):

    def test_names_match_benchmark_json(self):
        """Workloads and metric names emitted by the JVM are BENCHMARK.json's."""
        p = main_class("metric-names")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        emitted = json.loads(p.stdout.strip().splitlines()[-1])
        spec = load_spec()
        self.assertEqual(emitted["workloads"], [w["name"] for w in spec["workloads"]])
        self.assertEqual(emitted["end_to_end"], [m["name"] for m in spec["end_to_end"]])
        self.assertEqual(emitted["per_layer"], [m["name"] for m in spec["per_layer"]])


class ContractTest(unittest.TestCase):

    def test_benchmark_json_shape(self):
        spec = load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(spec["command"][:2], ["python3", "perfbench/run.py"])
        self.assertEqual(spec["paths"], ["perfbench"])
        self.assertTrue(1 <= spec["run_seconds"] <= 60)
        self.assertTrue(2 <= len(spec["workloads"]) <= 8)
        names = []
        for w in spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            names.append(w["name"])
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
            names.append(m["name"])
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            names.append(m["name"])
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_refuses_without_engine_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        benchmark exits non-zero without printing a result."""
        bare = os.path.join(build.BUILD, "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(build.HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bulk-mixed",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
