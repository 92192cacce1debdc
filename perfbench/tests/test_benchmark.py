"""Self-tests that need the benchmark's files or its JVM. Run from the
repository root (the JVM tests build the engine first and take a few
minutes):

    python3 -m unittest discover -s perfbench/tests -p 'test_*.py'
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


class DeclarationTest(unittest.TestCase):
    """BENCHMARK.json, workloads.json and run.py name the same things."""

    def setUp(self):
        self.bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]

    def test_metrics_match_run_py(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], run.PER_LAYER)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(self.workloads))

    def test_every_key_has_an_expected_fingerprint(self):
        expected = json.loads((HERE / "expected.json").read_text())["fingerprints"]
        for w in self.workloads.values():
            for k in w["keys"]:
                self.assertIn(k, expected)


def run_workload(name):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", name,
                          "--seed", "1", "--seconds", "1", "--trace", "1"],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class JvmTest(unittest.TestCase):
    def test_fingerprint_normalisation(self):
        cp = build.build()
        _, _, add_opens = build.sbt_settings()
        out = subprocess.run(["java", "-Xmx1g", *add_opens, "-cp", cp, "perfbench.Main", "selftest"],
                             capture_output=True, text=True, check=True).stdout
        self.assertEqual(json.loads(out.strip().splitlines()[-1]), {"failures": []})

    def test_workloads_sit_on_both_sides_of_the_codegen_cache(self):
        """harmonize's generated classes fit Spark's 100-entry codegen
        cache, etl_star's do not: in steady passes the first compiles
        nothing, the second keeps recompiling."""
        harmonize = run_workload("harmonize")
        etl = run_workload("etl_star")
        self.assertTrue(harmonize["correct"] and etl["correct"])
        self.assertEqual(harmonize["metrics"]["codegen.compiles"]["value"], 0)
        self.assertGreater(etl["metrics"]["codegen.compiles"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
