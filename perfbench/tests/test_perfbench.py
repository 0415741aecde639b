"""The benchmark's own tests: every workload at tiny scale, and a fault
run per workload whose perturbed check must fail.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout; the first test builds.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
WORKLOADS = ("crawl", "analytics")


def run(workload, *extra, trace=0):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class TinyScale(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_every_workload_runs_its_checks_and_passes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, _ = run(w)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(res["failed"], 0)
                self.assertEqual(list(res["metrics"]),
                                 [m["name"] for m in self.spec["end_to_end"]])
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced_run_reports_every_layer_metric_and_its_spans(self):
        res, out = run("crawl", trace=1)
        self.assertTrue(res["correct"])
        self.assertEqual(list(res["metrics"]), [m["name"] for m in self.spec["per_layer"]])
        self.assertGreater(res["metrics"]["engine.init_s"]["value"], 0)
        self.assertGreater(res["metrics"]["api.first_event_s"]["value"], 0)
        self.assertGreater(res["metrics"]["api.stages"]["value"], 0)
        self.assertIn("[spans] api.drain", out)


class Faults(unittest.TestCase):
    def test_a_perturbed_result_or_digest_fails_the_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, out = run(w, "--fault")
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)
                self.assertIn("[check] FAILED", out)


if __name__ == "__main__":
    unittest.main()
