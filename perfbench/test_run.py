#!/usr/bin/env python3
"""Smoke tests of the benchmark. Each runs a workload at its smoke size
(tiny WAL, one setup) and checks that the run passes the oracle gate and
prints every metric BENCHMARK.json names, with its unit.

    python3 -m unittest perfbench/test_run.py      # from the checkout root

Each case starts its own JVM, so expect about a minute per case.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class CoverageCheck(unittest.TestCase):

    def test_flags_uncovered_batches(self):
        # synthetic batches: a covered query, a gap between batches, a hole
        # in maintenance, an apply job past onBatch; only the faulty flagged
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selfcheck"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-4000:])
        lines = p.stdout.strip().splitlines()
        self.assertEqual(len(lines), 4, lines)
        self.assertIn("covered: no batch flagged", lines[0])
        self.assertIn("batch 1 flagged (50.0 ms gap", lines[1])
        for line in lines[1:]:
            self.assertNotIn("expected", line)


class Smoke(unittest.TestCase):

    def check(self, result, metrics):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], "oracle check failed")
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in metrics})
        for m in metrics:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_end_to_end(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = smoke(w["name"], 0)
                self.check(r, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = smoke(w["name"], 1)
                self.check(r, SPEC["per_layer"])
                # every batch's time is accounted for (see Coverage in Trace.scala)
                self.assertEqual(r["metrics"]["trace.batches_uncovered"]["value"], 0)
                out = os.path.join(ROOT, ".perfbench", "out", f"{w['name']}-seed5")
                with open(os.path.join(out, "layers.txt")) as f:
                    self.assertIn("coverage check: ok", f.read())
                with open(os.path.join(out, "spans.jsonl")) as f:
                    spans = [json.loads(line) for line in f]
                names = {s["name"].split(" ")[0] for s in spans}
                self.assertTrue({"batch", "apply", "maintenance", "job", "lookup", "scan",
                                 "changes"} <= names, names)


if __name__ == "__main__":
    unittest.main()
