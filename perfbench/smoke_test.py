#!/usr/bin/env python3
"""Smoke test of the benchmark itself (a few minutes; not part of the
engine's test suite).

    python3 perfbench/smoke_test.py

Runs every workload for one second, untraced and traced, and checks that
each metric BENCHMARK.json declares is printed with its unit, that the
outputs check clean, and that the traced run passes its layer-separation
self-check. A negative control runs llm_ops against a corrupted pipeline
fingerprint and expects the failure to be counted.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n"
                             + p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_is_printed_with_its_unit(self):
        for w in (w["name"] for w in DECLARED["workloads"]):
            for trace, declared in ((0, DECLARED["end_to_end"]),
                                    (1, DECLARED["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    r = run(w, trace)
                    self.check_metrics(r, declared)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    if trace == 0:
                        for m in r["metrics"].values():
                            self.assertGreater(m["value"], 0)

    def test_corrupted_fingerprint_counts_as_failed(self):
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            fps = json.load(f)
        key = sorted(fps)[0]
        fps[key] = "0" * 64
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        bad = os.path.join(HERE, ".work", "corrupt-fingerprints.json")
        with open(bad, "w") as f:
            json.dump(fps, f)
        r = run("llm_ops", 0, "--fingerprints", bad)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
