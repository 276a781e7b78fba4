#!/usr/bin/env python3
"""The correctness gate must fail a run whose stored result is wrong.

    python3 pipebench/test_gate.py

For each workload this runs the benchmark briefly with `--corrupt 1`, which
changes one stored close price through the engine after the last day, and
expects the run to exit nonzero and report `correct: false`. Each run takes
well under a minute once the build exists.
"""

import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402


def run(workload, corrupt):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", "0",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-1]) if lines else None


class GateTest(unittest.TestCase):
    def test_corrupted_result_fails_the_gate(self):
        for workload in sorted(gen.WORKLOADS):
            with self.subTest(workload=workload):
                code, result = run(workload, corrupt=1)
                self.assertNotEqual(code, 0)
                self.assertIsNotNone(result)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)

    def test_clean_run_passes_the_gate(self):
        code, result = run("dag_daily", corrupt=0)
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
