#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

For each workload, one run plants a wrong output in its first timed op
(`--plant-wrong 1`). That op must be counted as failed and left out of the
timings, and the run must report itself incorrect while still timing the
op that passed after it.

Run from the root of a source checkout:
    python3 perfbench/tests/test_failure_accounting.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parents[1] / "run.py"
ROOT = RUN.parents[1]
WORKLOADS = ("monitor_loop", "corpus_curation", "report_family", "snapshot_report")


def run(workload, *extra):
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "0", *extra],
                       capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        raise AssertionError(f"{workload} run exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class FailureAccounting(unittest.TestCase):
    def test_planted_wrong_output_is_counted_as_failed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, "--plant-wrong", "1")
                self.assertFalse(r["correct"])
                self.assertEqual(r["failed"], 1)
                # the planted op, then at least one timed op that passed:
                # without one the run would have no timings to report
                self.assertGreaterEqual(r["attempted"], 2)
                self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
