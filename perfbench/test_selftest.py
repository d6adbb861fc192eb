"""Self-test: a deliberately failing op is counted as failed, never timed.

Runs `run.py --workload selftest` (q01 plus an op whose builder always
throws) from the checkout root, so it builds the engine on first use:
  python3 -m unittest perfbench.test_selftest   (from the checkout root)
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FailingOpTest(unittest.TestCase):
    def test_failing_op_is_counted_not_timed(self):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "selftest",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        rec = json.load(open(os.path.join(
            ROOT, ".bench_build/runs/selftest-s1-t0/result.json")))
        self.assertEqual(rec["failing_queries"], ["selftest_fail"])
        self.assertIn("FAILED queries: selftest_fail", p.stderr)
        # two warmup passes plus at least three timed passes, every execution
        # thrown and counted
        thrown = [f for f in rec["failures"] if f["name"] == "selftest_fail"]
        self.assertGreaterEqual(len(thrown), 5)
        self.assertEqual(last["failed"], len(thrown))
        # q01 is timed; the failing op contributes no latency sample
        report = json.load(open(os.path.join(
            ROOT, ".bench_build/runs/selftest-s1-t0/report.json")))
        self.assertTrue(report["ops"])
        self.assertTrue(all(o["name"] == "q01_pricing_summary" for o in report["ops"]))
        self.assertEqual(rec["samples"]["query_executions"], len(report["ops"]))
        self.assertEqual(last["attempted"], len(report["ops"]) + 2 + len(thrown))


if __name__ == "__main__":
    unittest.main()
