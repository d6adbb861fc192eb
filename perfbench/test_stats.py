"""Tests of the benchmark's pure helpers: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from analyze import end_to_end, per_layer, trace_overhead  # noqa: E402
from stats import (clip, count_failures, percentile, self_time,  # noqa: E402
                   spread, union_length)


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(percentile(xs, 0.5)[0], 3)
        self.assertEqual(percentile(xs, 1.0)[0], 5)
        self.assertAlmostEqual(percentile([1, 2, 3, 4], 0.5)[0], 2.5)
        self.assertAlmostEqual(percentile(range(11), 0.9)[0], 9.0)
        self.assertEqual(percentile([7], 0.9)[0], 7)

    def test_ten_beyond_rule_needs_about_a_hundred_samples_for_p90(self):
        value, beyond, met = percentile(range(1, 101), 0.9)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual((beyond, met), (10, True))
        value, beyond, met = percentile(range(1, 91), 0.9)
        self.assertEqual((beyond, met), (9, False))

    def test_rule_for_the_median(self):
        self.assertTrue(percentile(range(20), 0.5)[2])
        self.assertFalse(percentile(range(19), 0.5)[2])

    def test_empty(self):
        self.assertEqual(percentile([], 0.5), (None, 0, False))


class SpanTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(3, 3), (4, 2)]), 0)

    def test_clip_keeps_the_part_inside(self):
        self.assertEqual(clip([(0, 5), (8, 12), (20, 30)], (2, 10)),
                         [(2, 5), (8, 10)])

    def test_driver_gap_is_wall_minus_union_of_job_spans(self):
        op = (100, 200)
        jobs = [(110, 140), (130, 150), (190, 260)]   # last one runs past the op
        self.assertEqual(self_time(op, jobs), 100 - (40 + 10))

    def test_self_time_without_children_is_the_span(self):
        self.assertEqual(self_time((3, 9), []), 6)
        self.assertEqual(self_time((3, 9), [(0, 20)]), 0)


class FailureTest(unittest.TestCase):
    def test_thrown_executions_count_and_yield_no_time(self):
        attempted, failed, names = count_failures(
            {"q1": 3, "bad": 0}, ["bad", "bad", "bad"], [])
        self.assertEqual((attempted, failed, names), (6, 3, ["bad"]))

    def test_oracle_failure_fails_every_execution_of_the_query(self):
        attempted, failed, names = count_failures({"q1": 3, "q2": 3}, [], ["q2"])
        self.assertEqual((attempted, failed, names), (6, 3, ["q2"]))

    def test_clean_run(self):
        self.assertEqual(count_failures({"q1": 4}, [], []), (4, 0, []))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quartiles(self):
        self.assertAlmostEqual(spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


def _report():
    """Pass 1 traced (two ops), passes 0 and 2 plain, with jobs and stages."""
    stage_cols = ["id", "attempt", "tasks", "submit_ms", "end_ms", "run_ms",
                  "cpu_ns", "gc_ms", "spill_bytes", "in_bytes", "in_rows",
                  "out_bytes", "out_rows", "sh_write_bytes", "sh_write_rows",
                  "sh_read_bytes", "sh_read_rows", "fetch_wait_ms",
                  "sched_delay_ms"]
    return {
        "process_start_ms": 0, "first_op_ms": 5000, "session_s": 1.0,
        "register_s": 0.5, "warmup_s": 3.0, "quiesce_s": 0.2,
        "jit_setup_s": 2.0, "live_heap_bytes": 3 * 2**20,
        "ops": [
            {"name": "a", "pass": 0, "traced": False, "start_ms": 500,
             "build_ns": 100e6, "plan_ns": 0, "sink_ns": 200e6, "files": 0},
            # op a: build 100 ms (a job inside), sink 300 ms (job 1100-1300)
            {"name": "a", "pass": 1, "traced": True, "start_ms": 1000,
             "build_ns": 100e6, "plan_ns": 0, "sink_ns": 300e6, "files": 2},
            {"name": "b", "pass": 1, "traced": True, "start_ms": 2000,
             "build_ns": 50e6, "plan_ns": 50e6, "sink_ns": 100e6, "files": 1},
        ],
        "passes": [
            {"index": 0, "traced": False, "wall_ns": 0.7e9, "cpu_ns": 1e9,
             "gc_ms": 30},
            {"index": 1, "traced": True, "wall_ns": 1.0e9, "cpu_ns": 2e9,
             "gc_ms": 10},
            {"index": 2, "traced": False, "wall_ns": 0.9e9, "cpu_ns": 1e9,
             "gc_ms": 20},
        ],
        "jobs": [[0, 1020, 1080], [1, 1100, 1300], [2, 600, 700]],
        "stage_cols": stage_cols,
        "stages": [
            [0, 0, 4, 1020, 1080, 200, 1e8, 5, 0, 100, 10, 0, 0, 0, 0, 0, 0, 0, 4],
            [1, 0, 1, 1100, 1300, 200, 2e8, 0, 0, 0, 0, 50, 5, 30, 3, 30, 3, 1, 2],
        ],
        "sql": [{"start_ms": 1100, "exchanges": 1, "broadcasts": 0, "codegen": 2}],
        "batches": [],
    }


class AnalyzeTest(unittest.TestCase):
    def test_end_to_end_uses_only_passing_queries(self):
        m, samples = end_to_end(_report(), {"a"})
        self.assertEqual(samples["query_executions"], 2)
        self.assertAlmostEqual(m["setup_s"][0], 5.0)
        self.assertAlmostEqual(m["pass_s"][0], 0.9)
        self.assertAlmostEqual(m["query_p50_s"][0], 0.35)
        self.assertAlmostEqual(m["cpu_s"][0], 1.0)
        self.assertAlmostEqual(m["live_heap_mb"][0], 3.0)

    def test_per_layer_attribution_by_op_window(self):
        m, samples = per_layer(_report(), {"a": "dedup", "b": "text"}, cores=4)
        self.assertEqual(samples["traced_passes"], 1)
        self.assertEqual(m["exec.jobs"][0], 2)
        self.assertEqual(m["queries.build_jobs"][0], 1)
        self.assertEqual(m["exec.single_task_stage_s"][0], 0.2)
        # op a: 400 ms wall, jobs cover 60 + 200 ms; op b: 200 ms, no jobs
        self.assertAlmostEqual(m["exec.driver_gap_s"][0], 0.14 + 0.2)
        self.assertAlmostEqual(m["exec.slot_busy_ratio"][0], 0.4 / (0.26 * 4))
        # op a's commit is the 100 ms after its last job; op b's sink ran
        # no job, so none of it counts as a commit
        self.assertAlmostEqual(m["sources.write_s"][0], 0.1)
        self.assertEqual(m["sources.output_files"][0], 3)
        # the traced pass minus the mean of its two plain neighbours
        self.assertAlmostEqual(m["trace.overhead_s"][0], 1.0 - (0.7 + 0.9) / 2)
        self.assertFalse(samples["trace_overhead_below_noise"])
        self.assertAlmostEqual(m["module.dedup.op_s"][0], (0.3 + 0.4) / 3)

    def test_trace_overhead_cancels_a_steady_ramp(self):
        # passes getting 0.5 s faster each time; tracing costs 0.1 s
        ramp = [(False, 4.0), (True, 3.6), (False, 3.0), (True, 2.6), (False, 2.0)]
        self.assertAlmostEqual(trace_overhead(ramp), 0.1)
        # a traced pass without a plain pass on each side is not priced
        self.assertIsNone(trace_overhead([(False, 1.0), (True, 1.2)]))


if __name__ == "__main__":
    unittest.main()
