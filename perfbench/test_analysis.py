"""Tests for the benchmark's own arithmetic and checks.

    python3 perfbench/test_analysis.py

The digest test compiles the program and the benchmark (perfbench/build.py)
on first use and runs graft.perfbench.SelfTest.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # 1000 samples: p99 leaves exactly 10 beyond it, p99.9 only 1
        self.assertEqual(analysis.tail_percentile(list(range(1, 1001))), (99.0, 990))
        # 100 samples: p90 leaves 10 beyond it, p95 only 5
        self.assertEqual(analysis.tail_percentile(list(range(1, 101))), (90.0, 90))
        # 40 samples: p75 leaves 10 beyond it
        self.assertEqual(analysis.tail_percentile(list(range(1, 41))), (75.0, 30))
        # 39 samples: p75 leaves 9, so the median it is
        self.assertEqual(analysis.tail_percentile(list(range(1, 40)))[0], 50.0)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(analysis.tail_percentile([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_failures_count_as_infinite_latency(self):
        ops = [{"ok": True, "wall_s": 1.0}] * 30 + [{"ok": False, "wall_s": 0.01}] * 20
        walls = analysis.op_walls(ops)
        self.assertEqual(analysis.percentile(walls, 50.0), 1.0)
        self.assertEqual(analysis.tail_percentile(walls), (75.0, math.inf))


class SpanArithmetic(unittest.TestCase):
    # op 1 [0, 100] ms with children 2 [10, 40] and 3 [30, 60]; 4 [70, 90]
    # is a grandchild under 5 [65, 95]
    SPANS = [[1, 0, "op", 0.0, 100.0], [2, 1, "a", 10.0, 40.0], [3, 1, "b", 30.0, 60.0],
             [5, 1, "c", 65.0, 95.0], [4, 5, "d", 70.0, 90.0]]

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(analysis.union_length([(10, 40), (30, 60), (65, 95)]), 80)
        self.assertEqual(analysis.union_length([(-10, 20), (90, 120)], 0, 100), 30)
        self.assertEqual(analysis.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        s = analysis.Spans(self.SPANS)
        self.assertAlmostEqual(s.self_s(1), (100 - 50 - 30) / 1e3)
        self.assertAlmostEqual(s.self_s(5), (30 - 20) / 1e3)
        self.assertAlmostEqual(s.self_s(4), 20 / 1e3)

    def test_driver_time_is_wall_minus_job_union_of_subtree(self):
        jobs = [[0, "2", 15, 35], [1, "3", 30, 50], [2, "4", 75, 85],
                [3, "9", 0, 100],      # another span's job: not counted
                [4, "1", 95, 130]]     # clipped at the span's end
        s = analysis.Spans(self.SPANS, jobs)
        self.assertAlmostEqual(s.driver_s(1), (100 - 35 - 10 - 5) / 1e3)
        self.assertAlmostEqual(s.driver_s(5), (30 - 10) / 1e3)
        self.assertAlmostEqual(s.driver_s(2), (30 - 20) / 1e3)


class Result(unittest.TestCase):
    def record(self, ok=True):
        ops = [{"i": i, "kind": "plain", "label": "q", "ok": ok or i != 2,
                "wall_s": 0.5, "work": 2.0, "error": None, "span": None} for i in range(30)]
        return {"ops": ops, "checks": [{"name": "c", "ok": True, "detail": ""}],
                "setup_s": [3.0, 1.0, 2.0], "peak_rss_mb": 900.0}

    def test_end_to_end_metrics(self):
        res = analysis.result(self.record(), traced=False)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(set(m), {n for n, _ in analysis.END_TO_END})
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["work_per_s"], 4.0)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (31, 0))

    def test_a_failed_operation_fails_the_run(self):
        res = analysis.result(self.record(ok=False), traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_traced_run_reports_every_layer_metric(self):
        res = analysis.result(self.record(), traced=True)
        self.assertEqual(set(res["metrics"]), {n for n, _ in analysis.PER_LAYER})


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for key, metrics in (("end_to_end", analysis.END_TO_END),
                             ("per_layer", analysis.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in spec[key]], list(metrics))


class DigestCheck(unittest.TestCase):
    def test_digest_rejects_perturbed_results(self):
        classes = build.build(os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                              or ".bench_build"))
        proc = subprocess.run(
            ["java", "-cp", f"{classes}{os.pathsep}{build.spark_jars()}",
             "graft.perfbench.SelfTest"], stdout=subprocess.PIPE, text=True)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        self.assertIn("ok perturbed value rejected", proc.stdout)


if __name__ == "__main__":
    unittest.main()
