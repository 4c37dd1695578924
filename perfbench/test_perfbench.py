#!/usr/bin/env python3
"""Tests of the benchmark's own statistics and digest code.

Run from the repository root: python3 perfbench/test_perfbench.py
The digest test builds the harness and runs its JVM self-test; it is
skipped when Spark's jars or the program sources are not present.
"""
import json
import random
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_order_does_not_matter(self):
        xs = [random.Random(i).random() for i in range(31)]
        self.assertEqual(stats.median(xs), stats.median(sorted(xs)))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_unsupported_below_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_support_only_the_lowest(self):
        self.assertEqual(stats.tail(list(range(11))), (100 / 11, 0.0, 11))

    def test_ten_samples_beyond_the_reported_value(self):
        xs = list(range(100))
        random.Random(1).shuffle(xs)
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 89.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_twenty_samples_give_the_median_rank(self):
        self.assertEqual(stats.tail(list(range(20)))[:2], (50.0, 9.0))


class FailedFracTest(unittest.TestCase):
    def test_values(self):
        self.assertEqual(stats.failed_frac(0, 10), 0.0)
        self.assertEqual(stats.failed_frac(3, 12), 0.25)
        self.assertEqual(stats.failed_frac(5, 5), 1.0)

    def test_invalid_counts(self):
        for failed, attempted in ((0, 0), (-1, 3), (4, 3)):
            with self.assertRaises(ValueError):
                stats.failed_frac(failed, attempted)


class EndToEndTest(unittest.TestCase):
    def raw(self, ops, **kw):
        r = {"setup_once": [2.0, 1.0, 4.0],
             "ops": ops, "attempted": len(ops) + 1, "failed": 0, "failures": [],
             "loop_wall_s": 10.0, "heap_windows_mb": [100.0, 300.0, 90.0], "layer": {}}
        r.update(kw)
        return r

    def test_setup_is_the_sum_of_its_parts(self):
        ops = [{"group": "sync", "key": "syncAll", "s": 1.0, "rows": 10, "ok": True}]
        metrics, _ = run.end_to_end("sync_full", self.raw(ops))
        self.assertEqual(metrics["setup_s"], 7.0)

    def test_peak_heap_is_the_median_window(self):
        ops = [{"group": "sync", "key": "syncAll", "s": 1.0, "rows": 10, "ok": True}]
        metrics, _ = run.end_to_end("sync_full", self.raw(ops))
        self.assertEqual(metrics["peak_heap_mb"], 100.0)

    def test_failed_operations_are_left_out_of_timings(self):
        ops = [{"group": "upsert", "key": "batch", "s": s, "rows": 20, "ok": ok}
               for s, ok in ((1.0, True), (9.0, False), (2.0, True))]
        metrics, named = run.end_to_end("upsert_stream", self.raw(ops, failed=1, attempted=4))
        self.assertEqual(metrics["op_s"], 1.5)
        self.assertIn(("failed_frac", 0.25, "ratio"), named)

    def test_analytics_pass_is_the_sum_of_per_query_medians(self):
        ops = [{"group": g, "key": k, "s": s, "rows": 1, "ok": True}
               for g, k, s in (("iterative", "a", 1.0), ("iterative", "a", 3.0),
                               ("iterative", "a", 2.0), ("scan", "b", 0.5),
                               ("scan", "b", 0.7), ("scan", "c", 4.0))]
        metrics, named = run.end_to_end("analytics", self.raw(ops))
        self.assertAlmostEqual(metrics["op_s"], 2.0 + 0.6 + 4.0)
        self.assertIn(("iterative_s", 2.0, "s"), named)
        self.assertIn(("scan_s", 4.6, "s"), named)

    def test_metrics_are_the_declared_end_to_end_set(self):
        ops = [{"group": "sync", "key": "syncAll", "s": 1.0, "rows": 10, "ok": True}]
        metrics, _ = run.end_to_end("sync_full", self.raw(ops))
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(metrics), {m["name"] for m in spec["end_to_end"]})


class DigestTest(unittest.TestCase):
    def test_harness_digest_self_test(self):
        try:
            run.spark_jars()
            run.sources()
        except SystemExit:
            self.skipTest("program sources or Spark jars not present")
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--selftest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("ok   reordering keeps the digest", r.stdout)


if __name__ == "__main__":
    unittest.main()
