"""Tests for the benchmark's metric math, on small hand-computed inputs.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics


def query(name, p, ms, err=None, traced=False):
    return {"kind": "query", "name": name, "pass": p, "op": f"p{p}:{name}",
            "ms": ms, "err": err, "traced": traced}


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        # 20 samples: k = 10, so the 10th smallest (value 10) at the 50th
        # percentile has exactly ten samples above it
        self.assertEqual(metrics.tail(list(range(20, 0, -1))), (50.0, 10, 20))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(metrics.tail([5.0] + [9.0] * 10), (100 / 11, 5.0, 11))

    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_hundred_samples_give_p90(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 100))


class MeanAndShareTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 4.0, 8.0]), 4.0)

    def test_geomean_rejects_zero(self):
        with self.assertRaises(ValueError):
            metrics.geomean([0.0, 3.0])

    def test_busy_share(self):
        # 2 s of task time in 1 s of wall on 4 cores: half the cores busy
        self.assertEqual(metrics.busy_share(2000, 1000, 4), 0.5)
        self.assertEqual(metrics.busy_share(0, 0, 4), 0.0)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


class EndToEndTest(unittest.TestCase):
    def test_pass_and_geomean(self):
        rec = {"jvm_start_ms": 1000, "measure_start_ms": 13500, "ops": [
            query("a", 0, 100.0), query("b", 0, 400.0),
            query("a", 1, 300.0), query("b", 1, 400.0),
            query("a", 2, 200.0), query("b", 2, 1600.0),
            # a traced pass does not count towards the end-to-end figures
            query("a", 3, 9000.0, traced=True)]}
        m = metrics.end_to_end(rec, "iterative")
        self.assertEqual(m["setup_s"], 12.5)
        # pass walls 500, 700, 1800 ms: median 700 ms
        self.assertEqual(m["pass_s"], 0.7)
        # medians a = 200, b = 400: geometric mean sqrt(80000)
        self.assertAlmostEqual(m["op_geomean_ms"], 80000 ** 0.5)


class CheckTest(unittest.TestCase):
    def test_counts_every_execution_and_result_check(self):
        rec = {"ops": [query("a", 0, 1.0), query("a", 1, -1.0, err="boom")],
               "results": {"p0:a": (3, "x")}}
        attempted, failed, why = metrics.check(rec, {"a": (3, "x")})
        # two executions, each with a result check; the second execution
        # failed, so it has no result either
        self.assertEqual((attempted, failed), (4, 2))
        self.assertIn("boom", why[0])

    def test_wrong_expected_result_counts_as_failure(self):
        rec = {"ops": [query("a", 0, 1.0)], "results": {"p0:a": (3, "x")}}
        attempted, failed, _ = metrics.check(rec, {"a": (3, "deliberately wrong")})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(metrics.fail_ratio(attempted, failed), 0.5)

    def test_predictions_and_twins(self):
        rec = {"ops": [
            {"kind": "fit", "pass": 0},
            {"kind": "predict", "pass": 0, "rows": 100, "predictions": 100, "correct": 90},
            # one prediction missing fails, as does a trivial accuracy
            {"kind": "predict", "pass": 1, "rows": 100, "predictions": 99, "correct": 90},
            {"kind": "predict", "pass": 2, "rows": 100, "predictions": 100, "correct": 10}],
            "twins": {"burst": {"stream": 7, "batch": 7}, "dedup": {"stream": 5, "batch": 6}}}
        attempted, failed, why = metrics.check(rec, {})
        self.assertEqual((attempted, failed), (6, 3))
        self.assertTrue(any("dedup" in w for w in why))

    def test_fingerprint_ignores_row_and_column_order(self):
        a = metrics.fingerprint([(1, "x", 0.1 + 0.2), (2, "y", 1.0)], ["k", "s", "v"])
        b = metrics.fingerprint([("y", 1.0, 2), ("x", 0.3, 1)], ["s", "v", "k"])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)
        c = metrics.fingerprint([("y", 1.0, 2), ("x", 0.4, 1)], ["s", "v", "k"])
        self.assertNotEqual(a, c)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_prints(self):
        path = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.LAYER_UNITS)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(metrics.PASS_KINDS))

    def test_traced_run_prints_every_layer_metric(self):
        rec = {"ops": [query("a", 0, 100.0), query("a", 1, 110.0, traced=True)],
               "spans": [], "jvm": {"heap_used_mb": 80.0, "gc_ms": 5}}
        m = metrics.per_layer(rec, "iterative", 4)
        self.assertEqual(list(m), metrics.LAYER_KEYS)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 0.1)


if __name__ == "__main__":
    unittest.main()
