"""The benchmark's own tests: generator determinism, metric arithmetic and
the oracle-side fingerprint.

    python3 -m unittest perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            corpus.generate(a, 5, 300)
            corpus.generate(b, 5, 300)
            corpus.generate(c, 6, 300)
            self.assertEqual(corpus.fingerprint(a), corpus.fingerprint(b))
            self.assertNotEqual(corpus.fingerprint(a), corpus.fingerprint(c))

    def test_zipf_ranks_skew(self):
        import numpy as np
        r = corpus.zipf_ranks(np.random.default_rng(0), 100_000, 1000, 1.1)
        self.assertTrue((r >= 0).all() and (r < 1000).all())
        counts = np.bincount(r, minlength=1000)
        # P(rank 0) / P(rank 9) = 10^1.1 ~ 12.6
        self.assertAlmostEqual(counts[0] / counts[9], 10 ** 1.1, delta=1.5)


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 40), 0.0)
        self.assertEqual(stats.failed_ratio(3, 12), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.clipped([(0, 10), (12, 30)], 5, 20), [(5, 10), (12, 20)])

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": -1, "qid": 1, "name": "query", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "qid": 1, "name": "operators.build", "start": 10, "end": 60},
            {"id": 3, "parent": 2, "qid": 1, "name": "scheduler.job", "start": 20, "end": 40},
            {"id": 4, "parent": 2, "qid": 1, "name": "scheduler.job", "start": 30, "end": 50},
        ]
        self.assertEqual(stats.self_times(spans), {"query": 50, "operators": 20, "scheduler": 40})

    def test_attach_finds_innermost_home(self):
        spans = [
            {"id": 1, "parent": -1, "qid": 7, "name": "query", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "qid": 7, "name": "result.collect", "start": 50, "end": 100},
            {"id": 3, "parent": -1, "qid": -1, "name": "scheduler.job", "start": 60, "end": 90},
            {"id": 4, "parent": -1, "qid": -1, "name": "executor.stage", "start": 61, "end": 80},
            {"id": 5, "parent": -1, "qid": -1, "name": "scheduler.job", "start": 200, "end": 300},
        ]
        got = {s["id"]: (s["parent"], s["qid"]) for s in stats.attach(spans)}
        self.assertEqual(got[3], (2, 7))
        self.assertEqual(got[4], (3, 7))
        self.assertNotIn(5, got)


class EndToEndTest(unittest.TestCase):
    def test_metrics_from_raw_samples(self):
        import run
        h = {
            "setup": {"total_ms": 9000.0},
            "passes": [{"ms": 2000.0, "samples": [["a", 100.0], ["b", 300.0]]},
                       {"ms": 1000.0, "samples": [["a", 200.0], ["b", 400.0]]},
                       {"ms": 3000.0, "samples": [["a", 150.0], ["b", 350.0]]}],
            "jvm": {"vm_hwm_kb": 2048},
        }
        m, n = run.end_to_end(h, failed=1, attempted=4)
        self.assertEqual(n, 6)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertEqual(m["pass_s"], 2.0)
        self.assertEqual(m["query_p50_ms"], 250.0)
        self.assertAlmostEqual(m["query_tail_ms"], 375.0)
        self.assertEqual(m["ok_ratio"], 0.75)
        self.assertEqual(m["rss_peak_mb"], 2.0)

    def test_pass_count_depends_on_the_arguments_only(self):
        import run
        self.assertEqual(run.timed_passes("mr_zipf", 10), 4)
        self.assertEqual(run.timed_passes("relational_sf001", 10), 3)
        self.assertEqual(run.timed_passes("streaming_sf001", 1), 2)


class OracleFingerprintTest(unittest.TestCase):
    def test_render_matches_the_jvm_encoding(self):
        import datetime
        import decimal
        self.assertEqual(oracle.render(None), "N")
        self.assertEqual(oracle.render(True), "b:true")
        self.assertEqual(oracle.render(3), "i:3")
        self.assertEqual(oracle.render(1.0), "f:4607182418800017408")
        self.assertEqual(oracle.render(decimal.Decimal("1.50")), "d:1.5")
        self.assertEqual(oracle.render(decimal.Decimal("100")), "d:100")
        self.assertEqual(oracle.render(datetime.datetime(2024, 1, 2, 3, 4, 5, 60)),
                         "t:2024-01-02 03:04:05.000060")
        self.assertEqual(oracle.render([1, None]), "[i:1,N]")

    def test_fingerprint_ignores_row_and_column_order(self):
        a = oracle.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertTrue(a[1].startswith("2:"))


if __name__ == "__main__":
    unittest.main()
