"""Self-tests of the benchmark's statistics and accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import checks
import metrics
import stats


def op(kind="query", ms=1.0, error=None, wrong=False, scans=(), input_bytes=0, pass_=1):
    return {"kind": kind, "ms": ms, "error": error, "wrong": wrong, "pass": pass_,
            "scans": [{"files": f, "table_files": tf, "table_bytes": tb} for f, tf, tb in scans],
            "counters": {"input_bytes": input_bytes}}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(199)), 95))
        self.assertEqual(stats.percentile(list(range(1, 201)), 95), 190)

    def test_ten_beyond_exactly(self):
        for n, p in ((20, 50), (100, 90), (200, 95), (1000, 99)):
            xs = list(range(n))
            v = stats.percentile(xs, p)
            self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_is_highest_supported(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(250)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertIsNone(stats.tail(list(range(30))))

    def test_summary_reports_count(self):
        s = stats.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["p50"], s["tail"]), (3, 2.0, None))

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([5]), 5)
        with self.assertRaises(ValueError):
            stats.median([])


class FailureAccounting(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(8, 2), 0.25)
        self.assertEqual(stats.failed_frac(1, 0), 0.0)
        for attempted, failed in ((0, 0), (3, 4), (3, -1)):
            with self.assertRaises(ValueError):
                stats.failed_frac(attempted, failed)

    def test_errors_and_wrong_answers_both_count(self):
        ops = [op(), op(error="boom"), op(wrong=True), op()]
        self.assertEqual(metrics.failures(ops), (4, 2))

    def test_failed_ops_leave_the_latency_sample(self):
        run = {"ops": [op(ms=10, scans=[(1, 1, 10)], input_bytes=5),
                       op(ms=1000, error="x", scans=[(1, 1, 10)])],
               "setup_s": 1.0, "pass_ms": [20.0], "rss_peak_mb": 1.0,
               "datagen_s": 0.5, "session_s": 2.0, "warmup_s": 3.0, "min_passes": 1}
        self.assertEqual(metrics.e2e(run)["query_p50_ms"], 10)

    def test_setup_is_everything_before_the_window(self):
        run = {"setup_s": 1.0, "datagen_s": 0.5, "session_s": 2.0, "warmup_s": 3.0}
        self.assertEqual(metrics.setup_s(run), 6.5)


class LayerMetrics(unittest.TestCase):
    def test_every_metric_is_reported_for_a_minimal_run(self):
        q = dict(op(ms=5, scans=[(2, 4, 100)], input_bytes=10), id=0, arm="zorder",
                 name="S1.plain", exchanges=1, broadcasts=0, cached_peak_bytes=0,
                 evictions=0, leaked_caches=0, columns=["cnt"], rows=[[3]])
        q["counters"] = {c: 1 for c in ("jobs", "stages", "tasks", "executor_run_ms",
                                        "executor_cpu_ns", "input_bytes", "input_records",
                                        "shuffle_read_bytes", "shuffle_write_bytes",
                                        "spill_bytes", "task_gc_ms", "deser_ms",
                                        "sched_delay_ms")}
        run = {"ops": [q], "spans": [], "layer": {}, "setup_steps_ms": {}}
        m = metrics.layer(run)
        self.assertEqual(m["layout.files_kept_frac.zorder"][0], 0.5)
        self.assertEqual(m["layout.files_kept_frac.baseline"][0], 0.0)
        self.assertEqual(m["failed_frac"][0], 0.0)
        self.assertTrue(all(isinstance(v, (int, float)) for v, _ in m.values()))


class Fracs(unittest.TestCase):
    def test_files_frac_is_a_ratio_of_sums(self):
        ops = [op(scans=[(1, 10, 0)]), op(scans=[(90, 90, 0)])]
        # sum over queries, not the mean of per-query ratios (0.55)
        self.assertAlmostEqual(metrics.files_frac(ops), 91 / 100)

    def test_bytes_frac_uses_input_bytes_over_scanned_tables(self):
        ops = [op(scans=[(1, 4, 100), (2, 2, 300)], input_bytes=50),
               op(scans=[(4, 4, 100)], input_bytes=150)]
        self.assertAlmostEqual(metrics.bytes_frac(ops), 200 / 500)

    def test_empty_denominator_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.files_frac([op()])

    def test_fracs_count_the_passes_every_run_makes(self):
        # a faster host runs more passes; the fracs must not see them
        ops = [op(scans=[(1, 10, 0)], pass_=0), op(scans=[(3, 10, 0)], pass_=1),
               op(scans=[(10, 10, 0)], pass_=2), op(scans=[(10, 10, 0)], error="x", pass_=1)]
        run = {"ops": ops, "min_passes": 1}
        self.assertAlmostEqual(metrics.files_frac(metrics.counted(run)), 4 / 20)


class ResultComparison(unittest.TestCase):
    def test_order_and_column_order_do_not_matter(self):
        a = (["b", "a"], [[1, "x"], [2, "y"]])
        b = (["a", "b"], [["y", 2], ["x", 1]])
        self.assertTrue(checks.same(a, b)[0])

    def test_float_tolerance(self):
        self.assertTrue(checks.same((["v"], [[1000.0]]), (["v"], [[1000.005]]))[0])
        self.assertFalse(checks.same((["v"], [[0.5]]), (["v"], [[0.5001]]))[0])

    def test_row_count_and_values_are_checked(self):
        self.assertFalse(checks.same((["v"], [[1]]), (["v"], [[1], [1]]))[0])
        self.assertFalse(checks.same((["v"], [["a"]]), (["v"], [["b"]]))[0])


if __name__ == "__main__":
    unittest.main()
