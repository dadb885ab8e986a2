"""Tail-percentile rule and correctness gates, including injected wrong answers."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402

HOUR = 3600000000


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))  # 10 beyond p99
        self.assertEqual(stats.tail(list(range(1, 1000)))[0], 95.0)     # 9 beyond p99
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(stats.tail(list(range(1, 40))), (50.0, 20))

    def test_fewer_than_forty_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (50.0, 3))
        self.assertEqual(stats.tail([4, 1, 3, 2]), (50.0, 2.5))

    def test_every_reported_tail_has_ten_samples_beyond_it(self):
        for n in range(20, 2500, 7):  # from 20 samples on, the median has
            values = list(range(n))
            _, v = stats.tail(values)
            self.assertGreaterEqual(sum(x > v for x in values), 10)


TRUTH = {"n_rows": 3, "n_ids": 2, "avg_lat": 1.5, "avg_lon": -2.25,
         "min_lat": 0.5, "max_lat": 2.5}


class InjectedWrongAnswers(unittest.TestCase):
    def etl_op(self, **stats_override):
        return {"n_clean": 3, "n_stats": 1, "stats": dict(TRUTH, **stats_override)}

    def test_etl_batch(self):
        self.assertTrue(stats.etl_batch_ok(self.etl_op(), TRUTH))
        self.assertFalse(stats.etl_batch_ok(self.etl_op(avg_lat=1.5000000001), TRUTH))
        self.assertFalse(stats.etl_batch_ok(self.etl_op(n_ids=3), TRUTH))
        self.assertFalse(stats.etl_batch_ok(dict(self.etl_op(), n_clean=4), TRUTH))
        self.assertFalse(stats.etl_batch_ok({"error": "boom"}, TRUTH))

    def test_query(self):
        self.assertTrue(stats.query_ok({"rows": 5}, 5, "EXACT"))
        self.assertFalse(stats.query_ok({"rows": 6}, 5, "EXACT"))
        self.assertFalse(stats.query_ok({"rows": 5}, 5, "CLOSE(float-drift)"))
        self.assertFalse(stats.query_ok({"rows": 5}, 5, None))

    def test_oracle_output_parsing(self):
        out = ("PASS  q01_pricing_summary  EXACT\n"
               "FAIL  q03_filter_project   VALUE MISMATCH e.g. 1 != 2\n\n1/2 pass\n")
        self.assertEqual(stats.parse_oracle(out), {
            "q01_pricing_summary": "EXACT",
            "q03_filter_project": "VALUE MISMATCH e.g. 1 != 2"})

    def test_stream_windows(self):
        base = 100 * HOUR
        batch = [[base, "view", 4], [base + HOUR, "view", 2], [base + 5 * HOUR, "view", 1],
                 [base - 2 * HOUR, "view", 1]]
        wm = base + 3 * HOUR
        emitted = [[base, "view", 4], [base + HOUR, "view", 2]]
        self.assertTrue(stats.stream_windows_ok(emitted, batch, wm, base))
        # a wrong count, a missing window, a window emitted while still open
        self.assertFalse(stats.stream_windows_ok([[base, "view", 5], emitted[1]], batch, wm, base))
        self.assertFalse(stats.stream_windows_ok(emitted[:1], batch, wm, base))
        self.assertFalse(stats.stream_windows_ok(
            emitted + [[base + 5 * HOUR, "view", 1]], batch, wm, base))
        # a late event that slipped into a pre-base window is not a wrong answer
        self.assertTrue(stats.stream_windows_ok(
            emitted + [[base - 2 * HOUR, "view", 1]], batch, wm, base))


if __name__ == "__main__":
    unittest.main()
