"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M
import run as R


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 99), 99)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7], 99), 7)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(1000), 99.0)   # 10 beyond p99
        self.assertEqual(M.tail_percentile(999), 90.0)    # p99 leaves 9
        self.assertEqual(M.tail_percentile(10000), 99.9)
        self.assertEqual(M.tail_percentile(100000), 99.99)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(20), 50.0)
        self.assertIsNone(M.tail_percentile(19))
        self.assertIsNone(M.tail_percentile(0))

    def test_tail_leaves_at_least_ten_above(self):
        for n in (20, 99, 100, 1000, 1001, 12345):
            p = M.tail_percentile(n)
            xs = list(range(n))
            v = M.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_helper_falls_back_to_max(self):
        self.assertEqual(R.tail([5.0, 9.0, 7.0]), (9.0, "max"))
        xs = [float(i) for i in range(1, 1001)]
        self.assertEqual(R.tail(xs), (990.0, 99.0))


class CloseLatency(unittest.TestCase):
    def test_emission_minus_window_end_plus_delay(self):
        # window ends at 10 000 ms, delay 1 000 ms: earliest emission 11 000 ms
        lat = M.close_latencies_ms([(10_000, 11_250_000)], 1_000, 0, 20_000)
        self.assertEqual(lat, [250.0])

    def test_only_windows_due_inside_the_measured_window(self):
        em = [(1_000, 2_500_000), (5_000, 6_100_000), (9_000, 10_400_000)]
        lat = M.close_latencies_ms(em, 1_000, 5_000, 10_000)
        self.assertEqual(lat, [100.0])  # due 6 000 is in, due 2 000 and 10 000 are out

    def test_sub_millisecond_stamps(self):
        lat = M.close_latencies_ms([(0, 1_000_500)], 1_000, 0, 2_000)
        self.assertAlmostEqual(lat[0], 0.5)


def span(i, parent, s, e, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_us": s, "end_us": e}


class SelfTime(unittest.TestCase):
    def test_sequential_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 40, 70)]
        st = M.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 20, 3: 30})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(M.self_times(spans)[1], 30)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 150)]
        self.assertEqual(M.self_times(spans)[1], 90)

    def test_nested(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        st = M.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 40, 10))

    def test_accounting_reports_parallel_time(self):
        spans = [span(1, 0, 0, 100, "query.q"), span(2, 1, 0, 60), span(3, 1, 20, 80)]
        acc = M.trace_accounting(spans, ("query.",))
        self.assertEqual(len(acc), 1)
        self.assertTrue(acc[0]["ok"])
        self.assertAlmostEqual(acc[0]["self_sum_ms"], 0.14)  # 20 + 60 + 60 us
        self.assertAlmostEqual(acc[0]["parallel_ms"], 0.04)
        self.assertAlmostEqual(acc[0]["unattributed_share"], 0.2)


class FailRatio(unittest.TestCase):
    def test_sums_over_kinds(self):
        self.assertEqual(M.fail_ratio({"query": 9, "check": 11}, {"query": 1, "check": 1}), 0.1)
        self.assertEqual(M.fail_ratio({"drain": 4}, {"drain": 0}), 0.0)
        self.assertEqual(M.fail_ratio({"send": 3}, {}), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            M.fail_ratio({}, {})


class InputLag(unittest.TestCase):
    def test_files_map_to_triggers_by_cumulative_rows(self):
        w = {"generator": {"file_ticks": [10, 10, 10],
                           "file_written_ms": [100, 200, 300]}}
        progress = [
            {"batchId": 0, "timestamp": "1970-01-01T00:00:00.250Z", "numInputRows": 20},
            {"batchId": 1, "timestamp": "1970-01-01T00:00:00.400Z", "numInputRows": 10}]
        lag, backlog = R.input_lag(w, progress, 0, 1000)
        self.assertEqual(lag, [150.0, 50.0, 100.0])
        self.assertEqual(backlog, 2)


class TraceOverhead(unittest.TestCase):
    def test_live_traced_segment_against_untraced_ones(self):
        # close latency = emission - (window end + 100 ms delay)
        raw = {"workload": {"watermark_ms": 100, "segments": [
            {"traced": False, "start_ms": 0, "end_ms": 1000},
            {"traced": True, "start_ms": 1000, "end_ms": 3000},
            {"traced": False, "start_ms": 3000, "end_ms": 4000}],
            "emissions": [(400, 1_000_000), (2400, 3_100_000), (3400, 4_000_000)]}}
        self.assertAlmostEqual(R.trace_overhead("ticks_live", raw), 20.0)

    def test_unmeasured_overhead_is_an_error(self):
        raw = {"workload": {"watermark_ms": 100, "segments": [
            {"traced": True, "start_ms": 0, "end_ms": 1000}], "emissions": [(400, 1_000_000)]}}
        with self.assertRaises(RuntimeError):
            R.trace_overhead("ticks_live", raw)


if __name__ == "__main__":
    unittest.main()
