"""Self-tests of the harness's own arithmetic.

    python3 perfbench/run.py --self-test
"""
import unittest

import benchstats as bs


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_s": start, "end_s": end}


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(bs.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(bs.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            bs.median([])

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(bs.percentile(xs, 50), 50.0)
        self.assertEqual(bs.percentile(xs, 90), 90.0)
        self.assertEqual(bs.percentile(xs, 99.9), 100.0)
        self.assertEqual(bs.percentile([7.0], 99), 7.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        self.assertEqual(bs.tail_percentile(list(range(1, 101))), (90.0, 90.0, 100))
        # 1000 samples: p99 leaves 10 above it
        self.assertEqual(bs.tail_percentile(list(range(1, 1001))), (99.0, 990.0, 1000))
        # 20 samples: p50 leaves 10 above it, p75 only 5
        self.assertEqual(bs.tail_percentile(list(range(1, 21))), (50.0, 10.0, 20))
        # fewer than 11 samples: no percentile has ten beyond it
        self.assertIsNone(bs.tail_percentile(list(range(1, 11))))

    def test_tail_percentile_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 50 + [2.0] * 9
        self.assertIsNone(bs.tail_percentile(xs))


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 5.0, 6.0)]
        st = bs.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_children_count_once(self):
        # children cover [1, 6] together: 5 s, not 2 + 4 = 6 s
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 2.0, 6.0)]
        self.assertAlmostEqual(bs.self_times(spans)[1], 5.0)

    def test_nested_overlap_and_clipping(self):
        # a child that outlives its parent is clipped to the parent's end;
        # a grandchild does not reduce the root's self time twice
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 8.0, 12.0), span(3, 1, 0.0, 2.0),
                 span(4, 3, 0.5, 1.5)]
        st = bs.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(sum(st[s["id"]] for s in spans), 10.0 + 2.0)  # span 2 runs 2 s past the root

    def test_self_times_sum_to_root_when_nested_properly(self):
        spans = [span(1, 0, 0.0, 9.0), span(2, 1, 0.0, 4.0), span(3, 2, 1.0, 2.0),
                 span(4, 1, 4.0, 9.0)]
        self.assertAlmostEqual(sum(bs.self_times(spans).values()), 9.0)

    def test_job_spans_drop_checks(self):
        spans = [span(1, 0, 0, 9, "traced-iteration"), span(2, 1, 0, 5, "ExtractPipeline.run"),
                 span(3, 1, 5, 9, "check"), span(4, 3, 6, 7, "inner"), span(5, 0, 9, 10, "core")]
        self.assertEqual([s["id"] for s in bs.job_spans(spans, 1)], [1, 2])


class FailedFraction(unittest.TestCase):
    def test_numerator_over_denominator(self):
        self.assertEqual(bs.failed_frac(6, 0), 0.0)
        self.assertEqual(bs.failed_frac(6, 3), 0.5)
        # extract: one job call + 10,000 pages per iteration, three
        # iterations, three pages regressed to success=false in one of them
        self.assertAlmostEqual(bs.failed_frac(3 * (1 + 10000), 3), 3 / 30003)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            bs.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            bs.failed_frac(5, 6)
        with self.assertRaises(ValueError):
            bs.failed_frac(5, -1)


class Reduction(unittest.TestCase):
    def test_end_to_end_medians(self):
        rec = {"startup_s": 5.0, "setup_fixed_s": 2.0, "setup_samples_s": [4.0, 1.0, 2.0],
               "iteration_walls_s": [10.0, 8.0, 9.0], "docs": 900, "heap_peak_mb": 600.0,
               "workload_record": {}}
        m = bs.end_to_end(rec)
        self.assertEqual(m["setup_s"], (9.0, "s"))
        self.assertEqual(m["wall_s"], (9.0, "s"))
        self.assertEqual(m["docs_per_s"], (100.0, "1/s"))
        self.assertNotIn("batch_p50_s", m)

    def test_stream_batches(self):
        rec = {"startup_s": 1.0, "setup_fixed_s": 0.0, "setup_samples_s": [],
               "iteration_walls_s": [4.0], "docs": 8, "heap_peak_mb": 1.0,
               "workload_record": {"batch_s": [3.0, 1.0, 2.0, 9.0]}}
        m = bs.end_to_end(rec)
        self.assertEqual(m["batch_p50_s"], (2.5, "s"))
        self.assertEqual(m["batch_samples"], (4, "count"))


if __name__ == "__main__":
    unittest.main()
