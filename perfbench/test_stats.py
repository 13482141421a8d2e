"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def span(id, parent, name, start, end):
    return dict(id=id, parent=parent, name=name, request=0,
                start=float(start), end=float(end))


def job(id, start, end, stages=()):
    return dict(id=id, start=float(start), end=float(end), failed=False, stages=list(stages))


class TailRule(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_reported_percentile(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100.0 * 89 / 99)
        self.assertEqual(n, 100)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 0]
        self.assertEqual(stats.tail(xs)[0], 1)  # 12 samples: the 11th largest

    def test_exactly_eleven_samples_is_the_minimum(self):
        v, pct, _ = stats.tail(list(range(11)))
        self.assertEqual((v, pct), (0, 0.0))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3, 9, 4]), (9, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, "day", 0, 100),
                 span(1, 0, "gate", 10, 40),
                 span(2, 1, "inner", 15, 25),
                 span(3, 0, "probe", 50, 90)]
        self.assertEqual(stats.self_times(spans), {0: 30.0, 1: 20.0, 2: 10.0, 3: 40.0})

    def test_span_table_rolls_self_time_and_jobs_up_by_name(self):
        spans = [span(0, -1, "day", 0, 100), span(1, 0, "gate", 10, 40),
                 span(2, 0, "gate", 50, 60)]
        t = dict(spans=spans, jobs=[job(1, 5, 8), job(2, 12, 20), job(3, 55, 58)])
        table = stats.span_table(t, (0, 100))
        self.assertEqual(table["day"], dict(n=1, total_ms=100.0, self_ms=60.0, jobs=1))
        self.assertEqual(table["gate"], dict(n=2, total_ms=40.0, self_ms=40.0, jobs=2))

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, "x", 5, 7)]), {0: 2.0})

    def test_span_ms_sums_per_enclosing_span(self):
        spans = [span(0, -1, "serve", 0, 10), span(1, 0, "fs.catalog", 0, 2),
                 span(2, 0, "fs.catalog", 3, 6), span(3, -1, "serve", 20, 30),
                 span(4, 3, "fs.catalog", 21, 22)]
        t = dict(spans=spans)
        self.assertEqual(sorted(stats.span_ms(t, (0, 30), "fs.catalog", per="serve")), [1.0, 5.0])
        self.assertEqual(stats.span_ms(t, (0, 30), "serve"), [10.0, 10.0])


class DriverGaps(unittest.TestCase):
    def test_sequential_jobs(self):
        self.assertEqual(stats.driver_gap_ms([job(1, 0, 10), job(2, 15, 20), job(3, 30, 31)]), 15.0)

    def test_overlapping_jobs_merge_before_gaps_are_summed(self):
        jobs = [job(1, 0, 10), job(2, 5, 12), job(3, 20, 25), job(4, 21, 22), job(5, 26, 30)]
        # busy [0,12] [20,25] [26,30] -> gaps 8 + 1
        self.assertEqual(stats.driver_gap_ms(jobs), 9.0)

    def test_contained_and_unsorted_jobs(self):
        jobs = [job(2, 2, 3), job(1, 0, 10), job(3, 14, 16)]
        self.assertEqual(stats.driver_gap_ms(jobs), 4.0)

    def test_no_gap_with_fewer_than_two_jobs(self):
        self.assertEqual(stats.driver_gap_ms([]), 0)
        self.assertEqual(stats.driver_gap_ms([job(1, 0, 10)]), 0)


class Attribution(unittest.TestCase):
    def test_jobs_go_to_the_innermost_span_and_roll_up_to_the_window_tops(self):
        spans = [span(0, -1, "serve", 0, 100), span(1, 0, "fs.serve", 10, 90),
                 span(2, -1, "serve", 100, 200)]
        stages = [dict(id=7, job=1, tasks=2, task_ms=[10, 30], cpu_ns=4e6, shuffle_read=5,
                       shuffle_write=6, spill=0, gc_ms=1, failed_tasks=0)]
        trace = dict(spans=spans, stages=stages,
                     jobs=[job(1, 20, 40, [7]), job(2, 50, 60), job(3, 150, 160)],
                     plans=[dict(at=15.0, planning_ms=3.0, phases={})])
        e = stats.engine(trace, (0, 150))
        self.assertEqual(e["jobs"], 2)  # job 3 ran in a serve outside the window
        self.assertEqual(e["driver_gap_ms"], 10.0)
        self.assertEqual(e["task_ms"], 40)
        self.assertEqual(e["executor_cpu_ms"], 4.0)
        self.assertEqual(e["planning_ms"], 3.0)
        self.assertEqual(e["task_skew"], 1.5)
        self.assertEqual(stats.coverage(spans, (0, 250)), 0.8)


if __name__ == "__main__":
    unittest.main()
