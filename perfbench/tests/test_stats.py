"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start,
            "end": end, "run": 0}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        values = list(range(1, 41))  # 40 samples
        v, p, n = stats.tail(values)
        self.assertEqual((p, n), (75, 40))
        self.assertEqual(v, 30)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_percentile_never_leaves_fewer_than_ten_beyond(self):
        for n in range(20, 300):
            v, p, _ = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)
            # the next whole percentile would leave fewer than ten beyond
            k = -(-(p + 1) * n // 100)
            self.assertLess(n - k, 10)

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(stats.tail(list(range(19)))[1], 100)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, "op", 0, 100),
                 span(1, 0, "a", 10, 40),
                 span(2, 0, "b", 30, 60),   # overlaps a by 10
                 span(3, 1, "a.inner", 15, 20)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 50)
        self.assertAlmostEqual(st[1], 30 - 5)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "late", 8, 30)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 8)

    def test_union(self):
        # clipped to [2, 25]: [2, 8] + [10, 12] + [20, 25]
        self.assertAlmostEqual(
            stats.union_ms([(0, 5), (3, 8), (10, 12), (20, 30)], 2, 25),
            6 + 2 + 5)
        self.assertEqual(stats.union_ms([], 0, 10), 0)


class AttributionTest(unittest.TestCase):
    spans = [span(0, -1, "refresh", 0, 100),
             span(1, 0, "q02", 10, 50),
             span(2, 1, "inner", 20, 30),
             span(3, 0, "q03", 50, 90),
             span(4, -1, "refresh", 200, 300)]

    def test_innermost_open_span_gets_the_event(self):
        events = [{"t": 5}, {"t": 15}, {"t": 25}, {"t": 50}, {"t": 95},
                  {"t": 150}, {"t": 250}]
        got = {k: [e["t"] for e in v]
               for k, v in stats.attribute(self.spans, events, "t").items()}
        # t=50 is in q02's end and q03's start: the later-started wins;
        # t=150 falls outside every span and is dropped
        self.assertEqual(got, {0: [5, 95], 1: [15], 2: [25], 3: [50],
                               4: [250]})

    def test_per_operation_counts(self):
        tasks = [{"launch": 12, "finish": 18, "cpu_ms": 2.0},
                 {"launch": 22, "finish": 28, "cpu_ms": 3.0},
                 {"launch": 60, "finish": 80, "cpu_ms": 4.0}]
        jobs = [{"time": 11}, {"time": 60}]
        ops = [{"phase": "query", "kind": "refresh", "traced": True, "ms": 100},
               {"phase": "query", "kind": "refresh", "traced": False, "ms": 80}]
        m, layers = stats.per_layer("trade_ops", ops, self.spans[:4], tasks,
                                    jobs)
        self.assertEqual(m["query.spark_tasks"][0], 3)
        self.assertEqual(m["query.spark_jobs"][0], 2)
        self.assertAlmostEqual(m["query.task_cpu_ms"][0], 9.0)
        # no task runs in [0,12), [18,22), [28,60), [80,100)
        self.assertAlmostEqual(m["query.no_task_ms"][0], 12 + 4 + 32 + 20)
        self.assertAlmostEqual(m["query.client_self_ms"][0], 100 - 40 - 40)
        self.assertAlmostEqual(m["query.trace_overhead_frac"][0], 0.25)
        self.assertEqual(layers["inner"]["tasks"], 1)
        self.assertEqual(layers["q02"]["tasks"], 1)


if __name__ == "__main__":
    unittest.main()
