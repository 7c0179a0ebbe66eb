"""Tests of the benchmark's own arithmetic: python3 perfbench/test_stats.py"""

import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402


def span(i, parent, start, end, name="s", trace=1, attrs=None):
    return {"id": i, "parent": parent, "trace": trace, "name": name,
            "start": start, "end": end, "attrs": attrs or {}}


class Median(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_median_matches_statistics(self):
        xs = [0.3, 9.1, 2.2, 2.2, 5.0, 1.7]
        self.assertAlmostEqual(stats.median(xs), statistics.median(xs))


class JobTimeline(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(stats.covered([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.covered([], 0, 10), 0)

    def test_driver_gap(self):
        # A 10 ms window with jobs over [1,3], [2,4] and [6,7]: 3+1 busy.
        jobs = [(1, 3), (2, 4), (6, 7)]
        self.assertEqual(stats.driver_gap(0, 10, jobs), 6)
        self.assertEqual(stats.driver_gap(0, 10, [(0, 10)]), 0)
        self.assertEqual(stats.driver_gap(0, 10, []), 10)

    def test_occupancy(self):
        # 4 slots over 10 s hold 40 slot-seconds; 30 s of tasks fill 75%.
        self.assertAlmostEqual(stats.occupancy(30.0, 10.0, 4), 0.75)
        self.assertEqual(stats.occupancy(5.0, 0.0, 4), 0.0)


class Spans(unittest.TestCase):
    def setUp(self):
        # root [0,100] with children [10,40] and [50,90]; the first child has
        # a grandchild [20,30], and a second grandchild that overlaps it.
        self.spans = [
            span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 90),
            span(3, 1, 20, 30), span(4, 1, 25, 35)]

    def test_self_time_subtracts_children(self):
        st = stats.self_times(self.spans)
        self.assertEqual(st[0], 100 - 30 - 40)
        self.assertEqual(st[1], 30 - 15)  # children cover [20,35]
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 10)

    def test_descendants(self):
        self.assertEqual(stats.descendants(self.spans, 1), {1, 3, 4})
        self.assertEqual(stats.descendants(self.spans, 0), {0, 1, 2, 3, 4})

    def test_children_tile(self):
        self.assertTrue(stats.children_tile(self.spans, 0, 0))
        self.assertFalse(stats.children_tile(self.spans, 1, 0))  # 3 and 4 overlap
        outside = self.spans + [span(5, 2, 85, 95)]
        self.assertFalse(stats.children_tile(outside, 2, 1))
        self.assertTrue(stats.children_tile(outside, 2, 5))


class Metrics(unittest.TestCase):
    def raw(self, workload, ops, **kw):
        r = {"workload": workload, "ops": ops, "loop_wall_s": 10.0,
             "session_s": 2.0, "input_s": [5.0, 1.0, 2.0], "warmup_s": 3.0,
             "quality": {"triple_precision": 0.99, "triple_recall": 0.98,
                         "text_exact_frac": 1.0},
             "peak_rss_kb": 2048.0, "untraced_s": [],
             "layer": {}, "trace": None}
        r.update(kw)
        return r

    def test_kg_build(self):
        ops = [{"wall_s": 2.0, "rows": 100, "pages": 10},
               {"wall_s": 4.0, "rows": 100, "pages": 10},
               {"wall_s": 5.0, "rows": 100, "pages": 10},
               {"wall_s": 1.0, "rows": -1, "pages": 10}]  # failed: ignored
        m = metrics.end_to_end(self.raw("kg_build", ops))
        self.assertEqual(m["setup_s"], 2.0 + 2.0 + 3.0)
        self.assertEqual(m["op_p50_s"], 4.0)
        self.assertEqual(m["items_per_s"], 25.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)

    def test_kg_incremental(self):
        ops = [{"wall_s": 2.0, "rows": 0, "pages": 500},
               {"wall_s": 3.0, "rows": 0, "pages": 1000}]
        m = metrics.end_to_end(self.raw("kg_incremental", ops))
        self.assertEqual(m["op_p50_s"], 2.5)
        self.assertEqual(m["items_per_s"], 150.0)

    def test_pipeline_timeline_from_listener(self):
        t = metrics.Trace({
            "spans": [span(0, -1, 0, 1000), span(1, 0, 100, 600)],
            "listener": {
                "jobs": [{"id": 0, "span": 1, "start": 100, "end": 400, "stages": [0]},
                         {"id": 1, "span": 0, "start": 500, "end": 900, "stages": [1]}],
                "stages": [
                    {"id": 0, "tasks": 2, "task_ms": [300, 300], "cpu_ns": 4e8, "gc_ms": 10},
                    {"id": 1, "tasks": 1, "task_ms": [400], "cpu_ns": 2e8, "gc_ms": 0}]},
            "stream_progress": []})
        tl = t.timeline(t.spans[0])
        self.assertEqual(tl["jobs"], 2)
        self.assertEqual(tl["tasks"], 3)
        self.assertAlmostEqual(tl["driver_gap_s"], 0.3)
        self.assertAlmostEqual(tl["occupancy"], 1000 / 4000)
        self.assertAlmostEqual(tl["cpu_s"], 0.6)
        self.assertEqual(t.timeline(t.spans[1])["jobs"], 1)


class Catalogue(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(
            [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
            metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [(n, u, bt) for n, u, bt, _ in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
