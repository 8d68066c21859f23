"""Tests for the benchmark's own arithmetic and its metric catalogue.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import stats


def span(name, start, end, parent=None):
    return {"name": name, "parent": parent, "start_ms": start, "end_ms": end,
            "counters": {}}


def job(start, end, tasks=1, input_bytes=0):
    return {"start_ms": start, "end_ms": end, "tasks": tasks,
            "input_bytes": input_bytes, "shuffle_bytes": 0, "spill_bytes": 0}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail([1.0] * 8))

    def test_exactly_ten_samples_lie_beyond_the_reported_value(self):
        for n in (11, 37, 100, 263):
            values = list(range(1, n + 1))
            p, v = stats.tail(values)
            self.assertEqual(sum(1 for x in values if x > v), 10, n)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        parent = span("serve.refresh", 0, 100)
        kids = [span("a", 10, 40, "serve.refresh"),
                span("b", 30, 60, "serve.refresh"),   # overlaps a
                span("c", 90, 130, "serve.refresh")]  # runs past the parent
        self.assertEqual(stats.self_ms(parent, kids), 100 - (50 + 10))
        self.assertEqual(stats.self_ms(parent, []), 100)

    def test_driver_time_is_span_minus_union_of_jobs(self):
        s = span("quality.tests", 1000, 2000)
        jobs = [job(900, 1100),     # started before the span: clipped
                job(1200, 1500), job(1400, 1600),  # overlapping jobs
                job(1900, 2500)]   # ends after the span: clipped
        self.assertEqual(stats.driver_ms(s, jobs), 1000 - (100 + 400 + 100))
        self.assertEqual(stats.driver_ms(s, []), 1000)

    def test_span_counters_attribute_jobs_by_start(self):
        spans = [span("serve.refresh", 1000.4, 2000),
                 span("serve.query.x", 1000.6, 1500, "serve.refresh")]
        jobs = [job(1000, 1400, tasks=3, input_bytes=stats.MB),
                job(1600, 1700, tasks=2), job(2000, 2100, tasks=7)]
        rows = stats.span_counters(spans, jobs)
        self.assertEqual(rows["serve.refresh"]["jobs"], 2)
        self.assertEqual(rows["serve.refresh"]["tasks"], 5)
        self.assertEqual(rows["serve.refresh"]["input_mb"], 1.0)
        self.assertEqual(rows["serve.query.x"]["jobs"], 1)
        self.assertAlmostEqual(rows["serve.refresh"]["self_s"], 0.5002)
        self.assertAlmostEqual(rows["serve.refresh"]["driver_s"], 0.5)


class Catalogue(unittest.TestCase):
    bench = json.loads((Path(__file__).resolve().parent.parent
                        / "BENCHMARK.json").read_text())

    def test_benchmark_json_lists_exactly_the_reported_layer_metrics(self):
        want = [{"name": n, "unit": u, "better": b}
                for n, u, b in stats.layer_catalogue()]
        self.assertEqual(self.bench["per_layer"], want)
        self.assertLessEqual(len(want), 128)

    def test_untraced_run_reports_exactly_the_declared_metrics(self):
        import run
        doc = {"setup_s": 3.0, "heap_mb": 250.0, "cycles": [
            {"run_s": 10.0, "freshness_s": 15.0, "refresh_s": 4.0,
             "cycle_cpu_s": 40.0, "query_ms": {"v%d" % i: 100.0 * i for i in range(1, 9)}}]}
        m, _ = run.end_to_end(doc)
        self.assertEqual({n: u for n, (_, u) in m.items()},
                         {e["name"]: e["unit"] for e in self.bench["end_to_end"]})
        self.assertEqual(m["dash_qps"][0], 2.0)


if __name__ == "__main__":
    unittest.main()
