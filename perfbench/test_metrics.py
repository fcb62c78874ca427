"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_returns_an_observed_value(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertEqual(metrics.percentile(xs, 90), 5.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)

    def test_even_sample_takes_the_lower_middle(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2)

    def test_p90_of_ten_is_the_ninth(self):
        self.assertEqual(metrics.percentile(list(range(1, 11)), 90), 9)

    def test_single_value(self):
        self.assertEqual(metrics.percentile([7.5], 90), 7.5)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 4)], 0, 10), 3)

    def test_overlaps_and_nesting_count_once(self):
        self.assertEqual(metrics.union_length([(0, 5), (1, 2), (4, 7)], 0, 10), 7)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 2), (2, 3)], 0, 10), 3)

    def test_clipped_to_the_window(self):
        self.assertEqual(metrics.union_length([(-5, 1), (9, 20)], 0, 10), 2)

    def test_unfinished_interval_runs_to_window_end(self):
        self.assertEqual(metrics.union_length([(6, float("nan")), (1, None)], 0, 10), 9)

    def test_nothing_inside(self):
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


def span(i, layer, parent, start, end, name="x"):
    return {"id": i, "layer": layer, "name": name, "parent": parent, "op": 0,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    SPANS = [
        span(0, "harness", -1, 0, 100),
        span(1, "ingest", 0, 10, 40),
        span(2, "sink", 0, 50, 90),
        span(3, "ops", 2, 60, 70),
    ]

    def test_self_time_subtracts_direct_children_only(self):
        own = metrics.self_times(self.SPANS)
        self.assertEqual(own, {0: 30, 1: 30, 2: 30, 3: 10})

    def test_self_times_sum_to_the_root(self):
        self.assertEqual(sum(metrics.self_times(self.SPANS).values()), 100)

    def test_layer_totals(self):
        self.assertEqual(metrics.layer_self_ms(self.SPANS),
                         {"harness": 30, "ingest": 30, "sink": 30, "ops": 10})

    def test_orphan_parent_is_ignored(self):
        self.assertEqual(metrics.self_times([span(5, "sink", 99, 0, 4)]), {5: 4})


def raw(workload, ops, **extra):
    base = {"workload": workload, "window_ms": [0.0, 1000.0], "setup_s": [3.0, 1.0, 2.0],
            "heap_peak_mb": 512.0, "ops": ops}
    base.update(extra)
    return base


def op(kind, start, end, items=1, ok=True, traced=False):
    return {"kind": kind, "tag": "", "start": start, "end": end, "items": items, "ok": ok,
            "traced": traced}


class EndToEndTest(unittest.TestCase):
    def test_setup_is_the_median_and_warmup_ops_are_excluded(self):
        r = raw("corpus_curate", [op("curate", -500, -100, 10),
                                  op("curate", 0, 400, 100), op("curate", 400, 900, 100)])
        e = metrics.end_to_end(r)
        self.assertEqual(e["setup_s"], (2.0, "s"))
        self.assertEqual(e["op_ms_p50"], (400, "ms"))
        self.assertNotIn("op_ms_p90", e)
        self.assertAlmostEqual(e["items_per_s"][0], 100 / 0.45)

    def test_failed_ops_are_left_out_of_latency(self):
        r = raw("analyst_queries", [op("query", 0, 100), op("query", 100, 900, ok=False)])
        self.assertEqual(metrics.end_to_end(r)["op_ms_p50"], (100, "ms"))

    def test_ingest_rate_is_rows_over_publish_time(self):
        r = raw("ingest_publish", [op("preview", 0, 100, 10),
                                   op("publish", 100, 600, 1000),
                                   op("preview", 600, 650, 10),
                                   op("publish", 650, 700, 50),
                                   op("publish", 700, 1150, 1000)])
        e = metrics.end_to_end(r)
        self.assertEqual(e["op_ms_p50"], (50, "ms"))
        self.assertAlmostEqual(e["items_per_s"][0], 2050 / 1.0)

    def test_by_tag_splits_a_kind_per_upload(self):
        ops = [op("preview", 0, 100), op("preview", 100, 130), op("preview", 130, 140),
               op("publish", 140, 900)]
        for o, tag in zip(ops, ["csv", "csv", "mdb", "csv"]):
            o["tag"] = tag
        self.assertEqual(metrics.by_tag(raw("ingest_publish", ops), "preview"),
                         {"csv": 30, "mdb": 10})

    def test_stream_rate_spans_the_first_batch_to_the_last(self):
        r = raw("stream_sessionize", [op("batch", 100, 300, 3000), op("batch", 350, 700, 3000)])
        self.assertAlmostEqual(metrics.end_to_end(r)["items_per_s"][0], 6000 / 0.6)

    def test_tracing_overhead_compares_traced_and_untraced_ops(self):
        r = raw("corpus_curate", [op("curate", 0, 100), op("curate", 100, 210, traced=True)])
        self.assertTrue(math.isclose(metrics.tracing_overhead_pct(r), 10.0))


if __name__ == "__main__":
    unittest.main()
