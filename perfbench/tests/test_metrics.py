"""Self-tests of the benchmark's metric math.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(layer, name, start, end):
    return {"layer": layer, "name": name, "start_ms": start, "end_ms": end}


class Percentiles(unittest.TestCase):
    def test_median_and_interpolation(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(metrics.percentile(range(11), 0.9), 9.0)
        self.assertAlmostEqual(metrics.percentile([0, 10], 0.9), 9.0)

    def test_agrees_with_statistics_quantiles(self):
        xs = [0.31, 0.92, 0.44, 1.7, 0.58, 0.66, 2.4, 0.51]
        q = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), q[8])
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), statistics.median(xs))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_ten_samples_beyond_rule(self):
        # samples strictly above the interpolated rank: p50 needs 20 samples,
        # p90 needs 92
        self.assertEqual(metrics.beyond(20, 0.5), 10)
        self.assertTrue(metrics.supported(20, 0.5))
        self.assertFalse(metrics.supported(19, 0.5))
        self.assertEqual(metrics.beyond(92, 0.9), 10)
        self.assertTrue(metrics.supported(92, 0.9))
        self.assertFalse(metrics.supported(91, 0.9))

    def test_end_to_end_pools_every_ok_sample(self):
        res = {"setup_rounds_s": [9.0, 5.0, 6.0], "retained_heap_mib": 100.0,
               "passes": [
                   {"wall_s": 4.0, "samples": [{"s": 1.0, "ok": True},
                                               {"s": 3.0, "ok": True}]},
                   {"wall_s": 6.0, "samples": [{"s": 2.0, "ok": True},
                                               {"s": 0.1, "ok": False}]}]}
        m = metrics.end_to_end(res)
        self.assertEqual(m["setup_s"], 6.0)
        self.assertEqual(m["wall_s"], 5.0)
        self.assertEqual(m["query_p50_s"], 2.0)
        self.assertAlmostEqual(m["query_p90_s"], 2.8)
        self.assertEqual(metrics.sample_stats(res)["samples"], 3)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_is_duration_minus_union_of_children(self):
        parent = span("driver", "entry", 0, 100)
        kids = [span("exec", "job 1", 10, 40), span("exec", "job 2", 30, 50),
                span("exec", "job 3", 90, 130)]  # overlapping, and one past the end
        self.assertEqual(metrics.self_time(parent, kids), 100 - 40 - 10)

    def test_layers_partition_a_nested_query(self):
        spans = [span("query", "q", 0, 1000),
                 span("driver", "entry", 0, 600), span("driver", "action", 600, 1000),
                 span("catalyst", "analysis", 10, 60),
                 span("exec", "job 0", 100, 500), span("exec", "stage 0", 120, 480),
                 span("catalyst", "planning", 610, 700), span("exec", "job 1", 700, 950)]
        self_s = metrics.layer_self_times(spans)
        # nested tree: each layer's share is the sum of its spans' self_time
        kids = {0: spans[1:3], 1: [spans[3], spans[4]], 2: spans[6:8], 4: [spans[5]]}
        by_span = [metrics.self_time(sp, kids.get(i, [])) / 1e3 for i, sp in enumerate(spans)]
        self.assertAlmostEqual(self_s["driver"], by_span[1] + by_span[2])
        self.assertAlmostEqual(self_s["exec"], by_span[4] + by_span[5] + by_span[7])
        self.assertAlmostEqual(self_s["catalyst"], 0.14)
        self.assertAlmostEqual(self_s["exec"], 0.4 + 0.25)
        self.assertAlmostEqual(self_s["driver"], 1.0 - 0.14 - 0.65)
        self.assertNotIn("bench", self_s)  # entry and action cover the query
        self.assertAlmostEqual(sum(self_s.values()), 1.0)

    def test_overlapping_children_are_counted_once(self):
        spans = [span("query", "q", 0, 100), span("streaming", "batch", 0, 100),
                 span("streaming", "addBatch", 20, 80),
                 span("exec", "job 0", 10, 50), span("exec", "job 1", 40, 90)]
        self_s = metrics.layer_self_times(spans)
        self.assertAlmostEqual(self_s["exec"], 0.08)
        self.assertAlmostEqual(self_s["streaming"], 0.02)
        self.assertAlmostEqual(sum(self_s.values()), 0.1)

    def test_batch_phases_lay_out_in_order_inside_the_batch(self):
        b = {"start_ms": 1000.0, "duration_ms": {
            "triggerExecution": 500, "addBatch": 300, "latestOffset": 20,
            "queryPlanning": 50, "walCommit": 30, "commitOffsets": 40}}
        out = metrics.batch_spans(b)
        self.assertEqual(out[0]["end_ms"], 1500.0)
        self.assertEqual([s["name"] for s in out[1:]],
                         ["latestOffset", "walCommit", "queryPlanning", "addBatch",
                          "commitOffsets"])
        self.assertEqual(out[-1]["end_ms"], 1440.0)
        self_s = metrics.layer_self_times([span("query", "q", 900, 1600)] + out)
        self.assertAlmostEqual(self_s["streaming"], 0.5)
        self.assertAlmostEqual(self_s["bench"], 0.2)

    def test_events_go_to_the_query_holding_their_start(self):
        qs = [span("query", "a", 0, 10), span("query", "b", 20, 30)]
        got = metrics.assign(qs, [span("exec", "job", 5, 7), span("exec", "job", 15, 16),
                                  span("exec", "job", 25, 40)])
        self.assertEqual({k: len(v) for k, v in got.items()}, {0: 1, 1: 1})


class Ratios(unittest.TestCase):
    def test_ratio_keeps_its_base(self):
        r = metrics.ratio(3, 4)
        self.assertEqual((r.value, r.num, r.base), (0.75, 3, 4))

    def test_zero_base_reads_zero(self):
        self.assertEqual(metrics.ratio(0, 0).value, 0.0)

    def test_bases_of_the_per_layer_ratios(self):
        res = traced_run()
        m, bases, split = metrics.per_layer(res)
        # rule_effective_ratio: effective rule runs / rule invocations
        self.assertEqual(bases["catalyst.rule_effective_ratio"], {"num": 3, "base": 12})
        # data_batch_ratio: batches with input rows / all batches
        self.assertEqual(bases["streaming.data_batch_ratio"], {"num": 1, "base": 2})
        # cache_hit_ratio: state-store loads served from the loaded-map cache
        self.assertEqual(bases["state.cache_hit_ratio"], {"num": 6, "base": 8})
        # parallel_speedup: serial pass wall / parallel pass wall
        self.assertEqual(bases["exec.parallel_speedup"], {"num": 3.0, "base": 1.5})
        # jobs_per_query: jobs / queries run in the traced passes
        self.assertEqual(bases["driver.jobs_per_query"], {"num": 1, "base": 1})
        # events_per_s: streaming input rows / stream wall (start to last batch end)
        self.assertEqual(bases["streaming.events_per_s"], {"num": 50, "base": 0.5})
        self.assertAlmostEqual(m["exec.skew"], 3.0)  # max / median task time
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)
        self.assertAlmostEqual(m["driver.self_s"], 1.6 - 0.2 - 0.3)
        self.assertEqual(len(split), 1)


def traced_run():
    stage = {"stage_id": 0, "tasks": 3,
             "task_ms": [10, 10, 30], "run_ms": 45, "cpu_ns": 4e7, "gc_ms": 1,
             "sched_delay_ms": 2, "input_rows": 100, "spill_bytes": 0,
             "peak_mem_bytes": 64, "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
             "shuffle_write_ns": 1e6, "fetch_wait_ms": 0, "task_failures": 0}
    state = {"rows_total": 5, "rows_updated": 5, "rows_removed": 0, "memory_bytes": 99,
             "update_ms": 3, "commit_ms": 4, "cache_hits": 3, "cache_misses": 1}
    return {
        "setup_rounds_s": [5.0], "ensure_rounds_s": [0.5], "retained_heap_mib": 90.0,
        "passes": [{"wall_s": 1.5, "samples": [{"query": "q", "s": 1.5, "ok": True}]}],
        "serial_passes": [{"wall_s": 3.0, "samples": []}],
        "traced_passes": [{"wall_s": 1.6, "samples": [{"query": "q", "s": 1.6, "ok": True}]}],
        "trace": {
            "spans": [dict(span("query", "q", 1000, 2600), query_id=0),
                      dict(span("driver", "entry", 1000, 2000), query_id=0),
                      dict(span("driver", "action", 2000, 2600), query_id=0),
                      dict(span("exec", "job 0", 1100, 1300), query_id=None),
                      dict(span("exec", "stage 0", 1100, 1300), query_id=None)],
            "stages": [stage],
            "batches": [
                {"run_id": "r", "batch_id": 0, "start_ms": 1500, "input_rows": 50,
                 "duration_ms": {"triggerExecution": 200, "addBatch": 150}, "state": [state]},
                {"run_id": "r", "batch_id": 1, "start_ms": 1800, "input_rows": 0,
                 "duration_ms": {"triggerExecution": 100, "addBatch": 50}, "state": [state]}],
            "stream_starts": [{"run_id": "r", "start_ms": 1400}],
            "rules": [{"invocations": 10, "effective": 2},
                      {"invocations": 2, "effective": 1}]},
    }


if __name__ == "__main__":
    unittest.main()
