"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertEqual(metrics.samples_beyond(99, 90), 9)
        self.assertEqual(metrics.samples_beyond(50, 80), 10)
        self.assertEqual(metrics.samples_beyond(25, 60), 10)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(metrics.highest_percentile(100), 90.0)
        self.assertEqual(metrics.highest_percentile(99), 80.0)
        self.assertEqual(metrics.highest_percentile(1000), 99.0)
        self.assertEqual(metrics.highest_percentile(20), 50.0)
        self.assertIsNone(metrics.highest_percentile(19))
        for n in range(20, 2000):
            p = metrics.highest_percentile(n)
            self.assertGreaterEqual(metrics.samples_beyond(n, p), 10)

    def test_each_workload_tail_has_ten_beyond(self):
        for workload, (p, min_reads) in metrics.TAIL.items():
            self.assertGreaterEqual(metrics.samples_beyond(min_reads, p), 10, workload)
            self.assertEqual(metrics.highest_percentile(min_reads), p, workload)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 101)), 90), 90.1)
        self.assertEqual(metrics.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_quartile_spread(self):
        self.assertAlmostEqual(metrics.quartile_spread([10.0] * 10), 0.0)
        # quantiles(1..10, n=4) = 2.75, 5.5, 8.25
        self.assertAlmostEqual(metrics.quartile_spread(list(range(1, 11))), 5.5 / 5.5)


def span(i, parent, start, end, jobs=(), stages=(), name="x", run="window", extra=None):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "jobs": list(jobs),
            "stages": list(stages), "name": name, "run": run, "extra": extra or {}}


class SelfTime(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(metrics.union_ms([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(metrics.union_ms([(0, 10), (10, 20)]), 20)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(200, 300)], 0, 100), 0)

    def test_self_time_subtracts_covered_part(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                 span(3, 1, 12, 18), span(4, -1, 200, 210)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 40)   # children cover 10..50
        self.assertEqual(st[1], 20 - 6)     # grandchild covers 12..18
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 6)
        self.assertEqual(st[4], 10)

    def test_driver_time_is_wall_outside_jobs(self):
        self.assertEqual(metrics.driver_ms(span(0, -1, 0, 100, jobs=[(10, 20), (15, 40)])), 70)
        self.assertEqual(metrics.driver_ms(span(0, -1, 0, 100, jobs=[(-5, 110)])), 0)


class Labels(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_clear_gain_is_improved(self):
        change = [80, 81, 79, 80, 82, 78, 80, 81, 79, 80]
        self.assertEqual(metrics.label(self.parent, change, "lower", 0.2), "improved")
        self.assertEqual(metrics.label(change, self.parent, "higher", 0.2), "improved")

    def test_worse_beyond_bound_is_regressed(self):
        change = [130, 131, 129, 130, 132, 128, 130, 131, 129, 130]
        self.assertEqual(metrics.label(self.parent, change, "lower", 0.2), "regressed")

    def test_worse_within_bound(self):
        change = [110, 111, 109, 110, 112, 108, 110, 111, 109, 110]
        self.assertEqual(metrics.label(self.parent, change, "lower", 0.2), "within_bound")

    def test_same_code_is_within_bound(self):
        self.assertEqual(metrics.label(self.parent, list(reversed(self.parent)), "lower", 0.2),
                         "within_bound")

    def test_wide_parent_spread_is_unresolved(self):
        noisy = [60, 140, 80, 120, 100, 50, 150, 90, 110, 100]
        change = [130, 131, 129, 130, 132, 128, 130, 131, 129, 130]
        self.assertEqual(metrics.label(noisy, change, "lower", 0.2), "unresolved")

    def test_wide_spread_but_every_run_better_is_not_unresolved(self):
        noisy = [60, 140, 80, 120, 100, 70, 150, 90, 110, 100]
        change = [40, 41, 39, 40, 42, 38, 40, 41, 39, 40]
        self.assertEqual(metrics.label(noisy, change, "lower", 0.2), "improved")

    def test_ties_count_for_neither_side(self):
        # two tied pairs leave 8 wins of 10: short of nine tenths, though
        # the median moved well past the parent's spread
        change = [100, 101] + [90] * 8
        self.assertEqual(metrics.label(self.parent, change, "lower", 0.2), "within_bound")
        change = [100] + [90] * 9
        self.assertEqual(metrics.label(self.parent, change, "lower", 0.2), "improved")


class FromRecords(unittest.TestCase):
    rec = {"session_ready_s": 4.0, "setup_s": 10.0, "failed": 1, "attempted": 50,
           "peak_rss_kb": 2048 * 1024, "gc_s": 0.5, "values": {"index_files_end": 7},
           "samples": {"read": [float(x) for x in range(1, 51)], "write": [3.0, 5.0, 4.0],
                       "ingest_docs_per_s": [10.0, 30.0, 20.0], "bytes_per_doc": [60.0],
                       "files_written": [16.0], "stage.pack": [1.5, 2.5]}}

    def test_end_to_end(self):
        e = metrics.end_to_end(self.rec, "bulk_load")
        self.assertEqual(e["setup_s"], 14.0)
        self.assertEqual(e["ok_frac"], 0.98)
        self.assertEqual(e["peak_rss_mb"], 2048.0)
        self.assertEqual(e["ingest_docs_per_s"], 20.0)
        self.assertEqual(e["read_p50_ms"], 25.5)
        self.assertAlmostEqual(e["read_tail_ms"], metrics.percentile(self.rec["samples"]["read"], 80))
        self.assertEqual(e["write_p50_ms"], 4.0)

    def test_per_layer_from_spans(self):
        map_stage = {"id": 1, "name": "m", "tasks": 4, "failed": 0, "run_ms": 3000, "cpu_ms": 2000,
                     "gc_ms": 0, "input_bytes": 100, "shuffle_read": 0, "shuffle_write": 500,
                     "spill": 0, "max_task_ms": 900, "median_task_ms": 700}
        write_stage = dict(map_stage, id=2, run_ms=2000, shuffle_write=0, shuffle_read=500,
                           max_task_ms=300, median_task_ms=100, spill=7)
        spans = [span(0, -1, 0, 5000, name="op.load"),
                 span(1, 0, 100, 600, jobs=[(100, 500)], name="transform.infer"),
                 span(2, 0, 600, 4600, jobs=[(700, 4500)], stages=[map_stage, write_stage],
                      name="sink.write"),
                 span(3, -1, 6000, 6100, jobs=[(6010, 6070)], name="sources.get",
                      extra={"files_read": 3}),
                 span(4, -1, 7000, 8000, jobs=[(7100, 7300), (7400, 7600)], name="search.bm25"),
                 span(5, -1, 0, 10, name="search.bm25", run="setup")]
        m = metrics.per_layer(self.rec, spans, ["pack"])
        self.assertEqual(m["transform.infer_s"], 0.5)
        self.assertEqual(m["transform.map_task_s"], 3.0)
        self.assertEqual(m["sink.write_task_s"], 2.0)
        self.assertEqual(m["sink.write_task_skew"], 3.0)
        self.assertEqual(m["sink.exchange_bytes"], 500)
        self.assertEqual(m["sink.spill_bytes"], 7)
        self.assertEqual(m["sources.get_files_read"], 3)
        self.assertEqual(m["sources.get_jobs"], 1)
        self.assertEqual(m["sources.get_driver_ms"], 40)
        self.assertEqual(m["search.bm25_p50_ms"], 1000)     # the set-up span is not counted
        self.assertEqual(m["search.jobs_per_query"], 2)
        self.assertEqual(m["search.driver_ms_per_query"], 600)
        self.assertEqual(m["search.hybrid_p50_ms"], 0.0)    # bypassed layers read 0
        self.assertEqual(m["pipeline.pack_s"], 2.0)
        self.assertEqual(m["streaming.index_files_end"], 7)
        self.assertEqual(m["spark.task_cpu_s"], 4.0)


if __name__ == "__main__":
    unittest.main()
