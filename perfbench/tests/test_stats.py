"""Tests for the benchmark's arithmetic. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 26))  # 25 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 25)
        self.assertEqual(value, 15)  # rank 15: samples 16..25 lie beyond it
        self.assertAlmostEqual(pct, 60.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 4), stats.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_eleven_samples_is_the_first_with_a_percentile(self):
        value, pct, n = stats.tail(range(11))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_or_fewer_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 9.0, 1.0]), (9.0, 100.0, 3))
        self.assertEqual(stats.tail(range(10)), (9, 100.0, 10))

    def test_no_samples(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class ReportLatencies(unittest.TestCase):
    def test_one_query_gives_its_calls(self):
        self.assertEqual(stats.report_latencies(["a"] * 3, [0.3, 0.1, 0.2]), [0.3, 0.1, 0.2])

    def test_mixed_queries_give_one_median_each(self):
        qs = ["a", "b", "c"] * 3
        xs = [1.0, 5.0, 2.0, 1.2, 9.0, 2.2, 0.8, 5.5, 2.1]
        self.assertEqual(sorted(stats.report_latencies(qs, xs)), [1.0, 2.1, 5.5])

    def test_no_calls(self):
        self.assertEqual(stats.report_latencies([], []), [])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(5, 6), (0, 10)]), 10.0)
        self.assertAlmostEqual(stats.union_length([]), 0.0)

    def test_union_ignores_empty_intervals(self):
        self.assertAlmostEqual(stats.union_length([(3, 3), (4, 2), (0, 1)]), 1.0)

    def test_self_time_is_span_minus_union_of_children(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
                {"start": 8.0, "end": 12.0}]  # the last one outlives the span
        # children cover [1, 5] and [8, 10] inside the span: 6 s
        self.assertAlmostEqual(stats.self_time(span, kids), 4.0)

    def test_self_time_without_children(self):
        self.assertAlmostEqual(stats.self_time({"start": 2.0, "end": 7.5}, []), 5.5)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        jobs = [{"start": 0.5, "end": 1.0}, {"start": 0.8, "end": 2.0},
                {"start": 4.0, "end": 4.5}, {"start": 9.0, "end": 11.0}]
        # jobs cover [0.5, 2] and [4, 4.5] inside [0, 5]: 2 s of 5
        self.assertAlmostEqual(stats.driver_gap(0.0, 5.0, jobs), 3.0)
        self.assertAlmostEqual(stats.driver_gap(0.0, 5.0, []), 5.0)


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "batch": -1,
            "start": start, "end": end, "thread": "main"}


def job(i, span_id, start, end, **kw):
    j = {"id": i, "span": span_id, "start": start, "end": end, "stages": 1, "tasks": 4,
         "busy_s": 1.0, "input_rows": 0, "input_bytes": 0, "csv_rows": 0, "csv_bytes": 0,
         "shuffle_bytes": 0}
    j.update(kw)
    return j


class PerLayer(unittest.TestCase):
    def raw(self):
        spans = [
            span(1, "setup", 0, 0.0, 1.0),
            span(2, "run", 0, 1.0, 11.0),
            span(3, "streaming.drain", 2, 1.0, 3.0),
            span(4, "fold.resume", 2, 3.0, 5.0),
            span(5, "state.upsert", 2, 6.0, 10.0),
            span(6, "ingest.read_csv", 5, 6.0, 6.1),
            span(7, "reports.low_stock", 2, 10.0, 10.5),
            span(8, "state.current", 7, 10.0, 10.1),
            span(9, "state.vacuum", 2, 5.0, 5.5),
            span(10, "state.history", 9, 5.0, 5.2),
        ]
        jobs = [
            job(1, 1, 0.2, 0.8, csv_rows=999),        # set-up: not counted
            job(2, 0, 1.5, 2.5, csv_rows=10, csv_bytes=100),  # micro-batch: no span
            job(3, 4, 3.2, 3.8, input_rows=40, shuffle_bytes=7),
            job(4, 4, 3.6, 4.4, input_rows=60, shuffle_bytes=3),
            job(5, 5, 7.0, 9.0, csv_rows=20, csv_bytes=200),
            job(6, 7, 10.1, 10.4),  # a report query: not on the ingest path
        ]
        return {"cores": 4, "gc_s": 0.1, "live_bytes": 5, "gen_lateness_s": [0.01, 0.03],
                "gen_stage_s": [0.002], "counts": {"fold.changed_keys": 25.0, "fold.steps": 1.0},
                "trace": {"spans": spans, "jobs": jobs,
                          "planning": [{"start": 3.0, "end": 3.1, "planning_s": 0.1},
                                       {"start": 0.1, "end": 0.2, "planning_s": 5.0}],
                          "progress": [{"at": 2.9, "rows": 10, "trigger_s": 1.8,
                                        "add_batch_s": 1.5}]}}

    def test_measured_phase_only_and_drain_attribution(self):
        m = stats.per_layer(self.raw(), batches=2)
        self.assertEqual(m["ingest.csv_rows"], 30)  # micro-batch job + upsert job
        self.assertEqual(m["ingest.csv_bytes"], 300)
        self.assertAlmostEqual(m["streaming.drain_s"], 2.0)
        self.assertAlmostEqual(m["streaming.add_batch_s"], 1.5)
        self.assertAlmostEqual(m["streaming.fixed_s"], 0.5)
        self.assertAlmostEqual(m["fold.s"], 2.0)
        self.assertEqual(m["fold.jobs"], 2)
        self.assertEqual(m["fold.shuffle_bytes"], 10)
        self.assertAlmostEqual(m["fold.input_rows_per_changed_key"], 4.0)
        self.assertAlmostEqual(m["state.upsert_s"], 4.0)
        self.assertEqual(m["state.upsert_jobs"], 1)
        self.assertAlmostEqual(m["driver.jobs_per_batch"], 2.0)  # 4 jobs, 2 batches
        # ops cover [1, 5.5] and [6, 10] (8.5 s); jobs cover 1 + 1.2 + 2 s of it
        self.assertAlmostEqual(m["driver.gap_s"], (8.5 - 4.2) / 2)
        self.assertAlmostEqual(m["driver.planning_s"], 0.05)
        self.assertAlmostEqual(m["driver.task_busy_ratio"], 5.0 / (4 * 10.0))
        self.assertAlmostEqual(m["gen.lateness_s"], 0.03)

    def test_span_summary_self_time_and_gap(self):
        rows = stats.span_summary(self.raw())
        self.assertNotIn("setup", rows)
        up = rows["state.upsert"]
        self.assertEqual(up["calls"], 1)
        self.assertAlmostEqual(up["wall_s"], 4.0)
        self.assertAlmostEqual(up["self_s"], 3.9)  # minus ingest.read_csv
        self.assertEqual(up["jobs"], 1)
        self.assertAlmostEqual(up["gap_s"], 2.0)
        self.assertAlmostEqual(rows["fold.resume"]["gap_s"], 0.8)

    def test_report_queries(self):
        m = stats.per_layer(self.raw(), batches=2)
        self.assertAlmostEqual(m["reports.low_stock_s"], 0.5)
        self.assertEqual(m["reports.jobs"], 1)

    def test_state_reads_are_current_and_history_calls(self):
        m = stats.per_layer(self.raw(), batches=2)
        self.assertAlmostEqual(m["state.history_s"], 0.3)
        self.assertEqual(m["state.read_jobs"], 0)

    def test_layers_a_workload_does_not_touch_read_zero(self):
        m = stats.per_layer(self.raw(), batches=2)
        self.assertEqual(m["state.compact_s"], 0.0)
        self.assertEqual(m["schemasync.sync_s"], 0.0)
        self.assertEqual(m["reports.inventory_status_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
