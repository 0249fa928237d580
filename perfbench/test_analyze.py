"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import unittest

import analyze


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(analyze.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(analyze.percentile([5], 0.9), 5)
        self.assertAlmostEqual(analyze.percentile(list(range(101)), 0.99), 99.0)

    def test_ten_beyond_rule(self):
        self.assertTrue(analyze.supported(100, 0.9))
        self.assertFalse(analyze.supported(99, 0.9))
        self.assertTrue(analyze.supported(1000, 0.99))
        self.assertFalse(analyze.supported(999, 0.99))
        self.assertTrue(analyze.supported(20, 0.5))
        self.assertFalse(analyze.supported(19, 0.5))


class GeometricMeanTest(unittest.TestCase):
    def test_each_kind_weighs_the_same(self):
        # the kind with nine samples counts once, like the kind with one
        many = {"point": [100] * 9, "merge": [400]}
        self.assertAlmostEqual(analyze.gmean_of_medians(many), 200.0)

    def test_one_kind_slowing_moves_it_by_a_root(self):
        base = {k: [100, 110, 90] for k in "abcd"}
        slow = dict(base, a=[200, 220, 180])
        ratio = analyze.gmean_of_medians(slow) / analyze.gmean_of_medians(base)
        self.assertAlmostEqual(ratio, 2 ** 0.25)

    def test_no_samples(self):
        self.assertTrue(math.isnan(analyze.gmean_of_medians({"a": []})))


def span(i, parent, start, end, kind="k"):
    return {"id": i, "parent": parent, "start": start, "end": end, "kind": kind,
            "name": str(i), "ok": True}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtract_once_when_overlapping(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50),
                 span(3, 1, 10, 20)]
        st = analyze.self_times(spans)
        self.assertEqual(st[0], 100 - 40)  # children cover [10, 50]
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 10)

    def test_child_outside_parent_is_clipped(self):
        st = analyze.self_times([span(0, -1, 0, 10), span(1, 0, 5, 30)])
        self.assertEqual(st[0], 5)


class LayerTest(unittest.TestCase):
    def test_call_sites(self):
        f = analyze.layer_of_call_site
        self.assertEqual(f("parquet at Tables.scala:32"), "tables")
        self.assertEqual(f("localCheckpoint at SearchQueries.scala:98"), "materialize")
        self.assertEqual(f("parquet at GraftTable.scala:1094"), "acid")
        self.assertEqual(f("start at QueryPack.scala:172"), "stream")
        self.assertEqual(f("save at GateWorkload.scala:52"), "exec")
        self.assertEqual(f("collect at LlmTextQueries.scala:77"), "construct")
        self.assertIsNone(f("run at CompletableFuture.java:1804"))
        self.assertIsNone(f(""))

    def test_aqe_sub_jobs_follow_their_execution(self):
        jobs = [
            {"id": 1, "names": ["save at GateWorkload.scala:52"],
             "props": {"spark.sql.execution.id": "7"}},
            {"id": 2, "names": ["run at CompletableFuture.java:1804"],
             "props": {"spark.sql.execution.id": "7"}},
            {"id": 3, "names": ["run at CompletableFuture.java:1804"],
             "props": {"spark.sql.execution.id": "9"}},
            {"id": 4, "names": ["anything at Whatever.scala:1"],
             "props": {"sql.streaming.queryId": "q"}},
            {"id": 5, "names": ["run at CompletableFuture.java:1804"],
             "props": {"spark.sql.execution.id": "11"}},
        ]
        self.assertEqual(analyze.attribute_jobs(jobs),
                         {1: "exec", 2: "exec", 3: "unattributed", 4: "stream",
                          5: "unattributed"})
        executions = {"11": "parquet at GraftTable.scala:1094"}
        self.assertEqual(analyze.attribute_jobs(jobs, executions)[5], "acid")


def progress(qid, batch, ts, trigger_ms, end_offset, rows):
    return json.dumps({
        "id": qid, "batchId": batch, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [{"startOffset": None, "endOffset": end_offset}],
        "stateOperators": []})


class FeedTest(unittest.TestCase):
    def setUp(self):
        t0 = analyze._epoch_ms("2026-01-01T00:00:00.000Z")
        self.t0 = t0
        # two queries; q1 commits offsets 0-1 at t0+1500, q2 at t0+1800;
        # offset 2 only reaches q1
        self.per_query = analyze.batches([
            progress("q1", 0, "2026-01-01T00:00:01.000Z", 500, 1, 3),
            progress("q2", 0, "2026-01-01T00:00:01.000Z", 800, 1, 3),
            progress("q1", 1, "2026-01-01T00:00:02.000Z", 500, 2, 2),
            progress("q2", 1, "2026-01-01T00:00:02.000Z", 0, 1, 0),
        ])
        self.chunks = [[0, 2, t0 + 0.0, t0 + 100.0, t0 + 101],
                       [1, 1, t0 + 200.0, t0 + 200.0, t0 + 201],
                       [2, 2, t0 + 300.0, t0 + 400.0, t0 + 401]]

    def test_offset_to_batch_join_takes_the_last_view(self):
        lat = analyze.event_latencies(self.chunks, self.per_query)
        # offsets 0 and 1 are visible in both views at t0+1800
        self.assertEqual(lat[:3], [1800.0, 1700.0, 1600.0])
        # offset 2 never reached q2's views
        self.assertEqual(lat[3:], [None, None])

    def test_empty_batches_do_not_commit_events(self):
        per_query = analyze.batches([
            progress("q", 0, "2026-01-01T00:00:01.000Z", 10, 0, 0),
            progress("q", 1, "2026-01-01T00:00:02.000Z", 10, 0, 1)])
        lat = analyze.event_latencies([[0, 1, self.t0, self.t0, self.t0]], per_query)
        self.assertEqual(lat, [2010.0])

    def test_backlog_series_uses_the_slowest_query(self):
        series = analyze.backlog_series(self.chunks, self.per_query)
        # at t0+1500 only q1 has committed; q2 catches up at t0+1800
        self.assertEqual([b for _, b in series], [5, 2, 2, 2])

    def test_burst_capacity_takes_the_slower_query(self):
        per_query = analyze.batches([
            progress("q1", 0, "2026-01-01T00:00:01.000Z", 700, 1, 3),
            progress("q1", 1, "2026-01-01T00:00:05.000Z", 1500, 2, 1000),
            progress("q2", 0, "2026-01-01T00:00:05.000Z", 2000, 2, 1000),
            progress("q2", 1, "2026-01-01T00:00:08.000Z", 50, 2, 0),
        ])
        at = analyze._epoch_ms("2026-01-01T00:00:04.000Z")
        # q1's batch before the burst and q2's empty batch do not count
        self.assertEqual(analyze.burst_capacity(1000, at, per_query), 500.0)
        self.assertTrue(math.isnan(analyze.burst_capacity(1000, at + 10000, per_query)))

    def test_backlog_growth_rule(self):
        flat = [(t * 1000.0, 100 + (t % 2) * 20) for t in range(10)]
        self.assertFalse(analyze.backlog_growing(flat, rate_eps=400))
        growing = [(t * 1000.0, 100 + t * 50) for t in range(10)]
        self.assertTrue(analyze.backlog_growing(growing, rate_eps=400))
        # 5% of the rate is the tolerance: 15 events/s at 400 events/s holds
        slow = [(t * 1000.0, t * 15) for t in range(10)]
        self.assertFalse(analyze.backlog_growing(slow, rate_eps=400))
        self.assertFalse(analyze.backlog_growing(growing[:2], rate_eps=400))


if __name__ == "__main__":
    unittest.main()
