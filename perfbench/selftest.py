"""Self-test of the benchmark's own arithmetic on synthetic inputs:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import pickle
import tempfile
import unittest

import metrics
import tracing


def double(x):
    return 2 * x


class Percentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        pct, v = metrics.tail([float(i) for i in range(100)])
        self.assertEqual((pct, v), (90.0, 89.0))

    def test_small_run(self):
        pct, v = metrics.tail([float(i) for i in range(24)])
        self.assertAlmostEqual(pct, 100 * 14 / 24)
        self.assertEqual(v, 13.0)
        self.assertEqual(sum(x > v for x in range(24)), 10)

    def test_too_few_samples_gives_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10.0)
        self.assertEqual(metrics.union_length([(1, 1), (3, 2)]), 0.0)

    def test_self_time(self):
        spans = [
            {"id": 1, "parent": None, "t0": 0.0, "t1": 10.0},
            {"id": 2, "parent": 1, "t0": 1.0, "t1": 3.0},
            {"id": 3, "parent": 1, "t0": 2.0, "t1": 5.0},
            {"id": 4, "parent": 3, "t0": 2.5, "t1": 4.0},
            {"id": 5, "parent": 1, "t0": 9.0, "t1": 12.0},  # outlives parent
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - 4 - 1)
        self.assertAlmostEqual(st[3], 3 - 1.5)
        self.assertAlmostEqual(st[4], 1.5)

    def test_innermost(self):
        spans = [
            {"id": 1, "t0": 0.0, "t1": 10.0},
            {"id": 2, "t0": 2.0, "t1": 6.0},
            {"id": 3, "t0": 2.0, "t1": 4.0},
        ]
        self.assertEqual(metrics.innermost(spans, 3.0)["id"], 3)
        self.assertEqual(metrics.innermost(spans, 5.0)["id"], 2)
        self.assertEqual(metrics.innermost(spans, 8.0)["id"], 1)
        self.assertIsNone(metrics.innermost(spans, 10.0))

    def test_spread(self):
        self.assertAlmostEqual(metrics.spread([1.0] * 9 + [2.0]), 0.0)
        self.assertGreater(metrics.spread([1.0, 2.0, 3.0, 4.0]), 0.5)


def _job(jid, t0, t1, props=None, **kw):
    j = {"id": jid, "t0": t0, "t1": t1, "props": props or {}, "stages": 1,
         "tasks": 2, "failed_tasks": 0, "cpu_s": 0.5, "gc_s": 0.0, "in_mb": 1.0,
         "out_mb": 0.0, "out_rows": 0, "shw_mb": 0.0, "shr_mb": 0.0, "spill_mb": 0.0}
    j.update(kw)
    return j


class Attribution(unittest.TestCase):
    def setUp(self):
        self.ops = [
            {"id": "a", "t0": 100.0, "t1": 110.0, "build": (100.0, 104.0),
             "execute": (104.0, 110.0)},
            {"id": "b", "t0": 110.0, "t1": 120.0, "build": (110.0, 110.0),
             "execute": (110.0, 120.0)},
        ]
        self.spans = [
            {"id": 1, "parent": None, "layer": "operators.graph", "name": "pagerank",
             "target": None, "t0": 100.5, "t1": 103.5, "op": "a"},
            {"id": 2, "parent": 1, "layer": "functions", "name": "f",
             "target": None, "t0": 101.0, "t1": 101.5, "op": "a"},
            {"id": 3, "parent": None, "layer": "streaming", "name": "run",
             "target": None, "t0": 110.0, "t1": 119.0, "op": "b"},
        ]
        self.jobs = [
            _job(1, 99.0, 99.5),  # warm-up: outside every op
            _job(2, 101.2, 102.0, {"perfbench.op": "a"}),  # in f, inside pagerank
            _job(3, 102.5, 103.0, {"perfbench.op": "a"}),  # in pagerank's self time
            _job(4, 105.0, 109.0),  # no property: attributed by time, to a
            _job(5, 112.0, 113.0, {"sql.streaming.queryId": "q1"}),
            _job(6, 114.0, 116.0, {"sql.streaming.queryId": "q1"}),
        ]
        self.batches = [{"query": "q1", "t": 111.0, "rows": 100, "state": [
            {"rows": 7, "bytes": 2e6, "commit_ms": 100}],
            "ms": {"triggerExecution": 4000, "queryPlanning": 500, "addBatch": 3000,
                   "walCommit": 200, "commitOffsets": 100}}]
        extra = {"start_s": 1.0, "warmup_s": 2.0, "pyworker_cpu_s": 0.0,
                 "files_written": 3}
        self.m, self.recon = tracing.layer_metrics(
            self.ops, self.spans, self.jobs, self.batches,
            [{"name": "edges", "built": True, "secs": 1.5},
             {"name": "edges", "built": False, "secs": 0.0}], extra)

    def test_jobs_go_to_innermost_span(self):
        self.assertEqual(self.jobs[1]["layer"], "functions")
        self.assertEqual(self.jobs[2]["layer"], "operators.graph")
        self.assertEqual(self.jobs[3]["layer"], "queries")
        self.assertEqual(self.jobs[4]["layer"], "streaming")
        self.assertNotIn("layer", self.jobs[0])
        self.assertEqual(self.m["operators.graph.jobs"], 1)
        self.assertEqual(self.m["engine.jobs"], 5)
        self.assertEqual(self.m["queries.build_jobs"], 2)

    def test_driver_gap_and_identities(self):
        # op a: 10 s wall, jobs cover 0.8 + 0.5 + 4; op b: 10 s, jobs 1 + 2
        self.assertAlmostEqual(self.m["queries.driver_gap_s"], (10 - 5.3) + (10 - 3))
        self.assertAlmostEqual(self.m["queries.build_s"] + self.m["queries.execute_s"], 20)
        self.assertAlmostEqual(self.recon["build_execute"], 0.0)
        self.assertAlmostEqual(self.recon["gap_jobs"], 0.0)

    def test_layer_times(self):
        self.assertAlmostEqual(self.m["operators.graph.self_s"], 2.5)
        self.assertAlmostEqual(self.m["functions.self_s"], 0.5)
        self.assertEqual(self.m["functions.calls"], 1)
        self.assertAlmostEqual(self.m["streaming.overhead_s"], 10 - 4)
        self.assertAlmostEqual(self.m["streaming.commit_s"], 0.4)
        self.assertAlmostEqual(self.m["streaming.rows_per_s"], 25)
        self.assertAlmostEqual(self.m["queries.artifact_reuse_ratio"], 0.5)
        self.assertEqual(self.m["queries.artifact_builds"], 1)


class EventLog(unittest.TestCase):
    def test_jobs_and_task_counters(self):
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage IDs": [0, 1], "Properties": {"perfbench.op": "a"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task End Reason": {"Reason": "Success"},
             "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 10,
                              "Input Metrics": {"Bytes Read": 3e6},
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 1e6}}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task End Reason": {"Reason": "ExceptionFailure"},
             "Task Metrics": {"Shuffle Read Metrics": {"Remote Bytes Read": 1e6,
                                                       "Local Bytes Read": 1e6}}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        ]
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "eventlog_v2_app"))
            with open(os.path.join(d, "eventlog_v2_app", "events_1_app"), "w") as fh:
                fh.writelines(json.dumps(e) + "\n" for e in events)
            open(os.path.join(d, "eventlog_v2_app", "appstatus_app"), "w").close()
            (job,) = tracing.read_eventlog(d)
        self.assertEqual((job["t0"], job["t1"]), (1.0, 2.5))
        self.assertEqual((job["stages"], job["tasks"], job["failed_tasks"]), (2, 2, 1))
        self.assertAlmostEqual(job["cpu_s"], 2.0)
        self.assertAlmostEqual(job["shr_mb"], 2.0)
        self.assertAlmostEqual(job["in_mb"], 3.0)


class Wrapper(unittest.TestCase):
    def test_span_and_pickle(self):
        tr = tracing.Tracer()
        w = tracing._Traced(tr, double, "functions")
        tr.op = "x"
        self.assertEqual(w(4), 8)
        (s,) = tr.spans
        self.assertEqual((s["layer"], s["name"], s["op"]), ("functions", "double", "x"))
        self.assertIs(pickle.loads(pickle.dumps(w)), double)


if __name__ == "__main__":
    unittest.main()
