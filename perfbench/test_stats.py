"""Unit tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
import unittest

from perfbench import stats as S
from perfbench import trace as T


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(S.percentile(list(range(19)), 0.5))
        self.assertEqual(S.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(S.percentile(list(range(99)), 0.9))
        self.assertEqual(S.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(S.percentile([], 0.5))

    def test_nearest_rank_ignores_order(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(S.percentile(vals, 0.5), 3.0)

    def test_median(self):
        self.assertEqual(S.median([3, 1, 2]), 2)
        self.assertEqual(S.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(S.median([]))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # a contention phase [0, 10] with writer ops on three threads
        spans = [
            {"id": 1, "parent": None, "t0": 0.0, "t1": 10.0},
            {"id": 2, "parent": 1, "t0": 1.0, "t1": 4.0},
            {"id": 3, "parent": 1, "t0": 2.0, "t1": 6.0},
            {"id": 4, "parent": 1, "t0": 8.0, "t1": 9.0},
            {"id": 5, "parent": 2, "t0": 1.5, "t1": 2.5},
        ]
        st = S.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (5.0 + 1.0))
        self.assertAlmostEqual(st[2], 3.0 - 1.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_children_clipped_to_parent(self):
        spans = [{"id": 1, "parent": None, "t0": 0.0, "t1": 2.0},
                 {"id": 2, "parent": 1, "t0": 1.0, "t1": 5.0}]
        self.assertAlmostEqual(S.self_times(spans)[1], 1.0)

    def test_union_length(self):
        self.assertAlmostEqual(
            S.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4.0)
        self.assertAlmostEqual(S.union_length([(0, 2)], 1, 10), 1.0)
        self.assertEqual(S.union_length([], 0, 1), 0.0)

    def test_tracer_writer_threads(self):
        """Writer threads name the phase span as parent; their overlapping
        ops leave the phase only the time no writer was busy."""
        tr = T.Tracer()
        with tr.span("phase", "driver") as phase:
            def writer(w):
                with tr.span(f"w{w}", "driver", parent=phase, op=f"op{w}"):
                    with tr.span("commit", "catalog"):
                        time.sleep(0.05)
            threads = [threading.Thread(target=writer, args=(w,))
                       for w in range(4)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            time.sleep(0.05)
        by_name = {s["name"]: s for s in tr.spans}
        st = S.self_times(tr.spans)
        ops = [s for s in tr.spans if s["name"].startswith("w")]
        self.assertEqual({s["parent"] for s in ops}, {phase})
        commits = [s for s in tr.spans if s["name"] == "commit"]
        self.assertEqual({s["op"] for s in commits},
                         {"op0", "op1", "op2", "op3"})
        busy = S.union_length([(s["t0"], s["t1"]) for s in ops],
                              by_name["phase"]["t0"], by_name["phase"]["t1"])
        p = by_name["phase"]
        self.assertAlmostEqual(st[p["id"]], p["t1"] - p["t0"] - busy)
        self.assertGreaterEqual(st[p["id"]], 0.04)
        # layer totals add each writer's self time once per writer
        layers = S.layer_self_times(tr.spans)
        self.assertAlmostEqual(layers["catalog"],
                               sum(st[s["id"]] for s in commits))

    def test_pool_thread_span_is_adopted(self):
        """A span opened on a helper thread with nothing open is parented
        to the open op span, and so are its counts."""
        tr = T.Tracer()
        with tr.span("op", "driver", op="op7") as sid:
            def pool_work():
                with tr.span("decode", "manifest"):
                    tr.count("decode_n")
            th = threading.Thread(target=pool_work)
            th.start()
            th.join()
        decode = next(s for s in tr.spans if s["name"] == "decode")
        self.assertEqual((decode["parent"], decode["op"]), (sid, "op7"))
        self.assertEqual(tr.counts[("op7", "decode_n")], 1)


class Ratios(unittest.TestCase):
    def test_cache_hit_ratio(self):
        # 3 decodes for 12 manifest lookups: 9 served from the cache
        self.assertAlmostEqual(S.cache_hit_ratio(3, 12), 0.75)
        self.assertEqual(S.cache_hit_ratio(12, 12), 0.0)
        self.assertEqual(S.cache_hit_ratio(0, 0), 0.0)

    def test_bytes_per_user_byte(self):
        self.assertAlmostEqual(S.bytes_per_user_byte(3000, 1000), 3.0)
        with self.assertRaises(ValueError):
            S.bytes_per_user_byte(10, 0)


class EventLog(unittest.TestCase):
    def test_jobs_attributed_by_group(self):
        plan = {"nodeName": "Project", "children": [
            {"nodeName": "ArrowEvalPython", "children": [
                {"nodeName": "MapInPandas", "children": []}]}]}
        events = [
            {"Event": "org.apache.spark.sql.execution.ui."
                      "SparkListenerSQLExecutionStart",
             "executionId": 3, "sparkPlanInfo": plan},
            {"Event": "SparkListenerJobStart", "Job ID": 0,
             "Submission Time": 1000, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "op1",
                            "spark.sql.execution.id": "3"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task Metrics": {"Executor Run Time": 500,
                              "Executor CPU Time": 250_000_000,
                              "JVM GC Time": 10,
                              "Shuffle Write Metrics": {
                                  "Shuffle Bytes Written": 64}}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0,
             "Completion Time": 1750},
            {"Event": "SparkListenerJobStart", "Job ID": 1,
             "Submission Time": 2000, "Stage IDs": [2],
             "Properties": {"spark.jobGroup.id": "check-op1"}},
        ]
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "app-1"), "w") as fh:
                for ev in events:
                    fh.write(json.dumps(ev) + "\n")
            got = T.parse_eventlog(d)
        op = got["op1"]
        self.assertEqual((op["jobs"], op["stages"], op["tasks"]), (1, 2, 1))
        self.assertAlmostEqual(op["job_s"], 0.75)
        self.assertAlmostEqual(op["task_run_s"], 0.5)
        self.assertAlmostEqual(op["task_cpu_s"], 0.25)
        self.assertEqual(op["shuffle_bytes"], 64)
        self.assertEqual(op["python_exec_nodes"], 2)
        self.assertEqual(got["check-op1"]["jobs"], 1)


if __name__ == "__main__":
    unittest.main()
