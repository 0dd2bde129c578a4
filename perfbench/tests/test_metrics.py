"""Metric extraction from synthetic spans: self time, listener deltas, job
placement, and the accounting identity (layer self times + unattributed =
traced pass wall time)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402

T0 = 1_000_000.0


def span(i, parent, name, t0, t1, c0, c1, attrs=None, files=0):
    return {"id": i, "parent": parent, "name": name, "pass": 2, "t0": T0 + t0,
            "t1": T0 + t1, "c0": c0, "c1": c1, "attrs": attrs or {}, "files": files}


def counters(**kw):
    base = {k: 0 for k in ["jobs", "stages", "tasks", "failed_tasks", "retried_tasks",
                           "run_ms", "cpu_ns", "shuffle_write", "shuffle_read", "spill",
                           "in_bytes", "in_records", "out_bytes", "out_records"]}
    base.update(kw)
    return base


def result():
    spans = [
        span(0, -1, "functions.ensure", 0, 10, counters(), counters()),
        span(1, -1, "queries.load", 10, 410, counters(), counters(jobs=1, stages=1, tasks=1,
                                                                  run_ms=100)),
        # a save whose transform child launched one job of its own
        span(2, -1, "queries.save", 420, 1420, counters(jobs=1, stages=1, tasks=1, run_ms=100),
             counters(jobs=4, stages=5, tasks=9, run_ms=1700, shuffle_write=300)),
        span(3, 2, "runner.transform", 430, 530,
             counters(jobs=1, stages=1, tasks=1, run_ms=100),
             counters(jobs=2, stages=2, tasks=2, run_ms=200)),
        span(4, -1, "adapters.save", 1500, 2000, counters(jobs=4), counters(
            jobs=5, in_bytes=1000, out_bytes=250, in_records=10, out_records=10, run_ms=800),
            {"adapter": "jdbcColumnar", "source_adapter": "hadoopParquet"}),
        span(5, -1, "io.cache_release", 2000, 2005, counters(jobs=5), counters(jobs=5)),
    ]
    jobs = [[0, T0 + 100], [1, T0 + 450], [2, T0 + 600], [3, T0 + 900], [4, T0 + 1600]]
    ends = [[0, T0 + 300], [1, T0 + 500], [2, T0 + 800], [3, T0 + 1000], [4, T0 + 1900]]
    return {"spans": spans, "jobs": jobs, "job_ends": ends,
            "session_s": 5.0, "first_job_s": 4.0, "stream_events": []}


TRACED = {"index": 2, "wall_s": 2.1, "t0_ms": T0}


class MetricsTest(unittest.TestCase):
    def setUp(self):
        self.r = result()
        self.kids = M.children_of(self.r["spans"])
        self.m = M.layer_metrics(self.r, TRACED, untraced_wall_s=2.0, cores=4)

    def test_self_time_subtracts_children(self):
        save = self.r["spans"][2]
        self.assertAlmostEqual(M.self_time_s(save, self.kids), 0.9)
        self.assertAlmostEqual(self.m["queries.self_s"], 0.4 + 0.9)
        self.assertAlmostEqual(self.m["runner.self_s"], 0.1)

    def test_listener_self_delta(self):
        save = self.r["spans"][2]
        self.assertEqual(M.delta(save, "jobs"), 3)
        self.assertEqual(M.self_delta(save, self.kids, "jobs"), 2)
        self.assertEqual(self.m["queries.jobs"], 1 + 2)
        self.assertAlmostEqual(self.m["queries.exec_run_s"], (100 + 1500) / 1000)
        self.assertEqual(self.m["queries.shuffle_write_bytes"], 300)
        self.assertEqual(self.m["queries.build_jobs"], 1)

    def test_jobs_in_children_are_excluded(self):
        save = self.r["spans"][2]
        self.assertEqual([j for _, j in M.jobs_in(save, self.kids, self.r["jobs"])], [2, 3])
        # first own job starts 180 ms after the save began
        self.assertAlmostEqual(M.pre_first_job_s(save, self.kids, self.r["jobs"]), 0.18)
        # job 2 ends at 800, job 3 starts at 900
        self.assertAlmostEqual(
            M.job_gaps_s(save, self.kids, self.r["jobs"], self.r["job_ends"]), 0.1)

    def test_adapter_volumes_and_jdbc(self):
        self.assertEqual(self.m["adapters.input_bytes"], 1000)
        self.assertAlmostEqual(self.m["adapters.out_per_in_bytes"], 0.25)
        self.assertAlmostEqual(self.m["adapters.jdbc_write_s"], 0.5)
        self.assertEqual(self.m["adapters.jdbc_read_s"], 0)
        self.assertAlmostEqual(self.m["adapters.core_util"], 0.8 / (0.5 * 4))

    def test_accounting_identity(self):
        layers = sum(self.m[f"{layer}.self_s"] for layer in M.LAYERS)
        self.assertAlmostEqual(layers + self.m["runner.unattributed_s"], TRACED["wall_s"])
        # gaps between top-level spans (10 + 80 ms) and after the last (95 ms)
        self.assertAlmostEqual(self.m["runner.unattributed_s"], 0.185)
        self.assertAlmostEqual(self.m["runner.trace_overhead_s"], 0.1)

    def test_stream_progress(self):
        r = result()
        r["spans"] = [span(0, -1, "streaming.stage", 0, 2000, counters(), counters())]
        r["stream_events"] = [
            {"event": "started", "id": "a", "timestamp": "1970-01-01T00:16:40.300Z"},
            {"event": "progress", "progress": {
                "id": "a", "timestamp": "1970-01-01T00:16:40.500Z", "numInputRows": 7,
                "durationMs": {"triggerExecution": 1000, "queryPlanning": 100,
                               "walCommit": 20, "commitOffsets": 30},
                "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 64}]}},
        ]
        m = M.layer_metrics(r, {"index": 2, "wall_s": 2.0, "t0_ms": T0}, 2.0, 4)
        self.assertAlmostEqual(m["streaming.start_s"], 0.3)
        self.assertAlmostEqual(m["streaming.trigger_s"], 1.0)
        self.assertAlmostEqual(m["streaming.planning_s"], 0.1)
        self.assertAlmostEqual(m["streaming.commit_s"], 0.05)
        self.assertEqual(m["streaming.input_rows"], 7)
        self.assertEqual(m["streaming.state_rows"], 5)
        # the batch ended at 1500 ms, the stage returned at 2000 ms
        self.assertAlmostEqual(m["streaming.stop_s"], 0.5)


if __name__ == "__main__":
    unittest.main()
