"""Span tree, self times and per-layer sums derived from recorded events,
and the end-to-end figures of a run."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import layers  # noqa: E402
import run  # noqa: E402


def execution(pass_label, query, start, construct_end, end, traced=True):
    return {"pass": pass_label, "query": query, "start": start, "construct_end": construct_end,
            "end": end, "ok": True, "error": "", "traced": traced,
            "counters": {"codegen.compile_ns": 2e6, "codegen.classes": 1, "jvm.gc_ms": 3}}


RUN = {
    "launch_ms": 0.0, "session_ready": 1000.0, "warm_end": 2000.0,
    "passes": [
        {"label": "warm", "traced": True, "start": 1000.0, "end": 2000.0, "counters": {}},
        {"label": "0", "traced": True, "start": 2000.0, "end": 2100.0,
         "counters": {"artifact.count": 1, "artifact.bytes": 2 * layers.MB,
                      "heap_peak_bytes": 2 * layers.MB}},
        {"label": "1", "traced": False, "start": 2100.0, "end": 2180.0,
         "counters": {"heap_peak_bytes": 4 * layers.MB}},
    ],
    "executions": [
        execution("warm", "q", 1000.0, 1500.0, 2000.0),
        execution("0", "q", 2000.0, 2040.0, 2100.0),
        execution("1", "q", 2100.0, 2130.0, 2180.0, traced=False),
        # the untimed check pass: in no pass record, no span, no timing
        execution("check", "q", 2180.0, 2200.0, 2500.0, traced=False),
    ],
    "events": {
        "jobs": [{"id": 1, "start": 2010.0, "end": 2030.0, "stages": [1]},
                 {"id": 2, "start": 2050.0, "end": 2090.0, "stages": [2, 3]}],
        "stages": [
            {"id": 1, "attempt": 0, "start": 2012.0, "end": 2028.0,
             "metrics": {"tasks": 2, "run_ms": 30, "scan_bytes": 100, "scan_tasks": 2}},
            {"id": 2, "attempt": 0, "start": 2052.0, "end": 2070.0,
             "metrics": {"tasks": 4, "run_ms": 60, "shuffle_write_bytes": layers.MB}},
            {"id": 3, "attempt": 0, "start": 2070.0, "end": 2088.0,
             "metrics": {"tasks": 4, "run_ms": 50, "shuffle_read_bytes": layers.MB}},
        ],
        "phases": [{"name": "analysis", "start": 2001.0, "end": 2003.0},
                   {"name": "optimization", "start": 2041.0, "end": 2044.0},
                   {"name": "planning", "start": 2044.0, "end": 2048.0}],
        "batches": [{"start": 2005.0, "trigger_ms": 30.0, "add_batch_ms": 20.0,
                     "commit_ms": 4.0, "state_rows": 7}],
        "storage": [[1500.0, 3 * layers.MB], [2050.0, 5 * layers.MB], [2150.0, 9 * layers.MB]],
    },
}


class LayersTest(unittest.TestCase):
    def setUp(self):
        self.metrics, self.doc = layers.derive(RUN, "wl", 9, cpus=2)
        self.spans = self.doc["spans"]

    def span(self, name, trace="wl/9/0/q"):
        return [s for s in self.spans if s["name"] == name and s["trace"] == trace]

    def test_tree(self):
        by_id = {s["id"]: s for s in self.spans}
        (query,) = self.span("query")
        (construct,) = self.span("construct")
        (batch,) = self.span("stream.batch")
        jobs = self.span("job")
        self.assertEqual(construct["parent"], query["id"])
        self.assertEqual(batch["parent"], construct["id"])
        # the first job starts inside the micro-batch, the second in execute
        self.assertEqual(by_id[jobs[0]["parent"]]["name"], "stream.batch")
        self.assertEqual(by_id[jobs[1]["parent"]]["name"], "execute")
        self.assertEqual({by_id[s["parent"]]["name"] for s in self.span("catalyst.planning")},
                         {"execute"})
        self.assertFalse(self.span("query", "wl/9/1/q"), "untraced passes have no spans")

    def test_self_time(self):
        (execute,) = self.span("execute")
        # 60 ms execute minus optimization 3, planning 4 and job 40
        self.assertAlmostEqual(execute["self_ms"], 13.0)
        (query,) = self.span("query")
        self.assertAlmostEqual(query["self_ms"], 0.0)

    def test_pass_metrics(self):
        m = self.metrics
        self.assertAlmostEqual(m["construct_s"], 0.040)
        self.assertAlmostEqual(m["execute_s"], 0.060)
        self.assertEqual(m["construct_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.stages"], 3)
        self.assertEqual(m["exec.tasks"], 10)
        self.assertAlmostEqual(m["exec.core_util"], 0.14 / (0.1 * 2))
        self.assertAlmostEqual(m["shuffle.write_mb"], 1.0)
        self.assertAlmostEqual(m["storage.peak_mb"], 5.0)
        self.assertAlmostEqual(m["artifact.mb"], 2.0)
        self.assertAlmostEqual(m["stream.overhead_s"], 0.040 - 0.030)
        self.assertAlmostEqual(m["codegen.compile_s"], 0.002)
        self.assertAlmostEqual(m["setup.session_s"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 100 / 80 - 1)


class EndToEndTest(unittest.TestCase):
    def test_ten_beyond(self):
        self.assertEqual(run.ten_beyond(list(range(40))), (29, 75.0))
        self.assertEqual(run.ten_beyond(list(range(10))), (None, None))

    def test_tail_is_the_slowest_query_median(self):
        m, shape = run.end_to_end(RUN)
        self.assertEqual(shape["tail_query"], "q")
        self.assertAlmostEqual(m["query_tail_s"], 0.090)
        self.assertAlmostEqual(m["pass_s"], 0.090)
        self.assertAlmostEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["heap_peak_mb"], 3.0)

    def test_warm_and_check_executions_are_not_timed(self):
        m, shape = run.end_to_end(RUN)
        self.assertEqual(shape["timed_executions"], 2)
        self.assertEqual(shape["timed_passes"], 2)
        self.assertAlmostEqual(m["query_p50_s"], 0.090)


if __name__ == "__main__":
    unittest.main()
