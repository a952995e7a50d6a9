"""Tests of the benchmark's own arithmetic, and of its output checks.

    python3 -m unittest discover -s sinkbench -p 'test_*.py'

The arithmetic tests need nothing but Python. `SelfTest` runs the
benchmark with one committed row altered and expects the run to fail; it
builds and starts Spark, so it runs only with SINKBENCH_SELFTEST=1.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
from metrics import (backlog_growth, backlog_max, freshness, late_triggers,  # noqa: E402
                     lateness, pct, self_times, slope, tail_ok, union_length)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(pct(xs, 0.5), 50)
        self.assertEqual(pct(xs, 0.9), 90)
        self.assertEqual(pct([3.0], 0.9), 3.0)
        self.assertEqual(pct([5, 1, 3], 0.5), 3)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertTrue(tail_ok(100, 0.9))
        self.assertFalse(tail_ok(99, 0.9))
        self.assertFalse(tail_ok(20, 0.9))
        self.assertTrue(tail_ok(20, 0.5))


def prog(batch, start, dur_ms, s_off, e_off, rows=10, origin_ms=0):
    """One progress record; `start` is on the run's time axis, which is
    `origin_ms` epoch milliseconds after the epoch."""
    return {"query": "q", "batch": batch, "start": start, "rows": rows,
            "start_ms": origin_ms + round(start * 1e3),
            "durations": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10},
            "start_offset": s_off, "end_offset": e_off}


class OpenLoop(unittest.TestCase):
    # appends: (due, actual, memory-stream offset, rows)
    appends = [(0.00, 0.01, 0, 10), (0.50, 0.52, 1, 10), (1.00, 1.30, 2, 10),
               (1.50, 1.50, 3, 10)]
    progress = [prog(0, 1.0, 400, -1, 1), prog(1, 2.0, 200, 1, 3)]

    def test_lateness_is_actual_minus_due(self):
        got = lateness(self.appends)
        for g, w in zip(got, [0.01, 0.02, 0.30, 0.0]):
            self.assertAlmostEqual(g, w)

    def test_freshness_counts_from_due_time_to_batch_end(self):
        got = freshness(self.appends, self.progress)
        # appends 0,1 commit in batch 0 (ends 1.4), 2,3 in batch 1 (ends 2.2)
        for g, w in zip(got, [1.4, 0.9, 1.2, 0.7]):
            self.assertAlmostEqual(g, w)
        self.assertEqual(freshness([(3.0, 3.0, 9, 1)], self.progress), [None])

    def test_backlog_is_appended_minus_finished(self):
        # 20 rows in before batch 0 ends at 1.4, 40 before batch 1 ends
        self.assertEqual(backlog_max(self.appends, self.progress, 0, 3), 30)

    def test_backlog_growth_compares_first_and_last_batch_end(self):
        # the fixture keeps up: 20 rows waiting after each batch
        self.assertEqual(backlog_growth(self.appends, self.progress, 0, 3), 0)
        # 10 rows per second in, 10 rows per two-second batch out
        appends = [(t, t, t, 10) for t in range(4)]
        progress = [prog(0, 1.0, 500, -1, 0), prog(1, 3.0, 500, 0, 1)]
        self.assertEqual(backlog_growth(appends, progress, 0, 4), 10)
        self.assertEqual(backlog_growth(appends, progress, 0, 2), 0.0)

    def test_late_triggers_are_off_the_interval_grid(self):
        ps = [prog(0, 2.0, 100, -1, 0), prog(1, 4.01, 100, 0, 1),
              prog(2, 6.3, 100, 1, 2)]
        self.assertEqual(late_triggers(ps, 2.0), 1)

    def test_late_triggers_use_epoch_time_not_the_run_origin(self):
        # the run's clock starts 1.234 s past a tick of the epoch grid, so
        # on-time batches sit at run times 0.766, 2.766, ...
        origin = 1_700_000_001_234
        ps = [prog(0, 0.766, 100, -1, 0, origin_ms=origin),
              prog(1, 2.78, 100, 0, 1, origin_ms=origin),
              prog(2, 5.2, 100, 1, 2, origin_ms=origin)]
        self.assertEqual(late_triggers(ps, 2.0), 1)


class Spans(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertAlmostEqual(union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertAlmostEqual(union_length([(-1, 2), (8, 12)], 0, 10), 4)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
            {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 0.5)

    def test_trigger_parts_and_jobs_nest_under_the_op(self):
        raw = {"query": "q",
               "spans": [{"id": 1, "parent": 0, "name": "w", "op": "", "start": 0, "end": 9},
                         {"id": 2, "parent": 1, "name": "timed", "op": "", "start": 0, "end": 9},
                         {"id": 3, "parent": 2, "name": "batch", "op": "chunk0",
                          "start": 1.0, "end": 3.0}],
               "progress": [{"query": "q", "batch": 0, "start": 1.1, "rows": 5,
                             "durations": {"triggerExecution": 1800, "latestOffset": 100,
                                           "addBatch": 1500, "commitOffsets": 100},
                             "start_offset": -1, "end_offset": 0}],
               "jobs": [{"id": 0, "op": "batch:q:0", "start": 1.3, "end": 1.9}]}
        tree, ops = layers.build_tree(raw)
        self.assertEqual([o["op"] for o in ops], ["chunk0"])
        names = {s["name"]: s for s in tree}
        self.assertEqual(names["trigger"]["parent"], 3)
        self.assertEqual(names["job"]["parent"], names["addBatch"]["id"])
        st = self_times(tree)
        # every second of the op is somebody's self time
        total = sum(st[s["id"]] for s in tree if s["op"] == "chunk0")
        self.assertAlmostEqual(total, 2.0)
        self.assertAlmostEqual(st[names["addBatch"]["id"]], 0.9)


class Slope(unittest.TestCase):
    def test_least_squares(self):
        self.assertAlmostEqual(slope([0, 1, 2, 3], [1, 3, 5, 7]), 2.0)
        self.assertEqual(slope([1], [1]), 0.0)


@unittest.skipUnless(os.environ.get("SINKBENCH_SELFTEST") == "1",
                     "set SINKBENCH_SELFTEST=1 to run the benchmark end to end")
class SelfTest(unittest.TestCase):
    def run_bench(self, workload, *extra):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", "7", "--seconds", "3",
                            "--trace", "0", *extra],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])

    def test_corrupted_output_is_caught(self):
        for w in ("read_mix", "backlog_demux"):
            code, res = self.run_bench(w, "--corrupt")
            self.assertNotEqual(code, 0, w)
            self.assertFalse(res["correct"], w)
            self.assertGreater(res["failed"], 0, w)

    def test_clean_run_passes(self):
        code, res = self.run_bench("read_mix")
        self.assertEqual(code, 0)
        self.assertTrue(res["correct"])


if __name__ == "__main__":
    unittest.main()
