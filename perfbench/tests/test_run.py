import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def op(oid, start_ms, construct_end, plan_end, end_ms):
    return {"type": "op", "op": "q", "id": oid, "pass": 1, "traced": True, "error": None,
            "start_ms": start_ms, "end_ms": end_ms, "latency_s": (end_ms - start_ms) / 1e3,
            "construct_ms": [start_ms, construct_end], "plan_ms": [construct_end, plan_end],
            "execute_ms": [plan_end, end_ms], "analysis_s": 0.0, "optimization_s": 0.0,
            "planning_s": 0.0, "shuffle_exchanges": 0, "broadcast_exchanges": 0,
            "broadcast_bytes": 0, "files_read": 0}


def task(stage, op_id, start_ms, end_ms):
    return {"type": "task", "stage": stage, "op": op_id, "start_ms": start_ms,
            "end_ms": end_ms, "ok": True, "run_ms": end_ms - start_ms}


SETUP = {"start_s": 1.0, "datagen_s": 0.5, "warmup_s": 2.0}


class LayerMetricsTest(unittest.TestCase):
    def records(self):
        return [
            op(0, 0, 100, 200, 1000),
            {"type": "job", "job": 0, "op": "0", "phase": "construct", "start_ms": 10,
             "stages": [0]},
            {"type": "job", "job": 1, "op": "0", "phase": "execute", "start_ms": 250,
             "stages": [1]},
            task(0, "0", 20, 80),
            task(1, "0", 300, 500),
            task(1, "0", 400, 700),
        ]

    def test_gap_is_execute_time_without_tasks(self):
        m, orphans, wall = run.layer_metrics(self.records(), SETUP)
        # execute is 200..1000 ms; tasks cover 300..700 of it
        self.assertAlmostEqual(m["scheduler.gap_s"], 0.4)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["scheduler.tasks"], 3)
        self.assertAlmostEqual(wall, 1.0)
        # 0.56 s of task run time over 1 s of wall on 4 cores
        self.assertAlmostEqual(m["scheduler.core_util"], 0.56 / 4)
        self.assertEqual(orphans, {"jobs": 0, "tasks": 0})

    def test_untagged_work_is_counted(self):
        records = self.records() + [
            {"type": "job", "job": 2, "op": None, "phase": None, "start_ms": 1100,
             "stages": [2]},
            task(2, None, 1100, 1200),
            {"type": "job", "job": 3, "op": "0", "phase": None, "start_ms": 900,
             "stages": [3]},
        ]
        _, orphans, _ = run.layer_metrics(records, SETUP)
        self.assertEqual(orphans, {"jobs": 2, "tasks": 1})


if __name__ == "__main__":
    unittest.main()
