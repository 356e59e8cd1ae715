import json
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(10, 0, -1))  # 10..1, unsorted on purpose
        self.assertEqual(metrics.percentile(xs, 0.5), 5)
        self.assertEqual(metrics.percentile(xs, 0.9), 9)
        self.assertEqual(metrics.percentile(xs, 1.0), 10)
        self.assertEqual(metrics.percentile(xs, 0.0), 1)

    def test_rank_is_not_pushed_up_by_float_error(self):
        # 0.3 * 10 is 3.0000000000000004 in binary floating point
        self.assertEqual(metrics.percentile(list(range(1, 11)), 0.3), 3)

    def test_odd_and_single(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.percentile([7], 0.9), 7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 2), (5, 7)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (3, 8)]), 3)

    def test_nested_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 9), (2, 3), (4, 6)]), 2)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(metrics.self_time((0, 10), [(20, 30)]), 10)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_time((0, 10), [(0, 4), (4, 10)]), 0)


class JobAttributionTest(unittest.TestCase):
    def test_by_job_group(self):
        jobs = [{"id": 1, "group": "perfbench:3"}, {"id": 2, "group": "perfbench:3"},
                {"id": 3, "group": "perfbench:5"}, {"id": 4, "group": None},
                {"id": 5, "group": "someone-else"}, {"id": 6, "group": "perfbench:9"},
                {"id": 7, "group": "perfbench:x"}]
        by_span, unattributed = metrics.attribute_jobs(jobs, {3, 5})
        self.assertEqual([j["id"] for j in by_span[3]], [1, 2])
        self.assertEqual([j["id"] for j in by_span[5]], [3])
        self.assertEqual(sorted(j["id"] for j in unattributed), [4, 5, 6, 7])


class TraceTest(unittest.TestCase):
    def raw(self):
        ms = 1_000_000
        spans = [
            {"id": 0, "parent": -1, "name": "run", "key": "", "start_ns": 0, "end_ns": 100 * ms},
            {"id": 1, "parent": 0, "name": "pass.warm", "key": "", "start_ns": 0, "end_ns": 100 * ms},
            {"id": 2, "parent": 1, "name": "key", "key": "k", "start_ns": 0, "end_ns": 90 * ms},
            {"id": 3, "parent": 2, "name": "build", "key": "k", "start_ns": 0, "end_ns": 20 * ms},
            {"id": 4, "parent": 2, "name": "exec", "key": "k", "start_ns": 20 * ms, "end_ns": 80 * ms},
        ]
        stage = {"tasks": 2, "failed_tasks": 0, "cpu_ns": 10 * ms, "run_ms": 12, "sched_delay_ms": 1,
                 "spill_bytes": 0, "peak_exec_mem": 0, "input_bytes": 2_000_000,
                 "shuffle_write_bytes": 1_000_000, "shuffle_read_bytes": 0, "records_written": 5,
                 "fetch_wait_ms": 0, "write_time_ns": 0, "task_read_bytes": [], "max_task_ms": 8,
                 "rdds": [7]}
        return {
            "spans": spans,
            "jobs": [{"id": 0, "group": "perfbench:3", "start_ms": 5, "end_ms": 15, "stages": [0]},
                     {"id": 1, "group": "perfbench:4", "start_ms": 30, "end_ms": 70, "stages": [1]}],
            "stages": [dict(stage, id=0, name="localCheckpoint at Checkpoints.scala:31",
                            submit_ms=6, complete_ms=14),
                       dict(stage, id=1, name="save at X.scala:1", submit_ms=30, complete_ms=70, rdds=[8])],
            "queries": [{"span": 4, "phases": {"planning": [22, 25]},
                         "ops": {"op.Exchange.rows": 3.0, "pairs.agg_rows": 5.0, "pairs.gen_rows": 10.0}}],
            "storage": [{"span": 2, "rdds": [[7, 4_000_000], [9, 1_000_000]]}],
        }

    def test_pass_layers(self):
        raw = self.raw()
        m = metrics.Trace(raw).pass_layers(
            {"span": 1, "start_ns": 0, "end_ns": 100_000_000, "gc_ms": 10, "codegen_compiles": 3}, cold_jit_ms=0)
        self.assertAlmostEqual(m["build.s"], 0.02)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertAlmostEqual(m["plan.s"], 0.003)
        # exec span 20..80 ms, covered by planning 22..25 and the job 30..70
        self.assertAlmostEqual(m["self.exec_s"], 0.017)
        self.assertAlmostEqual(m["self.key_s"], 0.01)
        self.assertEqual(m["ckpt.fills"], 1)
        self.assertAlmostEqual(m["ckpt.mb"], 4.0)
        self.assertEqual(m["cache.fills"], 1)
        self.assertAlmostEqual(m["cache.resident_mb"], 1.0)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["shuffle.write_mb"], 2.0)
        self.assertAlmostEqual(m["exec.input_mb"], 4.0)
        self.assertAlmostEqual(m["self.stage_s"], 0.048)
        self.assertAlmostEqual(m["self.job_s"], 0.002)
        self.assertAlmostEqual(m["pairs.kept_ratio"], 0.5)
        self.assertAlmostEqual(m["trace.key_cover"], 0.9)
        self.assertEqual(m["codegen.compiles"], 3)

    def test_layers_without_work_are_zero(self):
        raw = dict(self.raw(), storage=[])
        m = metrics.Trace(raw).pass_layers(
            {"span": 1, "start_ns": 0, "end_ns": 100_000_000, "gc_ms": 0, "codegen_compiles": 0}, cold_jit_ms=0)
        self.assertEqual((m["cache.fills"], m["cache.resident_mb"], m["ckpt.mb"]), (0, 0, 0))


class TimedPassesTest(unittest.TestCase):
    def passes(self, *traced):
        return {"passes": [{"kind": "cold", "traced": False}, {"kind": "warmup", "traced": False, "i": -2},
                           {"kind": "warmup", "traced": False, "i": -1}] +
                [{"kind": "warm", "traced": t, "i": i} for i, t in enumerate(traced)]}

    def test_cold_and_warm_up_passes_are_left_out(self):
        raw = self.passes(True, False, True, False)
        self.assertEqual([p["i"] for p in metrics.timed_passes(raw, traced=False)], [1, 3])
        self.assertEqual([p["i"] for p in metrics.timed_passes(raw, traced=True)], [0, 2])

    def test_per_key_uses_timed_untraced_passes(self):
        def p(kind, traced, s):
            return {"kind": kind, "traced": traced, "keys": [{"key": "k", "start_ns": 0, "end_ns": int(s * 1e9)}]}
        raw = {"passes": [p("cold", False, 9), p("warmup", False, 5), p("warm", True, 4),
                          p("warm", False, 2), p("warm", False, 3)]}
        self.assertEqual(metrics.per_key(raw), {"k": {"cold_s": 9, "warm_median_s": 2.5}})


class BenchmarkJsonTest(unittest.TestCase):
    def test_computes_every_end_to_end_metric(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        raw = {"passes": [{"kind": "cold", "traced": False, "start_ns": 0, "end_ns": 1, "keys": [],
                           "jit_ms": 0}],
               "setup_ns": [1, 2, 3], "keys": ["k"], "jvm": {}}
        raw["passes"].append({"kind": "warm", "traced": False, "start_ns": 1, "end_ns": 2, "keys": [],
                              "cpu_ns": 1, "shuffle_write_bytes": 1})
        names = [m["name"] for m in bench["end_to_end"]]
        e2e = metrics.end_to_end(raw, {})
        self.assertEqual(sorted(names), sorted(e2e))
        self.assertEqual(e2e["setup_s"], 2.5e-9)  # the first, cold set-up is left out


class CompareTest(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertIsNone(check.compare(a, b))

    def test_mismatches(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertIn("rows", check.compare(a, a.head(1)))
        self.assertIn("maxdiff", check.compare(a, a.assign(v=[0.5, 1.5000001])))
        self.assertIn("dtype", check.compare(a, a.assign(k=[1.0, 2.0])))
        self.assertIn("columns", check.compare(a, a.rename(columns={"v": "w"})))


if __name__ == "__main__":
    unittest.main()
