"""Unit tests of the benchmark's offline math: percentiles with their sample
counts, interval unions and self times, correctness verdicts and the
per-layer attribution of a small synthetic trace.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_matches_statistics_inclusive(self):
        xs = [0.3, 1.7, 0.2, 5.0, 2.2, 0.9, 1.1]
        qs = statistics.quantiles(xs, n=10, method="inclusive")
        for i, q in enumerate(qs, start=1):
            self.assertAlmostEqual(analysis.quantile(xs, i / 10), q)

    def test_median_and_ends(self):
        self.assertEqual(analysis.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(analysis.quantile([3, 1, 2, 4], 0.5), 2.5)
        self.assertEqual(analysis.quantile([7], 0.9), 7)
        self.assertEqual(analysis.quantile([1, 9], 0.0), 1)
        self.assertEqual(analysis.quantile([1, 9], 1.0), 9)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            analysis.quantile([], 0.5)

    def test_p90_needs_100_samples(self):
        few = analysis.latency_summary([float(i) for i in range(99)])
        self.assertEqual(few["n"], 99)
        self.assertEqual(few["p50"], 49.0)
        self.assertIsNone(few["p90"])
        many = analysis.latency_summary([float(i) for i in range(101)])
        self.assertEqual(many["n"], 101)
        self.assertAlmostEqual(many["p90"], 90.0)

    def test_empty_summary(self):
        self.assertEqual(analysis.latency_summary([]), {"n": 0, "p50": None, "p90": None})


class SelfTimeTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(analysis.union_length([]), 0.0)
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(analysis.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(analysis.union_length([(0, 10)], 4, 6), 2)
        self.assertEqual(analysis.union_length([(3, 3), (5, 4)]), 0)

    def test_self_time_subtracts_union_of_children(self):
        spans = {
            "root": {"parent": None, "start": 0, "end": 10},
            # two overlapping children cover [1, 6): 5 units, not 7
            "a": {"parent": "root", "start": 1, "end": 5},
            "b": {"parent": "root", "start": 3, "end": 6},
            "a1": {"parent": "a", "start": 2, "end": 3},
        }
        st = analysis.self_times(spans)
        self.assertEqual(st["root"], 5)
        self.assertEqual(st["a"], 3)
        self.assertEqual(st["b"], 3)
        self.assertEqual(st["a1"], 1)
        # a and b overlap on [3, 5), so the self times sum to 2 more than root
        self.assertEqual(sum(st.values()), 12)

    def test_child_outside_parent_is_clipped(self):
        spans = {"p": {"parent": None, "start": 0, "end": 4},
                 "c": {"parent": "p", "start": 2, "end": 9}}
        st = analysis.self_times(spans)
        self.assertEqual(st["p"], 2)

    def test_disjoint_tree_sums_to_root(self):
        spans = {"r": {"parent": None, "start": 0, "end": 8},
                 "x": {"parent": "r", "start": 0, "end": 3},
                 "y": {"parent": "r", "start": 4, "end": 8},
                 "y1": {"parent": "y", "start": 5, "end": 6}}
        self.assertEqual(sum(analysis.self_times(spans).values()), 8)


def op(name, pass_=0, c=0.1, a=0.2, **kw):
    r = {"kind": "op", "pass": pass_, "name": name, "construct_s": c, "action_s": a,
         "error": None}
    r.update(kw)
    return r


class VerdictTest(unittest.TestCase):
    expected = {"q1": {"rows": 5, "digest": "77"}, "q2": {"rows": 3, "digest": None},
                "b": {"params": {"validation_Query1": "9"}}}

    def test_check_op(self):
        e = self.expected
        self.assertIsNone(analysis.check_op(op("q1", rows=5, digest="77"), e["q1"]))
        self.assertIn("rows", analysis.check_op(op("q1", rows=4, digest="77"), e["q1"]))
        self.assertIn("digest", analysis.check_op(op("q1", rows=5, digest="78"), e["q1"]))
        # no digest pinned: any digest with the right row count passes
        self.assertIsNone(analysis.check_op(op("q2", rows=3, digest="1"), e["q2"]))
        self.assertIn("threw", analysis.check_op(op("q1", error="boom"), e["q1"]))
        self.assertIn("no expected", analysis.check_op(op("zz", rows=1), None))
        self.assertIsNone(analysis.check_op(
            op("b", params={"validation_Query1": "9", "backend": "spark"}), e["b"]))
        self.assertIn("validation_Query1", analysis.check_op(
            op("b", params={"validation_Query1": "8"}), e["b"]))

    def test_failed_ops_are_counted_and_left_out_of_timings(self):
        records = [
            {"kind": "setup", "seconds": 9.0},
            # the cold pass: not measured
            op("q1", 0, c=3.0, a=3.0, rows=5, digest="77"),
            op("q2", 0, c=0.0, a=9.0, rows=3, digest="1"),
            {"kind": "pass", "pass": 0, "start_ms": 0, "end_ms": 1},
            op("q1", 1, c=0.5, a=0.5, rows=5, digest="77"),
            op("q2", 1, c=0.0, a=9.0, error="java.lang.RuntimeException: injected"),
            {"kind": "pass", "pass": 1, "start_ms": 1, "end_ms": 2},
            op("q1", 2, c=0.2, a=0.5, rows=5, digest="77"),
            op("q2", 2, c=0.1, a=0.2, rows=3, digest="2"),
            {"kind": "pass", "pass": 2, "start_ms": 2, "end_ms": 3},
            op("q1", 3, c=0.2, a=0.4, rows=5, digest="77"),
            op("q2", 3, c=0.1, a=0.2, rows=3, digest="2"),
            {"kind": "pass", "pass": 3, "start_ms": 3, "end_ms": 4},
            {"kind": "jvm", "gc_s": 0.1, "heap_peak_mb": 10.0, "peak_rss_mb": 100.0},
        ]
        verdicts = analysis.judge(records, ["q1", "q2", "gone"], self.expected)
        bad = {(v["name"], v["pass"]): v["why"] for v in verdicts if not v["ok"]}
        self.assertEqual(set(bad), {("q2", 1)} | {("gone", p) for p in range(4)})
        self.assertEqual(bad[("gone", 2)], "never ran")
        self.assertEqual(analysis.measured_passes(verdicts), [1, 2, 3])
        for got, want in zip(analysis.pass_walls(verdicts, [1, 2, 3]), [1.0, 1.0, 0.9]):
            self.assertAlmostEqual(got, want)
        e2e, lat = analysis.end_to_end(records, verdicts)
        self.assertEqual(e2e["wall_s"], 1.0)  # the 9 s failure is not in pass 1's wall
        self.assertEqual(lat["n"], 5)
        self.assertAlmostEqual(e2e["op_p50_s"], 0.6)
        self.assertEqual(e2e["setup_s"], 9.0)  # from the JVM's launch
        self.assertEqual(e2e["peak_rss_mb"], 100.0)

    def test_harness_split(self):
        etl, ml, stages = analysis.harness_split("plasticc", {
            "total": 10, "total.t_readcsv": 1, "total.t_etl": 2,
            "total.t_train_test_split": 3, "total.t_ml": 4, "total.t_ml.t_training": 3})
        self.assertEqual((etl, ml), (6, 4))
        self.assertEqual(stages["harness.plasticc.t_ml_s"], 4)
        etl, ml, _ = analysis.harness_split("ny_taxi", {"total": 2.5, "total.Query1": 1})
        self.assertEqual((etl, ml), (2.5, 0.0))
        etl, ml, _ = analysis.harness_split("ny_taxi_ml", {
            "total.load_data": 1, "total.filter_df": 1, "total.feature_engineering": 1,
            "total.split_time": 1, "total.train_time": 5})
        self.assertEqual((etl, ml), (4, 5))


class TraceTest(unittest.TestCase):
    """One pass, two ops: op `a` runs a stream batch with one job, op `b`
    one job of two stages that reads an RDD op `a` persisted."""

    records = [
        {"kind": "span", "id": 2, "parent": 1, "layer": "op", "name": "a",
         "start_ms": 0, "end_ms": 100},
        {"kind": "span", "id": 3, "parent": 2, "layer": "construct", "name": "a",
         "start_ms": 0, "end_ms": 80},
        {"kind": "span", "id": 4, "parent": 2, "layer": "action", "name": "a",
         "start_ms": 80, "end_ms": 100},
        {"kind": "span", "id": 5, "parent": 1, "layer": "op", "name": "b",
         "start_ms": 110, "end_ms": 200},
        {"kind": "span", "id": 6, "parent": 5, "layer": "construct", "name": "b",
         "start_ms": 110, "end_ms": 120},
        {"kind": "span", "id": 7, "parent": 5, "layer": "action", "name": "b",
         "start_ms": 120, "end_ms": 200},
        {"kind": "span", "id": 1, "parent": 0, "layer": "workload", "name": "pass0",
         "start_ms": 0, "end_ms": 200},
        {"kind": "cache", "op_span": 1, "persisted_rdds": [1], "stored_bytes": 0},
        {"kind": "cache", "op_span": 2, "persisted_rdds": [1, 7], "stored_bytes": 2 << 20},
        {"kind": "cache", "op_span": 5, "persisted_rdds": [1, 7], "stored_bytes": 1 << 20},
        {"kind": "stream_start", "query": "q", "t_ms": 5},
        {"kind": "batch", "query": "q", "batch": 0, "start_ms": 10,
         "durations": {"triggerExecution": 50, "addBatch": 30, "walCommit": 5,
                       "commitOffsets": 4, "queryPlanning": 3},
         "state_commit_ms": 6, "state_rows": 12, "input_rows": 40},
        {"kind": "job_start", "job": 0, "t_ms": 20, "stages": [0]},
        {"kind": "job_end", "job": 0, "t_ms": 50, "ok": True},
        {"kind": "stage", "stage": 0, "attempt": 0, "submit_ms": 21, "end_ms": 49,
         "tasks": 4, "persisted_rdds": [7], "run_ms": 80, "cpu_ns": 5e7, "gc_ms": 2,
         "input_bytes": 1 << 20, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
         "spill_bytes": 0, "output_bytes": 1 << 20, "output_rows": 9},
        {"kind": "job_start", "job": 1, "t_ms": 130, "stages": [1, 2]},
        {"kind": "job_end", "job": 1, "t_ms": 190, "ok": True},
        {"kind": "stage", "stage": 1, "attempt": 0, "submit_ms": 130, "end_ms": 160,
         "tasks": 4, "persisted_rdds": [7], "run_ms": 100, "cpu_ns": 8e7, "gc_ms": 0,
         "input_bytes": 0, "shuffle_write_bytes": 2 << 20, "shuffle_read_bytes": 0,
         "spill_bytes": 0, "output_bytes": 0, "output_rows": 0},
        {"kind": "stage", "stage": 2, "attempt": 0, "submit_ms": 160, "end_ms": 190,
         "tasks": 2, "persisted_rdds": [], "run_ms": 40, "cpu_ns": 3e7, "gc_ms": 0,
         "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 2 << 20,
         "spill_bytes": 0, "output_bytes": 0, "output_rows": 0},
        {"kind": "plan", "func": "collect", "ok": True, "t_ms": 195,
         "phases": {"analysis": [121, 123], "optimization": [123, 126],
                    "planning": [126, 127]}},
        # set-up events outside the pass are dropped
        {"kind": "job_start", "job": 9, "t_ms": -500, "stages": [9]},
        {"kind": "plan", "func": "collect", "ok": True, "t_ms": -400,
         "phases": {"analysis": [0, 100]}},
    ]

    def setUp(self):
        self.spans = analysis.span_tree(self.records)
        self.owners = analysis.cache_owners(self.records, self.spans, 1)

    def metrics(self, root=1):
        return analysis.layer_metrics(self.records, self.spans, 4, root, self.owners)

    def test_tree(self):
        s = self.spans
        self.assertEqual(s["batch:q:0"]["parent"], 3)
        self.assertEqual(s["job:0"]["parent"], "batch:q:0")
        self.assertEqual(s["job:1"]["parent"], 7)
        self.assertEqual(s["stage:2:0"]["parent"], "job:1")
        self.assertNotIn("job:9", s)

    def test_self_times_reconcile_with_pass(self):
        m = self.metrics()
        total = sum(m["self.%s_s" % layer] for layer in analysis.LAYERS)
        self.assertAlmostEqual(total, 0.2)
        self.assertAlmostEqual(m["self.workload_s"], 0.010)  # the gap between ops
        self.assertAlmostEqual(m["self.construct_s"], (0.080 - 0.050) + 0.010)
        self.assertAlmostEqual(m["self.batch_s"], 0.050 - 0.030)
        self.assertAlmostEqual(m["self.job_s"], (0.030 - 0.028) + (0.060 - 0.060))
        self.assertAlmostEqual(m["self.stage_s"], 0.028 + 0.060)

    def test_layer_metrics(self):
        m = self.metrics()
        self.assertAlmostEqual(m["entry.construct_s"], 0.090)
        self.assertAlmostEqual(m["entry.action_s"], 0.100)
        self.assertEqual(m["planner.executions"], 1)
        self.assertAlmostEqual(m["planner.analysis_s"], 0.002)
        self.assertAlmostEqual(m["planner.physical_s"], 0.001)
        self.assertEqual((m["scheduler.jobs"], m["scheduler.stages"],
                          m["scheduler.tasks"]), (2, 3, 10))
        self.assertAlmostEqual(m["scheduler.job_wall_s"], 0.090)
        # op a: 100 ms, 30 in a job; op b: 90 ms, 60 in a job
        self.assertAlmostEqual(m["scheduler.driver_gap_s"], 0.070 + 0.030)
        self.assertAlmostEqual(m["scheduler.slot_idle_share"], 1 - 0.220 / (0.090 * 4))
        self.assertAlmostEqual(m["exec.task_s"], 0.220)
        self.assertAlmostEqual(m["exec.scan_mb"], 1.0)
        self.assertAlmostEqual(m["exec.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["exec.write_mb"], 1.0)
        self.assertEqual(m["exec.write_rows"], 9)
        self.assertEqual(m["cache.persisted"], 1)  # rdd 7; rdd 1 predates the pass
        self.assertEqual(m["cache.reused"], 1)     # job 1's stage reads job 0's rdd
        self.assertEqual(m["cache.reuse_ratio"], 1.0)
        self.assertAlmostEqual(m["cache.stored_mb_peak"], 2.0)
        self.assertEqual((m["streaming.queries"], m["streaming.batches"]), (1, 1))
        self.assertAlmostEqual(m["streaming.add_batch_s"], 0.030)
        self.assertAlmostEqual(m["streaming.commit_s"], 0.009)
        self.assertAlmostEqual(m["streaming.batch_planning_s"], 0.003)
        self.assertAlmostEqual(m["streaming.state_commit_s"], 0.006)
        self.assertEqual(m["streaming.state_rows"], 12)

    def test_per_op(self):
        a, b = self.metrics(2), self.metrics(5)
        self.assertEqual((a["scheduler.jobs"], b["scheduler.jobs"]), (1, 1))
        self.assertEqual((a["cache.persisted"], b["cache.reused"]), (1, 1))
        self.assertEqual(a["cache.reused"], 0)  # its own job built rdd 7
        self.assertEqual(self.owners, {7: "job:0"})
        self.assertEqual(b["streaming.batches"], 0)


if __name__ == "__main__":
    unittest.main()
