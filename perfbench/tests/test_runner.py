"""End-to-end tests of the runner JVM: the fence evaluates projected
columns that `count()` prunes, and failing ops are counted, named and left
out of the timings. Each test builds the engine if needed and starts a JVM,
so these take about a minute.

    python3 -m unittest discover -s perfbench/tests
"""

import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402
import run  # noqa: E402


class RunnerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build.ensure_built(run.ROOT, run.BUILD_DIR)
        cls.data = run.ensure_data()

    def run_dir(self, name):
        d = os.path.join(run.BUILD_DIR, "runs", "test-%s-%d" % (name, os.getpid()))
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.addCleanup(shutil.rmtree, d, True)
        return d

    def test_fence_evaluates_columns_count_prunes(self):
        scratch = os.path.join(self.run_dir("fence"), "tmp")
        os.makedirs(scratch)
        cmd = run.jvm_command(self.classpath, scratch, 0,
                              ["perfbench.FenceCheck", self.data, "text_scrub",
                               "regexp_replace"])
        out = subprocess.run(cmd, capture_output=True, text=True, env=run.child_env(),
                             cwd=scratch, timeout=run.JVM_TIMEOUT_S)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        got = json.loads(out.stdout.strip().splitlines()[-1])
        # under count() Catalyst prunes text_scrub's projection away ...
        self.assertFalse(got["count_plan_has"])
        # ... while the fence keeps it, and still counts every row
        self.assertTrue(got["fence_plan_has"])
        self.assertEqual(got["rows"], got["count"])
        self.assertGreater(got["rows"], 0)

    def test_injected_failures_are_counted_and_excluded(self):
        ops = ["q01_group_count", "no_such_op", "q27_semi_anti_join"]
        wconf = {"kind": "query", "ops": ops}
        records = run.run_jvm("injected", wconf, 7, 0, 0, self.classpath, self.data,
                              self.run_dir("inject"))
        expected = run.load_json("expected.json")["relational"]
        expected = {"q01_group_count": expected["q01_group_count"],
                    # an expected output the op cannot match
                    "q27_semi_anti_join": dict(expected["q27_semi_anti_join"], rows=-1)}
        detail = run.summarize("injected", 7, 0, ops, records, expected)
        why = {(v["name"], v["pass"]): v["why"] for v in detail["verdicts"]}
        passes = sorted({p for _, p in why})
        self.assertGreaterEqual(len(passes), 2)
        for p in passes:
            self.assertIsNone(why[("q01_group_count", p)])
            self.assertIn("not in SparkEntry.queries", why[("no_such_op", p)])
            self.assertIn("expected -1", why[("q27_semi_anti_join", p)])

        ok = [v for v in detail["verdicts"] if v["ok"] and v["pass"] > 0]
        self.assertEqual(detail["latency"]["n"], len(passes) - 1)
        self.assertAlmostEqual(detail["end_to_end"]["wall_s"],
                               statistics.median(analysis.latency(v) for v in ok))
        self.assertAlmostEqual(detail["fail_ratio"], 2 / 3)

        buf = io.StringIO()
        run.describe(detail, buf)
        text = buf.getvalue()
        self.assertIn("FAILED op no_such_op", text)
        self.assertIn("FAILED op q27_semi_anti_join", text)
        self.assertIn("fail_ratio=0.6667", text)


if __name__ == "__main__":
    unittest.main()
