"""Unit tests of the benchmark's own arithmetic (metrics.py).

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 95), 95)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([3.0], 95), 3.0)
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 40), 2)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class IntervalUnion(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_seconds([]), 0.0)
        self.assertEqual(metrics.union_seconds([(0, 1), (2, 3)]), 2.0)
        self.assertEqual(metrics.union_seconds([(0, 2), (1, 3)]), 3.0)
        self.assertEqual(metrics.union_seconds([(0, 10), (2, 3), (4, 5)]), 10.0)
        self.assertEqual(metrics.union_seconds([(1, 2), (0, 1)]), 2.0)  # touching
        self.assertEqual(metrics.union_seconds([(5, 5), (3, 2)]), 0.0)  # empty or reversed

    def _op(self, jobs, wall=10.0):
        return {"family": "mc", "wall_s": wall, "start_ms": 0, "end_ms": wall * 1e3,
                "spans": [], "execs": {
                    "1": {"root": 1, "start_ms": 0, "plan_s": 0.25,
                          "details": "graft.stats.WeightedGLM$.fit(WeightedGLM.scala:1)"},
                    "2": {"root": 2, "start_ms": 0, "plan_s": 0.5,
                          "details": "graft.core.Windows$.scan(Windows.scala:9)"}},
                "jobs": jobs, "codegen_compiles": 7}

    @staticmethod
    def _job(start, end, ex, cpu=1.0):
        return {"start_ms": start, "end_ms": end, "exec": ex, "stages": 1, "tasks": 4,
                "failed_tasks": 0, "run_s": 2.0, "cpu_s": cpu, "gc_s": 0.1,
                "shuffle_read_mb": 1.0, "shuffle_write_mb": 2.0, "spill_mb": 0.0}

    def test_driver_gap_and_reconciliation(self):
        # stats 1-3 s and 2-4 s, core 6-7 s, an unattributed job 8-9 s
        op = self._op([self._job(1000, 3000, 1), self._job(2000, 4000, 1),
                       self._job(6000, 7000, 2), self._job(8000, 9000, -1)])
        s, mods, _spans, recon = metrics.op_layers(op, cores=4)
        self.assertAlmostEqual(mods["stats"]["job_s"], 3.0)
        self.assertAlmostEqual(mods["core"]["job_s"], 1.0)
        self.assertAlmostEqual(mods["unattributed"]["job_s"], 1.0)
        self.assertAlmostEqual(s["driver_gap_s"], 5.0)
        self.assertAlmostEqual(recon, 0.0)
        self.assertEqual(s["jobs"], 4)
        self.assertAlmostEqual(s["plan_s"], 0.75)
        self.assertAlmostEqual(mods["stats"]["plan_s"], 0.25)
        self.assertAlmostEqual(mods["stats"]["shuffle_mb"], 6.0)
        self.assertAlmostEqual(s["exec_busy_ratio"], 8.0 / (10.0 * 4))
        self.assertEqual(s["codegen_compiles"], 7)

    def test_overlap_across_modules_shows_as_excess(self):
        op = self._op([self._job(0, 4000, 1), self._job(2000, 6000, 2)])
        s, mods, _spans, recon = metrics.op_layers(op, cores=4)
        self.assertAlmostEqual(s["driver_gap_s"], 4.0)
        # 4 s + 4 s of module time + 4 s gap against 10 s wall
        self.assertAlmostEqual(recon, 0.2)

    def test_jobs_clipped_to_op_window(self):
        op = self._op([self._job(9000, 12000, 1)])
        s, mods, _spans, _recon = metrics.op_layers(op, cores=4)
        self.assertAlmostEqual(mods["stats"]["job_s"], 1.0)
        self.assertAlmostEqual(s["driver_gap_s"], 9.0)


class ModuleMapping(unittest.TestCase):
    def test_first_graft_frame_wins(self):
        d = ("graft.stats.WeightedGLM$.$anonfun$logistic$1(WeightedGLM.scala:117)\n"
             "graft.pipeline.TaylorInference$.kwChain(TaylorInference.scala:140)\n"
             "graftbench.McRef.run(Workloads.scala:70)")
        self.assertEqual(metrics.module_of_frames(d), "stats")

    def test_top_level_graft_frames_are_skipped(self):
        d = ("graft.SparkEntry$.queries(SparkEntry.scala:40)\n"
             "graft.llm.Dedup$.exact(Dedup.scala:12)")
        self.assertEqual(metrics.module_of_frames(d), "llm")

    def test_benchmark_issued_action_has_no_frame_module(self):
        d = ("graftbench.Catalog$$anon$1.run(Workloads.scala:200)\n"
             "graft.relational.X$.y(X.scala:1)")
        self.assertIsNone(metrics.module_of_frames(d))
        self.assertIsNone(metrics.module_of_frames(""))
        self.assertIsNone(metrics.module_of_frames(None))

    def test_job_fallbacks(self):
        bench = "graftbench.X.run(W.scala:1)"
        execs = {"5": {"root": 5, "start_ms": 150, "details": bench},
                 "7": {"root": 7, "start_ms": 500, "details": bench},
                 "8": {"root": 8, "start_ms": 5000, "details": bench},
                 "9": {"root": 9, "start_ms": 150, "details": bench, "graft_source": True},
                 "6": {"root": 4, "start_ms": 150, "details": ""},
                 "4": {"root": 4, "start_ms": 150,
                       "details": "graft.hazard.Breslow$.at(B.scala:3)"}}
        spans = [["pps_draw", "sampling", 100, 200], ["outer", "pipeline", 0, 1000],
                 ["query_collect", "relational", 4000, 4500]]
        job = lambda ex, t=150: {"exec": ex, "start_ms": t}
        # no execution id
        self.assertEqual(metrics.job_module(job(-1), execs, spans), "unattributed")
        # execution frames name the module through the root execution
        self.assertEqual(metrics.job_module(job(6), execs, spans), "hazard")
        # benchmark-issued: a plan scanning a graft.sources relation
        self.assertEqual(metrics.job_module(job(9), execs, spans), "sources")
        # else the innermost span covering the execution's start
        self.assertEqual(metrics.job_module(job(5), execs, spans), "sampling")
        self.assertEqual(metrics.job_module(job(7), execs, spans), "pipeline")
        # outside every span: unattributed, whatever the op
        self.assertEqual(metrics.job_module(job(8), execs, spans), "unattributed")
        # an execution the listener never saw starting: span, then unattributed
        self.assertEqual(metrics.job_module(job(99, 150), execs, spans), "sampling")
        self.assertEqual(metrics.job_module(job(99, 9000), execs, spans), "unattributed")

    def test_modules_are_the_job_issuing_packages(self):
        for m in ("functions", "plans"):
            self.assertNotIn(m, metrics.MODULES)
        self.assertEqual(metrics.MODULES[-1], "unattributed")
        d = ("graft.functions.GraftFunctions$.f(GraftFunctions.scala:1)\n"
             "graft.llm.Dedup$.exact(Dedup.scala:12)")
        self.assertEqual(metrics.module_of_frames(d), "llm")


class EndToEnd(unittest.TestCase):
    def test_end_to_end(self):
        raw = {"setup_rounds_s": [4.0, 2.0, 3.0], "live_heap_mb": 100.0,
               "ops": [{"wall_s": w, "ok": True, "check_ok": True} for w in (1.0, 2.0, 6.0)]}
        m = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"][0], 3.0)
        self.assertEqual(m["op_p50_s"][0], 2.0)
        self.assertAlmostEqual(m["ops_per_min"][0], 20.0)
        self.assertEqual(metrics.failures(raw), (3, 0))
        raw["ops"][1]["check_ok"] = False
        raw["ops"][2]["ok"] = False
        self.assertEqual(metrics.failures(raw), (3, 2))


class OutputDigest(unittest.TestCase):
    """The digests are computed in the JVM; this runs their self-test
    (graftbench.DigestSelfTest), compiling the driver first if needed."""

    def test_digest_self_test(self):
        import build
        try:
            build.spark_jars()
        except SystemExit as e:
            self.skipTest(f"cannot build the driver: {e}")
        os.makedirs(build.BUILD, exist_ok=True)
        cp = build.build(quiet=True)
        r = subprocess.run(["java", "-cp", cp, "graftbench.DigestSelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
