"""Self-tests of the benchmark's arithmetic and output check.

    python3 perfbench/test_metrics.py
"""

import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_type7_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 11)), 90), 9.1)

    def test_ten_beyond_rule(self):
        # 100 samples: p90 = 90.1, ten samples (91..100) lie beyond it
        xs = list(range(1, 101))
        self.assertEqual(metrics.beyond(xs, 90), 10)
        self.assertEqual(metrics.highest_reportable(xs), 90)
        # 90 samples: p90 = 81.1, only nine beyond, so p75 is the highest
        self.assertEqual(metrics.beyond(xs[:90], 90), 9)
        self.assertEqual(metrics.highest_reportable(xs[:90]), 75)
        # ties at the top do not count as beyond
        self.assertEqual(metrics.beyond([1.0] * 50 + [2.0] * 50, 90), 0)
        self.assertIsNone(metrics.highest_reportable(list(range(15))))
        self.assertEqual(metrics.highest_reportable(list(range(1000))), 99)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_union_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], (0, 10)), 4)
        self.assertEqual(metrics.union_length([(20, 30)], (0, 10)), 0)

    def test_driver_gap(self):
        # 10 ms window, jobs cover 1..4 and 3..6: 5 ms covered, 5 ms gap
        self.assertEqual(metrics.driver_gap((0, 10), [(1, 4), (3, 6)]), 5)
        self.assertEqual(metrics.driver_gap((0, 10), []), 10)
        self.assertEqual(metrics.driver_gap((0, 10), [(-1, 11)]), 0)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 1, "parent": 0, "name": "row", "t0": 0, "t1": 10},
            {"id": 2, "parent": 1, "name": "build", "t0": 1, "t1": 4},
            {"id": 3, "parent": 1, "name": "exec", "t0": 3, "t1": 8},
            {"id": 4, "parent": 3, "name": "inner", "t0": 5, "t1": 6},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["row"]["self"], 3)     # 10 - |[1,8]|
        self.assertEqual(st["build"]["self"], 3)
        self.assertEqual(st["exec"]["self"], 4)    # grandchildren are not subtracted twice
        self.assertEqual(st["inner"]["self"], 1)
        self.assertEqual(st["row"]["total"], 10)


class Attribution(unittest.TestCase):
    SITE = "\n".join([
        "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
        "graft.operators.KMeansPolish$.$anonfun$polish$3(KMeansPolish.scala:88)",
        "graft.pipeline.CarClusteringPipeline$.cluster(CarClusteringPipeline.scala:61)",
        "graft.queries.MLQueries$.$anonfun$q105$1(MLQueries.scala:805)",
        "perfbench.Main$CatalogWorkload.pass(Main.scala:170)",
    ])

    def test_first_graft_frame_wins(self):
        self.assertEqual(metrics.attribute(self.SITE), "operators.KMeansPolish")
        self.assertEqual(metrics.attribute(self.SITE.split("\n", 2)[2]),
                         "pipeline.CarClusteringPipeline")

    def test_inner_classes_and_untracked_objects(self):
        self.assertEqual(metrics.attribute(
            "graft.operators.Dedup$ContainmentIndex.<init>(Dedup.scala:9)"), "operators.Dedup")
        self.assertEqual(metrics.attribute(
            "graft.operators.Layout$.bucketAligned(Layout.scala:9)"), "other")
        self.assertEqual(metrics.attribute(
            "graft.operators.Layout$.bucketAligned(Layout.scala:9)", None), "operators.Layout")
        self.assertEqual(metrics.attribute("graft.Tables$.apply(Tables.scala:16)"), "other")
        self.assertEqual(metrics.attribute("java.lang.Thread.run(Thread.java:840)"), "other")
        self.assertEqual(metrics.attribute(""), "other")

    def test_threadpool_jobs_take_their_execution_or_row(self):
        pool = "org.apache.spark.sql.execution.SQLExecution$.$anonfun$x(SQLExecution.scala:329)"
        jobs = [{"site": pool, "exec": "7", "row": ""},
                {"site": pool, "exec": "8", "row": "q02_pricing_summary"},
                {"site": pool, "exec": "9", "row": ""}]
        names = metrics.attribute_jobs(jobs, {"7": self.SITE},
                                       {"q02_pricing_summary": "queries.RelationalQueries"})
        self.assertEqual(names, ["operators.KMeansPolish", "queries.RelationalQueries", "other"])


def _record(ops, extra=None):
    return {"ops": ops, "extra": extra or {}}


class OutputCheck(unittest.TestCase):
    OPS = [{"name": "q02", "ok": True, "rows": 5, "hash": "abc"},
           {"name": "q05", "ok": True, "rows": 1, "hash": "def"}]
    EXPECTED = {"q02": {"rows": 5, "hash": "abc"}, "q05": {"rows": 1, "hash": None}}
    INGEST = {"loop_ids": 12, "loop_hash": "f0", "oneshot_ids": 12, "oneshot_hash": "f0",
              "planted": 4, "planted_found": 4}

    def test_matching_outputs_pass(self):
        self.assertEqual(metrics.check(_record(self.OPS), self.EXPECTED), (2, 0, []))

    def test_corrupted_expected_value_is_caught(self):
        for field, value in (("hash", "abd"), ("rows", 6)):
            bad = copy.deepcopy(self.EXPECTED)
            bad["q02"][field] = value
            attempted, failed, why = metrics.check(_record(self.OPS), bad)
            self.assertEqual((attempted, failed), (2, 1), field)
            self.assertIn("q02", why[0])

    def test_thrown_and_unknown_rows_fail(self):
        ops = self.OPS + [{"name": "q06", "ok": False, "err": "boom"},
                          {"name": "q07", "ok": True, "rows": 1, "hash": "x"}]
        attempted, failed, _ = metrics.check(_record(ops), self.EXPECTED)
        self.assertEqual((attempted, failed), (4, 2))

    def test_probed_rows_are_checked(self):
        probe = {"probe_ops": [{"name": "q02", "ok": True, "rows": 5, "hash": "abd"}]}
        attempted, failed, why = metrics.check(_record(self.OPS, probe), self.EXPECTED)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("content digest abd", why[0])

    def test_ingest_final_state_is_one_checked_operation(self):
        batches = [{"name": "batch", "ok": True}] * 3
        self.assertEqual(metrics.check(_record(batches, self.INGEST), {})[:2], (4, 0))
        for key, value in (("loop_hash", "f1"), ("oneshot_ids", 11), ("planted_found", 3)):
            corrupt = dict(self.INGEST, **{key: value})
            self.assertEqual(metrics.check(_record(batches, corrupt), {})[:2], (4, 1), key)


class EndToEnd(unittest.TestCase):
    def test_metrics_from_a_synthetic_record(self):
        rec = {
            "setup": {"session_s": 3.0, "touch_s": 1.0},
            "warm_s": 2.0,
            "passes": [{"t0": 0, "t1": 4000}, {"t0": 4000, "t1": 7000}, {"t0": 7000, "t1": 12000}],
            "ops": [{"t0": 0, "t1": 1000 * (i + 1)} for i in range(10)],
        }
        e2e, samples = metrics.end_to_end(rec)
        self.assertAlmostEqual(e2e["setup_s"], 6.0)   # session + touch + warm
        self.assertEqual(e2e["pass_s"], 4.0)
        self.assertEqual(e2e["op_p50_s"], 5.5)
        self.assertAlmostEqual(e2e["op_p90_s"], 9.1)
        self.assertEqual(samples["ops"], 10)
        self.assertEqual(samples["beyond_p90"], 1)


if __name__ == "__main__":
    unittest.main()
