"""Tests of the benchmark's own logic.

Run from the repository root: python3 -B -m unittest discover -s etlbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import guard  # noqa: E402
import trace  # noqa: E402


class ModuleOfCallSite(unittest.TestCase):
    def test_innermost_graft_frame_names_the_package(self):
        frames = ["org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
                  "graft.mlx.Clustering$.fitKmeans(Clustering.scala:136)",
                  "graft.Pipeline$.run(Pipeline.scala:60)"]
        self.assertEqual(trace.module_of_frames(frames), "mlx")

    def test_main_frames_name_the_main(self):
        self.assertEqual(trace.module_of_frames(
            ["app//graft.Pipeline$.$anonfun$run$3(Pipeline.scala:71)"]), "Pipeline")
        self.assertEqual(trace.module_of_frames(
            ["graft.Curate$.$anonfun$run$2(Curate.scala:246)"]), "Curate")

    def test_glue_objects_are_skipped(self):
        frames = ["graft.Sessions$.withConfs(Registry.scala:301)",
                  "graft.Memos$.track(Registry.scala:190)",
                  "graft.ext.Graph$.pagerank(Graph.scala:88)"]
        self.assertEqual(trace.module_of_frames(frames), "ext")

    def test_no_graft_frame_falls_back_to_the_owner(self):
        frames = ["etlbench.Catalog.nextBatch(EtlBench.scala:250)"]
        self.assertEqual(trace.module_of_frames(frames, "ops"), "ops")
        self.assertIsNone(trace.module_of_frames([]))

    def test_registry_lambda_classes(self):
        self.assertEqual(trace.module_of_class(
            "graft.streaming.EventStream$$$Lambda$234/0x00007f1ec015ac40"), "streaming")
        self.assertIsNone(trace.module_of_class(
            "graft.PipelineBench$$$Lambda$247/0x00007f1ec0160000"))
        self.assertIsNone(trace.module_of_class("org.apache.spark.rdd.RDD"))


class SupportedPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(trace.supported_percentile(19))
        self.assertEqual(trace.supported_percentile(20), 50)
        self.assertEqual(trace.supported_percentile(99), 50)
        self.assertEqual(trace.supported_percentile(100), 90)
        self.assertEqual(trace.supported_percentile(999), 90)
        self.assertEqual(trace.supported_percentile(1000), 99)
        self.assertEqual(trace.supported_percentile(10000), 99.9)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(trace.union_s([(0, 1000), (500, 1500), (3000, 4000)]), 2.5)
        self.assertAlmostEqual(trace.union_s([(0, 1000), (500, 1500)], 200, 1200), 1.0)

    def test_self_time_subtracts_children(self):
        op = {"name": "q", "t0": 0, "t1": 1000, "wall_s": 1.0, "ok": True}
        events = [
            {"type": "sql_start", "sql": 1, "root": 1, "t": 100, "frames": [],
             "cached_scans": 0, "other_scans": 1, "write": False, "jdbc": False},
            {"type": "sql_end", "sql": 1, "t": 900},
            {"type": "job_start", "job": 0, "t": 200, "stages": [0], "sql": 1, "frames": []},
            {"type": "job_end", "job": 0, "t": 600},
        ]
        by_id = {s["id"]: s for s in trace.spans([op], events, lambda o: "ops")}
        self.assertAlmostEqual(by_id["op0"]["self_s"], 0.2)
        self.assertAlmostEqual(by_id["sql1"]["self_s"], 0.4)
        self.assertEqual(by_id["job0"]["parent"], "sql1")
        layer = trace.per_layer([op], events, 4, lambda o: "ops", 1.0)
        self.assertAlmostEqual(layer["driver.idle_s"], 0.6)
        self.assertEqual(layer["ops.jobs"], 1)


class WorkspaceGuard(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.repo = self.tmp.name
        os.makedirs(os.path.join(self.repo, "src"))
        os.makedirs(os.path.join(self.repo, "work"))
        with open(os.path.join(self.repo, "src", "a.scala"), "w") as f:
            f.write("object A")
        self.work = os.path.join(self.repo, "work")

    def tearDown(self):
        self.tmp.cleanup()

    def snap(self):
        return guard.snapshot([self.repo], exclude=[self.work])

    def test_quiet_run_and_work_dir_writes_pass(self):
        before = self.snap()
        with open(os.path.join(self.work, "out.parquet"), "w") as f:
            f.write("x")
        self.assertEqual(guard.diff(before, self.snap()), [])

    def test_planted_write_fires(self):
        before = self.snap()
        os.makedirs(os.path.join(self.repo, "target", "tmp"))
        with open(os.path.join(self.repo, "target", "tmp", "derby.log"), "w") as f:
            f.write("boot")
        changed = guard.diff(before, self.snap())
        self.assertIn("created " + os.path.join(self.repo, "target", "tmp", "derby.log"), changed)

    def test_modified_and_deleted_files_fire(self):
        before = self.snap()
        with open(os.path.join(self.repo, "src", "a.scala"), "a") as f:
            f.write(" // edit")
        self.assertEqual(guard.diff(before, self.snap()),
                         ["modified " + os.path.join(self.repo, "src", "a.scala")])
        before = self.snap()
        os.remove(os.path.join(self.repo, "src", "a.scala"))
        self.assertEqual(guard.diff(before, self.snap()),
                         ["deleted " + os.path.join(self.repo, "src", "a.scala")])

    def test_missing_root_that_appears_fires(self):
        ghost = os.path.join(self.repo, "elsewhere")
        before = guard.snapshot([ghost])
        os.makedirs(ghost)
        self.assertEqual(guard.diff(before, guard.snapshot([ghost])), ["created " + ghost])


if __name__ == "__main__":
    unittest.main()
