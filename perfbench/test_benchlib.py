"""Tests of the benchmark's pure helpers. Run: python3 -m unittest discover -s perfbench"""
import json
import os
import unittest

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(benchlib.percentile(xs, 50), 5)
        self.assertEqual(benchlib.percentile(xs, 90), 9)
        self.assertEqual(benchlib.percentile(xs, 100), 10)
        self.assertEqual(benchlib.percentile(xs, 0), 1)

    def test_order_free_and_single_sample(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)
        self.assertEqual(benchlib.percentile([7.5], 90), 7.5)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)


def span(i, parent, start, end, layer="api", rep="r"):
    return {"id": i, "name": f"s{i}", "layer": layer, "rep": rep,
            "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                 span(3, 1, 12, 14)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[0], 100 - 40)  # children cover [10, 50)
        self.assertEqual(st[1], 20 - 2)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 2)

    def test_child_outside_parent_is_clipped(self):
        st = benchlib.self_times([span(0, -1, 0, 10), span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)

    def test_union_length(self):
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_layer_table_and_coverage(self):
        spans = [span(0, -1, 0, 10 * 10**9, layer="rep"),
                 span(1, 0, 0, 4 * 10**9, layer="features"),
                 span(2, 0, 5 * 10**9, 9 * 10**9, layer="refine")]
        ix = benchlib.TraceIndex(spans, [], [], [])
        table = benchlib.layer_self_table(ix, {"r"})
        self.assertAlmostEqual(table["rep"], 2.0)
        self.assertAlmostEqual(table["features"], 4.0)
        self.assertAlmostEqual(benchlib.span_coverage(ix, "r", 10.0), 80.0)


class CallSiteLayerTest(unittest.TestCase):
    def callsite(self, *frames):
        return "\n".join(frames)

    def test_innermost_engine_frame_decides(self):
        cs = self.callsite(
            "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)",
            "graft.sources.Tables$.$anonfun$apply$2(Tables.scala:34)",
            "graft.api.ModelPipeline$.$anonfun$counts$1(ModelPipeline.scala:51)")
        self.assertEqual(benchlib.layer_of_callsite(cs), "sources")

    def test_model_pipeline_methods(self):
        counts = "graft.api.ModelPipeline$.$anonfun$counts$1(ModelPipeline.scala:55)"
        fitted = "graft.api.ModelPipeline$.$anonfun$fitted$1(ModelPipeline.scala:99)"
        self.assertEqual(benchlib.layer_of_callsite(counts), "features")
        # `fitted` is not `fit`: the memo wrapper alone is the api layer
        self.assertEqual(benchlib.layer_of_callsite(fitted), "api")
        self.assertEqual(benchlib.layer_of_callsite(
            "graft.api.ModelPipeline$.reportFrom(ModelPipeline.scala:170)"), "cluster")

    def test_mllib_fits_belong_to_cluster_and_refine(self):
        kmeans = self.callsite(
            "org.apache.spark.rdd.RDD.collect(RDD.scala:1)",
            "org.apache.spark.mllib.clustering.KMeans.runAlgorithm(KMeans.scala:333)",
            "org.apache.spark.ml.clustering.KMeans.fit(KMeans.scala:380)",
            "graft.api.ModelPipeline$.fit(ModelPipeline.scala:80)")
        lda = self.callsite(
            "org.apache.spark.mllib.clustering.OnlineLDAOptimizer.next(LDAOptimizer.scala:448)",
            "graft.refine.LdaSplitter$.$anonfun$split$5(LdaSplitter.scala:163)")
        self.assertEqual(benchlib.layer_of_callsite(kmeans), "cluster")
        self.assertEqual(benchlib.layer_of_callsite(lda), "refine")

    def test_package_layers(self):
        for cls, layer in [("graft.text.PosStage$", "features"),
                           ("graft.expressions.X", "features"),
                           ("graft.operators.DedupOps$", "operators"),
                           ("graft.streaming.EventStreams$", "streaming"),
                           ("graft.plans.GraftExtensions", "plans")]:
            self.assertEqual(benchlib.layer_of_callsite(f"{cls}.f(F.scala:1)"), layer)
        self.assertEqual(benchlib.layer_of_callsite(
            "graft.operators.PackOps$.exportManifest(PackOps.scala:990)"), "sources")

    def test_no_engine_frame_falls_back_to_span(self):
        cs = self.callsite(
            "org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:329)",
            "java.base/java.lang.Thread.run(Thread.java:840)")
        self.assertEqual(benchlib.layer_of_callsite(cs, "streaming"), "streaming")
        self.assertEqual(benchlib.layer_of_callsite(cs, "rep"), "bench")
        self.assertEqual(benchlib.layer_of_callsite(None), "bench")


class TraceMetricsTest(unittest.TestCase):
    def test_driver_time_and_job_layers(self):
        s = 10**9
        spans = [span(0, -1, 0, 10 * s, layer="rep", rep="r"),
                 {"id": 1, "name": "refine.lda_split", "layer": "refine",
                  "rep": "r", "parent": 0, "start": 0, "end": 10 * s}]
        jobs = [{"job": 0, "span": 1, "start": 1 * s, "end": 3 * s, "stages": [0], "ok": True},
                {"job": 1, "span": 1, "start": 2 * s, "end": 4 * s, "stages": [1], "ok": True}]
        lda = "org.apache.spark.mllib.clustering.LDA.run(LDA.scala:1)"
        stages = [{"stage": 0, "name": "isEmpty at LDAOptimizer.scala:448", "details": lda,
                   "executor_run_ms": 500, "task_failures": 1},
                  {"stage": 1, "name": "count at X.scala:1", "details": lda,
                   "executor_run_ms": 500}]
        ix = benchlib.TraceIndex(spans, jobs, stages, [])
        m = benchlib.rep_layer_metrics(ix, "r", {"memo_builds": 2})
        self.assertAlmostEqual(m["refine.lda_split_s"], 10.0)
        self.assertAlmostEqual(m["refine.driver_s"], 7.0)  # jobs busy [1, 4)
        self.assertEqual(m["refine.lda_jobs"], 2)
        self.assertEqual(m["cluster.kmeans_jobs"], 0)
        self.assertEqual(m["refine.task_failures"], 1)
        self.assertEqual(m["api.memo_builds"], 2)
        self.assertEqual(set(m), set(benchlib.per_layer_names()))

    def test_unattributed_stage_adds_no_metric(self):
        spans = [span(0, -1, 0, 10, layer="rep", rep="r")]
        jobs = [{"job": 0, "span": 0, "start": 1, "end": 2, "stages": [0], "ok": True}]
        stages = [{"stage": 0, "name": "collect at Workloads.scala:1",
                   "details": "perfbench.Workloads.run(Workloads.scala:1)",
                   "task_failures": 2}]
        m = benchlib.rep_layer_metrics(benchlib.TraceIndex(spans, jobs, stages, []), "r")
        self.assertEqual(set(m), set(benchlib.per_layer_names()))


class SchemaTest(unittest.TestCase):
    def test_result_line_round_trip(self):
        units = {"a_s": "s", "b": "count"}
        line = benchlib.result_line(True, 3, 0, {"a_s": 1.25, "b": 4}, units)
        again = json.loads(json.dumps(line))
        benchlib.check_result_line(again, list(units))
        self.assertEqual(again["metrics"]["a_s"], {"value": 1.25, "unit": "s"})

    def test_bad_lines_are_rejected(self):
        units = {"a_s": "s"}
        good = benchlib.result_line(True, 1, 0, {"a_s": 1.0}, units)
        for broken in (dict(good, extra=1), dict(good, attempted=0),
                       dict(good, failed=-1), dict(good, correct="yes"),
                       dict(good, metrics={}),
                       dict(good, metrics={"a_s": {"value": float("nan"), "unit": "s"}})):
            with self.assertRaises(ValueError):
                benchlib.check_result_line(broken, list(units))

    def test_benchmark_json_matches_the_driver(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        import run
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         benchlib.per_layer_names())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertTrue(all(m["bound"] <= 0.25 for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
