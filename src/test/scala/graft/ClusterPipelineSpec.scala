package graft

import graft.api.ModelPipeline
import graft.cluster.ClusterPipeline
import graft.refine.ModelRefresh
import org.apache.spark.sql.functions._

/** K-means stage invariants over the FIXTURES A2 6-doc forced-split
  * corpus (ref 04_cluster_refiner.R:391-398). MLlib Lloyd ≠ R
  * Hartigan-Wong, so correctness = invariants + seed determinism
  * (SURVEY §7.4.3), not assignment bit-parity. */
class ClusterPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "energy battery power electric charging"),
    (2L, "energy storage renewable power battery"),
    (3L, "finance investment risk banking money"),
    (4L, "stock markets economic growth inflation"),
    (5L, "healthcare hospital treatment diagnosis"),
    (6L, "medicine health doctor therapy")
  ).toDF("doc_id", "text")

  test("fit assigns every doc to one of k clusters; sizes sum to n") {
    val fm = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
    val (asg, model) = (fm.assignments, fm.model)
    val a = asg.select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(a.values.forall(c => c >= 0 && c < 3))
    assert(model.clusterCenters.length === 3)
    val sizes = asg.groupBy("cluster").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.sum === 6L)
  }

  test("fit is deterministic under a fixed seed") {
    val a1 = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
      .assignments.select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val a2 = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
      .assignments.select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a1 === a2)
  }

  test("withinss is non-negative and covers every cluster") {
    val fm = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
    val (asg, model) = (fm.assignments, fm.model)
    val centers = model.clusterCenters.zipWithIndex.map { case (v, c) => c -> v }.toMap
    val w = ModelRefresh.withinss(asg, centers).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(w.length === 3)
    w.foreach { case (_, n, ss) => assert(ss >= 0.0); assert(n >= 1L) }
  }

  test("topTerms ranks per-cluster by mass with dense ranks 1..k") {
    val weights = Seq(
      (1L, "energy", 2.0), (1L, "battery", 1.0),
      (2L, "energy", 1.5), (2L, "storage", 1.0),
      (3L, "finance", 3.0)
    ).toDF("doc_id", "term", "weight")
    val asg = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("doc_id", "cluster")
    val got = ClusterPipeline.topTerms(weights, asg, 2)
      .orderBy("cluster", "rnk").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(got === Array(
      (0, "energy", 3.5, 1L), (0, "battery", 1.0, 2L), (1, "finance", 3.0, 1L)))
  }
}
