package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-cluster top terms of the K-means stage (SURVEY §2.9 M1,
  * §2.5 T2/T3), re-expressing the reference's apply_clustering
  * (ref 02_build_models.R:183-190). The fit itself is
  * [[graft.api.ModelPipeline.fit]]: MLlib KMeans (Lloyd) replaces R's
  * Hartigan-Wong — identical assignments are not guaranteed; correctness
  * is invariants + fixed-seed reproducibility (SURVEY §7.4.3). Sizes and
  * within-cluster SSQ (A4/A5) are [[graft.refine.ModelRefresh]]'s.
  */
object ClusterPipeline {

  /** T3 top-k terms per cluster by summed TF-IDF mass (ref
    * extract_cluster_terms 02_build_models.R:617-642). Ranks on the
    * 6dp-rounded mass (term asc tiebreak) — float summation order varies
    * with partitioning, so raw-sum ranking would be nondeterministic. */
  def topTerms(weights: DataFrame, assignments: DataFrame, topN: Int): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("mass").desc, col("term"))
    weights.join(assignments.select(col("doc_id"), col("cluster")), "doc_id")
      .groupBy(col("cluster"), col("term"))
      .agg(round(sum(col("weight")), 6).as("mass"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("cluster"), col("term"), col("mass"), col("rnk"))
  }
}
