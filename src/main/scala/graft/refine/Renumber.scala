package graft.refine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Canonical dense cluster renumbering (SURVEY §2.3 J2, §7.4.7). The
  * reference has three renumber variants (setNames map
  * 02_build_models.R:380-389, as.numeric(factor) 04_cluster_refiner.R:375,
  * match/unique ...optimised_clusters.R:877); the engine standardizes on
  * ONE: sorted old ids → dense 0-based ids, a k-row map built on the
  * driver and applied by [[ModelRefresh.relabel]]. */
object Renumber {

  /** Sorted distinct ids → dense 0-based ids. */
  def denseMap(ids: Iterable[Int]): Map[Int, Int] =
    ids.toSeq.distinct.sorted.zipWithIndex.toMap

  /** Assignments with `cluster` replaced by its dense renumbering: the
    * sorted distinct ids are collected, then relabelled. */
  def dense(assignments: DataFrame): DataFrame =
    ModelRefresh.relabel(assignments, denseMap(
      assignments.select(col("cluster")).distinct().collect().map(_.getInt(0))))
}
