package graft.refine

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** The one per-cluster kernel of the model's tail (SURVEY §2.9 M6/M7,
  * §2.3 J3): the sizes, centers and within-cluster SSQ that a split or a
  * merge refreshes (ref update_kmeans_model 02_build_models.R:391-450;
  * 04_cluster_refiner.R:249-285), and the k-row id map that renumbers
  * and merges apply. Immutable recompute instead of the reference's
  * in-place model surgery. Every k-row result lives on the driver
  * (SURVEY M7: "collect to driver, O(k²) local"); only the data passes
  * are distributed.
  */
object ModelRefresh {

  /** cluster → (n_docs, mean center). */
  type Summary = Map[Int, (Long, Vector)]

  /** The [[Summary]] of (cluster, features) assignments: one aggregation,
    * collected. The driver holds cluster count × vector size doubles. */
  def summary(asg: DataFrame): Summary =
    asg.groupBy(col("cluster"))
      .agg(count(lit(1)), Summarizer.mean(col("features")))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getAs[Vector](2)))
      .toMap

  /** (cluster, n_docs, withinss) of (cluster, features) assignments
    * against `centers`, in one pass with the centers broadcast; withinss
    * is rounded to 4 dp. Returns a local relation ordered by cluster. */
  def withinss(asg: DataFrame, centers: Map[Int, Vector]): DataFrame = {
    val spark = asg.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val parts = asg.select(col("cluster"), col("features")).rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map[Int, (Long, Double)]()
      it.foreach { r =>
        val c = r.getInt(0)
        val (n, ss) = acc.getOrElse(c, (0L, 0.0))
        acc(c) = (n + 1, ss + Vectors.sqdist(r.getAs[Vector](1), bc.value(c)))
      }
      Iterator.single(acc.toMap)
    }.collect()
    bc.destroy()
    // partition-index order: the sums do not depend on task completion
    val rows = parts.flatten.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, ps) =>
      val ss = ps.map(_._2._2).sum
      Row(c, ps.map(_._2._1).sum,
        BigDecimal(ss).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("n_docs", LongType, nullable = false),
      StructField("withinss", DoubleType, nullable = false))))
  }

  /** `asg` with `cluster` replaced by `map(cluster)`: a broadcast join
    * against the k-row map as a local relation, so the map's values never
    * enter the plan's generated code. */
  def relabel(asg: DataFrame, map: Map[Int, Int]): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.join(broadcast(map.toSeq.toDF("cluster", "relabelled")), "cluster")
      .drop("cluster")
      .withColumnRenamed("relabelled", "cluster")
  }
}
