package graft.coherence

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Probabilistic topic coherence (SURVEY §2.4 A8) with textmineR
  * CalcProbCoherence semantics (the function the reference calls at
  * 02_build_models.R:346,528 and 04_cluster_refiner.R:211): for a
  * topic/cluster's top-M terms ranked w₁..w_M, the mean over ordered
  * pairs i<j of  P(wⱼ|wᵢ) − P(wⱼ)  computed from binarized per-document
  * term presence. High co-occurrence of top terms ⇒ coherent cluster.
  *
  * One kernel serves every caller: a per-partition [[census]] of
  * pair-presence counts over each cluster's few candidate terms, summed
  * on the driver, and the driver-side [[coherence]] formula. The caller
  * runs the census job, so [[perCluster]] and the LDA split's topic
  * scoring ([[graft.refine.LdaSplitter]]) share the counts and the
  * formula but keep their own job scheduling. Scoring at most
  * M(M−1)/2 = 10 pairs per cluster is a census, not a join.
  */
object ProbCoherence {

  /** Doc counts over one cluster's `width` candidate terms, numbered
    * 0 until width: `docs(a, b)` counts the docs holding both a and b,
    * `docs(a, a)` the docs holding a; `rows` counts every doc seen. */
  final class PairCounts(val width: Int) extends Serializable {
    private val counts = new Array[Long](width * width)
    private var seen = 0L

    def docs(a: Int, b: Int): Long = counts(math.min(a, b) * width + math.max(a, b))
    def rows: Long = seen

    /** One doc, holding the DISTINCT candidate positions `present`. */
    private[coherence] def add(present: Array[Int]): Unit = {
      seen += 1
      for (a <- present; b <- present if a <= b) counts(a * width + b) += 1
    }

    private[coherence] def add(o: PairCounts): Unit = {
      seen += o.seen
      counts.indices.foreach(i => counts(i) += o.counts(i))
    }
  }

  /** The census of one partition: one pass over (cluster, distinct
    * present candidate positions) rows, one [[PairCounts]] per cluster of
    * `widths` (its candidate count). Rows of other clusters are skipped. */
  def census[K](rows: Iterator[(K, Array[Int])], widths: Map[K, Int]): Map[K, PairCounts] = {
    val out = widths.map { case (c, u) => c -> new PairCounts(u) }
    rows.foreach { case (c, present) => out.get(c).foreach(_.add(present)) }
    out
  }

  /** The per-partition censuses summed (integer counts: the order of the
    * partitions does not matter). */
  def total[K](parts: Iterable[Map[K, PairCounts]], widths: Map[K, Int]): Map[K, PairCounts] = {
    val out = census(Iterator.empty, widths)
    parts.foreach(_.foreach { case (c, p) => out(c).add(p) })
    out
  }

  /** The coherence of one topic: its candidate positions in rank order,
    * of which the present ones (`docs(p, p) > 0`) are scored, over a
    * cluster of `n` docs. The mean over present pairs i<j of
    * D(wᵢ,wⱼ)/D(wᵢ) − D(wⱼ)/n, pairs with zero co-occurrence included,
    * rounded HALF_UP to 6 dp; None when fewer than two are present. */
  def coherence(ranked: Seq[Int], counts: PairCounts, n: Long): Option[Double] = {
    val present = ranked.filter(p => counts.docs(p, p) > 0)
    val scores = for (a <- present.indices; b <- a + 1 until present.length) yield {
      val (i, j) = (present(a), present(b))
      counts.docs(i, j).toDouble / counts.docs(i, i) - counts.docs(j, j).toDouble / n
    }
    if (scores.isEmpty) None
    else Some(BigDecimal(scores.sum / scores.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** One census job over the clusters' docs, then the formula on the
    * driver. Returns a local relation.
    *
    * @param docTerms    (doc_id, term) — may contain duplicates; binarized here
    * @param assignments (doc_id, cluster), one row per doc
    * @param topTerms    (cluster, term, rnk) ranked top-M terms per cluster
    * @return (cluster, coherence, n_docs) for each cluster with at least
    *         two present top terms; `cluster` keeps the assignments' type
    */
  def perCluster(docTerms: DataFrame, assignments: DataFrame,
                 topTerms: DataFrame): DataFrame = {
    val spark = assignments.sparkSession
    // ≤ clusters × M rows, but its DAG can be corpus-scale (weights join
    // + groupBy + window): collected once, it is both the term prune and
    // each cluster's rank order
    val topCols = topTerms.select(col("cluster").cast("long").as("cluster"), col("term"),
      col("rnk").cast("long").as("rnk"))
    val top = topCols.collect()
    val ranks: Map[Long, Map[Long, Int]] = top.groupBy(_.getLong(0)).map { case (c, ts) =>
      c -> ts.map(_.getLong(2)).distinct.sorted.zipWithIndex.toMap
    }
    val widths = ranks.map { case (c, rs) => c -> rs.size }
    val topRel = spark.createDataFrame(java.util.Arrays.asList(top: _*), topCols.schema)
    // Prune FIRST: only a row whose term is some cluster's top term can
    // count, so the corpus-sized docTerms shrinks to a sliver before the
    // doc_id shuffle. The LEFT join from the assignments keeps every
    // assigned doc as one census row, so the census also counts n_docs.
    val rows = assignments.select(col("doc_id"), col("cluster").cast("long").as("cluster"))
      .join(docTerms.join(broadcast(topRel.select(col("term")).distinct()), "term"),
        Seq("doc_id"), "left")
      .join(broadcast(topRel), Seq("cluster", "term"), "left")
      .groupBy(col("cluster"), col("doc_id"))
      .agg(collect_set(col("rnk")).as("ranks"))
    val parts = rows.rdd.mapPartitions { it =>
      Iterator.single(census(it.map { r =>
        val c = r.getLong(0)
        c -> r.getSeq[Long](2).map(rk => ranks(c)(rk)).toArray
      }, widths))
    }.collect()
    val scored = total(parts, widths).toSeq.sortBy(_._1).flatMap { case (c, counts) =>
      coherence(0 until counts.width, counts, counts.rows).map(Row(c, _, counts.rows))
    }
    spark.createDataFrame(java.util.Arrays.asList(scored: _*), StructType(Seq(
        StructField("cluster", LongType, nullable = false),
        StructField("coherence", DoubleType),
        StructField("n_docs", LongType, nullable = false))))
      .select(col("cluster").cast(assignments.schema("cluster").dataType).as("cluster"),
        col("coherence"), col("n_docs"))
  }
}
