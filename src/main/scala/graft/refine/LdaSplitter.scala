package graft.refine

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import graft.coherence.ProbCoherence
import org.apache.spark.SparkContext
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.GraftOnlineLDA
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.concurrent.duration.{Duration, FiniteDuration}
import scala.reflect.ClassTag
import scala.util.control.NonFatal

/** Adaptive-k LDA cluster splitting (SURVEY §2.9 M2-M5), re-expressing
  * the reference's split_clusters_with_lda_adaptive
  * (ref 02_build_models.R:487-561; refiner variant
  * 04_cluster_refiner.R:323-381): for each low-coherence cluster, sweep
  * k over a range of LDA fits, keep the k with the highest mean topic
  * coherence, and reassign the cluster's docs to their theta-argmax
  * topic as fresh cluster ids.
  *
  * Every (cluster, k) model is fitted in ONE batched online
  * variational-Bayes sweep. One materialization of all split-cluster
  * docs, then per iteration ONE Spark job: each sampled doc runs MLlib's
  * E-step once per k against its own cluster's models and adds to that
  * (cluster, k)'s partial statistics; the driver sums the per-partition
  * partials in partition-index order and applies the online λ/α update
  * to every model ([[GraftOnlineLDA]]). Then one [[ProbCoherence]]
  * census job scores every candidate topic, and the theta-argmax
  * reassignment is one lazy `mapPartitions`. The split costs about
  * `maxIter + 2` jobs whatever the number of (cluster, k) fits; MLlib's
  * optimizer spends about `2 · maxIter + 2` jobs on each fit, and those
  * jobs' scheduling, not the E-step, set the split's cost.
  *
  * The math is MLlib's online LDA with its defaults (γ-init
  * Gamma(100, 1/100), α = η = 1/k, τ0 = 1024, κ = 0.51,
  * `optimizeDocConcentration`); the mini-batch of iteration t holds the
  * docs whose hash of (seed, t, doc_id) falls under `subsamplingRate`,
  * and each doc's γ-init seed is derived from the same hash, so the
  * sample and the E-steps do not depend on how the docs are partitioned.
  * Parity with the reference is seeded reproducibility + invariants, not
  * bit-identical topics (§7.4.3). One LDA config is used for sweep and
  * final assignment (the reference inconsistently drops alpha/beta on
  * its final refit — §7.4.5).
  *
  * Recorded divergence (§7.4-style): the reference's textmineR fits run
  * Gibbs sampling with `optimize_alpha = TRUE` (ref
  * 02_build_models.R:339). This engine's online VB also re-estimates the
  * document-topic concentration α every iteration (MLlib's
  * `optimizeDocConcentration`, a Newton step from the prior 1/k), but by
  * a variational estimate rather than Gibbs' — k selection is unaffected
  * (driven by coherence, computed from top terms), but individual
  * doc-topic argmax assignments near the decision boundary can differ.
  *
  * Robustness (ref 02_build_models.R:530-535 wraps each LDA in tryCatch
  * and keeps the cluster unsplit on failure): a cluster with a doc whose
  * count vector is null or of the wrong size, or whose E-step throws,
  * degrades to no-split on its own while the other clusters carry on.
  * The sweep's jobs run in one job group under ONE `Params.fitTimeout`
  * deadline: when it passes, the running job is cancelled, no further
  * job starts, and every cluster keeps its assignment.
  */
object LdaSplitter {

  final case class Params(
      kRange: Range = 2 to 6,
      coherenceThreshold: Double = 0.05,
      minDocsForSplit: Long = 10,
      topM: Int = 5,
      maxIter: Int = 10,
      subsamplingRate: Double = 0.05,
      seed: Long = 1234,
      fitTimeout: FiniteDuration = Duration(10, "min"))

  /** Bound on the partial statistics one iteration returns to the driver
    * (partitions × Σk × vocabSize doubles per cluster). Clusters are
    * packed into sequential passes under it. */
  private val IterationResultBytes = 128L << 20

  /** One doc of a cluster being split; `features` is null when its
    * count-vector row holds null. */
  private[graft] final case class SplitDoc(docId: Long, cluster: Int, features: Vector)

  /** The split clusters' docs, materialized once, with each cluster's
    * doc count. `failures` names the clusters that cannot be fitted. */
  private[graft] final case class Prepared(docs: RDD[SplitDoc], sizes: Map[Int, Long],
                                           failures: Map[Int, String])

  /** Split every low-coherence cluster. Returns (doc_id, cluster) with
    * split docs reassigned to fresh ids above the largest old id;
    * [[Renumber.dense]] (one collect of the distinct ids, then one
    * [[ModelRefresh.relabel]]) restores canonical 0-based ids.
    *
    * @param countVecs   (doc_id, features) term-count vectors over the
    *                    vocabulary, one per assigned doc (the DTM — LDA
    *                    consumes counts, not TF-IDF; a top term is present
    *                    in a doc iff its count is nonzero)
    * @param assignments (doc_id, cluster)
    * @param scores      per-cluster (coherence, n_docs) from
    *                    [[graft.coherence.ProbCoherence.perCluster]]
    * @param vocabTerms  vocab index → term (≤ vocabSize entries)
    */
  def split(countVecs: DataFrame, assignments: DataFrame,
            scores: Map[Int, (Double, Long)], vocabTerms: Array[String],
            params: Params = Params()): DataFrame = {
    val spark = assignments.sparkSession
    val unchanged = assignments.select(col("doc_id"), col("cluster"))

    val toSplit = scores.collect {
      case (c, (coh, n)) if coh < params.coherenceThreshold && n >= params.minDocsForSplit => c
    }.toSeq.sorted
    if (toSplit.isEmpty) return unchanged

    val sweep = new Sweep(spark.sparkContext, params.fitTimeout)
    val vocabSize = vocabTerms.length
    val swept = for {
      prepared <- prepare(countVecs, assignments, toSplit, vocabSize, sweep)
      models = fit(prepared, vocabSize, params, sweep) if models.nonEmpty
      coherence <- topicCoherence(prepared, models.map { case (ck, s) =>
        ck -> GraftOnlineLDA.describeTopics(s.lambda, params.topM)
      }, sweep)
    } yield (prepared, models, coherence)
    val (prepared, models, coherence) = swept match {
      case Some(found) => found
      case None => return unchanged
    }

    // best k per cluster by mean topic coherence (topics with no scored
    // pairs contribute nothing; a k with no scores at all loses to any
    // scored one, and ties go to the smallest k)
    val fitted = models.keys.map(_._1).toSeq.distinct.sorted
    val bestK: Map[Int, Int] = fitted.map { c =>
      c -> params.kRange.map { k =>
        val scored = coherence(c -> k).flatten
        k -> (if (scored.isEmpty) Double.NegativeInfinity else scored.sum / scored.size)
      }.maxBy(_._2)._1
    }.toMap

    // theta-argmax reassignment (T7) onto each cluster's fresh id range:
    // block i (the cluster's position among the candidates) owns ids
    // maxId + 1 + i·max(k) ..; maxId is a lazy aggregate of the
    // assignments, since ProbCoherence omits clusters with < 2 scored top
    // terms and scores.keys.max can sit below the true max id
    val kMax = params.kRange.max
    val best = spark.sparkContext.broadcast(fitted.map { c =>
      val s = models((c, bestK(c)))
      c -> (toSplit.indexOf(c) * kMax, GraftOnlineLDA.expElogbeta(s.lambda), s.alpha)
    }.toMap)
    val seed = params.seed
    val local = prepared.docs.mapPartitions { it =>
      val m = best.value
      it.filter(d => m.contains(d.cluster)).map { d =>
        val (base, expElogbeta, alpha) = m(d.cluster)
        val theta = GraftOnlineLDA.topicDistribution(
          d.features, expElogbeta, alpha, alpha.length, seed)
        Row(d.docId, base + argmax(theta))
      }
    }
    val maxId = assignments.agg(greatest(max(col("cluster")).cast("int"),
      lit(scores.keys.max)).as("max_id"))
    val reassigned = spark.createDataFrame(local, StructType(Seq(
        StructField("doc_id", LongType), StructField("local", IntegerType))))
      .crossJoin(broadcast(maxId))
      .select(col("doc_id"), (col("max_id") + 1 + col("local"))
        .cast(assignments.schema("cluster").dataType).as("cluster"))

    unchanged.filter(!col("cluster").isin(fitted: _*)).unionByName(reassigned)
  }

  private def argmax(xs: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < xs.length) { if (xs(i) > xs(best)) best = i; i += 1 }
    best
  }

  // ---- the sweep's jobs ----------------------------------------------------

  /** Runs the sweep's jobs one at a time in one job group under one
    * deadline. When the deadline passes, the running job is cancelled and
    * [[run]] answers None from then on, so no job of the group starts
    * after it. The caller's own job group is restored after each submit. */
  private[graft] final class Sweep(sc: SparkContext, timeout: FiniteDuration) {
    private val group = s"lda-split-${java.util.UUID.randomUUID()}"
    private val deadline = System.nanoTime() + timeout.toNanos
    private var timedOut = false

    def expired: Boolean = timedOut

    /** One job collecting the single element of every partition. */
    def run[T: ClassTag](rdd: RDD[T], what: String): Option[Array[T]] = {
      val remaining = deadline - System.nanoTime()
      if (timedOut || remaining <= 0) { expire(); return None }
      val out = new Array[T](rdd.getNumPartitions)
      val saved = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(group, s"LDA split: $what", interruptOnCancel = true)
      val job =
        try sc.submitJob(rdd, (it: Iterator[T]) => it.next(), out.indices,
          (i: Int, r: T) => out(i) = r, ())
        finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try {
        scala.concurrent.Await.result(job, Duration.fromNanos(remaining))
        Some(out)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          expire()
          sc.cancelJobGroup(group)
          // the cancelled job fails as soon as the scheduler handles the
          // cancel; wait for that, so the group is settled on return
          scala.util.Try(scala.concurrent.Await.ready(job, Duration(30, "s")))
          None
      }
    }

    private def expire(): Unit = if (!timedOut) {
      timedOut = true
      System.err.println(s"[lda-split] sweep exceeded $timeout; " +
        "every cluster stays unsplit")
    }
  }

  /** Materialize the split clusters' docs once, counting and checking
    * them per cluster in the same job. None when the deadline passed. */
  private[graft] def prepare(countVecs: DataFrame, assignments: DataFrame,
                             toSplit: Seq[Int], vocabSize: Int,
                             sweep: Sweep): Option[Prepared] = {
    val docs = countVecs.select(col("doc_id"), col("features"))
      .join(assignments.filter(col("cluster").isin(toSplit: _*))
        .select(col("doc_id"), col("cluster").cast("int").as("cluster")), "doc_id")
      .rdd.map(r => SplitDoc(r.getAs[Long]("doc_id"), r.getAs[Int]("cluster"),
        r.getAs[Vector]("features")))
      .localCheckpoint()
    val index = toSplit.zipWithIndex.toMap
    val census = docs.mapPartitions { it =>
      val sizes = new Array[Long](toSplit.size)
      val bad = new Array[String](toSplit.size)
      it.foreach { d =>
        val i = index(d.cluster)
        sizes(i) += 1
        if (bad(i) == null) {
          if (d.features == null) bad(i) = s"doc ${d.docId} has a null count vector"
          else if (d.features.size != vocabSize)
            bad(i) = s"doc ${d.docId} has a count vector of size " +
              s"${d.features.size}, not the vocabulary's $vocabSize"
        }
      }
      Iterator.single((sizes, bad))
    }
    sweep.run(census, "materialize and count split docs").map { parts =>
      val sizes = toSplit.indices.map(i => toSplit(i) -> parts.map(_._1(i)).sum).toMap
      val failures = toSplit.indices.flatMap { i =>
        val c = toSplit(i)
        parts.map(_._2(i)).find(_ != null)
          .orElse(if (sizes(c) == 0) Some("it has no count vectors") else None)
          .map(c -> _)
      }.toMap
      // one task per ~5k docs: an iteration is a job over every partition,
      // so near-empty partitions are pure scheduling overhead
      val nParts = math.max(1L, math.min(
        docs.sparkContext.defaultParallelism.toLong, sizes.values.sum / 5000L + 1L)).toInt
      Prepared(docs.coalesce(nParts), sizes, failures)
    }
  }

  /** The iteration's models, broadcast: one entry per live cluster of the
    * pass, each with every k's expElogbeta (vocabSize × k) and α. */
  private final class Models(val clusters: Array[Int], val ks: Array[Int],
                             val expElogbeta: Array[Array[BDM[Double]]],
                             val alpha: Array[Array[BDV[Double]]]) extends Serializable {
    val index: Map[Int, Int] = clusters.zipWithIndex.toMap
  }

  /** One cluster's mini-batch statistics, per k. */
  private final class Partial(ks: Array[Int], vocabSize: Int) extends Serializable {
    var sampled = 0L
    var nonEmpty = 0L
    var failure: String = null
    val stat: Array[BDM[Double]] = ks.map(k => BDM.zeros[Double](k, vocabSize))
    val logphat: Array[BDV[Double]] = ks.map(k => BDV.zeros[Double](k))

    def add(o: Partial): Unit = {
      sampled += o.sampled
      nonEmpty += o.nonEmpty
      if (failure == null) failure = o.failure
      ks.indices.foreach { j => stat(j) += o.stat(j); logphat(j) += o.logphat(j) }
    }
  }

  // SplitMix64 finalizer: the per-(seed, iteration, doc) draw behind the
  // mini-batch sample and the doc's γ-init seed
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def docHash(seed: Long, iteration: Int, docId: Long): Long =
    mix(mix(mix(seed) ^ iteration) ^ docId)

  /** Fit every (cluster, k) of the prepared clusters by online VB, one
    * job per iteration. Returns the models of the clusters that neither
    * failed nor ran out of time; empty if the deadline passed. */
  private[graft] def fit(prepared: Prepared, vocabSize: Int, params: Params,
                         sweep: Sweep): Map[(Int, Int), GraftOnlineLDA.State] = {
    prepared.failures.toSeq.sorted.foreach { case (c, why) =>
      System.err.println(s"[lda-split] cluster=$c cannot be fitted (degrading): $why")
    }
    val ks = params.kRange.toArray
    val live = prepared.sizes.keys.filterNot(prepared.failures.contains).toSeq.sorted
    // every model is seeded alike, so each starts from a prefix of one draw
    val draws = GraftOnlineLDA.initialDraws(ks.max * vocabSize, params.seed)
    val states = live.map { c =>
      c -> ks.map(k => new GraftOnlineLDA.State(
        k, vocabSize, prepared.sizes(c), params.subsamplingRate, draws))
    }.toMap
    val failed = scala.collection.mutable.Map[Int, String]()
    val docs = prepared.docs
    val clusterBytes = ks.sum.toLong * vocabSize * 8L * docs.getNumPartitions
    val perPass = math.max(1L, IterationResultBytes / clusterBytes).toInt
    val (seed, fraction) = (params.seed, params.subsamplingRate)

    for (pass <- live.grouped(perPass); t <- 0 until params.maxIter
         if !sweep.expired) {
      val active = pass.filterNot(failed.contains).toArray
      if (active.nonEmpty) {
        val expElogbeta = active.map(c => states(c).map(s => GraftOnlineLDA.expElogbeta(s.lambda)))
        val bc = docs.sparkContext.broadcast(
          new Models(active, ks, expElogbeta, active.map(c => states(c).map(_.alpha))))
        val iteration = docs.mapPartitions { it =>
          val m = bc.value
          val parts = new Array[Partial](m.clusters.length)
          // sorted, so a partition's sums do not depend on row order
          val batch = it.filter { d =>
            m.index.contains(d.cluster) && {
              val u = (docHash(seed, t, d.docId) >>> 11) * (1.0 / (1L << 53))
              fraction >= 1.0 || u < fraction
            }
          }.toArray.sortBy(_.docId)
          batch.foreach { d =>
            val i = m.index(d.cluster)
            if (parts(i) == null) parts(i) = new Partial(m.ks, vocabSize)
            val p = parts(i)
            p.sampled += 1
            if (p.failure == null) try {
              if (d.features.numNonzeros > 0) {
                val (ids, counts) = GraftOnlineLDA.termsOf(d.features)
                val gammaSeed = mix(docHash(seed, t, d.docId))
                m.ks.indices.foreach { j =>
                  val (gamma, sstats, _) = GraftOnlineLDA.eStep(ids, counts,
                    m.expElogbeta(i)(j), m.alpha(i)(j), m.ks(j), gammaSeed)
                  GraftOnlineLDA.addStats(p.stat(j), sstats, ids)
                  p.logphat(j) += GraftOnlineLDA.dirichletExpectation(gamma)
                }
                p.nonEmpty += 1
              }
            } catch {
              case NonFatal(e) => p.failure = s"E-step of doc ${d.docId} failed: $e"
            }
          }
          Iterator.single(parts)
        }
        val result =
          try sweep.run(iteration, s"online VB iteration ${t + 1} of ${active.length} clusters")
          catch {
            case NonFatal(e) =>
              active.foreach(c => failed(c) = s"iteration job failed: $e")
              None
          }
        bc.destroy()
        // partition-index order: the sums do not depend on task completion
        result.foreach { parts =>
          active.indices.foreach { i =>
            val total = parts.iterator.map(_(i)).filter(_ != null)
              .foldLeft(null: Partial) { (acc, p) => if (acc == null) p else { acc.add(p); acc } }
            val c = active(i)
            if (total != null) {
              if (total.failure != null) failed(c) = total.failure
              else states(c).indices.foreach { j =>
                states(c)(j).step(total.sampled, total.nonEmpty, total.stat(j),
                  total.logphat(j), expElogbeta(i)(j))
              }
            }
          }
        }
      }
    }
    failed.toSeq.sorted.foreach { case (c, why) =>
      System.err.println(s"[lda-split] cluster=$c failed (degrading): $why")
    }
    if (sweep.expired) Map.empty
    else (for { (c, ss) <- states if !failed.contains(c); s <- ss } yield (c, s.k) -> s)
  }

  /** Probabilistic coherence of every topic of every model, from one
    * [[ProbCoherence.census]] job over the prepared docs whose candidate
    * terms, per cluster, are the union of its models' top terms. Keyed by
    * (cluster, k), one entry per topic; None for a topic with fewer than
    * two top terms present in the cluster. None overall when the
    * deadline passed. */
  private[graft] def topicCoherence(prepared: Prepared,
                                    topics: Map[(Int, Int), Array[Array[Int]]],
                                    sweep: Sweep)
      : Option[Map[(Int, Int), Seq[Option[Double]]]] = {
    val position: Map[Int, Map[Int, Int]] = topics.groupBy(_._1._1).map { case (c, ts) =>
      c -> ts.values.flatMap(_.flatMap(_.toSeq)).toArray.distinct.sorted.zipWithIndex.toMap
    }
    val widths = position.map { case (c, p) => c -> p.size }
    val census = prepared.docs.mapPartitions { it =>
      Iterator.single(ProbCoherence.census(it.flatMap { d =>
        position.get(d.cluster).map { p =>
          val present = scala.collection.mutable.ArrayBuffer[Int]()
          d.features.foreachActive((i, v) => if (v != 0) p.get(i).foreach(present += _))
          d.cluster -> present.toArray
        }
      }, widths))
    }
    sweep.run(census, "topic coherence").map { parts =>
      val counts = ProbCoherence.total(parts, widths)
      topics.map { case ((c, k), ts) =>
        (c, k) -> ts.toSeq.map(ranked => ProbCoherence.coherence(
          ranked.toSeq.map(position(c)), counts(c), prepared.sizes(c)))
      }
    }
  }
}
