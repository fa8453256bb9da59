package org.apache.spark.mllib.clustering

import breeze.linalg.{all, normalize, sum, DenseMatrix => BDM, DenseVector => BDV}
import breeze.numerics.{digamma, trigamma}
import breeze.stats.distributions.{Gamma, RandBasis}
import org.apache.commons.math3.random.MersenneTwister
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}

/** Spark-action-free access to MLlib's online variational-Bayes LDA
  * (`OnlineLDAOptimizer`), for a caller that batches many models into
  * one Spark job per iteration.
  *
  * MLlib's optimizer owns its RDD: every `next()` samples, checks the
  * sample for emptiness, tree-aggregates and broadcasts, so one fit of
  * `maxIter` iterations costs about `2 · maxIter + 2` jobs. This bridge
  * splits the optimizer at its aggregate: [[eStep]] is MLlib's per-doc
  * E-step (`OnlineLDAOptimizer.variationalTopicInference`, called as
  * is), and [[State]] is the driver half of `submitMiniBatch` (the λ and
  * α updates of `updateLambda`/`updateAlpha`, whose formulas are
  * restated here because those methods are private to the optimizer
  * instance). The caller decides how docs are sampled and how partial
  * statistics are summed.
  *
  * Defaults are Spark 4.1.2's `LDAParams` for the online optimizer:
  * γ-init Gamma(100, 1/100), α = η = 1/k, τ0 = 1024, κ = 0.51 and
  * `optimizeDocConcentration = true`.
  *
  * Lives in `org.apache.spark.mllib.clustering` because the E-step and
  * `LDAUtils.dirichletExpectation` are package-private (the
  * `GraftKMeansIO` bridge precedent).
  */
object GraftOnlineLDA {

  private val GammaShape = 100.0
  private val Tau0 = 1024.0
  private val Kappa = 0.51

  /** A count vector as the (term ids, counts) pair MLlib's E-step takes,
    * split exactly as `variationalTopicInference(Vector, ...)` does. */
  def termsOf(v: Vector): (List[Int], Array[Double]) = v match {
    case d: DenseVector => (List.range(0, d.size), d.values)
    case s: SparseVector => (s.indices.toList, s.values)
  }

  /** `exp(E[log β])`, vocabSize × k, from a k × vocabSize λ: MLlib's
    * `exp(LDAUtils.dirichletExpectation(λ)).t` (digamma of each entry
    * minus digamma of its topic's row sum), fused into one pass because
    * breeze's broadcast subtraction in `dirichletExpectation(BDM)` costs
    * more than the digammas themselves, and the sweep computes this for
    * every model on every iteration. Same layout as MLlib's (a
    * transposed view of a k × vocabSize array). */
  def expElogbeta(lambda: BDM[Double]): BDM[Double] = {
    val (k, v) = (lambda.rows, lambda.cols)
    val out = new Array[Double](k * v)
    var t = 0
    while (t < k) {
      var rowSum = 0.0
      var j = 0
      while (j < v) { rowSum += lambda(t, j); j += 1 }
      val digRowSum = digamma(rowSum)
      j = 0
      while (j < v) { out(t + j * k) = math.exp(digamma(lambda(t, j)) - digRowSum); j += 1 }
      t += 1
    }
    new BDM[Double](k, v, out).t
  }

  def dirichletExpectation(v: BDV[Double]): BDV[Double] =
    LDAUtils.dirichletExpectation(v)

  /** MLlib's E-step for one doc: (γ, sufficient statistics k × ids, ids). */
  def eStep(ids: List[Int], counts: Array[Double], expElogbeta: BDM[Double],
            alpha: BDV[Double], k: Int, seed: Long)
      : (BDV[Double], BDM[Double], List[Int]) =
    OnlineLDAOptimizer.variationalTopicInference(
      ids, counts, expElogbeta, alpha, GammaShape, k, seed)

  /** `stat(::, ids) += sstats`, as `submitMiniBatch` accumulates a doc. */
  def addStats(stat: BDM[Double], sstats: BDM[Double], ids: List[Int]): Unit = {
    var j = 0
    ids.foreach { id =>
      var t = 0
      while (t < stat.rows) { stat(t, id) += sstats(t, j); t += 1 }
      j += 1
    }
  }

  /** Top `m` term ids of each topic of a k × vocabSize λ, ranked as
    * `LocalLDAModel.describeTopics` ranks them. */
  def describeTopics(lambda: BDM[Double], m: Int): Array[Array[Int]] =
    Array.tabulate(lambda.rows) { t =>
      normalize(lambda(t, ::).t, 1.0).toArray.zipWithIndex
        .sortBy(-_._1).take(m).map(_._2)
    }

  /** A doc's θ, as `LocalLDAModel.getTopicDistributionMethod` computes it
    * (all zeros for a doc with no terms; a null vector counts as one). */
  def topicDistribution(v: Vector, expElogbeta: BDM[Double], alpha: BDV[Double],
                        k: Int, seed: Long): Array[Double] =
    if (v == null || v.numNonzeros == 0) new Array[Double](k)
    else {
      val (ids, counts) = termsOf(v)
      val (gamma, _, _) = eStep(ids, counts, expElogbeta, alpha, k, seed)
      normalize(gamma, 1.0).toArray
    }

  /** The first `n` Gamma(100, 1/100) draws MLlib's `initialize` takes
    * for λ from `new Random(seed)`. They are one sequential stream, so
    * MLlib's initial λ of a k-topic model is built from the first
    * k × vocabSize of them whatever `n` is. */
  def initialDraws(n: Int, seed: Long): Array[Double] = {
    val rand = new RandBasis(new MersenneTwister(new java.util.Random(seed).nextLong()))
    new Gamma(GammaShape, 1.0 / GammaShape)(rand).sample(n).toArray
  }

  /** One model's online-VB state on the driver.
    *
    * @param corpusSize the model's document count (MLlib's `docs.count()`)
    * @param fraction   the mini-batch fraction (`subsamplingRate`)
    * @param draws      [[initialDraws]] of at least k × vocabSize; λ starts
    *                   as MLlib's `initialize` builds it from them
    */
  final class State(val k: Int, vocabSize: Int, corpusSize: Long,
                    fraction: Double, draws: Array[Double]) {
    val eta: Double = 1.0 / k
    var alpha: BDV[Double] = BDV.fill(k)(1.0 / k)
    var iteration = 0
    val lambda: BDM[Double] =
      new BDM[Double](vocabSize, k, draws.take(k * vocabSize)).t.copy

    private def rho: Double = math.pow(Tau0 + iteration, -Kappa)

    /** Apply one mini-batch, as `next()` + `submitMiniBatch` do after the
      * aggregate: an empty sample is skipped without counting an
      * iteration; a sample of only empty docs counts one but updates
      * nothing.
      *
      * @param stat        Σ E-step statistics over the batch, k × vocabSize
      * @param logphat     Σ `dirichletExpectation(γ)` over the batch
      * @param expElogbeta the [[expElogbeta]] the batch's E-steps used
      */
    def step(sampled: Long, nonEmpty: Long, stat: BDM[Double],
             logphat: BDV[Double], expElogbeta: BDM[Double]): Unit = {
      if (sampled == 0) return
      iteration += 1
      if (nonEmpty == 0) return
      val weight = rho
      val batchSize = math.ceil(fraction * corpusSize).toInt
      val batchResult = stat *:* expElogbeta.t
      lambda := (1 - weight) * lambda +
        weight * (batchResult * (corpusSize.toDouble / batchSize.toDouble) + eta)
      updateAlpha(logphat / nonEmpty.toDouble, nonEmpty.toDouble, weight)
    }

    private def updateAlpha(logphat: BDV[Double], n: Double, weight: Double): Unit = {
      val gradf = n * (-LDAUtils.dirichletExpectation(alpha) + logphat)
      val c = n * trigamma(sum(alpha))
      val q = -n * trigamma(alpha)
      val b = sum(gradf / q) / (1.0 / c + sum(1.0 / q))
      val dalpha = -(gradf - b) / q
      if (all((weight * dalpha + alpha) >:> 0d)) alpha = alpha + weight * dalpha
    }
  }
}
