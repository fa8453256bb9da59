package org.apache.spark.mllib.clustering

import breeze.numerics.exp
import org.apache.spark.mllib.linalg.Vectors

/** The bridge against MLlib's own online optimizer: the batched sweep's
  * models must start where MLlib's do and see the same exp(E[log β]). */
class GraftOnlineLDASpec extends graft.SparkSpec {

  test("State starts from MLlib's initial lambda; expElogbeta equals MLlib's") {
    val vocabSize = 30
    val docs = spark.sparkContext.parallelize((0 until 5).map(i =>
      (i.toLong, Vectors.sparse(vocabSize, Array(i, i + 7), Array(1.0, 2.0)))), 1)
    val draws = GraftOnlineLDA.initialDraws(6 * vocabSize, 1234L)
    (2 to 6).foreach { k =>
      val mllib = new OnlineLDAOptimizer()
        .initialize(docs, new LDA().setK(k).setSeed(1234L).setOptimizer("online"))
        .getLambda
      val state = new GraftOnlineLDA.State(k, vocabSize, 5, 0.05, draws)
      assert(state.lambda.toArray.sameElements(mllib.toArray), s"k=$k: initial lambda differs")
      val want = exp(LDAUtils.dirichletExpectation(mllib)).t
      val got = GraftOnlineLDA.expElogbeta(state.lambda)
      assert(got.rows === vocabSize && got.cols === k)
      for (v <- 0 until vocabSize; t <- 0 until k)
        assert(math.abs(got(v, t) - want(v, t)) <= 1e-12 * want(v, t), s"k=$k ($v, $t)")
    }
  }
}
