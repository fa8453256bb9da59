package graft

import graft.features.Featurize
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Featurization over the FIXTURES A3 micro-corpus (3 docs, each its own
  * topic — ref 04_cluster_refiner.R:493-505). */
class FeaturizeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "finance investment risk market"),
    (2L, "health medicine treatment disease"),
    (3L, "technology innovation ai machine learning")
  ).toDF("doc_id", "text")

  /** (features, vocab): the TF-IDF vectors over the top-n vocabulary. */
  private def vectors(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val w = Featurize.tfidf(Featurize.counts(docs), docs)
    val vocab = Featurize.topVocab(w, n)
    (Featurize.vectors(w, vocab, n), vocab)
  }

  test("docTerms emits 1+2+3-grams per doc") {
    val terms = Featurize.counts(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = terms.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // 4 words -> 4 + 3 + 2 = 9 n-grams; 5 words -> 5 + 4 + 3 = 12
    assert(byDoc(1L).size === 9)
    assert(byDoc(2L).size === 9)
    assert(byDoc(3L).size === 12)
    assert(byDoc(1L).contains("finance investment risk"))
    assert(byDoc(3L).contains("machine learning"))
  }

  test("tfidf weight is cnt * log10(N/df)") {
    val w = Featurize.tfidf(Featurize.counts(corpus), corpus)
    val got = w.filter(col("term") === "finance").select("weight")
      .as[Double].collect().head
    // every term appears in exactly 1 of 3 docs with cnt 1
    assert(math.abs(got - math.log10(3.0)) < 1e-12)
  }

  test("topVocab assigns dense mass-descending ids with term tiebreak") {
    val w = Featurize.tfidf(Featurize.counts(corpus), corpus)
    val vocab = Featurize.topVocab(w, 30).orderBy("idx").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(vocab.length === 30) // 9 + 9 + 12 distinct terms
    assert(vocab.map(_._2).toSeq === (0 until 30))
    // equal mass everywhere -> pure alphabetical order
    assert(vocab.map(_._1).toSeq === vocab.map(_._1).toSeq.sorted)
  }

  test("vectors builds per-doc sparse rows over the fixed vocabulary") {
    val (feats, vocab) = vectors(corpus, 30)
    assert(vocab.count() === 30)
    val byDoc = feats.collect()
      .map(r => (r.getLong(0), r.getAs[SparseVector]("features"))).toMap
    assert(byDoc.keySet === Set(1L, 2L, 3L))
    assert(byDoc(1L).size === 30)
    assert(byDoc(1L).numNonzeros === 9)
    assert(byDoc(3L).numNonzeros === 12)
  }

  test("vectors drops docs with no in-vocab terms (P4 non-empty filter)") {
    val docs = corpus.union(Seq((4L, "")).toDF("doc_id", "text"))
    val (feats, _) = vectors(docs, 30)
    assert(feats.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }
}
