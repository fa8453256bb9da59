package graft

import graft.api.ModelStore
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
    val counts = Featurize.counts(docs)
    val vocab = Featurize.topVocab(Featurize.tfidf(counts, docs), n)
    val terms = Featurize.termIndex(ModelStore.vocabWithStats(vocab, counts, docs))
    (Featurize.vectorize(docs, terms, n, Featurize.TfIdf), vocab)
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

  // ---- one document → vector kernel in src/main ----------------------------

  private val kernelHome = "features/Featurize.scala"
  private val scanned = Seq("features", "api", "refine", "cluster")

  /** What builds a SparseVector in code (comments are not scanned). */
  private val buildsSparse = """new\s+SparseVector\b|Vectors\.sparse\b|\.(toSparse|compressed)\b""".r

  private def vectorOffenders(root: java.io.File): Seq[String] = {
    val hits = for {
      f <- MainSources.files(root)
      if scanned.exists(d => f.getPath.contains(s"/graft/$d/"))
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//")
      if buildsSparse.findFirstIn(code).isDefined
    } yield (f.getPath, i + 1)
    val (home, away) = hits.partition(_._1.endsWith(kernelHome))
    away.map { case (f, l) => s"SparseVector built at $f:$l" } ++
      (if (home.size == 1) Nil else Seq(s"SparseVector built ${home.size} times in $kernelHome"))
  }

  test("only the one kernel in Featurize builds a SparseVector in features/api/refine/cluster") {
    val offenders = vectorOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, s"document vectors built outside the kernel: ${offenders.mkString("; ")}")
  }

  test("the vector scan fails on a copy of src/main that adds a second assembly") {
    val copy = MainSources.copyWith("refine/Mutant.scala",
      """package graft.refine
        |object Mutant {
        |  val toSparse = org.apache.spark.sql.functions.udf {
        |    (size: Int, idx: Seq[Int], vals: Seq[Double]) =>
        |      org.apache.spark.ml.linalg.Vectors.sparse(size, idx.toArray, vals.toArray)
        |  }
        |}
        |""".stripMargin)
    val offenders = vectorOffenders(copy)
    assert(offenders.exists(o => o.startsWith("SparseVector built at") && o.contains("Mutant.scala")),
      s"second assembly not reported: $offenders")
    assert(offenders.forall(_.contains("Mutant.scala")), offenders)
  }
}
