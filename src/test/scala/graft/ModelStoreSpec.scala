package graft

import graft.api.{ModelPipeline, ModelStore}
import graft.features.Featurize
import graft.functions.TextFunctions
import org.apache.spark.ml.linalg.{SparseVector, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Save → load → predict round-trip (SURVEY S7/S8/S9 + M8/V9): a
  * reloaded model must reproduce the training assignments exactly when
  * predicting on the training corpus (same vocabulary, same df/N
  * weighting, same centers). */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "energy battery power electric charging"),
    (2L, "energy storage renewable power battery"),
    (3L, "finance investment risk banking money"),
    (4L, "stock markets economic growth inflation"),
    (5L, "healthcare hospital treatment diagnosis"),
    (6L, "medicine health doctor therapy")
  ).toDF("doc_id", "text")

  test("versionedDir encodes cluster count and date") {
    val p = ModelStore.versionedDir("/models", 19, java.time.LocalDate.of(2026, 8, 12))
    assert(p === "/models/19_topic_model_2026-08-12")
  }

  test("save → load → predict reproduces training assignments") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    val fm = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
    val trained = fm.assignments.select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap

    ModelStore.save(dir, fm.model, fm.vocab, fm.counts, corpus)
    val saved = ModelStore.load(spark, dir)
    // declared train-time dimensionality, not the (smaller) realized vocab
    assert(saved.vocabSize === 100)

    val predicted = ModelStore.predict(corpus, saved).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(predicted === trained)
  }

  test("inMemory Saved is the no-disk twin of save → load (s09's contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    val fm = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
    ModelStore.save(dir, fm.model, fm.vocab, fm.counts, corpus)
    val loaded = ModelStore.load(spark, dir)
    val mem = ModelStore.inMemory(fm.model, fm.vocab, fm.counts, corpus)
    assert(mem.vocabSize === loaded.vocabSize)
    // identical predictions on the training corpus
    val a = ModelStore.predict(corpus, loaded).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val b = ModelStore.predict(corpus, mem).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(a === b)
    // the persisted df/N vocab relation round-trips the parquet exactly
    val w1 = ModelStore.vocabWithStats(fm.vocab, fm.counts, corpus)
      .orderBy("idx").collect().map(_.toSeq).toSeq
    val w2 = loaded.vocab.orderBy("idx").collect().map(_.toSeq).toSeq
    assert(w1 === w2)
  }

  test("m11 planted corpus predicts closed-form at sf0.001 (dataset-size robustness)") {
    // the harness oracle pins sf0.01; this pins a different corpus size,
    // so the well-separated-groups construction is not tuned to one SF
    val got = graft.ml.MlQueries.predictPlanted(spark, sfTiny)
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    val ids = got.keySet
    val expect = ids.map(id => id -> ids.filter(_ % 5 == id % 5).min).toMap
    assert(got === expect)
  }

  test("m18: the pre-refit model still serves inside the rollback window") {
    import graft.api.ServePointer
    val out = graft.ml.MlQueries.modelForget(spark, sfTiny).collect()
    assert(out.length === 3)
    assert(out.forall(_.getLong(1) === 1L), "markers must be in the v1 vocab")
    assert(out.forall(_.getLong(2) === 0L), "markers must leave the refit vocab")
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "m18")
    val date = java.time.LocalDate.of(2026, 1, 1)
    val d1 = ModelStore.versionedDir(s"$root/model", 15, date)
    val d2 = ModelStore.versionedDir(s"$root/model", 15, date.plusDays(1))
    val ptr = s"$root/pointer"
    // the audit trail records exactly the rollout: v1 shipped, v2 refit
    assert(ServePointer.history(ptr).map(_._1) === Seq(1, 2))
    assert(ServePointer.current(ptr).get ===
      java.nio.file.Paths.get(d2).toAbsolutePath.normalize().toString)
    // v1 is inside the keepLast=2 rollback window (janitor must not
    // touch it) and leaves it only when the horizon shrinks past it
    assert(ServePointer.retirable(ptr, Seq(d1, d2), keepLast = 2).isEmpty)
    assert(ServePointer.retirable(ptr, Seq(d1, d2), keepLast = 1) === Seq(d1))
    // the pre-refit model still SERVES: load v1 from disk and predict
    // the m10 sample through the full vectorize→nearest-centroid path
    val v1 = ModelStore.load(spark, d1)
    assert(v1.vocab.filter(col("term") === "zzqalpha").count() === 1)
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val sample = graft.sources.Sinks.sampleByMod(docs, "doc_id", 10, 3)
    assert(ModelStore.predict(sample, v1).count() > 0)
    // the adopted refit provably forgot the planted doc's vocabulary
    val cur = ModelStore.load(spark, ServePointer.current(ptr).get)
    assert(cur.vocab.filter(col("term").startsWith("zzq")).count() === 0)
  }

  test("predict drops OOV terms and zero-fills (dfm_match semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    val fm = ModelPipeline.fit(corpus, k = 2, seed = 123, vocabSize = 100)
    ModelStore.save(dir, fm.model, fm.vocab, fm.counts, corpus)
    val saved = ModelStore.load(spark, dir)
    // unseen words vanish; known words still classify the doc
    val newDocs = Seq((99L, "quantum blockchain energy battery power"))
      .toDF("doc_id", "text")
    val vec = ModelStore.vectorize(newDocs, saved).collect()
    assert(vec.length === 1)
    val out = ModelStore.predict(newDocs, saved).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 99L)
  }

  /** The relational DFM: exploded 1-3-grams grouped by (doc_id, term).
    * The n-grams come from the expression form of `NGram`, which (unlike
    * `NGram` itself) accepts a null token array. */
  private def relationalCounts(docs: DataFrame): DataFrame = {
    val w1 = Featurize.wordsCol(col("text"))
    docs.select(col("doc_id"), explode(concat(w1,
        TextFunctions.ngrams(w1, 2), TextFunctions.ngrams(w1, 3))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
  }

  /** The TF-IDF weight cnt · log10(n_docs / df), in Spark. */
  private val tfidf = col("cnt") * log10(col("n_docs") / col("df"))

  /** The relational vectors: counts ⋈ vocab (term, idx, df, n_docs), each
    * entry valued `w` in Spark, grouped by doc, `size` wide. */
  private def relationalVectors(docs: DataFrame, vocab: DataFrame, size: Int,
                                w: Column): Map[Long, SparseVector] =
    relationalCounts(docs).join(vocab, "term")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("idx"), w.as("w"))).as("iw"))
      .collect().map { r =>
        val iw = r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => x.getInt(0) -> x.getDouble(1)).sortBy(_._1)
        r.getLong(0) -> Vectors.sparse(size, iw.map(_._1).toArray,
          iw.map(_._2).toArray).asInstanceOf[SparseVector]
      }.toMap

  private def bitsOf(vectors: DataFrame) =
    vectors.select(col("doc_id"), col("features")).collect()
      .map(r => r.getLong(0) -> bits(r.getAs[SparseVector](1))).toMap

  /** Exact, bit-level: size, indices and the raw bits of every value. */
  private def bits(v: SparseVector) =
    (v.size, v.indices.toSeq, v.values.toSeq.map(java.lang.Double.doubleToRawLongBits))

  test("the per-row kernel equals the relational DFM and vectors on edge cases") {
    // "shared" is in every training doc: idf 0, an explicit zero weight
    val train = corpus.select(col("doc_id"), concat(col("text"), lit(" shared")).as("text"))
    val fm = ModelPipeline.fit(train, k = 2, seed = 123, vocabSize = 100)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    ModelStore.save(dir, fm.model, fm.vocab, fm.counts, train)
    val cases = Seq(
      (1L, null: String),                                   // null text
      (2L, "the and of was"),                               // stopwords only
      (3L, "energy"),                                       // 1 token
      (4L, "energy battery"),                               // 2 tokens
      (5L, "power battery power battery power battery"),    // repeated n-grams
      (6L, "quantum energy blockchain battery power"),      // OOV terms mixed in
      (7L, "quantum blockchain zebra"),                     // no in-vocab term
      (8L, "Energy, battery! renewable-power storage"),     // the clean chain
      (9L, "shared power shared"))                          // zero-idf term
    val docs = cases.toDF("doc_id", "text")
    def rowsOf(df: DataFrame) = df.select(col("doc_id"), col("term"), col("cnt"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(rowsOf(Featurize.counts(docs)) === rowsOf(relationalCounts(docs)))
    assert(rowsOf(Featurize.counts(train)) === rowsOf(relationalCounts(train)))
    for (saved <- Seq(ModelStore.load(spark, dir),
                      ModelStore.inMemory(fm.model, fm.vocab, fm.counts, train))) {
      val got = bitsOf(ModelStore.vectorize(docs, saved))
      val want = relationalVectors(docs, saved.vocab, saved.vocabSize, tfidf)
        .view.mapValues(bits).toMap
      assert(got === want)
      // docs 1 and 2 have no terms, doc 7 no in-vocabulary term: dropped
      assert(got.keySet === Set(3L, 4L, 5L, 6L, 8L, 9L))
      assert(got(9L)._3.contains(0L), "the zero weight must stay explicit")
    }
    // training side: the K-means input the fit carries and the LDA split's
    // count vectors are the same kernel, over the training corpus — also
    // over one that holds the edge cases (doc ids shifted past train's)
    val withCases = train.union(docs.withColumn("doc_id", col("doc_id") + 100))
    for ((t, f) <- Seq(train -> fm,
                       withCases -> ModelPipeline.fit(withCases, k = 2, seed = 123, vocabSize = 100))) {
      val mem = ModelStore.inMemory(f.model, f.vocab, f.counts, t)
      assert(bitsOf(f.assignments) ===
        relationalVectors(t, mem.vocab, mem.vocabSize, tfidf).view.mapValues(bits).toMap)
      assert(bitsOf(f.countVectors) === relationalVectors(t, mem.vocab, f.vocabTerms.length,
        col("cnt").cast("double")).view.mapValues(bits).toMap)
    }
    assert(bitsOf(fm.assignments).values.exists(_._3.contains(0L)),
      "the zero-idf term must stay an explicit zero in the K-means input")
  }
}
