package graft.features

import graft.functions.TextFunctions
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational quanteda-style TF-IDF featurization (SURVEY §2.8 V1-V7),
  * re-expressing the reference's tokens(1:3) → dfm → dfm_tfidf →
  * reduce_dfm chain (ref 02_build_models.R:161-180) as lazy Spark plans.
  *
  * Design decisions (SURVEY §7.4):
  *  - quanteda weighting: tfidf = count · log10(N/df)  (not Spark IDF's
  *    smoothed ln form) — scheme parity with dfm_tfidf;
  *  - vocabulary = top-N terms by summed TF-IDF mass (ref reduce_dfm),
  *    NOT CountVectorizer's doc-frequency pruning — different term set;
  *  - stays sparse end to end (the reference accidentally densifies at
  *    02_build_models.R:177 — we deliberately don't).
  *
  * Scale: a document's n-grams and its vector are computed inside its own
  * row, with no shuffle; shuffle keys are terms, with bounded skew.
  * `doc_id` is the documents' key: rows sharing one are counted apart.
  */
object Featurize {

  /** Stopword-filtered unigrams per doc (clean chain + F6). */
  def wordsCol(textCol: Column): Column =
    filter(TextFunctions.tokens(textCol),
      t => !t.isin(TextFunctions.stopWords: _*))

  /** The per-row term-count kernel: a document's stopword-filtered
    * tokens → its 1+2+3-gram counts, space-joined like `NGram` (quanteda
    * tokens ngrams=1:3; ref 02_build_models.R:162). [[counts]] explodes
    * it; [[vectorize]] looks it up in a broadcast vocabulary, for the
    * K-means input, the LDA split and predict. Null tokens have no terms. */
  def ngramCounts(words: Seq[String]): collection.Map[String, Long] = {
    val counts = collection.mutable.HashMap.empty[String, Long]
    val w = Option(words).fold(Array.empty[String])(_.toArray)
    for (n <- 1 to 3; i <- 0 to w.length - n) {
      val term = w.slice(i, i + n).mkString(" ")
      counts(term) = counts.getOrElse(term, 0L) + 1L
    }
    counts
  }

  private val ngramCountsUdf = udf(ngramCounts _)

  /** Training's (doc_id, text), widened for the fanout if a narrow scan. */
  def widen(docs: DataFrame): DataFrame =
    graft.sources.Scans.widenForFanout(
      docs.select(col("doc_id"), col("text")), col("doc_id"))

  /** (doc_id, term, cnt) counts — the DFM in relational form (V3): the
    * kernel exploded per row, with no (doc_id, term)-keyed shuffle. */
  def counts(docs: DataFrame): DataFrame =
    widen(docs)
      .select(col("doc_id"), explode(ngramCountsUdf(wordsCol(col("text")))))
      .select(col("doc_id"), col("key").as("term"), col("value").as("cnt"))

  /** quanteda's df/N rule, for TF-IDF and the saved vocabulary: (term, df)
    * over `counts`, and N as a lazy 1-row (n_docs) aggregate of `docs`. */
  def docFreq(counts: DataFrame, docs: DataFrame): (DataFrame, DataFrame) =
    (counts.groupBy(col("term")).agg(count(lit(1)).as("df")),
     docs.agg(count(lit(1)).cast("double").as("n_docs")))

  /** quanteda dfm_tfidf: weight = cnt · log10(N / df) (V5), [[docFreq]]'s
    * N broadcast. The term→df join is pinned to shuffle-hash: the df
    * relation is one row per DISTINCT 1-3-gram (grows with the corpus —
    * never truly small), and its compressed size sits under the
    * auto-broadcast threshold while the driver-side HashedRelation build
    * of that many long string keys is slow, GC-heavy, and wildly variable. */
  def tfidf(counts: DataFrame, docs: DataFrame): DataFrame = {
    val (df, n) = docFreq(counts, docs)
    counts.join(df.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(n))
      .withColumn("weight", col("cnt") * log10(col("n_docs") / col("df")))
      .select(col("doc_id"), col("term"), col("weight"))
  }

  /** Top-N vocabulary by summed TF-IDF mass (V7/T1; ref reduce_dfm
    * 02_build_models.R:174-180) → (term, idx) with dense 0-based ids in
    * mass-descending order (term asc tiebreak for determinism).
    * orderBy+limit plans as TakeOrderedAndProject (per-partition top-N,
    * driver merge of ≤n rows) — the term space can be billions of 1-3-grams
    * at 100 TB, so no un-partitioned global sort/window ever sees it; the
    * row_number window only ranks the already-bounded ≤n survivors.
    * Ranking uses the 6dp-rounded mass: float summation order varies with
    * partitioning, so ranking raw sums would make the selected vocabulary
    * itself nondeterministic across runs/engines. */
  def topVocab(weights: DataFrame, n: Int): DataFrame = {
    val top = weights.groupBy(col("term"))
      .agg(round(sum(col("weight")), 6).as("mass"))
      .orderBy(col("mass").desc, col("term"))
      .limit(n)
    val w = Window.orderBy(col("mass").desc, col("term"))
    top.withColumn("idx", row_number().over(w) - 1)
      .select(col("term"), col("idx"))
  }

  /** [[vectorize]]'s weightings of a term's (cnt, idf): TF-IDF for K-means
    * and serving, the raw count for the DTM an LDA fit consumes. */
  val TfIdf: (Long, Double) => Double = (cnt, idf) => cnt * idf
  val RawCount: (Long, Double) => Double = (cnt, _) => cnt.toDouble

  /** [[vectorize]]'s index: the vocabulary's (term, idx, df, n_docs) rows
    * collected once into a broadcast term → (idx, log10(n_docs / df)) map. */
  def termIndex(stats: DataFrame): Broadcast[Map[String, (Int, Double)]] = {
    val terms = stats.select("term", "idx", "df", "n_docs").collect().map(r =>
      r.getString(0) -> (r.getInt(1), StrictMath.log10(r.getDouble(3) / r.getLong(2))))
    stats.sparkSession.sparkContext.broadcast(terms.toMap)
  }

  /** The one document → SparseVector kernel (V9; ≙ dfm_match per row): a
    * doc's [[ngramCounts]] looked up in `terms` (OOV terms drop), weighted,
    * sorted by index, zero weights kept; a doc with no in-vocab term drops
    * (P4 — ref 04_cluster_refiner.R:33-35). Training passes [[widen]]ed docs. */
  def vectorize(docs: DataFrame, terms: Broadcast[Map[String, (Int, Double)]],
                size: Int, weight: (Long, Double) => Double): DataFrame = {
    // nondeterministic only so the null filter cannot re-run it per doc
    val toVector = udf { (words: Seq[String]) =>
      val hits = ngramCounts(words).toArray.flatMap { case (t, c) =>
        terms.value.get(t).map { case (i, idf) => i -> weight(c, idf) } }.sortBy(_._1)
      if (hits.isEmpty) null
      else new SparseVector(size, hits.map(_._1), hits.map(_._2))
    }.asNondeterministic()
    docs.select(col("doc_id"), toVector(wordsCol(col("text"))).as("features"))
      .filter(col("features").isNotNull)
  }
}
