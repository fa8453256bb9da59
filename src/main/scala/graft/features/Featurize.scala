package graft.features

import graft.functions.TextFunctions
import org.apache.spark.ml.linalg.{SparseVector, Vectors}
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
  * Scale: n-grams are counted inside each document's row, so the DFM
  * costs no shuffle; after it, shuffle keys are terms/docs with bounded
  * skew. `doc_id` is the documents' key: rows sharing one are counted
  * apart, never merged.
  */
object Featurize {

  /** Stopword-filtered unigrams per doc (clean chain + F6). */
  def wordsCol(textCol: Column): Column =
    filter(TextFunctions.tokens(textCol),
      t => !t.isin(TextFunctions.stopWords: _*))

  /** The per-row term-count kernel: a document's stopword-filtered
    * tokens → its 1+2+3-gram counts, space-joined like `NGram` (quanteda
    * tokens ngrams=1:3; ref 02_build_models.R:162). Training explodes it
    * ([[counts]]); serving looks it up in a broadcast vocabulary
    * ([[graft.api.ModelStore.vectorize]]). Null tokens have no terms. */
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

  /** (doc_id, term, cnt) counts — the DFM in relational form (V3): the
    * kernel exploded per row, with no (doc_id, term)-keyed shuffle. */
  def counts(docs: DataFrame): DataFrame =
    // widen a narrow scan before the fanout (a no-op at scale)
    graft.sources.Scans.widenForFanout(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(ngramCountsUdf(wordsCol(col("text")))))
      .select(col("doc_id"), col("key").as("term"), col("value").as("cnt"))

  /** quanteda dfm_tfidf: weight = cnt · log10(N / df) (V5). N arrives as
    * a broadcast 1-row aggregate — no separate eager count() scan. The
    * term→df join is pinned to shuffle-hash: the df relation is one row
    * per DISTINCT 1-3-gram (grows with the corpus — never truly small),
    * and its compressed size sits under the auto-broadcast threshold
    * while the driver-side HashedRelation build of that many long string
    * keys is slow, GC-heavy, and wildly variable. */
  def tfidf(counts: DataFrame, docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val df = counts.groupBy(col("term")).agg(count(lit(1)).as("df"))
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

  private val toSparse =
    udf { (size: Int, idx: Seq[Int], vals: Seq[Double]) =>
      val pairs = idx.zip(vals).sortBy(_._1).toArray
      Vectors.sparse(size, pairs.map(_._1), pairs.map(_._2)).asInstanceOf[SparseVector]
    }

  private def assemble(df: DataFrame, vocab: DataFrame, vocabSize: Int,
                       valCol: Column): DataFrame =
    df.join(vocab, "term")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("idx")).as("is"), collect_list(valCol).as("vs"))
      .select(col("doc_id"), toSparse(lit(vocabSize), col("is"), col("vs")).as("features"))

  /** Assemble per-doc SparseVector TF-IDF features over the fixed
    * vocabulary. Docs with no in-vocab terms are dropped (non-empty-doc
    * filter P4 — ref 04_cluster_refiner.R:33-35). */
  def vectors(weights: DataFrame, vocab: DataFrame, vocabSize: Int): DataFrame =
    assemble(weights, vocab, vocabSize, col("weight"))

  /** Assemble per-doc SparseVector term-COUNT features (the DTM an LDA
    * fit consumes — topic models want counts, not TF-IDF weights). */
  def countVectors(counts: DataFrame, vocab: DataFrame, vocabSize: Int): DataFrame =
    assemble(counts, vocab, vocabSize, col("cnt").cast("double"))
}
