package graft.api

import graft.features.Featurize
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model persistence + prediction path (SURVEY §2.1 S7-S9, §2.9 M8,
  * §2.8 V9) — the engine's replacement for the reference's RDS blobs
  * (ref saveRDS 02_build_models.R:770-772, readRDS + dfm_match predict
  * flow README.md:512-521).
  *
  * Persisted layout under one directory:
  *   kmeans/  — MLlib KMeansModel (native ML persistence)
  *   vocab/   — parquet (term, idx, df, n_docs): the training vocabulary
  *              WITH its document frequencies, so predict-time
  *              vectorization applies the SAME quanteda weighting the
  *              model was trained on. (The reference's documented predict
  *              flow skips TF-IDF weighting at predict time — a train/
  *              predict inconsistency; the engine uses one weighting on
  *              both sides, §7.4-style single-config decision.)
  *
  * Vocab matching ≙ dfm_match, per document row, in training and predict
  * alike: [[Featurize.vectorize]] meets each doc's n-gram counts with the
  * broadcast vocabulary map (OOV terms drop, missing terms zero-fill), so
  * a predict is one narrow stage with no shuffle and no vocabulary scan.
  * `doc_id` is the documents' key: rows sharing one are predicted apart.
  */
object ModelStore {

  /** `terms`: `vocab` as a broadcast term → (idx, log10(n_docs / df)) map. */
  final case class Saved(model: KMeansModel, vocab: DataFrame, vocabSize: Int,
                         terms: Broadcast[Map[String, (Int, Double)]])

  /** Predict-time vectors take the dimensionality from the centers, which
    * can exceed the realized vocabulary (vocabSize > distinct terms). */
  private def saved(model: KMeansModel, vocab: DataFrame): Saved =
    Saved(model, vocab, model.clusterCenters.head.size, Featurize.termIndex(vocab))

  /** S9 versioned path convention: f(cluster count, date) — matches the
    * reference's `{k}_topic_{kind}.rds` naming intent
    * (ref 04_cluster_refiner.R:679-700). Date is an explicit argument:
    * path construction stays deterministic. */
  def versionedDir(base: String, k: Int, date: java.time.LocalDate): String =
    s"$base/${k}_topic_model_$date"

  /** The df/N-weighted vocabulary relation [[save]] persists, which the
    * fit's vector index and an IN-MEMORY [[Saved]] also read
    * (the s09 round-trip row compares the loaded store's predictions
    * against predictions through this identical in-memory relation,
    * isolating exactly the disk round-trip). `counts` and `docs` are
    * the TRAINING corpus relations the df/N statistics derive from. */
  def vocabWithStats(vocab: DataFrame, counts: DataFrame,
                     docs: DataFrame): DataFrame = {
    val (df, n) = Featurize.docFreq(
      counts.join(broadcast(vocab.select(col("term"))), Seq("term"), "left_semi"), docs)
    vocab.join(df, "term").crossJoin(broadcast(n))
      .select(col("term"), col("idx"), col("df"), col("n_docs"))
  }

  /** An in-memory [[Saved]] over a fit — the no-disk twin of
    * save-then-load. */
  def inMemory(model: KMeansModel, vocab: DataFrame, counts: DataFrame,
               docs: DataFrame): Saved =
    saved(model, vocabWithStats(vocab, counts, docs))

  /** Persist model + weighted vocabulary. `counts` and `docs` are the
    * TRAINING corpus relations the df/N statistics derive from. */
  def save(dir: String, model: KMeansModel, vocab: DataFrame,
           counts: DataFrame, docs: DataFrame): Unit = {
    org.apache.spark.ml.clustering.GraftKMeansIO
      .save(s"$dir/kmeans", model)
    vocabWithStats(vocab, counts, docs)
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** True when `dir` holds a completely written model (the vocabulary
    * is written last). */
  def isSaved(dir: String): Boolean =
    new java.io.File(s"$dir/vocab/_SUCCESS").isFile

  def load(spark: SparkSession, dir: String): Saved =
    saved(org.apache.spark.ml.clustering.GraftKMeansIO.load(s"$dir/kmeans"),
      spark.read.parquet(s"$dir/vocab"))

  /** V9 predict-time vectorization: the training kernel, weighted
    * cnt · log10(n_docs / df), over the batch as given (not widened). */
  def vectorize(docs: DataFrame, saved: Saved): DataFrame =
    Featurize.vectorize(docs, saved.terms, saved.vocabSize, Featurize.TfIdf)

  /** M8 nearest-centroid prediction: (doc_id, cluster). */
  def predict(docs: DataFrame, saved: Saved): DataFrame =
    saved.model.transform(vectorize(docs, saved))
      .select(col("doc_id"), col(saved.model.getPredictionCol).as("cluster"))
}
