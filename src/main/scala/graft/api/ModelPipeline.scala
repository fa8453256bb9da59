package graft.api

import graft.cluster.ClusterPipeline
import graft.coherence.ProbCoherence
import graft.features.Featurize
import graft.refine.{CosineMerge, LdaSplitter, ModelRefresh, Renumber}
import graft.sources.Tables
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end modeling pipeline (SURVEY §3.2 entry point 2 + §2.9
  * M9/M10): featurize → K-means → coherence → adaptive LDA split →
  * renumber → refresh → cosine merge → renumber → refresh → report.
  * Mirrors the reference's optimize_clusters_with_coherence
  * (ref ...optimised_clusters.R:831-900) and runPhase1Pipeline
  * (ref 04_cluster_refiner.R:726-774) as one driver-orchestrated
  * composition over lazy distributed stages.
  *
  * The dir-keyed accessors ([[counts]], [[weights]], [[fitted]],
  * [[splitAssignments]]) memoize through [[Intermediates]]: every
  * report over the same (dataset, params) shares ONE materialization of
  * the DFM subtree and ONE K-means/LDA fit — exactly how the reference
  * holds one `dfm`/`kmeans_model` object that every downstream stage
  * reads (ref 02_build_models.R:161-190), and the only design that
  * survives 100 TB, where the corpus-wide tokenize→count pass is the
  * dominant cost and must not be multiplied by the report count.
  */
object ModelPipeline {

  /** Everything downstream stages need, fitted once. `counts` is the
    * single materialization point: every downstream stage (weights,
    * vocab, vectors, coherence presence) derives from it, so the
    * tokenize→ngram→count subtree runs exactly once per pipeline instead
    * of once per stage. `docTerms` for coherence is counts-projected —
    * coherence binarizes anyway, and counts already holds distinct
    * (doc, term) pairs. */
  final case class Fitted(
      docTerms: DataFrame,    // (doc_id, term) distinct pairs
      counts: DataFrame,      // (doc_id, term, cnt), checkpointed
      weights: DataFrame,     // (doc_id, term, weight)
      vocab: DataFrame,       // (term, idx)
      vocabTerms: Array[String],
      assignments: DataFrame, // (doc_id, cluster, features)
      model: org.apache.spark.ml.clustering.KMeansModel)

  /** Shared (doc_id, term, cnt) DFM relation for a dataset dir —
    * materialized once per session. */
  def counts(s: SparkSession, d: String): DataFrame =
    Intermediates.memo(s, s"counts|$d") {
      Featurize.termCounts(Featurize.docTerms(Tables.documents(s, d)))
        .localCheckpoint()
    }

  /** Shared quanteda TF-IDF weights relation for a dataset dir. */
  def weights(s: SparkSession, d: String): DataFrame =
    Intermediates.memo(s, s"weights|$d") {
      Featurize.tfidf(counts(s, d), Tables.documents(s, d)).localCheckpoint()
    }

  def fit(docs: DataFrame, k: Int = 15, seed: Long = 123,
          vocabSize: Int = 2000,
          precomputedCounts: Option[DataFrame] = None,
          precomputedWeights: Option[DataFrame] = None): Fitted = {
    val counts = precomputedCounts.getOrElse(
      Featurize.termCounts(Featurize.docTerms(docs)).localCheckpoint())
    val docTerms = counts.select(col("doc_id"), col("term"))
    // weights feeds topVocab, the vector assembly, AND every downstream
    // fm.weights consumer — reuse the session materialization when the
    // caller has one (the lazy tfidf join would otherwise re-execute
    // per consumer)
    val weights = precomputedWeights.getOrElse(Featurize.tfidf(counts, docs))
    val vocab = Featurize.topVocab(weights, vocabSize).localCheckpoint()
    val vocabTerms = {
      val arr = new Array[String](vocab.count().toInt)
      vocab.collect().foreach(r => arr(r.getInt(1)) = r.getString(0))
      arr
    }
    val feats = Featurize.vectors(weights, vocab, vocabSize).localCheckpoint()
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(feats)
    Fitted(docTerms, counts, weights, vocab, vocabTerms,
      model.transform(feats), model)
  }

  /** Dir-keyed fitted pipeline, shared across every query in the
    * session that models the same dataset with the same params. */
  def fitted(s: SparkSession, d: String, k: Int = 15, seed: Long = 123,
             vocabSize: Int = 2000): Fitted =
    Intermediates.memo(s, s"fitted|$d|$k|$seed|$vocabSize") {
      fit(Tables.documents(s, d), k, seed, vocabSize,
        Some(counts(s, d)), Some(weights(s, d)))
    }

  /** Per-cluster coherence over the top-M TF-IDF terms (A8 + A10). */
  def coherence(fm: Fitted, topM: Int = 5): DataFrame =
    ProbCoherence.perCluster(
      fm.docTerms,
      fm.assignments.select(col("doc_id"), col("cluster")),
      ClusterPipeline.topTerms(fm.weights, fm.assignments, topM))

  /** Adaptive LDA split of low-coherence clusters, then dense renumber.
    * Returns refreshed (doc_id, cluster, features). */
  def split(fm: Fitted, params: LdaSplitter.Params): DataFrame = {
    val scores = coherence(fm, params.topM).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val countVecs = Featurize.countVectors(fm.counts, fm.vocab,
      fm.vocabTerms.length)
    val updated = LdaSplitter.split(
      countVecs, fm.assignments.select(col("doc_id"), col("cluster")),
      scores, fm.vocabTerms, params)
    // materialize once: every downstream consumer (top terms, coherence,
    // merge centers, stats, labels) re-reads the split assignments, and
    // re-evaluating the LDA-transform/renumber/union DAG per consumer
    // multiplies the whole split cost by the consumer count
    Renumber.dense(updated)
      .join(fm.assignments.select(col("doc_id"), col("features")), "doc_id")
      .localCheckpoint()
  }

  /** Dir-keyed split assignments over the dir-keyed fit — one LDA sweep
    * per (dataset, params) per session. */
  def splitAssignments(s: SparkSession, d: String, params: LdaSplitter.Params,
                       k: Int = 15, seed: Long = 123,
                       vocabSize: Int = 2000): DataFrame =
    Intermediates.memo(s, s"split|$d|$k|$seed|$vocabSize|$params") {
      split(fitted(s, d, k, seed, vocabSize), params)
    }

  /** Cosine merge of redundant clusters, then dense renumber. */
  def merge(assignments: DataFrame, threshold: Double = 0.9): DataFrame = {
    val centers = CosineMerge.collectCenters(assignments)
    val mm = CosineMerge.mergeMap(centers, threshold)
    Renumber.dense(CosineMerge.apply(assignments, mm))
  }

  /** Full optimization: split → merge → per-cluster stats
    * (cluster, n_docs, withinss), ordered. */
  def optimize(docs: DataFrame, k: Int = 15, seed: Long = 123,
               vocabSize: Int = 2000,
               params: LdaSplitter.Params = LdaSplitter.Params(),
               mergeThreshold: Double = 0.9): DataFrame = {
    val fm = fit(docs, k, seed, vocabSize)
    optimizeFrom(split(fm, params), mergeThreshold)
  }

  /** Dir-keyed optimize over the shared fit/split materializations. */
  def optimize(s: SparkSession, d: String, k: Int, seed: Long,
               params: LdaSplitter.Params, mergeThreshold: Double): DataFrame =
    optimizeFrom(splitAssignments(s, d, params, k, seed), mergeThreshold)

  private def optimizeFrom(afterSplit: DataFrame,
                           mergeThreshold: Double): DataFrame =
    ModelRefresh.stats(merge(afterSplit, mergeThreshold))
      .orderBy(col("cluster"))

  /** M10 + A10: the refiner pipeline (ref runPhase1Pipeline
    * 04_cluster_refiner.R:726-774) — coherence → conditional split
    * (`breakClusters` ≙ the reference's break_clusters flag) → top
    * terms → deterministic labels → the labeled coherence report
    * (cluster, n_docs, coherence, label) sorted best-first (ref
    * 02_build_models.R:790-853). A cluster whose label is missing gets
    * "Unlabeled" — warn-don't-fail (ref 04_cluster_refiner.R:626-628). */
  def refinerReport(docs: DataFrame, k: Int = 15, seed: Long = 123,
                    vocabSize: Int = 2000,
                    params: LdaSplitter.Params = LdaSplitter.Params(),
                    breakClusters: Boolean = true): DataFrame = {
    val fm = fit(docs, k, seed, vocabSize)
    val asg =
      if (breakClusters) split(fm, params)
      else fm.assignments.select(col("doc_id"), col("cluster"))
    reportFrom(fm, asg)
  }

  /** Dir-keyed refiner report over the shared fit/split. */
  def refinerReport(s: SparkSession, d: String, k: Int, seed: Long,
                    params: LdaSplitter.Params): DataFrame =
    reportFrom(fitted(s, d, k, seed), splitAssignments(s, d, params, k, seed))

  private def reportFrom(fm: Fitted, asg: DataFrame): DataFrame = {
    val asgSlim = asg.select(col("doc_id"), col("cluster"))
    // tiny (≤ clusters × 5 rows) but read by coherence AND labels —
    // materialize to avoid re-running the weights join per consumer
    val top = ClusterPipeline.topTerms(fm.weights, asgSlim, 5).localCheckpoint()
    val coh = ProbCoherence.perCluster(fm.docTerms, asgSlim, top)
    val labels = top.filter(col("rnk") <= 3)
      .groupBy(col("cluster"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("term")))),
          x => x("term")), " / ").as("label"))
    // Frame anchored on the ASSIGNMENT-side cluster universe, not the
    // coherence output: perCluster needs ≥ 2 scored top terms to form a
    // pair, so a degenerate cluster (one distinct present term) would
    // silently vanish from an inner-joined report, taking its docs with
    // it. Left-joining from the sizes relation conserves the corpus by
    // construction — such a cluster reports a null coherence (no score,
    // sorted last) instead of disappearing, the same warn-don't-fail
    // stance as the "Unlabeled" fallback.
    val sizes = asgSlim.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
    sizes
      .join(coh.select(col("cluster"), col("coherence")), Seq("cluster"), "left")
      .join(broadcast(labels), Seq("cluster"), "left")
      .withColumn("label", coalesce(col("label"), lit("Unlabeled")))
      .select(col("cluster"), col("n_docs"), col("coherence"), col("label"))
      .orderBy(col("coherence").desc, col("cluster"))
  }
}
