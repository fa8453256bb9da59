package graft.ml

import graft.QueryDef
import graft.cluster.ClusterPipeline
import graft.coherence.ProbCoherence
import graft.features.Featurize
import graft.oracle.DuckFragments
import graft.refine.ModelRefresh
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ML featurization/clustering pipeline wired into the correctness
  * harness (SURVEY §2.4 A1-A8, §2.5 T1-T3, §2.8 V1-V7, §2.9 M1/M6).
  *
  * m01-m05 are the pure-relational stages of the reference's modeling
  * flow (ref 02_build_models.R:161-190 featurize, :617-642 top terms,
  * :466-471 coherence) and carry full DuckDB oracles. m04/m05 run over
  * deterministic hash-partition clusters (doc_id % 10) so the per-cluster
  * operators are oracle-checkable independently of K-means; m06-m10 run
  * the real seeded fits, with the seed-specific internals engine-side
  * and their deterministic FRAMES (center universe, conservation
  * totals, density/non-negativity/idempotence flags) emitted as fully
  * oracle-bound rows, so every row in this family is hash-checked
  * (ref 02_build_models.R:775-787 documents the same model-frame fields
  * as the persisted contract).
  */
object MlQueries {

  /** Shared CTE chain: 1-3-gram terms → counts → quanteda tf-idf weights
    * (≙ [[Featurize.counts]]/[[Featurize.tfidf]]),
    * parametric on the corpus CTE/table (`table`) and a CTE-name suffix
    * (`sfx`) so one oracle can run the chain over TWO corpora (m18's
    * pre-takedown union vs the survivor corpus) without name clashes.
    * The default instantiation is byte-identical to the pre-r19
    * `termsCte` — every existing oracle hash is untouched. */
  private[graft] def termsCteOver(table: String, sfx: String): String = {
    val words = DuckFragments.wordsListSql
    s"""base$sfx AS (SELECT doc_id, $words AS l FROM $table),
       |w$sfx AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w FROM base$sfx),
       |g2$sfx AS (SELECT doc_id, pos, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS t FROM w$sfx),
       |g3$sfx AS (SELECT doc_id, pos, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
       |       || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t FROM w$sfx),
       |terms$sfx AS (
       |  SELECT doc_id, w AS term FROM w$sfx
       |  UNION ALL SELECT doc_id, t FROM g2$sfx WHERE t IS NOT NULL
       |  UNION ALL SELECT doc_id, t FROM g3$sfx WHERE t IS NOT NULL),
       |tc$sfx AS (SELECT doc_id, term, count(*) AS n FROM terms$sfx GROUP BY doc_id, term),
       |dfreq$sfx AS (SELECT term, count(*) AS df FROM tc$sfx GROUP BY term),
       |nd$sfx AS (SELECT count(*)::DOUBLE AS n_docs FROM $table),
       |weights$sfx AS (SELECT doc_id, term, n * log10(n_docs / df) AS weight
       |            FROM tc$sfx JOIN dfreq$sfx USING (term) CROSS JOIN nd$sfx)""".stripMargin
  }

  private[graft] val termsCte: String = termsCteOver("documents", "")

  /** Hash-partition pseudo-clusters: deterministic, SQL-expressible stand-in
    * for K-means assignments so per-cluster operators get real oracles. */
  private[graft] def hashClusters(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), (col("doc_id") % 10).as("cluster"))

  /** Shared materialized DFM weights (see [[graft.api.Intermediates]]) —
    * every query in the m/f families reads the same checkpointed
    * relation instead of re-running the tokenize→ngram→count subtree. */
  private[graft] def weights(s: SparkSession, d: String): DataFrame =
    graft.api.ModelPipeline.weights(s, d)

  /** m01 — V1/V3/A6: 1-3-gram document-term counts (the relational DFM). */
  def docTermCounts(s: SparkSession, d: String): DataFrame =
    graft.api.ModelPipeline.counts(s, d)
      .select(col("doc_id"), col("term"), col("cnt").as("n"))
      .orderBy(col("doc_id"), col("term"))

  private val docTermCountsSql =
    "WITH " + termsCte + """
      |SELECT doc_id, term, CAST(n AS BIGINT) AS n FROM tc
      |ORDER BY doc_id, term""".stripMargin

  /** m02 — V5: quanteda dfm_tfidf weighting cnt·log10(N/df). */
  def tfidfQuanteda(s: SparkSession, d: String): DataFrame =
    weights(s, d)
      .select(col("doc_id"), col("term"), round(col("weight"), 6).as("weight"))
      .orderBy(col("doc_id"), col("term"))

  private val tfidfQuantedaSql =
    "WITH " + termsCte + """
      |SELECT doc_id, term, round(weight, 6) AS weight FROM weights
      |ORDER BY doc_id, term""".stripMargin

  /** m03 — V7/T1: top-2000 vocabulary by summed TF-IDF mass with dense ids
    * (ref reduce_dfm 02_build_models.R:174-180). */
  def topVocab(s: SparkSession, d: String): DataFrame =
    Featurize.topVocab(weights(s, d), 2000)
      .select(col("term"), col("idx").cast("long").as("idx"))
      .orderBy(col("idx"))

  /** The mass-ranked vocabulary CTE pair (mass, vocab) — ONE source of
    * truth for the top-2000 selection rule on the SQL side, shared by
    * m03's full oracle and m12's vectorizable-doc count (same factoring
    * rationale as DedupOps.jaccardCtesSql: the consumers must not be
    * able to drift apart). */
  private def massVocabCteOver(sfx: String): String =
    s"""mass$sfx AS (SELECT term, round(sum(weight), 6) AS mass
      |         FROM weights$sfx GROUP BY term),
      |vocab$sfx AS (SELECT term, mass FROM mass$sfx
      |          ORDER BY mass DESC, term LIMIT 2000)""".stripMargin

  private val massVocabCte = massVocabCteOver("")

  private val topVocabSql =
    "WITH " + termsCte + s""",
       |$massVocabCte
       |SELECT term, CAST(row_number() OVER (ORDER BY mass DESC, term) - 1 AS BIGINT) AS idx
       |FROM vocab ORDER BY idx""".stripMargin

  /** m04 — A2/T3: top-5 terms per cluster by TF-IDF mass (ref
    * extract_cluster_terms 02_build_models.R:617-642), over hash-clusters. */
  def clusterTopTerms(s: SparkSession, d: String): DataFrame =
    ClusterPipeline.topTerms(weights(s, d), hashClusters(Tables.documents(s, d)), 5)
      .orderBy(col("cluster"), col("rnk"))

  private val clusterTopTermsSql =
    "WITH " + termsCte + """,
       |asg AS (SELECT doc_id, doc_id % 10 AS cluster FROM documents),
       |cmass AS (SELECT cluster, term, round(sum(weight), 6) AS mass
       |          FROM weights JOIN asg USING (doc_id) GROUP BY cluster, term),
       |ranked AS (SELECT cluster, term, mass,
       |           row_number() OVER (PARTITION BY cluster ORDER BY mass DESC, term) AS rnk FROM cmass)
       |SELECT cluster, term, mass, CAST(rnk AS BIGINT) AS rnk FROM ranked
       |WHERE rnk <= 5 ORDER BY cluster, rnk""".stripMargin

  /** m05 — A8/A10: Mimno probabilistic coherence of each cluster's top-5
    * terms + per-cluster doc counts, sorted worst-last (the coherence
    * report, ref 02_build_models.R:466-471, 790-853). */
  def coherenceReport(s: SparkSession, d: String): DataFrame = {
    val asg = hashClusters(Tables.documents(s, d))
    // counts and weights are the session-shared materializations: the
    // coherence presence reads counts' distinct (doc, term) pairs
    // (coherence binarizes anyway), top terms read the weights
    val counts = graft.api.ModelPipeline.counts(s, d)
    val top = ClusterPipeline.topTerms(weights(s, d), asg, 5)
    ProbCoherence.perCluster(
      counts.select(col("doc_id"), col("term")), asg, top)
      .orderBy(col("coherence").desc, col("cluster"))
  }

  private val coherenceReportSql =
    "WITH " + termsCte + """,
       |asg AS (SELECT doc_id, doc_id % 10 AS cluster FROM documents),
       |cmass AS (SELECT cluster, term, round(sum(weight), 6) AS mass
       |          FROM weights JOIN asg USING (doc_id) GROUP BY cluster, term),
       |top AS (SELECT cluster, term, rnk FROM (
       |        SELECT cluster, term, mass,
       |               row_number() OVER (PARTITION BY cluster ORDER BY mass DESC, term) AS rnk
       |        FROM cmass) z WHERE rnk <= 5),
       |presence AS (SELECT DISTINCT a.cluster, t.doc_id, tp.rnk
       |             FROM terms t JOIN asg a USING (doc_id)
       |             JOIN top tp ON tp.cluster = a.cluster AND tp.term = t.term),
       |ndocs AS (SELECT cluster, count(*) AS n_docs FROM asg GROUP BY cluster),
       |dw AS (SELECT cluster, rnk, count(*) AS d FROM presence GROUP BY cluster, rnk),
       |cooc AS (SELECT a.cluster, a.rnk AS ri, b.rnk AS rj, count(*) AS dij
       |         FROM presence a JOIN presence b
       |           ON a.cluster = b.cluster AND a.doc_id = b.doc_id AND a.rnk < b.rnk
       |         GROUP BY a.cluster, a.rnk, b.rnk),
       |pairs AS (SELECT i.cluster, i.rnk AS ri, j.rnk AS rj, i.d AS di, j.d AS dj
       |          FROM dw i JOIN dw j ON i.cluster = j.cluster AND i.rnk < j.rnk),
       |sc AS (SELECT p.cluster, COALESCE(c.dij, 0) / p.di - p.dj / n.n_docs AS score, n.n_docs
       |       FROM pairs p
       |       LEFT JOIN cooc c ON c.cluster = p.cluster AND c.ri = p.ri AND c.rj = p.rj
       |       JOIN ndocs n ON n.cluster = p.cluster)
       |SELECT cluster, round(avg(score), 6) AS coherence, CAST(max(n_docs) AS BIGINT) AS n_docs
       |FROM sc GROUP BY cluster ORDER BY coherence DESC, cluster""".stripMargin

  /** m06 — M1/A4/A5/M6: the real pipeline — featurize → seeded K-means
    * k=15 → per-cluster size + within-cluster SSQ (ref apply_clustering +
    * update_kmeans_model 02_build_models.R:183-190, 391-450).
    *
    * A bound frame row: Lloyd's iterations aren't SQL-expressible, so
    * the seed-specific sizes and SSQs stay engine-side
    * (ClusterPipelineSpec pins seed determinism; m12 pins the fit
    * frame), and the registry row emits, per CENTER id, the invariants
    * any correct fit must satisfy. The row universe is anchored on the
    * MODEL's centers 0..k−1 — k = 15 is a query PARAMETER, so unlike a
    * data-dependent cluster count the universe is identical at every
    * SF:
    *
    *  - ssq_ok: within-cluster SSQ ≥ 0 per populated cluster (an empty
    *    cluster — legal for Lloyd — has no stats row and passes null);
    *  - in_range_ok (constant): every ASSIGNED cluster id falls in
    *    0..k−1 — MLlib transform guarantees it, a violated guarantee
    *    is a defect this row must catch;
    *  - n_docs_total (constant): Σ n_docs over all clusters = the
    *    vectorizable-doc count, reproduced relationally on the oracle
    *    side from the same mass-ranked vocabulary m03 hash-matches
    *    (corpus conservation, m12's formula). */
  def kmeansStats(s: SparkSession, d: String): DataFrame = {
    val fm = graft.api.ModelPipeline.fitted(s, d, k = 15, seed = 123)
    val stats = ModelRefresh.withinss(fm.assignments, modelCenters(fm))
    val k = fm.model.clusterCenters.length
    val inv = stats.agg(
      sum(col("n_docs")).as("n_docs_total"),
      min(when(col("cluster") >= 0 && col("cluster") < k, 1).otherwise(0))
        .as("in_range_ok"))
    s.range(k.toLong)
      .select(col("id").cast("int").as("cluster"))
      .join(stats, Seq("cluster"), "left")
      .crossJoin(broadcast(inv))
      .select(col("cluster").cast("long").as("cluster"),
        when(col("withinss").isNull || col("withinss") >= 0, 1)
          .otherwise(0).as("ssq_ok"),
        col("in_range_ok").cast("int").as("in_range_ok"),
        col("n_docs_total"))
      .orderBy(col("cluster"))
  }

  /** The fitted model's own centers, by cluster id. */
  private def modelCenters(fm: graft.api.ModelPipeline.Fitted) =
    fm.model.clusterCenters.zipWithIndex.map { case (v, c) => c -> v }.toMap

  /** m06's oracle: the center universe 0..14 (parameter-fixed, valid at
    * any SF), flags pinned to 1, and the conserved total reproduced
    * relationally (m12's vectorizable-doc formula). */
  private val kmeansStatsSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST(ids.c AS BIGINT) AS cluster, 1 AS ssq_ok,
      |  1 AS in_range_ok,
      |  CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT)
      |    AS n_docs_total
      |FROM (SELECT unnest(generate_series(0, 14)) AS c) ids
      |ORDER BY cluster""".stripMargin

  /** Dense-universe aggregate flag shared by m07/m08/m09/m13: the
    * cluster ids of the aggregated relation are exactly 0..k'−1,
    * pinned without fixing the engine-specific k'. */
  private def denseIdsAgg: org.apache.spark.sql.Column =
    (min(col("cluster")) === 0 &&
      max(col("cluster")) === countDistinct(col("cluster")) - 1 &&
      countDistinct(col("cluster")) === count(lit(1))).cast("int")

  /** One LdaSplitter parameterization shared by m07/m09 so the
    * session-level split materialization is computed once. */
  private val splitParams = graft.refine.LdaSplitter.Params(
    kRange = 2 to 3, coherenceThreshold = 0.5, minDocsForSplit = 10,
    maxIter = 5)

  /** m07 — M2-M7 + J2/J3: the full optimization pipeline — featurize →
    * K-means → coherence gate → adaptive-k LDA split (theta-argmax
    * reassignment) → dense renumber → cosine merge → refreshed stats
    * (ref optimize_clusters_with_coherence
    * ...optimised_clusters.R:831-900). threshold=0.5 forces the split
    * attempt on the synthetic corpus's low-coherence catch-all cluster
    * (the corpus is topic-free bag-of-words, so the LDA usually finds one
    * dominant topic and the reassignment is a no-op — the structured A2
    * fixture in RefineSpec proves real splits).
    *
    * A bound frame row: the iterative LDA/K-means fits aren't
    * SQL-expressible, so the per-cluster stats stay engine-side and the
    * row emits the frame invariants the sweep must satisfy — the
    * conserved doc total (oracle-relational, m12's formula), dense
    * renumbering, SSQ non-negativity, PLUS the cross-stage conservation
    * check m13 does not carry: Σ n_docs after split→merge→refresh must
    * equal the FITTED assignment count (a split or merge that drops or
    * duplicates docs breaks this before it breaks the oracle total).
    * m13 pins the same sweep through its own aggregate; the two rows
    * share the memoized sweep, so the marginal cost is one aggregation. */
  def ldaOptimize(s: SparkSession, d: String): DataFrame = {
    val fitN = graft.api.ModelPipeline.fitted(s, d, k = 15, seed = 123)
      .assignments.agg(count(lit(1)).as("fit_docs"))
    graft.api.ModelPipeline.optimize(s, d, k = 15, seed = 123,
        params = splitParams, mergeThreshold = 0.9)
      .agg(sum(col("n_docs")).as("n_docs"),
        denseIdsAgg.as("dense_ok"),
        min(when(col("withinss") >= 0, 1).otherwise(0)).as("nonneg_ok"))
      .crossJoin(broadcast(fitN))
      .select(col("n_docs"), col("dense_ok"),
        col("nonneg_ok").cast("int").as("nonneg_ok"),
        (col("n_docs") === col("fit_docs")).cast("int")
          .as("conserves_fit_ok"))
  }

  private val ldaOptimizeSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT) AS n_docs,
      |  1 AS dense_ok, 1 AS nonneg_ok, 1 AS conserves_fit_ok""".stripMargin

  /** m08 — M6/M7/J3: cosine centroid merge + dense renumber + refreshed
    * stats over the seeded K-means fit (no LDA stage — isolates the
    * merge/renumber/refresh path). It composes the same summary and
    * merge that [[graft.api.ModelPipeline.optimize]] uses.
    *
    * A bound frame row: the merge choices depend on the seed-specific
    * centers, so the per-cluster stats stay engine-side and the row
    * emits the invariants ANY correct first-wins chained merge (ref
    * ...optimised_clusters.R:861-879) must satisfy:
    *
    *  - map_mono_ok / map_total_ok: the merge MAP only ever retargets
    *    DOWNWARD (each update sets mm(x) to an i strictly below its
    *    current value — the i<j scan order's signature; a reversed or
    *    corrupted retarget breaks it) and stays total over the center
    *    universe (a dropped cluster id breaks it). Deliberately NOT
    *    pinned: map idempotence (mm∘mm = mm, "merging twice changes
    *    nothing") — first-wins CHAINING legally violates it:
    *    cos(1,2) > t and cos(2,3) > t with cos(1,3) ≤ t yields
    *    mm = {2→1, 3→2}, the reference's documented semantics (§7.4.4 —
    *    chaining, not transitive closure), so an idempotence flag would
    *    flip red on a legal center configuration at some future corpus;
    *  - k_le_fit_ok: merging never grows the cluster count past the
    *    fitted k;
    *  - dense_ok / nonneg_ok: post-merge renumbering is dense 0..k''−1
    *    and refreshed SSQs are non-negative;
    *  - n_docs (oracle-relational, m12's formula) + conserves_fit_ok:
    *    the merge moves docs between clusters, never drops or
    *    duplicates them. */
  def clusterMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fm = graft.api.ModelPipeline.fitted(s, d, k = 15, seed = 123)
    val summary = ModelRefresh.summary(fm.assignments)
    val merged = graft.api.ModelPipeline.merge(fm.assignments, summary, threshold = 0.9)
    // k-row map algebra, evaluated IN the executed plan: the merge map
    // and center universe become k-row local relations and the
    // mono/totality flags aggregate over their full-outer alignment, so
    // re-executing the returned DataFrame re-checks them.
    val mmDf = merged.map.toSeq.toDF("x", "r")
    val uni = summary.keySet.toSeq.toDF("cid")
    val mapFlags = mmDf
      .join(uni.withColumnRenamed("cid", "xk"),
        col("x") === col("xk"), "full_outer")
      .join(uni.withColumnRenamed("cid", "rk"),
        col("r") === col("rk"), "left")
      .agg(
        // every universe id keyed, no stray keys
        min(when(col("x").isNotNull && col("xk").isNotNull, 1).otherwise(0))
          .as("map_keys_ok"),
        // every retarget lands inside the universe (vacuous on rows
        // that already fail the key check — r is null there)
        min(when(col("r").isNull || col("rk").isNotNull, 1).otherwise(0))
          .as("map_vals_ok"),
        // retargets only ever point DOWNWARD (first-wins scan order)
        min(when(col("r").isNull || col("r") <= col("x"), 1).otherwise(0))
          .as("map_mono_ok"))
    val fitN = fm.assignments.agg(count(lit(1)).as("fit_docs"))
    ModelRefresh.withinss(merged.assignments, merged.centers)
      .agg(sum(col("n_docs")).as("n_docs"),
        denseIdsAgg.as("dense_ok"),
        min(when(col("withinss") >= 0, 1).otherwise(0)).as("nonneg_ok"),
        (countDistinct(col("cluster")) <= fm.model.getK)
          .cast("int").as("k_le_fit_ok"))
      .crossJoin(broadcast(fitN))
      .crossJoin(broadcast(mapFlags))
      .select(col("n_docs"), col("dense_ok"),
        col("nonneg_ok").cast("int").as("nonneg_ok"),
        col("k_le_fit_ok"),
        col("map_mono_ok"),
        (col("map_keys_ok") === 1 && col("map_vals_ok") === 1)
          .cast("int").as("map_total_ok"),
        (col("n_docs") === col("fit_docs")).cast("int")
          .as("conserves_fit_ok"))
  }

  private val clusterMergeSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT) AS n_docs,
      |  1 AS dense_ok, 1 AS nonneg_ok, 1 AS k_le_fit_ok,
      |  1 AS map_mono_ok, 1 AS map_total_ok,
      |  1 AS conserves_fit_ok""".stripMargin

  /** m09 — M10/A10: the refiner pipeline — coherence-gated split, top
    * terms, deterministic labels, labeled report sorted best-first.
    * The registry row emits the report's OWN per-cluster rows, each
    * graded by invariant flags the oracle pins.
    *
    * SF-decoupled: the row universe is the FITTED center ids 0..14 —
    * k = 15 is a query parameter, and the split-only path (no merge,
    * ref 04_cluster_refiner.R:743-748) renumbers densely and never
    * shrinks the count below the fitted k, so ids 0..14 exist in the
    * report at EVERY SF whether or not the gate fires. The
    * data-dependent tail k' is not enumerated; instead the constant
    * `dense_ok` flag pins the FULL report universe relationally (dense
    * 0..k'−1 with k' ≥ 15) — the gate firing changes k', never the
    * flag, and a dropped/duplicated/non-dense id flips it to a red
    * row at any SF. Per-row flags: coherence within its
    * algebraic [−1,1] range (null legal — an unscorable cluster sorts
    * last, it must not vanish), label non-null/non-empty ("Unlabeled"
    * fallback included), n_docs ≥ 1. `n_docs_total` (constant): Σ
    * n_docs over the FULL report = the vectorizable-doc count,
    * reproduced relationally from the same mass-ranked vocabulary m03
    * hash-matches (corpus conservation, the m12/m13 pattern).
    *
    * The labeled report itself (labels, coherences, per-cluster sizes —
    * K-means/LDA internals no relational oracle can reproduce) stays
    * the API surface ([[graft.api.ModelPipeline.refinerReport]]),
    * exercised by RefineSpec including the forced-split fixtures. */
  def refinerReport(s: SparkSession, d: String): DataFrame = {
    val rep = graft.api.ModelPipeline.refinerReport(s, d, k = 15, seed = 123,
        params = splitParams)
      .localCheckpoint()
    val inv = rep.agg(
      sum(col("n_docs")).as("n_docs_total"),
      (denseIdsAgg === 1 && count(lit(1)) >= 15)
        .cast("int").as("dense_ok"))
    rep.filter(col("cluster") < 15)
      .crossJoin(broadcast(inv))
      .select(col("cluster").cast("long").as("cluster"),
        when(col("coherence").isNull ||
          (col("coherence") >= -1 && col("coherence") <= 1), 1)
          .otherwise(0).as("range_ok"),
        when(col("label").isNotNull && col("label") =!= "", 1)
          .otherwise(0).as("label_ok"),
        (col("n_docs") >= 1).cast("int").as("docs_ok"),
        col("dense_ok"), col("n_docs_total"))
      .orderBy(col("cluster"))
  }

  /** m10 — S7/S8/S9 + V9/M8 under the harness: persist the fitted
    * model and its df/N-weighted vocabulary to a versioned directory,
    * load it back, and predict a held-out systematic sample through the
    * predict-time vectorization path (vocab match, OOV drop,
    * train-corpus weighting, nearest centroid). The date is a fixed
    * literal — path construction stays deterministic across runs.
    *
    * A bound frame row: the predicted cluster ids are K-means-internal (s09 pins the disk round-trip
    * identity, m11 pins the predict path on a planted closed-form
    * corpus), but WHICH sampled docs survive prediction is fully
    * relational: the predict path drops exactly the docs with no
    * term in the train vocabulary ([[graft.api.ModelStore.vectorize]]'
    * documented OOV behavior), and the train vocabulary is the same
    * mass-ranked top-2000 m03 hash-matches. Anchored on the SAMPLE
    * (left join) so a dropped doc is a flagged row, not a missing one:
    *
    *  - predicted: 1 iff the loaded model produced a cluster for the
    *    doc — the oracle reproduces it as "has ≥ 1 in-vocab term";
    *  - in_range_ok: a produced prediction lies in 0..k−1 (null legal
    *    for non-vectorizable docs). */
  def modelPredict(s: SparkSession, d: String): DataFrame = {
    import graft.api.{ModelPipeline, ModelStore}
    val fm = ModelPipeline.fitted(s, d)
    val dir = tmpModelDir(s, d, "m10", fm.model.getK)
    // the stored model is this row's INPUT (s09 witnesses the round
    // trip; m10 witnesses the LOADED model's predictions) — billed
    // once per session
    if (!ModelStore.isSaved(dir))
      ModelStore.save(dir, fm.model, fm.vocab, fm.counts,
        Tables.documents(s, d))
    val saved = ModelStore.load(s, dir)
    val sample = graft.sources.Sinks
      .sampleByMod(Tables.documents(s, d), "doc_id", 10, 3)
    val k = fm.model.getK
    sample.select(col("doc_id"))
      .join(ModelStore.predict(sample, saved)
        .select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("cluster").isNotNull.cast("int").as("predicted"),
        when(col("cluster").isNull ||
          (col("cluster") >= 0 && col("cluster") < k), 1)
          .otherwise(0).as("in_range_ok"))
      .orderBy(col("doc_id"))
  }

  /** m10's oracle: the sampled universe with vectorizability decided
    * relationally — a doc is predicted iff it has ≥ 1 term in the
    * mass-ranked top-2000 vocabulary (the same selection rule m03
    * hash-matches, tie-break included). */
  private val modelPredictSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT d.doc_id,
      |  CAST(EXISTS (SELECT 1 FROM tc
      |               WHERE tc.doc_id = d.doc_id
      |                 AND tc.term IN (SELECT term FROM vocab)) AS INT)
      |    AS predicted,
      |  1 AS in_range_ok
      |FROM documents d WHERE d.doc_id % 10 = 3
      |ORDER BY d.doc_id""".stripMargin

  /** s09 — model-store round-trip invariant, oracle-checked (closes the
    * S7-S9/V9/M8 spec-only gap): save the fitted pipeline (S7/S9), load
    * it back (S8), predict a held-out systematic sample through the
    * predict-time vectorization (V9/M8), and compare against predicting
    * the SAME sample through an in-memory [[graft.api.ModelStore.Saved]]
    * built from the identical fit — the only difference between the two
    * paths is the disk round-trip (native KMeansModel persistence + the
    * vocab/df/N parquet), so `roundtrip_ok` isolates exactly the storage
    * contract (ref README.md:512-521's saveRDS → readRDS → predict
    * flow). Full DuckDB oracle: every sampled doc, flag 1 — a lossy
    * write, a vocab/weighting drift, or a dropped doc breaks rows or
    * hash. */
  /** Deterministic per-(app, dataset) model dir under the session's
    * artifact root; the fixed date keeps the versioned path stable
    * across runs. */
  private def tmpModelDir(s: SparkSession, d: String, tag: String,
                          k: Int): String =
    graft.api.ModelStore.versionedDir(
      graft.sources.TmpDirs.artifactRoot(s, d, s"${tag}_model"), k,
      java.time.LocalDate.of(2026, 1, 1))

  def modelRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.api.{ModelPipeline, ModelStore}
    val fm = ModelPipeline.fitted(s, d)
    val docs = Tables.documents(s, d)
    val dir = tmpModelDir(s, d, "s09", fm.model.getK)
    ModelStore.save(dir, fm.model, fm.vocab, fm.counts, docs)
    val loaded = ModelStore.load(s, dir)
    val mem = ModelStore.inMemory(fm.model, fm.vocab, fm.counts, docs)
    val sample = graft.sources.Sinks.sampleByMod(docs, "doc_id", 10, 7)
    val p1 = ModelStore.predict(sample, loaded)
      .withColumnRenamed("cluster", "c_loaded")
    val p2 = ModelStore.predict(sample, mem)
      .withColumnRenamed("cluster", "c_mem")
    // left-join from the SAMPLE with null-safe equality: a doc the
    // predict path drops (no in-vocab terms — ModelStore.vectorize's
    // documented behavior) still emits a row, and it is `ok` only when
    // BOTH paths dropped it identically (null <=> null). An inner join
    // would silently delete such docs from the compare while the oracle
    // still lists them — a corpus-dependent rows mismatch.
    sample.select(col("doc_id"))
      .join(p1, Seq("doc_id"), "left")
      .join(p2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("c_loaded") <=> col("c_mem")).cast("int").as("roundtrip_ok"))
      .orderBy(col("doc_id"))
  }

  private val modelRoundtripSql =
    """SELECT doc_id, 1 AS roundtrip_ok FROM documents
      |WHERE doc_id % 10 = 7 ORDER BY doc_id""".stripMargin

  /** m11 — closed-form predict oracle over a PLANTED well-separated
    * corpus: each doc's text is one of five marker words repeated, so
    * the TF-IDF vectors form five identical-point groups on orthogonal
    * axes and the k=5 K-means fit must put one center on each group —
    * making the nearest-centroid assignment closed-form (docs of group
    * g = doc_id % 5 share one cluster, and clusters are exactly the
    * groups). Cluster ids themselves are engine-specific, so the emitted
    * label is canonicalized to the cluster's min doc_id — which the
    * oracle reproduces as min(doc_id) over the doc's residue class. The
    * prediction runs through the REAL predict path
    * ([[graft.api.ModelStore.vectorize]]/[[graft.api.ModelStore.predict]]:
    * vocab match, train-corpus df/N weighting, nearest centroid) — m10's
    * real-corpus predict stays rows-only because real K-means clusters
    * aren't SQL-expressible; this planted twin pins the same code path
    * to a full hash oracle. */
  def predictPlanted(s: SparkSession, d: String): DataFrame = {
    import graft.api.{ModelPipeline, ModelStore}
    def planted = {
      val words = array(lit("alpha"), lit("bravo"), lit("carol"),
        lit("delta"), lit("echo"))
      Tables.documents(s, d).select(col("doc_id"),
        array_join(array_repeat(
          element_at(words, (col("doc_id") % 5 + 1).cast("int")), 5),
          " ").as("text"))
    }
    // memoized like the real fit: identical across bench re-runs
    val fm = graft.api.Intermediates.memo(s, s"m11-fit|$d") {
      ModelPipeline.fit(planted, k = 5, seed = 123, vocabSize = 100)
    }
    val mem = ModelStore.inMemory(fm.model, fm.vocab, fm.counts, planted)
    val pred = ModelStore.predict(planted, mem)
    val reps = pred.groupBy(col("cluster")).agg(min(col("doc_id")).as("rep"))
    pred.join(broadcast(reps), "cluster")
      .select(col("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  private val predictPlantedSql =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY doc_id % 5) AS cluster_rep
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m12 — K-means FRAME invariants under the oracle: the fit must
    * assign exactly the vectorizable docs (those with ≥ 1 top-2000-vocab
    * term — [[Featurize.vectorize]] drops the rest), carry all k centers,
    * and produce non-negative within-cluster SSQs. The per-cluster stats
    * stay rows-only (m06 — Lloyd's result isn't SQL-expressible); this
    * row pins the frame any correct fit must fill, with the doc count
    * reproduced relationally on the oracle side from the SAME
    * mass-ranked vocabulary definition m03 already hash-matches. */
  def kmeansInvariants(s: SparkSession, d: String): DataFrame = {
    val fm = graft.api.ModelPipeline.fitted(s, d, k = 15, seed = 123)
    // one pass: withinss already carries per-cluster doc counts, so the
    // assignments relation is scanned once, not once per invariant
    ModelRefresh.withinss(fm.assignments, modelCenters(fm))
      .agg(sum(col("n_docs")).as("n_docs"),
        min(when(col("withinss") >= 0, 1).otherwise(0)).as("nonneg_ok"))
      .select(lit(fm.model.clusterCenters.length.toLong).as("n_centers"),
        col("n_docs"), col("nonneg_ok").cast("int").as("nonneg_ok"))
  }

  private val kmeansInvariantsSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST(15 AS BIGINT) AS n_centers,
      |  CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT) AS n_docs,
      |  1 AS nonneg_ok""".stripMargin

  /** m13 — LDA-refiner FRAME invariants under the oracle (the m12
    * pattern applied to the adaptive split→merge→renumber→refresh path
    * m07 leaves rows-only): whatever clusters the coherence-gated sweep
    * settles on, it must (1) conserve the corpus — Σ n_docs equals the
    * vectorizable-doc count, reproduced relationally from the same
    * mass-ranked vocabulary m03 hash-matches (a split or merge that
    * drops or duplicates docs breaks the hash); (2) renumber dense
    * (ids exactly 0..k'−1, pinned without fixing engine-specific k');
    * (3) keep every within-cluster SSQ non-negative. Reuses m07's
    * memoized sweep — one extra agg, not a second LDA fit. */
  def ldaInvariants(s: SparkSession, d: String): DataFrame =
    graft.api.ModelPipeline.optimize(s, d, k = 15, seed = 123,
        params = splitParams, mergeThreshold = 0.9)
      .agg(sum(col("n_docs")).as("n_docs"),
        denseIdsAgg.as("dense_ok"),
        min(when(col("withinss") >= 0, 1).otherwise(0)).as("nonneg_ok"))
      .select(col("n_docs"), col("dense_ok"),
        col("nonneg_ok").cast("int").as("nonneg_ok"))

  private val ldaInvariantsSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT) AS n_docs,
      |  1 AS dense_ok, 1 AS nonneg_ok""".stripMargin

  /** m09's oracle: one row per FITTED center id (0..14, parameter-fixed
    * — valid at every SF, see [[refinerReport]]'s universe note), the
    * per-row invariant flags pinned to 1 (each Mimno-style pair score
    * is a [0,1] co-occurrence share minus a [0,1] marginal share, so
    * the per-cluster mean lies in [−1,1] and the range flag is an
    * algebraic invariant), the relationally-computed dense_ok pinned to
    * 1, and the conserved doc total reproduced relationally from the
    * same mass-ranked vocabulary m03 hash-matches. */
  private val refinerReportSql =
    "WITH " + termsCte + s""",
      |$massVocabCte
      |SELECT CAST(ids.c AS BIGINT) AS cluster,
      |  1 AS range_ok, 1 AS label_ok, 1 AS docs_ok, 1 AS dense_ok,
      |  CAST((SELECT count(DISTINCT doc_id) FROM tc
      |        WHERE term IN (SELECT term FROM vocab)) AS BIGINT)
      |    AS n_docs_total
      |FROM (SELECT unnest(generate_series(0, 14)) AS c) ids
      |ORDER BY cluster""".stripMargin

  /** m15 — quality-classifier filtering through the REAL MLlib
    * LogisticRegression fit/predict path (the GPT-3-style learned
    * quality gate: score every document with a classifier trained on a
    * curated positive set, keep the high scorers — the one standard
    * pipeline component the engine had no surface for). Oracled with
    * the m11 planted pattern: training features are planted linearly
    * separable with a wide margin (class centers ±1, deterministic
    * jitter ±0.05, L2-regularized so the separable fit stays bounded),
    * so the learned boundary must classify every point to its planted
    * class — predictions = doc_id % 2 in closed form, and the oracle
    * pins the whole assemble→fit→transform path. A real deployment
    * swaps the planted frame for labeled examples and the same
    * fit/predict code scores the corpus; scoring is a broadcast of the
    * tiny coefficient vector — map-only over 100 TB. */
  /** The planted wide-margin frame shared by m15/m16/m17: label =
    * doc_id mod 2, scalar feature x = ±1 by class plus a deterministic
    * sub-0.05 jitter — linearly separable with a wide margin, so any
    * sane linear fit classifies every row to its planted class. */
  private def plantedLrFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        (col("doc_id") % 2).cast("double").as("label"),
        ((col("doc_id") % 2) * 2 - 1).cast("double")
          .plus(((col("doc_id") * 37 % 100).cast("double") / 100 - 0.5) * 0.1)
          .as("x"))

  private def assembleX(df: DataFrame): DataFrame =
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x")).setOutputCol("features")
      .transform(df)

  /** The fitted planted classifier, memoized per (session, dataset) —
    * m15 and m17 share ONE fit. */
  private def plantedLrModel(s: SparkSession, d: String)
      : org.apache.spark.ml.classification.LogisticRegressionModel =
    graft.api.Intermediates.memo(s, s"m15-lr|$d") {
      new org.apache.spark.ml.classification.LogisticRegression()
        .setRegParam(0.01).setMaxIter(50)
        .fit(assembleX(plantedLrFrame(s, d)))
    }

  def classifierPlanted(s: SparkSession, d: String): DataFrame =
    plantedLrModel(s, d).transform(assembleX(plantedLrFrame(s, d)))
      .select(col("doc_id"), col("prediction").cast("long").as("pred_class"))
      .orderBy(col("doc_id"))

  private val classifierPlantedSql =
    """SELECT doc_id, doc_id % 2 AS pred_class
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m16 — hyperparameter selection through the REAL MLlib
    * CrossValidator (3-fold, areaUnderROC, regParam grid {0.01, 0.1,
    * 1.0}) over m15's planted wide-margin frame. The oracle logic: L2
    * regularization shrinks the coefficient MAGNITUDE but never flips
    * its sign on linearly separable data, so every grid point's decision
    * boundary classifies every point to its planted class — whichever
    * model the evaluator crowns, bestModel predictions = doc_id % 2 in
    * closed form (the selection itself stays engine-specific and out of
    * the compared columns). Pins the whole grid→fold→fit→select→refit
    * machinery; a real deployment swaps the planted frame and grid for
    * its own. Fold fits are driver-orchestrated jobs over partitioned
    * data — at scale each fit is distributed; CV multiplies cost by
    * |grid|·folds, which is why the gate ships with a 3×3 grid, not a
    * sweep. */
  def crossValPlanted(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val assembled = assembleX(plantedLrFrame(s, d))
    val best = graft.api.Intermediates.memo(s, s"m16-cv|$d") {
      val lr = new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(50)
      val grid = new ParamGridBuilder()
        .addGrid(lr.regParam, Array(0.01, 0.1, 1.0)).build()
      new CrossValidator()
        .setEstimator(lr)
        .setEvaluator(
          new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator())
        .setEstimatorParamMaps(grid)
        .setNumFolds(3).setSeed(123)
        .fit(assembled)
    }
    best.transform(assembled)
      .select(col("doc_id"), col("prediction").cast("long").as("pred_class"))
      .orderBy(col("doc_id"))
  }

  private val crossValPlantedSql = classifierPlantedSql

  /** m17 — classifier EVALUATION report through the real transform path
    * (the metrics table every learned quality gate ships with): m15's
    * fitted model (ONE shared memoized fit) scores the planted frame,
    * and the predictions are evaluated against a deliberately NOISY
    * label — the planted class flipped on every doc_id ≡ 0 (mod 7) —
    * so the confusion matrix is non-trivial and closed-form: predictions
    * are doc_id % 2 (m15's proof), labels differ exactly on the
    * multiples of 7. tp/fp/fn/tn and accuracy/precision/recall/F1 are
    * integer-ratio arithmetic the oracle reproduces without touching the
    * model; F1 uses the 2·tp/(2·tp+fp+fn) identity directly so no
    * rounded intermediate feeds another ratio.
    *
    * 100 TB shape: one map-only transform + one global aggregation of
    * four conditional counters — map-side combined, a single 1-row
    * result. */
  def classifierEval(s: SparkSession, d: String): DataFrame = {
    val noisy = plantedLrFrame(s, d)
      .withColumn("eval_label",
        when(col("doc_id") % 7 === 0, lit(1L) - col("doc_id") % 2)
          .otherwise(col("doc_id") % 2).cast("long"))
    val scored = plantedLrModel(s, d).transform(assembleX(noisy))
      .select(col("prediction").cast("long").as("pred"), col("eval_label"))
    scored.agg(
        sum(when(col("pred") === 1 && col("eval_label") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("eval_label") === 0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("eval_label") === 1, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && col("eval_label") === 0, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")) /
          (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"),
        round(col("tp") / (col("tp") + col("fp")), 6).as("prec"),
        round(col("tp") / (col("tp") + col("fn")), 6).as("rec"),
        round(lit(2.0) * col("tp") /
          (lit(2) * col("tp") + col("fp") + col("fn")), 6).as("f1"))
  }

  private val classifierEvalSql =
    """WITH c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 AND doc_id % 7 <> 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 AND doc_id % 7 = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 AND doc_id % 7 <> 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM documents)
      |SELECT tp, fp, fn, tn,
      |  round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy,
      |  round(tp / (tp + fp), 6) AS prec,
      |  round(tp / (tp + fn), 6) AS rec,
      |  round(2.0 * tp / (2 * tp + fp + fn), 6) AS f1
      |FROM c""".stripMargin

  /** m18 — MODEL-SURFACE right-to-be-forgotten (r18 verdict ask #1):
    * c07 proves post-takedown absence on every INDEX/EXPORT artifact,
    * but a FITTED model trained before the takedown still embeds the
    * forgotten document — the reference's own refiner exists to
    * post-hoc mutate a shipped model (ref 04_cluster_refiner.R:726-794
    * load → recompute → save versioned), and the deployment analog is
    * refit-on-survivors + versioned adoption. The row composes the
    * whole loop end to end:
    *
    *  1. PLANT: the v1 training corpus is documents ∪ one planted doc
    *     whose tokens (`zzqalpha zzqbeta zzqgamma`, each repeated once
    *     per corpus doc so its TF-IDF mass n·log10(n+1) provably
    *     outranks every real term) appear in NO other document;
    *  2. SHIP v1: fit the s09 kmeans+vocab pipeline on the union,
    *     [[graft.api.ModelStore.save]] to a versioned dir, adopt it
    *     through a [[graft.api.ServePointer]];
    *  3. TAKEDOWN: the planted doc is forgotten; survivors = exactly
    *     the corpus, so the refit IS the session's shared fitted
    *     pipeline (identical params — the s09/m10 model);
    *  4. ADOPT v2: save the refit as the NEXT version, flip the
    *     pointer (replay-safe: once the pointer names v2, the v1
    *     adoption step is skipped, so re-runs keep history = [v1,v2]);
    *  5. AUDIT: per marker term, membership in the LOADED v1 vocab
    *     (`in_vocab_before` — the artifact really did embed the
    *     forgotten doc) vs the pointer-resolved CURRENT vocab
    *     (`in_vocab_after` — it provably no longer does); the m10
    *     sample predicted through the pointer-resolved model agrees
    *     with the in-memory survivor fit on every doc
    *     (`served_refit_ok` — serving really flipped to the refit);
    *     v1 stays on disk, loadable, and protected from the janitor
    *     inside the rollback window (`prior_protected`,
    *     [[graft.api.ServePointer.retirable]] keepLast=2).
    *
    * The vocabulary selection is relational, so BOTH membership
    * columns are closed-form: the oracle runs the m03 mass-ranked
    * top-2000 rule over the union corpus (the planted doc synthesized
    * in SQL from the same repeat arithmetic) and over the survivors.
    *
    * 100 TB shape: the refit pays one model fit over survivors — the
    * cost floor for honoring a takedown in model weights (no
    * machine-unlearning shortcut is exact for k-means); everything
    * else is ids-sized pointer arithmetic. The planted-doc union adds
    * one doc to the corpus scan; the audit joins a 3-row relation
    * against two vocabulary-sized (≤2000-row) artifacts. */
  /** m18's marker vocabulary — shared with s44's phased oracle. */
  private[graft] val ForgetMarkers = Seq("zzqalpha", "zzqbeta", "zzqgamma")

  /** m18's VERSIONED MODEL PAIR, factored for reuse (s44 serves the
    * same artifacts through its own pointer): v1 = the kmeans+vocab
    * pipeline fit on documents ∪ the planted marker doc, v2 = the
    * survivor refit (the session's shared fitted pipeline), both
    * saved under the m18 root with replay guards. The FITS
    * run only when a save is actually needed — a caller entering
    * after the artifacts landed (s44 in a sweep where m18 already
    * ran, or any replay) pays two file stats, not two k-means fits.
    * Returns (v1 dir, v2 dir). */
  private[graft] def forgetModelArtifacts(s: SparkSession, d: String)
      : (String, String) = {
    import graft.api.{ModelPipeline, ModelStore}
    import graft.operators.DedupOps
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "m18")
    val date = java.time.LocalDate.of(2026, 1, 1)
    val d1 = ModelStore.versionedDir(s"$root/model", 15, date)
    val d2 = ModelStore.versionedDir(s"$root/model", 15, date.plusDays(1))
    if (!ModelStore.isSaved(d1)) {
      val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
      val nDocs = docs.count().toInt
      // built as an expression over range(1), not a driver-side
      // literal — the ~100 KB text rides the cluster, never the plan
      val planted = s.range(1).select(lit(off).as("doc_id"),
        trim(concat(ForgetMarkers.map(m => repeat(lit(m + " "), nDocs)): _*))
          .as("text"))
      val union = docs.unionByName(planted)
      val fm1 = graft.api.Intermediates.memo(s, s"m18-fit|$d") {
        // the union DFM = the session's shared counts ∪ the one
        // planted doc's counts (per-doc term counts are disjoint by
        // doc_id), so the pre-takedown fit re-tokenizes ONE document
        val unionCounts = ModelPipeline.counts(s, d).unionByName(
          Featurize.counts(planted))
          .localCheckpoint()
        ModelPipeline.fit(union, k = 15, seed = 123, vocabSize = 2000,
          Some(unionCounts))
      }
      ModelStore.save(d1, fm1.model, fm1.vocab, fm1.counts, union)
    }
    // ---- the takedown arrives: survivors = union ∖ {planted} = the
    // corpus, so the refit is the session's shared fitted pipeline
    if (!ModelStore.isSaved(d2)) {
      val fm2 = ModelPipeline.fitted(s, d)
      ModelStore.save(d2, fm2.model, fm2.vocab, fm2.counts, docs)
    }
    (d1, d2)
  }

  def modelForget(s: SparkSession, d: String): DataFrame = {
    import graft.api.{ModelStore, ServePointer}
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val markers = ForgetMarkers
    val (d1, d2) = forgetModelArtifacts(s, d)
    val fm2 = graft.api.ModelPipeline.fitted(s, d)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "m18")
    val ptr = s"$root/pointer"
    // adopt v1 only while the refit has not been adopted yet — replays
    // keep the flip (the s38 posture), so history stays [v1, v2]
    val d2n = java.nio.file.Paths.get(d2).toAbsolutePath.normalize().toString
    if (!ServePointer.current(ptr).contains(d2n))
      ServePointer.adopt(ptr, d1)
    ServePointer.adopt(ptr, d2)
    // ---- serve through the pointer; v1 must STILL load in-window
    val served = ModelStore.load(s,
      ServePointer.current(ptr).getOrElse(
        sys.error(s"no adopted model version under $ptr")))
    val before = ModelStore.load(s, d1)
    val ptrVersion = ServePointer.history(ptr).last._1.toLong
    val priorProtected =
      if (ServePointer.retirable(ptr, Seq(d1, d2), keepLast = 2).isEmpty)
        1L else 0L
    val sample = graft.sources.Sinks.sampleByMod(docs, "doc_id", 10, 3)
    val okAgg = sample.select(col("doc_id"))
      .join(ModelStore.predict(sample, served)
        .select(col("doc_id"), col("cluster").as("c_served")),
        Seq("doc_id"), "left")
      .join(ModelStore.predict(sample,
          ModelStore.inMemory(fm2.model, fm2.vocab, fm2.counts, docs))
        .select(col("doc_id"), col("cluster").as("c_refit")),
        Seq("doc_id"), "left")
      .agg(min((col("c_served") <=> col("c_refit")).cast("long"))
        .as("served_refit_ok"))
    import s.implicits._
    markers.toDF("term")
      .join(broadcast(before.vocab.select(col("term"), lit(1L).as("__b"))),
        Seq("term"), "left")
      .join(broadcast(served.vocab.select(col("term"), lit(1L).as("__a"))),
        Seq("term"), "left")
      .crossJoin(broadcast(okAgg))
      .select(col("term"),
        coalesce(col("__b"), lit(0L)).as("in_vocab_before"),
        coalesce(col("__a"), lit(0L)).as("in_vocab_after"),
        col("served_refit_ok"),
        lit(priorProtected).as("prior_protected"),
        lit(ptrVersion).as("ptr_version"))
      .orderBy(col("term"))
  }

  /** m18's oracle: the union corpus synthesized in SQL (same repeat
    * arithmetic, same plant-offset id), the m03 top-2000 rule run over
    * BOTH corpora, and the pointer/serve lifecycle stated as the bound
    * frame (served_refit_ok/prior_protected/ptr_version — disk and
    * pointer state no relational oracle can reach; ModelStoreSpec pins
    * the v1-still-serves witness). Built by plain concatenation — the
    * embedded CTE fragments are already margin-stripped. */
  private val modelForgetSql =
    "WITH u_docs AS (\n" +
      "  SELECT doc_id, text FROM documents\n" +
      "  UNION ALL\n" +
      "  SELECT " +
      graft.operators.DedupOps.plantOffsetSql("doc_id", "documents") +
      " AS doc_id,\n" +
      "    trim(repeat('zzqalpha ', n) || repeat('zzqbeta ', n) || " +
      "repeat('zzqgamma ', n)) AS text\n" +
      "  FROM (SELECT count(*)::INT AS n FROM documents)),\n" +
      termsCteOver("u_docs", "_u") + ",\n" +
      massVocabCteOver("_u") + ",\n" +
      termsCte + ",\n" +
      massVocabCte + ",\n" +
      "mk AS (SELECT unnest(['zzqalpha','zzqbeta','zzqgamma']) AS term)\n" +
      "SELECT term,\n" +
      "  CAST(term IN (SELECT term FROM vocab_u) AS BIGINT) " +
      "AS in_vocab_before,\n" +
      "  CAST(term IN (SELECT term FROM vocab) AS BIGINT) " +
      "AS in_vocab_after,\n" +
      "  CAST(1 AS BIGINT) AS served_refit_ok,\n" +
      "  CAST(1 AS BIGINT) AS prior_protected,\n" +
      "  CAST(2 AS BIGINT) AS ptr_version\n" +
      "FROM mk ORDER BY term"

  /** s44's phased oracle (owned here because the vocabulary CTE
    * generators are this object's): the m10 vectorizability rule per
    * phase — phase 1 decides "predicted" against the UNION corpus's
    * top-2000 vocabulary (the pre-takedown v1 model's — the planted
    * doc itself is not in the % 10 = 3 sample, its id is a power of
    * ten), phase 2 against the survivors' (the refit's). Plain
    * concatenation — the embedded fragments are already
    * margin-stripped. */
  private[graft] val streamModelFlipSql: String =
    "WITH u_docs AS (\n" +
      "  SELECT doc_id, text FROM documents\n" +
      "  UNION ALL\n" +
      "  SELECT " +
      graft.operators.DedupOps.plantOffsetSql("doc_id", "documents") +
      " AS doc_id,\n" +
      "    trim(repeat('zzqalpha ', n) || repeat('zzqbeta ', n) || " +
      "repeat('zzqgamma ', n)) AS text\n" +
      "  FROM (SELECT count(*)::INT AS n FROM documents)),\n" +
      termsCteOver("u_docs", "_u") + ",\n" +
      massVocabCteOver("_u") + ",\n" +
      termsCte + ",\n" +
      massVocabCte + "\n" +
      "SELECT CAST(1 AS BIGINT) AS phase, d.doc_id,\n" +
      "  CAST(EXISTS (SELECT 1 FROM tc_u\n" +
      "               WHERE tc_u.doc_id = d.doc_id\n" +
      "                 AND tc_u.term IN (SELECT term FROM vocab_u)) AS INT)\n" +
      "    AS predicted,\n" +
      "  1 AS in_range_ok\n" +
      "FROM documents d WHERE d.doc_id % 10 = 3\n" +
      "UNION ALL\n" +
      "SELECT CAST(2 AS BIGINT) AS phase, d.doc_id,\n" +
      "  CAST(EXISTS (SELECT 1 FROM tc\n" +
      "               WHERE tc.doc_id = d.doc_id\n" +
      "                 AND tc.term IN (SELECT term FROM vocab)) AS INT)\n" +
      "    AS predicted,\n" +
      "  1 AS in_range_ok\n" +
      "FROM documents d WHERE d.doc_id % 10 = 3\n" +
      "ORDER BY phase, doc_id"

  def defs: Seq[QueryDef] = Seq(
    QueryDef("m01_doc_term_counts", docTermCounts, Some(docTermCountsSql)),
    QueryDef("m02_tfidf_quanteda", tfidfQuanteda, Some(tfidfQuantedaSql)),
    QueryDef("m03_top_vocab", topVocab, Some(topVocabSql)),
    QueryDef("m04_cluster_top_terms", clusterTopTerms, Some(clusterTopTermsSql)),
    QueryDef("m05_coherence_report", coherenceReport, Some(coherenceReportSql)),
    QueryDef("m06_kmeans_stats", kmeansStats, Some(kmeansStatsSql)),
    QueryDef("m07_lda_optimize", ldaOptimize, Some(ldaOptimizeSql)),
    QueryDef("m08_cluster_merge", clusterMerge, Some(clusterMergeSql)),
    QueryDef("m09_refiner_report", refinerReport, Some(refinerReportSql)),
    QueryDef("m10_model_predict", modelPredict, Some(modelPredictSql)),
    QueryDef("m11_predict_planted", predictPlanted, Some(predictPlantedSql)),
    QueryDef("m12_kmeans_invariants", kmeansInvariants,
      Some(kmeansInvariantsSql)),
    QueryDef("m13_lda_invariants", ldaInvariants, Some(ldaInvariantsSql)),
    QueryDef("m15_classifier_planted", classifierPlanted,
      Some(classifierPlantedSql)),
    QueryDef("m16_crossval_planted", crossValPlanted,
      Some(crossValPlantedSql)),
    QueryDef("m17_classifier_eval", classifierEval,
      Some(classifierEvalSql)),
    QueryDef("m18_model_forget", modelForget, Some(modelForgetSql)),
    QueryDef("s09_model_roundtrip", modelRoundtrip, Some(modelRoundtripSql)))
}
