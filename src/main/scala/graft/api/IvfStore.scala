package graft.api

import graft.operators.EmbeddingOps.IvfIndex
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** IVF ANN index persistence — [[ModelStore]]'s
  * S7/S8/S9 model-sink discipline applied to the embedding index: the
  * index a serving job probes is a STORED artifact, not an in-session
  * materialization, and a crawl increment appends to it without a
  * refit. Ref tie: the reference ships its fitted models as versioned
  * blobs and predicts against the loaded copy (ref
  * 02_build_models.R:770-772, 04_cluster_refiner.R:730-731); the IVF
  * index is the same kind of artifact for the similarity surface.
  *
  * Persisted layout under one directory:
  *   kmeans/   — the coarse quantizer (MLlib native ML persistence —
  *               centers round-trip as exact doubles, so the loaded
  *               model's assignment function is bit-identical to the
  *               builder's)
  *   assigned/ — parquet (vec_id, embedding, features, cell): the
  *               cell-assigned corpus. `features` (the L2-normalized
  *               vector the quantizer actually saw) is stored rather
  *               than recomputed at load so the probe path's ranking
  *               inputs are bit-identical across the round-trip.
  *
  * 100 TB shape: `assigned/` is the corpus-sized piece and is written
  * as an ordinary partitioned parquet relation (at scale: bucketed by
  * `cell`, the probe access path); the quantizer is cells-sized. Loads
  * are lazy scans — nothing corpus-sized touches the driver.
  */
object IvfStore extends FoldableStore {

  /** S9 versioned path convention for index artifacts: f(cell count,
    * date), mirroring [[ModelStore.versionedDir]]. Date is an explicit
    * argument so path construction stays deterministic. */
  def versionedDir(base: String, cells: Int, date: java.time.LocalDate): String =
    s"$base/${cells}_cell_ivf_index_$date"

  def isSaved(dir: String): Boolean =
    new java.io.File(s"$dir/assigned/_SUCCESS").isFile

  /** Persist quantizer + cell-assigned corpus. The quantizer goes
    * through [[org.apache.spark.ml.clustering.GraftKMeansIO]] — exact
    * centers, zero Spark jobs (guide §5: the constant-size model is
    * driver work, not a distributed dataset). */
  def save(dir: String, index: IvfIndex): Unit = {
    org.apache.spark.ml.clustering.GraftKMeansIO
      .save(s"$dir/kmeans", index.model)
    index.assigned
      .select(col("vec_id"), col("embedding"), col("features"), col("cell"))
      .write.mode("overwrite").parquet(s"$dir/assigned")
  }

  /** Load an index for probing. Loud on a store whose pieces are
    * missing or inconsistent — serving against half an index must not
    * degrade silently to empty results. */
  def load(spark: SparkSession, dir: String): IvfIndex = {
    val model =
      org.apache.spark.ml.clustering.GraftKMeansIO.load(s"$dir/kmeans")
    val assigned = spark.read.parquet(s"$dir/assigned")
    val missing = Seq("vec_id", "embedding", "features", "cell")
      .filterNot(assigned.columns.contains)
    require(missing.isEmpty,
      s"ivf store $dir/assigned is missing columns: ${missing.mkString(", ")}")
    IvfIndex(assigned, model)
  }

  // ----- IVF-PQ artifact: the PQ stage is a
  // fitted model like any other — without persisting it, every serving
  // session retrains the codebooks, and a retrain CHANGES the corpus
  // codes (different centroids), exactly the drift the round-trip rows
  // exist to catch. Layout extends the coarse layout IN THE SAME
  // directory:
  //   pq/m{i}/ — per-subspace codebook i (KMeansModel via ML
  //              persistence — centroids round-trip as exact doubles,
  //              so the loaded ADC lookup table is bit-identical)
  //   codes/   — parquet (vec_id, cell, code0..code{M-1}): the corpus
  //              PQ codes, assigned at encode time by the saved
  //              codebooks' own transform. Stored rather than
  //              re-encoded at load: re-encoding is the refit the
  //              artifact exists to avoid, and the codes ARE the
  //              compressed corpus a PQ serving job ships.
  // 100 TB shape: codebooks are (M x K x dim/M) doubles — kilobytes;
  // codes/ is the corpus-sized piece at M small ints per vector (the
  // 16-64x compression that is PQ's point), written as ordinary
  // parquet (at scale bucketed by cell, the probe access path). -----

  /** S9 versioned path for a full IVF-PQ artifact: f(cells, subspaces,
    * codebook size, date). The geometry is part of the path because an
    * artifact is only servable by the geometry that built it. */
  def versionedPqDir(base: String, cells: Int, subspaces: Int, codes: Int,
      date: java.time.LocalDate): String =
    s"$base/${cells}_cell_${subspaces}x${codes}_ivfpq_index_$date"

  /** Persist the full IVF-PQ artifact: coarse quantizer + assigned
    * corpus (the [[save]] layout) + per-subspace codebooks + corpus
    * codes. */
  def savePq(dir: String, index: IvfIndex,
      pq: graft.operators.EmbeddingOps.PqModel, codes: org.apache.spark.sql.DataFrame): Unit = {
    save(dir, index)
    pq.models.zipWithIndex.foreach { case (m, i) =>
      org.apache.spark.ml.clustering.GraftKMeansIO.save(s"$dir/pq/m$i", m)
    }
    val codeCols = pq.models.indices.map(i => col(s"code$i"))
    codes.select((Seq(col("vec_id"), col("cell")) ++ codeCols): _*)
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  // ----- Index MAINTENANCE: the append/compact lifecycle a
  // continuously-crawling deployment runs against the stored artifact.
  // Appends publish through ExportCommit's atomic manifest
  // ([[graft.sources.ExportCommit.commitOnce]] — exactly-once under
  // at-least-once batch delivery); compaction periodically folds the
  // committed batch dirs back into ONE versioned artifact so the
  // probe-side scan plans one bucketed relation instead of a
  // manifest-length union.
  //
  // Deletes (takedown / erasure / recrawl removal) arrive in batches
  // like any other increment and publish through the SAME manifest
  // protocol; a tombstone is honored LOGICALLY by the serve path the
  // moment it commits (an anti-join on the id — ids-sized,
  // broadcastable) and PHYSICALLY by the next compaction. Ref tie: the
  // reference's refiner mutates a shipped model after the fact (ref
  // 04_cluster_refiner.R:726-774) — the tombstone log is that posture
  // for the index artifacts. -----

  /** The no-refit coarse assignment both append paths share:
    * (vec_id, embedding) → (vec_id, embedding, features, cell) through
    * the stored quantizer's own transform. */
  private def coarseAssign(batch: org.apache.spark.sql.DataFrame,
      model: KMeansModel): org.apache.spark.sql.DataFrame =
    model.transform(
        batch.select(col("vec_id"), col("embedding"),
          graft.operators.EmbeddingOps.toFeatures(col("embedding"))
            .as("features")))
      .select(col("vec_id"), col("embedding"), col("features"),
        col(model.getPredictionCol).as("cell"))

  /** On-disk shape of a committed append batch: `features` as
    * ARRAY<DOUBLE> so the batch files carry a plain parquet schema. */
  private val AppendSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("features_arr", ArrayType(DoubleType)),
    StructField("cell", IntegerType)))

  private def pqCodeSchema(subspaces: Int): StructType =
    StructType(Seq(StructField("vec_id", LongType),
      StructField("cell", IntegerType)) ++
      (0 until subspaces).map(i => StructField(s"code$i", IntegerType)))

  private val TombstoneSchema = StructType(Seq(StructField("vec_id", LongType)))

  /** Commit one append batch: the incoming (vec_id, embedding) rows
    * are assigned to the STORED quantizer's cells by the model's own
    * transform (no refit — e15's structural-twin discipline) and
    * committed under `batchId`, exactly-once under replay.
    * [[committedAppends]] converts `features` back losslessly. */
  def appendBatch(root: String, batch: org.apache.spark.sql.DataFrame,
      batchId: Long, model: KMeansModel): Unit = {
    graft.sources.ExportCommit.commitOnce(root, batchId)(
      coarseAssign(batch, model)
        .select(col("vec_id"), col("embedding"),
          org.apache.spark.ml.functions.vector_to_array(col("features"))
            .as("features_arr"),
          col("cell"))
        .write.parquet(_))
    ()
  }

  /** Every committed appended row, in the index-relation shape
    * (vec_id, embedding, features, cell). An empty manifest reads as a
    * typed empty relation. */
  def committedAppends(spark: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.ExportCommit.committedParquet(spark, root, AppendSchema,
        "ivf append store")
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.ml.functions.array_to_vector(col("features_arr"))
          .as("features"),
        col("cell"))

  /** Commit one PQ-CODED append batch: the incoming (vec_id,
    * embedding) rows are coarse-assigned by the STORED quantizer and
    * PQ-encoded by the STORED codebooks — both the loaded models' own
    * transforms, no refit of either stage (identical vectors through
    * identical deterministic assignments get their originals' cell AND
    * code). Committed rows carry (vec_id, cell, code0..code{M-1}) —
    * the compressed-corpus shape the ADC serve consumes; raw
    * embeddings are NOT in the committed files (PQ's bandwidth point
    * applies to the maintenance path too). */
  def appendPqBatch(root: String, batch: org.apache.spark.sql.DataFrame,
      batchId: Long, model: KMeansModel,
      pq: graft.operators.EmbeddingOps.PqModel): Unit = {
    graft.sources.ExportCommit.commitOnce(root, batchId) { staged =>
      val dim = model.clusterCenters.head.size
      val assigned = coarseAssign(batch, model)
        .select(col("vec_id"), col("features"), col("cell"))
      val coded = graft.operators.EmbeddingOps.pqEncode(assigned, pq, dim)
      val codeCols = pq.models.indices.map(i => col(s"code$i"))
      coded.select((Seq(col("vec_id"), col("cell")) ++ codeCols): _*)
        .write.parquet(staged)
    }
    ()
  }

  /** Every committed PQ-coded appended row. An empty manifest reads
    * as a typed empty relation. */
  def committedPqCodes(spark: SparkSession, root: String,
      subspaces: Int): org.apache.spark.sql.DataFrame =
    graft.sources.ExportCommit.committedParquet(spark, root,
      pqCodeSchema(subspaces), "pq append store")

  /** Commit one tombstone batch (a `vec_id` column; anything else is
    * dropped), exactly-once under replay. */
  def appendTombstones(root: String, ids: org.apache.spark.sql.DataFrame,
      batchId: Long): Unit = {
    graft.sources.ExportCommit.commitOnce(root, batchId)(
      ids.select(col("vec_id")).write.parquet(_))
    ()
  }

  /** Every committed tombstoned id (distinct — the same takedown may
    * arrive in more than one batch). An empty manifest reads as a
    * typed empty relation: no log means nothing is deleted. */
  def committedTombstones(spark: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.ExportCommit.committedParquet(spark, root,
      TombstoneSchema, "tombstone store").distinct()

  /** Serve-time tombstone honor: the index relation minus the committed
    * delete log — ONE definition for every consumer (e21's serve, the
    * compaction folds), so "deleted ids never served" cannot drift from
    * "deleted ids never compacted". The anti-join is ids-sized on the
    * right (broadcastable at any corpus scale). */
  def minusTombstones(rel: org.apache.spark.sql.DataFrame,
      spark: SparkSession, tombstoneRoot: String)
      : org.apache.spark.sql.DataFrame =
    rel.join(committedTombstones(spark, tombstoneRoot), Seq("vec_id"),
      "left_anti")

  /** Fold base artifact + committed appends into ONE new versioned
    * artifact at `outDir` (the quantizer is copied unchanged — a
    * compaction never refits; re-sharding is a rebuild). When a
    * `tombstoneRoot` is given, the committed delete log is folded
    * PHYSICALLY: tombstoned rows are anti-joined out of the new
    * artifact, whether they came from the base or an append. After the
    * new artifact is adopted, the janitor retires the folded roots
    * ([[graft.sources.ExportCommit.retireRoot]] — gcStaging alone
    * cannot reclaim manifest-referenced dirs), never the compactor. */
  def compactAppends(spark: SparkSession, baseDir: String,
      appendRoot: String, outDir: String,
      tombstoneRoot: Option[String] = None): Unit = {
    val base = load(spark, baseDir)
    val folded = base.assigned
      .select(col("vec_id"), col("embedding"), col("features"), col("cell"))
      .unionByName(committedAppends(spark, appendRoot))
    val cleaned = tombstoneRoot.fold(folded)(
      minusTombstones(folded, spark, _))
    save(outDir, IvfIndex(cleaned, base.model))
  }

  /** Fold a loaded IVF-PQ artifact + committed PQ-coded appends into
    * ONE new versioned artifact at `outDir` — e20's compaction posture
    * for the COMPRESSED corpus (s28's append manifest
    * otherwise grows one dir per micro-batch forever, and the ADC
    * serve plans a manifest-length union over exactly the artifact a
    * PQ fleet ships). The coarse quantizer AND the per-subspace
    * codebooks are copied unchanged — compaction never retrains either
    * stage (a retrain changes the corpus codes, the drift e17 exists
    * to catch); `codes/` becomes loaded codes ∪ committed appended
    * codes. `assigned/` carries the base rows only: PQ appends never
    * committed raw embeddings (that is PQ's bandwidth point), so the
    * compacted artifact's raw side is unchanged by construction — the
    * serve path needs it solely for query features.
    *
    * 100 TB shape: one union-scan over M-small-int code rows + one
    * parquet rewrite (at scale bucketed by cell), janitor cadence —
    * never on the serve path. After adoption the append root's batch
    * dirs are garbage (gcStaging's job, not the compactor's). */
  def compactPqAppends(spark: SparkSession, baseDir: String,
      appendRoot: String, outDir: String, subspaces: Int,
      tombstoneRoot: Option[String] = None): Unit = {
    val (index, pq, codes) = loadPq(spark, baseDir, subspaces)
    val cols = Seq(col("vec_id"), col("cell")) ++
      (0 until subspaces).map(i => col(s"code$i"))
    val folded = codes.select(cols: _*)
      .unionByName(committedPqCodes(spark, appendRoot, subspaces)
        .select(cols: _*))
    // tombstones leave BOTH sides of the artifact: the code rows and
    // the raw `assigned/` relation (a takedown that survives in either
    // is not a delete)
    val cleanedCodes = tombstoneRoot.fold(folded)(
      minusTombstones(folded, spark, _))
    val cleanedIndex = tombstoneRoot.fold(index)(t =>
      graft.operators.EmbeddingOps.IvfIndex(
        minusTombstones(index.assigned, spark, t), index.model))
    savePq(outDir, cleanedIndex, pq, cleanedCodes)
  }

  /** Load the full IVF-PQ artifact. Loud on any missing piece: a
    * serving job that silently dropped one subspace's codebook would
    * score every candidate on a truncated ADC sum and mis-rank
    * everything while still returning plausible rows. */
  def loadPq(spark: SparkSession, dir: String, subspaces: Int)
      : (IvfIndex, graft.operators.EmbeddingOps.PqModel,
         org.apache.spark.sql.DataFrame) = {
    val index = load(spark, dir)
    val models = (0 until subspaces).map { i =>
      val sub = s"$dir/pq/m$i"
      require(new java.io.File(sub).isFile,
        s"ivf-pq store $dir is missing subspace codebook pq/m$i of " +
          s"$subspaces — refusing to serve a truncated ADC")
      org.apache.spark.ml.clustering.GraftKMeansIO.load(sub)
    }
    val codes = spark.read.parquet(s"$dir/codes")
    val missing = (Seq("vec_id", "cell") ++
      (0 until subspaces).map(i => s"code$i"))
      .filterNot(codes.columns.contains)
    require(missing.isEmpty,
      s"ivf-pq store $dir/codes is missing columns: ${missing.mkString(", ")}")
    (index, graft.operators.EmbeddingOps.PqModel(models), codes)
  }
}
