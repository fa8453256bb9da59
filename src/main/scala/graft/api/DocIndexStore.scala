package graft.api

import graft.operators.{DedupOps, TextOps}
import graft.sources.ExportCommit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A stored index the janitor's maintenance day can fold
  * ([[CompactionPolicy.maintenanceDay]]): [[DocIndexStore]]'s three
  * families and [[IvfStore]]'s coarse layout. */
trait FoldableStore {

  /** True when `dir` holds a completely written artifact. */
  def isSaved(dir: String): Boolean

  /** Fold the artifact at `baseDir` + the committed appends under
    * `appendRoot` into ONE new artifact at `outDir`, folding the
    * committed delete log under `tombstoneRoot` physically when given.
    * After adoption the folded roots are janitor garbage
    * ([[ServePointer.retireFoldedDebt]]), never the compactor's. */
  def compactAppends(spark: SparkSession, baseDir: String,
      appendRoot: String, outDir: String,
      tombstoneRoot: Option[String] = None): Unit
}

/** A doc-keyed append-log index store: one versioned (doc_id, value…)
  * parquet artifact per build or fold, crawl increments appended
  * through [[ExportCommit]]'s atomic manifest, takedowns through ONE
  * family-neutral doc-tombstone log, and compaction folding
  * base ∪ appends − tombstones back into one artifact. The three
  * families differ only in their value columns, their builder, their
  * compaction census and their path geometry:
  *
  *   - [[DocIndexStore.Lsh]] — pruned (doc_id, band, bucket) MinHash
  *     band rows, d11's probe side; census [[DedupOps.pruneBands]];
  *   - [[DocIndexStore.Passage]] — (doc_id, h) passage-hash
  *     membership, d17's probe side; no census (membership has no
  *     quadratic fanout — the probe is an aggregate roll-up), only the
  *     distinct() that keeps one row per (doc, hash) when a re-crawled
  *     doc is appended twice;
  *   - [[DocIndexStore.Winnow]] — pruned (doc_id, fp) winnow
  *     fingerprints, d24's archive side; census
  *     [[DedupOps.pruneFingerprints]].
  *
  * Appends are banded/sliced/fingerprinted by the SAME builder as
  * every index build, so the index math cannot drift between build
  * and maintenance. Carrying doc_id in every family is what makes the
  * artifact deletable: a takedown anti-joins the id out, and a key
  * whose only holder is tombstoned leaves the index while one also
  * held by a survivor stays.
  *
  * Compaction cadence: a per-batch census can only see its own batch,
  * so a key that grows degenerate ONLY across increments keeps
  * matching probes until the next fold re-runs the census over the
  * union — between folds, serve-side key growth is bounded by
  * (committed batches × per-batch cap). Deployments must not defer
  * compaction indefinitely: [[CompactionPolicy.due]] is the predicate
  * that bounds the manifest length and with it the probe fanout.
  *
  * 100 TB shape: the artifact is corpus-sized (winnow: ~1/w of the
  * gram stream), written and read as ordinary parquet — at deployment
  * bucketed by the probe key, so a batch probe plans as a co-located
  * equi-join. The geometry (band count, passage width, (k, w)) is
  * part of the versioned path: an artifact is only probeable by the
  * scheme that built it. */
final class DocIndexStore private (val family: String, schema: StructType,
    geometry: String, build: DataFrame => DataFrame,
    census: DataFrame => DataFrame) extends FoldableStore {

  private def cols = schema.fieldNames.toSeq.map(col)

  /** S9 versioned path: f(geometry, date), date explicit so paths are
    * deterministic. */
  def versionedDir(base: String, date: java.time.LocalDate): String =
    s"$base/${geometry}_index_$date"

  def isSaved(dir: String): Boolean =
    new java.io.File(s"$dir/_SUCCESS").isFile

  /** Persist an index relation. */
  def save(dir: String, index: DataFrame): Unit =
    index.select(cols: _*).write.mode("overwrite").parquet(dir)

  /** Build the index over (doc_id, text) `docs` with the family's one
    * builder and save it, unless `dir` already holds a complete one —
    * an input artifact billed once per session. */
  def saveOnce(dir: String, docs: DataFrame): Unit =
    if (!isSaved(dir)) save(dir, build(docs))

  /** Load an index for probing. Loud on a missing or mis-shaped store —
    * probing half an index silently under-recalls. */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.read.parquet(dir)
    val missing = schema.fieldNames.filterNot(idx.columns.contains)
    require(missing.isEmpty,
      s"$family index store $dir is missing columns: ${missing.mkString(", ")}")
    idx.select(cols: _*)
  }

  /** Index the incoming (doc_id, text) docs and commit them under
    * `batchId` — exactly-once under replay ([[ExportCommit.commitOnce]]). */
  def appendBatch(root: String, docs: DataFrame, batchId: Long): Unit = {
    ExportCommit.commitOnce(root, batchId)(build(docs).write.parquet(_))
    ()
  }

  /** Every committed appended row; an empty manifest reads as a typed
    * empty relation. */
  def committedAppends(spark: SparkSession, root: String): DataFrame =
    ExportCommit.committedParquet(spark, root, schema, s"$family append store")

  /** The tombstone fold runs BEFORE the census: retiring a
    * duplicate-heavy doc can legitimately bring an over-cap key back
    * under the cap, so the census must see post-delete doc counts. */
  def compactAppends(spark: SparkSession, baseDir: String,
      appendRoot: String, outDir: String,
      tombstoneRoot: Option[String] = None): Unit = {
    val folded = load(spark, baseDir)
      .unionByName(committedAppends(spark, appendRoot))
    val cleaned = tombstoneRoot.fold(folded)(t => folded.join(
      DocIndexStore.committedTombstones(spark, t), Seq("doc_id"), "left_anti"))
    save(outDir, census(cleaned))
  }
}

object DocIndexStore {

  private def docKeyed(values: (String, DataType)*): StructType =
    StructType(StructField("doc_id", LongType) +:
      values.map { case (n, t) => StructField(n, t) })

  val Lsh = new DocIndexStore("lsh",
    docKeyed("band" -> IntegerType, "bucket" -> LongType),
    s"${DedupOps.Bands}_band_lsh", DedupOps.prunedBandIndex,
    DedupOps.pruneBands)

  val Passage = new DocIndexStore("passage", docKeyed("h" -> StringType),
    s"${DedupOps.PassageTokens}t_passage", DedupOps.passageHashIndex,
    _.distinct())

  val Winnow = new DocIndexStore("winnow", docKeyed("fp" -> LongType),
    s"${TextOps.WinnowK}g${TextOps.WinnowW}w_winnow",
    DedupOps.prunedFingerprintIndex, DedupOps.pruneFingerprints)

  private val TombstoneSchema = docKeyed()

  /** Commit one doc-tombstone batch (the `doc_id` column; anything
    * else is dropped), exactly-once under replay. One log serves every
    * doc-keyed family and the export: a tombstone is honored by the
    * next fold of each store that reads it. */
  def appendTombstones(root: String, ids: DataFrame, batchId: Long): Unit = {
    ExportCommit.commitOnce(root, batchId)(
      ids.select(col("doc_id")).write.parquet(_))
    ()
  }

  /** Every committed tombstoned doc id, distinct (the same takedown may
    * arrive in more than one batch). An empty manifest means nothing
    * is deleted. */
  def committedTombstones(spark: SparkSession, root: String): DataFrame =
    ExportCommit.committedParquet(spark, root, TombstoneSchema,
      "doc tombstone store").distinct()
}
