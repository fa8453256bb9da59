package graft.api

import graft.sources.ExportCommit
import org.apache.spark.sql.SparkSession

/** Compaction TRIGGER policy and the janitor's maintenance day — the
  * operational half of the maintenance story: the folds witness the
  * compaction, but a deployment also needs the predicate that decides
  * WHEN to pay for it and the one loop that pays. The trigger's inputs
  * are deliberately manifest-sized (never data-sized): every store
  * here publishes its appends and tombstones through
  * [[graft.sources.ExportCommit]]'s atomic manifest, so "how much
  * maintenance debt has accrued" is the length of two manifests — a
  * kilobyte read, safe to poll from a janitor schedule at any corpus
  * scale.
  *
  * Why these two thresholds:
  *   - `maxAppendBatches` bounds the probe-side plan: an uncompacted
  *     store is served as base ∪ one scan node per committed batch
  *     dir, and (for the census-guarded indexes — LSH bands, winnow
  *     fingerprints) the per-batch census can only see its own batch,
  *     so cross-increment degenerate growth is bounded by
  *     (batches × per-batch cap) until the fold's global re-census
  *     retires it (see [[DocIndexStore]]).
  *   - `maxTombstoneBatches` bounds takedown latency-to-physical: a
  *     tombstone is honored logically at serve time the moment it
  *     commits, but the bytes leave the artifact only at the next
  *     fold — an erasure-compliance clock a deployment must bound. */
object CompactionPolicy {

  /** One policy evaluation: whether a fold is due, and the measured
    * debt that decided it (for janitor logs / dashboards). */
  final case class Decision(due: Boolean, appendBatches: Int,
      tombstoneBatches: Int)

  /** Committed-batch count under one ExportCommit root (0 when no
    * manifest exists yet — a store with no appends has no debt). */
  private def batches(root: String): Int =
    ExportCommit.latest(root).map(_.entries.size).getOrElse(0)

  /** True (with the measured counts) when either manifest has reached
    * its threshold. Thresholds are INCLUSIVE lower bounds: a store at
    * exactly `maxAppendBatches` committed appends is due — the policy
    * fires at the threshold, not past it — and a store one below is
    * not. `tombstoneRoot = None` means the store keeps no delete log
    * (only append debt can accrue). */
  def due(appendRoot: String, tombstoneRoot: Option[String],
      maxAppendBatches: Int, maxTombstoneBatches: Int): Decision = {
    require(maxAppendBatches > 0 && maxTombstoneBatches > 0,
      "compaction thresholds must be positive — a zero threshold would " +
        "fire forever on an empty store")
    val a = batches(appendRoot)
    val t = tombstoneRoot.map(batches).getOrElse(0)
    Decision(a >= maxAppendBatches || t >= maxTombstoneBatches, a, t)
  }

  /** One maintenance day of `store`'s family under `root` (pointer
    * `root/pointer`, append log `root/append`, delete log
    * `root/tombstones`): day 0 serves `base`, the day folds into
    * `fold`. Returns the dir the pointer names afterwards.
    *
    * Inside the "pointer already names the fold" guard (a finished
    * day is never re-run): save `base` if absent, adopt it, commit the
    * day's debt (`commitDebt(appendRoot, tombstoneRoot)`), evaluate
    * [[due]] over the REAL manifests, and only if it fires fold (unless
    * the fold is already saved), adopt the fold and check that the
    * rollback window still protects both dirs. An under-counting
    * policy leaves the serve on `base`. Every step is replay-safe, so
    * the day may run between micro-batches of a live drain.
    *
    * Outside the guard, on every entry: a crash between adopting the
    * fold and retiring its inputs must not leak them, so
    * [[ServePointer.retireFoldedDebt]] runs here, and
    * [[ServePointer.pruneHistory]] bounds the audit trail by the same
    * rollback horizon.
    *
    * 100 TB shape: kilobyte trigger reads, the one fold the janitor
    * pays for anyway, a pointer-file flip, input retirement — nothing
    * corpus-sized moves outside the fold. */
  def maintenanceDay(spark: SparkSession, store: FoldableStore,
      root: String, base: String, fold: String, maxAppendBatches: Int,
      maxTombstoneBatches: Int)(saveBase: => Unit)(
      commitDebt: (String, String) => Unit): String = {
    val ptr = s"$root/pointer"
    val appendRoot = s"$root/append"
    val tombRoot = s"$root/tombstones"
    if (!ServePointer.current(ptr).contains(ServePointer.normalize(fold))) {
      if (!store.isSaved(base)) saveBase
      ServePointer.adopt(ptr, base)
      commitDebt(appendRoot, tombRoot)
      if (due(appendRoot, Some(tombRoot), maxAppendBatches,
          maxTombstoneBatches).due) {
        if (!store.isSaved(fold))
          store.compactAppends(spark, base, appendRoot, fold, Some(tombRoot))
        ServePointer.adopt(ptr, fold)
        require(ServePointer.retirable(ptr, Seq(base, fold)).isEmpty,
          "rollback-window artifact offered for retirement")
      }
    }
    ServePointer.retireFoldedDebt(ptr, fold, Seq(appendRoot, tombRoot))
    ServePointer.pruneHistory(ptr, keepLast = 2)
    ServePointer.current(ptr).getOrElse(
      sys.error(s"no adopted version under $ptr"))
  }
}
