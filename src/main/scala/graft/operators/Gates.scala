package graft.operators

import graft.api.DocIndexStore
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl-admission gates, one definition each, shared by the batch
  * rows (c08/c09/c12 and the single-gate d-rows) and their streamed
  * twins (s34/s35/s37, s14/s25/s27/s32).
  *
  * Stream-legal contract: a gate body applies no `distinct`, `orderBy`,
  * `countDistinct` or `localCheckpoint` to the increment, so the same
  * function runs unchanged over a static increment or a streaming one
  * (stream-static joins against stored, static sides; the only
  * aggregates are per-key roll-ups, which a stream drains in complete
  * mode). Dedup and attribution are batch work: a batch row composes
  * the gate outputs directly, a streamed row over the drained sinks.
  *
  * `doc_id` (`vec_id` on the vector side) is the increment's key: one
  * row per key. The per-key roll-ups rely on it; in particular the
  * 5-gram gate's in-row `array_distinct` + `count` equals a
  * `countDistinct` per key only because each key is one row.
  *
  * Each gate emits either its hits (key rows, possibly repeated) or
  * per-key flags; [[firstGate]] dedups the hits and labels each key of
  * a universe with the first gate that fires. */
object Gates {

  private val StoreDate = java.time.LocalDate.ofEpochDay(0)

  /** c08's incoming crawl increment over any (doc_id, text) relation:
    * organic odd ids plus four planted reject classes at disjoint
    * plantOffset multiples — evens < 100 verbatim (+off), evens in
    * [100,200) uppercased (+2·off), quotations of evens in [200,250)
    * (+3·off), and "leak "-prefixed eval docs, ids ≡ 0 mod 97 (+4·off).
    * A batch row checkpoints the result; a stream cannot. */
  private[graft] def admissionIncrement(f: DataFrame, off: Long): DataFrame = {
    val ex = f.filter(col("doc_id") % 2 === 0)
    f.filter(col("doc_id") % 2 === 1)
      .unionByName(ex.filter(col("doc_id") < 100)
        .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))
      .unionByName(ex.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select((col("doc_id") + lit(2 * off)).as("doc_id"),
          upper(col("text")).as("text")))
      .unionByName(ex.filter(col("doc_id") >= 200 && col("doc_id") < 250)
        .select((col("doc_id") + lit(3 * off)).as("doc_id"),
          PackOps.admitQuoteText.as("text")))
      .unionByName(f.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + lit(4 * off)).as("doc_id"),
          concat(lit("leak "), col("text")).as("text")))
  }

  /** The stored LSH band and passage-membership artifacts c08's gates
    * probe, saved once per session under the c08 root over the stored
    * corpus `existing`. Returns (lsh dir, passage dir). */
  private[graft] def admissionStores(s: SparkSession, d: String,
      existing: DataFrame): (String, String) = {
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c08")
    val lshDir = DocIndexStore.Lsh.versionedDir(s"$root/lsh", StoreDate)
    DocIndexStore.Lsh.saveOnce(lshDir, existing)
    val pasDir = DocIndexStore.Passage.versionedDir(s"$root/passage", StoreDate)
    DocIndexStore.Passage.saveOnce(pasDir, existing)
    (lshDir, pasDir)
  }

  /** A doc's content digest (the exact gate's key). */
  private[graft] def digest: Column = md5(col("text").cast("binary"))

  /** A stored corpus's content-digest ledger: its distinct `th`. */
  private[graft] def ledger(stored: DataFrame): DataFrame =
    stored.select(digest.as("th")).distinct()

  /** Exact gate: (doc_id, exact) — whether the doc's content digest is
    * already in `ledger`. One row per increment row. */
  private[graft] def exactFlags(inc: DataFrame, ledger: DataFrame): DataFrame =
    inc.withColumn("th", digest)
      .join(ledger.withColumn("__seen", lit(true)), Seq("th"), "left")
      .select(col("doc_id"), col("__seen").isNotNull.as("exact"))

  /** Verified near-dup gate: the increment's row-local bands probe the
    * stored band index, and a candidate counts only when its cleaned
    * text digest equals the stored doc's (identical cleaned tokens ⇒
    * identical signature ⇒ every band bucket shared, so the candidate
    * join surfaces each verified pair). Emits (doc_id) hits, one per
    * verified (doc, stored doc, band). */
  private[graft] def nearDupHits(inc: DataFrame, bandIndex: DataFrame,
      stored: DataFrame): DataFrame = {
    def cleanKey: Column =
      md5(TextFunctions.cleanText(col("text")).cast("binary"))
    DedupOps.minhashBandsRowLocal(
        inc.select(col("doc_id"), col("text"), cleanKey.as("ick")))
      .join(bandIndex
        .select(col("doc_id").as("src_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .join(stored.select(col("doc_id").as("src_id"), cleanKey.as("sck")),
        Seq("src_id"))
      .filter(col("ick") === col("sck"))
      .select(col("doc_id"))
  }

  /** Passage gate over [[DedupOps.probePassagesAgainst]]'s per-doc
    * roll-up: a doc at least half of whose passages are held. */
  private[graft] def passageHits(probed: DataFrame): DataFrame =
    probed.filter(col("n_known") * 2 >= col("n_passages"))
      .select(col("doc_id"))

  // ml.feature.NGram's compiled sliding window: the interpreted
  // higher-order ngrams() expression costs ~50× more on a corpus-wide
  // pass (same output; see TextFunctions.withNgrams)
  private def grams5(df: DataFrame): DataFrame =
    TextFunctions.withNgrams(
      df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks")),
      "toks", "shs", 5)

  /** The held-out eval set's distinct 5-grams (a static side). */
  private[graft] def evalGrams(eval: DataFrame): DataFrame =
    grams5(eval).select(explode(col("shs")).as("sh")).distinct()

  /** Eval 5-gram gate: (doc_id, n_shingle_hits) — how many distinct
    * 5-grams each doc shares with the broadcast eval set. */
  private[graft] def gramHits(inc: DataFrame, evalGrams: DataFrame): DataFrame =
    grams5(inc)
      .select(col("doc_id"), explode(array_distinct(col("shs"))).as("sh"))
      .join(broadcast(evalGrams), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingle_hits"))

  /** c08's decontamination cut over [[gramHits]]. */
  private[graft] def decontamHits(grams: DataFrame): DataFrame =
    grams.filter(col("n_shingle_hits") >= PackOps.DecontamMinHits)
      .select(col("doc_id"))

  /** Vector exact gate: (vec_id, exact) — 64-bit-hash candidates
    * against the stored embeddings, verified by array equality. One
    * row per (increment row, hash candidate), so a key repeats on hash
    * collisions. */
  private[graft] def vecExactFlags(inc: DataFrame, stored: DataFrame): DataFrame =
    inc.withColumn("eh", xxhash64(col("embedding")))
      .join(stored.select(col("embedding").as("s_emb"))
        .withColumn("eh", xxhash64(col("s_emb"))), Seq("eh"), "left")
      .select(col("vec_id"),
        coalesce(col("embedding") === col("s_emb"), lit(false)).as("exact"))

  /** c09's two vec gates attributed over `universe` (one row per
    * vec_id): [[vecExactFlags]] output and
    * [[EmbeddingOps.semanticGateCandidates]] hits. */
  private[graft] def vecFirstGate(universe: DataFrame, exact: DataFrame,
      semantic: DataFrame): DataFrame =
    firstGate(universe, "vec_id",
      Seq("1_exact" -> exact.filter(col("exact")), "2_semantic" -> semantic))

  /** `universe` (one row per `key`) plus `gate`: the label of the first
    * `(label, hits)` entry whose hits hold the key, else "admitted".
    * Gates are per-key predicates, so their order resolves attribution
    * only, never membership. */
  private[graft] def firstGate(universe: DataFrame, key: String,
      gates: Seq[(String, DataFrame)]): DataFrame = {
    // the alias gives the hits a fresh key attribute: a streamed row's
    // hits and universe can be one drained memory sink, a self-join
    // whose sides Spark cannot tell apart otherwise
    val flagged = gates.map(_._2).zipWithIndex.foldLeft(universe) {
      case (u, (hits, i)) =>
        u.join(hits.select(col(key).as(key)).distinct()
          .withColumn(s"__gate$i", lit(true)), Seq(key), "left")
    }
    val labels = gates.map(_._1).zipWithIndex
    val gate = labels.tail
      .foldLeft(when(col("__gate0"), labels.head._1)) {
        case (g, (label, i)) => g.when(col(s"__gate$i"), label)
      }
      .otherwise("admitted")
    flagged.select(universe.columns.map(col).toSeq :+ gate.as("gate"): _*)
  }
}
