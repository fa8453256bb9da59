package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scale probe behind SCALE.md (`graft.Tool scale`): times
  * the heaviest document-table queries at the base SF and at a
  * synthetic `mult`x blow-up, printing the per-query ratio. The blow-up
  * keeps the workload's SHAPE linear: copy i is the base corpus under a
  * per-copy Caesar substitution (letters rotated by i, case preserved,
  * ids offset past the base range), so each copy is isomorphic to the
  * original — organic near-dup structure is replicated WITHIN copies,
  * while shingles never collide ACROSS copies (verbatim copies would
  * plant artificial mult-member cliques and drive the dedup joins
  * super-linear for data reasons, not engine reasons).
  */
object ScaleProbe {

  private val Heaviest = Seq(
    "c01_corpus_prep", "d10_production_dedup", "t08_winnow_fingerprints",
    "t05_lang_guess", "s09_model_roundtrip", "e10_semantic_dedup",
    "s04_stream_sessions",
    // the bigram-keyed scoring join (the one shuffle whose key space
    // grows superlinearly in vocabulary) and the passage-family
    // reassembly (two uniform hash aggs + per-doc sort)
    "t15_bigram_ce", "d16_boilerplate_strip",
    // the stream-stream interval join (dual buffered state stores, a
    // shape s04's single keyed session store doesn't witness) and the
    // trainer-facing export (gzip-JSONL shard write + read-back manifest)
    "s07_stream_join", "p11_export_manifest",
    // the trained language-ID scoring join (trigram instances ⋈
    // vocabulary-sized model + doc-partitioned argmax) and the
    // learned-unit budget draw (tokenizer replay + grouped prefix scan)
    "t17_lang_model", "p13_bpe_budget_draw",
    // the MOSS winnow-run composition (fingerprint candidates +
    // pair-scoped gram verification) and the stored-band-index probe
    // (batch ⋈ loaded index through a real parquet round-trip)
    "d19_winnow_run_dedup", "d20_stored_neardup",
    // the IVFADC-R composition (ADC shortlist join + exact re-rank) and
    // the streaming index append (per-batch quantizer assignment +
    // manifest commit + union-serve)
    "e19_ivfpq_rerank", "s26_stream_index_append",
    // the tombstone-compaction fold (anti-join + full artifact rewrite)
    // and the query-side streaming serve (stream-static cell probe +
    // complete-mode argmax)
    "e22_tombstone_compact", "s29_stream_ann_serve",
    // the streaming PQ/ADC serve (carried row-local LUT + stream-static
    // codes join + tombstone anti-join) and the passage-index tombstone
    // fold (set-maintenance compaction + stored-membership probe)
    "s31_stream_pq_serve", "d27_passage_tombstone",
    // the composed admission waterfall (four store-probe gates + two
    // manifest appends in one row) and its streaming twin (four
    // stream-static probes + two bounded complete-mode roll-ups)
    "c08_crawl_admission", "s34_stream_admission")

  /** The skew synthesis' hot-cluster template (≥ 3 tokens ⇒ shingles
    * exist ⇒ every copy lands in the same LSH band buckets) and its
    * population: `SkewHotDocs(mult)` text-identical docs drive every
    * shared bucket's load far past both the fixed 50-doc cap and the
    * 16×-mean scaled cap — the degenerate-boilerplate scenario the
    * bucket guards exist for. */
  private[graft] val SkewHotTemplate: String =
    "breaking news wire syndicated boilerplate header subscribe to our " +
      "newsletter all rights reserved copyright notice terms of service " +
      "privacy policy cookie banner follow us on social media"
  private[graft] def SkewHotDocs(mult: Int): Int = mult * 100

  /** Build the cipher-isomorphic mult-x corpus under bigDir
    * (documents, embeddings, events) — shared by the timing probe and
    * the 20x correctness-gate receipt (scripts/gate20x.sh).
    *
    * `skew = true` deforms the DOCUMENT table into
    * the adversarial shape the skew guards exist for, while the
    * embeddings/events stay uniform:
    *  - SOURCE skew: every doc's source is reassigned by a
    *    deterministic zipf(1)-shaped draw (log-uniform index over the
    *    base source universe, keyed on xxhash64(doc_id)) — the head
    *    source holds an order of magnitude more docs than the tail,
    *    p08's hot-domain scenario;
    *  - BAND skew: [[SkewHotDocs]] text-identical boilerplate docs
    *    (ids past the cipher range, all on the head source) drive
    *    their shared band buckets to ~100× the cap — the degenerate
    *    buckets d03/d10's guards must DROP while the rest of the
    *    corpus dedups normally.
    * The planted-recall/clique rows (d05/d06/d10) DOCUMENT a
    * ≤ MaxBucketSize/2 near-identical-content precondition; the skew
    * corpus violates it deliberately, so the skew gate runs the
    * bound-contract and full-oracle rows instead
    * (scripts/gateskew.sh documents the exclusion). */
  def synthesize(spark: SparkSession, base: String, bigDir: String,
      mult: Int, skew: Boolean = false): Unit = {
    require(mult >= 1 && mult <= 26,
      s"mult must be in [1, 26] (got $mult): rotations repeat past 26")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    val ciphered = (0 until mult).map { i =>
      val rotL = lower.drop(i % 26) + lower.take(i % 26)
      val rotU = upper.drop(i % 26) + upper.take(i % 26)
      docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * (maxId + 1)))
        .withColumn("text", translate(col("text"), lower + upper, rotL + rotU))
    }.reduce(_ unionAll _)
    val docsOut = if (!skew) ciphered else {
      val nSrc = docs.select(col("source")).distinct().count()
      // zipf(1)-shaped source index: u log-uniform over [1, nSrc) ⇒
      // P(idx = k) ∝ ln(1 + 1/(k+1)) ≈ 1/(k+1)
      val u = pmod(xxhash64(col("doc_id"), lit(7719L)), lit(1000000L))
        .cast("double") / lit(1000000.0)
      val zipfIdx = (floor(pow(lit(nSrc.toDouble), u)) - 1)
        .cast("long")
      val hotBase = mult.toLong * (maxId + 1)
      val hot = spark.range(SkewHotDocs(mult).toLong).select(
        (col("id") + lit(hotBase)).as("doc_id"),
        lit(SkewHotTemplate).as("text"),
        lit("en").as("lang"),
        lit("src0").as("source"),
        lit(SkewHotTemplate.length.toLong).as("n_chars"))
      ciphered
        .withColumn("source",
          concat(lit("src"), greatest(zipfIdx, lit(0L)).cast("string")))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .unionByName(hot)
    }
    docsOut.write.mode("overwrite").parquet(s"$bigDir/documents.parquet")

    // Embeddings blow-up for the e10 probe — the vector analog of the
    // Caesar cipher: copy i cyclically ROLLS each vector's dimensions by
    // i. A coordinate permutation preserves every within-copy inner
    // product exactly (the copy keeps the corpus's native cosine
    // structure, including the absence of ≥0.95 pairs), while a rolled
    // isotropic vector is just another isotropic vector to every other
    // copy — cross-copy cosines stay far from the dedup threshold, so
    // the semantic-dedup workload grows linearly by construction. The
    // quantizer's cell count scales with the union (ivfCellsFor), which
    // is exactly the knob this probe exercises.
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0)
    (0 until mult).map { i =>
      emb
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * (maxVec + 1)))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, $i % size(embedding) + 1, " +
            s"size(embedding) - $i % size(embedding)), " +
            s"slice(embedding, 1, $i % size(embedding)))"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")

    // Events blow-up for the streaming probe (s04): copy i offsets
    // user_id and event_id past the base ranges with timestamps
    // UNCHANGED — mult× the state-store keys (sessions per
    // session_window state shard) under the identical watermark
    // progression. This is the streaming analog of the keyed-shuffle
    // claim in SCALE.md: session state is partitioned by user like any
    // keyed exchange, so state size should scale with keys while
    // per-microbatch progress stays time-shaped.
    val ev = spark.read.parquet(s"$base/events.parquet")
    val (maxEvent, maxUser) = {
      val r = ev.agg(max(col("event_id")), max(col("user_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    (0 until mult).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * (maxEvent + 1)))
        .withColumn("user_id", col("user_id") + lit(i.toLong * (maxUser + 1)))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$bigDir/events.parquet")
  }

  private[graft] def probe(spark: SparkSession, base: String, bigDir: String,
      mult: Int): Unit = {
    // clean pool before every timed run, as at the bench's family
    // boundaries: memoized fits must be REBUILT inside the timing (they
    // are the work being scaled), only JIT/codegen stay warm
    def clean(): Unit = Harness.releaseFamily(spark)
    def run(dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Symmetric warmth: an UNTIMED warm-up run of each query first (the
    // plan is identical for both dirs, so one warm-up compiles the
    // generated code and JITs the hot paths for both), then a timed
    // state-clean run per dir. Without this, whichever dir runs first
    // pays all one-time compilation and every ratio biases low.
    val (baseT, bigT) = Heaviest.map { q =>
      clean(); run(base, q)
      clean(); val b0 = run(base, q)
      clean(); val b1 = run(bigDir, q)
      (q -> b0, q -> b1)
    }.unzip match { case (a, b) => (a.toMap, b.toMap) }
    println(f"| query | ${mult}%dx rows | base s | big s | ratio |")
    println("|---|---|---|---|---|")
    Heaviest.foreach { q =>
      println(f"| $q | x$mult | ${baseT(q)}%.2f | ${bigT(q)}%.2f | " +
        f"${bigT(q) / baseT(q)}%.1f |")
    }
  }
}
