package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{Intermediates, ModelPipeline, ModelStore}
import graft.operators.{GraphOps, PackOps}
import graft.refine.LdaSplitter
import graft.sources.Tables
import graft.streaming.{EphemeralCheckpoints, EventStreams}

/** The workloads. Each calls only the engine's public entry points,
  * times them from outside, and checks their outputs after the timed
  * region. `data` holds the generated inputs (see perfbench/gen.py);
  * every repetition starts from released engine state.
  *
  * A run measures one cold pass of its workload. With tracing it makes
  * four (cold, untraced, traced, untraced), and the predict calls alternate,
  * so one run yields both the per-layer records and the tracing overhead.
  */
final class Workloads(spark: SparkSession, data: String, out: String,
                      seconds: Double, traced: Boolean, K: Int) {
  private val log = new RepLog
  private val Seed = 123L
  private val params = LdaSplitter.Params()

  // ---- repetition isolation -------------------------------------------

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(); ()
  }

  private def tmpDir = new File(System.getProperty("java.io.tmpdir"))

  /** Release every piece of engine state a repetition can leave behind. */
  private def reset(): Unit = {
    Intermediates.releaseAll(spark)
    EventStreams.releaseSinks(spark)
    Tables.refresh()
    spark.catalog.clearCache()
    EphemeralCheckpoints.clear()
    Option(tmpDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).foreach(deleteRec)
  }

  /** A fresh dataset path for one repetition, linked to the generated
    * corpus: every path-keyed engine state (memos, stores, reader plans)
    * is keyed anew, so nothing built by an earlier repetition is reused. */
  private def freshCorpus(tag: String, i: Int): String = {
    val d = new File(s"$out/reps/$tag-$i").getAbsolutePath
    deleteRec(new File(d))
    new File(d).mkdirs()
    for (t <- Seq("documents", "embeddings", "events")) {
      val src = Paths.get(s"$data/corpus/$t.parquet").toAbsolutePath
      val dst = Paths.get(s"$d/$t.parquet")
      try Files.createLink(dst, src) catch { case _: Exception => Files.copy(src, dst) }
    }
    d
  }

  /** No store directory of any earlier repetition may exist for `d`. */
  private def storesEmpty(d: String): Boolean = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    !Option(tmpDir.list()).toSeq.flatten.exists(_.endsWith(digest))
  }

  // ---- counters --------------------------------------------------------

  private def counters(): Map[String, Long] = {
    val (hits, misses) = Intermediates.stats()
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    Map("memo_hits" -> hits, "memo_builds" -> misses, "gc_ms" -> gc,
      "codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime,
      "codegen_classes" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount)
  }

  private def delta(a: Map[String, Long], b: Map[String, Long]) =
    b.map { case (k, v) => k -> (v - a(k)) }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** The passes of a run: one, or with tracing a cold one and then a
    * traced one between two untraced ones to compare it with. */
  private def passes(pass: (Int, Boolean) => Unit): Unit =
    (0 until (if (traced) 4 else 1)).foreach(i => pass(i, i == 2))

  /** Run calls until `seconds` of measuring have passed, at least `minReps`
    * of them; with tracing, odd calls are traced. */
  private def repeat(minReps: Int)(rep: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minReps || secs(t0) < seconds) {
      rep(i, traced && i % 2 == 1)
      i += 1
    }
  }

  /** One timed engine call inside span `name`. */
  private def timed[T](calls: mutable.LinkedHashMap[String, Double],
                       name: String, layer: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = log.call(name)(Trace.span(spark, name, layer)(body))
    calls(name) = secs(t0)
    r
  }

  private def docCount(dir: String): Long =
    spark.read.parquet(s"$dir/documents.parquet").count()

  // ---- topic_model ------------------------------------------------------

  /** One cold build: counts → weights → fitted → split → optimize →
    * refiner report → save, then its output checks. */
  private def build(d: String, id: String, trace: Boolean,
                    modelDir: String): Map[String, Any] = {
    reset()
    val n = docCount(d)
    val calls = mutable.LinkedHashMap[String, Double]()
    val c0 = counters()
    Trace.startRep(id)
    Trace.enable(trace)
    val t0 = System.nanoTime()
    val (fm, split, stats, report) = Trace.span(spark, "topic_model.build", "rep") {
      timed(calls, "features.counts", "features")(ModelPipeline.counts(spark, d))
      timed(calls, "features.tfidf", "features")(ModelPipeline.weights(spark, d))
      val fm = timed(calls, "cluster.kmeans_fit", "cluster")(
        ModelPipeline.fitted(spark, d, K, Seed))
      val split = timed(calls, "refine.lda_split", "refine")(
        ModelPipeline.splitAssignments(spark, d, params, K, Seed))
      val stats = timed(calls, "refine.merge", "refine")(
        ModelPipeline.optimize(spark, d, K, Seed, params, 0.9).collect())
      val report = timed(calls, "coherence.report", "coherence")(
        ModelPipeline.refinerReport(spark, d, K, Seed, params).collect())
      fm.foreach(f => timed(calls, "api.save", "api")(
        ModelStore.save(modelDir, f.model, f.vocab, f.counts, Tables.documents(spark, d))))
      (fm, split, stats, report)
    }
    val wall = secs(t0)
    Trace.enable(false)
    val c1 = counters()

    // checks, outside the timed region
    log.check(s"$id cold start builds memos", c1("memo_builds") - c0("memo_builds") >= 1)
    split.foreach { s =>
      val perDoc = s.groupBy(col("doc_id")).count()
        .agg(count(lit(1)), sum(when(col("count") =!= 1, 1).otherwise(0))).head()
      log.check(s"$id every doc assigned once", perDoc.getLong(0) == n && perDoc.getLong(1) == 0)
    }
    stats.foreach(rows => log.check(s"$id merge n_docs sums to corpus",
      rows.map(_.getAs[Long]("n_docs")).sum == n))
    report.foreach(rows => log.check(s"$id report n_docs and labels",
      rows.map(_.getAs[Long]("n_docs")).sum == n &&
        rows.forall(_.getAs[String]("label") != null)))
    fm.foreach { f =>
      val sample = Tables.documents(spark, d).filter(col("doc_id") < 400)
      def preds(saved: ModelStore.Saved) =
        ModelStore.predict(sample, saved).collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      log.check(s"$id loaded model predicts like the in-memory model", {
        val loaded = preds(ModelStore.load(spark, modelDir))
        loaded.nonEmpty && loaded == preds(ModelStore.inMemory(
          f.model, f.vocab, f.counts, Tables.documents(spark, d)))
      })
    }
    // the report has one row per cluster after the split
    val added = report.map(_.length - fm.map(_.model.clusterCenters.length).getOrElse(0))
    Map("id" -> id, "traced" -> trace, "wall_s" -> wall, "docs" -> n,
      "calls" -> calls, "counters" -> delta(c0, c1),
      "clusters_split" -> math.max(0, added.getOrElse(0)))
  }

  /** Cold builds, then the prediction-time flow over the model the last
    * build saved: load it, and serve back-to-back predicts (one closed-loop
    * client) on held-out batches with out-of-vocabulary terms. The serve
    * phase runs no model fit. */
  def topicModel(): Map[String, Any] = {
    var modelDir = ""
    passes { (i, tr) =>
      if (modelDir.nonEmpty) deleteRec(new File(modelDir))
      val d = freshCorpus("tm", i)
      modelDir = s"$out/models/tm-$i"
      log.reps += build(d, s"tm-$i", tr, modelDir)
      deleteRec(new File(d))
    }
    reset()
    val served = serve(modelDir)
    log.summary ++ served
  }

  private def serve(modelDir: String): Map[String, Any] = {
    Trace.startRep("load")
    Trace.enable(traced)
    val l0 = System.nanoTime()
    val saved = Trace.span(spark, "api.load", "api")(ModelStore.load(spark, modelDir))
    val loadS = secs(l0)
    Trace.enable(false)

    val heldDocs = Tables.documents(spark, s"$data/heldout")
    val ids = heldDocs.select(min(col("doc_id")), count(lit(1))).head()
    val (base, nHeld) = (ids.getLong(0), ids.getLong(1))
    val batchDocs = 50L
    val nBatches = (nHeld / batchDocs).toInt
    def batch(b: Int) = heldDocs.filter(col("doc_id") >= base + b * batchDocs &&
      col("doc_id") < base + (b + 1) * batchDocs)
    def predict(b: Int): Unit =
      ModelStore.predict(batch(b), saved).write.format("noop").mode("overwrite").save()

    // Warm-up: plans compiled, caches filled, the JIT past its first tier.
    // Predict latency keeps falling over a JVM's first calls, so fixed
    // counts put every run at the same point of that curve. A traced run
    // reports no latency and takes its per-layer records from fewer calls.
    val warmup = if (traced) 10 else 35
    (0 until warmup).foreach(b => predict(b % nBatches))
    val calls = mutable.ArrayBuffer[Map[String, Any]]()
    var used = math.min(warmup, nBatches)
    repeat(minReps = if (traced) 20 else 40) { (i, tr) =>
      val b = (warmup + i) % nBatches
      used = math.max(used, b + 1)
      val c0 = counters()
      val id = s"call-$i"
      Trace.startRep(id)
      Trace.enable(tr)
      val t0 = System.nanoTime()
      log.call(id)(Trace.span(spark, "api.predict", "api")(predict(b)))
      val wall = secs(t0)
      // traced calls also time vectorization alone on the same batch, as
      // a sub-repetition outside the call's wall time
      if (tr) {
        Trace.startRep(s"$id/vectorize")
        Trace.span(spark, "features.vectorize", "features")(
          ModelStore.vectorize(batch(b), saved).write.format("noop").mode("overwrite").save())
      }
      Trace.enable(false)
      calls += Map("id" -> id, "traced" -> tr, "wall_s" -> wall,
        "docs" -> batchDocs, "counters" -> delta(c0, counters()))
    }

    // checks: every served doc gets at most one cluster, within [0, k)
    val k = saved.model.clusterCenters.length
    val rows = ModelStore.predict(heldDocs.filter(col("doc_id") < base + used * batchDocs), saved)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    log.check("at most one cluster per served doc", rows.map(_._1).distinct.length == rows.length)
    log.check("served clusters within [0, k)", rows.forall { case (_, c) => c >= 0 && c < k })
    log.check("served docs predicted", rows.nonEmpty)
    deleteRec(new File(modelDir))
    Map("calls" -> calls.toSeq, "load_s" -> loadS, "k" -> k, "batch_docs" -> batchDocs)
  }

  // ---- crawl_admit -------------------------------------------------------

  private val crawlRows = Seq(
    ("c01_corpus_prep", "operators.corpus_prep", "operators",
      (s: SparkSession, d: String) => PackOps.corpusPrep(s, d)),
    ("d10_production_dedup", "operators.dedup", "operators",
      (s: SparkSession, d: String) => GraphOps.productionDedup(s, d)),
    ("c08_crawl_admission", "operators.admission", "operators",
      (s: SparkSession, d: String) => PackOps.crawlAdmission(s, d)),
    ("p11_export_manifest", "sources.export", "sources",
      (s: SparkSession, d: String) => PackOps.exportManifest(s, d)))
  private val streamRow = "s34_stream_admission"

  def crawlAdmit(): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    Json.write(s"$out/oracle_sql.json",
      (crawlRows.map(_._1) :+ streamRow).flatMap(n => oracle.get(n).map(n -> _)).toMap)
    def round(d: String, id: String, trace: Boolean): Map[String, Any] = {
      reset()
      log.check(s"$id stores start empty", storesEmpty(d))
      val n = docCount(d)
      val outDir = s"$out/outputs/$id"
      val calls = mutable.LinkedHashMap[String, Double]()
      val c0 = counters()
      Trace.startRep(id)
      Trace.enable(trace)
      val t0 = System.nanoTime()
      var batchS, streamS = 0.0
      Trace.span(spark, "crawl_admit.round", "rep") {
        crawlRows.foreach { case (row, span, layer, fn) =>
          timed(calls, span, layer)(fn(spark, d).write.parquet(s"$outDir/$row"))
        }
        batchS = secs(t0)
        val s0 = System.nanoTime()
        timed(calls, "streaming.admission", "streaming")(
          EventStreams.streamAdmission(spark, d).write.parquet(s"$outDir/$streamRow"))
        streamS = secs(s0)
      }
      val wall = secs(t0)
      Trace.enable(false)
      Map("id" -> id, "traced" -> trace, "wall_s" -> wall, "docs" -> n,
        "batch_s" -> batchS, "stream_s" -> streamS, "calls" -> calls,
        "counters" -> delta(c0, counters()),
        "outputs" -> outDir)
    }
    passes { (i, tr) =>
      val d = freshCorpus("ca", i)
      log.reps += round(d, s"ca-$i", tr)
      deleteRec(new File(d))
    }
    reset()
    log.summary
  }
}

object Workloads {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
