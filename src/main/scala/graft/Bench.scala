package graft
import scala.util.control.NonFatal

object Bench {

  /** One query's aggregated sweep stats; shuffle volumes in bytes. The
    * `first` slot is the first successful run; a failed query carries
    * -1.0 in every time slot. */
  private[graft] final case class QueryStats(name: String, median: Double,
      min: Double, max: Double, first: Double, failedRuns: Int,
      memoHits: Long, memoMisses: Long,
      firstShuffleRead: Long, firstShuffleWrite: Long,
      steadyShuffleRead: Long, steadyShuffleWrite: Long) {
    def ok: Boolean = median >= 0
    def steadyShuffle: Long = steadyShuffleRead + steadyShuffleWrite
  }

  /** A query moving more than this through the shuffle per steady-state
    * run is named by the artifact's shuffle canary. */
  private[graft] val ShuffleEnvelopeBytes: Long = 1L << 30

  /** Assemble the full artifact line. It carries the memo hit/miss and
    * family-boundary footprint sections so an anomalous sweep names its
    * own cause (memo rebuild vs environment pressure) from the artifact
    * alone. Pure function so the schema is spec-testable without a
    * sweep. */
  private[graft] def renderLine(
      results: Seq[QueryStats],
      footprints: Seq[(String, String, Map[String, Long])],
      runsPerQuery: Int, compiled: Long, cacheMax: Long,
      sfDir: String): String = {
    val spread = results.map(r =>
      s""""${r.name}":[${r.min},${r.max}]""").mkString("{", ",", "}")
    // memo deltas only where a query touched the memo at all, so a
    // full-registry artifact stays readable; a miss on a later-than-
    // first run is the rebuild signature
    val memo = results
      .collect { case r if r.memoHits + r.memoMisses > 0 =>
        s""""${r.name}":{"hit":${r.memoHits},"miss":${r.memoMisses}}""" }
      .mkString("{", ",", "}")
    // [first-run read, first-run write, steady read, steady write] bytes,
    // only where a query shuffled at all: first vs steady splits a
    // shared build's shuffle from the query's own, and the steady
    // columns' round-over-round diff catches a same-shape plan moving
    // more bytes, which the plan pins cannot see
    val shuffle = results
      .collect { case r if r.firstShuffleRead + r.firstShuffleWrite +
          r.steadyShuffle > 0 =>
        s""""${r.name}":[${r.firstShuffleRead},${r.firstShuffleWrite},""" +
          s"""${r.steadyShuffleRead},${r.steadyShuffleWrite}]""" }
      .mkString("{", ",", "}")
    val over = results
      .collect { case r if r.steadyShuffle > ShuffleEnvelopeBytes =>
        s""""${r.name}":${r.steadyShuffle}""" }
      .mkString("{", ",", "}")
    val shuffleCanary =
      s"""{"envelope_bytes":$ShuffleEnvelopeBytes,"over":$over,""" +
        s""""ok":${over == "{}"}}"""
    val fps = footprints.map { case (fam, at, m) =>
      s"""{"family":"$fam","at":"$at",""" +
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
          .mkString(",") + "}"
    }.mkString("[", ",", "]")
    val cacheOk = compiled <= (cacheMax * 8) / 10
    s"""{"metric":"total","value":${total(results)},"unit":"sec",""" +
      s""""queries":${queries(results)},""" +
      s""""spread":$spread,"runs_per_query":$runsPerQuery,""" +
      s""""first_total":${firstTotal(results)},"flaky":${flaky(results)},""" +
      s""""failed":${failed(results)},""" +
      s""""memo":$memo,"shuffle":$shuffle,""" +
      s""""shuffle_canary":$shuffleCanary,"footprints":$fps,""" +
      s""""codegen_cache_canary":{"compiled_classes":$compiled,""" +
      s""""cache_max":$cacheMax,"ok":$cacheOk},"sf":"$sfDir"}"""
  }

  /** The stdout metric line: the contract keys (metric, value, unit,
    * queries, sf) plus the failure accounting. The full artifact outgrew
    * a stdout-tail capture, so every diagnostic section (spread, memo, shuffle,
    * canaries, footprints) lives only in `bench_out.json`. Same totals
    * and per-query medians as the full line. */
  private[graft] def renderStdoutLine(
      results: Seq[QueryStats], runsPerQuery: Int, sfDir: String): String =
    s"""{"metric":"total","value":${total(results)},"unit":"sec",""" +
      s""""queries":${queries(results)},""" +
      s""""runs_per_query":$runsPerQuery,""" +
      s""""first_total":${firstTotal(results)},""" +
      s""""flaky":${flaky(results)},"failed":${failed(results)},""" +
      s""""sf":"$sfDir"}"""

  // failed queries keep their -1.0 sentinel in the medians dict; the
  // `failed` list is the machine-readable cue
  private def queries(rs: Seq[QueryStats]): String =
    rs.map(r => s""""${r.name}":${r.median}""").mkString("{", ",", "}")
  private def total(rs: Seq[QueryStats]): Double =
    rs.filter(_.ok).map(_.median).sum
  private def firstTotal(rs: Seq[QueryStats]): Double =
    rs.filter(_.ok).map(_.first).sum
  private def failed(rs: Seq[QueryStats]): String =
    rs.filterNot(_.ok).map(r => "\"" + r.name + "\"").mkString("[", ",", "]")
  // intermittent crashes (some-but-not-all runs failed) stay visible
  // even though a median exists
  private def flaky(rs: Seq[QueryStats]): String =
    rs.collect { case r if r.ok && r.failedRuns > 0 =>
      s""""${r.name}":${r.failedRuns}""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDirFromEnv
    // Single-sample timings on the ML family were observed ±5× across
    // runs (dozens of tiny concurrent jobs → scheduler-noise-bound wall
    // clock). N runs per query, report the MEDIAN, so a re-run of the
    // bench agrees per query instead of ghost-regressing on noise.
    val runsPerQuery = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS") match {
        case Some(v) => scala.util.Try(v.toInt).getOrElse {
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_RUNS='$v' is not an int — using 3")
          3
        }
        case None => 3
      })
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // Corpus-drift canary (footer reads only): a regenerated corpus is
    // named loudly here as the root cause, not as N opaque per-query
    // -1.0s; the sweep still runs whatever the drift didn't break.
    graft.sources.SchemaCanary.warn(spark, sfDir)
    // Shared Intermediates builds (DFM, K-means fit, IVF index) are
    // deliberately billed to the first query that triggers them: they are
    // real pipeline work and must stay inside the benchmark total. With
    // medians the build lands only in that query's FIRST run, so the
    // median reflects steady-state cost; the build is still visible in
    // that query's max and in `first_total` (the sum of first-run times,
    // the cold-start figure for the whole sweep). Per-query medians are
    // run-order-dependent for the m/f families; neither total is.
    // The noop sink forces full materialization of every output column
    // (count() would let Catalyst prune the expensive projections).
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // Storage/heap footprint at family boundaries localizes any
    // sweep-pollution regression to the family that accumulated the
    // state. Recorded into the artifact, echoed to stderr.
    val footprints = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Map[String, Long])]
    def recordFootprint(fam: String, at: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val rt = Runtime.getRuntime
      val m = Map(
        "cached_rdds" -> infos.length.toLong,
        "storage_mem_mb" -> infos.map(_.memSize).sum / 1048576,
        "storage_disk_mb" -> infos.map(_.diskSize).sum / 1048576,
        "heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576)
      footprints += ((fam, at, m))
      System.err.println(s"[bench] family $fam $at: " +
        m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    // Diagnostic subset filter (unset, the whole registry runs):
    // comma-separated name PREFIXES, a query runs iff its
    // name starts with one of them.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val tally = new Harness.StageTally
    spark.sparkContext.addSparkListener(tally)
    def shuffleSnapshot(): (Long, Long) = {
      Harness.drainListenerBus(spark)
      tally.snapshot()
    }
    val results = Harness.sweep(spark,
        name => only.forall(_.exists(name.startsWith)),
        familyDone = recordFootprint(_, "done"),
        familyStart = fam => { System.gc(); recordFootprint(fam, "start") }) {
        (name, fn) =>
      System.err.println(s"[bench] start $name ($runsPerQuery runs)")
      val (memoHits0, memoMisses0) = graft.api.Intermediates.stats()
      val (shr0, shw0) = shuffleSnapshot()
      var firstBoundary = (shr0, shw0) // re-snapshotted after run 1
      val runs = (1 to runsPerQuery).map { i =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name run $i failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9 // before cleanup — its cost must not bill to this query
        if (i == 1) firstBoundary = shuffleSnapshot()
        Harness.releaseScratch(spark)
        if (ok) elapsed else -1.0
      }
      val good = runs.filter(_ >= 0)
      System.err.println(f"[bench] $name runs=${runs.map(r => f"$r%.2f").mkString(",")}")
      val (memoHits1, memoMisses1) = graft.api.Intermediates.stats()
      val (shr1, shw1) = shuffleSnapshot()
      // first run = shared-build + query shuffle; steady = the per-run
      // average over the remaining runs (they are plan-identical, the
      // average smooths listener-drain attribution skew)
      val (fbr, fbw) = firstBoundary
      val (firstR, firstW) = (fbr - shr0, fbw - shw0)
      val (steadyR, steadyW) =
        if (runsPerQuery > 1)
          ((shr1 - fbr) / (runsPerQuery - 1), (shw1 - fbw) / (runsPerQuery - 1))
        else (firstR, firstW)
      // runs.head is the -1.0 sentinel when only the first run failed,
      // which would corrupt first_total while the ok guard passes
      def orFailed(f: Seq[Double] => Double) =
        if (good.isEmpty) -1.0 else f(good)
      QueryStats(name, orFailed(median), orFailed(_.min), orFailed(_.max),
        orFailed(_.head), runs.count(_ < 0),
        memoHits1 - memoHits0, memoMisses1 - memoMisses0,
        firstR, firstW, steadyR, steadyW)
    }
    // Registry-growth canary for the whole-stage-codegen class cache:
    // the sweep's total compile count is the session's distinct-class
    // working set while the cache holds (the driver, local tasks and the
    // stream clone share one class loader, so each class compiles once
    // per JVM); a working set past capacity recompiles on every run and
    // the count balloons. Guard at 80% capacity so the registry outgrowing the
    // cache is named before eviction churn skews family timings.
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val cacheMax = scala.util.Try(
      spark.conf.get("spark.sql.codegen.cache.maxEntries").toLong)
      .getOrElse(100L)
    val cacheOk = compiled <= (cacheMax * 8) / 10
    if (!cacheOk)
      System.err.println(
        s"[bench] CODEGEN CACHE CANARY FAILED: $compiled generated classes " +
          s"compiled this session vs spark.sql.codegen.cache.maxEntries=" +
          s"$cacheMax — the registry's distinct-plan working set is within " +
          "20% of (or past) the cache capacity; raise maxEntries in " +
          "Sessions.configure or late-sweep families will recompile every " +
          "plan every run (the m-family regression, SCALE.md postmortem)")
    val shuffleMax = results.map(_.steadyShuffle).maxOption.getOrElse(0L)
    System.err.println(s"[bench] max steady-state shuffle volume " +
      s"${shuffleMax / 1048576} MB vs envelope " +
      s"${ShuffleEnvelopeBytes / 1048576} MB")
    results.filter(_.steadyShuffle > ShuffleEnvelopeBytes).foreach { r =>
      System.err.println(s"[bench] SHUFFLE ENVELOPE CANARY: ${r.name} moved " +
        s"${r.steadyShuffle / 1048576} MB through the shuffle at steady state " +
        s"— past the ${ShuffleEnvelopeBytes / 1048576} MB envelope; a " +
        "same-shape plan moving 10x the bytes is a regression the plan " +
        "pins cannot see (check the round-over-round 'shuffle' diff)")
    }
    val line = renderLine(results, footprints.toSeq, runsPerQuery,
      compiled, cacheMax, sfDir)
    // The full line (every diagnostic section) goes to the file; stdout
    // gets the compact contract line, which a stdout-tail capture
    // cannot truncate. Same numbers.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: $e")
    }
    println(renderStdoutLine(results, runsPerQuery, sfDir))
    spark.stop()
  }
}
