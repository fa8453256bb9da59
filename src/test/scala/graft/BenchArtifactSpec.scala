package graft

/** The bench artifact's self-diagnosis sections: memo behaviour,
  * shuffle volumes and family-boundary footprints live in
  * bench_out.json so an anomalous sweep can be diagnosed from the
  * artifact alone. These specs pin the schema so a refactor can't
  * silently drop the diagnosing fields. */
class BenchArtifactSpec extends SparkSpec {

  test("renderLine emits memo + shuffle + footprints sections as valid JSON (r17 ask #5 + r18 ask #5)") {
    val results: Seq[Bench.QueryStats] = Seq(
      Bench.QueryStats("m07_lda", 1.5, 1.0, 15.0, 15.0, 0, 2L, 3L,
        5000000L, 2000000L, 1000000L, 500000L),
      Bench.QueryStats("t01_clean", 0.2, 0.1, 0.3, 0.3, 1, 0L, 0L,
        0L, 0L, 0L, 0L),
      Bench.QueryStats("q22_skew", 0.9, 0.8, 1.0, 1.0, 0, 0L, 0L,
        3000000000L, 3000000000L, 2000000000L, 1500000000L))
    val fps = Seq(
      ("m", "done", Map("cached_rdds" -> 4L, "storage_mem_mb" -> 100L,
        "storage_disk_mb" -> 0L, "heap_used_mb" -> 900L)),
      ("t", "start", Map("cached_rdds" -> 0L, "storage_mem_mb" -> 0L,
        "storage_disk_mb" -> 0L, "heap_used_mb" -> 400L)))
    val line = Bench.renderLine(results, fps, runsPerQuery = 3,
      compiled = 50L, cacheMax = 8192L, sfDir = "/x/sf0.1")
    // the line parses as ONE json object with every section present
    import spark.implicits._
    val df = spark.read
      .option("columnNameOfCorruptRecord", "_corrupt").json(Seq(line).toDS())
    val fields = df.schema.fieldNames.toSet
    assert(!fields.contains("_corrupt"), s"artifact line is not JSON: $line")
    for (f <- Seq("metric", "value", "queries", "spread", "first_total",
        "flaky", "failed", "memo", "shuffle", "shuffle_canary",
        "footprints", "codegen_cache_canary", "sf"))
      assert(fields.contains(f), s"artifact lost the '$f' section")
    // the memo section attributes builds to the query that paid them —
    // the m-family rebuild signature the r17 adjudication needed —
    // and zero-memo queries don't bloat a 213-row artifact
    assert(line.contains(""""memo":{"m07_lda":{"hit":2,"miss":3}}"""))
    assert(!line.contains(""""t01_clean":{"hit""""))
    // shuffle volumes: [firstRead, firstWrite, steadyRead, steadyWrite]
    // bytes, only where a query shuffled at all (r18 ask #5)
    assert(line.contains(
      """"m07_lda":[5000000,2000000,1000000,500000]"""))
    assert(!line.contains(""""t01_clean":[0,0,0,0]"""))
    // the envelope canary names the blow-past query with its volume
    assert(line.contains(""""envelope_bytes":1073741824"""))
    assert(line.contains(""""over":{"q22_skew":3500000000}"""))
    assert(line.contains(""""ok":false"""))
    // footprints carry (family, boundary, the four metrics)
    assert(line.contains(
      """"footprints":[{"family":"m","at":"done","cached_rdds":4"""))
    assert(line.contains(""""heap_used_mb":400"""))
    // aggregates unchanged by the new sections
    assert(line.contains(""""failed":[]"""))
    assert(line.contains(""""flaky":{"t01_clean":1}"""))
  }

  test("stdout metric line keeps the driver contract and stays compact (r19 verdict #6)") {
    val results: Seq[Bench.QueryStats] = Seq(
      Bench.QueryStats("m07_lda", 1.5, 1.0, 15.0, 15.0, 0, 2L, 3L,
        5000000L, 2000000L, 1000000L, 500000L),
      Bench.QueryStats("t01_clean", 0.2, 0.1, 0.3, 0.3, 1, 0L, 0L,
        0L, 0L, 0L, 0L),
      Bench.QueryStats("x99_dead", -1.0, -1.0, -1.0, -1.0, 3, 0L, 0L,
        0L, 0L, 0L, 0L))
    val line = Bench.renderStdoutLine(results, runsPerQuery = 3,
      sfDir = "/x/sf0.1")
    import spark.implicits._
    val df = spark.read
      .option("columnNameOfCorruptRecord", "_corrupt").json(Seq(line).toDS())
    val fields = df.schema.fieldNames.toSet
    assert(!fields.contains("_corrupt"), s"stdout line is not JSON: $line")
    // the driver contract's required keys, plus the failure accounting
    for (f <- Seq("metric", "value", "unit", "queries", "first_total",
        "flaky", "failed", "sf"))
      assert(fields.contains(f), s"stdout line lost the '$f' key")
    // per-query diagnostic dicts live ONLY in bench_out.json — their
    // size is what truncated the r18 driver capture
    for (f <- Seq("spread", "memo", "shuffle", "footprints"))
      assert(!fields.contains(f),
        s"stdout line must not carry the bulky '$f' section")
    // failed queries keep their -1.0 sentinel in the dict (as in the
    // full artifact line) — the `failed` list is the machine-readable cue
    assert(line.contains(
      """"queries":{"m07_lda":1.5,"t01_clean":0.2,"x99_dead":-1.0}"""))
    assert(line.contains(""""failed":["x99_dead"]"""))
    assert(line.contains(""""flaky":{"t01_clean":1}"""))
    // totals agree with the full artifact line's
    val full = Bench.renderLine(results, Seq.empty, 3, 10L, 8192L, "/x/sf0.1")
    val totalRe = """"value":([0-9.]+)""".r
    assert(totalRe.findFirstMatchIn(line).map(_.group(1)) ===
      totalRe.findFirstMatchIn(full).map(_.group(1)))
  }

  test("shuffle canary is ok when every query stays inside the envelope") {
    val results: Seq[Bench.QueryStats] = Seq(
      Bench.QueryStats("q01_agg", 0.5, 0.4, 0.6, 0.6, 0, 0L, 0L,
        9000000L, 4000000L, 9000000L, 4000000L))
    val line = Bench.renderLine(results, Seq.empty, runsPerQuery = 1,
      compiled = 10L, cacheMax = 8192L, sfDir = "/x/sf0.01")
    assert(line.contains(""""shuffle_canary":{"envelope_bytes":"""))
    assert(line.contains(""""over":{},"ok":true"""))
  }

  test("ShuffleTally accumulates stage shuffle metrics from a real job") {
    val tally = new Harness.StageTally
    spark.sparkContext.addSparkListener(tally)
    try {
      import spark.implicits._
      // a groupBy over distinct keys forces a real exchange
      (1 to 10000).toDF("x").repartition(8)
        .groupBy(($"x" % 97).as("k")).count()
        .write.mode("overwrite").format("noop").save()
      // drain the async bus the same way Bench does
      Harness.drainListenerBus(spark)
      val (r, w) = tally.snapshot()
      assert(w > 0, "a groupBy job wrote no shuffle bytes into the tally")
      assert(r > 0, "a groupBy job read no shuffle bytes into the tally")
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("Intermediates.stats counts misses on build, hits on reuse") {
    val (h0, m0) = graft.api.Intermediates.stats()
    val key = s"bench_artifact_spec|${System.nanoTime()}"
    graft.api.Intermediates.memo(spark, key)(42)
    val (h1, m1) = graft.api.Intermediates.stats()
    assert(m1 - m0 >= 1, "a fresh build did not count as a miss")
    graft.api.Intermediates.memo(spark, key)(sys.error("must not rebuild"))
    val (h2, m2) = graft.api.Intermediates.stats()
    assert(h2 - h1 >= 1, "a memo hit did not count as a hit")
    assert(m2 === m1, "a memo hit counted as a miss")
  }
}
