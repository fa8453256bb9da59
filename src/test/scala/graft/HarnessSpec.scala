package graft

import scala.jdk.CollectionConverters._

/** The registry tools share one harness: a single diagnostic entry
  * point, and the scratch-release sweep written once. */
class HarnessSpec extends SparkSpec {

  private def mainSources: Seq[java.io.File] = {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory,
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    sources(main)
  }

  private def lines(f: java.io.File): IndexedSeq[String] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq

  test("entry points: def main appears in src/main only in Bench, Verify, Smoke and Tool") {
    val allowed = Set("Bench.scala", "Verify.scala", "Smoke.scala", "Tool.scala")
    val withMain = mainSources.filter(f => lines(f).exists(_.contains("def main(")))
    assert(withMain.map(_.getName).toSet === allowed,
      s"def main in: ${withMain.map(_.getPath).mkString(", ")}")
  }

  test("the scratch-release sweep (getPersistentRDDs filtered by isPinned) lives only in Harness") {
    val offenders = mainSources
      .filterNot(_.getPath.endsWith("graft/Harness.scala"))
      .flatMap { f =>
        val ls = lines(f)
        ls.indices.collect {
          case i if ls(i).contains("getPersistentRDDs") &&
              ls.slice(i, i + 4).exists(_.contains("isPinned")) =>
            s"${f.getPath}:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"hand-rolled scratch sweep outside Harness: ${offenders.mkString(", ")}")
  }

  test("an unknown Tool subcommand fails loudly and names the valid ones") {
    for (args <- Seq(Array("bogus", "x"), Array.empty[String])) {
      val e = intercept[IllegalArgumentException](Tool.main(args))
      for (c <- Seq("run", "plans", "profile", "scale", "synth", "skew"))
        assert(e.getMessage.contains(s"\n  $c "),
          s"usage does not name '$c': ${e.getMessage}")
    }
    val e = intercept[IllegalArgumentException](Tool.main(Array("bogus")))
    assert(e.getMessage.contains("unknown Tool subcommand 'bogus'"))
  }

  test("the stage tally keys stages by call site and resets to zero") {
    val tally = new Harness.StageTally
    spark.sparkContext.addSparkListener(tally)
    try {
      import spark.implicits._
      (1 to 2000).toDF("x").repartition(4)
        .groupBy(($"x" % 7).as("k")).count()
        .write.mode("overwrite").format("noop").save()
      Harness.drainListenerBus(spark)
      val report = tally.report()
      assert(report.contains("HarnessSpec.scala:"),
        s"no stage keyed by this call site:\n$report")
      assert(!report.contains("jobs=0 "), report)
      tally.reset()
      assert(tally.snapshot() === ((0L, 0L)))
      assert(tally.report().startsWith("  jobs=0 "))
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
