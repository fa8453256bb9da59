package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Diagnostic entry point, one subcommand per tool; their output is
  * not a stable contract. Every subcommand runs on the harness session
  * (`SPARK_GRAFT_CPUS`, default 4, the thread count Verify runs with).
  *
  * Usage: runMain graft.Tool <subcommand> [args...]
  */
object Tool {

  /** Subcommand → argument synopsis, in usage order. */
  private val Subcommands: Seq[(String, String)] = Seq(
    "run" -> "<name>[,<name>...] <sfDir> <outDir>",
    "plans" -> "<name>[,<name>...] <tag> [outDir]",
    "profile" -> "<name>[,<name>...] [runs]",
    "scale" -> "[baseDir] [bigDir] [mult]",
    "synth" -> "[baseDir] [bigDir] [mult] [skew]",
    "skew" -> "[dir]")

  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    // parse before bring-up: a malformed command line fails in
    // milliseconds, not after a session start
    val body: SparkSession => Unit = args.headOption match {
      case Some("run")     => run(rest)
      case Some("plans")   => plans(rest)
      case Some("profile") => profile(rest)
      case Some("scale")   => scale(rest)
      case Some("synth")   => synth(rest)
      case Some("skew")    => skew(rest)
      case other =>
        throw new IllegalArgumentException(
          other.fold("missing Tool subcommand")(c =>
            s"unknown Tool subcommand '$c'") + "; valid subcommands:\n" +
            Subcommands.map { case (c, a) => s"  $c $a" }.mkString("\n"))
    }
    val spark = Harness.session()
    try body(spark) finally spark.stop()
  }

  private def names(arg: String): Seq[String] =
    arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Run registered queries by name and dump their parquet plus oracle
    * SQL (`scripts/check_one.py` compares them): re-checking a few
    * oracles against one SF without a full Verify sweep. */
  private def run(args: Array[String]): SparkSession => Unit = {
    val Array(list, sfDir, outDir) = args
    spark => names(list).foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(name).foreach(sql =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}.sql"), sql))
    }
  }

  /** Write `.explain("formatted")` of each query to
    * `outDir/<query>_<tag>.txt` (corpus from `SPARK_GRAFT_SF_DIR`).
    * Streaming rows return a drained memory-sink table whose plan is a
    * LocalTableScan; their per-drain plans are not visible here. */
  private def plans(args: Array[String]): SparkSession => Unit = {
    val list = names(args(0))
    val tag = args(1)
    val outDir = args.lift(2).getOrElse("plans/r19")
    val sfDir = Harness.sfDirFromEnv
    spark => {
      new java.io.File(outDir).mkdirs()
      list.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        println(s"wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
      }
    }
  }

  /** Run queries through the bench's noop-sink methodology and attribute
    * each run's wall clock to the Spark stages inside it, by call site:
    * the bench says which query is slow, this says which action inside
    * it (a fit iteration, a store write, a drain, a collect). */
  private def profile(args: Array[String]): SparkSession => Unit = {
    val list = names(args(0))
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = Harness.sfDirFromEnv
    spark => {
      Harness.warmUp(spark, sfDir)
      val tally = new Harness.StageTally
      spark.sparkContext.addSparkListener(tally)
      list.foreach { name =>
        val fn = SparkEntry.queries(name)
        (1 to runs).foreach { i =>
          tally.reset()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val el = (System.nanoTime() - t0) / 1e9
          Harness.releaseScratch(spark)
          Harness.drainListenerBus(spark)
          println(f"== $name run $i: $el%.2fs")
          println(tally.report())
        }
      }
    }
  }

  private def scaleArgs(args: Array[String], defaultMult: Int) = (
    args.lift(0).getOrElse(Harness.DefaultSfDir),
    args.lift(1).getOrElse("/tmp/graft_scale_synth"),
    args.lift(2).map(_.toInt).getOrElse(defaultMult))

  /** Synthesize the mult-x corpus and time the heaviest queries on both
    * (SCALE.md's ratio table). */
  private def scale(args: Array[String]): SparkSession => Unit = {
    val (base, bigDir, mult) = scaleArgs(args, 10)
    spark => {
      ScaleProbe.synthesize(spark, base, bigDir, mult)
      ScaleProbe.probe(spark, base, bigDir, mult)
    }
  }

  /** Synthesize the mult-x corpus only (`skew` deforms it), for the
    * gate scripts. */
  private def synth(args: Array[String]): SparkSession => Unit = {
    val (base, bigDir, mult) = scaleArgs(args, 20)
    val skew = args.lift(3).contains("skew")
    spark => ScaleProbe.synthesize(spark, base, bigDir, mult, skew)
  }

  /** Name the skew guards the dedup/packing plans engage on a
    * (skew-)synthesized corpus; prints one JSON line:
    *  - LSH band buckets over the fixed d03 cap and over d10's 3×-union
    *    scaled cap, with the banded rows those drops retire (the
    *    all-pairs work the guard refuses to do);
    *  - the per-source census head (p08's hot-domain scenario) and how
    *    many sources exceed the 10-doc cap. */
  private def skew(args: Array[String]): SparkSession => Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_scale_skew")
    spark => {
      import graft.operators.DedupOps
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val banded = DedupOps.minhashBands(docs).localCheckpoint()
      val nBanded = banded.count()
      val fixedCap = DedupOps.MaxBucketSize.toLong
      // d10 runs the candidate path over the 3× planted union, whose
      // bucket loads triple — measure against ITS effective cap so the
      // receipt names the production guard, not just d03's windowed one
      val scaledCap3x = 3L * fixedCap
      val loads = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n")).localCheckpoint()
      def over(cap: Long): (Long, Long) = {
        val r = loads.filter(col("n") > cap)
          .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (nOverFixed, rowsOverFixed) = over(fixedCap)
      val (nOver3x, rowsOver3x) = over(scaledCap3x)
      val maxLoad = loads.agg(max(col("n"))).head().getLong(0)
      val srcCensus = graft.sources.Tables.documents(spark, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc).localCheckpoint()
      val top = srcCensus.limit(5).collect()
        .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").mkString(",")
      val nCapped = srcCensus.filter(col("n") > 10).count()
      println(
        s"""{"banded_rows":$nBanded,"max_bucket_load":$maxLoad,""" +
          s""""buckets_over_fixed_cap_$fixedCap":$nOverFixed,""" +
          s""""banded_rows_in_dropped_buckets":$rowsOverFixed,""" +
          s""""buckets_over_3x_cap_$scaledCap3x":$nOver3x,""" +
          s""""banded_rows_in_3x_dropped":$rowsOver3x,""" +
          s""""source_census_top5":{$top},""" +
          s""""sources_over_p08_cap_10":$nCapped}""")
    }
  }
}
