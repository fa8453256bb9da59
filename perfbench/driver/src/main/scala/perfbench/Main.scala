package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver process. Brings up the engine's session, prints
  * `READY`, runs one workload for the requested measuring time and writes
  * its records under `--out`:
  *
  *   result.json  per-repetition timings, counters and output checks;
  *   spans.jsonl, jobs.jsonl, stages.jsonl, batches.jsonl  the trace,
  *                (only with `--trace 1`).
  *
  * The caller times session bring-up as the time to `READY`.
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1 --k K
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = graft.Sessions.local("perfbench")
    spark.sessionState.conf // extensions and catalog are built here
    println("READY")
    Console.out.flush()
    val out = a("out")
    new File(out).mkdirs()
    val traced = a.get("trace").contains("1")
    if (traced) spark.sparkContext.addSparkListener(Trace.JobListener)
    val w = new Workloads(spark, a("data"), out, a("seconds").toDouble, traced,
      a("k").toInt)
    val result =
      try a("workload") match {
        case "topic_model" => w.topicModel()
        case "crawl_admit" => w.crawlAdmit()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally Trace.enable(false)
    Json.write(s"$out/result.json", result ++ Map(
      "peak_rss_mb" -> Workloads.peakRssMb(), "traced" -> traced))
    if (traced) Trace.write(out)
    spark.stop()
  }
}

/** Per-repetition bookkeeping shared by the workloads. */
final class RepLog {
  val reps = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** Run one engine call, counting it; a throw counts as a failure. */
  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        failures += s"$name: $e"
        None
    }
  }

  /** Record an output check; a false check counts as a failed operation. */
  def check(name: String, ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch { case scala.util.control.NonFatal(e) =>
      failures += s"check $name: $e"; false }
    if (!r) { failed += 1; failures += s"check $name failed" }
    r
  }

  def summary: Map[String, Any] = Map("reps" -> reps.toSeq,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq)
}
