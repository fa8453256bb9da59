package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** The machinery every registry-driving entry point shares (Bench,
  * Verify, Tool): session bring-up, the warm-up scan, the name-sorted
  * registry walk with its family-boundary release, the per-run scratch
  * release, the listener-bus drain and the per-call-site stage tally. */
object Harness {

  /** The engine's local session: `local[SPARK_GRAFT_CPUS]`, default 4.
    * Every entry point reads the thread count here, so a plan dumped or
    * profiled by a tool is partitioned like the one Verify ran. */
  def session(appName: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder().master(s"local[$cpus]")
    val spark = Sessions.configure(appName.fold(b)(b.appName), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The corpus directory of `Bench` and the tools when no argument or
    * `SPARK_GRAFT_SF_DIR` names one. */
  private[graft] val DefaultSfDir = "/root/testdata/sf0.1"

  def sfDirFromEnv: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)

  /** One tiny scan + noop write initializes the parquet reader, file
    * index, codegen compiler and write path once, so the bring-up cost
    * is not billed to whichever query runs first. Fatal errors (OOM,
    * linkage) propagate; only expected setup noise is eaten. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").format("noop").save()
    catch { case NonFatal(e) =>
      System.err.println(s"[harness] warm-up failed (continuing): $e")
    }

  /** Walk the registry in name order, calling `run` on every query
    * `keep` admits. The registry is a hash map: name order makes each
    * one-letter family contiguous, so the boundary release fires once
    * per family instead of between most queries.
    *
    * At a family boundary the finished family's pinned materializations
    * and streaming memory sinks have no future consumer; left resident
    * they squeeze the later families' share of the unified memory pool
    * (t04/t05/t09, which pin nothing, ran 3-5x slower at the end of a
    * sweep than standalone). A family whose first query re-triggers a
    * shared build re-bills that build to its own first run.
    * `familyDone` runs before the release (and after the last family),
    * `familyStart` after it. */
  def sweep[A](spark: SparkSession, keep: String => Boolean,
      familyDone: String => Unit = _ => (),
      familyStart: String => Unit = _ => ())(
      run: (String, (SparkSession, String) => DataFrame) => A): Seq[A] = {
    var prevFam = ""
    val out = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keep(name) }
      .map { case (name, fn) =>
        val fam = name.take(1)
        if (prevFam.nonEmpty && fam != prevFam) {
          familyDone(prevFam)
          releaseFamily(spark)
          familyStart(fam)
        }
        prevFam = fam
        run(name, fn)
      }
    if (prevFam.nonEmpty) familyDone(prevFam)
    out
  }

  /** Drop every session-shared materialization and memory sink. */
  def releaseFamily(spark: SparkSession): Unit = {
    graft.api.Intermediates.releaseAll(spark)
    graft.streaming.EventStreams.releaseSinks(spark)
    spark.catalog.clearCache()
  }

  /** Release a run's scratch state: localCheckpoint blocks stay resident
    * until their RDD is GC'd, and accumulated checkpoints degrade later
    * heavy queries in a shared session. Intermediates-pinned RDDs are
    * the session-shared materializations and are kept: unpersisting a
    * localCheckpoint loses its only copy, and later runs reuse them. */
  def releaseScratch(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.api.Intermediates.isPinned(spark, id) }
      .values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Block until every posted listener event is delivered. The bus is
    * package-private but public in bytecode; if the internal moves this
    * degrades to a no-op, and a trailing stage's metrics land in the
    * next snapshot instead. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    scala.util.Try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    }
    ()
  }

  /** Completed-stage metrics keyed by call site ("op at File.scala:123"):
    * wall time, stage and task counts and shuffle bytes, plus the job
    * count. Bench diffs the running shuffle totals at query boundaries;
    * `Tool profile` resets it per run and prints the table. Drain the
    * bus before reading: delivery is asynchronous. */
  final class StageTally extends SparkListener {
    private final class Site(val name: String) {
      var ms, shuffleRead, shuffleWrite = 0L
      var n, tasks = 0
    }
    private val sites = mutable.LinkedHashMap.empty[String, Site]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private var jobs = 0
    private var jobMs = 0L
    private var read = 0L
    private var write = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobMs += (e.time - t0).max(0L))
    }
    override def onStageCompleted(
        e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val key = i.name.takeWhile(_ != '+').trim
      val s = sites.getOrElseUpdate(key, new Site(key))
      s.n += 1
      s.tasks += i.numTasks
      s.ms += (for (a <- i.completionTime; b <- i.submissionTime)
        yield (a - b).max(0L)).getOrElse(0L)
      val m = i.taskMetrics
      if (m != null) {
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
      }
    }

    /** Shuffle (read, write) bytes since construction or the last reset. */
    def snapshot(): (Long, Long) = synchronized((read, write))

    def reset(): Unit = synchronized {
      sites.clear(); jobStart.clear()
      jobs = 0; jobMs = 0L; read = 0L; write = 0L
    }

    /** The 40 costliest call sites, slowest first (shuffle in KiB). */
    def report(): String = synchronized {
      val sb = new StringBuilder
      sb.append(f"  jobs=$jobs jobTimeSum=${jobMs / 1e3}%.2fs " +
        f"stageTimeSum=${sites.values.map(_.ms).sum / 1e3}%.2fs\n")
      sites.values.toSeq.sortBy(-_.ms).take(40).foreach { s =>
        sb.append(f"  ${s.ms / 1e3}%7.2fs  n=${s.n}%-4d tasks=${s.tasks}%-5d " +
          f"shR=${s.shuffleRead / 1024}%-8d shW=${s.shuffleWrite / 1024}%-8d " +
          s"${s.name.take(110)}\n")
      }
      sb.toString
    }
  }
}
