package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark process: spans the driver opens around
  * each public engine call, plus the Spark jobs, stages and streaming
  * micro-batches that ran while tracing was on. Nothing is written until
  * [[Trace.write]] at the end of the run.
  *
  * Jobs find their span through the `perfbench.span` local property, which
  * Spark copies onto every job submitted from the span's thread (and from
  * threads that thread starts). Stages keep Spark's own call site, from
  * which the report assigns each stage to an engine layer.
  */
object Trace {
  val SpanProperty = "perfbench.span"

  private val on = new AtomicBoolean(false)
  def enabled: Boolean = on.get
  def enable(b: Boolean): Unit = on.set(b)

  final case class Span(id: Int, name: String, layer: String, rep: String,
                        parent: Int, start: Long, var end: Long = -1L)

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var rep = ""
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  def startRep(id: String): Unit = rep = id

  /** Time `body` as span `name` of `layer` (a no-op when tracing is off). */
  def span[T](spark: org.apache.spark.sql.SparkSession, name: String,
              layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProperty)
      val s = Span(spans.size, name, layer, rep,
        stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Scheduler events → job and stage records. */
  object JobListener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    private val taskFailures = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse("-1")
        jobStart.put(e.jobId, (System.nanoTime(), span, e.stageIds))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStart.remove(e.jobId)
      if (st != null) jobs.add(Map(
        "job" -> e.jobId, "span" -> st._2.toInt, "start" -> st._1,
        "end" -> System.nanoTime(), "stages" -> st._3,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.reason != org.apache.spark.Success)
        taskFailures.merge(e.stageId, 1, (a: Int, b: Int) => a + b)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        val i = e.stageInfo
        val m = i.taskMetrics
        val base = Map[String, Any](
          "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "name" -> i.name, "details" -> i.details, "tasks" -> i.numTasks,
          "failed" -> i.failureReason.isDefined,
          "task_failures" -> Option(taskFailures.remove(i.stageId)).map(_.intValue).getOrElse(0),
          "submitted_ms" -> i.submissionTime.getOrElse(0L),
          "completed_ms" -> i.completionTime.getOrElse(0L))
        stages.add(if (m == null) base else base ++ Map(
          "executor_run_ms" -> m.executorRunTime,
          "executor_cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          // file scans, as opposed to reads of cached or checkpointed blocks
          "scan" -> i.rddInfos.exists(_.name.startsWith("FileScanRDD")),
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
      }
  }

  /** Stream progress → one record per micro-batch. Registered through
    * `spark.sql.streaming.streamingQueryListeners`, so it also sees the
    * queries of sessions the engine clones from the benchmark's session. */
  class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        batches.add(Map("rep" -> rep, "query" -> p.name, "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "checkpoint_bytes" -> graft.streaming.EphemeralCheckpoints.bytesHeld,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "rep" -> s.rep,
    "parent" -> s.parent, "start" -> s.start, "end" -> s.end))

  def write(dir: String): Unit = {
    Json.writeLines(s"$dir/spans.jsonl", spansJson)
    Json.writeLines(s"$dir/jobs.jsonl", jobs.asScala.toSeq)
    Json.writeLines(s"$dir/stages.jsonl", stages.asScala.toSeq)
    Json.writeLines(s"$dir/batches.jsonl", batches.asScala.toSeq)
  }
}

/** JSON files of the maps and sequences the driver records. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)

  def writeLines(path: String, vs: Seq[Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      vs.map(v => mapper.writeValueAsString(v) + "\n").mkString)
}
