package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import scala.util.control.NonFatal

/** Structured Streaming surface (SURVEY §2.12): the reference is strictly
  * batch, but its chunk-file protocol (process chunks independently,
  * consolidate later, resume after failure — ref
  * 01_extract_features.R:479-495) is exactly what `readStream` +
  * checkpointed `writeStream` gives for free. These are the streaming
  * variants of the batch event operators (q15 hourly window, q17
  * sessionization) plus watermarked stateful dedup.
  *
  * All transforms take an unbounded DataFrame and stay engine-agnostic:
  * the same plan runs batch (tests compare against the batch analog) or
  * continuous. State is bounded by watermarks — at cluster scale the
  * windowed aggregations shuffle on (window, key) and expire state as
  * the watermark advances, so memory is O(active windows), not O(stream).
  */
object EventStreams {

  /** Streaming scan of one generated parquet table under `dir` (new
    * files discovered per micro-batch; schema from a batch peek —
    * streaming sources require one up front). Both on-disk layouts
    * stream: a bare `<name>.parquet` FILE (the generated corpus) needs
    * a directory scan glob-filtered to that name, while a
    * `<name>.parquet/` DIRECTORY of part files (any Spark-written
    * copy, e.g. the scale probe's blow-up) is the stream path itself —
    * the filename filter would silently exclude every part-*.parquet
    * and the source would read ZERO rows (the r13 s25 catch). ONE
    * dispatch for events/documents/embeddings so the hazard can only
    * ever be fixed in one place (r14 review). NO column normalization
    * happens here — readers with typed columns wrap it themselves
    * ([[readEvents]]' ts dispatch). */
  private def streamTable(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    // schema peek through the session's reader-plan memo (optimization
    // r20, guide §6): a bare spark.read.parquet here re-listed the dir
    // and re-read footers on EVERY drain start — one driver job per
    // streaming run; the memoized analyzed plan answers the schema
    // without touching storage again
    val schema = graft.sources.Tables(spark, dir,
      name.stripSuffix(".parquet")).schema
    if (new java.io.File(s"$dir/$name").isDirectory)
      spark.readStream.schema(schema).parquet(s"$dir/$name")
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", name).parquet(dir)
  }

  /** Streaming scan of the events table. The on-disk `ts` encoding
    * (nano-epoch long, TIMESTAMP_NTZ, or TIMESTAMP) is normalized to
    * TimestampType by the same dispatch as the batch reader
    * ([[graft.sources.Tables.normalizeEventTime]]), so watermarks see
    * event-time regardless of which producer wrote the file. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.normalizeEventTime(
      streamTable(spark, dir, "events.parquet"))

  /** Streaming form of q15: tumbling hourly counts per event type.
    * Late data beyond 2 hours is dropped; closed windows emit finals in
    * append mode. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked stateful dedup on event_id: duplicates arriving within
    * the watermark horizon collapse to the first occurrence; state for
    * ids older than the watermark is dropped (bounded memory — the 100 TB
    * answer to "exact dedup over an infinite stream is impossible").
    * `horizon` is the replay window a deployment promises to absorb —
    * 1 hour is the production default; the s05 parity row widens it past
    * the corpus span (see [[streamDedup]]). */
  def dedupEvents(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming form of q17: session windows with a 30-minute inactivity
    * gap per user (the native session_window operator replaces the batch
    * lag-compare; state closes when the watermark passes the gap). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val lastSink =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Ceiling on streaming state width — see [[streamSession]]. */
  private val StreamStateMaxPartitions = 8

  // weak keys: a stopped/discarded parent session (and with it the
  // clone + its catalog, which pins the last memory-sink result rows on
  // the driver) must stay collectable — a strong map would retain every
  // session a long-lived JVM ever created. synchronizedMap's
  // computeIfAbsent is atomic; contention is nil (harness is sequential).
  private val streamSessionCache: java.util.Map[SparkSession, SparkSession] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Dedicated cloned session (shared SparkContext, isolated SQLConf)
    * for the streaming parity rows. Stateful streaming queries
    * materialize one state store per shuffle partition per stateful
    * operator — pure bring-up overhead for these bounded runs — so the
    * clone CAPS (never widens) `spark.sql.shuffle.partitions` at
    * [[StreamStateMaxPartitions]], the sizing decision a deployment
    * makes at checkpoint creation. Capping at session scope replaces
    * the previous set/restore of the CALLER's global conf: a batch
    * query planned concurrently (PackOps' prefix scan reads that conf
    * for its partition count) can no longer observe the narrowed
    * width. One clone per parent session, memoized, so memory-sink
    * temp views stay in one catalog and [[memorySink]]'s
    * predecessor-dropping keeps working. */
  private def streamSession(parent: SparkSession): SparkSession =
    streamSessionCache.computeIfAbsent(parent, p => {
      val ss = p.newSession()
      val cap = math.min(
        scala.util.Try(ss.conf.get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(StreamStateMaxPartitions),
        StreamStateMaxPartitions)
      ss.conf.set("spark.sql.shuffle.partitions", cap.toString)
      // JVM-transient checkpoints through the in-memory manager (see
      // EphemeralCheckpoints for why this is semantics-preserving for
      // every checkpoint this engine creates, and the opt-out for
      // deployments with durable checkpoint storage)
      if (scala.util.Try(
          p.conf.get("spark.graft.streaming.ephemeralCheckpoints"))
          .getOrElse("true").toBoolean)
        ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
          classOf[EphemeralCheckpointFileManager].getName)
      ss
    })

  /** Drop every retained memory-sink table in the parent's stream-clone
    * catalog. Each sink holds its full result rows on the driver and is
    * invisible to `clearCache` (it is a temp view over an in-memory
    * relation, not a cached plan), so a long sweep otherwise carries one
    * result set per streaming query to the end of the run. The harness
    * calls this at query-family boundaries — by then the results have
    * been fully materialized into the round's artifacts and the views
    * have no future reader. The clone session itself is kept (it is only
    * a conf holder; re-running a streaming query re-creates its sink). */
  def releaseSinks(parent: SparkSession): Unit = {
    val clone = streamSessionCache.get(parent)
    if (clone != null) {
      lastSink.values.forEach(v => clone.catalog.dropTempView(v))
      lastSink.clear()
      clone.catalog.clearCache()
    }
    // orphan sweep: [[drain]]'s per-query unload covers the normal
    // path; this catches providers of drains that died before their
    // unload ran, on any session. Scoped to the runIds the drain issued:
    // loadedProviders is process-global, so a liveness-only filter
    // would unload a live stateful query started outside the drain (a
    // test session, a second parent) mid-batch. Liveness is unioned
    // across EVERY (parent, clone) pair this helper has ever served —
    // not just the sweeping caller's — so a concurrent drain on a
    // second parent is live here too, not a false orphan.
    // Issued-and-not-active is then exact: foreign queries are never
    // touched, our live queries on any session survive, and a
    // died-before-unload drain of ours is still reclaimed.
    val sessions = {
      val b = Seq.newBuilder[SparkSession]
      streamSessionCache.synchronized {
        streamSessionCache.forEach((p, c) => { b += p; b += c })
      }
      (b.result() :+ parent).distinct
    }
    val active = sessions.flatMap(_.streams.active.map(_.runId)).toSet
    loadedProviderIds.filter(id => issuedRunIds.contains(id.queryRunId) &&
        !active.contains(id.queryRunId))
      .foreach(unloadProvider)
    // ephemeral-checkpoint leftovers: [[drain]] drops a temp checkpoint
    // itself, so what is still held here is a named checkpoint (kept on
    // purpose until now) or one of a query that died before its drop —
    // reclaimable once nothing is active
    if (active.isEmpty) EphemeralCheckpoints.clear()
  }

  /** Every streaming runId [[drain]] ever started in this JVM — the
    * exact scope of the orphan sweep above. */
  private val issuedRunIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  /** Per-provider state-store unload: a finished query's providers are
    * identified by the provider id's `queryRunId` — exact, no
    * checkpoint-path normalization — and only THOSE are closed and
    * removed. Concurrent streaming queries are untouched
    * (spec-pinned: EventStreamsSpec runs two live stateful streams,
    * finishes one, and the other's providers stay loaded and
    * progressing), so the helper is deployment-safe. Left loaded, a
    * long sweep otherwise accumulates dozens of orphaned providers
    * whose in-memory maps hold heap and whose 60-second maintenance
    * cycle snapshots dead state while later queries are being timed.
    * The shared maintenance thread is left running (it idles over zero
    * partitions between queries) — stopping it is a teardown decision,
    * not a between-queries reset.
    *
    * Provider enumeration reads Spark's private `loadedProviders` map
    * reflectively (the public API can unload a known id via
    * `removeFromLoadedProvidersAndClose` but cannot list ids); the
    * lookup is resolved once and falls back to the coarse global
    * `stop()` if a Spark upgrade renames the member — never silently
    * leaking. */
  private[graft] def unloadProvidersOf(runId: java.util.UUID): Unit =
    loadedProviderIds.filter(_.queryRunId == runId).foreach(unloadProvider)

  private def unloadProvider(
      id: org.apache.spark.sql.execution.streaming.state.StateStoreProviderId)
      : Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore
      .removeFromLoadedProvidersAndClose(id)

  private lazy val loadedProvidersAccessor: Option[java.lang.reflect.Method] =
    try {
      val m = org.apache.spark.sql.execution.streaming.state.StateStore
        .getClass.getDeclaredMethod("loadedProviders")
      m.setAccessible(true)
      Some(m)
    } catch { case _: ReflectiveOperationException => None }

  private[graft] def loadedProviderIds: Seq[
      org.apache.spark.sql.execution.streaming.state.StateStoreProviderId] = {
    val store = org.apache.spark.sql.execution.streaming.state.StateStore
    loadedProvidersAccessor match {
      case Some(m) =>
        val map = m.invoke(store).asInstanceOf[scala.collection.mutable.HashMap[
          org.apache.spark.sql.execution.streaming.state.StateStoreProviderId, _]]
        map.synchronized { map.keys.toSeq }
      case None =>
        // accessor gone (Spark upgrade): coarse fallback, loudly coarse
        store.stop()
        Seq.empty
    }
  }

  /** The root of `q`'s checkpoint if Spark created it as a temp
    * checkpoint (the writer named no `checkpointLocation` — the memory
    * sinks); None for a checkpoint the caller named. Read reflectively
    * (wrapper → StreamExecution's `deleteCheckpointOnStop`, the flag
    * Spark itself deletes by); a miss reads as named, which leaves the
    * entries to the family-boundary clear. */
  private[graft] def tempCheckpoint(q: StreamingQuery): Option[String] =
    try {
      val exec = q.getClass.getMethod("streamingQuery").invoke(q)
        .asInstanceOf[StreamExecution]
      val temp = classOf[StreamExecution].getDeclaredField("deleteCheckpointOnStop")
      temp.setAccessible(true)
      Option.when(temp.getBoolean(exec))(exec.resolvedCheckpointRoot)
    } catch { case _: ReflectiveOperationException => None }

  /** The one bounded drain: every streamed row's query starts and
    * finishes here, in these steps:
    *
    *  - Each writer gets `Trigger.AvailableNow` (drain what the source
    *    holds now, then stop) and is started, in order, on the
    *    caller's thread.
    *  - Its runId is issued to [[releaseSinks]]' orphan sweep at once,
    *    so a query that dies later is still reclaimed.
    *  - Each query is then awaited in turn; a failed one throws here,
    *    its providers left to the orphan sweep. When a start or an
    *    await throws, every other query of the call is stopped, awaited,
    *    unloaded and released as below before the first failure is
    *    rethrown, so none keeps running unawaited.
    *  - Its state providers are unloaded ([[unloadProvidersOf]]) before
    *    the caller's timing window closes.
    *  - A checkpoint Spark created as a temp checkpoint (the writer
    *    named no `checkpointLocation`: the memory sinks) is dropped
    *    from [[EphemeralCheckpoints]]. Spark deletes it too, but in the
    *    stream thread's cleanup AFTER the await returns; dropping here
    *    keeps the in-memory namespace from carrying a race-lost subtree
    *    to the family boundary. A checkpoint the caller named (s11,
    *    s16, s22, s26, s28, s30, [[pointerFlipDrain]]) is KEPT until
    *    the family boundary: a re-run over it resumes from its
    *    committed offsets and commits no new data batch — s11's
    *    idempotent re-run.
    *  - The finished queries come back in writer order; each one's
    *    `recentProgress` is its per-batch record.
    *
    * Several writers drain concurrently (guide §2.6 — overlap
    * independent jobs: the admission rows' gate drains read separate
    * sources into separate sinks, so started together one drain's
    * bring-up and straggler gaps are back-filled by the others'; each
    * sink is a function of its own source only, and Spark schedules
    * the jobs FIFO). */
  private[graft] def drain(writers: DataStreamWriter[_]*): Seq[StreamingQuery] = {
    val qs = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    def finish(q: StreamingQuery): Unit = {
      q.awaitTermination()
      unloadProvidersOf(q.runId)
      tempCheckpoint(q).foreach(EphemeralCheckpoints.drop)
    }
    var failed: StreamingQuery = null
    try {
      writers.foreach { w =>
        val q = w.trigger(Trigger.AvailableNow()).start()
        issuedRunIds.add(q.runId)
        qs += q
      }
      qs.foreach { q => failed = q; finish(q); failed = null }
      qs.toSeq
    } catch { case NonFatal(first) =>
      def quietly(body: => Unit): Unit =
        try body catch { case NonFatal(e) => first.addSuppressed(e) }
      qs.filterNot(_ eq failed).foreach { q => quietly(q.stop()); quietly(finish(q)) }
      throw first
    }
  }

  /** A memory-sink writer for [[drain]]. Sink names are counter-suffixed
    * so repeated runs never collide, and the PREVIOUS run's sink of the
    * same prefix is dropped first: memory sinks hold their full result
    * in driver memory and are invisible to `clearCache`. Dropping only
    * the predecessor is safe — by the time a query re-runs, the prior
    * run's result has been fully materialized by the harness. */
  private def memorySink(df: DataFrame, mode: String, prefix: String)
      : DataStreamWriter[Row] = {
    val name = s"${prefix}_${sinkCounter.incrementAndGet()}"
    Option(lastSink.put(prefix, name)).foreach(df.sparkSession.catalog.dropTempView(_))
    df.writeStream.outputMode(mode).format("memory").queryName(name)
  }

  /** A drained memory sink as a batch table. */
  private def table(q: StreamingQuery): DataFrame = q.sparkSession.table(q.name)

  /** Drive one streaming transform to completion into a memory sink and
    * return the drained table. */
  private[graft] def runToMemory(df: DataFrame, mode: String, prefix: String)
      : DataFrame =
    table(drain(memorySink(df, mode, prefix)).head)

  /** s02 — the streaming CORRECTNESS row: [[hourlyCounts]] driven to
    * completion over the events table with `Trigger.AvailableNow` into an
    * in-memory sink, then emitted as a batch DataFrame in q15's exact
    * shape — stream/batch parity under the harness oracle, not just in
    * spec. Complete output mode gives full batch parity (append would
    * withhold every window the final watermark hasn't passed — the last
    * ~2 hours of data); the append/watermark deployment semantics are
    * pinned in EventStreamsSpec. The sink name is counter-suffixed so
    * repeated bench runs in one session never collide. */
  def streamHourly(s: SparkSession, d: String): DataFrame =
    runToMemory(hourlyCounts(readEvents(streamSession(s), d)),
        "complete", "s02_stream_hourly")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Identical oracle to q15: the stream must reproduce the batch
    * aggregation exactly. */
  private val streamHourlySql =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** s04 — the second streaming CORRECTNESS row: [[userSessions]]
    * (native `session_window`, 30-minute gap) driven to completion with
    * `Trigger.AvailableNow` into a memory sink, emitted as
    * (user_id, session start in epoch micros, n_events) — one row per
    * SESSION, finer than q17's per-user rollup. Complete mode keeps all
    * session state so the result equals the batch merge regardless of
    * how AvailableNow slices the input into micro-batches; the
    * append-mode watermark-eviction semantics are pinned in
    * EventStreamsSpec.
    *
    * Boundary semantics: `session_window` is gap-EXCLUSIVE (an event
    * exactly gap seconds after the previous one starts a NEW session —
    * merge requires next_start < prev_end), so the oracle's lag-compare
    * uses `>= gap`, unlike q17's reference-style inclusive compare
    * (`> gap`). The two sessionizers agree except on exact-boundary
    * gaps; each is oracle-checked against its own semantics. */
  def streamSessions(s: SparkSession, d: String): DataFrame =
    runToMemory(userSessions(readEvents(streamSession(s), d)),
        "complete", "s04_stream_sessions")
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  private val streamSessionsSql =
    """WITH x AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |      OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
      |  FROM events),
      |y AS (
      |  SELECT user_id, us,
      |    sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us
      |            ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(us) AS start_us, CAST(count(*) AS BIGINT) AS n_events
      |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  /** s05 — the third streaming CORRECTNESS row: [[dedupEvents]]
    * (`dropDuplicatesWithinWatermark`) under at-least-once delivery.
    * The corpus has no duplicate event_ids, so replay is simulated the
    * way a flaky source produces it: a second streaming scan of the
    * same table, filtered to every third event, unioned in — those
    * events arrive twice. The dedup must collapse the stream back to
    * exactly the distinct id set (the oracle): a dropped operator
    * yields ~4/3× rows and fails rows_match. Only event_id is emitted —
    * `dropDuplicates*` keeps an unspecified occurrence, and the id is
    * the only column guaranteed identical across replays. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val replay = readEvents(ss, d).filter(col("event_id") % 3 === 0)
    // Horizon wider than the corpus's 30-day span: AvailableNow may
    // split the unioned scans into multiple micro-batches at larger SFs,
    // and with the 1-hour production horizon a replay processed after
    // the watermark passed its event time would be re-emitted,
    // failing the oracle nondeterministically. For the parity row every
    // replayed duplicate must still be inside the dedup window when it
    // arrives, whatever the batch slicing — state is the full id set,
    // which is the cost of exactly-once parity over a bounded corpus.
    runToMemory(
        dedupEvents(readEvents(ss, d).unionByName(replay), horizon = "90 days")
          .select(col("event_id")),
        "append", "s05_stream_dedup")
      .orderBy(col("event_id"))
  }

  private val streamDedupSql =
    "SELECT event_id FROM events ORDER BY event_id"

  /** s06 — the fourth streaming CORRECTNESS row: SLIDING windows
    * (1-hour length, 30-minute slide) under `Trigger.AvailableNow`,
    * parity with q30's batch form. Overlapping-window state is the
    * interesting part: every event updates two window aggregates, and
    * complete mode must emit both correctly merged across however many
    * micro-batches AvailableNow slices. */
  def streamSliding(s: SparkSession, d: String): DataFrame =
    runToMemory(
        readEvents(streamSession(s), d)
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win"),
            col("n_events"), col("sum_value")),
        "complete", "s06_stream_sliding")
      .orderBy(col("win"))

  /** s07 — the fifth streaming CORRECTNESS row: a STREAM-STREAM interval
    * join (clicks ⋈ purchases by user within 30 minutes), the hardest
    * streaming primitive — both sides buffer keyed state, the event-time
    * constraint bounds it, and the two watermarks set the eviction
    * frontier. At deployment scale state is O(events inside the
    * interval × active users), sharded by the equi-join key like any
    * shuffle join. Inner stream-stream joins emit matches eagerly in
    * append mode, so AvailableNow drains the full parity set; the
    * oracle is the plain batch interval self-join. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val clicks = readEvents(ss, d).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = readEvents(ss, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    runToMemory(
        clicks.join(purchases,
            col("c_user") === col("p_user") &&
              col("p_ts") >= col("c_ts") &&
              col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("click_id"), col("purchase_id")),
        "append", "s07_stream_join")
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val streamStreamJoinSql =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.user_id = c.user_id
      |  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |  AND CAST(p.ts AS TIMESTAMP)
      |      <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  /** s10 — the custom `flatMapGroupsWithState` sessionizer
    * ([[closedSessions]], the hardest hand-written state code in the
    * engine) under the harness oracle: driven to completion with
    * `idleFlush=false`, so only sessions CLOSED by a later event are
    * emitted — each user's final session stays open in state (no
    * timeout fires under AvailableNow), which the oracle reproduces by
    * dropping each user's LAST batch session. Inclusive gap compare
    * (`≤ gap` merges), the same boundary semantics as q17's
    * reference-style sessionizer — distinct from s04's gap-exclusive
    * native `session_window`, and oracled separately. The oracle's lag
    * AND running sum share one total order (`ts, event_id`): with a
    * sec-only sum order, two same-truncated-second events straddling a
    * session boundary could tie-break the brk=1 row after its follower
    * and mis-assign the follower to the previous session — session
    * membership itself is tie-order-free (same-second gaps are 0), only
    * the two windows' order consistency matters. */
  def streamClosedSessions(s: SparkSession, d: String): DataFrame = {
    val Seq(q) = drain(memorySink(
      closedSessions(readEvents(streamSession(s), d), gapSec = 1800,
        idleFlush = false).toDF(),
      "append", "s10_closed_sessions"))
    requireOneDataBatch(q, "s10_closed_sessions")
    table(q)
      .select(col("user_id"), col("start_sec"), col("end_sec"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** s10's single-batch precondition: the sessionizer orders events
    * within each micro-batch slice only, so the batch-analog oracle is
    * valid iff the whole file source lands in ONE data micro-batch (it
    * does — one parquet file). AvailableNow is documented to split large
    * scans, and a silent multi-batch run could mis-order events across
    * batches and fail the oracle with no hint at the cause; failing
    * here names the fix. */
  private[graft] def requireOneDataBatch(q: StreamingQuery, row: String)
      : Unit = {
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches <= 1,
      s"$row: oracle assumes one data micro-batch, got $dataBatches " +
        "(AvailableNow split the scan) — pre-sort the source by ts for " +
        "this parity row or raise the per-trigger file/byte cap")
  }

  private val streamClosedSessionsSql =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec, value,
      |    lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |y AS (
      |  SELECT user_id, sec, value,
      |    sum(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x),
      |z AS (
      |  SELECT user_id, sid, min(sec) AS start_sec, max(sec) AS end_sec,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    round(sum(value), 2) AS sum_value
      |  FROM y GROUP BY user_id, sid)
      |SELECT user_id, start_sec, end_sec, n_events, sum_value
      |FROM (SELECT z.*, max(sid) OVER (PARTITION BY user_id) AS last_sid
      |      FROM z)
      |WHERE sid < last_sid
      |ORDER BY user_id, start_sec""".stripMargin

  /** s11 — the DEPLOYMENT streaming shape under the harness oracle:
    * [[hourlyCounts]] in APPEND mode through a real parquet file sink
    * with a checkpoint directory (s02's complete-mode memory sink
    * measures parity; this row exercises what production actually
    * runs). Append emits a window only once the watermark passes its
    * end, so the expected set is closed-form: windows whose end + the
    * 2-hour delay ≤ max event time — the corpus's fractional-second
    * max timestamp keeps the boundary comparison tie-free in both
    * engines. `Trigger.AvailableNow` runs a final no-data batch that
    * advances the watermark and flushes every closed window (the
    * Trigger.Once-era "last windows stuck in state" gap is exactly
    * what this oracle would catch). Re-runs in one application reuse
    * the checkpoint: the source is already committed, nothing
    * re-emits, and the read-back stays identical — idempotent restart
    * semantics, checked for free by the bench's repeat runs. */
  def streamHourlyAppend(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val dir = graft.sources.TmpDirs.artifactRoot(s, d, "s11_sink")
    val agg = hourlyCounts(readEvents(ss, d))
    drain(agg.writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk"))
    // explicit schema (the streaming plan's own): a corpus whose span
    // never closes a window leaves the sink with zero data files, and a
    // schema-inferring read would crash where the oracle cleanly
    // returns the empty set
    ss.read.schema(agg.schema).parquet(s"$dir/out")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  private val streamHourlyAppendSql =
    """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events)
      |SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
      |                '%Y-%m-%d %H') AS hour,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events, mx
      |WHERE date_trunc('hour', CAST(ts AS TIMESTAMP))
      |      + INTERVAL 3 HOUR <= m
      |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming scan of the documents table ([[streamTable]]'s
    * dispatch) — the ingest-side source for streaming dedup. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, dir, "documents.parquet")

  /** s14 — STREAMING ingest dedup (d08's steady-state exact-dedup shape
    * on the live path): the incoming document stream — novel docs plus
    * crawl re-fetches of already-stored content under fresh ids, d08's
    * exact scenario — is digest-anti-joined per micro-batch against the
    * STATIC stored digest index, emitting only novel doc ids. The
    * anti-join is d08's exact gate ([[graft.operators.Gates.exactFlags]],
    * a stream-static left-outer join) + a flag filter: STATELESS
    * (nothing buffers across batches), so the streaming plan carries
    * no state store at all and the batch oracle (d08's SQL) transfers row-for-row. This is
    * the at-ingest dedup every 100 TB pipeline runs before anything
    * else touches a new crawl shard; the stored index at scale is the
    * bucketed digest table (s12) rather than a broadcast. */
  def streamIngestDedup(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val docsStatic = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docsStatic, "doc_id"))
    val incoming = graft.operators.DedupOps.passageIncomingBatch(
      readDocuments(ss, d).select(col("doc_id"), col("text")), off)
    val novel = graft.operators.Gates.exactFlags(incoming,
        graft.operators.Gates.ledger(docsStatic.filter(col("doc_id") % 2 === 0)))
      .filter(!col("exact"))
      .select(col("doc_id"))
    runToMemory(novel, "append", "s14_stream_ingest_dedup")
      .orderBy(col("doc_id"))
  }

  /** Identical oracle to d08: the stream must reproduce the batch
    * incremental dedup exactly. */
  private val streamIngestDedupSql =
    s"""WITH inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + ${graft.operators.DedupOps.plantOffsetSql(
            "doc_id", "documents")}, text
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
      |seen AS (SELECT DISTINCT md5(text) AS h FROM documents
      |         WHERE doc_id % 2 = 0)
      |SELECT doc_id FROM inc WHERE md5(text) NOT IN (SELECT h FROM seen)
      |ORDER BY doc_id""".stripMargin

  /** s19 — STREAMING corpus quality gate (c01's quality+language gates
    * on the live ingest path): the incoming document stream is scored
    * and filtered per micro-batch with the SAME shared Score
    * definitions as t04/t05/c01 — pure map-only column expressions, so
    * the streaming plan is STATELESS (no state store, no watermark; a
    * doc passes or drops on its own content) and the batch oracle
    * (the c01 gate head's SQL fragments, verbatim) transfers
    * row-for-row. This is the first gate a 100 TB streaming ingest
    * applies — upstream of dedup (s14) and enrichment (s13) — and the
    * cheapest: per-row regex/count arithmetic inside whole-stage
    * codegen, nothing shuffles until the sink. */
  def streamQualityGate(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    // the score fields carry the §4.4 anti-duplication barrier: the
    // optimizer otherwise pushes the gate predicate below this
    // projection and the ~30-pass regex chain evaluates TWICE per row
    // (measured 2.0 s/batch → 0.55 s at sf0.1; optimization r20)
    val gated = readDocuments(ss, d)
      .select(col("doc_id"),
        graft.expressions.BarrierExpressions.barrier(
          graft.operators.TextOps.Score.qualityScore).as("quality_score"),
        graft.expressions.BarrierExpressions.barrier(
          graft.operators.TextOps.Score.markerRatio).as("marker_ratio"))
      .filter(col("quality_score") >= 0.85 && col("marker_ratio") >= 0.08)
    runToMemory(gated, "append", "s19_stream_quality_gate")
      .orderBy(col("doc_id"))
  }

  private val streamQualityGateSql =
    s"""SELECT d.doc_id, q.quality_score, l.marker_ratio
      |FROM documents d
      |JOIN (${graft.operators.TextOps.docQualityInnerSql}) q
      |  ON q.doc_id = d.doc_id
      |JOIN (${graft.operators.TextOps.langGuessInnerSql}) l
      |  ON l.doc_id = d.doc_id
      |WHERE q.quality_score >= 0.85 AND l.marker_ratio >= 0.08
      |ORDER BY d.doc_id""".stripMargin

  /** s20 — STREAMING cross-modal gate (c04 at ingest, the deployment
    * split of a composed curation decision): the text-quality signal is
    * cheap per-row arithmetic computed ON the stream (s19's posture),
    * while the expensive corpus-context signals — d15's duplicated-
    * passage fraction and e11's embedding-outlier verdict — are
    * PRECOMPUTED static relations joined per micro-batch (s13's
    * stateless stream-static posture; at 100 TB they are s12-bucketed
    * index tables maintained by their own jobs, not broadcasts — so the
    * joins carry NO broadcast hint: the planner is free to broadcast
    * them at test scale, and at corpus scale they plan as ordinary
    * shuffled stream-static equi-joins instead of pinning a
    * corpus-sized relation into every executor per micro-batch (the
    * r10 advisory's point). The emitted table is c04's row-for-row —
    * same columns, same left-join anchoring on the document stream,
    * same keep conjunction with the same missing-signal defaults — so
    * the batch c04 oracle transfers verbatim and the parity proves the
    * composed gate survives the batch→streaming split without semantic
    * drift. */
  def streamCrossModalGate(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val p = graft.operators.DedupOps.passageDupFraction(ss, d)
      .select(col("doc_id"), col("dup_frac"))
    val e = graft.operators.EmbeddingOps.embeddingOutliers(ss, d)
      .select(col("vec_id").as("doc_id"), col("cos_centroid"),
        col("is_outlier"))
    val gated = readDocuments(ss, d)
      .select(col("doc_id"),
        graft.operators.TextOps.Score.qualityScore.as("quality_score"))
      .join(p, Seq("doc_id"), "left")
      .join(e, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_score"),
        coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"),
        col("cos_centroid"),
        (col("quality_score") >= 0.85 &&
          coalesce(col("dup_frac"), lit(0.0)) <= 0.5 &&
          coalesce(col("is_outlier"), lit(1)) === 0).cast("int").as("keep"))
    runToMemory(gated, "append", "s20_stream_gate")
      .orderBy(col("doc_id"))
  }

  /** s13 — stream-static enrichment join, the at-ingest dimension
    * lookup every deployment runs (events → customer segment here;
    * doc → license/source metadata in a training-data ingest): the
    * event stream inner-joins a BATCH dimension relation broadcast per
    * micro-batch (stateless — neither side buffers join state, unlike
    * the stream-stream s07), then aggregates per segment in complete
    * mode. The oracle is the identical batch join+agg. At 100 TB the
    * dimension is broadcast-sized by definition (segments, licenses,
    * languages); a data-scale dimension would bucket at ingest (s12)
    * instead. */
  def streamEnriched(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val dim = graft.sources.Tables.customer(ss, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = readEvents(ss, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("value"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    runToMemory(joined, "complete", "s13_stream_enriched")
      .orderBy(col("segment"))
  }

  private val streamEnrichedSql =
    """SELECT c.c_mktsegment AS segment, count(*) AS n_events,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY 1 ORDER BY segment""".stripMargin

  /** s24 — STREAMING as-of enrichment (the temporal family's
    * deployment shape, r12 verdict ask #5): each purchase arriving on
    * the stream is matched to the VERSION of its user's dimension in
    * force at its event time. The dimension is q35's view history
    * materialized as VALIDITY-INTERVAL rows — a batch window turns
    * each view into (user_id, view_id, valid_from = its time,
    * valid_to = the next view's time, exclusive; +infinity for the
    * current version). Equal-timestamp views leave the earlier id an
    * EMPTY interval, so the later id wins — exactly q35's
    * (us DESC, event_id DESC) tie-break. The stream then LEFT-joins
    * the static intervals per micro-batch on user_id with the
    * containment predicate — the planner keys the hash join on
    * user_id and applies the range as the join residual — which by
    * construction matches AT MOST ONE version per event: stateless
    * (s13/s19's posture — no stream-stream state, no watermark, no
    * stream-side window), and batching-insensitive (every micro-batch
    * joins the same static relation, so AvailableNow's slicing cannot
    * change the result — no single-batch precondition needed). A
    * match older than q35's 2 h tolerance nulls the enrichment but
    * keeps the event row (left-outer semantics).
    *
    * The emitted relation is q35's exactly — same columns, same
    * tie-break, same tolerance nulling — so [[graft.operators.TemporalOps.asofViewsSql]]
    * transfers VERBATIM and the parity proves the backward as-of
    * survives the batch→streaming split (EventStreamsSpec additionally
    * pins row-for-row agreement with the batch q35 operator).
    *
    * 100 TB shape: the interval dimension is corpus-sized — at
    * deployment an s12-bucketed table maintained by its own job (the
    * s20 discipline: NO broadcast hint; the planner may broadcast at
    * test scale), re-joined per micro-batch with state bounded by the
    * batch. */
  def streamAsofEnrich(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val tol = 2L * 3600 * 1000000
    val vw = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val dim = graft.sources.Tables.events(ss, d)
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("valid_to",
        coalesce(lead(col("us"), 1).over(vw), lit(Long.MaxValue)))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("us").as("valid_from"), col("valid_to"))
    val purchases = readEvents(ss, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value"), 2).as("purchase_value"))
    val joined = purchases.join(dim,
        purchases("user_id") === dim("user_id") &&
          col("us") >= col("valid_from") && col("us") < col("valid_to"),
        "left")
      .select(col("event_id"), purchases("user_id"), col("purchase_value"),
        when(col("us") - col("valid_from") <= tol, col("view_id"))
          .as("view_id"),
        when(col("us") - col("valid_from") <= tol,
          (col("us") - col("valid_from")) / lit(1000000L))
          .cast("long").as("gap_s"))
    runToMemory(joined, "append", "s24_stream_asof")
      .orderBy(col("event_id"))
  }

  /** s25 — STREAMING decontamination (d09's deployment split: the
    * benchmark-leak check runs AT INGEST, before a contaminated doc
    * can enter an export, not as a batch sweep after the fact): the
    * incoming corpus — novel docs plus d09's planted eval-set leaks
    * under fresh crawl ids — arrives as a document STREAM and is
    * 5-gram-shingle-joined per micro-batch against the STATIC eval-set
    * shingle index (broadcast: eval sets are benchmark-sized by
    * definition, the one join in the dedup family that is legitimately
    * broadcast at 100 TB). The join is stateless; the per-doc distinct
    * hit roll-up runs in complete mode as the parity harness (a
    * deployment emits per-batch hit increments in append mode into a
    * downstream sum instead — the gate decision only needs hits > 0,
    * which any single batch already proves). d09's oracle transfers
    * verbatim: same planted leaks, same shingle definition, same
    * hit counts. */
  def streamDecontaminate(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val batchDocs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(batchDocs, "doc_id"))
    val stream = readDocuments(ss, d).select(col("doc_id"), col("text"))
    val incoming = stream.filter(col("doc_id") % 97 =!= 0)
      .unionByName(stream.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))
    // d09's gate verbatim: its in-row distinct makes the roll-up a
    // plain count, which a stream allows (countDistinct it forbids)
    val hits = graft.operators.Gates.gramHits(incoming,
      graft.operators.Gates.evalGrams(
        batchDocs.filter(col("doc_id") % 97 === 0)))
    runToMemory(hits, "complete", "s25_stream_decon")
      .orderBy(col("doc_id"))
  }

  /** Streaming scan of the embeddings table ([[streamTable]]'s
    * dispatch) — the ingest-side source for streaming index
    * maintenance. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, dir, "embeddings.parquet")

  /** One s26 micro-batch: [[graft.api.IvfStore.appendBatch]] — the
    * loaded quantizer's own assignment (no refit, e15's
    * structural-twin discipline) published through ExportCommit's
    * atomic manifest, so a replayed batchId is detected and its
    * re-staged dir deleted instead of committed (the s22 protocol
    * applied to the index artifact; the replay spec proves no
    * double-append). ONE maintenance API shared with e20's batch
    * compaction path. */
  private[graft] def appendIndexBatch(root: String,
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      model: org.apache.spark.ml.clustering.KMeansModel): Unit =
    graft.api.IvfStore.appendBatch(root, batch.toDF(), batchId, model)

  /** s26 — STREAMING index append (e15 on the live path: a
    * continuously-crawling pipeline's vectors arrive as a stream and
    * must reach the STORED IVF index without a refit): the base-corpus
    * index is persisted through [[graft.api.IvfStore]]
    * (e14's artifact), the increment — the id-shifted planted copy —
    * arrives as a vector STREAM, and each micro-batch is appended to
    * the store via [[appendIndexBatch]] (loaded-quantizer assignment +
    * ExportCommit's atomic manifest versioning, exactly-once under
    * replay). After the drain, e13's whole batch is served against
    * loaded-index ∪ committed-appends through the SAME
    * batchServeAgainst kernel — e13's closed-form oracle transfers
    * verbatim (the e15 argument: identical vectors through the
    * identical deterministic assignment land in their originals'
    * cells, so every query's twin is probe-reachable at cosine 1.0).
    *
    * 100 TB shape: per micro-batch, increment × broadcast centers plus
    * one staged parquet write — the increment never joins the corpus;
    * the manifest read plans a union over committed batch dirs (at
    * deployment, periodic compaction folds them into the bucketed
    * `assigned/` relation — s17's job). */
  def streamIndexAppend(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps.{sharedIndex, Geometry}
    val ss = streamSession(s)
    val shared = sharedIndex(ss, d, Geometry.Base)
    val off = shared.off
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s26")
    val baseDir = graft.api.IvfStore.versionedDir(
      root, shared.cells, java.time.LocalDate.ofEpochDay(0))
    // base store = the append's input, billed once (e15/d25's guard)
    graft.api.IvfStore.saveOnce(baseDir, shared.index)
    val loaded = graft.api.IvfStore.load(ss, baseDir)
    val appendRoot = s"$root/append"
    val stream = readEmbeddings(ss, d)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    drain(stream.writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        appendIndexBatch(appendRoot, batch, batchId, loaded.model))
      .option("checkpointLocation", s"$root/chk"))
    val full = graft.operators.EmbeddingOps.IvfIndex(
      loaded.assigned
        .select(col("vec_id"), col("embedding"), col("features"), col("cell"))
        .unionByName(graft.api.IvfStore.committedAppends(ss, appendRoot)),
      loaded.model)
    graft.operators.EmbeddingOps.batchServeAgainst(full, off)
  }

  /** s28 — STREAMING PQ-CODED index append (s26 composed with the e17
    * artifact: a PQ serving fleet's live maintenance path keeps the
    * COMPRESSED corpus current, not just the raw one): the base
    * corpus's full IVF-PQ artifact (coarse quantizer + per-subspace
    * codebooks + corpus codes) is persisted through
    * [[graft.api.IvfStore.savePq]]; the increment arrives as a vector
    * STREAM, and each micro-batch is coarse-assigned by the LOADED
    * quantizer AND PQ-encoded by the LOADED codebooks
    * ([[graft.api.IvfStore.appendPqBatch]] — no refit of either
    * stage, both through ExportCommit's atomic manifest, so a
    * replayed batchId can never double-code a vector). After the
    * drain, e16's whole batch is ADC-served against loaded codes ∪
    * committed appended codes through the SAME [[graft.operators
    * .EmbeddingOps.adcServe]] kernel. The closed form carries through
    * BOTH quantized stages structurally: an identical vector through
    * the identical deterministic coarse assignment lands in its
    * original's cell, through the identical per-subspace codebook
    * assignment gets its original's FULL code, and the query's own
    * code achieves the LUT's per-subspace minimum — so every query's
    * top-1 is its appended twin, e16's oracle verbatim.
    *
    * 100 TB shape: per micro-batch the increment meets only broadcast
    * centers and kilobyte codebooks, and the committed rows are M
    * small ints per vector (the compressed corpus IS what ships);
    * the serve side is e16's codes-only scoring join. */
  def streamPqAppend(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    // the SAME base-posture build e23's compaction row runs: quantizer
    // + codebooks trained on the shipped corpus
    val (index, pq, codes, off) = graft.operators.EmbeddingOps.sharedPq(
      ss, d, graft.operators.EmbeddingOps.Geometry.Base)
    val cells = index.model.getK
    val m = graft.operators.EmbeddingOps.PqSubspaces
    val k = graft.operators.EmbeddingOps.PqCodes
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s28")
    val dir = graft.api.IvfStore.versionedPqDir(
      root, cells, m, k, java.time.LocalDate.ofEpochDay(0))
    graft.api.IvfStore.savePq(dir, index, pq, codes)
    val (li, lp, lc) = graft.api.IvfStore.loadPq(ss, dir, m)
    val appendRoot = s"$root/append"
    val stream = readEmbeddings(ss, d)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    drain(stream.writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        graft.api.IvfStore.appendPqBatch(appendRoot, batch.toDF(),
          batchId, li.model, lp))
      .option("checkpointLocation", s"$root/chk"))
    val codeCols = Seq(col("vec_id"), col("cell")) ++
      (0 until m).map(i => col(s"code$i"))
    val codesAll = lc.select(codeCols: _*)
      .unionByName(graft.api.IvfStore.committedPqCodes(ss, appendRoot, m)
        .select(codeCols: _*))
    graft.operators.EmbeddingOps.adcServe(li, lp, codesAll, off)
  }

  /** s29 — STREAMING QUERY-SIDE ANN serve (the path a deployed
    * retrieval fleet actually runs: a QUERY stream answered per
    * micro-batch against the LOADED artifact): the e13-family union
    * index is persisted and loaded (e14's artifact posture); queries
    * arrive as a vector STREAM (every [[graft.operators.EmbeddingOps
    * .BatchQueryMod]]-th base vector) and run the batch rows' own serve
    * ([[graft.operators.EmbeddingOps.serveQueriesAgainst]]): row-local
    * probe cells, the stream-static cell equi-join against the loaded
    * index, the exact scorer, and the top-1 tail as ONE complete-mode
    * aggregation (queries-sized state, s27's posture). e13's
    * closed-form oracle transfers row-for-row: every streamed query's
    * top-1 is its planted twin at cosine 1.0.
    *
    * 100 TB shape: per micro-batch, |batch| × IvfProbes cell probes
    * against an index bucketed by cell (co-located join at
    * deployment); nothing corpus-sized rides the stream, the state is
    * the answer set itself. */
  def streamAnnServe(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps.{sharedIndex, Geometry}
    val ss = streamSession(s)
    val shared = sharedIndex(ss, d, Geometry.Planted)
    val (index, off) = (shared.index, shared.off)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s29")
    val dir = graft.api.IvfStore.versionedDir(
      root, shared.cells, java.time.LocalDate.ofEpochDay(0))
    // the artifact is the SERVE'S INPUT, not its work (e23's billing):
    // created once per session, loaded per invocation
    graft.api.IvfStore.saveOnce(dir, index)
    val loaded = graft.api.IvfStore.load(ss, dir)
    val served = graft.operators.EmbeddingOps.serveQueriesAgainst(ss, loaded,
      readEmbeddings(ss, d).filter(col("vec_id") %
        graft.operators.EmbeddingOps.BatchQueryMod === 0))
    runToMemory(served, "complete", "s29_stream_ann_serve")
      .orderBy(col("query_id"))
  }

  /** s31 — STREAMING QUERY-SIDE PQ/ADC serve (the compressed-corpus
    * serving fleet's live path: a PQ fleet serves CODES through the ADC
    * scorer): the e24 double-planted IVF-PQ artifact is persisted and
    * LOADED (e17's artifact posture); the selective takedown set is
    * committed to the tombstone log and honored on the static side
    * ([[graft.api.IvfStore.minusTombstones]] — the live path serves the
    * post-takedown corpus); queries arrive as a vector STREAM and run
    * the batch rows' own ADC serve
    * ([[graft.operators.EmbeddingOps.adcServeQueriesAgainst]]):
    *
    *  - probe cells and the flattened M×K ADC lookup table computed in
    *    each query's own row;
    *  - candidates from the stream-static cell equi-join against the
    *    loaded, tombstone-filtered CODES (M small ints per row — raw
    *    embeddings never ride the scoring join, PQ's point);
    *  - the ADC sum is M carried-array lookups per candidate, and the
    *    per-query argmin is the top-1 tail as ONE complete-mode
    *    aggregation (queries-sized state, s27/s29's posture).
    *
    * The closed form carries through both quantized stages: both twins
    * hold the query's full code, their ADC ties at the global minimum,
    * the (adc, vec_id) tie-break picks the first — unless tombstoned,
    * in which case the +2·off twin must surface. e24's oracle
    * transfers verbatim: the batch and live ADC paths cannot drift.
    *
    * 100 TB shape: per micro-batch, |batch| × IvfProbes cell probes
    * against codes bucketed by cell (co-located at deployment); the
    * tombstone honor is one ids-sized broadcast anti-join on the
    * static side, planned once; state is the answer set itself. */
  def streamPqServe(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val base = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    val (index, pq, codes, off) = graft.operators.EmbeddingOps.sharedPq(
      ss, d, graft.operators.EmbeddingOps.Geometry.DoublePlanted)
    val m = graft.operators.EmbeddingOps.PqSubspaces
    val k = graft.operators.EmbeddingOps.PqCodes
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s31")
    val dir = graft.api.IvfStore.versionedPqDir(
      root, index.model.getK, m, k, java.time.LocalDate.ofEpochDay(0))
    // the artifact is the SERVE'S INPUT, not its work (e23's billing)
    graft.api.IvfStore.savePqOnce(dir, index, pq, codes)
    val (li, lp, lc) = graft.api.IvfStore.loadPq(ss, dir, m)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot,
      graft.operators.EmbeddingOps.tombstoneIds(base, off), 0L)
    val servedCodes = graft.api.IvfStore.minusTombstones(lc, ss, tombRoot)
    val served = graft.operators.EmbeddingOps.adcServeQueriesAgainst(ss,
      li.model, lp, servedCodes,
      readEmbeddings(ss, d).filter(col("vec_id") %
        graft.operators.EmbeddingOps.BatchQueryMod === 0))
    runToMemory(served, "complete", "s31_stream_pq_serve")
      .orderBy(col("query_id"))
  }

  /** The shared MID-STREAM POINTER-FLIP drain (s36's shape generalized
    * across store families): stage `queries` as
    * two identical files so `maxFilesPerTrigger=1` yields two
    * deterministic micro-batches carrying the SAME query set (file
    * order irrelevant — the s36 recipe); adopt v1 at day 0 (replays
    * keep the already-flipped pointer); each foreachBatch re-resolves
    * the pointer (one kilobyte read against immutable versioned dirs —
    * every batch is internally consistent with whichever version it
    * resolved) and serves its batch through the family's own
    * `serveBatch(batch, resolvedDir)` plan, committing exactly-once
    * through ExportCommit with the resolved phase (1 = v1, 2 = other)
    * prefixed; `flip(batchId)` runs AT the batch-1 boundary — between
    * micro-batches, never inside one (s36/s38/s39/s40 adopt a
    * pre-built fold; s41 runs the ENTIRE maintenance day there, so
    * every step inside `flip` must be replay-safe). Returns the
    * committed union; callers add their total ORDER BY.
    *
    * 100 TB shape: the flip moves one pointer file while the drain is
    * live — zero data movement, no stream restart; per batch the serve
    * is batch ⋈ immutable-artifact on the family's uniform probe key,
    * and the per-batch result commit is the manifest CAS. */
  private def pointerFlipDrain(ss: SparkSession, root: String,
      queries: DataFrame, v1: String, flip: Long => Unit,
      serveBatch: (DataFrame, String) => DataFrame): DataFrame = {
    import graft.sources.ExportCommit
    val qdir = s"$root/qsrc"
    if (!new java.io.File(s"$qdir/_ready").isFile) {
      queries.coalesce(1).write.mode("overwrite").parquet(s"$root/qstage")
      val part = new java.io.File(s"$root/qstage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(qdir).mkdirs()
      for (n <- Seq("q1.parquet", "q2.parquet"))
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(qdir, n),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(s"$qdir/_ready").createNewFile()
      ()
    }
    val ptr = s"$root/pointer"
    if (graft.api.ServePointer.current(ptr).isEmpty)
      graft.api.ServePointer.adopt(ptr, v1) // day 0 — replays keep the flip
    val v1n = java.nio.file.Paths.get(v1).toAbsolutePath.normalize().toString
    val resultsRoot = s"$root/results"
    drain(ss.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1").parquet(qdir)
      .writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        // the rollout lands AT the batch-1 boundary — between
        // micro-batches, never inside one
        if (batchId >= 1) flip(batchId)
        // per-batch resolve: one kilobyte read against the live pointer
        val dir = graft.api.ServePointer.current(ptr).getOrElse(
          sys.error(s"no adopted version under $ptr"))
        val phase = if (dir == v1n) 1L else 2L
        ExportCommit.commitOnce(resultsRoot, batchId) { staged =>
          val served = serveBatch(batch.toDF(), dir)
          served.select(lit(phase).as("phase") +:
            served.columns.toSeq.map(col): _*).write.parquet(staged)
        }
        ()
      })
      .option("checkpointLocation", s"$root/chk"))
    require(graft.api.ServePointer.history(ptr).size == 2,
      "pointer-flip drain: the adoption must land between the two " +
        "micro-batches — a single-batch drain means the rate limit " +
        "was not honored")
    val dirs = ExportCommit.committedDirs(resultsRoot)
    ss.read.parquet(dirs: _*)
  }

  /** s36 — MID-STREAM POINTER FLIP (live reload:
    * e27 witnessed adoption/rollback between BATCH serves and e25 that
    * a pinned reader is isolated from a concurrent fold, but a serving
    * fleet is a QUERY STREAM, and the missing witness is an adoption
    * landing BETWEEN micro-batches of one continuous drain): the e27
    * artifact pair — v1 the double-planted index, v2 its
    * tombstone-folded compaction — sits behind one
    * [[graft.api.ServePointer]]; the query set arrives as a file
    * stream forced to (at least) two micro-batches
    * (`maxFilesPerTrigger=1` over two identical query files — the
    * batches carry the SAME queries, so the output pins WHEN each
    * answer changed, not which rows landed where); each foreachBatch
    * re-resolves the pointer (one kilobyte read — versioned dirs are
    * immutable, so every batch is internally consistent against
    * whichever version it resolved), serves its batch through
    * [[graft.operators.EmbeddingOps.serveQueriesAgainst]] (the batch
    * rows' and s29's serve), and commits the result exactly-once
    * through ExportCommit; the v1→v2 adoption lands at the batch-1
    * boundary — BETWEEN micro-batches, never inside one.
    *
    * e27's closed form reshaped to the stream: batch-0 rows must
    * answer from v1 (+off everywhere), batch-1 rows from v2 (the
    * takedown flip exactly on queries ≡ 0 mod 2·BatchQueryMod). A
    * foreachBatch that caches the resolved dir across batches, an
    * adoption that tears mid-batch, or a replay that re-serves under
    * the wrong version each break a phase's rows.
    *
    * 100 TB shape: the flip moves one pointer file while the drain is
    * live — zero data movement, no stream restart; per batch the serve
    * is |batch| × IvfProbes cell probes against an immutable versioned
    * artifact, and the per-batch result commit is the manifest CAS. */
  def streamPointerFlip(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps
    import graft.sources.ExportCommit
    val ss = streamSession(s)
    val base = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    // e27's exact artifact pair
    val shared = EmbeddingOps.sharedIndex(ss, d,
      EmbeddingOps.Geometry.DoublePlanted)
    val (cells, off) = (shared.cells, shared.off)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s36")
    val date = java.time.LocalDate.ofEpochDay(0)
    val v1 = graft.api.IvfStore.versionedDir(root, cells, date)
    graft.api.IvfStore.saveOnce(v1, shared.index)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot,
      EmbeddingOps.tombstoneIds(base, off), 0L)
    val v2 = graft.api.IvfStore.versionedDir(root, cells, date.plusDays(1))
    if (!graft.api.IvfStore.isSaved(v2))
      graft.api.IvfStore.compactAppends(ss, v1, s"$root/no_appends", v2,
        Some(tombRoot))
    pointerFlipDrain(ss, root,
      base.filter(col("vec_id") % EmbeddingOps.BatchQueryMod === 0),
      v1,
      // adopt is a replay no-op — the flip is safe under batch replay
      _ => { graft.api.ServePointer.adopt(s"$root/pointer", v2); () },
      (batch, dir) => EmbeddingOps.serveQueriesAgainst(ss,
        graft.api.IvfStore.load(ss, dir), batch))
      .orderBy(col("phase"), col("query_id"))
  }

  /** The pieces a doc-keyed live-flip row varies, all over the stream
    * session's (doc_id, text) documents: the docs the day-0 index
    * covers, the takedown ids the maintenance day folds out, the
    * incoming query batch, and the family's probe of a batch against
    * a LOADED index. */
  private final case class DocFlipRows(indexed: DataFrame,
      takedown: DataFrame, incoming: DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame)

  /** The maintenance day during a live serve on a doc-keyed store —
    * s38/s39/s40's one body: v1 = `store`'s index over `rows.indexed`;
    * the incoming batch arrives as two identical query files; AT the
    * batch-1 boundary the in-drain janitor ([[janitorDayAt]]) commits
    * the takedown debt, folds it out, adopts, retires and prunes; each
    * micro-batch probes the pointer-resolved LOADED index through
    * `rows.probe`. Phase 1 must report the full index's matches,
    * phase 2 only the survivors' — a drain that caches the resolved
    * dir across batches, a policy that under-counts the debt, or a
    * fold that tears a serving batch each break a phase. Callers add
    * their total ORDER BY. */
  private def docStoreFlip(s: SparkSession, d: String, tag: String,
      store: graft.api.DocIndexStore)(
      rows: (SparkSession, DataFrame, Long) => DocFlipRows): DataFrame = {
    import graft.operators.DedupOps
    val ss = streamSession(s)
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val r = rows(ss, docs, off)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, tag)
    val date = java.time.LocalDate.ofEpochDay(0)
    val v1 = store.versionedDir(s"$root/base", date)
    store.saveOnce(v1, r.indexed)
    pointerFlipDrain(ss, root, r.incoming, v1,
      _ => janitorDayAt(ss, store, root, v1,
        store.versionedDir(s"$root/fold", date.plusDays(1)))(
        store.saveOnce(v1, r.indexed))(
        graft.api.DocIndexStore.appendTombstones(_, r.takedown, 0L)),
      (batch, dir) => r.probe(batch, store.load(ss, dir)))
  }

  /** s38 — the maintenance day during a live serve, LSH family: v1 =
    * the FULL pruned band index (d11/d20's artifact), takedown = evens
    * < 100 (d25's geometry), the d11 incoming batch probed through
    * [[graft.operators.DedupOps.probeIncomingPlanted]]. Phase 1 =
    * d11's closed form, phase 2 = d25's survivors. */
  def streamLshFlip(s: SparkSession, d: String): DataFrame =
    docStoreFlip(s, d, "s38", graft.api.DocIndexStore.Lsh) {
      (_, docs, off) =>
        val existing = docs.filter(col("doc_id") % 2 === 0)
        DocFlipRows(existing,
          existing.filter(col("doc_id") < 100).select(col("doc_id")),
          graft.operators.DedupOps.lshIncomingBatch(docs, off),
          graft.operators.DedupOps.probeIncomingPlanted(_, off, _))
    }.orderBy(col("phase"), col("in_id"))

  /** The in-drain MAINTENANCE DAY shared by s38/s39/s40/s41 —
    * [[graft.api.CompactionPolicy.maintenanceDay]] run BETWEEN
    * micro-batches inside [[pointerFlipDrain]]'s flip callback, with
    * only tombstone debt (an under-counting policy leaves phase 2
    * serving v1 and breaks the phased oracle). v1 is already saved
    * and adopted by the drain, so the day's first steps are replay
    * no-ops; a batch replay re-enters the whole day without churn. */
  private def janitorDayAt(ss: SparkSession,
      store: graft.api.FoldableStore, root: String, v1: String,
      v2: String)(saveBase: => Unit)(commitTombstones: String => Unit)
      : Unit = {
    graft.api.CompactionPolicy.maintenanceDay(ss, store, root, v1, v2,
      maxAppendBatches = Int.MaxValue, maxTombstoneBatches = 1)(saveBase)(
      (_, tombRoot) => commitTombstones(tombRoot))
    ()
  }

  /** s39 — the maintenance day during a live serve, passage family:
    * v1 = the full even-corpus passage-hash index (d17's artifact),
    * takedown = evens < 50 (d27/d31's geometry), d17's incoming batch
    * probed through [[graft.operators.DedupOps.probePassagesAgainst]].
    * Phase 1 = d17's closed form, phase 2 = the survivors'. */
  def streamPassageFlip(s: SparkSession, d: String): DataFrame =
    docStoreFlip(s, d, "s39", graft.api.DocIndexStore.Passage) {
      (_, docs, off) =>
        val existing = docs.filter(col("doc_id") % 2 === 0)
        DocFlipRows(existing,
          existing.filter(col("doc_id") < 50).select(col("doc_id")),
          graft.operators.DedupOps.passageIncomingBatch(docs, off),
          graft.operators.DedupOps.probePassagesAgainst)
    }.orderBy(col("phase"), col("doc_id"))

  /** s40 — the maintenance day during a live serve, winnow family: v1
    * = the fingerprint index holding BOTH archived quotation sources
    * (planted doc 0 and d29's surviving archive doc), takedown = doc 0
    * (d29/d32's geometry); d24's incoming batch (docs 1/2, each
    * quoting doc 0's quotes) probes through
    * [[graft.operators.DedupOps.winnowProbeAgainst]] (the archive text
    * side is the superset relation — candidates can only name docs the
    * INDEX holds, so the fold alone decides which archive docs can
    * verify). Phase 1 = runs against both sources, phase 2 = the
    * survivor's only. */
  def streamWinnowFlip(s: SparkSession, d: String): DataFrame =
    docStoreFlip(s, d, "s40", graft.api.DocIndexStore.Winnow) {
      (ss, docs, off) =>
        import graft.operators.DedupOps
        import ss.implicits._
        val archive = docs.unionByName(
          (DedupOps.PlantedQuoteDocs.take(1) ++ DedupOps.PlantedQuoteArchiveDoc)
            .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text"))
        DocFlipRows(archive, Seq(off + 0L).toDF("doc_id"),
          DedupOps.winnowIncoming(ss, docs, off),
          DedupOps.winnowProbeAgainst(archive, _, _))
    }.orderBy(col("phase"), col("doc_a"), col("doc_b"), col("a_pos"),
      col("b_pos"))

  /** s41 — the JANITOR'S MAINTENANCE DAY DURING A LIVE SERVE, IVF
    * family (the serving fleet's actual steady state: e28 and d30–d32
    * run the maintenance day in BATCH rows, s36 flips to a PRE-BUILT
    * v2 mid-drain; this is the day itself — trigger, fold, adopt,
    * retire, prune — landing BETWEEN micro-batches of one continuous
    * query drain): v1 = e27's double-planted index, adopted at day 0;
    * the query stream drains in two deterministic micro-batches; AT
    * the batch-1 boundary [[janitorDayAt]] commits the takedown debt,
    * folds v1 minus the takedowns into v2 and flips the live pointer.
    * Pre-fold batches answer from v1, post-fold from v2: s36's phase
    * oracle transfers VERBATIM, so a janitor that breaks the artifact
    * at any stage, a policy that under-counts the debt (no fold ⇒
    * phase 2 still answers +off and the flip row breaks), or a fold
    * that tears a serving batch each break a phase's rows.
    *
    * 100 TB shape: the in-drain janitor bills exactly e28's
    * maintenance day while the serve keeps draining — zero stream
    * restart, every batch consistent against one immutable version. */
  def streamJanitorLive(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps
    val ss = streamSession(s)
    val base = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    // e27's exact double-planted artifact
    val shared = EmbeddingOps.sharedIndex(ss, d,
      EmbeddingOps.Geometry.DoublePlanted)
    val (cells, off) = (shared.cells, shared.off)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s41")
    val date = java.time.LocalDate.ofEpochDay(0)
    val v1 = graft.api.IvfStore.versionedDir(root, cells, date)
    def saveBase(): Unit = graft.api.IvfStore.save(v1, shared.index)
    if (!graft.api.IvfStore.isSaved(v1)) saveBase()
    pointerFlipDrain(ss, root,
      base.filter(col("vec_id") % EmbeddingOps.BatchQueryMod === 0),
      v1,
      _ => janitorDayAt(ss, graft.api.IvfStore, root, v1,
        graft.api.IvfStore.versionedDir(root, cells, date.plusDays(1)))(
        saveBase())(graft.api.IvfStore.appendTombstones(_,
          EmbeddingOps.tombstoneIds(base, off), 0L)),
      (batch, dir) => EmbeddingOps.serveQueriesAgainst(ss,
        graft.api.IvfStore.load(ss, dir), batch))
      .orderBy(col("phase"), col("query_id"))
  }

  /** s42 — MID-STREAM live reload on the PQ SERVING STACK (s36's flip
    * on the artifact a production vector fleet actually serves from —
    * the compressed IVF-PQ store, completing the live-reload symmetry:
    * raw-IVF s36/s41, LSH s38, passage s39, winnow s40, PQ HERE): v1 =
    * the double-planted IVF-PQ artifact (e24's build, persisted whole
    * through [[graft.api.IvfStore.savePq]]), v2 = its tombstone-folded
    * compaction ([[graft.api.IvfStore.compactPqAppends]] — codes AND
    * assigned sides both folded, e25's janitor path); each micro-batch
    * loads the pointer-resolved artifact and serves through the SAME
    * ADC serve s31's always-on path and the batch PQ rows run
    * ([[graft.operators.EmbeddingOps.adcServeQueriesAgainst]] —
    * row-local probe + LUT, cell equi-join over M-small-int code rows,
    * the top-1 tail as plain per-batch aggregation). Phase 1 must
    * answer every query's +off twin from the unfolded codes, phase 2
    * e24's takedown-flipped form from the fold — a serve that caches
    * codes across the flip or a fold that leaves one tombstoned code
    * row breaks a phase.
    *
    * 100 TB shape: the flip moves one pointer file over an immutable
    * compressed artifact; per batch the serve joins |batch|·probes
    * cell keys against code rows (the 16-64× bandwidth reduction that
    * is the point of PQ), and codebooks are kilobytes, broadcast. */
  def streamPqFlip(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps
    val ss = streamSession(s)
    val base = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    val (index, pq, codes, off) = EmbeddingOps.sharedPq(ss, d,
      EmbeddingOps.Geometry.DoublePlanted)
    val m = EmbeddingOps.PqSubspaces
    val k = EmbeddingOps.PqCodes
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s42")
    val date = java.time.LocalDate.ofEpochDay(0)
    val cells = index.model.getK
    val v1 = graft.api.IvfStore.versionedPqDir(s"$root/base", cells,
      m, k, date)
    graft.api.IvfStore.savePqOnce(v1, index, pq, codes)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot,
      EmbeddingOps.tombstoneIds(base, off), 0L)
    val v2 = graft.api.IvfStore.versionedPqDir(s"$root/fold", cells,
      m, k, date.plusDays(1))
    if (!graft.api.IvfStore.isPqSaved(v2))
      graft.api.IvfStore.compactPqAppends(ss, v1, s"$root/no_appends",
        v2, m, Some(tombRoot))
    pointerFlipDrain(ss, root,
      base.filter(col("vec_id") % EmbeddingOps.BatchQueryMod === 0),
      v1,
      _ => { graft.api.ServePointer.adopt(s"$root/pointer", v2); () },
      (batch, dir) => {
        val (li, lp, lc) = graft.api.IvfStore.loadPq(ss, dir, m)
        EmbeddingOps.adcServeQueriesAgainst(ss, li.model, lp, lc, batch)
      })
      .orderBy(col("phase"), col("query_id"))
  }

  /** s44 — MID-DRAIN MODEL FLIP (the live-reload symmetry completed on
    * the LAST artifact family: s36/s38-s42 flip the four index stores
    * and the PQ stack, s43 the tokenizer — the kmeans+vocab MODEL was
    * the remaining pointer-addressed artifact never flipped under a
    * live drain; composition of m18's takedown refit with s36's
    * discipline): the m18 versioned pair — v1 the pre-takedown model
    * (fit on documents ∪ the planted marker doc), v2 the survivor
    * refit — sits behind s44's own [[graft.api.ServePointer]]; the
    * m10 prediction sample streams as two identical query files; each
    * micro-batch loads the pointer-resolved model and predicts
    * through the FULL predict path (vocab match, OOV drop,
    * train-corpus df/N weighting, nearest centroid); the v1→v2
    * adoption lands at the batch-1 boundary. Phase 1's
    * vectorizability is decided by the UNION corpus's vocabulary,
    * phase 2's by the survivors' — the m10 closed form, phase-split
    * (both vocabularies relational; the oracle runs the m03 top-2000
    * rule over each corpus). A drain that caches the loaded model
    * across batches or an adoption that tears a batch breaks a phase.
    *
    * The artifacts are built on the BATCH session (the fits hit the
    * m-family's shared memos and the guarded saves are
    * replay no-ops); the stream session only LOADS the immutable
    * versioned dirs — per batch, one pointer read + one model load.
    *
    * 100 TB shape: a model rollout to a live prediction fleet is one
    * pointer file — no stream restart, no data movement; per batch
    * the predict is one map-only stage: each row's 1-3-gram counts
    * looked up in the loaded model's broadcast vocabulary, then the
    * nearest-centroid transform. */
  def streamModelFlip(s: SparkSession, d: String): DataFrame = {
    import graft.api.{ModelStore, ServePointer}
    val ss = streamSession(s)
    val (v1, v2) = graft.ml.MlQueries.forgetModelArtifacts(s, d)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s44")
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val sample = graft.sources.Sinks.sampleByMod(docs, "doc_id", 10, 3)
    val k = 15
    pointerFlipDrain(ss, root, sample, v1,
      _ => { ServePointer.adopt(s"$root/pointer", v2); () },
      (batch, dir) => {
        val saved = ModelStore.load(ss, dir)
        batch.select(col("doc_id"))
          .join(ModelStore.predict(batch, saved)
            .select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("cluster").isNotNull.cast("int").as("predicted"),
            when(col("cluster").isNull ||
              (col("cluster") >= 0 && col("cluster") < k), 1)
              .otherwise(0).as("in_range_ok"))
      })
      .orderBy(col("phase"), col("doc_id"))
  }

  /** s43 — TOKENIZER ADOPTION POINTER + MID-DRAIN TOKENIZER FLIP (r18
    * verdict ask #2): the merge-table artifact (t19's shipped
    * tokenizer) was the ONE versioned artifact still addressed by
    * literal path — all four index stores and the export root resolve
    * through [[graft.api.ServePointer]], and s23's metering drain
    * loaded the tokenizer once per drain. Now the tokenizer is
    * pointer-addressed like every other shipped artifact: v1 = the
    * shipped merge table ([[graft.operators.BpeOps.trainedMerges]] —
    * t16/t19's), v2 = t22's retrained-slice vocabulary
    * ([[graft.operators.BpeOps.retrainedMerges]], residue 1), both
    * saved through [[graft.operators.BpeOps.saveMerges]] as immutable
    * versioned dirs; the s23 metering stream re-resolves the pointer
    * per micro-batch (one kilobyte read + a merge-table parquet load)
    * and the v1→v2 adoption lands AT the batch-1 boundary
    * ([[pointerFlipDrain]] — s36's discipline on the tokenizer
    * surface). Phase 1's per-source piece totals must be the shipped
    * vocabulary's (s23's numbers), phase 2 the retrain's (t22's
    * retrain side) — both merge chains generated by the ONE oracle
    * recipe, so a drain that caches the loaded tokenizer across
    * batches, a lossy merge-table save, or a flip that tears a batch
    * each break a phase.
    *
    * Distinct pieces memo tags per version (t19's lesson): the
    * metering relation is built from the LOADED artifact, so the
    * in-memory trainer materialization can never stand in for it.
    *
    * 100 TB shape: the tokenizer artifact is merge-table-sized
    * (kilobytes); the per-batch reload is one parquet read plus a
    * vocabulary-sized size-guarded pieces relation the corpus-scale
    * token stream joins broadcast. The flip is one pointer file —
    * re-billing the next epoch under a retrained vocabulary needs no
    * stream restart and moves no data. */
  def streamTokenizerFlip(s: SparkSession, d: String): DataFrame = {
    import graft.operators.BpeOps
    val ss = streamSession(s)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s43")
    val v1 = s"$root/tok_v1"
    val v2 = s"$root/tok_v2"
    BpeOps.saveMergesOnce(ss, v1)(BpeOps.trainedMerges(ss, d))
    BpeOps.saveMergesOnce(ss, v2)(BpeOps.retrainedMerges(ss, d, 1L))
    val v1n = java.nio.file.Paths.get(v1).toAbsolutePath.normalize().toString
    pointerFlipDrain(ss, root,
      graft.sources.Tables.documents(ss, d)
        .select(col("doc_id"), col("source"), col("text")),
      v1,
      _ => { graft.api.ServePointer.adopt(s"$root/pointer", v2); () },
      (batch, dir) => {
        val tag = if (dir == v1n) "s43v1" else "s43v2"
        val pieces = BpeOps.piecesFor(ss, d, BpeOps.loadMerges(ss, dir), tag)
        batch
          .select(col("source"),
            explode(BpeOps.rawWords(col("text"))).as("word"))
          .join(pieces, "word")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sym")).as("n_bpe_tokens"))
          .select(col("source"), col("n_words"), col("n_bpe_tokens"),
            round(col("n_bpe_tokens") / col("n_words"), 6)
              .as("pieces_per_word"))
      })
      .orderBy(col("phase"), col("source"))
  }

  /** s32 — STREAMING passage-index probe (d17 on the live path,
    * completing the streaming-probe symmetry across all five
    * incremental grains: exact s14, near-dup s27, embedding s29/s31,
    * passage HERE, winnow s33's gate): the stored corpus's passage-hash
    * index is persisted through [[graft.api.DocIndexStore.Passage]]
    * (session-billed — the probe's INPUT) and loaded back; the
    * incoming document stream — d17's exact scenario, odd docs plus
    * re-fetched evens under fresh crawl ids — slices and hashes its
    * passages ROW-LOCALLY (the shared slicing definition; explode +
    * slice are stateless projections, no window on the stream),
    * left-joins the loaded DISTINCT hash set stream-static per
    * micro-batch, and the per-doc (n_passages, n_known) roll-up is ONE
    * complete-mode aggregation (incoming-batch-sized state). d17's
    * full-pipeline oracle transfers verbatim: the batch and live
    * "how much of this is already in my corpus" paths cannot drift.
    *
    * 100 TB shape: per micro-batch, batch passages ⋈ index on the
    * uniform 128-bit hash (at deployment the store is bucketed by `h`
    * — co-located); nothing corpus-sized rides the stream; state is
    * the per-doc answer set itself. */
  def streamPassageProbe(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s32")
    val dir = graft.api.DocIndexStore.Passage.versionedDir(
      root, java.time.LocalDate.ofEpochDay(0))
    graft.api.DocIndexStore.Passage.saveOnce(dir, existing)
    val agg = graft.operators.DedupOps.probePassagesAgainst(
      graft.operators.DedupOps.passageIncomingBatch(
        readDocuments(ss, d).select(col("doc_id"), col("text")), off),
      graft.api.DocIndexStore.Passage.load(ss, dir))
    runToMemory(agg, "complete", "s32_stream_passage_probe")
      .orderBy(col("doc_id"))
  }

  /** s33 — STREAMING winnow SCREENING GATE (the MOSS deployment's
    * at-submission stage: incoming documents are fingerprinted and
    * matched against the stored archive the moment they arrive; the
    * candidate queue this emits is exactly what d24's exact verifier
    * consumes — verification itself needs the per-pair island window,
    * which is batch work by design): the archive's pruned fingerprint
    * index is persisted and loaded; the submission stream (the planted
    * quotation docs, staged once as a parquet source) fingerprints
    * itself ROW-LOCALLY through the codegen'd winnow kernel (map-only —
    * the sort-free stream variant), equi-joins the LOADED index on the
    * fp key per micro-batch, and the per-(archive doc, submission)
    * shared-fingerprint count is ONE complete-mode aggregation, gated
    * at [[graft.operators.DedupOps.MinSharedFingerprints]] after the
    * sink. The oracle reproduces the full census + gate pipeline (the
    * d24 oracle's wcand relation with its count) — a lost fingerprint,
    * census drift, or a gate off-by-one breaks the hash.
    *
    * 100 TB shape: submissions meet only the fp-keyed index
    * (co-located at deployment); the gate state is candidate-set
    * sized; the corpus-scale gram stream never materializes. */
  def streamWinnowGate(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    import ss.implicits._
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    val archive = docs.unionByName(
      graft.operators.DedupOps.PlantedQuoteDocs.take(1)
        .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text"))
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s33")
    val dir = graft.api.DocIndexStore.Winnow.versionedDir(
      root, java.time.LocalDate.ofEpochDay(0))
    graft.api.DocIndexStore.Winnow.saveOnce(dir, archive)
    val loaded = graft.api.DocIndexStore.Winnow.load(ss, dir)
      .select(col("fp"), col("doc_id").as("doc_a"))
    // the submission stream: the planted docs staged once as a parquet
    // source dir (the harness's stand-in for the arrival topic)
    val incDir = s"$root/incoming"
    if (!new java.io.File(s"$incDir/_SUCCESS").isFile)
      graft.operators.DedupOps.PlantedQuoteDocs.drop(1)
        .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(incDir)
    val schema = ss.read.parquet(incDir).schema
    val stream = ss.readStream.schema(schema).parquet(incDir)
    val gate = graft.operators.TextOps.winnowFromUnordered(stream)
      .select(col("fp"), col("doc_id").as("doc_b"))
      .join(loaded, Seq("fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("nsh"))
    runToMemory(gate, "complete", "s33_stream_winnow_gate")
      .filter(col("nsh") >=
        graft.operators.DedupOps.MinSharedFingerprints)
      .select(col("doc_a"), col("doc_b"), col("nsh"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** s34 — STREAMING crawl admission (c08's composed waterfall on the
    * live path — the streaming symmetry s32/s33 completed per grain,
    * now at the COMPOSED level: a deployment's admission pipeline IS a
    * stream consumer): the same incoming increment (organic odds plus
    * c08's four planted reject classes) arrives as a document stream,
    * and every gate probes the SAME loaded session artifacts batch c08
    * probes, as stream-static joins:
    *
    *   - exact — digest left-join against the stored ledger (s14's
    *     stateless shape; also emits the per-doc universe relation);
    *   - near-dup — row-local bands ⋈ loaded band index, VERIFIED by
    *     the in-row cleaned-text key against the stored docs' keys
    *     (stateless append of hits; the distinct is batch work after
    *     the drain);
    *   - passage — batch passages ⋈ loaded membership set, per-doc
    *     complete-mode roll-up (s32's shape);
    *   - decontam — in-row-distinct 5-grams ⋈ broadcast eval set,
    *     per-doc complete-mode count (s25's shape).
    *
    * The intra-batch keep-first gate is deliberately ABSENT here:
    * arrival order inside micro-batches is not a contract, and
    * cross-batch duplicate suppression is s05/s14's witnessed state
    * story — so the streaming waterfall has four gates and its oracle
    * recomputes the intra-free attribution (a batch-internal twin
    * falls through to later gates or double-admits, exactly as the
    * closed form states). Composition + histogram are batch work over
    * the drained sinks. The gates are batch c08's own
    * ([[graft.operators.Gates]]), so the two waterfalls differ only in
    * the keep-first entry of c08's attribution list.
    *
    * 100 TB shape: every probe is stream ⋈ static store on a uniform
    * key; the stateful stages hold per-doc counters for the increment
    * only (batch-sized, never corpus-sized); nothing shuffles the
    * corpus. */
  def streamAdmission(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PackOps
    val ss = streamSession(s)
    val (streams, compose) = docGateStreams(ss, d)
    PackOps.admissionHistogram(ss, compose(drain(streams: _*).map(table)),
      Seq("1_exact_store", "2_neardup", "3_passage", "4_decontam"))
      .orderBy(col("stage"))
  }

  /** The four doc-gate drains ([[graft.operators.Gates]], c08's gates
    * over the streamed increment) + their post-drain attribution to
    * (doc_id, gate), intra-free (see the s34 doc for why), factored so
    * callers choose the drain schedule: s34 drains exactly
    * these four, s37 appends its two vec-gate drains to the SAME
    * concurrent batch (guide §2.6). Returns (memory-sink writers in
    * gate order, composition over the drained tables in that order). */
  private def docGateStreams(ss: SparkSession, d: String)
      : (Seq[DataStreamWriter[Row]], Seq[DataFrame] => DataFrame) = {
    import graft.operators.{DedupOps, Gates}
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    // c08's session artifacts: the batch and streamed waterfalls probe
    // the identical stores
    val (lshDir, pasDir) = Gates.admissionStores(ss, d, existing)
    val incoming = Gates.admissionIncrement(
      readDocuments(ss, d).select(col("doc_id"), col("text")), off)
    val streams = Seq(
      memorySink(Gates.exactFlags(incoming, Gates.ledger(existing)),
        "append", "s34_universe"),
      memorySink(Gates.nearDupHits(incoming,
        graft.api.DocIndexStore.Lsh.load(ss, lshDir), existing),
        "append", "s34_near"),
      memorySink(DedupOps.probePassagesAgainst(incoming,
        graft.api.DocIndexStore.Passage.load(ss, pasDir)),
        "complete", "s34_passage"),
      memorySink(Gates.gramHits(incoming,
        Gates.evalGrams(docs.filter(col("doc_id") % 97 === 0))),
        "complete", "s34_decontam"))
    val compose = (drained: Seq[DataFrame]) => {
      val Seq(exact, near, pas, cont) = drained
      Gates.firstGate(exact.select(col("doc_id")), "doc_id", Seq(
        "1_exact_store" -> exact.filter(col("exact")),
        "2_neardup" -> near,
        "3_passage" -> Gates.passageHits(pas),
        "4_decontam" -> Gates.decontamHits(cont)))
    }
    (streams, compose)
  }

  /** s35 — STREAMING embedding admission (c09's gates on the live
    * path, completing the composed-admission symmetry across BOTH key
    * spaces and BOTH execution modes: c08/s34 for documents, c09/s35
    * for vectors): the incoming vector increment (c09's three planted
    * classes, ONE shared construction —
    * [[graft.operators.EmbeddingOps.admissionVecBatch]]) arrives as a
    * vector stream, and both gates run STATELESS stream-static plans
    * against c09's loaded session artifact:
    *
    *   - exact — 64-bit-hash left-join against the stored corpus with
    *     the array-equality verify carried per row (multi-row on hash
    *     collisions; the dedup is batch work after the drain);
    *   - semantic — the serve rows' exact scorer (row-local probe
    *     cells over the broadcast quantizer, cell equi-join), kept at
    *     cosine ≥ τ
    *     ([[graft.operators.EmbeddingOps.semanticGateCandidates]] —
    *     the distinct-free emission exists for exactly this plan).
    *
    * Both are batch c09's gates, attributed after the drain by the
    * same [[graft.operators.Gates.vecFirstGate]]; the histogram is
    * batch work over the drained sinks too. c09's planted closed form
    * transfers (phase 1, reshaped). The
    * COMMIT half of the live path is s26's witnessed row.
    *
    * 100 TB shape: both gates are stream ⋈ static on uniform keys
    * (64-bit hash / cell id); nothing stateful rides the stream. */
  def streamEmbeddingAdmission(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{EmbeddingOps, Gates, PackOps}
    val ss = streamSession(s)
    val base = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    // c09's session artifact — one build, two consumers
    val (loaded, off) = EmbeddingOps.vecAdmissionArtifact(ss, d)
    val incoming = EmbeddingOps.admissionVecBatch(
      readEmbeddings(ss, d).select(col("vec_id"), col("embedding")), off)
    // both gates are independent drains — one concurrent batch
    // (guide §2.6), identical plans and results
    val Seq(exact, semHits) = drain(
      memorySink(Gates.vecExactFlags(incoming, base), "append", "s35_universe"),
      memorySink(EmbeddingOps.semanticGateCandidates(ss, incoming,
        loaded.assigned, loaded.model), "append", "s35_sem")).map(table)
    val attributed = Gates.vecFirstGate(
      exact.select(col("vec_id")).distinct(), exact, semHits)
    PackOps.admissionHistogram(ss, attributed,
      Seq("1_exact", "2_semantic"))
      .orderBy(col("stage"))
  }

  /** s37 — STREAMING multimodal PAIR admission (c12 on the live path,
    * completing the admission lattice: single-space batch c08/c09,
    * single-space stream s34/s35, composed batch c12, composed stream
    * HERE): the (document, embedding) pair increment arrives as a
    * stream — the doc members through s34's four intra-free gate
    * drains ([[docGateStreams]]), the vec submissions derived per-row
    * by c12's shared pairing rule
    * ([[graft.operators.PackOps.pairVecAssignment]] — a stateless
    * stream-static join on the base id) and gated by the two vec
    * gates s35 drains ([[graft.operators.Gates.vecExactFlags]] and the
    * distinct-free semantic candidate emission). Every gate and both
    * attributions are the batch rows' own ([[graft.operators.Gates]]). The
    * conjunction matrix — rejection in EITHER key space vetoes the
    * pair — is batch work over the drained sinks. c12's closed form
    * transfers with the intra-free doc attribution; the COMMIT half of
    * the live path is s26's witnessed row (the veto's commit-gating is
    * c12's batch witness).
    *
    * 100 TB shape: every gate is stream ⋈ static on a uniform key
    * (digest / (band,bucket) / passage hash / cell id / 64-bit vec
    * hash); the pair join rides the stream row-locally; state is
    * increment-sized per-doc counters only. */
  def streamMultimodalAdmission(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{DedupOps, EmbeddingOps, Gates, PackOps}
    val ss = streamSession(s)
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val offD = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val baseE = graft.sources.Tables.embeddings(ss, d)
      .select(col("vec_id"), col("embedding"))
    val (loaded, offV) = EmbeddingOps.vecAdmissionArtifact(ss, d)
    // doc side: s34's four streamed gates (docGateStreams); vec side:
    // the pair submissions ride the SAME document stream. All six
    // gates are independent drains, so they run as ONE concurrent
    // batch (guide §2.6) — plans and results identical to sequential
    // drains.
    val (docStreams, composeDoc) = docGateStreams(ss, d)
    val vecStream = PackOps.pairVecAssignment(
      Gates.admissionIncrement(
        readDocuments(ss, d).select(col("doc_id"), col("text")), offD)
        .select(col("doc_id")),
      baseE, offD, offV)
      .select(col("vec_id"), col("embedding"))
    val drained = drain(docStreams ++ Seq(
      memorySink(Gates.vecExactFlags(vecStream, baseE), "append", "s37_exact"),
      memorySink(EmbeddingOps.semanticGateCandidates(ss, vecStream,
        loaded.assigned, loaded.model), "append", "s37_sem")): _*).map(table)
    val docAttr = composeDoc(drained.take(4))
    val (vecExact, vecSem) = (drained(4), drained(5))
    // composition: the conjunction matrix over the drained sinks
    val vecGate = Gates.vecFirstGate(
        vecExact.select(col("vec_id")).distinct(), vecExact, vecSem)
      .withColumnRenamed("gate", "vec_gate")
    val pairs = PackOps.pairVecAssignment(
      docAttr.select(col("doc_id"), col("gate").as("doc_gate")),
      baseE, offD, offV)
      .join(vecGate, Seq("vec_id"))
    val bothAdmit = col("doc_gate") === "admitted" &&
      col("vec_gate") === "admitted"
    pairs.groupBy(col("doc_gate"), col("vec_gate"))
      .agg(count(lit(1)).as("n"))
      .select(concat(col("doc_gate"), lit("*"), col("vec_gate"))
          .as("stage"),
        col("n").as("n_in"),
        when(bothAdmit, lit(0L)).otherwise(col("n")).as("n_rejected"),
        when(bothAdmit, col("n")).otherwise(lit(0L)).as("n_admitted"))
      .orderBy(col("stage"))
  }

  /** s30 — STREAMING tombstone ingestion (e21 on the live path,
    * completing the takedown lifecycle: deletion events — DMCA
    * notices, GDPR requests, recrawl removals — arrive as a STREAM in
    * a deployment, not as a batch job): the e21 double-planted index
    * is persisted and loaded; the takedown set (every other query's
    * first twin) arrives as a vector stream whose micro-batches commit
    * to the tombstone log through the SAME
    * [[graft.api.IvfStore.appendTombstones]] manifest protocol
    * (replayed batchIds skip — a redelivered delete event can never
    * corrupt the log); after the drain, e13's whole batch is served
    * against loaded-index MINUS committed-tombstones. e21's
    * closed-form selective oracle transfers verbatim: the batch and
    * streaming delete paths must agree row-for-row.
    *
    * 100 TB shape: per micro-batch, one ids-sized staged write + one
    * manifest CAS — the takedown stream never touches the corpus; the
    * serve-side honor is the same broadcast anti-join as e21. */
  def streamTombstoneServe(s: SparkSession, d: String): DataFrame = {
    import graft.operators.EmbeddingOps.{sharedIndex, Geometry}
    val ss = streamSession(s)
    val shared = sharedIndex(ss, d, Geometry.DoublePlanted)
    val off = shared.off
    val root = graft.sources.TmpDirs.artifactRoot(ss, d, "s30")
    val dir = graft.api.IvfStore.versionedDir(
      root, shared.cells, java.time.LocalDate.ofEpochDay(0))
    graft.api.IvfStore.saveOnce(dir, shared.index)
    val loaded = graft.api.IvfStore.load(ss, dir)
    val tombRoot = s"$root/tombstones"
    val takedown = readEmbeddings(ss, d)
      .filter(col("vec_id") %
        (2 * graft.operators.EmbeddingOps.BatchQueryMod) === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"))
    drain(takedown.writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        graft.api.IvfStore.appendTombstones(tombRoot, batch.toDF(), batchId))
      .option("checkpointLocation", s"$root/chk"))
    graft.operators.EmbeddingOps.batchServeAgainst(
      graft.operators.EmbeddingOps.IvfIndex(
        graft.api.IvfStore.minusTombstones(loaded.assigned, ss, tombRoot),
        loaded.model), off)
  }

  /** s27 — STREAMING near-dup probe against the STORED LSH band index
    * (d20 on the live path — the LSH side of s26):
    * the existing corpus's pruned band index is persisted through
    * [[graft.api.DocIndexStore.Lsh]] and loaded back; the incoming
    * document stream — d11's exact scenario, novel docs plus re-fetched
    * content under fresh crawl ids — computes its band buckets
    * ROW-LOCALLY ([[graft.operators.DedupOps.minhashBandsRowLocal]]:
    * same hash/band math as the index build, reduced in-row so the
    * stream plan stays stateless) and equi-joins the loaded index on
    * (band, bucket) per micro-batch — stream-static, s14's posture at
    * the near-dup grain. The planted projection filters BEFORE the
    * roll-up (stateless), and pair distinctness is one complete-mode
    * aggregation (a pair can meet in up to 8 shared bands). d11's
    * planted oracle transfers verbatim.
    *
    * 100 TB shape: the probe is batch ⋈ index on the uniform
    * (band, bucket) key — never corpus ⋈ corpus; at deployment the
    * store is bucketed by the probe key so the join is co-located,
    * and the index is maintained by the indexing job (s26's shape),
    * not rebuilt per batch. */
  def streamLshProbe(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val docs = graft.sources.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val dir = graft.api.DocIndexStore.Lsh.versionedDir(
      graft.sources.TmpDirs.artifactRoot(ss, d, "s27"),
      java.time.LocalDate.ofEpochDay(0))
    // base store = the probe's INPUT, billed once per session; the
    // probe of the LOADED index below stays per-run
    graft.api.DocIndexStore.Lsh.saveOnce(dir, existing)
    val loaded = graft.api.DocIndexStore.Lsh.load(ss, dir)
      .select(col("doc_id").as("src_id"), col("band"), col("bucket"))
    val incoming = graft.operators.DedupOps.lshIncomingBatch(
      readDocuments(ss, d).select(col("doc_id"), col("text")), off)
    val hits = graft.operators.DedupOps.minhashBandsRowLocal(incoming)
      .select(col("doc_id").as("in_id"), col("band"), col("bucket"))
      .join(loaded, Seq("band", "bucket"))
      .filter(col("in_id") === col("src_id") + lit(off))
      .groupBy(col("in_id"), col("src_id"))
      .agg(count(lit(1)).as("__n"))
      .select(col("in_id"), col("src_id"))
    runToMemory(hits, "complete", "s27_stream_lsh_probe")
      .orderBy(col("in_id"))
  }

  /** s23 — STREAMING token accounting under the LEARNED tokenizer (the
    * deployment split of the t18/p13 unit of account — a pipeline
    * meters ingest in the same units it bills training in): documents
    * stream through the tokenizer's apply surface — the SAME
    * size-guarded (word, n_sym) pieces relation as t18/t19/p13
    * ([[graft.operators.BpeOps.piecesFor]], the shared-definition
    * discipline) joined stream-static per micro-batch (s13's posture)
    * — into per-source word/piece totals. Complete-mode memory sink;
    * AvailableNow drains the corpus, so the final state must equal the
    * batch aggregation and the oracle composes the t16 chain with the
    * per-source roll-up.
    *
    * 100 TB shape: the pieces relation is vocabulary-sized (broadcast
    * under the guard ceiling), the aggregation state is sources-sized
    * — both constant in stream length. Note the pieces memo keys on
    * the stream CLONE session (Intermediates is deliberately
    * session-scoped for conf isolation), so a sweep that runs both
    * t18 and s23 materializes the vocabulary-sized relation twice —
    * once per session, both released at family boundaries; the right
    * trade for keeping the clone's conf cap from leaking into batch
    * plans. */
  def streamTokenStats(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val pieces = graft.operators.BpeOps.piecesFor(ss, d,
      graft.operators.BpeOps.trainedMerges(ss, d), "t18")
    val agg = readDocuments(ss, d)
      .select(col("source"),
        // RAW whitespace words — the tokenizer's own input surface
        // (r13 full-alphabet change): the stream-side join key must
        // match the pieces relation and the rawTokSql oracle, or any
        // non-clean-invariant text silently drops in the join
        explode(graft.operators.BpeOps.rawWords(col("text")))
          .as("word"))
      .join(pieces, "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
    runToMemory(agg, "complete", "s23_stream_token_stats")
      .orderBy(col("source"))
  }

  private val streamTokenStatsSql =
    s"""WITH ${graft.operators.BpeOps.docBpeCtesSql},
       |tw AS (SELECT d.source, p.n_sym
       |       FROM t2 t JOIN pieces p USING (word)
       |       JOIN documents d ON d.doc_id = t.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM tw GROUP BY source ORDER BY source""".stripMargin

  /** Latest store version strictly BELOW the current batch id: on a
    * foreachBatch replay after a crash, a partially-written
    * `store_v{batchId}` from the failed attempt must never be read as
    * the previous state — strictly-less + full overwrite makes the
    * merge exactly-once under at-least-once batch delivery. */
  private val StoreVersion = "store_v(\\d+)".r

  private def prevStoreVersion(dir: String, batchId: Long): Option[Long] = {
    val f = new java.io.File(dir)
    Option(f.list()).toSeq.flatten
      .collect { case StoreVersion(v) => v.toLong }
      .filter(_ < batchId)
      .maxOption
  }

  /** One foreachBatch merge step: reduce the incoming micro-batch to its
    * latest row per key FIRST (shrinks the union side to ≤ |batch keys|
    * rows before any store-sized work), union with the previous store
    * version, keep the per-key latest by (us, event_id), write the next
    * version. The store rewrite is O(|keys|) per batch — at deployment
    * scale the same merge lands on a mutable table format (Delta/Iceberg
    * MERGE) or a key-partitioned overwrite touching only dirty
    * partitions; the per-key reduction and tie-break contract carry
    * over unchanged. */
  private[graft] def upsertLatest(batch: Dataset[org.apache.spark.sql.Row],
      dir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    def latest(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val reduced = latest(batch.toDF())
    val merged = prevStoreVersion(dir, batchId) match {
      case Some(v) =>
        latest(s.read.parquet(s"$dir/store_v$v").unionByName(reduced))
      case None => reduced
    }
    merged.write.mode("overwrite").parquet(s"$dir/store_v$batchId")
  }

  /** s22 — STREAMING training-shard export (p11 at ingest — the
    * deployment split of the export family, the c04/s20 discipline
    * applied to the trainer handoff): documents stream through the
    * SAME shard-routing rule as batch p11
    * ([[graft.operators.PackOps.exportAssigned]] — one definition,
    * the two paths cannot drift), each micro-batch APPENDS its rows
    * as gzip JSONL into the shard-partitioned layout, and the emitted
    * table is the manifest aggregated from the READ-BACK files
    * ([[graft.operators.PackOps.manifestFrom]]) — so the batch p11
    * oracle transfers verbatim and the parity proves the export
    * survives the batch→streaming split with no routing or format
    * drift. Append order within a shard file varies with batch split;
    * the manifest is aggregation-only, so the contract is
    * order-independent by construction (s16's associativity stance).
    *
    * Exactly-once: each micro-batch publishes its files through
    * [[graft.sources.ExportCommit.commitOnce]] — the crash window
    * between a batch's append and its checkpoint commit is closed
    * IN-REPO: a replayed batch id is detected in the manifest BEFORE
    * staging (nothing is rewritten), an uncommitted (crashed) attempt
    * is invisible to the manifest reader. The checkpoint remains the normal-path
    * replay suppressor; the manifest is the correctness backstop
    * (ExportCommitSpec replays a batch and proves no double count). */
  def streamExportManifest(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val base = graft.sources.TmpDirs.artifactRoot(s, d, "s22")
    val shardsRoot = s"$base/shards"
    val src = graft.operators.PackOps.exportAssigned(readDocuments(ss, d))
    drain(src.writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) => {
        graft.sources.ExportCommit.commitOnce(shardsRoot, batchId)(
          batch.write.partitionBy("shard")
            .option("compression", "gzip").json(_))
        ()
      })
      .option("checkpointLocation", s"$base/chk"))
    graft.operators.PackOps.manifestFrom(
      graft.sources.ExportCommit.readCommitted(ss, shardsRoot, src.schema))
  }

  /** s16 — streaming UPSERT through a `foreachBatch` merge sink (the
    * Delta-MERGE / CDC keyed-state shape none of the other streaming
    * rows exercise): each micro-batch folds into a versioned keyed
    * store keeping the latest event per user, tie-broken by
    * (us, event_id) — deterministic under ANY AvailableNow batch split,
    * because latest-per-key is associative over batches (no
    * single-batch precondition needed, unlike the order-sensitive
    * parity rows). Restart safety comes from the checkpoint (committed
    * batches never re-fire) plus [[prevStoreVersion]]'s strictly-less
    * rule (an uncommitted batch replays over the untouched previous
    * version). The oracle is the batch latest-row-per-key query — the
    * stream's final store must reproduce it row-for-row. */
  def streamUpsert(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val dir = graft.sources.TmpDirs.artifactRoot(s, d, "s16_store")
    val src = readEvents(ss, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    drain(src.writeStream
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        upsertLatest(batch, dir, batchId))
      .option("checkpointLocation", s"$dir/chk"))
    val v = prevStoreVersion(dir, Long.MaxValue).getOrElse(
      throw new IllegalStateException(
        s"s16: no store version written under $dir — empty source?"))
    ss.read.parquet(s"$dir/store_v$v")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id"))
  }

  private val streamUpsertSql =
    """SELECT user_id, event_id AS last_event_id,
      |  round(value, 2) AS last_value
      |FROM (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
      |               event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("s02_stream_hourly", streamHourly, Some(streamHourlySql)),
    QueryDef("s13_stream_enriched", streamEnriched, Some(streamEnrichedSql)),
    QueryDef("s14_stream_ingest_dedup", streamIngestDedup,
      Some(streamIngestDedupSql)),
    QueryDef("s04_stream_sessions", streamSessions, Some(streamSessionsSql)),
    QueryDef("s05_stream_dedup", streamDedup, Some(streamDedupSql)),
    QueryDef("s06_stream_sliding", streamSliding,
      Some(graft.operators.Relational.eventsSlidingSql)),
    QueryDef("s07_stream_join", streamStreamJoin, Some(streamStreamJoinSql)),
    QueryDef("s10_closed_sessions", streamClosedSessions,
      Some(streamClosedSessionsSql)),
    QueryDef("s11_stream_hourly_append", streamHourlyAppend,
      Some(streamHourlyAppendSql)),
    QueryDef("s16_stream_upsert", streamUpsert, Some(streamUpsertSql)),
    QueryDef("s19_stream_quality_gate", streamQualityGate,
      Some(streamQualityGateSql)),
    QueryDef("s20_stream_cross_modal", streamCrossModalGate,
      Some(graft.operators.PackOps.crossModalGateSql)),
    QueryDef("s22_stream_export", streamExportManifest,
      Some(graft.operators.PackOps.exportManifestSql)),
    QueryDef("s25_stream_decontaminate", streamDecontaminate,
      Some(graft.operators.DedupOps.decontaminateSql)),
    QueryDef("s24_stream_asof_enrich", streamAsofEnrich,
      Some(graft.operators.TemporalOps.asofViewsSql)),
    QueryDef("s23_stream_token_stats", streamTokenStats,
      Some(streamTokenStatsSql)),
    // s26 serves e13's batch against the drained (loaded ∪ appended)
    // index — the closed-form serve oracle transfers verbatim
    QueryDef("s26_stream_index_append", streamIndexAppend,
      Some(graft.operators.EmbeddingOps.annBatchServeSql)),
    // s27 probes the loaded store with d11's scenario — the planted
    // oracle transfers verbatim
    QueryDef("s27_stream_lsh_probe", streamLshProbe,
      Some(graft.operators.DedupOps.incrementalNeardupSql)),
    // s28 ADC-serves against loaded ∪ streamed-appended PQ codes —
    // e16's closed-form oracle transfers verbatim (see s28 doc)
    QueryDef("s28_stream_pq_append", streamPqAppend,
      Some(graft.operators.EmbeddingOps.annIvfPqServeSql)),
    // s29 answers a QUERY stream against the loaded artifact — e13's
    // closed-form serve oracle transfers row-for-row (see s29 doc)
    QueryDef("s29_stream_ann_serve", streamAnnServe,
      Some(graft.operators.EmbeddingOps.annBatchServeSql)),
    // s31 answers a QUERY stream through the ADC kernel against loaded
    // tombstone-filtered codes — e24's oracle verbatim (see s31 doc)
    QueryDef("s31_stream_pq_serve", streamPqServe,
      Some(graft.operators.EmbeddingOps.tombstonePqServeSql)),
    // s32 answers the "already in my corpus?" question per micro-batch
    // against the loaded passage store — d17's oracle verbatim
    QueryDef("s32_stream_passage_probe", streamPassageProbe,
      Some(graft.operators.DedupOps.incrementalPassageDedupSql)),
    // s33 emits the winnow screening queue (candidate gate) against the
    // loaded fingerprint archive — the d24 oracle's gate relation
    QueryDef("s33_stream_winnow_gate", streamWinnowGate,
      Some(graft.operators.DedupOps.winnowStreamGateSql)),
    // s30 streams the TAKEDOWN events into the tombstone log — e21's
    // selective closed-form oracle transfers verbatim (see s30 doc)
    QueryDef("s30_stream_tombstones", streamTombstoneServe,
      Some(graft.operators.EmbeddingOps.tombstoneServeSql)),
    // s34 runs c08's admission waterfall on the live path — the
    // intra-free closed-form histogram (see s34 doc)
    QueryDef("s34_stream_admission", streamAdmission,
      Some(graft.operators.PackOps.streamAdmissionSql)),
    // s35 runs c09's vector gates on the live path — c09's phase-1
    // closed form, reshaped (see s35 doc)
    QueryDef("s35_stream_embedding_admission", streamEmbeddingAdmission,
      Some(graft.operators.EmbeddingOps.streamEmbeddingAdmissionSql)),
    // s36 flips the serve pointer BETWEEN micro-batches of one live
    // drain — e27's closed form reshaped to the stream (see s36 doc)
    QueryDef("s36_stream_pointer_flip", streamPointerFlip,
      Some(graft.operators.EmbeddingOps.pointerFlipSql)),
    // s37 admits (doc, embedding) PAIRS on the live path — c12's
    // conjunction matrix with the intra-free doc gates (see s37 doc)
    QueryDef("s37_stream_multimodal_admission", streamMultimodalAdmission,
      Some(graft.operators.PackOps.streamMultimodalSql)),
    // s38/s39/s40 carry s36's mid-drain live reload to the three
    // remaining store families — per-batch pointer resolve, phase
    // closed forms per family (see docs)
    QueryDef("s38_stream_lsh_flip", streamLshFlip,
      Some(graft.operators.DedupOps.streamLshFlipSql)),
    QueryDef("s39_stream_passage_flip", streamPassageFlip,
      Some(graft.operators.DedupOps.streamPassageFlipSql)),
    QueryDef("s40_stream_winnow_flip", streamWinnowFlip,
      Some(graft.operators.DedupOps.streamWinnowFlipSql)),
    // s41 runs the ENTIRE maintenance day (trigger→fold→adopt→retire→
    // prune) BETWEEN micro-batches of a live drain — s36's phase
    // oracle transfers verbatim (see s41 doc)
    QueryDef("s41_stream_janitor_live", streamJanitorLive,
      Some(graft.operators.EmbeddingOps.pointerFlipSql)),
    // s42 flips the COMPRESSED (IVF-PQ) serving artifact mid-drain —
    // e24's selective closed form phase-split (see s42 doc)
    QueryDef("s42_stream_pq_flip", streamPqFlip,
      Some(graft.operators.EmbeddingOps.streamPqFlipSql)),
    // s43 pointer-addresses the TOKENIZER artifact and flips it to the
    // retrained vocabulary mid-drain — s23/t22's phase-split totals
    QueryDef("s43_stream_tokenizer_flip", streamTokenizerFlip,
      Some(graft.operators.BpeOps.tokenizerFlipPhasedSql)),
    // s44 flips the kmeans+vocab MODEL to m18's survivor refit
    // mid-drain — the m10 closed form phase-split across the two
    // vocabularies
    QueryDef("s44_stream_model_flip", streamModelFlip,
      Some(graft.ml.MlQueries.streamModelFlipSql)))

  /** Open-session accumulator: last-seen epoch second + running counts. */
  final case class SessionState(lastSec: Long, startSec: Long, n: Long, sum: Double)

  /** A session emitted when its inactivity gap elapses. */
  final case class ClosedSession(user_id: Long, start_sec: Long, end_sec: Long,
                                 n_events: Long, sum_value: Double)

  /** Custom state via flatMapGroupsWithState: gap-based sessionization
    * that EMITS each closed session exactly once (zero or many outputs
    * per invocation — the shape mapGroupsWithState's one-output contract
    * can't express). With `idleFlush` a processing-time timeout emits the
    * final open session when a key goes quiet (deployment shape; keeps
    * the engine scheduling timer batches, so tests that drain with
    * processAllAvailable disable it — an open session simply isn't
    * closed yet). Within a batch, events are sorted per key (bounded by
    * the group's batch slice); sessions close when the gap between
    * consecutive events exceeds `gapSec`. State carries ONE open session
    * per user — O(keys), not O(events). */
  def closedSessions(events: DataFrame, gapSec: Long = 1800,
                     idleFlush: Boolean = true): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleFlush) org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout()
      else org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()
    events.select(col("user_id").cast("long"),
        unix_timestamp(col("ts")).as("sec"), col("value").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(user, s.startSec, s.lastSec, s.n, s.sum))
          } else {
            // Memory bound: sortBy buffers this key's slice of ONE
            // micro-batch (not the stream) — O(events per key per batch),
            // the same transient bound as any per-key sort, and bounded
            // further by the micro-batch size the source admits.
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var cur = state.getOption
            // Straggler accumulator: events more than gapSec OLDER than
            // the open session's start can never belong to it — they form
            // their own earlier session(s), sessionized among themselves
            // and emitted closed (the gap to the open start already
            // elapsed). Widening the open session instead — the old
            // behavior — glued sessions across hours-long gaps.
            var early: Option[SessionState] = None
            for ((_, sec, v) <- sorted) {
              cur match {
                case Some(s) if sec < s.startSec - gapSec =>
                  early match {
                    // sorted order ⇒ sec >= e.lastSec within the batch
                    case Some(e) if sec - e.lastSec <= gapSec =>
                      early = Some(SessionState(sec, e.startSec, e.n + 1, e.sum + v))
                    case Some(e) =>
                      closed += ClosedSession(user, e.startSec, e.lastSec, e.n, e.sum)
                      early = Some(SessionState(sec, sec, 1L, v))
                    case None =>
                      early = Some(SessionState(sec, sec, 1L, v))
                  }
                // late cross-batch events (sec behind the open session's
                // frontier but within the gap of its start) merge
                // conservatively: widen the span, never regress lastSec —
                // a regressed frontier would emit end < start sessions
                // and split on phantom gaps
                case Some(s) if sec - s.lastSec <= gapSec =>
                  cur = Some(SessionState(math.max(s.lastSec, sec),
                    math.min(s.startSec, sec), s.n + 1, s.sum + v))
                case Some(s) =>
                  closed += ClosedSession(user, s.startSec, s.lastSec, s.n, s.sum)
                  cur = Some(SessionState(sec, sec, 1L, v))
                case None =>
                  cur = Some(SessionState(sec, sec, 1L, v))
              }
            }
            // every early session ended > gapSec before the open start as
            // observed when its events arrived — emit closed. (If a later
            // in-batch straggler widened the open start back toward it,
            // the two stay separate: a conservative split, never a glue.)
            early.foreach(e =>
              closed += ClosedSession(user, e.startSec, e.lastSec, e.n, e.sum))
            cur.foreach { s =>
              state.update(s)
              if (idleFlush) state.setTimeoutDuration(gapSec * 1000)
            }
            closed.iterator
          }
      }
  }
}
