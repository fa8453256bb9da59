package graft

import graft.streaming.EventStreams
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener}

/** Streaming operators fed through MemoryStream micro-batches, compared
  * against their batch analogs on the same data. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          name: String, mode: String): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q
  }

  test("per-provider unload: finishing one stream leaves a concurrent stream's state loaded") {
    // two live STATEFUL streams (r11 verdict ask #4 — the scenario the
    // old process-global StateStore.stop() could not survive)
    val in1 = MemoryStream[(Long, Timestamp)]
    val in2 = MemoryStream[(Long, Timestamp)]
    def agg(src: MemoryStream[(Long, Timestamp)]) =
      src.toDF().toDF("k", "ts")
        .withWatermark("ts", "1 hour")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    in1.addData((1L, ts(0)), (2L, ts(1)))
    in2.addData((7L, ts(0)), (8L, ts(1)))
    val q1 = agg(in1).writeStream.format("memory").queryName("unload_a")
      .outputMode("update").start()
    val q2 = agg(in2).writeStream.format("memory").queryName("unload_b")
      .outputMode("update").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      def of(run: java.util.UUID) =
        EventStreams.loadedProviderIds.filter(_.queryRunId == run)
      assert(of(q1.runId).nonEmpty, "q1 providers loaded")
      assert(of(q2.runId).nonEmpty, "q2 providers loaded")
      // finish q1 through the harness path: stop + per-provider unload
      q1.stop()
      EventStreams.unloadProvidersOf(q1.runId)
      assert(of(q1.runId).isEmpty, "q1 providers unloaded")
      assert(of(q2.runId).nonEmpty, "q2 providers SURVIVE q1's unload")
      // q2 is still live and processing with its surviving state
      in2.addData((7L, ts(2)))
      q2.processAllAvailable()
      val n7 = spark.table("unload_b").filter(col("k") === 7L)
        .agg(max(col("n"))).as[Long].head()
      assert(n7 === 2L, "q2 state accumulated across q1's teardown")
    } finally {
      if (q1.isActive) q1.stop()
      q2.stop()
      EventStreams.unloadProvidersOf(q2.runId)
    }
  }

  test("hourlyCounts: closed windows match the batch aggregation") {
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    // batch 1: two hours of events; batch 2: late watermark push
    in.addData((1L, ts(5), "click", 1.0), (2L, ts(20), "click", 2.0),
      (3L, ts(70), "view", 3.0))
    val q = runToMemory(EventStreams.hourlyCounts(events), "hourly", "append")
    // watermark far ahead closes both earlier windows
    in.addData((4L, ts(600), "click", 1.0))
    q.processAllAvailable()
    in.addData((5L, ts(1300), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT event_type, n_events, sum_value FROM hourly")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.contains(("click", 2L, 3.0)))
    assert(got.contains(("view", 1L, 3.0)))
  }

  test("dedupEvents collapses in-watermark duplicate event ids") {
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    in.addData((1L, ts(0), "click", 1.0), (1L, ts(1), "click", 1.0),
      (2L, ts(2), "view", 2.0), (1L, ts(3), "click", 1.0))
    val q = runToMemory(EventStreams.dedupEvents(events), "dedup", "append")
    q.stop()
    val got = spark.sql("SELECT event_id FROM dedup")
      .collect().map(_.getLong(0)).sorted
    assert(got === Array(1L, 2L))
  }

  test("userSessions groups by 30-minute inactivity gaps") {
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "value")
    // user 7: events at 0,10 (one session), 50 (new session: 40min gap)
    in.addData((1L, ts(0), 7L, 1.0), (2L, ts(10), 7L, 1.0), (3L, ts(50), 7L, 1.0))
    val q = runToMemory(EventStreams.userSessions(events), "sessions", "append")
    in.addData((9L, ts(900), 7L, 1.0)) // advance watermark, close sessions
    q.processAllAvailable()
    in.addData((10L, ts(2000), 7L, 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT user_id, n_events FROM sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((7L, 2L)), s"first session missing: $got")
    assert(got.contains((7L, 1L)), s"second session missing: $got")
  }

  test("flatMapGroupsWithState emits each closed session exactly once") {
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = EventStreams.closedSessions(events, gapSec = 1800, idleFlush = false)
      .toDF().writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    // user 7: session A (minutes 0,10), then 40-min silence, session B (50)
    in.addData((1L, ts(0), 7L, 1.0), (2L, ts(10), 7L, 2.0))
    q.processAllAvailable()
    // next batch: event at minute 50 closes session A (gap > 30 min)
    in.addData((3L, ts(50), 7L, 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, n_events, sum_value FROM closed_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet === Set((7L, 2L, 3.0)), s"got ${got.toSeq}")
  }

  test("closedSessions merges late cross-batch events without regressing the frontier") {
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = EventStreams.closedSessions(events, gapSec = 1800, idleFlush = false)
      .toDF().writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    in.addData((1L, ts(50), 7L, 1.0))
    q.processAllAvailable()
    // late event (minute 40, behind the frontier) must merge, not split
    in.addData((2L, ts(40), 7L, 2.0))
    q.processAllAvailable()
    // minute 100: 50-min silence since the TRUE frontier (50) closes A
    in.addData((3L, ts(100), 7L, 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, start_sec, end_sec, n_events, sum_value FROM late_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length === 1, s"got ${got.toSeq}")
    val (u, start, end, n, sum) = got.head
    assert(u === 7L && n === 2L && sum === 3.0)
    assert(end - start === 600L, "session spans minutes 40..50")
  }

  test("closedSessions closes an hours-late event as its own earlier session") {
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = EventStreams.closedSessions(events, gapSec = 1800, idleFlush = false)
      .toDF().writeStream.format("memory").queryName("early_sessions")
      .outputMode("append").start()
    // open session at minutes 100,110
    in.addData((1L, ts(100), 7L, 1.0), (2L, ts(110), 7L, 2.0))
    q.processAllAvailable()
    // hours-late stragglers at minutes 0 and 10: > gapSec older than the
    // open start, so they are their own session (sessionized together),
    // emitted closed — NOT merged into the open session (the old behavior
    // widened the span to minutes 0..110, gluing across a 90-min gap)
    in.addData((3L, ts(0), 7L, 4.0), (4L, ts(10), 7L, 8.0))
    q.processAllAvailable()
    val afterLate = spark.sql(
      "SELECT start_sec, end_sec, n_events, sum_value FROM early_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(afterLate.toSet === Set((ts(0).getTime / 1000, ts(10).getTime / 1000, 2L, 12.0)),
      s"got ${afterLate.toSeq}")
    // minute 200: 90-min silence closes the open session — which must
    // still span 100..110 (un-widened by the stragglers)
    in.addData((5L, ts(200), 7L, 16.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.sql(
      "SELECT start_sec, end_sec, n_events, sum_value FROM early_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(all.toSet === Set(
      (ts(0).getTime / 1000, ts(10).getTime / 1000, 2L, 12.0),
      (ts(100).getTime / 1000, ts(110).getTime / 1000, 2L, 3.0)), s"got ${all.toSeq}")
  }

  test("closedSessions batch form closes every gap-separated session but the open one") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(0), 7L, 1.0), (2L, ts(10), 7L, 2.0),   // session A
      (3L, ts(50), 7L, 4.0),                          // session B (gap 40m)
      (4L, ts(100), 7L, 8.0),                         // session C (gap 50m) — stays open
      (5L, ts(0), 9L, 1.0))                           // user 9 — stays open
      .toDF("event_id", "ts", "user_id", "value")
    val got = EventStreams.closedSessions(events, gapSec = 1800, idleFlush = false)
      .collect().map(s => (s.user_id, s.n_events, s.sum_value)).toSet
    assert(got === Set((7L, 2L, 3.0), (7L, 1L, 4.0)))
  }

  test("EnrichStage runs unchanged on a streaming source (§2.12 enrichment-as-stream)") {
    // the reference's chunked enrichment protocol maps to readStream +
    // mapPartitions + checkpointed writeStream; the SAME EnrichStage
    // transform works on an unbounded Dataset
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val enriched = graft.enrich.EnrichStage.enrich(
      docs, graft.enrich.DeterministicEnricher)
    assert(enriched.isStreaming)
    in.addData((1L, "alpha"), (2L, "beta"))
    val q = enriched.writeStream.format("memory").queryName("enrichstream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id, topic_response FROM enrichstream")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(
      1L -> graft.enrich.DeterministicEnricher.enrich(1L, "alpha"),
      2L -> graft.enrich.DeterministicEnricher.enrich(2L, "beta")))
  }

  test("s02 streaming harness row reproduces the q15 batch aggregation exactly") {
    val streamed = EventStreams.streamHourly(spark, sfTiny)
      .collect().map(_.toSeq)
    val batch = graft.operators.Relational.eventsHourly(spark, sfTiny)
      .collect().map(_.toSeq)
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s13 stream-static enrichment reproduces the batch dimension join") {
    val streamed = EventStreams.streamEnriched(spark, sfTiny)
      .collect().map(_.toSeq)
    val batch = graft.sources.Tables.events(spark, sfTiny)
      .join(graft.sources.Tables.customer(spark, sfTiny)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("value"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("segment"))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s14 streaming ingest dedup reproduces the batch incremental dedup") {
    import spark.implicits._
    val streamed = EventStreams.streamIngestDedup(spark, sfTiny)
      .as[Long].collect().toSeq
    val batch = graft.operators.DedupOps.incrementalDedup(spark, sfTiny)
      .as[Long].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("s05 streaming dedup collapses at-least-once replay to the distinct id set") {
    import spark.implicits._
    val got = EventStreams.streamDedup(spark, sfTiny)
      .as[Long].collect().toSeq
    val want = graft.sources.Tables.events(spark, sfTiny)
      .select(org.apache.spark.sql.functions.col("event_id"))
      .as[Long].collect().sorted.toSeq
    assert(got === want)
  }

  test("s10 harness row equals batch sessionization minus each user's final session") {
    import org.apache.spark.sql.expressions.Window
    val got = EventStreams.streamClosedSessions(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    // batch analog: inclusive-gap sessionize, drop the last session per
    // user; lag and the running sum share one full-precision total order
    // (ts, event_id) so same-second boundary ties cannot mis-assign
    val ev = graft.sources.Tables.events(spark, sfTiny)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    val want = sess
      .withColumn("last_sid", max(col("sid")).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("sid") < col("last_sid"))
      .select(col("user_id"), col("start_sec"), col("end_sec"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_sec"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("s11 append-mode file sink emits exactly the watermark-closed windows") {
    val got = EventStreams.streamHourlyAppend(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    // batch analog: q15's aggregation restricted to windows whose end
    // + 2h delay <= max event time (the final watermark)
    val ev = graft.sources.Tables.events(spark, sfTiny)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val want = ev
      .filter(date_trunc("hour", col("ts"))
        + expr("INTERVAL 3 HOURS") <= lit(maxTs))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "append sink emitted nothing — watermark never flushed")
    assert(got === want)
  }

  test("s16 foreachBatch merge is batch-split invariant and replay-idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_s16_spec").toFile.getAbsolutePath
    // rows: (user_id, us, event_id, value) with an equal-time tie for
    // user 1 (event 5 must win: larger event_id at the same us)
    val all = Seq(
      (1L, 100L, 1L, 10.0), (1L, 300L, 4L, 40.0), (1L, 300L, 5L, 50.0),
      (2L, 200L, 2L, 20.0), (3L, 50L, 3L, 30.0))
    def df(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("user_id", "us", "event_id", "value")
    // split A: two batches cutting across users and times
    EventStreams.upsertLatest(df(all.take(2)), s"$dir/a", 0L)
    EventStreams.upsertLatest(df(all.drop(2)), s"$dir/a", 1L)
    // split B: everything in one batch
    EventStreams.upsertLatest(df(all), s"$dir/b", 0L)
    def state(p: String): Set[(Long, Long, Double)] =
      spark.read.parquet(p)
        .select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)].collect().toSet
    val a = state(s"$dir/a/store_v1")
    assert(a === state(s"$dir/b/store_v0"))
    assert(a === Set((1L, 5L, 50.0), (2L, 2L, 20.0), (3L, 3L, 30.0)))
    // replay of batch 1 (at-least-once redelivery): same final state —
    // the strictly-less version rule re-merges over store_v0, not over
    // the partially/fully written store_v1
    EventStreams.upsertLatest(df(all.drop(2)), s"$dir/a", 1L)
    assert(state(s"$dir/a/store_v1") === a)
  }

  test("s16 harness row reproduces the batch latest-event-per-user query") {
    import org.apache.spark.sql.functions._
    val got = rows(EventStreams.streamUpsert(spark, sfTiny))
    val ev = graft.sources.Tables.events(spark, sfTiny)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(desc("ts"), desc("event_id"))
    val want = rows(ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id")))
    assert(got === want)
  }

  test("s19 streaming quality gate reproduces the batch gate exactly") {
    import org.apache.spark.sql.functions._
    val got = rows(EventStreams.streamQualityGate(spark, sfTiny))
    // batch analog through the SAME shared Score definitions
    val want = rows(graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"),
        graft.operators.TextOps.Score.qualityScore.as("quality_score"),
        graft.operators.TextOps.Score.markerRatio.as("marker_ratio"))
      .filter(col("quality_score") >= 0.85 && col("marker_ratio") >= 0.08)
      .orderBy(col("doc_id")))
    assert(got === want)
    assert(got.nonEmpty, "the gate must pass some documents")
    // and it is a REAL gate on this corpus, not a pass-through
    val total = graft.sources.Tables.documents(spark, sfTiny).count()
    assert(got.length < total, "the gate must drop some documents")
  }

  test("s20 streaming cross-modal gate reproduces batch c04 row-for-row") {
    val got = rows(EventStreams.streamCrossModalGate(spark, sfTiny))
    val want = rows(graft.operators.PackOps.crossModalGate(spark, sfTiny))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("s22 streaming export reproduces batch p11's manifest row-for-row") {
    // same routing rule, same manifest tail, different write path —
    // batch→streaming parity for the trainer handoff
    val got = rows(EventStreams.streamExportManifest(spark, sfTiny))
    val want = rows(graft.operators.PackOps.exportManifest(spark, sfTiny))
    assert(got === want)
    assert(got.nonEmpty)
    // a second streaming run past the checkpoint is a no-op append —
    // the manifest must be run-stable
    assert(rows(EventStreams.streamExportManifest(spark, sfTiny)) === got)
  }

  test("s24 streaming as-of enrichment equals the batch q35 operator row-for-row") {
    val got = EventStreams.streamAsofEnrich(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.TemporalOps.asofViews(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want)
    // the enrichment actually fires: some events carry a matched
    // version, and the tolerance nulling leaves some unmatched
    assert(want.exists(r => r(3) != null))
  }

  test("s25 streaming decontamination equals the batch d09 operator row-for-row") {
    val got = EventStreams.streamDecontaminate(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.DedupOps.decontaminate(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty) // the planted leaks are visible
    assert(got === want)
  }

  test("readEvents streams the parquet events table (AvailableNow smoke)") {
    val stream = EventStreams.readEvents(spark, sfTiny)
    assert(stream.isStreaming)
    val q = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("evsmoke")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    val streamed = spark.sql("SELECT sum(n) FROM evsmoke").collect().head.getLong(0)
    val batch = graft.sources.Tables.events(spark, sfTiny).count()
    assert(streamed === batch)
  }

  test("s34 streaming admission equals batch c08's waterfall stage-for-stage") {
    // the streaming waterfall omits only the intra-batch keep-first
    // gate; at this fixture c08 attributes ZERO docs to it, so the two
    // histograms must agree exactly under the stage renumbering. The
    // guard names the fixture change that would invalidate the parity.
    val c08 = graft.operators.PackOps.crawlAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .filter(_._1 == 1L)
    val intra = c08.find(_._2 == "2_exact_intra").get
    assert(intra._4 === 0L,
      "fixture grew intra-batch dups — rebuild this parity against them")
    val rename = Map("1_exact_store" -> "1_exact_store",
      "3_neardup" -> "2_neardup", "4_passage" -> "3_passage",
      "5_decontam" -> "4_decontam")
    val expect = c08.filter(_._2 != "2_exact_intra")
      .map(r => (rename(r._2), r._3, r._4, r._5)).toSeq
    val got = EventStreams.streamAdmission(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === expect)
    // something was actually gated on the live path
    assert(got.map(_._3).sum > 0L)
  }

  test("s35 streaming embedding admission equals batch c09's phase 1 stage-for-stage") {
    val c09 = graft.operators.EmbeddingOps.embeddingAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .filter(_._1 == 1L)
      .map(r => (r._2, r._3, r._4, r._5)).toSeq
    val got = EventStreams.streamEmbeddingAdmission(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === c09)
    assert(got.map(_._3).sum > 0L) // the gates actually fire live
  }

  test("s36 mid-stream pointer flip: batch parity with e27's phases, flip lands between micro-batches") {
    // batch parity: the streamed drain's two phases must equal e27's
    // batch phases 1-2 row-for-row (the pre-rollout and post-rollout
    // serves) — the live-reload path and the batch adoption path
    // cannot drift
    val e27 = graft.operators.EmbeddingOps.annVersionRollback(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 <= 2L).toSeq
    val got = EventStreams.streamPointerFlip(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === e27)
    // both phases served the full query set (the flip separated
    // batches, it did not drop or split one)
    val byPhase = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byPhase(1L) === byPhase(2L))
    assert(byPhase(1L) > 0)
  }

  test("s38/s41 in-drain janitor: fold adopted, debt retired, history pruned, replay-stable") {
    // the maintenance day ran BETWEEN micro-batches — afterwards the
    // operational state must look exactly like a finished e28/d30 day:
    // the pointer names the fold, the folded tombstone log is retired
    // (the r17 ADVICE crash-leak fix, witnessed on the LIVE rows), and
    // the audit trail is pruned to the rollback horizon. A replayed
    // drain serves the adopted fold without re-accruing debt.
    for ((name, tag) <- Seq(("s38_stream_lsh_flip", "s38"),
        ("s41_stream_janitor_live", "s41"))) {
      val first = rows(SparkEntry.queries(name)(spark, sfTiny))
      val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, tag)
      val ptr = s"$root/pointer"
      val current = graft.api.ServePointer.current(ptr)
      assert(current.exists(d => d.contains("fold") ||
          d.contains("1970-01-02")),
        s"$name: pointer does not name the fold after the drain ($current)")
      assert(!new java.io.File(s"$root/tombstones").exists(),
        s"$name: folded tombstone log leaked past the in-drain janitor")
      assert(graft.api.ServePointer.history(ptr).size <= 2,
        s"$name: audit trail not pruned to the rollback horizon")
      val again = rows(SparkEntry.queries(name)(spark, sfTiny))
      assert(again === first, s"$name: replayed drain drifted")
      assert(!new java.io.File(s"$root/tombstones").exists(),
        s"$name: the replay re-accrued retired debt")
    }
  }

  test("s37 streaming multimodal matrix equals batch c12's phase 1 cell-for-cell") {
    val c12 = graft.operators.PackOps.multimodalAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .filter(_._1 == 1L).map(r => (r._2, r._3, r._4, r._5)).toSeq
    // the stream has no intra gate (s34's argument); on these fixtures
    // the batch pair universe has no intra cell either, so the two
    // matrices must agree after the gate-name renumbering. If a future
    // corpus plants intra twins into the pair universe, this guard
    // names the divergence instead of a confusing diff below.
    assert(!c12.exists(_._1.startsWith("2_exact_intra")),
      "fixtures now plant intra twins into the pair universe — " +
        "restate this parity over the intra-free closed form")
    val renamed = c12.map { case (stage, a, b, c) =>
      (stage.replace("3_neardup", "2_neardup")
        .replace("4_passage", "3_passage")
        .replace("5_decontam", "4_decontam"), a, b, c)
    }.sortBy(_._1)
    val got = EventStreams.streamMultimodalAdmission(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === renamed)
    // the conjunction really fires live: some cell is a single-space
    // survivor vetoed by the OTHER space
    assert(got.exists(r => r._1.startsWith("admitted*") && r._3 > 0),
      "no doc-admitted pair was vetoed by the vec side")
    assert(got.exists(r => r._1.endsWith("*admitted") && r._3 > 0),
      "no vec-admitted pair was vetoed by the doc side")
  }

  test("checkpoint restart recovery: source offsets AND dedup state survive a stop/restart, sink exactly-once") {
    // the operational fault-tolerance witness behind every streaming
    // row here: a long-lived ingest job is stopped (deploy, crash,
    // preemption) and restarted against the SAME checkpoint. Structured
    // Streaming must (a) not re-read committed input, (b) restore the
    // dedup state store (a re-fetched id must stay suppressed ACROSS
    // the restart — lost state would re-emit it), and (c) keep the file
    // sink exactly-once. dropDuplicates makes both failure modes
    // visible: lost offsets re-emit 1-3, lost state re-emits 2-3.
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
      .toString
    val src = s"$root/src"
    def writeBatch(ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream.schema("id LONG").parquet(src)
        .dropDuplicates("id")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sink(): Seq[Long] = spark.read.schema("id LONG")
      .parquet(s"$root/out").as[Long].collect().sorted.toSeq
    writeBatch(Seq(1L, 2L, 3L))
    runOnce()
    assert(sink() === Seq(1L, 2L, 3L))
    // stop → new input arrives (2 and 3 are re-fetches) → RESTART
    writeBatch(Seq(2L, 3L, 4L, 5L))
    runOnce()
    assert(sink() === Seq(1L, 2L, 3L, 4L, 5L),
      "restart must process only new files and keep re-fetches suppressed")
    // restart with nothing pending: a no-op, not a replay
    runOnce()
    assert(sink() === Seq(1L, 2L, 3L, 4L, 5L))
  }

  // ---- the one bounded drain ------------------------------------------------

  test("s10's single-batch check fails a drain whose source lands in two data micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_two_batches").toString
    for (id <- Seq(1L, 2L))
      Seq(id).toDF("id").coalesce(1).write.mode("append").parquet(s"$root/src")
    val Seq(q) = EventStreams.drain(spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      .writeStream.format("memory").queryName("two_data_batches"))
    assert(spark.table("two_data_batches").count() === 2L)
    val e = intercept[IllegalArgumentException](
      EventStreams.requireOneDataBatch(q, "s10_closed_sessions"))
    assert(e.getMessage.contains("s10_closed_sessions: oracle assumes one data micro-batch, got 2"),
      e.getMessage)
    assert(e.getMessage.contains("pre-sort the source by ts"), "the message must name the fix")
  }

  test("a drain whose foreachBatch sink throws fails loudly, and releaseSinks reclaims its state providers") {
    val root = java.nio.file.Files.createTempDirectory("graft_orphan").toString
    Seq((1L, ts(0)), (2L, ts(1)), (1L, ts(2))).toDF("k", "ts")
      .coalesce(1).write.parquet(s"$root/src")
    val started = new java.util.concurrent.LinkedBlockingQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val failed = try intercept[StreamingQueryException] {
      EventStreams.drain(spark.readStream.schema("k LONG, ts TIMESTAMP")
        .parquet(s"$root/src")
        .withWatermark("ts", "1 hour")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .foreachBatch((batch: Dataset[Row], _: Long) => {
          batch.collect()
          throw new IllegalStateException("sink failed after materializing its batch")
        })
        .option("checkpointLocation", s"$root/chk"))
    } finally spark.streams.removeListener(listener)
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("sink failed")), failed)
    val run = started.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(run != null, "the drain's query never started")
    def loaded = EventStreams.loadedProviderIds.filter(_.queryRunId == run)
    assert(loaded.nonEmpty, "the failed drain's state providers were never loaded")
    EventStreams.releaseSinks(spark)
    assert(loaded.isEmpty, s"releaseSinks left the failed drain's providers loaded: $loaded")
  }

  test("a drain whose first query fails stops and releases every other query of the call") {
    import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
    val root = java.nio.file.Files.createTempDirectory("graft_drain_fail").toString
    Seq((1L, ts(0)), (2L, ts(1)), (1L, ts(2))).toDF("k", "ts")
      .coalesce(1).write.parquet(s"$root/src")
    // the second query has loaded its state and blocks until stopped;
    // only then does the first one's sink throw
    val secondLoaded = new CountDownLatch(1)
    def writer(name: String)(sink: Dataset[Row] => Unit) =
      spark.readStream.schema("k LONG, ts TIMESTAMP").parquet(s"$root/src")
        .withWatermark("ts", "1 hour")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .foreachBatch((batch: Dataset[Row], _: Long) => sink(batch))
        .option("checkpointLocation", s"$root/$name")
    val first = writer("first") { batch =>
      batch.collect()
      secondLoaded.await(60, TimeUnit.SECONDS)
      throw new IllegalStateException("first sink failed")
    }
    val second = writer("second") { batch =>
      batch.collect()
      secondLoaded.countDown()
      new CountDownLatch(1).await(60, TimeUnit.SECONDS)
    }
    val started = new LinkedBlockingQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val failed = try intercept[StreamingQueryException](EventStreams.drain(first, second))
      finally spark.streams.removeListener(listener)
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("first sink failed")), failed)
    val runs = Seq.fill(2)(started.poll(30, TimeUnit.SECONDS))
    assert(!runs.contains(null), s"both queries of the call must start: $runs")
    val active = spark.streams.active.map(_.runId).toSet
    assert(runs.forall(r => !active.contains(r)), s"a query of the failed call is still active: $active")
    def loaded = EventStreams.loadedProviderIds.filter(id => runs.contains(id.queryRunId))
    // start order is event order: the drain itself released the second
    assert(loaded.forall(_.queryRunId == runs.head), s"the stopped query kept its providers: $loaded")
    EventStreams.releaseSinks(spark)
    assert(loaded.isEmpty, s"releaseSinks left providers of the failed call loaded: $loaded")
  }

  test("a drain keeps a named checkpoint, so a re-run commits no data batch, and drops a temp one") {
    import graft.streaming.EphemeralCheckpointFileManager
    import org.apache.hadoop.fs.Path
    val eph = spark.newSession()
    eph.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[EphemeralCheckpointFileManager].getName)
    val root = java.nio.file.Files.createTempDirectory("graft_drain_chk").toString
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(s"$root/src")
    def source = eph.readStream.schema("id LONG").parquet(s"$root/src")
    def appendDrain(): StreamingQuery = EventStreams.drain(source.writeStream
      .format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")).head
    def out = eph.read.schema("id LONG").parquet(s"$root/out").as[Long].collect().sorted.toSeq
    def dataBatches(q: StreamingQuery) = q.recentProgress.count(_.numInputRows > 0)
    val held = new EphemeralCheckpointFileManager(new Path(root), new org.apache.hadoop.conf.Configuration())
    val first = appendDrain()
    assert(dataBatches(first) === 1)
    assert(out === Seq(1L, 2L, 3L))
    assert(EventStreams.tempCheckpoint(first).isEmpty, "a named checkpoint read as a temp one")
    assert(held.exists(new Path(s"$root/chk")), "the named checkpoint was dropped")
    // s11's idempotent re-run: the source is already committed
    val again = appendDrain()
    assert(dataBatches(again) === 0, "the re-run over the named checkpoint re-committed data")
    assert(out === Seq(1L, 2L, 3L))
    val mem = EventStreams.drain(source.writeStream.format("memory")
      .queryName("drain_temp_checkpoint")).head
    assert(eph.table("drain_temp_checkpoint").count() === 3L)
    val temp = EventStreams.tempCheckpoint(mem)
    assert(temp.nonEmpty, "a memory sink's checkpoint did not read as a temp one")
    assert(!held.exists(new Path(temp.get)), s"the temp checkpoint ${temp.get} is still held")
  }

  /** Code that starts or awaits a bounded streaming query (comment lines
    * are not scanned). */
  private val drainSignatures = Seq("awaitTermination(", "Trigger.AvailableNow()")

  private def drainOffenders(root: java.io.File): Seq[String] = {
    val hits = for {
      f <- MainSources.files(root)
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      sig <- drainSignatures
      if code.contains(sig)
    } yield (sig, s"${f.getPath}:${i + 1}")
    drainSignatures.flatMap { sig =>
      val at = hits.filter(_._1 == sig).map(_._2)
      if (at.size == 1) Nil else Seq(s"$sig on ${at.size} lines: ${at.mkString(", ")}")
    }
  }

  test("src/main starts and awaits every bounded streaming query in one drain") {
    val offenders = drainOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, s"drain copies in src/main: ${offenders.mkString("; ")}")
  }

  test("the drain scan fails on a copy of src/main that adds an inline drain") {
    val copy = MainSources.copyWith("streaming/Mutant.scala",
      """package graft.streaming
        |import org.apache.spark.sql.DataFrame
        |import org.apache.spark.sql.streaming.Trigger
        |object Mutant {
        |  def inlineDrain(df: DataFrame, chk: String): Unit = {
        |    val q = df.writeStream.format("noop")
        |      .option("checkpointLocation", chk)
        |      .trigger(Trigger.AvailableNow())
        |      .start()
        |    q.awaitTermination()
        |  }
        |}
        |""".stripMargin)
    val offenders = drainOffenders(copy)
    for (sig <- drainSignatures)
      assert(offenders.exists(o => o.startsWith(s"$sig on 2 lines") && o.contains("Mutant.scala")),
        s"second '$sig' not reported: $offenders")
  }
}
