package graft

import graft.sources.ExportCommit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The atomic manifest-commit protocol (r11 verdict ask #3): replay a
  * micro-batch and prove the read-back never double-counts; crashed
  * (uncommitted) attempts are invisible; versions accumulate without
  * losing prior entries; and the rewired p11/p12 operators are
  * re-run-idempotent end to end (the s16 replay-spec pattern). */
class ExportCommitSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("shard", LongType)))

  private def root(): String = java.nio.file.Files
    .createTempDirectory("graft_commit_spec").toFile.getAbsolutePath

  private def batch(ids: Seq[Long]) =
    ids.map(i => (i, s"doc $i", i % 4)).toDF("doc_id", "text", "shard")

  private def writeStaged(r: String, b: Long, ids: Seq[Long]): String = {
    val st = ExportCommit.stage(r, b)
    batch(ids).write.partitionBy("shard").json(st)
    st
  }

  test("crash-point property: stage→commit→fold→adopt→retire killed at every boundary recovers or stays invisible (96 seeded trials)") {
    // r16 verdict ask #6 — the replay specs pin CHOSEN interleavings;
    // this trial loop kills the maintenance lifecycle at EVERY
    // inter-call boundary (randomized payloads per seed) and asserts
    // the recover-or-invisible contract each time. Boundaries are
    // BETWEEN protocol calls: intra-call atomicity (the createLink
    // CAS) has its own race witnesses; what a crash between calls must
    // never produce is a reader-visible half-state — a manifest
    // naming a missing dir, a pointer naming an incomplete artifact,
    // or a double-committed batch after the recovery replay.
    import graft.api.ServePointer
    def writeArtifact(dir: String, content: Seq[Int]): Unit = {
      val f = new java.io.File(dir); f.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "data.txt"),
        content.sorted.mkString(","))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_SUCCESS"), "")
      ()
    }
    def completeArtifact(dir: String): Boolean =
      new java.io.File(dir, "_SUCCESS").isFile
    def readArtifact(dir: String): Seq[Int] = {
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "data.txt"))
      if (s.isEmpty) Seq.empty else s.split(",").map(_.toInt).toSeq
    }
    for (seed <- 0 until 12) {
      val rng = new scala.util.Random(seed)
      val base = Seq.fill(1 + rng.nextInt(4))(rng.nextInt(1000))
      val vals = Seq.fill(1 + rng.nextInt(5))(rng.nextInt(1000))
      // one lifecycle per kill boundary: 0 = nothing ran … 7 = all ran
      for (killAt <- 0 to 7) {
        val r = root() // the append root
        val art = root()
        val ptr = root()
        val v1 = s"$art/v1"
        val v2 = s"$art/v2"
        writeArtifact(v1, base)
        ServePointer.adopt(ptr, v1)
        val v2n = java.nio.file.Paths.get(v2)
          .toAbsolutePath.normalize().toString
        var staged: String = null
        val steps: Seq[() => Unit] = Seq(
          () => staged = ExportCommit.stage(r, 0L),
          () => { new java.io.File(staged).mkdirs()
            java.nio.file.Files.writeString(java.nio.file.Paths
              .get(staged, "vals.txt"), vals.mkString(",")); () },
          () => { ExportCommit.commitBatch(r, 0L, staged); () },
          () => { // the fold's data lands BEFORE its completeness marker
            val appended = ExportCommit.committedDirs(r)
              .flatMap(dd => java.nio.file.Files.readString(
                java.nio.file.Paths.get(dd, "vals.txt"))
                .split(",").map(_.toInt))
            new java.io.File(v2).mkdirs()
            java.nio.file.Files.writeString(java.nio.file.Paths
              .get(v2, "data.txt"), (base ++ appended).sorted.mkString(","))
            ()
          },
          () => { java.nio.file.Files.writeString(java.nio.file.Paths
            .get(v2, "_SUCCESS"), ""); () },
          () => { ServePointer.adopt(ptr, v2); () },
          () => { ExportCommit.retireRoot(r); () })
        steps.take(killAt).foreach(_()) // …and the process dies here
        // ---- post-crash: the half-state is INVISIBLE to readers
        ExportCommit.latest(r).foreach(_.entries.foreach { e =>
          assert(new java.io.File(new java.io.File(r), e.dir).isDirectory,
            s"seed=$seed kill=$killAt: manifest names a missing dir")
        })
        val servedDir = ServePointer.current(ptr).get
        assert(completeArtifact(servedDir),
          s"seed=$seed kill=$killAt: pointer names an incomplete artifact")
        // a LIVE SERVE at this boundary (the s41 composition — the
        // maintenance day killed mid-drain, a query batch still
        // arriving): whichever version the pointer resolves must
        // answer COMPLETELY and CONSISTENTLY — pre-adopt boundaries
        // serve the base artifact, post-adopt the finished fold; a
        // serve must never observe a half-folded state
        val servedVals = readArtifact(servedDir)
        if (servedDir == v2n)
          assert(servedVals === (base ++ vals).sorted,
            s"seed=$seed kill=$killAt: post-adopt serve saw a torn fold")
        else
          assert(servedVals === base.sorted,
            s"seed=$seed kill=$killAt: pre-adopt serve drifted from base")
        // ---- recovery: the janitor re-runs the maintenance day from
        // its guards (e28's posture) — adopted ⇒ only retire remains
        if (!ServePointer.current(ptr).contains(v2n)) {
          if (!ExportCommit.isCommitted(r, 0L)) {
            val st = ExportCommit.stage(r, 0L)
            new java.io.File(st).mkdirs()
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(st, "vals.txt"), vals.mkString(","))
            ExportCommit.commitBatch(r, 0L, st)
          }
          if (!completeArtifact(v2)) steps(3)()
          steps(4)()
          ServePointer.adopt(ptr, v2)
        }
        // the SHIPPED idempotent retirement (r17 ADVICE): runs outside
        // the replay guard on every entry — a crash between adopt(v2)
        // and retire must leak nothing on the next entry
        ServePointer.retireFoldedDebt(ptr, v2, Seq(r))
        // ---- post-recovery: exactly-once, adopted, inputs retired
        assert(ServePointer.current(ptr).contains(v2n),
          s"seed=$seed kill=$killAt: recovery did not adopt the fold")
        assert(readArtifact(v2) === (base ++ vals).sorted,
          s"seed=$seed kill=$killAt: fold lost or doubled the batch")
        assert(!new java.io.File(r).exists(),
          s"seed=$seed kill=$killAt: append root not retired")
        assert(completeArtifact(v1),
          s"seed=$seed kill=$killAt: rollback-window artifact damaged")
        assert(ServePointer.retirable(ptr, Seq(v1, v2)).isEmpty,
          s"seed=$seed kill=$killAt: window artifact offered for retire")
      }
    }
  }

  test("retireFoldedDebt: no-op before the fold is adopted; retires leaked debt after; idempotent (r17 ADVICE)") {
    import graft.api.ServePointer
    val art = root(); val ptr = root(); val debt = root()
    val v1 = s"$art/v1"; val v2 = s"$art/v2"
    new java.io.File(v1).mkdirs(); new java.io.File(v2).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(debt, "payload.txt"), "debt")
    ServePointer.adopt(ptr, v1)
    // pre-fold: the debt is LIVE (the fold still needs it) — no touch
    ServePointer.retireFoldedDebt(ptr, v2, Seq(debt))
    assert(new java.io.File(debt).exists(),
      "retireFoldedDebt deleted live debt before the fold was adopted")
    // crash between adopt(v2) and retire: the next entry must clean up
    ServePointer.adopt(ptr, v2)
    ServePointer.retireFoldedDebt(ptr, v2, Seq(debt))
    assert(!new java.io.File(debt).exists(),
      "post-adopt debt root leaked (the r17 ADVICE crash window)")
    ServePointer.retireFoldedDebt(ptr, v2, Seq(debt)) // idempotent re-entry
  }

  test("writer-vs-janitor race property: live appends race the maintenance day; no committed append lost, no batch folded twice (seeded multi-trial, r18 ask #4)") {
    // The crash-point property kills ONE sequential lifecycle; this
    // races a live WRITER against the janitor: thread A commits
    // batches while thread B snapshots the manifest, folds the
    // snapshot, adopts the fold, and retires EXACTLY the folded batch
    // ids (retireBatches — retiring the whole root would delete any
    // append that landed after the snapshot). Legal history asserted
    // per trial: the post-race manifest holds precisely the unfolded
    // batches; fold ∪ residual equals the sequential oracle as a
    // multiset (nothing lost, nothing doubled); the pointer never
    // names a torn artifact; a SECOND quiesced maintenance day drains
    // the residual to exactly the oracle.
    import graft.api.ServePointer
    def vals(b: Long, rng: scala.util.Random): Seq[String] =
      (0 until 1 + rng.nextInt(3)).map(i => s"b$b-$i-${rng.nextInt(100)}")
    def writeVals(r: String, b: Long, vs: Seq[String]): Unit = {
      val st = ExportCommit.stage(r, b)
      new java.io.File(st).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(st, "vals.txt"), vs.mkString(","))
      ExportCommit.commitBatch(r, b, st); ()
    }
    def readDirVals(dd: String): Seq[String] = {
      val p = java.nio.file.Paths.get(dd, "vals.txt")
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p).split(",").toSeq.filter(_.nonEmpty)
      else Seq.empty
    }
    def foldDay(r: String, art: String, ptr: String, name: String,
        base: Seq[String]): Set[Long] = {
      // snapshot → fold → _SUCCESS → adopt → retire the FOLDED ids
      val snap = ExportCommit.latest(r)
        .map(_.entries).getOrElse(Seq.empty)
      val folded = base ++ snap.flatMap(e => readDirVals(
        java.nio.file.Paths.get(r).resolve(e.dir).toString))
      val v = s"$art/$name"
      new java.io.File(v).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v, "data.txt"), folded.sorted.mkString(","))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v, "_SUCCESS"), "")
      ServePointer.adopt(ptr, v)
      ExportCommit.retireBatches(r, snap.map(_.batchId).toSet)
      snap.map(_.batchId).toSet
    }
    for (seed <- 0 until 8) {
      val rng = new scala.util.Random(seed)
      val r = root(); val art = root(); val ptr = root()
      val base = Seq("base-0", "base-1")
      val v1 = s"$art/v1"
      new java.io.File(v1).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v1, "data.txt"), base.sorted.mkString(","))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v1, "_SUCCESS"), "")
      ServePointer.adopt(ptr, v1)
      val nBatches = 4 + rng.nextInt(3)
      val all = (0 until nBatches)
        .map(b => b.toLong -> vals(b.toLong, rng)).toMap
      val janDelay = rng.nextInt(8)
      @volatile var folded: Set[Long] = Set.empty
      @volatile var err: Option[Throwable] = None
      val writer = new Thread(() =>
        try all.toSeq.sortBy(_._1).foreach { case (b, vs) =>
          writeVals(r, b, vs); Thread.sleep(rng.nextInt(3).toLong)
        } catch { case t: Throwable => err = Some(t) })
      val janitor = new Thread(() =>
        try { Thread.sleep(janDelay.toLong)
          folded = foldDay(r, art, ptr, "v2", base)
        } catch { case t: Throwable => err = Some(t) })
      writer.start(); janitor.start()
      writer.join(30000); janitor.join(30000)
      assert(err.isEmpty, s"seed $seed: race threw $err")
      // pointer names a COMPLETE artifact (never torn)
      val cur = ServePointer.current(ptr).get
      assert(new java.io.File(cur, "_SUCCESS").isFile,
        s"seed $seed: pointer names a torn artifact")
      // legal history: the manifest holds exactly the unfolded batches
      val residualIds = ExportCommit.latest(r)
        .map(_.batchIds).getOrElse(Set.empty)
      assert(residualIds === all.keySet -- folded,
        s"seed $seed: committed appends lost or resurrected")
      // fold ∪ residual = the sequential oracle, as a multiset
      def curVals = java.nio.file.Files.readString(
        java.nio.file.Paths.get(cur, "data.txt"))
        .split(",").toSeq.filter(_.nonEmpty)
      val residualVals = ExportCommit.committedDirs(r).flatMap(readDirVals)
      val oracle = (base ++ all.values.flatten).sorted
      assert((curVals ++ residualVals).sorted === oracle,
        s"seed $seed: serve after the race lost or doubled a batch")
      // a second, quiesced maintenance day drains the residual
      foldDay(r, art, ptr, "v3", curVals)
      val cur2 = ServePointer.current(ptr).get
      val served2 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(cur2, "data.txt"))
        .split(",").toSeq.filter(_.nonEmpty).sorted
      assert(served2 === oracle,
        s"seed $seed: post-drain serve disagrees with the oracle")
      assert(ExportCommit.latest(r).forall(_.entries.isEmpty),
        s"seed $seed: drained manifest still names batches")
    }
  }

  test("two concurrent compactions racing the same fold: pointer CAS serializes them; retirement fires exactly once (r18 ask #4)") {
    import graft.api.ServePointer
    for (seed <- 0 until 6) {
      val rng = new scala.util.Random(100 + seed)
      val r = root(); val art = root(); val ptr = root()
      val base = Seq("base")
      val v1 = s"$art/v1"
      new java.io.File(v1).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v1, "data.txt"), base.mkString(","))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(v1, "_SUCCESS"), "")
      ServePointer.adopt(ptr, v1)
      for (b <- 0L until 3L) {
        val st = ExportCommit.stage(r, b)
        new java.io.File(st).mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(st, "vals.txt"), s"b$b")
        ExportCommit.commitBatch(r, b, st)
      }
      // both janitors fold the SAME snapshot into their own attempt
      // dirs (unique staging names — the dir write never races), then
      // race the pointer CAS and the batch retirement
      val snap = ExportCommit.latest(r).get
      val foldedVals = (base ++ snap.entries.flatMap(e =>
        java.nio.file.Files.readString(java.nio.file.Paths.get(r)
          .resolve(e.dir).resolve("vals.txt")).split(","))).sorted
      val retired = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var err: Option[Throwable] = None
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = Seq("a", "b").map(tag => new Thread(() =>
        try {
          val v = s"$art/fold_$tag"
          new java.io.File(v).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(v, "data.txt"),
            foldedVals.mkString(","))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(v, "_SUCCESS"), "")
          gate.await()
          if (rng.nextBoolean()) Thread.sleep(1)
          ServePointer.adopt(ptr, v)
          if (ExportCommit.retireBatches(r, snap.batchIds))
            retired.incrementAndGet()
          ()
        } catch { case t: Throwable => err = Some(t) }))
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(30000))
      assert(err.isEmpty, s"seed $seed: race threw $err")
      // the adoptions serialized: dense history, every version names a
      // complete artifact, the final serve is the fold's content
      val hist = ServePointer.history(ptr)
      assert(hist.map(_._1) === (1 to hist.size),
        s"seed $seed: pointer history not dense")
      hist.foreach { case (_, dd) =>
        assert(new java.io.File(dd, "_SUCCESS").isFile,
          s"seed $seed: adopted version names a torn artifact") }
      val served = java.nio.file.Files.readString(java.nio.file.Paths
          .get(ServePointer.current(ptr).get, "data.txt"))
        .split(",").toSeq.sorted
      assert(served === foldedVals, s"seed $seed: serve content drifted")
      // the batch retirement fired EXACTLY once (the loser no-opped)
      assert(retired.get === 1,
        s"seed $seed: retirement fired ${retired.get} times")
      assert(ExportCommit.latest(r).forall(_.entries.isEmpty))
      assert(ExportCommit.committedDirs(r).isEmpty)
    }
  }

  test("history/retirable tolerate versions pruned by a concurrent janitor (r17 ADVICE)") {
    import graft.api.ServePointer
    val art = root(); val ptr = root()
    val dirs = (0 until 40).map { i =>
      val v = s"$art/v$i"; new java.io.File(v).mkdirs(); v
    }
    dirs.take(4).foreach(ServePointer.adopt(ptr, _))
    // one thread keeps adopting fresh versions, one keeps pruning to
    // keepLast=1, while the audit APIs scan concurrently — a version
    // vanishing between the listing and the read must be SKIPPED, not
    // surfaced as a raw NoSuchFileException
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def loop(body: => Unit): Thread = {
      val t = new Thread(() =>
        try while (!stop.get()) body
        catch { case e: Throwable => errs.add(e); () })
      t.start(); t
    }
    val adopter = new Thread(() =>
      try dirs.drop(4).foreach { v =>
        ServePointer.adopt(ptr, v); Thread.sleep(1)
      } catch { case e: Throwable => errs.add(e); () })
    val pruner = loop { ServePointer.pruneHistory(ptr, keepLast = 1); () }
    val auditor = loop {
      ServePointer.history(ptr).foreach { case (_, d) =>
        assert(d.startsWith(java.nio.file.Paths.get(art)
          .toAbsolutePath.normalize().toString))
      }
      ServePointer.retirable(ptr, dirs, keepLast = 1)
      ()
    }
    adopter.start(); adopter.join()
    stop.set(true); pruner.join(); auditor.join()
    assert(errs.isEmpty,
      s"concurrent prune surfaced as a failure: ${errs.peek()}")
    // the pointer itself never tore: the final version is resolvable
    assert(ServePointer.current(ptr).contains(java.nio.file.Paths
      .get(dirs.last).toAbsolutePath.normalize().toString))
  }

  test("replayed batch id commits once — no double-counted rows in the read-back") {
    val r = root()
    val st1 = writeStaged(r, 0L, 1L to 10L)
    assert(ExportCommit.commitBatch(r, 0L, st1))
    // at-least-once redelivery: the SAME batch id staged and committed again
    val st2 = writeStaged(r, 0L, 1L to 10L)
    assert(!ExportCommit.commitBatch(r, 0L, st2))
    val got = ExportCommit.readCommitted(spark, r, schema)
    assert(got.count() === 10L)
    assert(got.select(col("doc_id")).distinct().count() === 10L)
    // the replayed attempt's staging dir was deleted, not orphaned
    assert(!new java.io.File(st2).exists())
    // exactly one manifest version exists for the one real commit
    assert(ExportCommit.latest(r).map(_.version) === Some(1))
  }

  test("a crashed (uncommitted) staging dir is invisible to readers") {
    val r = root()
    val stOk = writeStaged(r, 0L, 1L to 5L)
    ExportCommit.commitBatch(r, 0L, stOk)
    writeStaged(r, 1L, 6L to 9L) // crash before commit — dir remains on disk
    val got = ExportCommit.readCommitted(spark, r, schema)
    assert(got.count() === 5L)
    assert(got.agg(max(col("doc_id"))).as[Long].head() === 5L)
  }

  test("batches accumulate across versions; readBatch isolates one batch; partition column round-trips") {
    val r = root()
    ExportCommit.commitBatch(r, 0L, writeStaged(r, 0L, 1L to 6L))
    ExportCommit.commitBatch(r, 1L, writeStaged(r, 1L, 7L to 9L))
    assert(ExportCommit.latest(r).map(_.version) === Some(2))
    assert(ExportCommit.readCommitted(spark, r, schema).count() === 9L)
    val b1 = ExportCommit.readBatch(spark, r, 1L, schema)
    assert(b1.as[(Long, String, Long)].collect().map(_._1).sorted === Array(7L, 8L, 9L))
    // shard came from the partition PATH (partitionBy pruned it from the
    // data files) — prove the values survived the round-trip
    val shards = ExportCommit.readCommitted(spark, r, schema)
      .select(col("doc_id"), col("shard")).as[(Long, Long)].collect().toMap
    (1L to 9L).foreach(i => assert(shards(i) === i % 4, s"doc $i shard"))
  }

  test("empty root reads as an empty relation with the right schema") {
    val got = ExportCommit.readCommitted(spark, root(), schema)
    assert(got.count() === 0L)
    assert(got.schema === schema)
  }

  test("concurrent committers never lose a batch and never double-commit one") {
    // 8 threads racing 40 distinct batch ids through the hard-link CAS,
    // each batch attempted by TWO threads (the replay-under-race case):
    // exactly one attempt per batch may win, every batch must land, and
    // the version sequence must be dense (no lost updates).
    val r = root()
    val batchIds = (0L until 40L)
    val attempts = scala.util.Random.shuffle(
      (batchIds ++ batchIds).toList) // two attempts per batch
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = attempts.map { b =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val st = ExportCommit.stage(r, b)
            // stage a real (tiny) file so the dir is nonempty (Spark
            // writers create the staged dir themselves; a direct file
            // writer makes it explicitly)
            new java.io.File(st).mkdirs()
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(st).resolve("part-0.json"),
              s"""{"doc_id":$b,"text":"d$b","shard":0}""")
            if (ExportCommit.commitBatch(r, b, st)) { wins.incrementAndGet(); () }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(wins.get() === 40, "every batch exactly one winning commit")
    val m = ExportCommit.latest(r).get
    assert(m.version === 40, "versions dense — no lost CAS update")
    assert(m.batchIds === batchIds.toSet)
    // every committed dir exists and is distinct
    val dirs = ExportCommit.committedDirs(r)
    assert(dirs.distinct.length === 40)
    dirs.foreach(d0 => assert(new java.io.File(d0).isDirectory, d0))
  }

  test("p11 operator is re-run idempotent: second call reuses the committed manifest") {
    val m1 = graft.operators.PackOps.exportManifest(spark, sfTiny).collect()
    val m2 = graft.operators.PackOps.exportManifest(spark, sfTiny).collect()
    assert(m1.toSeq === m2.toSeq)
    assert(m1.nonEmpty)
  }

  test("p12 crash between shard commit and index commit replays without double-append") {
    // reproduce the operator's epoch-1 sequence at protocol level:
    // epoch 0 fully committed, then epoch 1's SHARD commit lands but the
    // INDEX commit "crashes"; the replay recomputes the same increment
    // (the committed index still lacks epoch 1), the shard commit no-ops
    // on the already-committed batch id, the index catches up.
    val base = root()
    val shardsRoot = s"$base/shards"
    val indexRoot = s"$base/index"
    val idSchema = StructType(Seq(StructField("doc_id", LongType)))
    val corpus = (1L to 20L)
    val epoch0 = corpus.filter(_ % 10 != 0)
    ExportCommit.commitBatch(shardsRoot, 0L, writeStaged(shardsRoot, 0L, epoch0))
    val stI0 = ExportCommit.stage(indexRoot, 0L)
    batch(epoch0).select(col("doc_id")).write.parquet(stI0)
    ExportCommit.commitBatch(indexRoot, 0L, stI0)

    def increment(): Seq[Long] = {
      val idx = ExportCommit.readCommitted(spark, indexRoot, idSchema, "parquet")
      batch(corpus).join(idx, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).as[Long].collect().toSeq.sorted
    }
    val inc1 = increment()
    assert(inc1 === corpus.filter(_ % 10 == 0).toSeq)
    // shard commit lands; CRASH before the index commit
    ExportCommit.commitBatch(shardsRoot, 1L, writeStaged(shardsRoot, 1L, inc1))

    // replay: increment recomputes IDENTICALLY (index unchanged)
    val inc2 = increment()
    assert(inc2 === inc1)
    // shard re-commit no-ops; index commit catches up
    assert(!ExportCommit.commitBatch(shardsRoot, 1L,
      writeStaged(shardsRoot, 1L, inc2)))
    val stI1 = ExportCommit.stage(indexRoot, 1L)
    batch(inc2).select(col("doc_id")).write.parquet(stI1)
    assert(ExportCommit.commitBatch(indexRoot, 1L, stI1))

    // final state: every doc exactly once in shards AND index
    val shardIds = ExportCommit.readCommitted(spark, shardsRoot, schema)
      .select(col("doc_id")).as[Long].collect().sorted
    assert(shardIds === corpus.toArray)
    val idxIds = ExportCommit.readCommitted(spark, indexRoot, idSchema,
      "parquet").as[Long].collect().sorted
    assert(idxIds === corpus.toArray)
    // a THIRD run's increment is empty — nothing left to export
    assert(increment() === Seq.empty)
  }

  test("commitBatch rejects a staged dir outside the export root, loudly") {
    val root = java.nio.file.Files.createTempDirectory("ec_root").toString
    val foreign = java.nio.file.Files.createTempDirectory("ec_foreign").toString
    val ex = intercept[IllegalArgumentException] {
      ExportCommit.commitBatch(root, 1L, foreign)
    }
    assert(ex.getMessage.contains("not under the export root"))
  }

  test("gcStaging deletes crashed attempts' dirs and never a committed one") {
    val root = java.nio.file.Files.createTempDirectory("ec_gc").toString
    // committed attempt
    val ok = ExportCommit.stage(root, 1L)
    new java.io.File(ok).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ok, "part.json"), "{}")
    assert(ExportCommit.commitBatch(root, 1L, ok))
    // crashed attempts: staged, never committed
    val dead1 = ExportCommit.stage(root, 2L)
    val dead2 = ExportCommit.stage(root, 3L)
    Seq(dead1, dead2).foreach(d => new java.io.File(d).mkdirs())
    // under the default grace period these dirs look IN-FLIGHT (fresh
    // mtime) and must survive — deleting a writer's staged dir before
    // its commitBatch would publish a manifest entry pointing at
    // nothing
    assert(ExportCommit.gcStaging(root) === Seq.empty)
    assert(new java.io.File(dead1).exists && new java.io.File(dead2).exists)
    // past the grace period (zero for the test) they are crashed
    // attempts and are collected
    val deleted = ExportCommit.gcStaging(root, minAgeMillis = -1L)
    assert(deleted.toSet === Set(dead1, dead2).map(d =>
      new java.io.File(d).getAbsolutePath))
    assert(!new java.io.File(dead1).exists && !new java.io.File(dead2).exists)
    assert(new java.io.File(ok).exists)
    // committed data still reads back
    assert(ExportCommit.committedDirs(root).size === 1)
  }

  test("gcStaging never touches a committed dir and heals a stranded committed aside") {
    val root = java.nio.file.Files.createTempDirectory("ec_gc3").toString
    val ok = ExportCommit.stage(root, 1L)
    new java.io.File(ok).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ok, "part.json"), "{}")
    assert(ExportCommit.commitBatch(root, 1L, ok))
    // a committed dir is ARBITRARILY old by construction (its mtime
    // never refreshes) — even past the grace period the sweep must not
    // rename it aside, let alone delete it (r14 review: the transient
    // rename would break concurrent readers and a crash mid-sweep
    // would strand committed data)
    assert(ExportCommit.gcStaging(root, minAgeMillis = -1L) === Seq.empty)
    assert(new java.io.File(ok).isDirectory)
    assert(ExportCommit.committedDirs(root).size === 1)
    // a stranded .gc of a COMMITTED dir (crashed janitor mid-rename in
    // a pre-fix deployment) is healed back to its canonical path, not
    // deleted
    val aside = new java.io.File(ok + ".gc-12345")
    assert(new java.io.File(ok).renameTo(aside))
    assert(ExportCommit.gcStaging(root, minAgeMillis = -1L) === Seq.empty)
    assert(new java.io.File(ok).isDirectory, "committed dir not healed")
    assert(!aside.exists)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(ok, "part.json")))
    // LEGACY (pre-timestamp) aside name — a dir stranded by an OLD
    // janitor build must still heal (r15 review: dropping the legacy
    // pattern would leak it forever)
    val legacy = new java.io.File(ok + ".gc")
    assert(new java.io.File(ok).renameTo(legacy))
    assert(ExportCommit.gcStaging(root, minAgeMillis = -1L) === Seq.empty)
    assert(new java.io.File(ok).isDirectory, "legacy aside not healed")
    assert(!legacy.exists)
  }

  test("gcStaging sweeps a crashed janitor's stranded .gc dir; commit refuses a reclaimed dir") {
    val root = java.nio.file.Files.createTempDirectory("ec_gc2").toString
    // a stranded aside-dir (janitor crashed between rename and delete):
    // unreferenced by construction, collected by the next sweep
    val stranded = new java.io.File(new java.io.File(root, "data"),
      "b7-0123abcd.gc-12345")
    stranded.mkdirs()
    // a LEGACY (pre-timestamp) stranded aside sweeps too, age-gated on
    // mtime as the old protocol did
    val legacyStranded = new java.io.File(new java.io.File(root, "data"),
      "b8-0123abcd.gc")
    legacyStranded.mkdirs()
    val deleted = ExportCommit.gcStaging(root, minAgeMillis = -1L)
    // the audit record names the CANONICAL original path (joinable
    // against manifest entries), not the aside name
    assert(deleted.toSet === Set(
      new java.io.File(stranded.getParentFile, "b7-0123abcd").getAbsolutePath,
      new java.io.File(stranded.getParentFile, "b8-0123abcd").getAbsolutePath))
    assert(!stranded.exists && !legacyStranded.exists)
    // janitor fence: a writer whose staged dir was reclaimed must fail
    // loudly at commit instead of publishing a dangling manifest entry
    val staged = ExportCommit.stage(root, 9L)
    new java.io.File(staged).mkdirs()
    assert(ExportCommit.gcStaging(root, minAgeMillis = -1L).nonEmpty)
    val ex = intercept[IllegalStateException] {
      ExportCommit.commitBatch(root, 9L, staged)
    }
    assert(ex.getMessage.contains("vanished before commit"))
    assert(ExportCommit.latest(root).isEmpty) // nothing dangling published
  }

  test("p12 operator end-to-end is re-run idempotent in one session") {
    val m1 = graft.operators.PackOps.incrementalExport(spark, sfTiny).collect()
    val m2 = graft.operators.PackOps.incrementalExport(spark, sfTiny).collect()
    assert(m1.toSeq === m2.toSeq)
    assert(m1.map(_.getLong(4)).sum > 0) // the planted increment is visible
  }

  test("janitor loop end-to-end: policy fires, fold, retire — debt zero, serve unchanged, no leak") {
    import graft.api.{CompactionPolicy, DocIndexStore}
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val root = java.nio.file.Files.createTempDirectory("janitor").toString
    val baseDir = s"$root/base"
    DocIndexStore.Lsh.save(baseDir, graft.operators.DedupOps.prunedBandIndex(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)))
    val a = s"$root/append"
    val odd = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    DocIndexStore.Lsh.appendBatch(a,
      odd.filter(org.apache.spark.sql.functions.col("doc_id") < 100), 0L)
    DocIndexStore.Lsh.appendBatch(a,
      odd.filter(org.apache.spark.sql.functions.col("doc_id") >= 100), 1L)
    // debt reaches the threshold → the janitor folds
    assert(CompactionPolicy.due(a, None, 2, 1).due)
    val out = s"$root/v1"
    DocIndexStore.Lsh.compactAppends(spark, baseDir, a, out)
    val served = DocIndexStore.Lsh.load(spark, out).count()
    assert(served > 0)
    // adoption done → the folded inputs retire; the root tree is GONE
    // (gcStaging alone could never reclaim these manifest-referenced
    // dirs — retireRoot is the missing half of the maintenance story)
    assert(ExportCommit.retireRoot(a))
    assert(!new java.io.File(a).exists())
    assert(!ExportCommit.retireRoot(a)) // idempotent
    // debt is zero again and the adopted artifact serves unchanged
    assert(CompactionPolicy.due(a, None, 2, 1) ===
      CompactionPolicy.Decision(false, 0, 0))
    assert(DocIndexStore.Lsh.load(spark, out).count() === served)
    // the next increment era starts clean: a NEW batch commits into a
    // fresh manifest at version 1
    DocIndexStore.Lsh.appendBatch(a,
      odd.filter(org.apache.spark.sql.functions.col("doc_id") < 50), 7L)
    assert(ExportCommit.latest(a).map(_.version) === Some(1))
    assert(ExportCommit.latest(a).map(_.batchIds) === Some(Set(7L)))
  }

  test("maintenance day end-to-end: fold → adopt → retire inputs → window-expired artifact retires, pointer serve unbroken") {
    import org.apache.spark.sql.functions.col
    import graft.api.{CompactionPolicy, DocIndexStore, ServePointer}
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("maint").toString
    val ptr = s"$root/pointer"
    val v1 = s"$root/v1"
    DocIndexStore.Lsh.save(v1, graft.operators.DedupOps.prunedBandIndex(
      docs.filter(col("doc_id") % 2 === 0)))
    ServePointer.adopt(ptr, v1)
    // era 1: appends accrue until the policy fires, fold into v2
    val a = s"$root/append"
    val odd = docs.filter(col("doc_id") % 2 === 1)
    DocIndexStore.Lsh.appendBatch(a, odd.filter(col("doc_id") < 100), 0L)
    assert(CompactionPolicy.due(a, None, 1, 1).due)
    val v2 = s"$root/v2"
    DocIndexStore.Lsh.compactAppends(spark,
      ServePointer.current(ptr).get, a, v2)
    ServePointer.adopt(ptr, v2)
    assert(ExportCommit.retireRoot(a))
    // v1 is still inside the rollback window (keepLast=2): protected
    assert(ServePointer.retirable(ptr, Seq(v1, v2)) === Nil)
    // era 2: another fold pushes v1 past the window — NOW it retires
    DocIndexStore.Lsh.appendBatch(a, odd.filter(col("doc_id") >= 100), 0L)
    val v3 = s"$root/v3"
    DocIndexStore.Lsh.compactAppends(spark,
      ServePointer.current(ptr).get, a, v3)
    ServePointer.adopt(ptr, v3)
    assert(ExportCommit.retireRoot(a))
    assert(ServePointer.retirable(ptr, Seq(v1, v2, v3)) === Seq(v1))
    assert(ExportCommit.retireRoot(v1))
    // the pointer-resolved serve is whole after every retirement: both
    // eras' content serves from the surviving artifact alone (iterated
    // folds may legally retire more rows per bucket than a one-shot
    // census — doc-level presence is the stable contract here)
    assert(ServePointer.current(ptr) === Some(v3))
    val served = DocIndexStore.Lsh.load(spark, ServePointer.current(ptr).get)
    assert(served.filter(col("doc_id") % 2 === 0).count() > 0)
    assert(served.filter(col("doc_id") % 2 === 1 &&
      col("doc_id") < 100).count() > 0)
    assert(served.filter(col("doc_id") % 2 === 1 &&
      col("doc_id") >= 100).count() > 0)
  }

  test("CompactionPolicy fires exactly at the threshold and is a no-op below it") {
    import graft.api.CompactionPolicy
    val root = java.nio.file.Files.createTempDirectory("policy").toString
    val a = s"$root/append"
    val t = s"$root/tomb"
    def commitOne(r: String, id: Long): Unit = {
      val staged = ExportCommit.stage(r, id)
      new java.io.File(staged).mkdirs()
      ExportCommit.commitBatch(r, id, staged)
      ()
    }
    // empty store: no debt, never due
    assert(CompactionPolicy.due(a, Some(t), 3, 2) ===
      CompactionPolicy.Decision(false, 0, 0))
    // one below the append threshold: not due
    commitOne(a, 0L); commitOne(a, 1L)
    assert(CompactionPolicy.due(a, Some(t), 3, 2) ===
      CompactionPolicy.Decision(false, 2, 0))
    // AT the append threshold: due (inclusive bound)
    commitOne(a, 2L)
    assert(CompactionPolicy.due(a, Some(t), 3, 2) ===
      CompactionPolicy.Decision(true, 3, 0))
    // tombstone debt fires independently of append debt
    commitOne(t, 0L)
    assert(!CompactionPolicy.due(a, Some(t), 10, 2).due)
    commitOne(t, 1L)
    assert(CompactionPolicy.due(a, Some(t), 10, 2) ===
      CompactionPolicy.Decision(true, 3, 2))
    // a store without a delete log accrues only append debt
    assert(!CompactionPolicy.due(a, None, 10, 1).due)
    // zero thresholds are a misconfiguration, loudly
    intercept[IllegalArgumentException] {
      CompactionPolicy.due(a, Some(t), 0, 2)
    }
  }

  test("commitOnce: a replayed batchId never calls the writer; a throwing writer publishes nothing") {
    val r = root()
    var calls = 0
    assert(ExportCommit.commitOnce(r, 0L) { st =>
      calls += 1; batch(Seq(1L, 2L)).write.json(st)
    })
    val v1 = ExportCommit.latest(r).map(_.version)
    // replay of the committed batch: the fast path skips before staging
    assert(!ExportCommit.commitOnce(r, 0L) { _ => calls += 1 })
    assert(calls === 1)
    assert(ExportCommit.latest(r).map(_.version) === v1)
    // a writer that fails: no manifest entry, no new manifest version
    intercept[IllegalStateException] {
      ExportCommit.commitOnce(r, 1L) { _ =>
        throw new IllegalStateException("writer failed")
      }
    }
    assert(!ExportCommit.isCommitted(r, 1L))
    assert(ExportCommit.latest(r).map(_.version) === v1)
    assert(ExportCommit.latest(r).map(_.batchIds) === Some(Set(0L)))
  }

  test("the commit protocol lives in one module: src/main stages and commits only through commitOnce") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory,
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = sources(main)
      .filterNot(_.getPath.endsWith("sources/ExportCommit.scala"))
      .flatMap { f =>
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("ExportCommit.stage(") ||
              line.contains("ExportCommit.commitBatch(") =>
            s"${f.getPath}:${i + 1}"
        }.toList
      }
    assert(offenders.isEmpty,
      s"hand-rolled stage/commit outside ExportCommit: ${offenders.mkString(", ")}")
  }
}
