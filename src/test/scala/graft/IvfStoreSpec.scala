package graft

import graft.api.IvfStore
import graft.operators.EmbeddingOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** e14/e15 — the IVF index as a shipped artifact: save/load identity,
  * the round-trip serve's differential against the in-session path,
  * and the append path's structural twin-cell guarantee. */
class IvfStoreSpec extends SparkSpec {

  private def baseEmb =
    Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding"))

  /** The cell count annPqRoundtrip builds with — the planted
    * geometry's sizing, not the IvfCells floor constant, so these specs
    * keep finding the artifact if the tiny fixture ever outgrows the
    * floor. */
  private def e17Cells: Int =
    EmbeddingOps.Geometry.Planted.cellsFor(baseEmb.count())

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ivf_$tag").toString

  test("pqTrainInput: bounded deterministic sample — N-cap enforced, layout-independent, id-sorted single partition") {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    // an input LARGER than the bound: the cap must engage (r17 verdict
    // ask #1 — the FAISS sample posture is code, not a comment)
    val n = EmbeddingOps.PqTrainSample + 257
    val big = spark.range(n.toLong).toDF("vec_id")
      .select(col("vec_id"), array_to_vector(
        array((col("vec_id") % 7).cast("double"),
          (col("vec_id") % 11).cast("double"))).as("features"))
    val in1 = EmbeddingOps.pqTrainInput(big)
    assert(in1.count() === EmbeddingOps.PqTrainSample.toLong,
      "the codebook fit saw more rows than the sample bound")
    assert(in1.rdd.getNumPartitions === 1,
      "the fit input must be one partition (pinned combine order)")
    // the SAMPLE SET and row order are partition-layout-independent:
    // a re-shuffled input yields the identical single sorted partition
    val in2 = EmbeddingOps.pqTrainInput(big.repartition(13))
    val ids1 = in1.select("vec_id").as[Long].collect().toSeq
    val ids2 = in2.select("vec_id").as[Long].collect().toSeq
    assert(ids1 === ids2, "sample not deterministic under repartitioning")
    assert(ids1 === ids1.sorted, "fit input not vec_id-sorted")
    // sub-bound inputs pass through whole (harness SFs: the corpus IS
    // the sample, so the r17 codebooks are byte-identical)
    assert(EmbeddingOps.pqTrainInput(big.limit(500)).count() === 500L)
  }

  test("pqTrain: codebooks are identical across runs and input partition layouts") {
    val index = EmbeddingOps.ivfBuild(baseEmb, cells = 4)
    val dim = index.model.clusterCenters.head.size
    val a = EmbeddingOps.pqTrain(index.assigned, dim)
    val b = EmbeddingOps.pqTrain(index.assigned.repartition(9), dim)
    (a.models zip b.models).foreach { case (ma, mb) =>
      assert(ma.clusterCenters.toSeq === mb.clusterCenters.toSeq,
        "PQ codebook fit is layout- or run-dependent")
    }
  }

  test("save/load round-trips the assigned relation and the quantizer exactly") {
    val index = EmbeddingOps.ivfBuild(baseEmb, cells = 4)
    val dir = IvfStore.versionedDir(tmp("rt"), 4, java.time.LocalDate.ofEpochDay(0))
    IvfStore.save(dir, index)
    val loaded = IvfStore.load(spark, dir)
    assert(loaded.model.clusterCenters.toSeq === index.model.clusterCenters.toSeq)
    val want = index.assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val got = loaded.assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got === want)
    // features survive bit-identically (the probe ranking inputs)
    val f0 = index.assigned.orderBy("vec_id").select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    val g0 = loaded.assigned.orderBy("vec_id").select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(f0 === g0)
  }

  test("e14 loaded-index serve equals the in-session e13 serve row-for-row") {
    val a = EmbeddingOps.annBatchServe(spark, sfTiny).collect().toSeq
    val b = EmbeddingOps.annIndexRoundtrip(spark, sfTiny).collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("e25 PQ tombstone compaction: deleted ids leave codes/ AND assigned/; serve agrees with e24") {
    // the row itself (also builds the compacted artifact for inspection)
    val got = EmbeddingOps.annPqTombstoneCompact(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    // the logical (e24 serve-time anti-join) and physical (fold) PQ
    // delete paths must agree row-for-row
    val want = EmbeddingOps.annPqTombstoneServe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(got === want, "PQ fold and PQ serve-time delete paths disagree")
    // physical absence on BOTH sides of the compacted artifact
    val emb = baseEmb
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(emb, "vec_id"))
    val tombs = EmbeddingOps.tombstoneIds(emb, off).localCheckpoint()
    val nTombs = tombs.count()
    assert(nTombs > 0)
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e25")
    val cells = EmbeddingOps.Geometry.Base.cellsFor(emb.count())
    val outDir = IvfStore.versionedPqDir(s"$root/compacted", cells,
      EmbeddingOps.PqSubspaces, EmbeddingOps.PqCodes,
      java.time.LocalDate.ofEpochDay(0))
    val (ci, _, cc) = IvfStore.loadPq(spark, outDir, EmbeddingOps.PqSubspaces)
    assert(cc.join(tombs, Seq("vec_id")).count() === 0L,
      "tombstoned code rows survived the PQ fold")
    assert(ci.assigned.join(tombs, Seq("vec_id")).count() === 0L,
      "tombstoned assigned rows survived the PQ fold")
    // no over-delete: every surviving second twin is present in codes/
    assert(cc.filter(col("vec_id") >= 2 * off).count() > 0L)
    assert(cc.join(tombs.select((col("vec_id") + off).as("vec_id")),
      Seq("vec_id")).count() === nTombs,
      "the +2*off twins of tombstoned rows must survive the fold")
  }

  test("snapshot isolation: a serve pinned to version N is identical before and after N+1 lands") {
    // versioned dirs are IMMUTABLE is asserted throughout the store
    // docs — this witnesses it (r15 verdict ask #5): a reader pinned to
    // version N (the loaded handle of a serving job) must see
    // byte-identical results before and after the janitor's compaction
    // writes version N+1, and a RE-LOAD of N must agree too — the
    // reader-isolation guarantee every lakehouse table format makes.
    val base = baseEmb
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(base, "vec_id"))
    val union = base.unionByName(
      base.select((col("vec_id") + off).as("vec_id"), col("embedding")))
    val index = EmbeddingOps.ivfBuild(union, cells = 4)
    val root = tmp("snap")
    val v0 = IvfStore.versionedDir(root, 4, java.time.LocalDate.ofEpochDay(0))
    IvfStore.save(v0, index)
    val pinned = IvfStore.load(spark, v0)
    val r1 = EmbeddingOps.batchServeAgainst(pinned, off)
      .collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty)
    // version N+1: an append + a takedown folded into a NEW versioned
    // dir while the pinned reader is live
    val appendRoot = s"$root/append"
    IvfStore.appendBatch(appendRoot,
      base.select((col("vec_id") + 3 * off).as("vec_id"), col("embedding")),
      0L, pinned.model)
    val tombRoot = s"$root/tombstones"
    IvfStore.appendTombstones(tombRoot,
      base.limit(5).select(col("vec_id")).localCheckpoint(), 0L)
    val v1 = IvfStore.versionedDir(root, 4, java.time.LocalDate.ofEpochDay(1))
    IvfStore.compactAppends(spark, v0, appendRoot, v1, Some(tombRoot))
    // the compaction DID change state at N+1...
    assert(IvfStore.load(spark, v1).assigned.count() !==
      pinned.assigned.count())
    // ...and the pinned handle AND a re-load of N are unchanged
    val r2 = EmbeddingOps.batchServeAgainst(pinned, off)
      .collect().map(_.toSeq).toSeq
    assert(r2 === r1, "a serve pinned to version N drifted after N+1 landed")
    val r3 = EmbeddingOps.batchServeAgainst(IvfStore.load(spark, v0), off)
      .collect().map(_.toSeq).toSeq
    assert(r3 === r1, "a re-load of version N drifted after N+1 landed")
  }

  test("e29: the pre-refit quantizer still serves inside the rollback window; the refit codebook cleared the plant") {
    import graft.api.ServePointer
    val out = EmbeddingOps.quantizerForget(spark, sfTiny).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) >= 64L, "plant count floor")
    assert(r.getLong(1) === 0L, "planted ids must leave the served index")
    assert(r.getLong(3) === 1L, "v1's codebook must hold a plant centroid")
    assert(r.getLong(4) === 1L, "the refit codebook must be clear of it")
    assert(r.getLong(5) === 1L, "served centers must equal the base build")
    assert(r.getLong(7) === 2L)
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e29")
    val cells = EmbeddingOps.Geometry.Base.cellsFor(
      EmbeddingOps.corpusCount(spark, sfTiny))
    val date = java.time.LocalDate.ofEpochDay(0)
    val v1 = IvfStore.versionedDir(s"$root/pre", cells, date)
    val v2 = IvfStore.versionedDir(s"$root/refit", cells, date.plusDays(1))
    val ptr = s"$root/pointer"
    assert(ServePointer.history(ptr).map(_._1) === Seq(1, 2))
    assert(ServePointer.retirable(ptr, Seq(v1, v2), keepLast = 2).isEmpty)
    assert(ServePointer.retirable(ptr, Seq(v1, v2), keepLast = 1) === Seq(v1))
    // the pre-refit artifact still LOADS and probes (a rollback would
    // re-adopt it): its assignment carries the planted ids
    val before = IvfStore.load(spark, v1)
    assert(before.assigned.count() > 0)
    assert(before.model.clusterCenters.length === cells)
  }

  test("e26 rebuilt-artifact serve equals the e13/e14 serve; the quantizer actually grew") {
    val want = EmbeddingOps.annBatchServe(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = EmbeddingOps.annIndexRebuild(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(got === want,
      "re-sharding changed the serve contract (closed form must hold under any quantizer)")
    // the rebuild really re-sharded: v2 carries double v1's cells and
    // every stored row
    val cells = EmbeddingOps.Geometry.Planted.cellsFor(baseEmb.count())
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e26")
    val v2 = IvfStore.load(spark, IvfStore.versionedDir(root,
      math.min(EmbeddingOps.IvfMaxCells, 2 * cells),
      java.time.LocalDate.ofEpochDay(1)))
    assert(v2.model.getK === math.min(EmbeddingOps.IvfMaxCells, 2 * cells))
    assert(v2.assigned.count() === 2L * baseEmb.count())
  }

  test("rebuildDue fires on cell saturation, never at the max-cells ceiling") {
    import EmbeddingOps.{rebuildDue, IvfTargetCellSize, IvfMaxCells}
    // at target load: not due; past 2x target: due
    assert(!rebuildDue(IvfTargetCellSize * 16, 16))
    assert(!rebuildDue(IvfTargetCellSize * 16 * 2, 16)) // exactly 2x: not past
    assert(rebuildDue(IvfTargetCellSize * 16 * 2 + 16, 16))
    // custom slack
    assert(rebuildDue(IvfTargetCellSize * 16 + 16, 16, slack = 1.0))
    // a maxed-out quantizer cannot grow — never due, however saturated
    assert(!rebuildDue(Long.MaxValue / 2, IvfMaxCells))
    intercept[IllegalArgumentException] { rebuildDue(1L, 0) }
  }

  test("e15 append assigns every increment twin to its original's cell (no refit)") {
    val res = EmbeddingOps.annIndexAppend(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.nonEmpty)
    val off = res.head._2 - res.head._1
    assert(res.forall { case (q, t, c) => t == q + off && c == 1.0 })
  }

  test("e16 IVF-PQ serve agrees with e13's exact serve on every query") {
    val exact = EmbeddingOps.annBatchServe(spark, sfTiny)
      .select("query_id", "top1_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pq = EmbeddingOps.annIvfPqServe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact.nonEmpty)
    assert(pq === exact) // both find the planted twin, via independent scorers
  }

  test("e16 collision guard fails loudly when a native duplicates a query vector") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pq_dup").toString
    val rng = new scala.util.Random(7)
    val rows = (0L until 60L).map { i =>
      (i, Array.fill(64)(rng.nextFloat()))
    }
    // vec_id 40 duplicates query vector 0 exactly — same features, same
    // PQ code, smaller-than-twin id: the closed form would silently
    // break, so the operator must refuse loudly instead
    val planted = rows.map { case (i, v) =>
      if (i == 40L) (i, rows.head._2.clone()) else (i, v)
    }
    planted.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      EmbeddingOps.annIvfPqServe(spark, dir).collect()
    }
    assert(ex.getMessage.contains("share a query's full PQ code"))
  }

  test("load fails loudly on an absent or partial store") {
    val ex = intercept[Exception] {
      IvfStore.load(spark, tmp("absent") + "/nothing")
    }
    assert(ex != null)
  }

  test("e17 loaded-PQ serve equals the in-session e16 serve row-for-row") {
    val a = EmbeddingOps.annIvfPqServe(spark, sfTiny).collect().toSeq
    val b = EmbeddingOps.annPqRoundtrip(spark, sfTiny).collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("e17 store round-trips every codebook centroid exactly") {
    // save through the real operator path, then load and compare the
    // codebooks against the in-session PQ memo they were built from
    EmbeddingOps.annPqRoundtrip(spark, sfTiny).collect()
    val dir = IvfStore.versionedPqDir(
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e17"),
      e17Cells, EmbeddingOps.PqSubspaces, EmbeddingOps.PqCodes,
      java.time.LocalDate.ofEpochDay(0))
    val (_, lp, lc) = IvfStore.loadPq(spark, dir, EmbeddingOps.PqSubspaces)
    assert(lp.models.size === EmbeddingOps.PqSubspaces)
    lp.models.foreach(m =>
      assert(m.clusterCenters.length === EmbeddingOps.PqCodes))
    assert(lc.count() > 0)
  }

  test("e20 compacted-store serve equals the e15 append serve row-for-row") {
    val a = EmbeddingOps.annIndexAppend(spark, sfTiny).collect().toSeq
    val b = EmbeddingOps.annIndexCompact(spark, sfTiny).collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("compactAppends folds base + appends exactly once, quantizer unchanged") {
    val index = EmbeddingOps.ivfBuild(baseEmb, cells = 4)
    val root = tmp("compact")
    val baseDir = s"$root/base"
    IvfStore.save(baseDir, index)
    val n = baseEmb.count()
    // two append batches of shifted ids, one replayed
    val inc1 = baseEmb.limit(5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val inc2 = baseEmb.limit(8)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    IvfStore.appendBatch(s"$root/append", inc1, 0L, index.model)
    IvfStore.appendBatch(s"$root/append", inc1, 0L, index.model) // replay
    IvfStore.appendBatch(s"$root/append", inc2, 1L, index.model)
    IvfStore.compactAppends(spark, baseDir, s"$root/append", s"$root/out")
    val out = IvfStore.load(spark, s"$root/out")
    assert(out.assigned.count() === n + 5 + 8)
    assert(out.model.clusterCenters.toSeq === index.model.clusterCenters.toSeq)
    // an EMPTY manifest compacts to exactly the base
    IvfStore.compactAppends(spark, baseDir, s"$root/none", s"$root/out2")
    assert(IvfStore.load(spark, s"$root/out2").assigned.count() === n)
  }

  test("append replay skips re-staging entirely — the increment is never re-evaluated") {
    val index = EmbeddingOps.ivfBuild(baseEmb, cells = 4)
    val root = tmp("skip")
    val inc = baseEmb.limit(3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    IvfStore.appendBatch(s"$root/a", inc, 0L, index.model)
    // a poisoned replay batch: evaluating any row throws — the r14
    // ADVICE fast path must return before the plan ever runs (the
    // crash-replay loop must not rewrite the corpus increment per retry)
    val boom = udf { x: Long =>
      if (x != Long.MinValue) sys.error("replay must not stage"); x
    }
    val poisoned = inc.select(boom(col("vec_id")).as("vec_id"),
      col("embedding"))
    IvfStore.appendBatch(s"$root/a", poisoned, 0L, index.model) // no throw
    assert(IvfStore.committedAppends(spark, s"$root/a").count() === 3L)
    // same fast path on the PQ-coded append
    val dim = index.model.clusterCenters.head.size
    val pq = EmbeddingOps.pqTrain(index.assigned, dim)
    IvfStore.appendPqBatch(s"$root/p", inc, 0L, index.model, pq)
    IvfStore.appendPqBatch(s"$root/p", poisoned, 0L, index.model, pq)
    assert(IvfStore.committedPqCodes(spark, s"$root/p",
      EmbeddingOps.PqSubspaces).count() === 3L)
  }

  test("compactPqAppends folds loaded + appended codes exactly once, models unchanged") {
    val index = EmbeddingOps.ivfBuild(baseEmb, cells = 4)
    val dim = index.model.clusterCenters.head.size
    val pq = EmbeddingOps.pqTrain(index.assigned, dim)
    val codes = EmbeddingOps.pqEncode(index.assigned, pq, dim)
    val m = EmbeddingOps.PqSubspaces
    val root = tmp("pqcompact")
    val baseDir = s"$root/base"
    IvfStore.savePq(baseDir, index, pq, codes)
    val n = baseEmb.count()
    val inc1 = baseEmb.limit(5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val inc2 = baseEmb.limit(8)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    IvfStore.appendPqBatch(s"$root/append", inc1, 0L, index.model, pq)
    IvfStore.appendPqBatch(s"$root/append", inc1, 0L, index.model, pq) // replay
    IvfStore.appendPqBatch(s"$root/append", inc2, 1L, index.model, pq)
    IvfStore.compactPqAppends(spark, baseDir, s"$root/append",
      s"$root/out", m)
    val (ci, cp, cc) = IvfStore.loadPq(spark, s"$root/out", m)
    assert(cc.count() === n + 5 + 8)
    // delete-free fold: compaction never retrains either stage
    assert(ci.model.clusterCenters.toSeq === index.model.clusterCenters.toSeq)
    (cp.models zip pq.models).foreach { case (a, b) =>
      assert(a.clusterCenters.toSeq === b.clusterCenters.toSeq)
    }
    // a second compaction of the same inputs is identical (exactly-once
    // fold under replay — the manifest, not the call count, is truth)
    IvfStore.compactPqAppends(spark, baseDir, s"$root/append",
      s"$root/out2", m)
    assert(IvfStore.loadPq(spark, s"$root/out2", m)._3.count() === n + 5 + 8)
    // an EMPTY manifest compacts to exactly the base codes
    IvfStore.compactPqAppends(spark, baseDir, s"$root/none",
      s"$root/out3", m)
    assert(IvfStore.loadPq(spark, s"$root/out3", m)._3.count() === n)
  }

  test("e23 compacted-PQ serve finds every appended twin (closed form)") {
    val res = EmbeddingOps.annPqCompact(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.nonEmpty)
    val off = res.head._2 - res.head._1
    assert(res.forall { case (q, t) => t == q + off },
      "a query's ADC top-1 against the compacted store is not its twin")
  }

  test("e21 serve honors the tombstone log selectively (closed form)") {
    val res = EmbeddingOps.annTombstoneServe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.nonEmpty)
    // both halves of the selective contract are populated
    assert(res.exists(_._1 % 40 == 0), "no tombstoned-twin query in batch")
    assert(res.exists(_._1 % 40 != 0), "no surviving-twin query in batch")
    // infer the offset from a surviving query, then check the closed form
    val off = res.collectFirst { case (q, t, _) if q % 40 != 0 => t - q }.get
    res.foreach { case (q, t, c) =>
      assert(c === 1.0)
      if (q % 40 == 0) assert(t === q + 2 * off,
        s"query $q: tombstoned twin still served (got $t)")
      else assert(t === q + off,
        s"query $q: surviving twin lost (got $t)")
    }
  }

  test("e22 compaction physically removes tombstoned rows; serve equals e21; replay idempotent") {
    val a = EmbeddingOps.annTombstoneServe(spark, sfTiny).collect().toSeq
    val b = EmbeddingOps.annTombstoneCompact(spark, sfTiny).collect().toSeq
    assert(a.nonEmpty)
    assert(b === a, "logical (serve-time) and physical (compacted) " +
      "delete paths disagree")
    // the compacted artifact physically lacks every tombstoned id
    val n = baseEmb.count()
    val nTombs = baseEmb.filter(col("vec_id") % 40 === 0).count()
    val cells = EmbeddingOps.Geometry.Base.cellsFor(n)
    val outDir = IvfStore.versionedDir(
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e22") + "/compacted",
      cells, java.time.LocalDate.ofEpochDay(0))
    val out = IvfStore.load(spark, outDir)
    assert(out.assigned.count() === 3 * n - nTombs)
    val tombRoot =
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e22") + "/tombstones"
    assert(out.assigned.join(
      IvfStore.committedTombstones(spark, tombRoot), Seq("vec_id"),
      "left_semi").count() === 0L,
      "a tombstoned row survived compaction")
    // delete-then-compact replays to the identical result (appends and
    // tombstone batches skip on their committed batchIds; the fold is a
    // pure function of manifest state)
    val b2 = EmbeddingOps.annTombstoneCompact(spark, sfTiny).collect().toSeq
    assert(b2 === b)
  }

  test("e24 PQ serve honors the tombstone log selectively (closed form)") {
    val res = EmbeddingOps.annPqTombstoneServe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.nonEmpty)
    assert(res.exists(_._1 % 40 == 0) && res.exists(_._1 % 40 != 0))
    val off = res.collectFirst { case (q, t) if q % 40 != 0 => t - q }.get
    res.foreach { case (q, t) =>
      if (q % 40 == 0) assert(t === q + 2 * off,
        s"query $q: tombstoned code row still ADC-served (got $t)")
      else assert(t === q + off)
    }
  }

  test("randomized takedown: deleted ids are never served, surviving twins always are") {
    // property over RANDOM takedown sets (the closed-form rows pin two
    // fixed sets; this pins the quantifier): tombstone an arbitrary
    // subset of the planted copies — every query whose twin survives
    // still gets it at cosine 1.0, every query whose twin is deleted
    // gets a NON-tombstoned id at cosine < 1.0
    import graft.api.IvfStore
    val base = baseEmb.localCheckpoint()
    val off = 1000000L
    val union = base.unionByName(
      base.select((col("vec_id") + off).as("vec_id"), col("embedding")))
    val index = EmbeddingOps.ivfBuild(union, cells = 4)
    val rng = new scala.util.Random(20260815L)
    val queryIds = base.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val deadTwins = queryIds.filter(_ => rng.nextBoolean()).map(_ + off).toSet
    assert(deadTwins.nonEmpty && deadTwins.size < queryIds.size)
    import spark.implicits._
    val root = tmp("randtomb")
    IvfStore.appendTombstones(root, deadTwins.toSeq.toDF("vec_id"), 0L)
    val served = EmbeddingOps.batchServeAgainst(
      EmbeddingOps.IvfIndex(
        IvfStore.minusTombstones(index.assigned, spark, root), index.model),
      off)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served.map(_._1).toSet === queryIds.toSet)
    served.foreach { case (q, t, c) =>
      assert(!deadTwins.contains(t), s"query $q served tombstoned id $t")
      if (deadTwins.contains(q + off))
        assert(t != q + off && c < 1.0,
          s"query $q: deleted twin resurfaced or impossible cosine")
      else
        assert(t == q + off && c == 1.0,
          s"query $q: surviving twin lost")
    }
  }

  test("loadPq fails loudly when one subspace codebook is dropped") {
    // a real PQ artifact via the operator path, copied then truncated
    EmbeddingOps.annPqRoundtrip(spark, sfTiny).collect()
    val src = IvfStore.versionedPqDir(
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e17"),
      e17Cells, EmbeddingOps.PqSubspaces, EmbeddingOps.PqCodes,
      java.time.LocalDate.ofEpochDay(0))
    val dst = tmp("truncated")
    // copy then DROP one codebook — the truncated-artifact scenario
    def copyRec(a: java.io.File, b: java.io.File): Unit = {
      if (a.isDirectory) {
        b.mkdirs()
        a.listFiles().foreach(f => copyRec(f, new java.io.File(b, f.getName)))
      } else java.nio.file.Files.copy(a.toPath, b.toPath)
    }
    copyRec(new java.io.File(src), new java.io.File(dst))
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(s"$dst/pq/m3"))
    val ex = intercept[IllegalArgumentException] {
      IvfStore.loadPq(spark, dst, EmbeddingOps.PqSubspaces)
    }
    assert(ex.getMessage.contains("missing subspace codebook pq/m3"))
  }

  test("ServePointer: atomic adoption, replay no-op, append-only history, concurrent adopters serialize") {
    import graft.api.ServePointer
    val root = tmp("ptr")
    assert(ServePointer.current(root).isEmpty)
    assert(ServePointer.adopt(root, "/a/v1") === 1)
    assert(ServePointer.current(root) === Some("/a/v1"))
    // replay: re-adopting the current dir must NOT churn the pointer
    assert(ServePointer.adopt(root, "/a/v1") === 1)
    assert(ServePointer.history(root).size === 1)
    // rollout then rollback: history records the revert, never erases
    assert(ServePointer.adopt(root, "/a/v2") === 2)
    assert(ServePointer.adopt(root, "/a/v1") === 3)
    assert(ServePointer.current(root) === Some("/a/v1"))
    assert(ServePointer.history(root) ===
      Seq((1, "/a/v1"), (2, "/a/v2"), (3, "/a/v1")))
    // concurrent adopters: every adoption lands exactly once, versions
    // stay dense, and the final current is one of the contenders
    val root2 = tmp("ptr_race")
    val dirs = (1 to 16).map(i => s"/race/v$i")
    val threads = dirs.map(dd => new Thread(() => {
      ServePointer.adopt(root2, dd); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val h = ServePointer.history(root2)
    assert(h.size === dirs.size, "an adoption was lost under contention")
    assert(h.map(_._1) === (1 to dirs.size), "pointer versions not dense")
    assert(h.map(_._2).sorted === dirs.sorted,
      "every contender must land exactly once")
    assert(dirs.contains(ServePointer.current(root2).get))
  }

  test("c09 embedding admission: gate chain conserves, the commit is load-bearing, replay-stable") {
    val rows = EmbeddingOps.embeddingAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val p1 = rows.filter(_._1 == 1L)
    assert(p1.map(_._2) === Seq("1_exact", "2_semantic"))
    // the chain conserves and each planted class is exactly its range
    val nb = baseEmb.count()
    assert(p1.head._3 === 200L + 200L + nb)
    assert(p1.head._4 === 200L) // every byte-identical re-embed dies
    assert(p1(1)._3 === p1.head._5)
    assert(p1(1)._4 === 200L) // every scaled re-embed dies at τ
    assert(p1(1)._5 === nb) // every rolled vector is admitted
    val p2 = rows.filter(_._1 == 2L)
    assert(p2 === Seq((2L, "1_resubmit_semantic", nb, nb, 0L)),
      "post-commit resubmission must die entirely via the appended rows")
    // replay: the append manifest skips its committed batch id
    val again = EmbeddingOps.embeddingAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(again === rows)
  }

  test("ServePointer refuses a corrupt pointer file loudly — never a silent rollback") {
    import graft.api.ServePointer
    val root = tmp("ptr_corrupt")
    ServePointer.adopt(root, "/x/v1")
    ServePointer.adopt(root, "/x/v2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "current-v2.json"),
      "garbage not a pointer")
    val ex = intercept[IllegalStateException] {
      ServePointer.current(root)
    }
    assert(ex.getMessage.contains("current-v2.json"))
  }

  test("e28 janitor cycle: debt roots retired, day-0 artifact protected, replay serves the adopted fold") {
    val rows = EmbeddingOps.annJanitorCycle(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.nonEmpty)
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(baseEmb, "vec_id"))
    // e21/e22's selective closed form across the whole loop
    rows.foreach { case (q, top1) =>
      assert(top1 === (if (q % 40 == 0) q + 2 * off else q + off))
    }
    // the maintenance day actually retired its inputs and kept both
    // versioned artifacts (day 0 is inside the rollback window)
    val root = new java.io.File(
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "e28"))
    assert(!new java.io.File(root, "append").exists(),
      "folded append root must be retired")
    assert(!new java.io.File(root, "tombstones").exists(),
      "folded tombstone root must be retired")
    assert(new java.io.File(root, "base").exists(),
      "day-0 artifact is inside the rollback window — must survive")
    assert(graft.api.ServePointer.history(s"$root/pointer").size === 2,
      "one adoption for day 0, one for the fold — no churn")
    // replay: the second invocation must serve the adopted fold as-is
    val again = EmbeddingOps.annJanitorCycle(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again === rows)
    assert(graft.api.ServePointer.history(s"$root/pointer").size === 2,
      "a replayed maintenance day must not churn the pointer")
  }

  test("ServePointer normalizes adopted dirs and rejects codec-breaking characters at the door") {
    import graft.api.ServePointer
    val root = tmp("ptr_norm")
    // a dir the pointer codec cannot represent fails at adopt(), not
    // as a later loud-load "corruption" the library inflicted on itself
    intercept[IllegalArgumentException] {
      ServePointer.adopt(root, "/x/has\"quote")
    }
    intercept[IllegalArgumentException] {
      ServePointer.adopt(root, "/x/has\\backslash")
    }
    assert(ServePointer.history(root).isEmpty,
      "a rejected adoption must not publish a pointer version")
    // adoption stores the NORMALIZED path; a differently-spelled
    // re-adoption of the same dir is the replay no-op
    assert(ServePointer.adopt(root, "/x/a/../v1/") === 1)
    assert(ServePointer.current(root) === Some("/x/v1"))
    assert(ServePointer.adopt(root, "/x/v1") === 1)
    assert(ServePointer.history(root).size === 1)
    // retirable compares path identity, not string identity: a
    // trailing-slash candidate inside the window stays protected
    ServePointer.adopt(root, "/x/v2")
    assert(ServePointer.retirable(root,
      Seq("/x/v1/", "/x/./v2", "/x/v0"), keepLast = 2) === Seq("/x/v0"))
  }

  test("ServePointer.pruneHistory bounds the audit trail without moving the pointer or re-issuing versions") {
    import graft.api.ServePointer
    val root = tmp("ptr_prune")
    (1 to 5).foreach(i => ServePointer.adopt(root, s"/p/v$i"))
    assert(ServePointer.pruneHistory(root, keepLast = 2) === Seq(1, 2, 3))
    // window intact, pointer unmoved
    assert(ServePointer.history(root) === Seq((4, "/p/v4"), (5, "/p/v5")))
    assert(ServePointer.current(root) === Some("/p/v5"))
    // version numbering continues past the pruned range — a prune can
    // never cause a version number to be re-issued
    assert(ServePointer.adopt(root, "/p/v6") === 6)
    // idempotent inside the window
    assert(ServePointer.pruneHistory(root, keepLast = 3) === Nil)
    intercept[IllegalArgumentException] {
      ServePointer.pruneHistory(root, keepLast = 0)
    }
  }

  test("ServePointer.retirable protects the rollback window, retires outside it") {
    import graft.api.ServePointer
    val root = tmp("ptr_retire")
    // nothing adopted: nothing is protected (a candidate no pointer
    // ever named is plain garbage)
    assert(ServePointer.retirable(root, Seq("/x/v0")) === Seq("/x/v0"))
    ServePointer.adopt(root, "/x/v1")
    ServePointer.adopt(root, "/x/v2")
    ServePointer.adopt(root, "/x/v3")
    val cands = Seq("/x/v1", "/x/v2", "/x/v3", "/x/crashed")
    // keepLast=2 protects v2/v3 (the rollback horizon); v1 and the
    // never-adopted dir retire
    assert(ServePointer.retirable(root, cands, keepLast = 2) ===
      Seq("/x/v1", "/x/crashed"))
    // a ROLLBACK to v1 re-protects it (fresh adoption in the window)
    ServePointer.adopt(root, "/x/v1")
    assert(ServePointer.retirable(root, cands, keepLast = 2) ===
      Seq("/x/v2", "/x/crashed"))
    // the current dir can never retire
    assert(!ServePointer.retirable(root, cands, keepLast = 1)
      .contains(ServePointer.current(root).get))
    intercept[IllegalArgumentException] {
      ServePointer.retirable(root, cands, keepLast = 0)
    }
  }

  test("e27 rollback row: phase 3 is byte-identical to phase 1; phase 2 flips exactly the taken-down queries") {
    val rows = EmbeddingOps.annVersionRollback(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val p1 = rows.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq
    val p2 = rows.filter(_._1 == 2L).map(r => (r._2, r._3)).toMap
    val p3 = rows.filter(_._1 == 3L).map(r => (r._2, r._3)).toSeq
    assert(p1.nonEmpty)
    assert(p3 === p1, "rollback serve drifted from the pre-rollout serve")
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(baseEmb, "vec_id"))
    p1.foreach { case (q, top1) =>
      assert(top1 === q + off)
      val expect2 =
        if (q % (2 * EmbeddingOps.BatchQueryMod) == 0) q + 2 * off
        else q + off
      assert(p2(q) === expect2, s"phase-2 serve wrong for query $q")
    }
    // replay: the pointer no-ops on the already-current dir, the
    // artifacts are session-billed — identical rows
    val again = EmbeddingOps.annVersionRollback(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === rows.toSeq)
  }
}
