package graft

import graft.api.DocIndexStore
import graft.operators.{BpeOps, DedupOps}
import org.apache.spark.sql.functions._

/** d20 (stored LSH band index) and t22 (retrain-drift card): artifact
  * round-trip fidelity and the cards' cross-foot invariants. */
class StoredIndexSpec extends SparkSpec {
  import spark.implicits._

  test("LshIndexStore round-trips a band index exactly; loud on an absent store") {
    val idx = Seq((1L, 0, 11L), (1L, 1, 12L), (2L, 0, 11L))
      .toDF("doc_id", "band", "bucket")
    val dir = DocIndexStore.Lsh.versionedDir(
      java.nio.file.Files.createTempDirectory("lsh").toString,
      java.time.LocalDate.ofEpochDay(0))
    DocIndexStore.Lsh.save(dir, idx)
    val got = DocIndexStore.Lsh.load(spark, dir)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 0, 11L), (1L, 1, 12L), (2L, 0, 11L)))
    intercept[Exception] {
      DocIndexStore.Lsh.load(spark,
        java.nio.file.Files.createTempDirectory("lsh2").toString + "/none")
    }
  }

  test("d20 stored-index probe equals the in-session d11 probe row-for-row") {
    val a = DedupOps.incrementalNeardup(spark, sfTiny).collect().toSeq
    val b = DedupOps.incrementalNeardupStored(spark, sfTiny).collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("row-local minhash bands equal the batch path row-for-row") {
    // both builders share ONE bandRelation definition since r14; this
    // stays as the regression witness that the wrappers (widening,
    // checkpointing) never change a bucket
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val batch = DedupOps.minhashBands(docs)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val rowLocal = DedupOps.minhashBandsRowLocal(docs)
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(batch.nonEmpty)
    assert(rowLocal === batch)
  }

  test("MinHashSignature kernel is bit-identical to the min(xxhash64) aggregation") {
    // the kernel replaced the explode + 32-min-aggregate build (r14);
    // every stored band index depends on the values being EXACTLY
    // Spark's own xxhash64 minima — compared here over the full corpus
    import graft.functions.TextFunctions
    val toks = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("words"))
    val docs = TextFunctions.withNgrams(toks, "words", "shingles", 3)
      .select(col("doc_id"), array_distinct(col("shingles")).as("toks"))
      .filter(size(col("toks")) > 0)
    val kernel = docs.select(col("doc_id"),
        graft.expressions.MinHashSignature
          .minhashSignature(col("toks"), DedupOps.MinHashFns).as("sig"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val sh = docs.select(col("doc_id"), explode(col("toks")).as("shingle"))
    val aggs = (0 until DedupOps.MinHashFns).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    val reference = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until DedupOps.MinHashFns).map(i => col(s"h$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(kernel.nonEmpty)
    assert(kernel === reference)
    // degenerate inputs: empty set is null (the "no rows" case); a
    // null shingle element contributes exactly xxhash64(i, null)
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq[String](null)),
        (3L, Seq("abc", null)))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), graft.expressions.MinHashSignature
        .minhashSignature(col("toks"), 4).as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(edge(1L).isEmpty)
    val nullOnly = spark.sql(
      "SELECT array(xxhash64(0, CAST(NULL AS STRING)), " +
        "xxhash64(1, CAST(NULL AS STRING)), " +
        "xxhash64(2, CAST(NULL AS STRING)), " +
        "xxhash64(3, CAST(NULL AS STRING))) AS sig")
      .collect().head.getSeq[Long](0).toList
    assert(edge(2L).get
      .asInstanceOf[scala.collection.Seq[Long]].toList === nullOnly)
  }

  test("d30 LSH janitor cycle: debt retired, window protected, history pruned to the horizon, replay-stable") {
    val out = graft.operators.DedupOps.lshJanitorCycle(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // d25's selective closed form: sources < 100 taken down, the rest
    // still match (spot check the survivor boundary)
    assert(out.nonEmpty)
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(
        graft.sources.Tables.documents(spark, sfTiny), "doc_id"))
    out.foreach { case (inId, srcId) =>
      assert(inId === srcId + off)
      assert(srcId >= 100 && srcId < 200 && srcId % 2 == 0)
    }
    val root = new java.io.File(
      graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "d30"))
    assert(!new java.io.File(root, "append").exists(),
      "folded append root must be retired")
    assert(!new java.io.File(root, "tombstones").exists(),
      "folded tombstone root must be retired")
    assert(new java.io.File(root, "base").exists(),
      "day-0 artifact is inside the rollback window — must survive")
    // history pruned to the rollback horizon: exactly day-0 + the fold
    assert(graft.api.ServePointer.history(s"$root/pointer").size === 2)
    val again = graft.operators.DedupOps.lshJanitorCycle(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again === out)
    assert(graft.api.ServePointer.history(s"$root/pointer").size === 2,
      "a replayed maintenance day must not churn the pointer")
  }

  test("d31/d32 passage+winnow janitor cycles: debt retired, window protected, history pruned, replay-stable") {
    for ((tag, run) <- Seq(
        ("d31", () => graft.operators.DedupOps
          .passageJanitorCycle(spark, sfTiny)),
        ("d32", () => graft.operators.DedupOps
          .winnowJanitorCycle(spark, sfTiny)))) {
      val out = run().collect().map(_.toSeq).toSeq
      assert(out.nonEmpty, s"$tag produced no rows")
      val root = new java.io.File(
        graft.sources.TmpDirs.artifactRoot(spark, sfTiny, tag))
      assert(!new java.io.File(root, "append").exists(),
        s"$tag: folded append root must be retired")
      assert(!new java.io.File(root, "tombstones").exists(),
        s"$tag: folded tombstone root must be retired")
      assert(new java.io.File(root, "base").exists(),
        s"$tag: day-0 artifact is inside the rollback window")
      assert(graft.api.ServePointer.history(s"$root/pointer").size === 2,
        s"$tag: history must hold exactly day-0 + the fold")
      val again = run().collect().map(_.toSeq).toSeq
      assert(again === out, s"$tag: replay drifted")
      assert(graft.api.ServePointer.history(s"$root/pointer").size === 2,
        s"$tag: a replayed maintenance day must not churn the pointer")
    }
  }

  test("s27 streaming probe equals the batch d11/d20 probe row-for-row") {
    val a = DedupOps.incrementalNeardup(spark, sfTiny)
      .as[(Long, Long)].collect().toSeq
    val b = graft.streaming.EventStreams.streamLshProbe(spark, sfTiny)
      .as[(Long, Long)].collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("s26 streaming index append equals the batch e15 append row-for-row") {
    val a = graft.operators.EmbeddingOps.annIndexAppend(spark, sfTiny)
      .collect().toSeq
    val b = graft.streaming.EventStreams.streamIndexAppend(spark, sfTiny)
      .collect().toSeq
    assert(a.nonEmpty)
    assert(b === a)
  }

  test("s28 streamed PQ append serves every twin at rank 1 (closed form)") {
    val res = graft.streaming.EventStreams.streamPqAppend(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.nonEmpty)
    val off = res.head._2 - res.head._1
    assert(res.forall { case (q, t) => t == q + off },
      "a query's ADC top-1 is not its streamed-appended twin")
  }

  test("appendPqBatch is exactly-once and codes match the build-time encoder") {
    val emb = graft.sources.Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"))
    val index = graft.operators.EmbeddingOps.ivfBuild(emb, cells = 4)
    val dim = index.model.clusterCenters.head.size
    val pq = graft.operators.EmbeddingOps.pqTrain(index.assigned, dim)
    val root = java.nio.file.Files.createTempDirectory("s28_replay").toString
    // materialize the slice ONCE: LIMIT without ORDER BY is not
    // deterministic across jobs, and this test compares row CONTENT
    // across three independent evaluations (r14 review)
    val batch = emb.limit(10)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    graft.api.IvfStore.appendPqBatch(root, batch, 0L, index.model, pq)
    graft.api.IvfStore.appendPqBatch(root, batch, 0L, index.model, pq) // replay
    val m = graft.operators.EmbeddingOps.PqSubspaces
    val got = graft.api.IvfStore.committedPqCodes(spark, root, m)
    assert(got.count() === 10L)
    // the append-path encoder IS the build-time encoder: re-encode the
    // same rows through the direct path and compare every code column
    val want = graft.operators.EmbeddingOps.pqEncode(
      index.model.transform(batch.select(col("vec_id"), col("embedding"),
          graft.operators.EmbeddingOps.toFeatures(col("embedding"))
            .as("features")))
        .select(col("vec_id"), col("features"),
          col(index.model.getPredictionCol).as("cell")),
      pq, dim)
    val cols = Seq("vec_id", "cell") ++ (0 until m).map(i => s"code$i")
    val a = got.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val b = want.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(a.toSeq === b.toSeq)
  }

  test("s26 append batch is exactly-once under batchId replay") {
    val emb = graft.sources.Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"))
    val index = graft.operators.EmbeddingOps.ivfBuild(emb, cells = 4)
    val root = java.nio.file.Files.createTempDirectory("s26_replay").toString
    val batch = emb.limit(10)
    // the same batchId staged+committed twice — the foreachBatch replay
    // scenario after a crash between commit and checkpoint
    graft.streaming.EventStreams.appendIndexBatch(root, batch, 0L, index.model)
    graft.streaming.EventStreams.appendIndexBatch(root, batch, 0L, index.model)
    val dirs = graft.sources.ExportCommit.committedDirs(root)
    assert(dirs.size === 1, s"replayed batch committed twice: $dirs")
    val rows = spark.read.parquet(dirs.head).count()
    assert(rows === 10L)
    // a DIFFERENT batch id still appends
    graft.streaming.EventStreams.appendIndexBatch(root, batch, 1L, index.model)
    assert(graft.sources.ExportCommit.committedDirs(root).size === 2)
  }

  test("t22 cross-foots with t18 and its ratios are sane") {
    val card = BpeOps.bpeRetrainDrift(spark, sfTiny).cache()
    assert(card.count() > 0)
    // shipped-side totals must equal t18's corpus totals (same
    // tokenizer, same pieces relation)
    val shipped = card.agg(sum(col("tokens_shipped"))).head().getLong(0)
    val t18 = BpeOps.bpeRetokenize(spark, sfTiny)
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    assert(shipped === t18)
    // every word yields >= 1 piece under both vocabularies
    assert(card.filter(col("ppw_shipped") < 1.0 ||
      col("ppw_retrain") < 1.0).count() === 0)
    // two slices of one corpus train similar tokenizers — drift is a
    // ratio near 1, not a degenerate collapse
    assert(card.filter(col("retrain_drift") < 0.5 ||
      col("retrain_drift") > 2.0).count() === 0)
  }

  test("s29 streaming query-side serve answers every query with its twin (closed form)") {
    val res = graft.streaming.EventStreams.streamAnnServe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.nonEmpty)
    val off = res.head._2 - res.head._1
    assert(res.forall { case (q, t, c) => t == q + off && c == 1.0 },
      "a streamed query's top-1 is not its planted twin at cosine 1.0")
    // every query vector in the stream is answered exactly once
    val nQ = graft.sources.Tables.embeddings(spark, sfTiny)
      .filter(col("vec_id") % 20 === 0).count()
    assert(res.length.toLong === nQ)
    assert(res.map(_._1).distinct.length === res.length)
  }

  test("d21 base+appended probe and d22 compacted probe equal the d11 in-session probe") {
    val want = graft.operators.DedupOps.incrementalNeardup(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val a = graft.operators.DedupOps.incrementalNeardupAppended(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(a === want, "append path lost or invented planted pairs")
    val b = graft.operators.DedupOps.incrementalNeardupCompacted(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(b === want, "compacted path lost or invented planted pairs")
  }

  test("LshIndexStore append is exactly-once under replay; compaction is idempotent") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("lsh_append").toString
    val baseDir = s"$root/base"
    DocIndexStore.Lsh.save(baseDir,
      graft.operators.DedupOps.prunedBandIndex(
        docs.filter(col("doc_id") % 2 === 0)))
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 100)
    DocIndexStore.Lsh.appendBatch(s"$root/a", batch, 0L)
    val n1 = DocIndexStore.Lsh.committedAppends(spark, s"$root/a").count()
    assert(n1 > 0)
    DocIndexStore.Lsh.appendBatch(s"$root/a", batch, 0L) // replay: skipped
    assert(DocIndexStore.Lsh.committedAppends(spark, s"$root/a").count() === n1)
    DocIndexStore.Lsh.compactAppends(spark, baseDir, s"$root/a", s"$root/out")
    val c1 = DocIndexStore.Lsh.load(spark, s"$root/out").count()
    DocIndexStore.Lsh.compactAppends(spark, baseDir, s"$root/a", s"$root/out2")
    assert(DocIndexStore.Lsh.load(spark, s"$root/out2").count() === c1)
    // empty manifest folds to exactly the (re-censused) base
    DocIndexStore.Lsh.compactAppends(spark, baseDir, s"$root/none", s"$root/out3")
    assert(DocIndexStore.Lsh.load(spark, s"$root/out3").count() ===
      DocIndexStore.Lsh.load(spark, baseDir).count())
  }

  test("d25 compacted probe drops exactly the tombstoned sources (selective delete)") {
    val want = graft.operators.DedupOps.incrementalNeardup(spark, sfTiny)
      .filter(col("src_id") >= 100).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "no surviving planted pairs - vacuous")
    val got = graft.operators.DedupOps
      .incrementalNeardupTombstoned(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(got === want,
      "takedown through LSH compaction lost survivors or kept deleted sources")
    // the compacted artifact physically lacks every tombstoned doc row
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "d25")
    val out = graft.api.DocIndexStore.Lsh.load(spark,
      graft.api.DocIndexStore.Lsh.versionedDir(s"$root/compacted",
        java.time.LocalDate.ofEpochDay(0)))
    assert(out.filter(col("doc_id") < 100).count() === 0L)
  }

  test("PassageIndexStore round-trip + append exactly-once + idempotent compaction") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("pass_store").toString
    val baseDir = s"$root/base"
    val baseIdx = graft.operators.DedupOps.passageHashIndex(
      docs.filter(col("doc_id") % 2 === 0))
    DocIndexStore.Passage.save(baseDir, baseIdx)
    // lossless round-trip of the (doc_id, h) relation
    val want = baseIdx.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(identity).toSeq
    val got = DocIndexStore.Passage.load(spark, baseDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    assert(got === want)
    // append is exactly-once under batchId replay
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 100)
    DocIndexStore.Passage.appendBatch(s"$root/a", batch, 0L)
    val n1 = DocIndexStore.Passage.committedAppends(spark, s"$root/a").count()
    assert(n1 > 0)
    DocIndexStore.Passage.appendBatch(s"$root/a", batch, 0L) // replay: skipped
    assert(DocIndexStore.Passage.committedAppends(spark, s"$root/a").count() === n1)
    // compaction is idempotent; empty manifest folds to exactly the base
    DocIndexStore.Passage.compactAppends(spark, baseDir, s"$root/a", s"$root/out")
    val c1 = DocIndexStore.Passage.load(spark, s"$root/out").count()
    assert(c1 === want.size + n1)
    DocIndexStore.Passage.compactAppends(spark, baseDir, s"$root/a", s"$root/out2")
    assert(DocIndexStore.Passage.load(spark, s"$root/out2").count() === c1)
    DocIndexStore.Passage.compactAppends(spark, baseDir, s"$root/none", s"$root/out3")
    assert(DocIndexStore.Passage.load(spark, s"$root/out3").count() === want.size)
  }

  test("doc-keyed stores are loud on absent and mis-shaped artifacts") {
    val tmp = java.nio.file.Files.createTempDirectory("loud").toString
    // one mis-shaped relation (missing every probe key) serves as both
    // a bad base artifact and a bad committed append batch
    spark.range(3).selectExpr("id AS doc_id", "id AS wrong")
      .write.parquet(s"$tmp/bad")
    val badRoot = s"$tmp/aroot"
    graft.sources.ExportCommit.commitOnce(badRoot, 0L)(
      spark.range(3).selectExpr("id AS doc_id", "id AS wrong").write.parquet(_))
    for ((store, valueCols) <- Seq(
        (DocIndexStore.Lsh, Seq("band", "bucket")),
        (DocIndexStore.Passage, Seq("h")),
        (DocIndexStore.Winnow, Seq("fp")))) {
      val fam = store.family
      // absent store: refuse, never serve an empty index
      intercept[Exception] { store.load(spark, s"$tmp/none_$fam") }
      // mis-shaped base: the require names the family and the columns
      val e1 = intercept[IllegalArgumentException] {
        store.load(spark, s"$tmp/bad")
      }
      assert(e1.getMessage.contains(s"$fam index store") &&
        e1.getMessage.contains(s"missing columns: ${valueCols.mkString(", ")}"),
        e1.getMessage)
      // mis-shaped APPEND batch dir: the same loud contract (a batch dir
      // from an older writer fails HERE, not as an AnalysisException at
      // the consumer)
      val e2 = intercept[IllegalArgumentException] {
        store.committedAppends(spark, badRoot).collect()
      }
      assert(e2.getMessage.contains(s"$fam append store") &&
        e2.getMessage.contains(s"missing columns: ${valueCols.mkString(", ")}"),
        e2.getMessage)
      // empty manifest: a typed empty relation in the store's shape
      val empty = store.committedAppends(spark, s"$tmp/empty_$fam")
      assert(empty.columns.toSeq === "doc_id" +: valueCols)
      assert(empty.schema("doc_id").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(empty.count() === 0L)
    }
    val tombs = DocIndexStore.committedTombstones(spark, s"$tmp/no_tombs")
    assert(tombs.columns.toSeq === Seq("doc_id") && tombs.count() === 0L)
  }

  test("d17 stored probe and d26 base+appended probe equal the in-session probe") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    val want = graft.operators.DedupOps.probePassagesAgainst(
        graft.operators.DedupOps.passageIncomingBatch(docs, off),
        graft.operators.DedupOps.passageHashIndex(
          docs.filter(col("doc_id") % 2 === 0)))
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val a = graft.operators.DedupOps.incrementalPassageDedup(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(a === want, "stored-index probe drifted from the in-session index")
    val b = graft.operators.DedupOps.incrementalPassagesAppended(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(b === want, "base+append probe lost or invented known passages")
    // every re-fetched doc is provably fully known (d17's closed pin)
    assert(a.filter(r => r.head.asInstanceOf[Long] >= off)
      .forall(r => r(3).asInstanceOf[Double] == 1.0))
  }

  test("d27 tombstone-folded probe equals the survivors recompute; store physically clean") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val off = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    // in-session recompute over SURVIVING index docs (evens >= 50)
    val want = graft.operators.DedupOps.probePassagesAgainst(
        graft.operators.DedupOps.passageIncomingBatch(docs, off),
        graft.operators.DedupOps.passageHashIndex(
          docs.filter(col("doc_id") % 2 === 0 && col("doc_id") >= 50)))
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = graft.operators.DedupOps
      .incrementalPassagesTombstoned(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(got === want,
      "takedown through passage compaction lost survivors or kept deleted docs")
    // the compacted artifact physically lacks every tombstoned doc row
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "d27")
    val out = graft.api.DocIndexStore.Passage.load(spark,
      graft.api.DocIndexStore.Passage.versionedDir(s"$root/compacted",
        java.time.LocalDate.ofEpochDay(0)))
    assert(out.filter(col("doc_id") < 50).count() === 0L)
    assert(out.filter(col("doc_id") >= 50 && col("doc_id") < 400).count() > 0L,
      "fold dropped surviving append rows (over-delete)")
  }

  test("WinnowIndexStore append exactly-once; tombstone fold precedes the re-census") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("win_store").toString
    val baseDir = s"$root/base"
    DocIndexStore.Winnow.save(baseDir,
      DedupOps.prunedFingerprintIndex(docs.filter(col("doc_id") % 2 === 0)))
    val batch = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 100)
    DocIndexStore.Winnow.appendBatch(s"$root/a", batch, 0L)
    val n1 = DocIndexStore.Winnow.committedAppends(spark, s"$root/a").count()
    assert(n1 > 0)
    DocIndexStore.Winnow.appendBatch(s"$root/a", batch, 0L) // replay: skipped
    assert(DocIndexStore.Winnow.committedAppends(spark, s"$root/a").count() === n1)
    // compaction is idempotent; empty manifest folds to the re-censused base
    DocIndexStore.Winnow.compactAppends(spark, baseDir, s"$root/a", s"$root/out")
    val c1 = DocIndexStore.Winnow.load(spark, s"$root/out").count()
    DocIndexStore.Winnow.compactAppends(spark, baseDir, s"$root/a", s"$root/out2")
    assert(DocIndexStore.Winnow.load(spark, s"$root/out2").count() === c1)
    DocIndexStore.Winnow.compactAppends(spark, baseDir, s"$root/none", s"$root/out3")
    assert(DocIndexStore.Winnow.load(spark, s"$root/out3").count() ===
      DocIndexStore.Winnow.load(spark, baseDir).count())
    // tombstones leave the folded artifact physically
    val ids = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 50)
      .select(col("doc_id"))
    DocIndexStore.appendTombstones(s"$root/t", ids, 0L)
    DocIndexStore.appendTombstones(s"$root/t", ids, 0L) // replay
    DocIndexStore.Winnow.compactAppends(spark, baseDir, s"$root/a",
      s"$root/out4", Some(s"$root/t"))
    val out4 = DocIndexStore.Winnow.load(spark, s"$root/out4")
    assert(out4.filter(col("doc_id") % 2 === 0 && col("doc_id") < 50)
      .count() === 0L)
    assert(out4.filter(col("doc_id") % 2 === 1).count() > 0L,
      "fold dropped surviving append rows (over-delete)")
  }

  test("d28 base+appended winnow probe equals the d24 stored probe row-for-row") {
    val want = DedupOps.winnowStoredProbe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = DedupOps.winnowAppendedProbe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(got === want, "append path lost or invented verified runs")
  }

  test("d29 winnow takedown: quote-1 runs die with doc 0, quote-2 survives via doc 3") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val got = DedupOps.winnowTombstonedProbe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty, "no surviving verified runs - vacuous")
    // every emitted run names the surviving archive doc 3 and the
    // incoming quote-2 doc 2; the tombstoned doc 0 never appears
    assert(got.forall { case (a, b) => a == off + 3 && b == off + 2 })
    // the compacted artifact physically lacks the tombstoned doc's fps
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "d29")
    val out = graft.api.DocIndexStore.Winnow.load(spark,
      graft.api.DocIndexStore.Winnow.versionedDir(s"$root/compacted",
        java.time.LocalDate.ofEpochDay(0)))
    assert(out.filter(col("doc_id") === off + 0L).count() === 0L)
    assert(out.filter(col("doc_id") === off + 3L).count() > 0L)
  }

  test("s31 streamed PQ/ADC serve equals the batch e24 serve row-for-row") {
    val want = graft.operators.EmbeddingOps.annPqTombstoneServe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val got = graft.streaming.EventStreams.streamPqServe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want,
      "streamed and batch ADC takedown serve paths disagree")
    // selectivity: every other query's top-1 flipped to the second twin
    val off = {
      val r = got.collect {
        case Seq(q: Long, t: Long) if t != q => (q, t)
      }
      r.collectFirst { case (q, t)
        if q % (2 * graft.operators.EmbeddingOps.BatchQueryMod) != 0 =>
          t - q }.get
    }
    got.foreach { case Seq(q: Long, t: Long) =>
      val expected =
        if (q % (2 * graft.operators.EmbeddingOps.BatchQueryMod) == 0)
          q + 2 * off
        else q + off
      assert(t === expected, s"query $q served $t, expected $expected")
    }
  }

  test("s32 streamed passage probe equals the batch d17 stored probe row-for-row") {
    val want = DedupOps.incrementalPassageDedup(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val got = graft.streaming.EventStreams.streamPassageProbe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want, "streamed and batch passage probe paths disagree")
  }

  test("s33 streamed winnow gate admits every pair the d24 verifier emits") {
    val gate = graft.streaming.EventStreams.streamWinnowGate(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gate.nonEmpty)
    // winnowing's guarantee, witnessed on the live path: the screening
    // queue is a superset of every pair exact verification confirms
    val verified = DedupOps.winnowStoredProbe(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty)
    assert(verified.subsetOf(gate),
      s"verified pairs ${verified -- gate} missing from the streamed gate")
  }

  test("s30 streamed takedown serve equals the batch e21 serve row-for-row") {
    val want = graft.operators.EmbeddingOps.annTombstoneServe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    val got = graft.streaming.EventStreams.streamTombstoneServe(spark, sfTiny)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want,
      "streamed and batch tombstone delete paths disagree")
  }
}
