package graft

import graft.operators.{GraphOps, PackOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PackOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exclusivePrefixSum matches the single-partition window reference") {
    // deliberately unsorted input with enough rows to span partitions
    val data = (1L to 500L).map(i => ((i * 7919) % 1000, i % 13))
    val df = spark.sparkContext.parallelize(data, 8).toDF("k", "v")
    val got = PackOps.exclusivePrefixSum(df, Seq("k"), col("v"), "cum")
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("grouped exclusivePrefixSum restarts per stratum") {
    val data = (1L to 300L).map(i => (i, s"s${i % 3}", 1L))
    val df = spark.sparkContext.parallelize(data, 7).toDF("k", "g", "v")
    val got = PackOps.exclusivePrefixSum(df, Seq("k"), col("v"), "cum",
        strata = Seq("g"))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    val w = Window.partitionBy(col("g")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("exclusivePrefixSum edge shapes: empty input, dominant stratum, negative values") {
    // empty input: no rows out, no crash in the offsets window
    val empty = spark.emptyDataset[(Long, Long)].toDF("k", "v")
    assert(PackOps.exclusivePrefixSum(empty, Seq("k"), col("v"), "cum").count() === 0)
    // one stratum holding ~all rows (the shape that kills a
    // Window.partitionBy(stratum) plan) + negative values
    val data = (1L to 400L).map(i =>
      (i, if (i % 97 == 0) "rare" else "dominant", i % 7 - 3))
    val df = spark.sparkContext.parallelize(data, 9).toDF("k", "g", "v")
    val got = PackOps.exclusivePrefixSum(df, Seq("k"), col("v"), "cum",
        strata = Seq("g"))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("k"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("exclusivePrefixSum keeps NULL-stratum rows (null-safe join back)") {
    val df = Seq((1L, Some("a"), 2L), (2L, None, 3L), (3L, Some("a"), 5L),
        (4L, None, 7L))
      .toDF("k", "g", "v")
    val got = PackOps.exclusivePrefixSum(df, Seq("k"), col("v"), "cum",
        strata = Seq("g"))
      .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
    // NULL stratum forms its own running sum, and its rows survive
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 2L, 4L -> 3L))
  }

  test("c13 ships the RULE-DERIVED pair payload bit-exactly (the checksum alone cannot see a reversal drift)") {
    // the manifest oracle's floor(|x|·1000) checksum and n_dims are
    // REVERSAL-INVARIANT by construction — an export that shipped the
    // unreversed base embedding would still hash green. Pin the
    // payload row-for-row: every exported pair's embedding must be
    // exactly the pairing rule's derivation for its base id (admitted
    // pairs are always the dimension-REVERSED novel class).
    PackOps.admittedPairExport(spark, sfTiny).collect() // ensure commit
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val offD = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(docs, "doc_id"))
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "c13")
    val dirs = graft.sources.ExportCommit.committedDirs(root)
    assert(dirs.nonEmpty, "c13 committed nothing")
    val exported = spark.read.parquet(dirs: _*)
      .select(col("doc_id"), col("vec_id"), col("embedding"))
    val expected = graft.sources.Tables.embeddings(spark, sfTiny)
      .select(col("vec_id").as("b"), reverse(col("embedding")).as("want"))
    val n = exported.count()
    assert(n > 0, "c13 exported zero pairs")
    val aligned = exported
      .join(expected, exported("doc_id") % offD === expected("b"))
      .filter(col("embedding") === col("want"))
      .count()
    assert(aligned === n,
      s"payload drift: only $aligned of $n exported pairs carry the " +
        "rule-derived (reversed) embedding bit-exactly")
  }

  test("p01 packs contiguous spans: offsets in range and bins in order") {
    val df = PackOps.sequencePack(spark, sfTiny)
      .select(col("doc_id"), col("n_tokens"), col("seq_id"), col("tok_offset"))
      .as[(Long, Long, Long, Long)].collect()
    assert(df.nonEmpty)
    assert(df.forall { case (_, _, _, off) => off >= 0 && off < 256 })
    // seq_id is nondecreasing in doc order and reconstructs the scan:
    // cum_before = seq_id * budget + tok_offset accumulates n_tokens
    var cum = 0L
    df.sortBy(_._1).foreach { case (_, n, seqId, off) =>
      assert(seqId * 256 + off === cum)
      cum += n
    }
  }

  test("p03 buckets are 1..4, quartile-balanced, and monotone in score") {
    val df = PackOps.qualityBuckets(spark, sfTiny)
      .select(col("quality_score"), col("bucket")).as[(Option[Double], Long)]
      .collect()
    assert(df.nonEmpty)
    assert(df.forall { case (_, b) => b >= 1 && b <= 4 })
    val sizes = df.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.values.max - sizes.values.min <= 1,
      s"quartiles must be balanced, got $sizes")
    val scored = df.collect { case (Some(q), b) => (q, b) }.sortBy(_._1).toSeq
    assert(scored.sliding(2).forall {
      case Seq((_, b1), (_, b2)) => b1 <= b2
      case _ => true
    }, "bucket must be nondecreasing in quality_score")
  }

  test("p04 keeps every 10th doc per source starting with the first") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source")).as[(Long, String)].collect()
    val want = docs.groupBy(_._2).values.flatMap { ds =>
      ds.map(_._1).sorted.zipWithIndex.collect { case (id, i) if i % 10 == 0 => id }.toSeq
    }.toSet
    val got = PackOps.stratifiedSample(spark, sfTiny)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got === want)
  }

  test("p06 sequences are dense, conserve tokens, and concatenate in doc order") {
    val packed = PackOps.packedSequences(spark, sfTiny)
      .select(col("seq_id"), col("seq_tokens"), col("seq_text"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(packed.nonEmpty)
    // bins are consecutive integers from 0
    assert(packed.map(_._1).toSeq === packed.indices.map(_.toLong))
    // packing conserves the corpus token count
    val total = PackOps.sequencePack(spark, sfTiny)
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")))
      .head().getLong(0)
    assert(packed.map(_._2).sum === total)
    // first sequence starts with the first doc's text
    val firstText = graft.sources.Tables.documents(spark, sfTiny)
      .orderBy(col("doc_id")).select(col("text")).head().getString(0)
    assert(packed.head._3.startsWith(firstText))
  }

  test("t11 leaves no PII pattern behind and counts at least the planted three") {
    val out = graft.operators.TextOps.redactPii(spark, sfTiny)
      .select(col("redacted"), col("n_pii")).as[(String, Long)].collect()
    assert(out.nonEmpty)
    val pii = List("https?://[^ ]+".r, "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}".r,
      "555-[0-9]{3,4}".r)
    assert(out.forall { case (t, _) => pii.forall(_.findFirstIn(t).isEmpty) })
    assert(out.forall(_._2 >= 3), "every doc carries the planted email/phone/URL")
  }

  test("p05 weights are positive and sum to 1 across sources") {
    val df = PackOps.mixtureWeights(spark, sfTiny)
      .select(col("weight")).as[Double].collect()
    assert(df.nonEmpty)
    assert(df.forall(_ > 0))
    assert(math.abs(df.sum - 1.0) < 1e-4, s"weights sum to ${df.sum}")
  }

  test("t10 repetition fractions stay in [0,1] and flag a planted repetitive doc") {
    val base = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val planted = Seq((900001L, Seq.fill(40)("spam").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("t10docs").toString
    base.unionByName(planted).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextOps.repetitionStats(spark, dir)
      .select(col("doc_id"), col("dup_token_frac"), col("top_token_frac"))
      .as[(Long, Option[Double], Option[Double])].collect()
    val fracs = out.flatMap(_._2) ++ out.flatMap(_._3)
    assert(fracs.forall(f => f >= 0.0 && f <= 1.0))
    val spam = out.find(_._1 == 900001L).get
    assert(spam._2.get === 0.975) // 40 copies of one token: 1 - 1/40
    assert(spam._3.get === 1.0)   // the mode IS the whole doc
  }

  test("t12 chunks cover every char, overlap by width-stride, and end exactly at n") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val chunks = graft.operators.TextOps.chunkDocs(spark, sfTiny)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"), col("chunk_len"))
      .as[(Long, Long, Long, Long)].collect()
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val n = docs(id)
      val sorted = cs.sortBy(_._2)
      // consecutive starts differ by the stride; the first starts at 1
      assert(sorted.head._3 === 1L)
      sorted.sliding(2).foreach {
        case Array((_, _, s1, _), (_, _, s2, _)) => assert(s2 - s1 === 150L)
        case _ =>
      }
      // the last chunk reaches exactly the end of the doc (an empty doc
      // yields one zero-length chunk at position 1)
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 === (if (n == 0) 0L else n),
        s"doc $id: last chunk [$lastStart, ${lastStart + lastLen - 1}] vs n=$n")
      // no earlier chunk already covered the doc (minimal chunk count)
      if (sorted.length > 1)
        assert(sorted(sorted.length - 2)._3 + 200 - 1 < n)
    }
  }

  test("p07 epoch shuffle is a permutation matching the per-shard window reference") {
    val out = PackOps.epochShuffleDocs(spark, sfTiny)
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    // permutation: every doc exactly once
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    // dense 0-based positions per shard, and the distributed-scan
    // numbering agrees with the naive per-shard window
    val got = out.select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    got.groupBy(_._2).foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.toSeq === (0L until rows.length).toSeq,
        s"shard $shard positions not dense: ${ps.take(5).toSeq}...")
    }
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    val want = PackOps.epochShuffleDocs(spark, sfTiny)
      .withColumn("wpos", row_number().over(w).cast("long") - 1)
      .select(col("doc_id"), col("shard"), col("wpos"))
      .as[(Long, Long, Long)].collect()
    assert(got.toSet === want.toSet)
    // deterministic: a second run replays the identical order
    val again = PackOps.epochShuffleDocs(spark, sfTiny)
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    assert(got.toSet === again.toSet)
  }

  test("p07 epoch shuffle actually scrambles and spreads across shards") {
    val out = PackOps.epochShuffleDocs(spark, sfTiny)
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    // shards populated (500 docs over 64 shards: every shard with ~8
    // docs under a uniform scramble; require broad occupancy, not exact)
    assert(out.map(_._2).distinct.length >= 48)
    // the replay order is not the identity order: within some shard,
    // consecutive positions are non-consecutive doc ids
    val shuffledSomewhere = out.groupBy(_._2).values.exists { rows =>
      val byPos = rows.sortBy(_._3).map(_._1)
      byPos.zip(byPos.drop(1)).exists { case (a, b) => b != a + 1 }
    }
    assert(shuffledSomewhere, "epoch shuffle produced the identity order")
  }

  test("epochShuffle is a permutation with dense shard positions on seeded random ids") {
    // generic-API property on an id space the registered row never sees:
    // sparse, unordered, including 0 and values near the 2^31 reduction
    // boundary — the shuffle must stay a permutation with dense 0-based
    // positions per shard and keys in [0, 2^32)
    val rnd = new scala.util.Random(424242L)
    val ids = (Seq(0L, 2147483646L, 2147483647L, 2147483648L, 3000000000L) ++
      Seq.fill(300)(rnd.nextLong(4000000000L))).distinct
    val out = PackOps.epochShuffle(
        spark.createDataset(ids).toDF("id"), "id", 99L, 16L)
      .select(col("id"), col("shuffle_key"), col("shard"), col("pos"))
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === ids.length)
    assert(out.map(_._1).toSet === ids.toSet)
    out.foreach { case (_, k, sh, _) =>
      assert(k >= 0 && k < 4294967296L)
      assert(sh === k % 16)
    }
    out.groupBy(_._3).foreach { case (sh, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $sh positions not dense")
    }
  }

  test("epochShuffle rejects a frame already carrying a reserved output column") {
    val df = Seq((1L, 2L)).toDF("id", "shard")
    val e = intercept[IllegalArgumentException] {
      PackOps.epochShuffle(df, "id", 17L, 8L)
    }
    assert(e.getMessage.contains("shard"))
  }

  test("p08 source cap keeps at most N per source and exactly the top-quality docs") {
    val out = PackOps.sourceCap(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("src_rank"))
      .as[(Long, String, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= 10, s"source $src over cap: ${rows.length}")
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    // reference: per-source top-10 by (quality desc nulls-last, doc_id)
    val q = graft.operators.TextOps.docQuality(spark, sfTiny)
      .select(col("doc_id"), col("quality_score"))
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source"))
      .orderBy(desc_nulls_last("quality_score"), col("doc_id"))
    val want = docs.join(q, "doc_id")
      .withColumn("rn", row_number().over(w).cast("long") - 1)
      .filter(col("rn") < 10)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(out.map(_._1).toSet === want)
  }

  test("p09 budget draw takes exactly each source's quota-filling prefix " +
      "of the epoch order") {
    val out = PackOps.budgetDraw(spark, sfTiny)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("quota_tokens"))
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // every drawn doc starts strictly inside its source's quota
    out.foreach { case (id, src, _, cum, quota) =>
      assert(cum < quota, s"doc $id in $src drawn at cum $cum >= $quota")
    }
    // reference: per-source window over the SAME scramble key — the draw
    // must be the exact prefix of that order, with matching running sums
    val w = Window.partitionBy(col("source"))
      .orderBy(col("shuffle_key"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("source"),
        PackOps.bpePieces.as("n_tokens"))
      .withColumn("shuffle_key", PackOps.shuffleKey(col("doc_id"), 29L))
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("cum")).as[(Long, Long)].collect().toMap
    out.foreach { case (id, _, _, cum, _) =>
      assert(want(id) === cum, s"doc $id running sum diverges")
    }
    // the α=0.5 temperature is visible: every source participates
    val drawnSrcs = out.map(_._2).toSet
    val allSrcs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("source")).distinct().as[String].collect().toSet
    assert(drawnSrcs === allSrcs,
      "sqrt-temperature quotas must draw from every source")
    // and the draw is a strict subset (the budget bites)
    val total = graft.sources.Tables.documents(spark, sfTiny).count()
    assert(out.length < total, "budget must exclude some documents")
  }

  test("c03 source card cross-foots with the c02 corpus card") {
    val card = PackOps.sourceCard(spark, sfTiny)
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("avg_quality"), col("token_share"))
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(card.nonEmpty)
    card.foreach { case (nd, nt, nc, q, share) =>
      assert(nd > 0 && nt > 0 && nc > 0)
      assert(q >= 0.0 && q <= 1.0, s"avg quality $q out of range")
      assert(share > 0.0 && share <= 1.0)
    }
    // slice totals must equal the corpus-level card exactly
    val corpus = PackOps.corpusStats(spark, sfTiny)
      .select(col("n_docs"), col("n_tokens"), col("n_chars"))
      .as[(Long, Long, Long)].head()
    assert((card.map(_._1).sum, card.map(_._2).sum, card.map(_._3).sum)
      === corpus, "per-slice sums diverge from the corpus card")
    // shares partition the corpus (6dp rounding per slice)
    assert(math.abs(card.map(_._5).sum - 1.0) < 1e-3 * card.length)
  }

  test("c04 cross-modal gate is the exact conjunction of its three signals") {
    import graft.operators.{DedupOps, EmbeddingOps, TextOps}
    val out = PackOps.crossModalGate(spark, sfTiny)
      .select(col("doc_id"), col("keep")).as[(Long, Int)].collect().toMap
    assert(out.nonEmpty)
    val q = TextOps.docQuality(spark, sfTiny)
      .select(col("doc_id"), col("quality_score"))
      .as[(Long, Double)].collect().toMap
    val p = DedupOps.passageDupFraction(spark, sfTiny)
      .select(col("doc_id"), col("dup_frac"))
      .as[(Long, Double)].collect().toMap
    val e = EmbeddingOps.embeddingOutliers(spark, sfTiny)
      .select(col("vec_id"), col("is_outlier"))
      .as[(Long, Int)].collect().toMap
    // the gate anchors on the DOCUMENT universe: every doc gets a
    // verdict, even one absent from a signal relation (missing passage
    // row => dup_frac 0; missing embedding row => cannot pass)
    val allDocs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(out.keySet === allDocs,
      "gate must emit one verdict per document, no omissions")
    out.foreach { case (id, keep) =>
      val want = if (q(id) >= 0.85 && p.getOrElse(id, 0.0) <= 0.5 &&
        e.getOrElse(id, 1) == 0) 1 else 0
      assert(keep === want, s"doc $id gate diverges from its signals")
    }
    // the gate genuinely gates, and from more than one modality
    val kept = out.values.sum
    assert(kept > 0 && kept < out.size)
    assert(out.exists { case (id, k) => k == 0 && e(id) == 1 },
      "at least one drop must come from the embedding modality")
    assert(out.exists { case (id, k) => k == 0 && q(id) < 0.85 },
      "at least one drop must come from the text modality")
  }

  test("c05 datasheet cross-foots with the corpus, t20, and c04") {
    val card = PackOps.datasetCard(spark, sfTiny)
      .as[(String, Long, Long, Double, Double, Double, Double, Double)]
      .collect()
    assert(card.nonEmpty)
    // doc counts partition the corpus (the gate anchors on documents)
    val total = graft.sources.Tables.documents(spark, sfTiny).count()
    assert(card.map(_._2).sum === total)
    // token totals and compression agree with the t20 tokenizer card
    val t20 = graft.operators.BpeOps.bpeCard(spark, sfTiny)
      .select(col("source"), col("n_bpe_tokens"), col("pieces_per_word"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    card.foreach { case (src, _, nb, ppw, _, _, _, _) =>
      assert(t20(src)._1 === nb, s"$src tokens diverge from t20")
      assert(math.abs(t20(src)._2 - ppw) < 1e-9, s"$src compression diverges")
    }
    // keep_frac cross-foots with c04's per-doc verdicts
    val keptBySrc = PackOps.crossModalGate(spark, sfTiny)
      .join(graft.sources.Tables.documents(spark, sfTiny)
        .select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(avg(col("keep")).as("kf"))
      .as[(String, Double)].collect().toMap
    card.foreach { case (src, _, _, _, _, _, _, kf) =>
      assert(math.abs(keptBySrc(src) - kf) < 1e-6, s"$src keep_frac")
    }
    // shares and fractions live in their ranges
    card.foreach { case (src, _, _, ppw, mq, en, df, kf) =>
      assert(ppw >= 1.0, src)
      assert(mq > 0.0 && mq <= 1.0, src)
      assert(en >= 0.0 && en <= 1.0, src)
      assert(df >= 0.0 && df <= 1.0, src)
      assert(kf >= 0.0 && kf <= 1.0, src)
    }
  }

  test("p02 never splits a near-dup component across train and test") {
    val df = GraphOps.leakageSplit(spark, sfTiny)
      .select(col("component"), col("split")).as[(Long, String)].collect()
    assert(df.nonEmpty)
    assert(df.map(_._2).toSet.subsetOf(Set("train", "test")))
    val perComponent = df.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(perComponent.forall(_._2.size == 1),
      "all docs of a component must land in the same split")
  }

  test("p12 incremental export: totals match the full export, the increment " +
      "is exactly the planted growth, the index ends complete") {
    import spark.implicits._
    val inc = PackOps.incrementalExport(spark, sfTiny)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val full = PackOps.exportManifest(spark, sfTiny)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // base-then-append must reconstruct the FULL corpus manifest —
    // a re-exported (duplicated) or dropped doc breaks this equality
    assert(inc.map(t => (t._1, t._2, t._3, t._4)) === full,
      "incremental export diverges from the one-shot export")
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    assert(inc.map(_._5).sum === docs.filter(col("doc_id") % 10 === 0).count(),
      "n_new must be exactly the planted growth slice")
    // the stored id index ends complete: one id per corpus doc — read
    // through the commit protocol (r12: the root holds manifests +
    // staged dirs, not bare parquet)
    val idxRoot = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "p12") + "/index"
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val idx = graft.sources.ExportCommit
      .readCommitted(spark, idxRoot, idSchema, "parquet").as[Long].collect()
    assert(idx.length === idx.distinct.length, "index holds duplicate ids")
    assert(idx.toSet === docs.select(col("doc_id")).as[Long].collect().toSet,
      "index must cover exactly the exported corpus")
  }

  test("p15 tombstone export: selective rewrite, index loses ids, replay idempotent") {
    import org.apache.spark.sql.types._
    import graft.sources.ExportCommit
    val out = PackOps.tombstoneExport(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(out.nonEmpty)
    val base = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "p15")
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val n = docs.count()
    val nT = docs.filter(col("doc_id") % 10 === 0).count()
    assert(nT > 0, "fixture has no tombstoned ids - the test is vacuous")
    val idSchema = StructType(Seq(StructField("doc_id", LongType)))
    // the rewritten id index loses exactly the tombstoned ids
    val idx2 = ExportCommit.readCommitted(spark, s"$base/index_v2",
      idSchema, "parquet")
    assert(idx2.count() === n - nT)
    assert(idx2.filter(col("doc_id") % 10 === 0).count() === 0L)
    // the rewrite root carries no tombstoned doc (physical removal)
    val expSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("shard", LongType)))
    val rewritten = ExportCommit.readCommitted(spark, s"$base/rewrite",
      expSchema)
    assert(rewritten.filter(col("doc_id") % 10 === 0).count() === 0L)
    // manifest totals: survivors and deletions both foot to the table
    assert(out.map(_(1).asInstanceOf[Long]).sum === n - nT)
    assert(out.map(_(4).asInstanceOf[Long]).sum === nT)
    // delete-then-re-export replays to the identical manifest (all four
    // roots skip their committed batch ids)
    val out2 = PackOps.tombstoneExport(spark, sfTiny).collect().map(_.toSeq).toSeq
    assert(out2 === out)
  }

  test("c07 right-to-be-forgotten: every surface forgets the same ids, audibly, idempotently") {
    val out = PackOps.rightToBeForgotten(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).toSeq
    assert(out.map(_._1) === Seq("export_shards", "ivf_assigned",
      "lsh_bands", "passage_index", "pq_codes", "winnow_index"))
    out.foreach { case (surface, hadBefore, nForgotten, survivors, nAfter) =>
      assert(hadBefore, s"$surface: takedown set absent pre-delete (vacuous)")
      assert(nForgotten === 0L, s"$surface: forgot nothing")
      assert(survivors, s"$surface: wholesale drop is not a delete")
      if (surface == "lsh_bands") assert(nAfter === -1L)
      else assert(nAfter > 0L, s"$surface: no surviving rows reported")
    }
    // the two vector surfaces audit the SAME survivor universe
    val byName = out.map(r => r._1 -> r._5).toMap
    assert(byName("ivf_assigned") === byName("pq_codes"))
    // re-run reads the session-billed artifacts: identical audit
    val out2 = PackOps.rightToBeForgotten(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).toSeq
    assert(out2 === out)
  }

  test("c08 admission: planted classes land on their gates; the appends are load-bearing; replay-stable") {
    import graft.operators.DedupOps
    import graft.functions.TextFunctions
    val docs = graft.sources.Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val attributed = PackOps.admissionAttributed(spark, sfTiny)
    val gates = attributed.select(col("doc_id"), col("gate"))
      .as[(Long, String)].collect().toMap
    val srcs = docs.select(col("doc_id"), col("text"),
        size(TextFunctions.tokens(col("text"))).as("ntok"),
        size(split(col("text"), " ")).as("nraw"),
        (upper(col("text")) === col("text")).as("upperSame"))
      .as[(Long, String, Int, Int, Boolean)].collect()
    val evens = srcs.filter(_._1 % 2 == 0)
    // verbatim re-fetches die at the ledger
    evens.filter(_._1 < 100).foreach { s =>
      assert(gates(s._1 + off) === "1_exact_store", s"refetch of ${s._1}") }
    // uppercased re-fetches die at the VERIFIED near-dup gate (unless
    // the text has no letters, in which case they are exact dups)
    evens.filter(s => s._1 >= 100 && s._1 < 200).foreach { s =>
      val g = gates(s._1 + 2 * off)
      if (s._5) assert(g === "1_exact_store", s"letterless ${s._1}: $g")
      else if (s._3 >= 3) assert(g === "3_neardup", s"variant of ${s._1}: $g")
    }
    // quotations of sources with ≥ 1 full passage die at the passage gate
    evens.filter(s => s._1 >= 200 && s._1 < 250 &&
        s._4 >= DedupOps.PassageTokens).foreach { s =>
      assert(gates(s._1 + 3 * off) === "4_passage", s"quote of ${s._1}") }
    // leaked eval docs with ≥ 5 distinct 5-grams are quarantined (the
    // n-gram overlap rides the id shift; a passage-level catch would
    // also be a correct quarantine but must not reach 'admitted')
    val evalGramCounts = TextFunctions.withNgrams(
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("toks")),
        "toks", "shs", 5)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy(col("doc_id")).agg(countDistinct(col("sh")).as("ng"))
      .as[(Long, Long)].collect()
    evalGramCounts.filter(_._2 >= 5).foreach { case (id, _) =>
      val g = gates(id + 4 * off)
      assert(g == "5_decontam" || g == "4_passage", s"leak of $id: $g") }
    assert(evalGramCounts.exists(e =>
      e._2 >= 5 && gates(e._1 + 4 * off) == "5_decontam"))

    // the composed row: conservation plus the round-2 closed forms
    val out = PackOps.crawlAdmission(spark, sfTiny).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val p1 = out.filter(_._1 == 1L)
    assert(p1.map(_._2) === Seq("1_exact_store", "2_exact_intra",
      "3_neardup", "4_passage", "5_decontam"))
    p1.sliding(2).foreach { w =>
      assert(w(1)._3 === w(0)._5, "stage n_in must chain from n_admitted") }
    assert(p1.head._3 === attributed.count())
    val admitted = attributed.filter(col("gate") === "admitted")
    val nAdm = p1.last._5
    assert(nAdm === admitted.count())
    val p2 = out.filter(_._1 == 2L)
    assert(p2.forall(_._3 == nAdm))
    // verbatim re-submission: the ledger now holds every admitted doc
    assert(p2.find(_._2 == "1_resubmit_exact").get._4 === nAdm)
    // case-variant re-submission: every admitted doc with ≥ 1 shingle is
    // caught — nothing clean-equal exists in the BASE index (gate 3
    // removed those), so the catch rides the APPENDED band rows alone
    val admShingled = admitted
      .filter(size(TextFunctions.tokens(col("text"))) >= 3).count()
    assert(p2.find(_._2 == "2_variant_neardup").get._4 === admShingled)
    // quotation re-use: every admitted doc with ≥ 1 full raw passage is
    // caught through the APPENDED passage hashes alone
    val admQuotable = admitted
      .filter(size(split(col("text"), " ")) >= DedupOps.PassageTokens)
      .count()
    assert(p2.find(_._2 == "3_quote_passage").get._4 === admQuotable)
    // replay: the appends' manifests skip their committed batch ids
    val out2 = PackOps.crawlAdmission(spark, sfTiny).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out2 === out)
  }

  test("c11 exports exactly the committed vec survivors, payload-intact, replay-stable") {
    val manifest = PackOps.admittedVecExport(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // the export carries exactly c09's committed survivors: the
    // dimension-reversed corpus, one row per base vector
    val nb = graft.sources.Tables.embeddings(spark, sfTiny).count()
    assert(manifest.map(_._2).sum === nb)
    // payload intact: every vector kept all its dimensions
    val dims = graft.sources.Tables.embeddings(spark, sfTiny)
      .select(size(col("embedding"))).head().getInt(0)
    assert(manifest.map(_._3).sum === nb * dims)
    assert(manifest.map(_._1).distinct.size === manifest.size)
    val again = PackOps.admittedVecExport(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(again === manifest)
    // r18: the manifest's floor(|x|·1000) checksum and n_dims are
    // REVERSAL-INVARIANT — pin the exported payload BIT-EXACTLY
    // against the rule-derived (reversed, +3·off) corpus
    val base = graft.sources.Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"))
    val offV = graft.operators.DedupOps.plantOffset(
      graft.operators.DedupOps.maxIdOf(base, "vec_id"))
    val root = graft.sources.TmpDirs.artifactRoot(spark, sfTiny, "c11")
    val exported = spark.read
      .parquet(graft.sources.ExportCommit.committedDirs(root): _*)
      .select(col("vec_id"), col("embedding"))
    val bitExact = exported.join(
        base.select((col("vec_id") + lit(3 * offV)).as("vec_id"),
          reverse(col("embedding")).as("want")), Seq("vec_id"))
      .filter(col("embedding") === col("want")).count()
    assert(bitExact === nb,
      s"payload drift: only $bitExact of $nb exported vecs carry the " +
        "rule-derived (reversed) embedding bit-exactly")
  }

  test("c12 multimodal pairs: veto is load-bearing in both directions, replay-stable") {
    val out = PackOps.multimodalAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val p2 = out.filter(_._1 == 2L).map(r => (r._2, r._3, r._4, r._5))
    // committed survivors die on resubmission in BOTH spaces — the
    // pair commit reached both stores
    val r1 = p2.find(_._1 == "1_resubmit_doc").get
    val r2 = p2.find(_._1 == "2_resubmit_vec").get
    assert(r1._2 > 0 && r1._2 === r1._3, "every committed doc must die")
    assert(r2._2 > 0 && r2._2 === r2._3, "every committed vec must die")
    // the conjunction witnesses: single-space survivors whose pair was
    // vetoed were NOT committed — their resubmissions sail through
    val r3 = p2.find(_._1 == "3_vetoed_doc_uncommitted").get
    val r4 = p2.find(_._1 == "4_vetoed_vec_uncommitted").get
    assert(r3._2 > 0 && r3._3 === 0L,
      "a vetoed doc reached the doc store — the veto must gate the commit")
    assert(r4._2 > 0 && r4._3 === 0L,
      "a vetoed vec reached the vec store — the veto must gate the commit")
    // phase 1 conserves: every pair lands in exactly one matrix cell
    val p1 = out.filter(_._1 == 1L)
    assert(p1.map(_._3).sum === p1.map(r => r._4 + r._5).sum)
    // replay: both commits' manifests skip their committed batch ids
    val again = PackOps.multimodalAdmission(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(again === out)
  }

  test("c10 exports exactly the admitted increment, round-trip intact, replay-stable") {
    val manifest = PackOps.admissionExport(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val admitted = PackOps.admissionAttributed(spark, sfTiny)
      .filter(col("gate") === "admitted")
    // every admitted doc rides the export exactly once — no rejected
    // doc leaks in, no admitted doc is dropped
    assert(manifest.map(_._2).sum === admitted.count())
    // the read-back text survived the gzip JSONL round-trip: chars
    // re-measured from the shards equal the source measurement
    val wantChars = admitted
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(manifest.map(_._4).sum === wantChars)
    assert(manifest.map(_._1).distinct.size === manifest.size)
    // replay reuses the committed manifest verbatim
    val again = PackOps.admissionExport(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(again === manifest)
  }
}
