package graft

import graft.api.ModelStore
import graft.features.Featurize
import graft.refine.{CosineMerge, LdaSplitter, ModelRefresh, Renumber}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** Split/merge/renumber/refresh semantics over the FIXTURES A2 corpus
  * (6 docs, 3 latent topics, initial clusters [1,1,2,2,2,2] — ref
  * 04_cluster_refiner.R:391-418 with forced-split params). */
class RefineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "energy battery power electric charging"),
    (2L, "energy storage renewable power battery"),
    (3L, "finance investment risk banking money"),
    (4L, "stock markets economic growth inflation"),
    (5L, "healthcare hospital treatment diagnosis"),
    (6L, "medicine health doctor therapy")
  ).toDF("doc_id", "text")

  private def fixtureAssignments = Seq(
    (1L, 1), (2L, 1), (3L, 2), (4L, 2), (5L, 2), (6L, 2)
  ).toDF("doc_id", "cluster")

  /** The fixture corpus's (doc_id, features) count vectors and vocab. */
  private def fixtureVectors: (DataFrame, Array[String]) = {
    val counts = Featurize.counts(corpus)
    val vocab = Featurize.topVocab(Featurize.tfidf(counts, corpus), 100)
    val terms = Featurize.termIndex(ModelStore.vocabWithStats(vocab, counts, corpus))
    val vocabTerms = terms.value.toArray.sortBy(_._2._1).map(_._1)
    (Featurize.vectorize(corpus, terms, vocabTerms.length, Featurize.RawCount), vocabTerms)
  }

  test("Renumber.dense maps sorted distinct ids to a dense 0-based bijection") {
    val asg = Seq((1L, 7), (2L, 3), (3L, 7), (4L, 42)).toDF("doc_id", "cluster")
    val got = Renumber.dense(asg).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 2))
  }

  test("CosineMerge.mergeMap reproduces first-wins chaining, not closure") {
    // cos(0,1) ≈ 0.8 > t, cos(1,2) ≈ 0.8 > t, cos(0,2) = 0.28 < t
    val centers = Map(
      0 -> Array(1.0, 0.0),
      1 -> Array(0.8, 0.6),
      2 -> Array(0.28, 0.96))
    val mm = CosineMerge.mergeMap(centers, threshold = 0.75)
    // scan (0,1): 1 → 0; (0,2): no; (1,2): everything mapped to 2 → 1.
    // 2 ends at 1 (NOT chained through to 0) — reference semantics.
    assert(mm === Map(0 -> 0, 1 -> 0, 2 -> 1))
    // The chain map is legally NOT idempotent (mm(mm(2)) = 0 ≠ 1) —
    // which is why m08's oracle pins monotonicity and totality, never
    // idempotence: an idempotence flag would flip red on exactly this
    // legal center configuration (r11; the m09 data-coupling lesson)
    assert(mm(mm(2)) !== mm(2), "chain map unexpectedly idempotent")
    assert(mm.forall { case (x, r) => r <= x }, "retarget must go downward")
    assert(mm.keySet === centers.keySet && mm.values.toSet.subsetOf(centers.keySet))
  }

  test("CosineMerge.apply + Renumber yields merged dense assignments") {
    val asg = Seq((1L, 0), (2L, 1), (3L, 2)).toDF("doc_id", "cluster")
    val mm = Map(0 -> 0, 1 -> 0, 2 -> 2)
    val dense = Renumber.denseMap(mm.values)
    val merged = ModelRefresh.relabel(asg, mm.map { case (c, r) => c -> dense(r) })
    val got = merged.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === Map(1L -> 0, 2L -> 0, 3L -> 1))
  }

  test("ModelRefresh.stats recomputes sizes and withinss per cluster") {
    val vecs = Seq(
      (1L, 0, Vectors.dense(0.0, 0.0)),
      (2L, 0, Vectors.dense(2.0, 0.0)),
      (3L, 1, Vectors.dense(5.0, 5.0))
    ).toDF("doc_id", "cluster", "features")
    val summary = ModelRefresh.summary(vecs)
    assert(summary.map { case (c, (n, v)) => c -> (n, v.toArray.toSeq) } ===
      Map(0 -> (2L, Seq(1.0, 0.0)), 1 -> (1L, Seq(5.0, 5.0))))
    val got = ModelRefresh.withinss(vecs, summary.map { case (c, (_, v)) => c -> v }).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // cluster 0 center = (1,0): withinss = 1 + 1 = 2; cluster 1 singleton = 0
    assert(got === Array((0, 2L, 2.0), (1, 1L, 0.0)))
  }

  /** Three clusters of 2-d points: the centers of 0 and 2 have cosine
    * 0.9999, cluster 1's has cosine below 0.15 with both. */
  private val mergePoints = Seq(
    (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(3.0, 0.0)), (3L, 0, Seq(2.0, 0.5)),
    (4L, 1, Seq(0.0, 5.0)), (5L, 1, Seq(0.5, 7.0)),
    (6L, 2, Seq(9.0, 1.0)), (7L, 2, Seq(11.0, 1.0)))

  test("ModelPipeline.merge on a fixture that merges: dense ids, conserved n_docs, union withinss") {
    import graft.api.ModelPipeline
    val asg = mergePoints.map { case (d, c, xs) => (d, c, Vectors.dense(xs.toArray)) }
      .toDF("doc_id", "cluster", "features")
    val summary = ModelRefresh.summary(asg)
    val merged = ModelPipeline.merge(asg, summary)
    assert(merged.map === Map(0 -> 0, 1 -> 1, 2 -> 0))
    val byDoc = merged.assignments.select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 0, 7L -> 0))
    val stats = ModelRefresh.withinss(merged.assignments, merged.centers).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(stats.map(_._1).toSeq === Seq(0, 1), "merged ids are not dense")
    assert(stats.map(_._2).sum === mergePoints.size.toLong, "n_docs not conserved")
    // plain-Scala recompute over each merged cluster's union of points
    val union = mergePoints.groupBy { case (d, _, _) => byDoc(d) }
    stats.foreach { case (c, n, ss) =>
      val pts = union(c).map(_._3)
      val center = pts.transpose.map(_.sum / pts.size)
      val want = pts.map(_.zip(center).map { case (x, m) => (x - m) * (x - m) }.sum).sum
      assert(n === pts.size.toLong)
      assert(math.abs(ss - want) <= 1e-9, s"cluster $c: withinss $ss vs $want")
      val (fn, fc) = merged.summary(c)
      assert(fn === n)
      fc.toArray.zip(center).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9) }
    }
  }

  test("optimize on a built split runs at most 2 jobs; the report at most 17") {
    import graft.api.ModelPipeline
    val params = LdaSplitter.Params(kRange = 2 to 3, coherenceThreshold = 0.5,
      minDocsForSplit = 10, maxIter = 5)
    ModelPipeline.splitAssignments(spark, sfTiny, params, 15, 123)
    val (stats, optimizeJobs) = recordJobs() {
      ModelPipeline.optimize(spark, sfTiny, 15, 123, params, 0.9).collect()
    }
    val (report, reportJobs) = recordJobs() {
      ModelPipeline.refinerReport(spark, sfTiny, 15, 123, params).collect()
    }
    val (o, r) = (optimizeJobs.count(inBody), reportJobs.count(inBody))
    info(s"optimize: $o jobs, report: $r jobs")
    // a merge built from joins, a window renumber and a re-aggregated
    // refresh ran 12 jobs here, and the report 18
    assert(stats.map(_.getAs[Long]("n_docs")).sum === report.map(_.getAs[Long]("n_docs")).sum)
    assert(o <= 2, s"optimize ran $o jobs")
    assert(r <= 17, s"the report ran $r jobs")
  }

  test("refinerReport produces a labeled coherence report (M10/A10)") {
    import graft.api.ModelPipeline
    val fm = ModelPipeline.fit(corpus, k = 3, seed = 123, vocabSize = 100)
    val report = ModelPipeline.reportFrom(fm, ModelPipeline.split(fm,
      graft.refine.LdaSplitter.Params(
        kRange = 2 to 2, coherenceThreshold = -10.0, // no split: all coherent enough
        minDocsForSplit = 2, maxIter = 10, subsamplingRate = 1.0)))
      .collect()
    assert(report.length === 3)
    report.foreach { r =>
      assert(r.getLong(1) >= 1L)                  // n_docs
      assert(r.getString(3).nonEmpty)             // label
    }
    // sorted best-first
    val cohs = report.map(_.getDouble(2)).toSeq
    assert(cohs === cohs.sorted.reverse)
  }

  test("LdaSplitter splits the low-coherence mixed cluster (A2 forced split)") {
    val (countVecs, vocabTerms) = fixtureVectors
    // cluster 1 coherent, cluster 2 mixes finance+health → force its split
    val scores = Map(1 -> (0.95, 2L), 2 -> (0.1, 4L))
    val updated = LdaSplitter.split(
      countVecs, fixtureAssignments, scores, vocabTerms,
      LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.9,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0))
    val dense = Renumber.dense(updated)
    val byDoc = dense.collect().map(r => (r.getLong(0), r.getInt(1))).toMap

    assert(byDoc.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // ids are dense 0-based
    val ids = byDoc.values.toSet
    assert(ids === (0 until ids.size).toSet)
    // cluster 1 (docs 1,2) survives untouched and together
    assert(byDoc(1L) === byDoc(2L))
    // the mixed cluster produced at least 2 sub-clusters
    val subIds = Set(byDoc(3L), byDoc(4L), byDoc(5L), byDoc(6L))
    assert(subIds.size >= 2, s"cluster 2 did not split: $byDoc")
    assert(!subIds.contains(byDoc(1L)))
  }

  test("fresh split ids never collide with a cluster absent from scores") {
    // regression: cluster 9 (doc 7) has no coherence row (singleton — no
    // scored term pairs); deriving the id base from scores.keys.max alone
    // would start fresh ids at 3 and fuse split docs into cluster 9
    val (countVecs, vocabTerms) = fixtureVectors
    val asg = Seq(
      (1L, 1), (2L, 1), (3L, 2), (4L, 2), (5L, 2), (6L, 9)
    ).toDF("doc_id", "cluster")
    val scores = Map(1 -> (0.95, 2L), 2 -> (0.1, 3L)) // 9 unscored
    val updated = LdaSplitter.split(
      countVecs, asg, scores, vocabTerms,
      LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.9,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0))
    val byDoc = updated.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // doc 6 keeps its own cluster — no split doc may land on id 9
    assert(byDoc(6L) === 9)
    Seq(3L, 4L, 5L).foreach { d =>
      assert(byDoc(d) > 9, s"doc $d reassigned to ${byDoc(d)} — collides below the true max id")
    }
  }

  test("a poisoned slice degrades to no-split instead of wedging the sweep") {
    // ref 02_build_models.R:530-535 keeps a cluster unsplit when its LDA
    // fit throws; the engine must match — null features make every
    // (2, k) fit fail, and the cluster's docs keep their assignment
    val (countVecs, vocabTerms) = fixtureVectors
    val poisoned = countVecs.withColumn("features",
      when(col("doc_id") >= 3L, lit(null)).otherwise(col("features")))
    val scores = Map(1 -> (0.95, 2L), 2 -> (0.1, 4L))
    val updated = LdaSplitter.split(
      poisoned, fixtureAssignments, scores, vocabTerms,
      LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.9,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0))
    val byDoc = updated.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val original = fixtureAssignments.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(byDoc === original, "failed fits must leave every assignment unchanged")
  }

  test("a zero fit budget times out the sweep and degrades to no-split") {
    val (countVecs, vocabTerms) = fixtureVectors
    val scores = Map(1 -> (0.95, 2L), 2 -> (0.1, 4L))
    val updated = LdaSplitter.split(
      countVecs, fixtureAssignments, scores, vocabTerms,
      LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.9,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0,
        fitTimeout = scala.concurrent.duration.Duration.Zero))
    val byDoc = updated.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val original = fixtureAssignments.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(byDoc === original, "timed-out fits must leave every assignment unchanged")
  }

  /** A planted corpus: `topics` disjoint 10-term vocabularies and
    * `perTopic` docs per vocabulary, each of 8 tokens drawn from it; doc
    * d's planted topic is d / perTopic. */
  private def planted(topics: Int, perTopic: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until topics * perTopic).map { d =>
      val terms = Array.fill(8)(d / perTopic * 10 + rnd.nextInt(10))
        .groupBy(identity).toSeq.sortBy(_._1)
      (d.toLong, Vectors.sparse(10 * topics, terms.map(_._1).toArray,
        terms.map(_._2.length.toDouble).toArray))
    }.toDF("doc_id", "features")
  }

  private def plantedTerms(topics: Int): Array[String] =
    Array.tabulate(10 * topics)(i => s"t${i / 10}w${i % 10}")

  /** Share of docs whose predicted cluster's majority planted topic is
    * their own. */
  private def purity(pred: Map[Long, Int], perTopic: Int): Double =
    pred.groupBy(_._2).values
      .map(_.keys.groupBy(_ / perTopic).values.map(_.size).max).sum.toDouble / pred.size

  private def byDoc(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("the split submits at most maxIter + 6 Spark jobs") {
    // MLlib's optimizer spent 2·maxIter + 2 jobs per (cluster, k) fit:
    // 48 here; the batched sweep spends one per iteration for all fits
    val (countVecs, vocabTerms) = fixtureVectors
    val vecs = countVecs.localCheckpoint()
    val asg = fixtureAssignments.localCheckpoint()
    val params = LdaSplitter.Params(kRange = 2 to 3, coherenceThreshold = 0.9,
      minDocsForSplit = 2, maxIter = 5)
    val (updated, jobs) = recordJobs() {
      LdaSplitter.split(vecs, asg, Map(1 -> (0.1, 2L), 2 -> (0.1, 4L)), vocabTerms, params)
    }
    val n = jobs.count(inBody)
    info(s"$n jobs")
    assert(n <= params.maxIter + 6, s"the split submitted $n jobs")
    assert(byDoc(updated).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("the split does not depend on partitioning; reruns give bit-identical lambda") {
    val (countVecs, vocabTerms) = fixtureVectors
    val scores = Map(1 -> (0.1, 2L), 2 -> (0.1, 4L))
    // subsampled, so the per-doc sample draw is exercised too
    val params = LdaSplitter.Params(kRange = 2 to 3, coherenceThreshold = 0.9,
      minDocsForSplit = 2, maxIter = 30, subsamplingRate = 0.5)
    def split(n: Int) = byDoc(LdaSplitter.split(countVecs.repartition(n),
      fixtureAssignments.repartition(n), scores, vocabTerms, params))
    assert(split(1) === split(4))

    // the sweep itself, on its docs spread over 1 and over 4 partitions
    def lambdas(n: Int): Map[(Int, Int), Seq[Long]] = {
      val sweep = new LdaSplitter.Sweep(spark.sparkContext, 1.minute)
      val p = LdaSplitter.prepare(countVecs, fixtureAssignments, Seq(1, 2),
        vocabTerms.length, sweep).get
      LdaSplitter.fit(p.copy(docs = p.docs.repartition(n)), vocabTerms.length, params, sweep)
        .map { case (ck, s) => ck -> s.lambda.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits) }
    }
    val four = lambdas(4)
    assert(four.keySet === Set((1, 2), (1, 3), (2, 2), (2, 3)))
    assert(lambdas(4) === four, "two runs at 4 partitions differ")
    // across partitionings only the order of the partial sums differs
    lambdas(1).foreach { case (ck, bits) =>
      bits.zip(four(ck)).foreach { case (a, b) =>
        val (x, y) = (java.lang.Double.longBitsToDouble(a), java.lang.Double.longBitsToDouble(b))
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)), s"$ck: $x vs $y")
      }
    }
  }

  test("planted two-vocabulary cluster: the sweep splits it as purely as MLlib's LDA") {
    val vecs = planted(topics = 2, perTopic = 20)
    val lda = new org.apache.spark.ml.clustering.LDA().setK(2).setMaxIter(40)
      .setSubsamplingRate(1.0).setSeed(1234).setOptimizer("online").fit(vecs)
    val mllib = lda.transform(vecs).collect().map(r =>
      r.getLong(0) -> r.getAs[org.apache.spark.ml.linalg.Vector]("topicDistribution").argmax).toMap
    val swept = byDoc(LdaSplitter.split(vecs,
      vecs.select(col("doc_id"), lit(0).as("cluster")), Map(0 -> (0.0, 40L)),
      plantedTerms(2), LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.5,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0)))
    assert(purity(mllib, 20) >= 0.9, s"MLlib's LDA: $mllib")
    assert(purity(swept, 20) >= 0.9, s"the batched sweep: $swept")
  }

  test("a poisoned cluster degrades alone; the other cluster of the pass still splits") {
    // cluster 0 = planted topics 0+1, cluster 1 = topics 2+3, one doc of
    // cluster 1 has a null count vector
    val vecs = planted(topics = 4, perTopic = 10)
    val asg = vecs.select(col("doc_id"), (col("doc_id") / 20).cast("int").as("cluster"))
    val poisoned = vecs.withColumn("features",
      when(col("doc_id") === 25L, lit(null)).otherwise(col("features")))
    val got = byDoc(LdaSplitter.split(poisoned, asg,
      Map(0 -> (0.0, 20L), 1 -> (0.0, 20L)), plantedTerms(4),
      LdaSplitter.Params(kRange = 2 to 2, coherenceThreshold = 0.5,
        minDocsForSplit = 2, maxIter = 40, subsamplingRate = 1.0)))
    (20L until 40L).foreach(d => assert(got(d) === 1, s"poisoned doc $d moved"))
    val split0 = got.filter(_._1 < 20L)
    assert(split0.values.forall(_ > 1), s"cluster 0 kept an old id: $split0")
    assert(split0.values.toSet.size === 2, s"cluster 0 did not split: $split0")
    assert(purity(split0, 10) >= 0.9, s"cluster 0 split impurely: $split0")
  }

  test("a deadline mid-sweep cancels it: all unsplit, no group job starts after return") {
    val vecs = planted(topics = 2, perTopic = 20).localCheckpoint()
    val asg = vecs.select(col("doc_id"), lit(0).as("cluster")).localCheckpoint()
    val ((updated, returnedAt), jobs) = recordJobs(settle = 1.second) {
      val out = LdaSplitter.split(vecs, asg, Map(0 -> (0.0, 40L)), plantedTerms(2),
        LdaSplitter.Params(kRange = 2 to 6, coherenceThreshold = 0.5,
          minDocsForSplit = 2, maxIter = 1000000, subsamplingRate = 1.0,
          fitTimeout = 2.seconds))
      (out, System.currentTimeMillis())
    }
    val group = jobs.filter(e => Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).exists(_.startsWith("lda-split-")))
    assert(group.size > 1, "the sweep should have run iterations before its deadline")
    group.foreach(e => assert(e.time <= returnedAt, s"job ${e.jobId} started after split returned"))
    assert(byDoc(updated).values.toSet === Set(0), "a timed-out sweep must leave every doc unsplit")
  }

  // ---- one per-cluster kernel in src/main --------------------------------

  /** Code lines (not comments) of `dirs` under `root` matching `re`. */
  private def codeLines(root: java.io.File, re: scala.util.matching.Regex,
                        dirs: Seq[String] = Seq("")): Seq[String] =
    for {
      f <- MainSources.files(root)
      if dirs.exists(d => f.getPath.contains(s"/graft/$d"))
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/**")
      if re.findFirstIn(code).isDefined
    } yield s"${f.getPath}:${i + 1}"

  private def kernelOffenders(root: java.io.File): Seq[String] = {
    val means = codeLines(root, """Summarizer\.mean\b""".r)
    val sqdists = codeLines(root, """Vectors\.sqdist\b""".r, Seq("refine/", "cluster/"))
    (if (means.size == 1) Nil else Seq(s"Summarizer.mean on ${means.size} lines: $means")) ++
      (if (sqdists.size == 1) Nil else Seq(s"Vectors.sqdist on ${sqdists.size} lines: $sqdists"))
  }

  test("src/main holds one center mean and, under refine/ and cluster/, one withinss distance") {
    val offenders = kernelOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("the kernel scan fails on a copy of src/main that adds a second center and withinss kernel") {
    val copy = MainSources.copyWith("cluster/Mutant.scala",
      """package graft.cluster
        |object Mutant {
        |  def centers(asg: org.apache.spark.sql.DataFrame) =
        |    asg.groupBy("cluster").agg(org.apache.spark.ml.stat.Summarizer.mean(asg("features")))
        |  def sq(a: org.apache.spark.ml.linalg.Vector, b: org.apache.spark.ml.linalg.Vector) =
        |    org.apache.spark.ml.linalg.Vectors.sqdist(a, b)
        |}
        |""".stripMargin)
    val offenders = kernelOffenders(copy)
    assert(offenders.size === 2 && offenders.forall(_.contains("Mutant.scala")), offenders)
  }

  test("the merged-away helpers are gone: collectCenters, CosineMerge.apply, stats, ClusterPipeline.withinss, mapping") {
    def methods(o: AnyRef) = o.getClass.getDeclaredMethods.map(_.getName).toSet
    assert(!methods(CosineMerge).exists(Set("collectCenters", "apply")))
    assert(!methods(ModelRefresh).contains("stats"))
    assert(!methods(graft.cluster.ClusterPipeline).contains("withinss"))
    assert(!methods(Renumber).contains("mapping"))
  }
}
