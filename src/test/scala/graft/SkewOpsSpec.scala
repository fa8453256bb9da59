package graft

import graft.operators.{EmbeddingOps, SkewOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Salted rewrites must be semantics-preserving, and the IVF probe path
  * must find what brute force finds (for the probed neighborhood). */
class SkewOpsSpec extends SparkSpec {

  test("salted two-phase aggregation equals the plain aggregation") {
    val events = Tables.events(spark, sfTiny)
    val salted = SkewOps.saltedCountSum(events,
        col("event_type"), col("value"), col("event_id"), saltFactor = 8)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    val plain = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("vsum"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    assert(salted === plain)
  }

  test("salted join equals the plain join row-for-row") {
    val events = Tables.events(spark, sfTiny)
    val dim = events.groupBy(col("user_id")).agg(count(lit(1)).as("user_events"))
    val salted = SkewOps.saltedJoin(events, dim, "user_id",
        col("event_id"), saltFactor = 8)
      .select("event_id", "user_id", "user_events")
      .collect().map(_.toSeq).toSet
    val plain = events.join(dim, "user_id")
      .select("event_id", "user_id", "user_events")
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("the row-local probe ranking equals a full (sqdist, cell) sort of the centers") {
    import spark.implicits._
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rnd = new scala.util.Random(11)
    val emb = (0 until 160)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val index = EmbeddingOps.ivfBuild(emb, cells = 16)
    val centers = index.model.clusterCenters
    // depths below, at and past the cell count
    for (probes <- Seq(1, 2, 4, 16, 20)) {
      val rank = EmbeddingOps.probeCellsRowLocal(spark, index.model, probes)
      index.assigned.select(col("features"), rank(col("features")))
        .collect().foreach { r =>
          val f = r.getAs[Vector](0)
          val want = centers.zipWithIndex
            .map { case (c, i) => (Vectors.sqdist(c, f), i) }
            .sortBy(identity).take(probes).map(_._2).toSeq
          assert(r.getSeq[Int](1) === want, s"probes = $probes")
        }
    }
  }

  test("IVF ANN recalls planted near-neighbors (structured fixture)") {
    import spark.implicits._
    // 8 well-separated direction clusters × 25 members; query = vec 0 in
    // cluster 0 with a planted 0.99-cosine twin (vec 1). The corpus
    // embeddings are isotropic noise where "nearest" is meaningless —
    // THIS is the workload IVF exists for (near-dup detection).
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 200).map { i =>
      // vec 1 is the planted near-twin of vec 0: same base direction
      // (cluster 0), tiny jitter
      val c = if (i == 1) 0 else i % 8
      val jitter = if (i == 1) 0.02f else 0.4f
      val v = base(c).map(x => x + jitter * rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val index = EmbeddingOps.ivfBuild(emb, cells = EmbeddingOps.IvfCells)
    val got = EmbeddingOps.ivfTopK(index, queryId = 0, k = 20)
      .collect().map(_.getLong(0))
    assert(got.head === 1L, s"planted twin not top-1: ${got.take(5).toSeq}")
    // most of the query's own cluster should surface in the top-20
    val sameCluster = got.count(i => i % 8 === 0 || i === 1L)
    assert(sameCluster >= 15, s"cluster recall too low: $sameCluster/20")
  }

  test("IVF cell count scales with the corpus, floored and capped") {
    import EmbeddingOps.{ivfCellsFor, IvfCells, IvfMaxCells, IvfTargetCellSize}
    // every shipped SF (≤ 4000 union vectors) stays on the legacy
    // 16-cell index the recall oracles were validated on
    assert(ivfCellsFor(500) === IvfCells)
    assert(ivfCellsFor(4000) === IvfCells)
    // past the floor the count is linear in the corpus at fixed cell
    // load — the SemDeDup regime that keeps within-cell work bounded
    assert(ivfCellsFor(40000) === (40000 / IvfTargetCellSize).toInt)
    assert(ivfCellsFor(1 << 24) === (1 << 24) / IvfTargetCellSize.toInt)
    // two-level-quantizer territory: capped, not unbounded
    assert(ivfCellsFor(Long.MaxValue / 2) === IvfMaxCells)
  }

  test("multi-probe pair pass finds the boundary pair single-probe misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 8 well-separated direction clusters × 25 members (the recall
    // fixture), plus a planted BOUNDARY near-dup pair: ids 1000/1001 mix
    // two base directions 55/45 and 45/55 — cosine(u, w) = 0.495/0.505 ≈
    // 0.980 ≥ 0.95, but each leans toward a different cluster, so the
    // real quantizer assigns them different primary cells and the
    // single-probe pass can never compare them. Multi-probe must.
    val rnd = new scala.util.Random(11)
    val dim = 32
    val base = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val corpus = (0 until 200).map { i =>
      val v = base(i % 8).map(x => x + 0.4f * rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }
    // fit the REAL quantizer on the corpus alone, then craft the twins
    // from the two NEAREST fitted centers — mixing 55/45 and 45/55
    // guarantees u is Euclid-closer to c_i and w to c_j by construction
    val index0 = EmbeddingOps.ivfBuild(corpus.toDF("vec_id", "embedding"), cells = 8)
    val centers = index0.model.clusterCenters
    val (i0, j0) = (for (i <- centers.indices; j <- centers.indices if i < j)
      yield (i, j)).minBy { case (i, j) =>
        org.apache.spark.ml.linalg.Vectors.sqdist(centers(i), centers(j)) }
    def mix(a: Double): Array[Float] =
      centers(i0).toArray.zip(centers(j0).toArray)
        .map { case (x, y) => (a * x + (1 - a) * y).toFloat }
    val u = mix(0.55)
    val w = mix(0.45)
    // replicate ivfBuild's feature normalization exactly
    def feat(v: Array[Float]) = {
      val x = v.map(_.toDouble)
      val n = math.sqrt(x.map(d => d * d).sum)
      org.apache.spark.ml.linalg.Vectors.dense(x.map(_ / n))
    }
    val cos = {
      val (fu, fw) = (feat(u).toArray, feat(w).toArray)
      fu.zip(fw).map { case (a, b) => a * b }.sum
    }
    assert(cos >= 0.95, s"fixture degenerate: twin cosine $cos below threshold")
    val cellU = index0.model.predict(feat(u))
    val cellW = index0.model.predict(feat(w))
    // precondition of the proof: the quantizer really splits the pair
    assert(cellU !== cellW,
      s"fixture degenerate: boundary twins share primary cell $cellU")
    val twins = Seq((1000L, u, feat(u), cellU), (1001L, w, feat(w), cellW))
      .toDF("vec_id", "embedding", "features", "cell")
    val index = EmbeddingOps.IvfIndex(
      index0.assigned.unionByName(twins.select(index0.assigned.columns.map(col): _*)),
      index0.model)
    // each twin's probe set reaches across the boundary
    val probes = EmbeddingOps.cellProbes(index)
      .filter(col("vec_id") >= 1000L)
      .select(col("vec_id"), col("cell")).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getInt(1)).toSet }
    assert(probes(1000L).contains(cellW) || probes(1001L).contains(cellU),
      s"fixture degenerate: probe sets $probes never cross the boundary")
    val primary = index.assigned.select(col("cell"), col("vec_id"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing only each vector's primary cell is the single-probe pass
    val single = pairs(EmbeddingOps.multiProbeEdges(primary, primary,
      nTotal = 202, nCells = 8, threshold = 0.95))
    val multi = pairs(EmbeddingOps.multiProbeEdges(primary,
      EmbeddingOps.cellProbes(index),
      nTotal = 202, nCells = 8, threshold = 0.95))
    assert(!single.contains((1000L, 1001L)),
      "single-probe unexpectedly found the cross-cell pair — fixture stale")
    assert(multi.contains((1000L, 1001L)),
      s"multi-probe missed the planted boundary pair: $multi")
    // multi-probe strictly extends single-probe (same threshold/guard)
    assert(single.subsetOf(multi), s"multi lost pairs: ${single.diff(multi)}")
  }

  test("second-cell-only pair: the multi-probe pass misses it (documented residue)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The residual blind spot's EXISTENCE proof (r10 verdict item 6):
    // three planted direction clusters at angles −12°/0°/+12° in one
    // plane; twins at ∓7° — each is Euclid-closest to its OWN outer
    // cluster (5° away), second-closest to the middle (7°), with the
    // far outer cluster at 19°. So both primaries differ AND neither
    // primary is in the other's top-2 {outer, middle}: the pair meets
    // only in both SECOND cells. cos(u,v) = cos(14°) ≈ 0.970 ≥ 0.95 —
    // a genuine near-dup the default pass cannot see, by construction.
    val dim = 16
    val rnd = new scala.util.Random(7)
    def planted(angleDeg: Double): Array[Float] = {
      val a = math.toRadians(angleDeg)
      val v = new Array[Float](dim)
      v(0) = math.cos(a).toFloat
      v(1) = math.sin(a).toFloat
      v
    }
    val corpus = (0 until 150).map { i =>
      val c = planted(Seq(-12.0, 0.0, 12.0)(i % 3))
      // tight angular noise: the fit must recover the planted directions
      (i.toLong, c.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val index0 = EmbeddingOps.ivfBuild(corpus.toDF("vec_id", "embedding"),
      cells = 3)
    def feat(v: Array[Float]) = {
      val x = v.map(_.toDouble)
      val n = math.sqrt(x.map(d => d * d).sum)
      org.apache.spark.ml.linalg.Vectors.dense(x.map(_ / n))
    }
    val u = planted(-7.0)
    val w = planted(7.0)
    val cellU = index0.model.predict(feat(u))
    val cellW = index0.model.predict(feat(w))
    assert(cellU !== cellW, "fixture degenerate: twins share a primary")
    val probes0 = EmbeddingOps.cellProbes(EmbeddingOps.IvfIndex(
        index0.assigned.unionByName(
          Seq((1000L, u, feat(u), cellU), (1001L, w, feat(w), cellW))
            .toDF("vec_id", "embedding", "features", "cell")
            .select(index0.assigned.columns.map(col): _*)),
        index0.model))
    val sets = probes0.filter(col("vec_id") >= 1000L)
      .collect().groupBy(_.getLong(1))
      .map { case (k, v) => k -> v.map(_.getInt(0)).toSet }
    // precondition: primaries differ, probe sets overlap ONLY in the
    // middle (second) cell — the exact second-cell-only geometry
    assert(!sets(1000L).contains(cellW) && !sets(1001L).contains(cellU),
      s"fixture degenerate: a probe set reaches the other primary: $sets")
    assert(sets(1000L).intersect(sets(1001L)).nonEmpty,
      s"fixture degenerate: probe sets are disjoint: $sets")
    val index = EmbeddingOps.IvfIndex(
      index0.assigned.unionByName(
        Seq((1000L, u, feat(u), cellU), (1001L, w, feat(w), cellW))
          .toDF("vec_id", "embedding", "features", "cell")
          .select(index0.assigned.columns.map(col): _*)),
      index0.model)
    val primary = index.assigned
      .select(col("cell"), col("vec_id"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deflt = pairs(EmbeddingOps.multiProbeEdges(primary,
      EmbeddingOps.cellProbes(index), nTotal = 152, nCells = 3,
      threshold = 0.95))
    assert(!deflt.contains((1000L, 1001L)),
      "default multi-probe found the second-cell-only pair — the " +
        "documented residue no longer exists; update the doc and census")
  }

  test("semantic-dedup pair pass excludes degenerate hot cells") {
    import spark.implicits._
    // cell 0: 1100 identical vectors (a collapsed region the quantizer
    // failed on — 600k pairs if admitted); cells 1/2: 30 vectors each
    // with one planted near-identical pair. nCells=200 puts the scaled
    // cap at its floor (4×256=1024 > 16·1160/200), so cell 0 trips it.
    val hot = (0 until 1100).map(i => (0, i.toLong, Array(1.0f, 0.0f)))
    val small = Seq(1, 2).flatMap { c =>
      (0 until 30).map { i =>
        val id = 2000L + c * 100 + i
        // ids ending the cell range are the planted twins (same vector)
        val v = if (i >= 28) Array(c.toFloat, 1.0f)
                else Array(c + 0.5f * i, i.toFloat + 1.0f)
        (c, id, v)
      }
    }
    val assigned = (hot ++ small).toDF("cell", "vec_id", "embedding")
    val edges = EmbeddingOps.multiProbeEdges(assigned, assigned, nTotal = 1160,
        nCells = 200, threshold = 0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot cell contributes NOTHING (guard) — without it this set
    // would carry ~600k identical-vector pairs
    assert(edges.forall(_._1 >= 2000L), s"hot-cell pair leaked: $edges")
    // the small cells' planted identical pairs survive the guard
    assert(edges.contains((2128L, 2129L)) && edges.contains((2228L, 2229L)),
      s"planted small-cell pairs missing: $edges")
  }

  test("e13 batch serving agrees with the brute-force top-1 per query") {
    import spark.implicits._
    // the registered row's closed-form contract: every query's top-1 is
    // its planted twin at cosine 1.0, query universe = base ids % 20
    val out = EmbeddingOps.annBatchServe(spark, sfTiny)
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    val base = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"))
    val baseIds = base.select(col("vec_id")).as[Long].collect().toSet
    assert(out.map(_._1).toSet === baseIds.filter(_ % 20 == 0))
    out.foreach { case (q, t, c) => assert(c === 1.0, s"query $q cosine") }
    // twin offset is one constant across the batch
    val offs = out.map(t => t._2 - t._1).distinct
    assert(offs.length === 1)
    val off = offs.head
    // REFERENCE: the exact brute-force top-1 over the whole union (no
    // index, no probe) must name the same neighbor at the same cosine
    val union = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + lit(off)))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = union.toMap
    out.take(3).foreach { case (q, want, c) =>
      val (got, best) = union.filter(_._1 != q)
        .map { case (id, v) => (id, cos(byId(q), v)) }
        .minBy { case (id, x) => (-x, id) }
      assert(got === want, s"query $q: served=$want brute force=$got")
      assert(math.abs(best - c) < 1e-6, s"query $q: cosine $c vs $best")
    }
  }

  // ---- one IVF serve kernel in src/main ------------------------------------

  /** Code that marks a serve kernel's definition (comments and
    * stripMargin SQL are not scanned). */
  private val kernelSignatures = Seq(
    "probe ranking" -> "Vectors.sqdist(c, f)",
    "serve cosine" -> """round(fastCosine(col("q_emb"), col("embedding")), 6)""",
    "ADC lookup table" -> "n2 - 2.0 * dot",
    "top-1 tail" -> """(-col("vec_id")).as("neg_id")""")

  private def kernelOffenders(root: java.io.File): Seq[String] = {
    val hits = for {
      f <- MainSources.files(root)
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("|")
      (what, sig) <- kernelSignatures
      if code.contains(sig)
    } yield (what, s"${f.getPath}:${i + 1}")
    kernelSignatures.flatMap { case (what, _) =>
      val at = hits.filter(_._1 == what).map(_._2)
      if (at.size == 1) Nil else Seq(s"$what on ${at.size} lines: ${at.mkString(", ")}")
    }
  }

  test("src/main defines each IVF serve kernel once") {
    val offenders = kernelOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, s"serve kernel copies in src/main: ${offenders.mkString("; ")}")
  }

  test("the serve kernel scan fails on a copy of src/main that adds a second serve path") {
    val copy = MainSources.copyWith("operators/Mutant.scala",
      """package graft.operators
        |import graft.expressions.VectorExpressions.fastCosine
        |import org.apache.spark.ml.linalg.{Vector, Vectors}
        |import org.apache.spark.sql.DataFrame
        |import org.apache.spark.sql.functions._
        |object Mutant {
        |  def probe(cs: Array[Vector], f: Vector): Seq[Int] =
        |    cs.zipWithIndex.map { case (c, i) => (Vectors.sqdist(c, f), i) }
        |      .sortBy(identity).take(4).map(_._2).toSeq
        |  def lut(n2: Double, dot: Double): Double = n2 - 2.0 * dot
        |  def serve(probed: DataFrame, index: DataFrame): DataFrame =
        |    probed.join(index, Seq("cell"))
        |      .select(col("query_id"), col("vec_id"),
        |        round(fastCosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
        |      .groupBy(col("query_id"))
        |      .agg(max(struct(col("cos_sim"), (-col("vec_id")).as("neg_id"))).as("m"))
        |}
        |""".stripMargin)
    val offenders = kernelOffenders(copy)
    for (what <- Seq("probe ranking", "serve cosine", "ADC lookup table", "top-1 tail"))
      assert(offenders.exists(o => o.startsWith(s"$what on 2 lines") &&
        o.contains("Mutant.scala")), s"second $what not reported: $offenders")
  }
}
