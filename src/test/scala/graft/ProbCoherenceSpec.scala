package graft

import graft.coherence.ProbCoherence
import org.apache.spark.sql.functions.lit

/** The coherence kernel (textmineR CalcProbCoherence semantics, ref
  * 02_build_models.R:466-471): hand-computed cases, each checked through
  * the census and formula directly and through [[ProbCoherence.perCluster]]. */
class ProbCoherenceSpec extends SparkSpec {
  import spark.implicits._

  /** (name, (doc_id, term) mentions, docs in cluster 0, its top terms in
    * rank order, expected coherence) */
  private val cases = Seq(
    // cluster 0, 4 docs: a in {1,2,3}, b in {1,2}, c in {4}; single pair
    // (a,b): D(a,b)/D(a) - D(b)/N = 2/3 - 2/4 = 1/6
    ("coherence = mean over pairs of P(wj|wi) - P(wj)",
      Seq(1L -> "a", 1L -> "b", 2L -> "a", 2L -> "b", 3L -> "a", 4L -> "c",
        1L -> "a"), // duplicate mention — must be binarized away
      4L, Seq("a", "b"), Some(0.166667)),
    // a in {1}, b in {2}; never together. score = 0/1 - 1/2 = -0.5
    ("zero co-occurrence pairs still score (negative contribution)",
      Seq(1L -> "a", 2L -> "b"), 2L, Seq("a", "b"), Some(-0.5)),
    // b is ranked but absent: no pair to score
    ("a cluster with fewer than two present top terms gets no row",
      Seq(1L -> "a", 2L -> "a", 3L -> "c"), 3L, Seq("a", "b"), None))

  for ((name, mentions, n, top, want) <- cases) test(name) {
    // the kernel: per-doc present positions, censused as two partitions
    val present = (1L to n).map { d =>
      0 -> mentions.filter(_._1 == d).map(m => top.indexOf(m._2)).filter(_ >= 0).distinct.toArray
    }
    val widths = Map(0 -> top.size)
    val (p1, p2) = present.splitAt(present.size / 2)
    val counts = ProbCoherence.total(
      Seq(ProbCoherence.census(p1.iterator, widths), ProbCoherence.census(p2.iterator, widths)),
      widths)(0)
    assert(counts.rows === n)
    assert(ProbCoherence.coherence(top.indices, counts, n) === want)

    val got = ProbCoherence.perCluster(mentions.toDF("doc_id", "term"),
        (1L to n).map(_ -> 0).toDF("doc_id", "cluster"),
        top.zipWithIndex.map { case (t, i) => (0, t, i + 1L) }.toDF("cluster", "term", "rnk"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(got === want.map(c => (0, c, n)).toArray)
  }

  test("a BIGINT and an INT cluster column keep their type") {
    val docTerms = Seq(1L -> "a", 2L -> "b").toDF("doc_id", "term")
    for ((kind, cluster) <- Seq("int" -> 0, "bigint" -> 0L)) {
      val asg = Seq(1L, 2L).toDF("doc_id").withColumn("cluster", lit(0).cast(kind))
      val top = Seq(("a", 1L), ("b", 2L)).toDF("term", "rnk")
        .withColumn("cluster", lit(0).cast(kind))
      val got = ProbCoherence.perCluster(docTerms, asg, top)
      assert(got.schema("cluster").dataType.simpleString === kind)
      assert(rows(got) === Seq(Seq(cluster, -0.5, 2L)))
    }
  }

  // ---- one kernel in src/main ------------------------------------------------

  private val kernelHome = "coherence/ProbCoherence.scala"

  /** What marks a coherence implementation in code (comments and
    * stripMargin SQL, such as the DuckDB oracle's, are not scanned). */
  private val signatures = Seq(
    // one presence set crossed with itself, or a rank-ordered self-join
    "pair-presence census" ->
      """for \((\w+) <- (\w+); (\w+) <- \2\b|(\w+)\.foreach\((\w+) => \4\.foreach\(|rnk"\) < col\(""".r,
    // a conditional share minus a marginal share over the cluster size
    "coherence formula" ->
      """/ [^-]+ - [^/]+ / (n|col\("n_docs"\))\b""".r)

  private def kernelOffenders(root: java.io.File): Seq[String] = {
    val hits = for {
      f <- MainSources.files(root)
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("|")
      (what, re) <- signatures
      if re.findFirstIn(code).isDefined
    } yield (what, f.getPath, i + 1)
    signatures.flatMap { case (what, _) =>
      val (home, away) = hits.filter(_._1 == what).partition(_._2.endsWith(kernelHome))
      away.map { case (_, f, l) => s"$what at $f:$l" } ++
        (if (home.size == 1) Nil else Seq(s"$what ${home.size} times in $kernelHome"))
    }
  }

  test("src/main holds one coherence census and one formula, both in ProbCoherence") {
    val offenders = kernelOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, s"coherence kernel outside its home: ${offenders.mkString("; ")}")
  }

  test("the coherence scan fails on a copy of src/main that adds a second census") {
    val copy = MainSources.copyWith("Mutant.scala",
      """package graft
        |object Mutant {
        |  def pairs(present: Seq[Int], counts: Array[Long], u: Int) =
        |    present.foreach(a => present.foreach(b => if (a <= b) counts(a * u + b) += 1))
        |  def score(dij: Long, di: Long, dj: Long, n: Long) =
        |    dij.toDouble / di - dj.toDouble / n
        |}
        |""".stripMargin)
    val offenders = kernelOffenders(copy)
    assert(offenders.exists(o => o.startsWith("pair-presence census at") && o.contains("Mutant.scala")),
      s"second census not reported: $offenders")
    assert(offenders.exists(o => o.startsWith("coherence formula at") && o.contains("Mutant.scala")),
      s"second formula not reported: $offenders")
    assert(offenders.forall(_.contains("Mutant.scala")), offenders)
  }
}
