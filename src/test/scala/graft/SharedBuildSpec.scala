package graft

import graft.api.Intermediates
import graft.operators.EmbeddingOps
import graft.operators.EmbeddingOps.Geometry
import graft.sources.Tables
import org.apache.spark.sql.functions.col

/** One shared build per memo key: every memo key prefix has one build
  * site, the artifact layouts are known only to their stores, and each
  * embedding-index geometry indexes the relation and cell count it
  * declares. */
class SharedBuildSpec extends SparkSpec {

  /** (literal key prefix, file:line) for every `Intermediates.memo(`
    * call under `root`: the first string literal of the call (on its
    * line or the next), up to its first `|` or `$`. */
  private def memoSites(root: java.io.File): Seq[(String, String)] =
    MainSources.files(root).flatMap { f =>
      val ls = MainSources.lines(f)
      ls.indices.collect {
        case i if ls(i).contains("Intermediates.memo(") &&
            !ls(i).trim.startsWith("*") && !ls(i).trim.startsWith("//") =>
          val call = (ls(i).substring(ls(i).indexOf("Intermediates.memo(")) +:
            ls.slice(i + 1, i + 2)).mkString(" ")
          val key = "\"([^\"]*)".r.findFirstMatchIn(call)
            .fold("")(_.group(1))
          (key.takeWhile(c => c != '|' && c != '$'), s"${f.getPath}:${i + 1}")
      }
    }

  private def memoKeyOffenders(root: java.io.File): Seq[String] = {
    val sites = memoSites(root)
    sites.collect { case ("", at) => s"$at: no literal key prefix" } ++
      sites.filter(_._1.nonEmpty).groupBy(_._1).toSeq.collect {
        case (prefix, ss) if ss.size > 1 =>
          s"'$prefix' at ${ss.map(_._2).sorted.mkString(", ")}"
      }
  }

  private val layoutOwners = Map(
    "assigned/_SUCCESS" -> "api/IvfStore.scala",
    "codes/_SUCCESS" -> "api/IvfStore.scala",
    "vocab/_SUCCESS" -> "api/ModelStore.scala")

  private def layoutOffenders(root: java.io.File): Seq[String] =
    for {
      f <- MainSources.files(root)
      (literal, owner) <- layoutOwners.toSeq
      if !f.getPath.endsWith(owner)
      (line, i) <- MainSources.lines(f).zipWithIndex
      if line.contains(literal)
    } yield s"$literal at ${f.getPath}:${i + 1}"

  test("each literal memo-key prefix has exactly one Intermediates.memo site in src/main") {
    val offenders = memoKeyOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty,
      s"memo keys built at more than one site: ${offenders.mkString("; ")}")
  }

  test("artifact _SUCCESS layout paths appear only in their store modules") {
    val offenders = layoutOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty,
      s"store layout known outside its store: ${offenders.mkString("; ")}")
  }

  test("both source scans fail on a copy of src/main that adds a second site") {
    val copy = MainSources.copyWith("Mutant.scala",
      """package graft
        |object Mutant {
        |  def f(s: org.apache.spark.sql.SparkSession, d: String, dir: String) =
        |    if (!new java.io.File(s"$dir/codes/_SUCCESS").isFile)
        |      graft.api.Intermediates.memo(s,
        |        s"ivf|mutant|$d") { 1 }
        |}
        |""".stripMargin)
    val keys = memoKeyOffenders(copy)
    assert(keys.exists(o => o.startsWith("'ivf'") && o.contains("Mutant.scala")),
      s"second ivf site not reported: $keys")
    val layout = layoutOffenders(copy)
    assert(layout.exists(_.contains("Mutant.scala")),
      s"codes/_SUCCESS outside IvfStore not reported: $layout")
  }

  test("each geometry indexes copies·n rows at cellsFor(n) cells; a second read is one memo hit; its PQ codes pass the collision check") {
    val n = Tables.embeddings(spark, sfTiny).count()
    for (g <- Seq(Geometry.Base, Geometry.Planted, Geometry.DoublePlanted)) {
      val shared = EmbeddingOps.sharedIndex(spark, sfTiny, g)
      assert(shared.n === n)
      assert(shared.cells === EmbeddingOps.ivfCellsFor(g.copies * n))
      assert(shared.index.model.getK === shared.cells, s"$g cell count")
      assert(shared.index.assigned.count() === g.copies * n, s"$g row count")
      assert(shared.index.assigned.filter(col("vec_id") >= shared.off)
        .count() === (g.copies - 1) * n, s"$g planted copies")
      val again = EmbeddingOps.sharedIndex(spark, sfTiny, g)
      val (h0, m0) = Intermediates.stats()
      assert(again.index eq shared.index)
      val (h1, m1) = Intermediates.stats()
      assert((h1 - h0, m1 - m0) === ((1L, 0L)),
        s"$g: the second read was not one memo hit")
      val (index, _, codes, off) = EmbeddingOps.sharedPq(spark, sfTiny, g)
      assert(index eq shared.index)
      assert(off === shared.off)
      assert(codes.count() === g.copies * n)
      EmbeddingOps.assertNoQueryCodeCollisions(codes, off)
    }
  }
}
