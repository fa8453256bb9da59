package graft

import graft.api.DocIndexStore
import graft.operators.{DedupOps, EmbeddingOps, Gates}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The admission gates ([[graft.operators.Gates]]) are stream-legal:
  * each runs unchanged over c08's / c09's static increment and over the
  * same increment streamed, and drains to the same rows. */
class GatesSpec extends SparkSpec {

  private lazy val docs = graft.sources.Tables.documents(spark, sfTiny)
    .select(col("doc_id"), col("text"))
  private lazy val existing = docs.filter(col("doc_id") % 2 === 0)
  private lazy val offD = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
  private lazy val stores = Gates.admissionStores(spark, sfTiny, existing)
  private lazy val embeddings = graft.sources.Tables.embeddings(spark, sfTiny)
    .select(col("vec_id"), col("embedding"))
  private lazy val vecArtifact = EmbeddingOps.vecAdmissionArtifact(spark, sfTiny)

  private def docIncrement(streamed: Boolean): DataFrame =
    Gates.admissionIncrement(
      if (streamed) EventStreams.readDocuments(spark, sfTiny)
        .select(col("doc_id"), col("text"))
      else docs, offD)

  private def vecIncrement(streamed: Boolean): DataFrame =
    EmbeddingOps.admissionVecBatch(
      if (streamed) EventStreams.readEmbeddings(spark, sfTiny)
        .select(col("vec_id"), col("embedding"))
      else embeddings, vecArtifact._2)

  /** (gate, sink output mode, increment, gate over an increment) */
  private val gateRows: Seq[(String, String, Boolean => DataFrame,
      DataFrame => DataFrame)] = Seq(
    ("exact", "append", docIncrement,
      inc => Gates.exactFlags(inc, Gates.ledger(existing))),
    ("near-dup", "append", docIncrement,
      inc => Gates.nearDupHits(inc,
        DocIndexStore.Lsh.load(spark, stores._1), existing)),
    ("passage", "complete", docIncrement,
      inc => DedupOps.probePassagesAgainst(inc,
        DocIndexStore.Passage.load(spark, stores._2))),
    ("eval 5-gram", "complete", docIncrement,
      inc => Gates.gramHits(inc,
        Gates.evalGrams(docs.filter(col("doc_id") % 97 === 0)))),
    ("vec exact", "append", vecIncrement,
      inc => Gates.vecExactFlags(inc, embeddings)),
    ("vec semantic", "append", vecIncrement,
      inc => EmbeddingOps.semanticGateCandidates(spark, inc,
        vecArtifact._1.assigned, vecArtifact._1.model)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  for ((name, mode, increment, gate) <- gateRows)
    test(s"gate '$name' drains the same rows from a streamed increment as from the static one") {
      val batch = sortedRows(gate(increment(false)))
      assert(batch.nonEmpty, s"gate '$name' emits nothing on the fixture")
      val streamed = try {
        sortedRows(EventStreams.runToMemory(gate(increment(true)), mode,
          s"gate_parity_${name.replace(' ', '_').replace("-", "")}"))
      } catch {
        case e: Exception =>
          fail(s"gate '$name' does not run on a streaming increment: ${e.getMessage}", e)
      }
      assert(streamed === batch, s"gate '$name': streamed rows differ from the batch rows")
    }

  // ---- one definition per gate in src/main ----------------------------------

  /** Code that marks a gate's definition (comments and stripMargin SQL
    * are not scanned). */
  private val signatures = Seq(
    "first-gate attribution" -> """otherwise("admitted")""",
    "cleaned-text verify key" -> """md5(TextFunctions.cleanText(col("text")).cast("binary"))""",
    "near-dup verify" -> """col("ick") === col("sck")""")

  private def gateOffenders(root: java.io.File): Seq[String] = {
    val hits = for {
      f <- MainSources.files(root)
      (line, i) <- MainSources.lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("|")
      (what, sig) <- signatures
      if code.contains(sig)
    } yield (what, s"${f.getPath}:${i + 1}")
    signatures.flatMap { case (what, _) =>
      val at = hits.filter(_._1 == what).map(_._2)
      if (at.size == 1) Nil else Seq(s"$what on ${at.size} lines: ${at.mkString(", ")}")
    }
  }

  test("src/main defines the attribution and the near-dup verify once each") {
    val offenders = gateOffenders(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty, s"gate copies in src/main: ${offenders.mkString("; ")}")
  }

  test("the gate scan fails on a copy of src/main that adds a second verify chain") {
    val copy = MainSources.copyWith("operators/Mutant.scala",
      """package graft.operators
        |import graft.functions.TextFunctions
        |import org.apache.spark.sql.DataFrame
        |import org.apache.spark.sql.functions._
        |object Mutant {
        |  def verified(cands: DataFrame, inc: DataFrame, stored: DataFrame) =
        |    cands
        |      .join(inc.select(col("doc_id").as("in_id"),
        |        md5(TextFunctions.cleanText(col("text")).cast("binary")).as("ick")), Seq("in_id"))
        |      .join(stored.select(col("doc_id").as("src_id"),
        |        md5(TextFunctions.cleanText(col("text")).cast("binary")).as("sck")), Seq("src_id"))
        |      .filter(col("ick") === col("sck"))
        |}
        |""".stripMargin)
    val offenders = gateOffenders(copy)
    assert(offenders.exists(o => o.startsWith("cleaned-text verify key on 3 lines") &&
      o.contains("Mutant.scala")), s"second verify key not reported: $offenders")
    assert(offenders.exists(o => o.startsWith("near-dup verify on 2 lines") &&
      o.contains("Mutant.scala")), s"second verify not reported: $offenders")
    assert(!offenders.exists(_.startsWith("first-gate attribution")), offenders)
  }
}
