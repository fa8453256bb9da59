package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump one query's result to `outDir/<name>`; on ANY failure write a
    * zero-row `__graft_err` sentinel there instead and record the error
    * in `errors`. The sentinel makes the driver's compare record an
    * explicit red row (0 rows, schema mismatch) rather than omitting the
    * query — a correctness file can never silently shrink. */
  private[graft] def dumpOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String,
      errors: scala.collection.mutable.Map[String, String]): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      errors += name -> e.toString
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__graft_err",
              org.apache.spark.sql.types.StringType))))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query subset (the 20x scale
    // receipt runs the invariant-style rows against a synthetic corpus
    // that only materializes the documents/embeddings/events tables)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").map(_.trim).toSet))
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Corpus-drift canary: name post-normalization type drift up front
    // instead of letting it surface as N operator-deep
    // AnalysisExceptions. Warn-and-continue: unaffected queries still
    // produce green rows; affected ones become explicit err sentinels.
    graft.sources.SchemaCanary.warn(spark, sfDir)
      .foreach(msg => errors += "_schema_canary" -> msg)
    Harness.sweep(spark, name => only.forall(_.contains(name))) { (name, fn) =>
      dumpOne(spark, name, fn, sfDir, outDir, errors)
      Harness.releaseScratch(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure ledger alongside the dumps (always written,
    // empty `{}` when green) — auditors see WHAT failed and WHY without
    // reverse-engineering the sentinel parquet.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
