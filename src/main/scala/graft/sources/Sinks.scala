package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sampling + chunked-CSV source/sink surface (SURVEY §2.1 S3-S6, §2.11
  * O1), re-expressing the reference's chunk-file batch protocol
  * (ref 01_extract_features.R:338-341, 423-436, 487-495): chunks =
  * partitions, the chunk writer = partitioned CSV write, consolidation =
  * glob scan (implicit UNION ALL) — with task retry replacing the
  * reference's resume-from-chunk-files fault tolerance.
  */
object Sinks {

  /** S3a Bernoulli sample (≙ sample_n dry-run sampling,
    * ref 01_extract_features.R:469-471). Seeded: deterministic for a
    * fixed input + partitioning. */
  def sample(df: DataFrame, fraction: Double, seed: Long = 42): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** S3b systematic sample by key residue — exact, partition-independent,
    * and SQL-expressible (the oracle-checkable sampling form). */
  def sampleByMod(df: DataFrame, idCol: String, modulus: Int, residue: Int): DataFrame =
    df.filter(pmod(col(idCol), lit(modulus)) === residue)

  /** S4 chunk writer: one CSV file per chunk (chunk = partition — O1).
    * `numChunks` ≙ ⌈n/chunk_size⌉ in the reference. */
  def writeChunks(df: DataFrame, dir: String, numChunks: Int): Unit =
    df.repartition(numChunks)
      .write.mode("overwrite").option("header", "true").csv(dir)

  /** S5 glob scan + union: read every chunk file back as one relation
    * (multi-file read IS the UNION ALL). Explicit schema — fail-fast,
    * no inference (SURVEY §1.3). */
  def readChunks(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(dir)

  /** S6 consolidated single-file CSV sink (≙ the final write.csv). The
    * coalesce(1) funnels through one task — correct for the reference's
    * "one final CSV" contract, deliberately NOT the scale path (keep
    * chunked output at scale). */
  def writeConsolidated(df: DataFrame, dir: String): Unit =
    df.coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
}
