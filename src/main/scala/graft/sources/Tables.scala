package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema'd readers for the driver test corpus (TESTDATA.md).
  *
  * Parquet carries its own schema, so readers are plain `spark.read.parquet`
  * — Catalyst pushes column pruning + predicate filters into the scan.
  * Mirrors the reference's source surface (SURVEY §2.1 S1-S5: CSV scan,
  * projection-at-scan, glob/union) generalized to the parquet corpus; the
  * reference reads CSVs with inferred schemas (ref 01_extract_features.R:463).
  */
object Tables {
  /** Per-(session, path) reader-plan memo (optimization r19, guide §6:
    * file listing is cached per session for catalog tables — bare-path
    * reads get no such cache, so every `spark.read.parquet` call
    * re-lists the directory and re-reads footers for schema, one
    * driver-side job per call, hundreds of times per sweep). The memo
    * holds the analyzed PLAN (relation + its file index), never data:
    * every action still scans the parquet files. The corpus dirs are
    * immutable for a session's lifetime (the driver generates them
    * before any engine run), which is exactly the catalog-table
    * assumption. Sessions are weak keys so test sessions can be
    * collected. */
  private val readerCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    readerCache
      .computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(s"$dir/$name.parquet",
        p => spark.read.parquet(p))

  /** Invalidate every memoized reader plan. A session that REWRITES a
    * table path it already read must refresh before re-reading —
    * the same contract Spark's catalog imposes
    * (`spark.catalog.refreshTable`) — otherwise the stale file index
    * names deleted part files. Only schema-drift tests rewrite a
    * corpus path in-session; the driver corpora are immutable. */
  def refresh(): Unit = readerCache.clear()

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** Normalize every historical on-disk encoding of `events.ts` to one
    * engine-wide TimestampType (SURVEY §1.3 fail-fast schema: a 100 TB
    * lake accumulates files written by different producers over years, so
    * the reader — not every downstream operator — owns type drift):
    *   - TIMESTAMP(NANOS) parquet arrives as nano-epoch longs
    *     (spark.sql.legacy.parquet.nanosAsLong, set by Sessions.configure)
    *     → truncate to micros, matching the oracle's CAST semantics;
    *   - timestamp[us] without timezone arrives as TIMESTAMP_NTZ → cast to
    *     TIMESTAMP (session TZ is pinned UTC, so the cast is a no-op
    *     relabeling, deterministic everywhere);
    *   - TIMESTAMP passes through.
    * Anything else fails loudly here instead of deep in an operator. */
  def normalizeEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType           => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType      => raw
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected TIMESTAMP, TIMESTAMP_NTZ, or nano-epoch LONG")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTime(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** CSV scan with explicit schema — fail-fast replacement for the
    * reference's inferred `read.csv` (ref 01_extract_features.R:463). */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}
