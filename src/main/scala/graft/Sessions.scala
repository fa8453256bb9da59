package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for the engine's entry points
  * (Bench, Verify, Tool, tests). Local-mode sized, but every knob is the
  * one you'd set on a real cluster too.
  */
object Sessions {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      // planner extension: interpreted aggregate(zip_with(...)) vector
      // math rewrites to the codegen'd ArrayDot kernel
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-class cache (Janino output) defaults to 100
      // entries — smaller than this library's registry working set.
      // Past that point every additional query family EVICTS earlier
      // plans and each re-run recompiles from scratch (the m-family ran
      // +52% from recompilation churn alone; SCALE.md postmortem). At
      // ~17 compiled classes per registered query, 8192 carries the
      // registry past 300 queries at a 20/query allowance; Bench and
      // QueryRegistrySpec watch it. Cost is driver heap for compiled
      // classes — tens of MB.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as
      // nano-epoch longs under this flag (Tables.events converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(appName: String): SparkSession = Harness.session(Some(appName))
}
