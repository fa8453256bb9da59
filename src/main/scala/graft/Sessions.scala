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
      // One task class loader for every session. With isolation on, each
      // session (the stream clone too) gets its own task loader, and the
      // codegen cache, keyed on the loader, compiles each class once per
      // session. The engine adds no session-scoped artifacts (no
      // addArtifact or addJar), so one loader serves every session.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The generated-class cache (Janino output) defaults to 100
      // entries — smaller than this library's registry working set.
      // Past that point every additional query family EVICTS earlier
      // plans and each re-run recompiles from scratch (the m-family ran
      // +52% from recompilation churn alone; SCALE.md postmortem). One
      // pass of the 226-query registry compiles ~9 classes per query
      // (2,065 at sf0.01); the ~17 per query once measured here counted
      // most classes twice, before the driver and local tasks shared one
      // class loader. 8192 carries the registry past 300 queries at a
      // 20/query allowance; Bench and QueryRegistrySpec watch it. Cost
      // is driver heap for compiled classes — tens of MB.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as
      // nano-epoch longs under this flag (Tables.events converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(appName: String): SparkSession = Harness.session(Some(appName))
}
