package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Each generated class compiles once per JVM: the codegen cache is
  * keyed on the compiling thread's context loader, so the driver, local
  * tasks and every session must share one loader (`Sessions.configure`
  * turns artifact isolation off, `Harness.session` points local tasks at
  * the driver's loader). */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second session's run of a query compiles no class the first session's run compiled") {
    // literals no other test plans, so the first run is a cache miss
    def run(s: org.apache.spark.sql.SparkSession): Array[Long] =
      s.range(0, 1000, 1, 1).selectExpr("id * 7919 + 104729 AS x")
        .where("x % 15485863 <> 3").selectExpr("x % 611953 AS y")
        .collect().map(_.getLong(0))
    val before = compiles
    val first = run(spark)
    assert(compiles > before, "the first run compiled nothing: its source is not unique to this test")
    val mid = compiles
    val second = run(spark.newSession())
    assert(second.toSeq === first.toSeq)
    assert(compiles - mid === 0L, "the second session recompiled classes the first session compiled")
  }

  test("a local task loads classes through the driver's context loader") {
    assert(spark.sparkContext.isLocal)
    val driver = System.identityHashCode(
      Option(Thread.currentThread.getContextClassLoader).getOrElse(getClass.getClassLoader))
    val task = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))
      .collect().head
    assert(task === driver, "a local task runs under a loader other than the driver's")
  }
}
