package graft

import graft.api.Intermediates
import org.apache.spark.sql.functions._

/** The materialized-intermediate cache: hit semantics, RDD pinning, and
  * survival of the harness's scratch-cleanup sweep. */
class IntermediatesSpec extends SparkSpec {

  test("memo returns the same instance on a hit and builds once") {
    var builds = 0
    val key = "spec-hit-" + System.nanoTime()
    def get() = Intermediates.memo(spark, key) {
      builds += 1
      spark.range(10).toDF("x").localCheckpoint()
    }
    val a = get()
    val b = get()
    assert(builds === 1)
    assert(a eq b)
  }

  test("memoized checkpoints are pinned and survive the scratch sweep") {
    val key = "spec-pin-" + System.nanoTime()
    val df = Intermediates.memo(spark, key) {
      spark.range(100).toDF("x").localCheckpoint()
    }
    // the Bench/Verify cleanup: unpersist everything NOT pinned
    Harness.releaseScratch(spark)
    // pinned blocks intact: the checkpointed relation still evaluates
    // (an unpersisted localCheckpoint would lose its only data copy)
    assert(df.agg(sum(col("x"))).head.getLong(0) === 4950L)
    val stillPersisted = spark.sparkContext.getPersistentRDDs.keySet
      .exists(Intermediates.isPinned(spark, _))
    assert(stillPersisted)
  }

  test("a context restart clears pins and cache of the stopped app") {
    val key = "spec-ns-" + System.nanoTime()
    var builds = 0
    def get() = Intermediates.memo(spark, key) {
      builds += 1
      spark.range(10).toDF("x").localCheckpoint()
    }
    get()
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .exists(Intermediates.isPinned(spark, _)))
    // simulate the first memo call under a RESTARTED context (new appId):
    // every pin and cache entry of the old app must be swept, so the old
    // app's rdd ids can no longer shadow fresh scratch with those ids
    Intermediates.sweepStale("spec-fresh-app")
    assert(!spark.sparkContext.getPersistentRDDs.keySet
      .exists(Intermediates.isPinned(spark, _)))
    get() // cache entry gone too — rebuilds rather than serving stale state
    assert(builds === 2)
  }

  test("keys namespace by content — different keys build different values") {
    val k1 = "spec-k1-" + System.nanoTime()
    val k2 = "spec-k2-" + System.nanoTime()
    val a = Intermediates.memo(spark, k1) { spark.range(1).toDF("x") }
    val b = Intermediates.memo(spark, k2) { spark.range(2).toDF("y") }
    assert(!(a eq b))
  }

  test("dir-keyed pipeline accessors reuse one fit across reports") {
    val fm1 = graft.api.ModelPipeline.fitted(spark, sfTiny, k = 3, seed = 7, vocabSize = 50)
    val fm2 = graft.api.ModelPipeline.fitted(spark, sfTiny, k = 3, seed = 7, vocabSize = 50)
    assert(fm1 eq fm2)
    // a different parameterization is a different materialization
    val fm3 = graft.api.ModelPipeline.fitted(spark, sfTiny, k = 4, seed = 7, vocabSize = 50)
    assert(!(fm1 eq fm3))
  }
}
