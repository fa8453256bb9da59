package graft

import org.apache.spark.sql.functions._

/** Registry hygiene + a smoke pass of every non-iterative query at
  * sf0.001 (the ML-fit queries m06-m09 are exercised by their own specs
  * and by the driver's Verify run — re-fitting K-means/LDA here would
  * double the suite's runtime for no new coverage). */
class QueryRegistrySpec extends SparkSpec {

  private val mlFits = Set("m06_kmeans_stats", "m07_lda_optimize",
    "m08_cluster_merge", "m09_refiner_report", "m13_lda_invariants")

  test("query names are unique and every oracle belongs to a query") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
    val qset = names.toSet
    SparkEntry.oracleSql.keys.foreach(k => assert(qset.contains(k), s"orphan oracle $k"))
    assert(names.size >= 43)
  }

  test("no oracle carries a stripMargin artifact") {
    // a '|' surviving at line start means a pre-stripped SQL fragment
    // was embedded in another margined literal and the OUTER stripMargin
    // ate the first char of a '||' concat (the s34 refactor's near-miss)
    // — DuckDB would fail with an opaque binder error
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      sql.linesIterator.zipWithIndex.foreach { case (line, i) =>
        assert(!line.matches("""\s*\|(?!\|).*"""),
          s"$name line ${i + 1}: stray margin '|' — double stripMargin")
      }
    }
  }

  test("registry growth stays under the codegen class-cache capacity") {
    // The r12 regression postmortem (SCALE.md): once the session's
    // distinct-plan working set outgrows spark.sql.codegen.cache.maxEntries,
    // every sweep run recompiles evicted plans and late families slow
    // 1.5-2.5x with zero source diff. Bench measures the real compile
    // count per sweep (its canary); this is the STRUCTURAL half — the
    // registry cannot grow past the cache even at a generous
    // plans-per-query allowance (r14 calibration: 2835 compiles for a
    // 169-query sweep ≈ 17/query incl. shared builds; that count held
    // most classes twice, a driver compile and a task recompile under a
    // second class loader, which one shared loader now removes; 20 stays
    // the guarded ceiling). Fails at build time, naming the knob.
    // SparkSpec's session is built through Sessions.local → configure,
    // so the conf read here IS the configured sweep value
    val cacheMax =
      spark.conf.get("spark.sql.codegen.cache.maxEntries").toLong
    val estimate = QueryRegistry.all.size * 20L
    assert(estimate <= (cacheMax * 8) / 10,
      s"registry (${QueryRegistry.all.size} queries x 20 plans/query = " +
        s"$estimate) is within 20% of spark.sql.codegen.cache.maxEntries=" +
        s"$cacheMax — raise the cache in Sessions.configure before the " +
        "sweep starts thrashing (r12 m-family regression, SCALE.md)")
  }

  test("every non-iterative query runs at sf0.001") {
    QueryRegistry.all.filterNot(q => mlFits(q.name)).foreach { q =>
      val n = q.fn(spark, sfTiny).count()
      assert(n >= 0, s"${q.name} failed")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q21's error-bound flag holds on a second corpus (sfTiny)") {
    // the harness oracle pins sf0.01; this checks the emitted bound flag
    // on a different corpus, and that the exact counts really are exact
    val rows = graft.operators.Relational.approxDistinct(spark, sfTiny)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("within_bound") === 1,
        s"flag ${r.getString(0)}: HLL estimate left the 5% bound")
    }
    val exact = graft.sources.Tables.lineitem(spark, sfTiny)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n_parts") === exact(r.getString(0))))
  }

  test("q32/q33/q34 sketch bounds hold on a second corpus (sfTiny)") {
    // rank-error bound of the GK quantile sketch
    graft.operators.Relational.approxPercentileBound(spark, sfTiny)
      .collect().foreach(r => assert(r.getAs[Int]("rank_ok") === 1,
        s"approx median rank bound violated for ${r.getString(0)}"))
    // bloom: the defining no-false-negative guarantee + the fpp bound
    val b = graft.operators.Relational.bloomFilterCheck(spark, sfTiny)
      .collect().head
    assert(b.getAs[Long]("n_false_neg") === 0L)
    assert(b.getAs[Int]("fpp_ok") === 1)
    // count-min: never under-counts, over-counts within eps*N
    graft.operators.Relational.countMinBound(spark, sfTiny)
      .collect().foreach { r =>
        assert(r.getAs[Int]("no_undercount") === 1,
          s"CMS under-counted partkey ${r.getLong(0)}")
        assert(r.getAs[Int]("within_bound") === 1,
          s"CMS over-count bound violated for partkey ${r.getLong(0)}")
      }
  }

  test("d03/d04 candidate-bound flags hold on a second corpus (sfTiny)") {
    // the harness oracle pins sf0.01; this checks the bound flags on a
    // different corpus AND that the flags are non-vacuous there (the
    // recall conditions actually fire on the planted near-dup pairs)
    val d03 = graft.operators.DedupOps.minhashCandidateBound(spark, sfTiny)
      .collect()
    assert(d03.nonEmpty)
    d03.foreach { r =>
      assert(r.getAs[Int]("recall_ok") === 1,
        s"LSH missed a >=0.98-Jaccard pair (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getAs[Long]("n_disjoint_cand") === 0L,
        "LSH emitted a shingle-disjoint candidate pair")
    }
    assert(d03.count(_.getAs[Double]("jaccard") >=
      graft.operators.DedupOps.LshSureRecallJaccard) > 0,
      "no pair above the sure-recall threshold — the flag was vacuous")
    val d04 = graft.operators.DedupOps.simhashBound(spark, sfTiny).collect()
    assert(d04.nonEmpty)
    d04.foreach { r =>
      assert(r.getAs[Long]("n_close_far") === 0L,
        "a hamming<=3 pair has weighted cosine < 0.15")
      assert(r.getAs[Long]("n_far_close") === 0L,
        "a >=0.995-cosine pair is further than hamming 13")
    }
    assert(d04.count(_.getAs[Double]("wcos") >=
      graft.operators.DedupOps.SimhashCloseCosine) > 0,
      "no pair above the close-cosine threshold — the flag was vacuous")
  }

  test("e04/e05 ANN-bound flags hold on a second corpus (sfTiny)") {
    val e04 = graft.operators.EmbeddingOps.annLshBound(spark, sfTiny).collect()
    assert(e04.nonEmpty)
    e04.foreach { r =>
      assert(r.getAs[Int]("recall_ok") === 1)
      assert(r.getAs[Int]("cand_rate_ok") === 1,
        "windowed LSH candidate rate above the 10% spray ceiling")
    }
    val e05 = graft.operators.EmbeddingOps.annIvfBound(spark, sfTiny).collect()
    assert(e05.nonEmpty)
    e05.foreach(r => assert(r.getAs[Int]("in_ivf_or_unprobed") === 1,
      s"IVF lost neighbor ${r.getLong(0)} despite probing its cell"))
    // non-vacuity: the probe really returns some of the true top-20 (the
    // flag would also pass if every neighbor sat in an unprobed cell)
    val ivfIds = graft.operators.EmbeddingOps.annIvf(spark, sfTiny)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(e05.count(r => ivfIds(r.getLong(0))) > 0,
      "IVF found none of the exact top-20 — the flag was vacuous")
  }

  test("e18 top-k bound flags hold and are non-vacuous on a second corpus (sfTiny)") {
    val rows = graft.operators.EmbeddingOps.annTopkServeBound(spark, sfTiny)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("in_served_or_unprobed") === 1,
      s"IVF top-k lost neighbor ${r.getAs[Long]("vec_id")} of query " +
        s"${r.getAs[Long]("query_id")} despite probing its cell"))
    // the closed-form anchor: every query's exact rank 1 is its planted
    // twin at cosine 1.0
    val r1 = rows.filter(_.getAs[Long]("rank") == 1L)
    assert(r1.nonEmpty)
    val off = r1.head.getAs[Long]("vec_id") - r1.head.getAs[Long]("query_id")
    r1.foreach { r =>
      assert(r.getAs[Long]("vec_id") === r.getAs[Long]("query_id") + off)
      assert(r.getAs[Double]("cos_sim") === 1.0)
    }
    // non-vacuity: the served list really contains some exact
    // neighbors beyond the twin (the flag would also pass if every
    // deeper neighbor sat in an unprobed cell)
    assert(rows.count(_.getAs[Long]("rank") > 1L) > 0,
      "no exact neighbor beyond rank 1 — the top-k contract was vacuous")
  }

  test("e19 IVFADC-R flags hold; the shortlist re-rank is non-vacuous (sfTiny)") {
    val rows = graft.operators.EmbeddingOps.annIvfPqRerank(spark, sfTiny)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Int]("in_served_or_unshortlisted") === 1,
        s"re-rank lost shortlisted neighbor ${r.getAs[Long]("vec_id")} of " +
          s"query ${r.getAs[Long]("query_id")}"))
    // twin anchor survives both quantized stages end-to-end
    val r1 = rows.filter(_.getAs[Long]("rank") == 1L)
    assert(r1.nonEmpty)
    r1.foreach(r => assert(r.getAs[Double]("cos_sim") === 1.0))
    // non-vacuity: the R-deep shortlist recovers exact neighbors BEYOND
    // the twin (otherwise the flag only ever exercises its escape hatch)
    assert(rows.count(_.getAs[Long]("rank") > 1L) > 0,
      "no exact neighbor beyond rank 1 — the re-rank contract was vacuous")
  }

  test("q31 funnel orders the stages strictly (fixture)") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // user 2: click BEFORE first view — no ordered click stage
      (2L, "click", ts(0)), (2L, "view", ts(10)), (2L, "purchase", ts(20)),
      // user 3: view + click, purchase before the click — stops at click
      (3L, "purchase", ts(0)), (3L, "view", ts(5)), (3L, "click", ts(15)),
      // user 4: never viewed
      (4L, "click", ts(0)), (4L, "purchase", ts(5)))
      .toDF("user_id", "event_type", "ts")
    val got = graft.operators.Relational.eventFunnelFrom(ev)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((3L, 2L, 1L)))
  }
}
