package graft.operators

import graft.QueryDef
import graft.api.DocIndexStore
import graft.functions.TextFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family — a first-class concern for a
  * training-data pipeline at 100 TB (exact, n-gram Jaccard, MinHash-LSH,
  * SimHash). Exact + Jaccard are oracle-checked; the approximate families
  * use deterministic seeded hashes (xxhash64) and get rows-only checks.
  *
  * Scale notes: exact dedup is a hash shuffle on a 128-bit digest (uniform
  * keys — no skew); MinHash-LSH turns the quadratic all-pairs problem into
  * an equi-join on band signatures, which is the only formulation that
  * survives 100 TB; the all-pairs Jaccard query is deliberately capped and
  * exists for oracle verification of the similarity math.
  */
object DedupOps {

  /** Exact dedup via content digest: group by md5(text), keep min doc_id
    * (hash-groupBy exact dedup). */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  private val exactDedupSql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  /** Token-set Jaccard similarity, top-100 most similar pairs. Relational
    * decomposition: distinct tokens → self-join on shared token →
    * |A∩B| / (|A|+|B|−|A∩B|). Verification-scale only (all-pairs); the
    * LSH variants below are the 100 TB path. */
  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsFrom(Tables.documents(s, d), memoKey = Some(d))

  /** Shared verification-window scaffold of the exact pair family
    * (d02 Jaccard, d12 containment): the distinct-token relation —
    * all-pairs is O(n²) by construction, so the window cap (same cap in
    * the oracles) keeps it exact but bounded at every SF; the MinHash
    * path handles full scale — per-doc set sizes, and ORDERED pair
    * intersections (a_id < b_id; |A∩B| is symmetric, so one pass of the
    * expensive join+groupBy serves both orientations). localCheckpoint
    * (eager): materialized once for the downstream uses, lineage cut,
    * and the backing blocks are released by the ContextCleaner when the
    * plan is GC'd — no cross-query cache leak (a bare persist() would
    * stay pinned for the whole shared session). */
  private def windowTokenPairs(documents: DataFrame,
      memoKey: Option[String]): (DataFrame, DataFrame) = {
    def build: (DataFrame, DataFrame) = {
      val toks = documents
        .filter(col("doc_id") < VerifyWindow.MaxId)
        .select(col("doc_id"), explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
        .localCheckpoint()
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
      val inter = toks.as("a").join(toks.as("b"),
          col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_inter"))
      (sizes, inter)
    }
    // dataset-keyed calls (d02 / d07 / d12 all fan out of this relation)
    // share ONE materialized build via Intermediates — same posture as
    // the DFM; the expensive term self-join runs once per family, not
    // once per consumer. Frame-level calls (specs) build per-call.
    memoKey match {
      case Some(k) =>
        graft.api.Intermediates.memo(documents.sparkSession, s"winpairs|$k") {
          val (sizes, inter) = build
          (sizes.localCheckpoint(), inter.localCheckpoint())
        }
      case None => build
    }
  }

  private[operators] def jaccardPairsFrom(documents: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val (sizes, inter) = windowTokenPairs(documents, memoKey)
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_terms", "a_terms"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_terms", "b_terms"), "b_id")
      .withColumn("jaccard",
        round(col("n_inter") / (col("a_terms") + col("b_terms") - col("n_inter")), 6))
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** The shared pair-CTE block (toks/toks2/sizes/inter) — ONE source of
    * truth for the verification-window pair definition on the SQL side,
    * embedded verbatim by d02, d12, and [[GraphOps]]' d07 recursive
    * oracle so the consumers cannot drift apart. */
  private[operators] val jaccardCtesSql =
    s"""toks AS (
      |  SELECT DISTINCT doc_id, unnest(${graft.oracle.DuckFragments.tokListSql}) AS term
      |  FROM documents WHERE doc_id < ${VerifyWindow.MaxId}),
      |toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
      |sizes AS (SELECT doc_id, count(*) AS n_terms FROM toks2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM toks2 a JOIN toks2 b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  private[operators] val jaccardSelectSql =
    """SELECT a_id, b_id,
      |  round(n_inter / (sa.n_terms + sb.n_terms - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |ORDER BY jaccard DESC, a_id, b_id LIMIT 100""".stripMargin

  private val jaccardPairsSql = s"WITH $jaccardCtesSql\n$jaccardSelectSql"

  /** d12 — asymmetric token-set CONTAINMENT, top-100 pairs:
    * |A∩B| / |A| — the subset-duplicate detector Jaccard structurally
    * misses (a short doc quoted whole inside a long one has low Jaccard
    * but containment ≈ 1; near-dup pipelines run both). Directional:
    * (a_id, b_id) scores how much of A lies inside B, so both
    * orientations of a pair can appear. Same verification-window
    * discipline and relational decomposition as d02; the LSH families
    * remain the full-scale candidate path. */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    containmentPairsFrom(Tables.documents(s, d), memoKey = Some(d))

  private[graft] def containmentPairsFrom(documents: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val (sizes, inter) = windowTokenPairs(documents, memoKey)
    // |A∩B| is symmetric: mirror the one ordered intersection pass into
    // both orientations instead of running the heavy join twice
    val both = inter.unionByName(inter.select(
      col("b_id").as("a_id"), col("a_id").as("b_id"), col("n_inter")))
    both
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_terms", "a_terms"), "a_id")
      .withColumn("containment", round(col("n_inter") / col("a_terms"), 6))
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("containment").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  private val containmentPairsSql =
    s"""WITH $jaccardCtesSql,
      |oriented AS (SELECT a_id, b_id, n_inter FROM inter
      |             UNION ALL SELECT b_id, a_id, n_inter FROM inter)
      |SELECT a_id, b_id, round(n_inter / s.n_terms, 6) AS containment
      |FROM oriented JOIN sizes s ON s.doc_id = a_id
      |ORDER BY containment DESC, a_id, b_id LIMIT 100""".stripMargin

  /** Number of hash functions in the MinHash signature and LSH banding
    * shape (8 bands × 4 rows). Seeded xxhash64 keeps it deterministic. */
  val MinHashFns = 32
  val Bands = 8
  val RowsPerBand: Int = MinHashFns / Bands

  /** MinHash signatures through the codegen'd
    * [[graft.expressions.MinHashSignature]] kernel (r14 — replaces the
    * explode + 32-min-aggregate formulation): one map-only pass per
    * document, bit-identical values (the kernel runs the SAME
    * XxHash64Function steps as `min(xxhash64(lit(i), shingle))`), and
    * NO corpus-scale (doc_id, shingle) shuffle — at 100 TB the index
    * build's widest stage becomes a scan. */
  private def minhashSignatures(docs: DataFrame, carried: Seq[Column])
      : DataFrame =
    docs.select(carried :+ graft.expressions.MinHashSignature
      .minhashSignature(col("toks"), MinHashFns).as("sig"): _*)

  /** Buckets larger than this are skipped as degenerate (boilerplate
    * shingle sets) — standard LSH guard that bounds the candidate join at
    * any scale. */
  val MaxBucketSize = 50

  /** MinHash + LSH near-duplicate candidates: 3-token shingles → 32-fn
    * signature → 8 bands → equi-join on (band, band-hash) buckets → exact
    * candidates. The join is the scale path: work is proportional to
    * bucket collisions, not to n², and oversized buckets are dropped.
    * Rows-only check (approximate family). */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    minhashCandidatesFrom(Tables.documents(s, d))

  /** (doc_id, band, bucket) banded MinHash signature relation over any
    * (doc_id, text) relation — the STORED LSH INDEX shape (what a
    * deployment persists and probes incrementally, see d11). The
    * relation feeds the bucket-size guard AND both sides of d03's
    * candidate self-join — without materialization the whole
    * tokenize→shingle→signature subtree would be recomputed 4×
    * (self-joins defeat common-subexpression reuse). localCheckpoint is
    * eager, cuts lineage, and its blocks are GC-released after the query
    * (a bare persist() would leak cache across the shared session). */
  private[graft] def minhashBands(documents: DataFrame): DataFrame =
    bandRelation(graft.sources.Scans.widenForFanout(
        documents.select(col("doc_id"), col("text")), col("doc_id")))
      .localCheckpoint()

  /** ROW-LOCAL twin of [[minhashBands]] for streaming probes (s27):
    * the signature kernel is row-local by construction (both builders
    * run [[bandRelation]], so the probe computes the buckets the stored
    * index was built with; a spec pins the row-for-row equality). The
    * stream variant skips
    * [[graft.sources.Scans.widenForFanout]] (micro-batches size their
    * own parallelism) and localCheckpoint (illegal on a stream; the
    * relation is consumed once per micro-batch anyway) — both
    * batch-side materialization choices, not band math. The input's
    * columns other than `text` ride along on every band row (a probe's
    * verify key, [[Gates.nearDupHits]]). */
  private[graft] def minhashBandsRowLocal(documents: DataFrame): DataFrame =
    bandRelation(documents)

  /** shingle → signature → (doc_id, …, band, bucket), one definition for
    * both band builders; `docs`' columns other than `text` are carried. */
  private def bandRelation(docs: DataFrame): DataFrame = {
    val carried = docs.columns.filter(_ != "text").map(col).toSeq
    val tokenized = docs
      .select(carried :+ TextFunctions.tokens(col("text")).as("words"): _*)
    val sigs = minhashSignatures(
      TextFunctions.withNgrams(tokenized, "words", "shingles", 3)
        .select(carried :+ array_distinct(col("shingles")).as("toks"): _*)
        .filter(size(col("toks")) > 0), carried)
    val bands = posexplode(array((0 until Bands).map(b =>
      xxhash64(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))): _*))
    sigs.select(carried :+ bands: _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** @param bucketCap oversized-bucket guard. Planted-union harnesses
    *   (d05/d10) pass `copies × MaxBucketSize`: a k-fold union multiplies
    *   every bucket's population by k, so an unscaled cap would narrow
    *   the documented degenerate-content margin from MaxBucketSize/2
    *   near-identical docs to MaxBucketSize/(2k) — scaling by k keeps the
    *   single-corpus margin intact. */
  private[graft] def minhashCandidatesFrom(
      documents: DataFrame, bucketCap: Long = MaxBucketSize): DataFrame = {
    val banded = minhashBands(documents)
    val smallBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, bucketCap))
      .select(col("band"), col("bucket"))
    val pruned = banded.join(smallBuckets, Seq("band", "bucket"))
    pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Hash-function count for the ESTIMATE-accuracy row (d14) — wider
    * than the 32-fn candidate signature so the bound below is an
    * invariant, not a bet: with m independent min-hash components each
    * agreeing w.p. J, Hoeffding gives P(|est − J| > 0.25) ≤
    * 2·exp(−2·256·0.0625) ≈ 2.5e-14 per pair — safe over every
    * verification-window pair set at any SF. */
  val EstimateHashes = 256

  /** Shared verification-window scaffold of the exact SHINGLE-pair
    * family (d14 estimate bound, d03 candidate bound): the distinct
    * 3-token-shingle relation, per-doc shingle-set sizes, and ordered
    * pair intersections — the shingle-level twin of
    * [[windowTokenPairs]], memoized per dataset the same way so the
    * expensive shingle self-join builds ONCE per sweep however many
    * bound contracts fan out of it. */
  private def windowShinglePairs(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) =
    graft.api.Intermediates.memo(s, s"winshingles|$d") {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < VerifyWindow.MaxId)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("words"))
      val sh = TextFunctions.withNgrams(docs, "words", "shingles", 3)
        .select(col("doc_id"),
          explode(array_distinct(col("shingles"))).as("sh"))
        .localCheckpoint()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        .localCheckpoint()
      val inter = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_inter"))
        .localCheckpoint()
      (sh, sizes, inter)
    }

  /** The shared exact-shingle CTE block (t/w/g/gs/sizes/inter) — ONE
    * source of truth for the window's 3-shingle pair definition on the
    * SQL side, embedded by d14 AND d03's bound oracle so the two
    * contracts cannot drift apart (the shingle-level mirror of
    * [[jaccardCtesSql]]). */
  private[operators] val shingleCtesSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""t AS (SELECT doc_id, list_filter($tokList, x -> x <> '') AS l
      |           FROM documents WHERE doc_id < ${VerifyWindow.MaxId}),
      |w AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS word
      |      FROM t),
      |g AS (SELECT doc_id,
      |        word || ' ' || lead(word, 1) OVER win || ' ' ||
      |        lead(word, 2) OVER win AS sh
      |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |gs AS (SELECT DISTINCT doc_id, sh FROM g WHERE sh IS NOT NULL),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM gs GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |            count(*) AS n_inter
      |          FROM gs a JOIN gs b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin
  }

  /** d14 — MinHash Jaccard-ESTIMATE accuracy contract (completes the
    * sketch-contract family — HLL/GK/Bloom/CMS/freqItems — for the
    * dedup modality): the LSH pipeline's banding math (d03's 8-band
    * threshold, every tuning decision) assumes signature agreement
    * estimates true shingle-set Jaccard; this row ASSERTS it. Over the
    * d02-style verification window, compute the exact 3-token-shingle
    * Jaccard relationally AND the 256-fn signature-agreement estimate
    * through the real min(xxhash64) path, and flag
    * |est − jaccard| ≤ 0.25 per intersecting pair (see
    * [[EstimateHashes]] for why the bound is an invariant). The
    * estimate itself stays engine-specific (seeded hashes) — the oracle
    * pins the exact Jaccard and the bound flag, q21/q33's pattern. At
    * full scale the signature relation is the linear-cost artifact that
    * ships (d11's stored index); the exact side exists only inside the
    * capped window, same discipline as d02/d12. */
  def minhashEstimateBound(s: SparkSession, d: String): DataFrame = {
    val (sh, sizes, inter) = windowShinglePairs(s, d)
    // One variable-length string hash per row, then 256 fixed-width
    // seeded re-hashes of that digest (optimization r19, guide §1.2
    // per-task work: the previous form re-hashed the FULL shingle
    // string once per component — 256 string traversals per row; this
    // is the standard MinHash construction — hash the element once,
    // derive the component family from the digest — and Spark ML's own
    // MinHashLSH does the same. The estimator stays a seeded
    // independent-ish family, so the Hoeffding bound the row asserts
    // is unchanged; `est` itself is engine-specific and feeds only the
    // est_ok flag, whose closed-form margin is astronomically safe.)
    val aggs = (0 until EstimateHashes).map(i =>
      min(xxhash64(lit(i), xxhash64(col("sh")))).as(s"h$i"))
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until EstimateHashes).map(i => col(s"h$i")): _*).as("sig"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("a_sh")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("b_sh")), "b_id")
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("jaccard",
        col("n_inter") / (col("a_sh") + col("b_sh") - col("n_inter")))
      // codegen'd agreement count (r19): the aggregate(zip_with(...))
      // form is an interpreted HOF evaluated 256 elements × every
      // window pair; the kernel is bit-equal (see ArrayLongEqCount)
      .withColumn("est",
        graft.expressions.VectorExpressions
          .arrayLongEqCount(col("a_sig"), col("b_sig"))
          .cast("double") / EstimateHashes)
      .select(col("a_id"), col("b_id"),
        round(col("jaccard"), 6).as("jaccard"),
        (abs(col("est") - col("jaccard")) <= 0.25).cast("int").as("est_ok"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val minhashEstimateSql =
    s"""WITH $shingleCtesSql
      |SELECT a_id, b_id,
      |  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard,
      |  1 AS est_ok
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |ORDER BY a_id, b_id""".stripMargin

  /** Exact-Jaccard threshold above which the 8×4 LSH banding CANNOT miss
    * a pair, to invariant precision: P(miss) = (1 − J⁴)⁸ ≤ 1.3e-9 at
    * J = 0.98 (and falls fast above), so over every window pair set at
    * any SF a missed ≥ 0.98 pair means a BUG, not luck. Below 0.98 a
    * miss is legitimate banding behavior (recall at the nominal ~0.595
    * design threshold is only ~66% by construction) — those pairs pass
    * the flag unconditionally, and the planted d05 proof plus this
    * organic bound together pin the recall surface. */
  val LshSureRecallJaccard = 0.98

  /** d03 — MinHash-LSH candidate BOUND contract (the d14 pattern in
    * reverse, closing the rows-only gap the r9 verdict named): over the
    * verification window, run the REAL candidate path
    * ([[minhashCandidatesFrom]] — same signature/banding/bucket-guard
    * code the production d10/d11 compositions use) and grade it against
    * the exact relational 3-shingle Jaccard:
    *
    *  - `recall_ok` (per pair): no window pair with exact J ≥
    *    [[LshSureRecallJaccard]] may be missing from the candidate set
    *    (see the constant for why that threshold is an invariant, not a
    *    bet — this corpus's planted near-dup pairs sit at J ≈ 0.98–0.99,
    *    so the flag is exercised by real pairs every run);
    *  - `n_disjoint_cand` (precision floor, corpus-wide): every emitted
    *    candidate pair must share ≥ 1 shingle — a band match between
    *    shingle-DISJOINT docs requires a 64-bit xxhash64 collision
    *    (P ≈ 2⁻⁶⁴ per comparison), so the count is 0 to Bloom-grade
    *    certainty. A bucketing bug that sprays candidates across
    *    unrelated docs (the failure d05's planted proof cannot see)
    *    turns this column nonzero and the row red.
    *
    * The candidate set itself stays engine-specific (seeded hashes);
    * the oracle pins the exact Jaccard column and both flags — exactly
    * the q21/q33/d14 discipline. Window-capped on both engines; the
    * full-corpus candidate path remains [[minhashCandidates]] (API) and
    * is exercised at scale by d10/d11. */
  def minhashCandidateBound(s: SparkSession, d: String): DataFrame = {
    val (_, sizes, inter) = windowShinglePairs(s, d)
    val cand = minhashCandidatesFrom(
        Tables.documents(s, d)
          .filter(col("doc_id") < VerifyWindow.MaxId)
          .select(col("doc_id"), col("text")))
      .localCheckpoint()
    // precision floor: candidates sharing zero shingles (one tiny count
    // job over the materialized candidate set — anti-join on the pair key)
    val nDisjoint = cand.join(inter, Seq("a_id", "b_id"), "left_anti").count()
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("a_sh")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("b_sh")), "b_id")
      .withColumn("j_raw",
        col("n_inter") / (col("a_sh") + col("b_sh") - col("n_inter")))
      .join(cand.withColumn("__cand", lit(1)), Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        round(col("j_raw"), 6).as("jaccard"),
        when(col("j_raw") >= LshSureRecallJaccard && col("__cand").isNull, 0)
          .otherwise(1).as("recall_ok"),
        lit(nDisjoint).as("n_disjoint_cand"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val minhashCandidateBoundSql =
    s"""WITH $shingleCtesSql
      |SELECT a_id, b_id,
      |  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard,
      |  1 AS recall_ok,
      |  CAST(0 AS BIGINT) AS n_disjoint_cand
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |ORDER BY a_id, b_id""".stripMargin

  /** 64-bit SimHash per document from token xxhash64 bit-votes, plus its
    * 4×16-bit bands (Hamming-distance candidates join on any equal band).
    * Single-pass: 64 conditional-sum aggregates over (doc, token) rows —
    * one shuffle keyed on doc_id, no tokens×64 bit explode (64× fewer
    * shuffle rows than the naive per-bit formulation).
    * Pure expression implementation; rows-only check. */
  def simhashDocs(s: SparkSession, d: String): DataFrame =
    simhashFrom(Tables.documents(s, d)).orderBy(col("doc_id"))

  private[graft] def simhashFrom(documents: DataFrame): DataFrame = {
    val toks = graft.sources.Scans
      .widenForFanout(documents.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .withColumn("h", xxhash64(col("term")))
    val votes = (0 until 64).map(b =>
      sum(expr(s"CASE WHEN (shiftright(h, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$b"))
    val bitvals = (0 until 64).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
    val sim = toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bitvals.reduce(_ + _).as("simhash"))
    sim.selectExpr("doc_id", "simhash",
        "simhash & 65535 AS band0",
        "shiftright(simhash, 16) & 65535 AS band1",
        "shiftright(simhash, 32) & 65535 AS band2",
        "shiftright(simhash, 48) & 65535 AS band3")
  }

  /** SimHash near-duplicate candidates: docs are candidates when ANY of
    * their four 16-bit bands match (≙ Hamming distance 0 within a band —
    * the standard SimHash block-permutation table lookup, expressed as a
    * relational band equi-join like the MinHash path). The bucket guard
    * scales with corpus size ([[scaledBucketCap]]): band space is only
    * 2^16, so a fixed cap would spuriously drop everything once
    * n/65536 approaches it. */
  /** @param capScale multiplier on the scaled bucket guard. Planted-
    *   union harnesses pass the union multiplicity (a k-fold union
    *   multiplies every bucket's load by k — same reasoning as
    *   [[minhashCandidatesFrom]]'s bucketCap). */
  private[graft] def simhashCandidatesFrom(documents: DataFrame,
                                           capScale: Long = 1L): DataFrame = {
    val banded = simhashFrom(documents)
      .select(col("doc_id"), posexplode(
        array(col("band0"), col("band1"), col("band2"), col("band3"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .localCheckpoint()
    val cap =
      capScale * scaledBucketCap(banded.count() / 4, 1L << 16, MaxBucketSize)
    val smallBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, cap))
      .select(col("band"), col("bucket"))
    val pruned = banded.join(smallBuckets, Seq("band", "bucket"))
    pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** d04's bound-contract thresholds. The contract grades the engine's
    * 64-bit count-weighted SimHash against the exact weighted token
    * cosine (SAME vector space: simhash votes are count-weighted, so
    * the hyperplane-concentration argument relates hamming distance to
    * the angle between the count vectors):
    *
    *  - `n_close_far`: window pairs at hamming ≤ 3 with weighted cosine
    *    < 0.15. Per-bit disagreement probability is θ/π (random
    *    hyperplane); at cos < 0.15, θ/π > 0.45, and
    *    P(Bin(64, 0.45) ≤ 3) ≈ 3e-12 per pair — ≈ 4e-7 over the whole
    *    ~125k-pair window, an invariant. For fully token-DISJOINT pairs
    *    the bits are independent fair coins and the margin is 2.4e-15.
    *    A vote-summing bug that collapses fingerprints (all-equal or
    *    all-zero simhashes) pulls the ~170 organic sub-0.15 pairs into
    *    hamming 0 and turns this count nonzero.
    *  - `n_far_close`: window pairs at weighted cosine ≥ 0.995 with
    *    hamming > 13. At cos 0.995, θ/π ≈ 0.032, E[hamming] ≈ 2, and
    *    P(Bin(64, 0.032) > 13) ≈ 2e-8 per pair over the ~dozen planted
    *    near-dup pairs per corpus — a lost-bit bug (wrong shift, sign
    *    flip) moves planted twins far apart and trips it.
    *
    * Exactly-proportional count vectors ⇒ identical vote signs ⇒
    * hamming 0 is the d06 planted invariant; these two flags pin the
    * ORGANIC neighborhood around it. */
  val SimhashCloseHamming = 3
  val SimhashFarHamming = 13
  val SimhashFarCosine = 0.15
  val SimhashCloseCosine = 0.995

  /** d04 — SimHash fingerprint BOUND contract (the d14 pattern for the
    * Hamming family, closing the rows-only gap the r9 verdict named):
    * over the verification window, compute the REAL count-weighted
    * SimHash ([[simhashFrom]] — same hash/vote/band code d06/d10 use)
    * for every doc, the exact weighted token cosine for every pair
    * relationally, and grade the fingerprint geometry against the exact
    * geometry (see the threshold constants above for why both flags are
    * invariants). Emitted rows: the deterministic exact side — window
    * pairs at weighted cosine ≥ 0.8 (the near-dup-adjacent band, which
    * includes every planted near-dup pair) — plus the two corpus-wide
    * flag counts; the fingerprints stay engine-specific and the oracle
    * pins the cosines and the flags, q21/q33/d14's discipline. The
    * full-corpus per-doc fingerprint relation remains [[simhashDocs]]
    * (API), exercised at scale by d06/d10.
    *
    * Exactness note: token counts are integers, so dots/norms are
    * order-independent in double precision and the rounded cosine
    * hash-matches DuckDB without ulp slack. */
  /** d04's exact-vs-fingerprint relations — the weighted-cosine pair
    * relation (a term self-join over the window: the expensive side)
    * and the per-doc fingerprints — memoized per dataset like
    * [[windowTokenPairs]]/[[windowShinglePairs]], so a sweep's repeat
    * runs grade against ONE build instead of re-joining per run. */
  private def simhashBoundRelations(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    graft.api.Intermediates.memo(s, s"simhashbound|$d") {
      val win = Tables.documents(s, d)
        .filter(col("doc_id") < VerifyWindow.MaxId)
        .select(col("doc_id"), col("text"))
      // weighted (doc, term, count) relation — counts, NOT
      // windowTokenPairs' distinct sets: the exact side must live in
      // simhash's vector space
      val wtoks = win
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("double").as("cnt"))
        .localCheckpoint()
      val norms = wtoks.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("cnt") * col("cnt"))).as("nrm"))
      val wcos = wtoks.as("a").join(wtoks.as("b"),
          col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
        .join(norms.select(col("doc_id").as("a_id"), col("nrm").as("a_nrm")), "a_id")
        .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("b_nrm")), "b_id")
        .select(col("a_id"), col("b_id"),
          (col("dot") / (col("a_nrm") * col("b_nrm"))).as("wc_raw"))
        .localCheckpoint()
      val sim = simhashFrom(win).select(col("doc_id"), col("simhash"))
        .localCheckpoint()
      (wcos, sim)
    }

  def simhashBound(s: SparkSession, d: String): DataFrame = {
    val (wcos, sim) = simhashBoundRelations(s, d)
    // full window pair grid (disjoint pairs included — their cosine is 0
    // by definition and must still obey the close-pair floor); the
    // non-equi self-join broadcasts a ≤1000-row one-long-per-doc relation
    val graded = sim.as("a").join(sim.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("ham"))
      .join(wcos, Seq("a_id", "b_id"), "left")
      .withColumn("wc", coalesce(col("wc_raw"), lit(0.0)))
    val flags = graded.agg(
      sum((col("ham") <= SimhashCloseHamming &&
        col("wc") < SimhashFarCosine).cast("long")).as("n_close_far"),
      sum((col("wc") >= SimhashCloseCosine &&
        col("ham") > SimhashFarHamming).cast("long")).as("n_far_close")).head()
    wcos.filter(round(col("wc_raw"), 6) >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("wc_raw"), 6).as("wcos"),
        lit(flags.getLong(0)).as("n_close_far"),
        lit(flags.getLong(1)).as("n_far_close"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val simhashBoundSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""WITH c AS (
      |  SELECT doc_id, w AS term, CAST(count(*) AS DOUBLE) AS cnt
      |  FROM (SELECT doc_id, unnest(list_filter($tokList, x -> x <> '')) AS w
      |        FROM documents WHERE doc_id < ${VerifyWindow.MaxId})
      |  GROUP BY doc_id, w),
      |n AS (SELECT doc_id, sqrt(sum(cnt * cnt)) AS nrm FROM c GROUP BY doc_id),
      |dt AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |         sum(a.cnt * b.cnt) AS dot
      |       FROM c a JOIN c b ON a.term = b.term AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      |SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS wcos,
      |  CAST(0 AS BIGINT) AS n_close_far, CAST(0 AS BIGINT) AS n_far_close
      |FROM dt JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
      |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.8
      |ORDER BY a_id, b_id""".stripMargin
  }

  /** Id offset for the planted-twin recall harnesses: the smallest power
    * of ten strictly above the measured max id (min 10^6). Derived from
    * the data so the harness stays valid at every SF; the integer-digit
    * construction is reproduced exactly by [[plantOffsetSql]] on the
    * oracle side ('1' followed by digits(maxId) zeros). */
  private[graft] def plantOffset(maxId: Long): Long = {
    var o = 1000000L
    while (o <= maxId) o *= 10
    o
  }

  /** DuckDB scalar expression computing [[plantOffset]] over a table —
    * identical integer semantics (string-digit count, no float log10).
    * `where` restricts the max-id probe when the Spark side derives the
    * offset from a filtered relation (d06's verification window) — the
    * two sides must measure the SAME max or the planted ids diverge. */
  private[graft] def plantOffsetSql(idCol: String, table: String,
                                        where: String = ""): String =
    s"greatest(1000000, CAST('1' || repeat('0', " +
      s"length(CAST((SELECT max($idCol) FROM $table $where) AS VARCHAR))) AS BIGINT))"

  /** Null-safe max-id probe, memoized per (session, analyzed plan,
    * column): ~45 registered rows derive their plant offset from the
    * same immutable corpus relation, and each paid one driver-
    * synchronous scan job PER RUN for a constant (optimization r20,
    * guide §5 — the driver should do almost no data work; the janitor
    * rows' jobs-per-cycle diet). The key is the analyzed plan's
    * semantic hash — two calls hit only when Catalyst proves the
    * relations identical, so filtered probes (d06's verification
    * window) get their own entry, and the corpus-dir immutability
    * assumption is the same one [[graft.sources.Tables]]' reader memo
    * already documents. Ephemeral frames (checkpoints, local unions)
    * hash fresh per instance and simply miss — the probe then runs
    * exactly as before. An empty relation yields NULL from max() — map
    * it to 0 instead of NPEing in getLong. */
  private[graft] def maxIdOf(df: DataFrame, idCol: String): Long =
    graft.api.Intermediates.memo(df.sparkSession,
      s"maxid|$idCol|${df.queryExecution.analyzed.semanticHash()}") {
      Option(df.agg(max(col(idCol))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    }

  /** Shared planted-twin scaffold (d05/d06/e06/e07): corpus ∪ id-shifted
    * copy plus the derived offset. Null-safe on an empty relation (no
    * rows ⇒ max is NULL ⇒ offset floor). */
  private[operators] def plantedUnion(df: DataFrame,
                                      idCol: String): (DataFrame, Long) = {
    val off = plantOffset(maxIdOf(df, idCol))
    val planted = df.withColumn(idCol, col(idCol) + lit(off))
    (df.unionByName(planted), off)
  }

  /** Oversized-bucket guard that survives scale: degenerate means
    * ≥ 16× the mean bucket load (n/buckets), never below the
    * verification-scale floor. A fixed cap fails wholesale once mean
    * load approaches it (the r4 verdict's 12.8k-vector cliff); a
    * multiple of the mean keeps the guard meaningful at any corpus
    * size while still dropping true degenerate buckets. */
  private[operators] def scaledBucketCap(n: Long, buckets: Long,
                                         floor: Long): Long =
    math.max(floor, 16L * n / math.max(1L, buckets))

  /** d05 — LSH recall invariant, oracle-checked: union the corpus with an
    * id-shifted copy of itself and demand the REAL MinHash-LSH path
    * ([[minhashCandidatesFrom]], same signature/banding/bucket-guard
    * code) recover every planted identical pair. Identical text ⇒
    * identical shingle set ⇒ identical signature ⇒ the twins share all 8
    * band buckets, and the bucket-size guard can only lose a pair if all
    * 8 of its buckets are oversized — impossible without ≥ MaxBucketSize/2
    * near-identical docs (this corpus has none: d01 shows zero exact
    * dups). So the candidate set provably contains exactly one row per
    * doc with ≥ 3 tokens (≥ 1 shingle) — a full DuckDB oracle for the
    * approximate family's recall, not just a rows-only count. */
  def lshPlantedRecall(s: SparkSession, d: String): DataFrame = {
    val (union, off) = plantedUnion(
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id")
    // 2× union ⇒ 2× bucket cap: preserves the MaxBucketSize/2 margin the
    // recall argument above relies on (see minhashCandidatesFrom)
    minhashCandidatesFrom(union, bucketCap = 2L * MaxBucketSize)
      .filter(col("b_id") === col("a_id") + lit(off))
      .orderBy(col("a_id"))
  }

  private val lshPlantedRecallSql =
    s"""SELECT doc_id AS a_id,
      |  doc_id + ${plantOffsetSql("doc_id", "documents")} AS b_id
      |FROM documents
      |WHERE len(list_filter(${graft.oracle.DuckFragments.tokListSql},
      |                      x -> x <> '')) >= 3
      |ORDER BY a_id""".stripMargin

  /** d06 — SimHash recall invariant, oracle-checked (mirrors d05):
    * union the docs with an id-shifted copy and demand the REAL SimHash
    * band path ([[simhashCandidatesFrom]], same hash/vote/band code)
    * recover every planted identical pair. Identical text ⇒ identical
    * token multiset ⇒ identical bit votes ⇒ identical 64-bit simhash ⇒
    * all 4 bands equal, so the twins share every band bucket.
    *
    * Unlike MinHash's 2^64 bucket space, SimHash bands have only 2^16
    * buckets, so ORGANIC bucket loads grow linearly with corpus size —
    * on a statistically homogeneous corpus the oversized-bucket guard
    * WILL eventually drop all four of a hot doc's bands (observed at
    * sf0.1: 76/5000 docs), which is the guard doing its job (hot
    * buckets are exactly where the band join degenerates), not a recall
    * bug. A zero-loss invariant is therefore only claimable on bounded
    * input: the recall row runs over the shared verification window
    * (like d02/e02), with the guard scaled by the union multiplicity;
    * the full-corpus candidate path keeps the guard as its documented
    * recall/cost trade (d04 rows). Full DuckDB oracle: one row per
    * windowed doc with ≥ 1 token (0-token docs have no simhash — the
    * explode drops them). */
  def simhashPlantedRecall(s: SparkSession, d: String): DataFrame = {
    val (union, off) = plantedUnion(
      Tables.documents(s, d)
        .filter(col("doc_id") < VerifyWindow.MaxId)
        .select(col("doc_id"), col("text")), "doc_id")
    simhashCandidatesFrom(union, capScale = 2L)
      .filter(col("b_id") === col("a_id") + lit(off))
      .orderBy(col("a_id"))
  }

  private val simhashPlantedRecallSql =
    s"""SELECT doc_id AS a_id,
      |  doc_id + ${plantOffsetSql("doc_id", "documents",
          s"WHERE doc_id < ${VerifyWindow.MaxId}")} AS b_id
      |FROM documents
      |WHERE doc_id < ${VerifyWindow.MaxId}
      |  AND len(list_filter(${graft.oracle.DuckFragments.tokListSql},
      |                      x -> x <> '')) >= 1
      |ORDER BY a_id""".stripMargin

  /** d08 — incremental ingestion dedup: a NEW batch (odd doc_ids, plus
    * low-id even docs re-submitted under fresh ids — the crawl-refetch
    * scenario) is anti-joined on content digest against the EXISTING
    * corpus (even doc_ids). Re-submitted content must vanish; novel
    * content must survive. This is the steady-state 100 TB dedup shape:
    * the corpus is never re-deduplicated wholesale — each incoming batch
    * joins against the stored digest set (uniform 128-bit keys, no skew;
    * broadcastable while the digest set is small, shuffle equi-join
    * after). Re-submission ids reuse [[plantOffset]] so they can never
    * collide with real ids at any SF. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    Gates.exactFlags(passageIncomingBatch(docs, off),
        Gates.ledger(docs.filter(col("doc_id") % 2 === 0)))
      .filter(!col("exact"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val incrementalDedupSql =
    s"""WITH inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + ${plantOffsetSql("doc_id", "documents")}, text
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
      |seen AS (SELECT DISTINCT md5(text) AS h FROM documents
      |         WHERE doc_id % 2 = 0)
      |SELECT doc_id FROM inc WHERE md5(text) NOT IN (SELECT h FROM seen)
      |ORDER BY doc_id""".stripMargin

  /** d11 — incremental NEAR-dup dedup against a stored LSH index (the
    * near-dup twin of d08's exact incremental path, and the steady-state
    * 100 TB shape: the corpus's banded signature relation
    * ([[minhashBands]]) is persisted once; each incoming batch computes
    * its own bands and equi-joins the index — batch ⋈ index, never
    * corpus ⋈ corpus). The incoming batch = odd-id docs plus even docs
    * with id < 200 re-fetched under fresh crawl ids (plantOffset-shifted,
    * identical text — the same scenario as d08). A re-fetch shares all 8
    * band buckets with its source, so the probe join must surface every
    * planted (in_id, src_id) pair whose doc has ≥ 1 shingle — projected
    * to those pairs, a full recall oracle through the asymmetric
    * stored-index path (organic batch↔corpus collisions are
    * LSH-specific and excluded by the projection, as in d05). The index
    * side drops oversized buckets at build time (a stored index caps its
    * degenerate buckets once, not per probe). */
  /** The pruned (doc_id, band, bucket) band index over an existing
    * corpus — ONE builder for d11's in-session index, d20's stored
    * artifact, and s27's stream-probed store (shared definition: the
    * build paths cannot drift). 1-entry buckets stay (they match
    * probes); only degenerate boilerplate buckets are excluded, as at
    * any index build. */
  /** Global bucket-size census over any (doc_id, band, bucket)
    * relation: rows in buckets past [[MaxBucketSize]] are dropped.
    * Shared by the index BUILD and the compaction FOLD (the re-census
    * over base ∪ appends — the only stage that sees all rows again, so
    * buckets that grew degenerate ACROSS increments are retired there;
    * per-batch appends can only census themselves). */
  private[graft] def pruneBands(index: DataFrame): DataFrame = {
    val okBuckets = index.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= MaxBucketSize)
      .select(col("band"), col("bucket"))
    index.join(okBuckets, Seq("band", "bucket"))
      .select(col("doc_id"), col("band"), col("bucket"))
  }

  private[graft] def prunedBandIndex(existing: DataFrame): DataFrame =
    pruneBands(minhashBands(existing))

  /** d11's probe scenario against an ARBITRARY (doc_id, band, bucket)
    * index relation — ONE definition for the in-session index (d11),
    * the loaded store (d20), the base ∪ appended store (d21), and the
    * compacted store (d22), so the four maintenance states run the
    * identical probe plan and share one planted oracle: the incoming
    * batch (odd docs plus evens < 200 re-fetched at +off) bands itself
    * and equi-joins the index on (band, bucket), projected to the
    * planted pairs. */
  /** d11's incoming batch (odd docs plus evens < 200 re-fetched at
    * +off) — factored so the s38 stream stages the IDENTICAL relation
    * the batch rows probe. */
  private[graft] def lshIncomingBatch(docs: DataFrame, off: Long): DataFrame =
    refetchIncrement(docs, off, 200)

  /** Odd docs plus evens below `below` re-fetched verbatim at +off. */
  private def refetchIncrement(docs: DataFrame, off: Long,
      below: Int): DataFrame =
    docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs
        .filter(col("doc_id") % 2 === 0 && col("doc_id") < below)
        .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))

  /** The probe body over an ARBITRARY incoming relation — shared by
    * [[probePlantedAgainst]] (batch rows) and s38's per-micro-batch
    * serve (the batch DF arrives from the file stream there). */
  private[graft] def probeIncomingPlanted(incoming: DataFrame, off: Long,
      index: DataFrame): DataFrame =
    minhashBands(incoming)
      .select(col("doc_id").as("in_id"), col("band"), col("bucket"))
      .join(index.select(col("doc_id").as("src_id"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(col("in_id"), col("src_id"))
      .distinct()
      .filter(col("in_id") === col("src_id") + lit(off))
      .orderBy(col("in_id"))

  private def probePlantedAgainst(docs: DataFrame, off: Long,
      index: DataFrame): DataFrame =
    probeIncomingPlanted(lshIncomingBatch(docs, off), off, index)

  def incrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    probePlantedAgainst(docs, off, prunedBandIndex(existing))
  }

  private val StoreDate = java.time.LocalDate.ofEpochDay(0)

  /** d17/d20/d24's stored serve: `store`'s artifact over `base`, saved
    * once per session under `root` (the row's INPUT — the probe of the
    * LOADED store is what the row witnesses), adopted through the
    * family's atomic CURRENT pointer and loaded from whatever the
    * pointer names — a stale or torn pointer breaks the row's hash,
    * not a 3am rollout. */
  private def pointerServed(s: SparkSession, store: DocIndexStore,
      root: String, base: DataFrame): DataFrame = {
    val dir = store.versionedDir(root, StoreDate)
    store.saveOnce(dir, base)
    graft.api.ServePointer.adopt(s"$root/pointer", dir)
    store.load(s, graft.api.ServePointer.current(s"$root/pointer")
      .getOrElse(sys.error(s"no adopted ${store.family} index under $root")))
  }

  /** The maintenance rows' store geometry: `store`'s base artifact over
    * `base` at `baseDir` (the row's input, saved once per session) plus
    * `appended` committed as append batch 0 under `root/append`.
    * Returns the append root. */
  private def baseAndAppend(store: DocIndexStore, baseDir: String,
      base: DataFrame, root: String, appended: DataFrame): String = {
    store.saveOnce(baseDir, base)
    store.appendBatch(s"$root/append", appended, 0L)
    s"$root/append"
  }

  /** d25/d27/d29's takedown fold: `takedown` committed to the
    * doc-tombstone log under `root/tombstones` — twice, as
    * at-least-once delivery of the delete event does (the replay is
    * skipped) — then base ∪ appends MINUS tombstones folded into
    * `root/compacted` and loaded. The probe of the loaded fold runs
    * with NO tombstone filter, so a fold that leaves any tombstoned
    * row breaks the row's hash. */
  private def foldTakedown(s: SparkSession, store: DocIndexStore,
      baseDir: String, appendRoot: String, root: String,
      takedown: DataFrame): DataFrame = {
    val tombRoot = s"$root/tombstones"
    DocIndexStore.appendTombstones(tombRoot, takedown, 0L)
    DocIndexStore.appendTombstones(tombRoot, takedown, 0L)
    val outDir = store.versionedDir(s"$root/compacted", StoreDate)
    store.compactAppends(s, baseDir, appendRoot, outDir, Some(tombRoot))
    store.load(s, outDir)
  }

  /** d20 — incremental near-dup against a STORED band index (the
    * [[graft.api.DocIndexStore.Lsh]] round-trip of d11, r13 — completing
    * the stored-index symmetry e14 established for the embedding
    * side): the pruned band index d11 builds in-session is PERSISTED
    * (S9 versioned path), loaded back, and the SAME incoming batch is
    * probed against the LOADED relation — d11's planted oracle
    * transfers verbatim, so a lossy save (dropped buckets, truncated
    * hashes) or a load-path schema drift breaks this row instead of a
    * crawl increment under-deduping in production. The loaded
    * relation is deliberately not memoized (the t19/e14 lesson: a
    * shared materialization would mask exactly the drift the row
    * exists to catch).
    *
    * 100 TB shape: identical to d11 (batch ⋈ index on the uniform
    * (band, bucket) key, never corpus ⋈ corpus) plus one index-sized
    * parquet write/scan — at deployment the store is bucketed by the
    * probe key and maintained by the indexing job, not rebuilt per
    * batch. */
  def incrementalNeardupStored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    probePlantedAgainst(docs, off, pointerServed(s, DocIndexStore.Lsh,
      graft.sources.TmpDirs.artifactRoot(s, d, "d20"),
      docs.filter(col("doc_id") % 2 === 0)))
  }


  /** d21 — LSH band-index APPEND (r14 verdict ask #4, closing the
    * "maintained by the indexing job" promise s27's doc makes: the
    * embedding side had appendBatch/compaction — e15/s26/e20 — but the
    * LSH store had no maintenance API at all): the base artifact
    * indexes only the OLDER half of the existing corpus (even ids ≥
    * 400); the younger half (even ids < 400 — which contains EVERY
    * planted re-fetch source, so the append is load-bearing in the
    * oracle) arrives as an append batch through
    * [[graft.api.DocIndexStore.Lsh.appendBatch]] (same ExportCommit atomic
    * manifest as s26 — replayed batchIds skip), and d11's incoming
    * batch probes base ∪ committedAppends through the SHARED
    * [[probePlantedAgainst]] plan. d11's planted oracle transfers
    * verbatim: a lost append batch, a drifted band hash in the append
    * path, or a manifest mis-read surfaces as missing planted pairs.
    *
    * 100 TB shape: per append, the batch bands itself (map-only after
    * the signature kernel) and writes one staged parquet dir; the
    * probe side plans a union of base + committed batch dirs on the
    * uniform (band, bucket) key — d22's compaction folds that union
    * away on the janitor cadence. */
  def incrementalNeardupAppended(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d21")
    val dir = DocIndexStore.Lsh.versionedDir(root, StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Lsh, dir,
      existing.filter(col("doc_id") >= 400), root,
      existing.filter(col("doc_id") < 400))
    probePlantedAgainst(docs, off, DocIndexStore.Lsh.load(s, dir)
      .unionByName(DocIndexStore.Lsh.committedAppends(s, appendRoot)))
  }


  /** d22 — LSH band-index COMPACTION (e20's posture for the MinHash
    * side): d21's base + committed appends are folded by
    * [[graft.api.DocIndexStore.Lsh.compactAppends]] into ONE new versioned
    * artifact — with the bucket census RE-RUN over the union (the only
    * stage that sees all rows, so buckets that grew degenerate across
    * increments retire here; see [[pruneBands]]) — and d11's incoming
    * batch probes the LOADED COMPACTED store through the same shared
    * plan. d11's planted oracle transfers verbatim (the re-census can
    * only drop buckets the full-build census would also drop — survivor
    * counts are ≤ the full build's — so planted recall is preserved
    * structurally while degenerate growth is retired). */
  def incrementalNeardupCompacted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d22")
    val baseDir = DocIndexStore.Lsh.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Lsh, baseDir,
      existing.filter(col("doc_id") >= 400), root,
      existing.filter(col("doc_id") < 400))
    val outDir = DocIndexStore.Lsh.versionedDir(s"$root/compacted", StoreDate)
    DocIndexStore.Lsh.compactAppends(s, baseDir, appendRoot, outDir)
    probePlantedAgainst(docs, off, DocIndexStore.Lsh.load(s, outDir))
  }


  /** d11's planted oracle with an optional extra survivor predicate —
    * shared by d11/d20/d21/d22 (none) and d25 (tombstoned sources
    * excluded: a deleted source must stop matching its re-fetch). */
  private def incrementalNeardupSqlWhere(extra: String): String =
    s"""SELECT doc_id + ${plantOffsetSql("doc_id", "documents")} AS in_id,
      |  doc_id AS src_id
      |FROM documents
      |WHERE doc_id % 2 = 0 AND doc_id < 200 $extra
      |  AND len(list_filter(${graft.oracle.DuckFragments.tokListSql},
      |                      x -> x <> '')) >= 3
      |ORDER BY in_id""".stripMargin

  private[graft] val incrementalNeardupSql = incrementalNeardupSqlWhere("")

  /** d25 — tombstone DELETE through the LSH band index (the takedown
    * lifecycle's dedup surface, completing e21/e22/p15's r15 family: a
    * taken-down document's band rows must leave the index, or its
    * content keeps matching future probes and the deleted text
    * resurfaces through dedup review queues): d21's base + append
    * store, a takedown of HALF the planted re-fetch sources (even ids
    * < 100) committed to the LSH tombstone log (replay-safe), and
    * [[graft.api.DocIndexStore.Lsh.compactAppends]] folding base ∪ appends
    * MINUS tombstones into the new versioned artifact — the probe of
    * the LOADED COMPACTED store runs with NO tombstone filter, so a
    * fold that leaves any tombstoned row breaks the hash. The oracle
    * is d11's planted relation restricted to surviving sources
    * (closed form — the SELECTIVE-delete discipline of e21: sources in
    * [100, 200) must STILL match, so a wholesale drop also fails). */
  def incrementalNeardupTombstoned(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d25")
    val baseDir = DocIndexStore.Lsh.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Lsh, baseDir,
      existing.filter(col("doc_id") >= 400), root,
      existing.filter(col("doc_id") < 400))
    probePlantedAgainst(docs, off, foldTakedown(s, DocIndexStore.Lsh,
      baseDir, appendRoot, root,
      existing.filter(col("doc_id") < 100).select(col("doc_id"))))
  }


  private val incrementalNeardupTombstonedSql =
    incrementalNeardupSqlWhere("AND doc_id >= 100")

  /** s38's oracle: the planted-match set phase-split across the
    * mid-drain flip — phase 1 serves the FULL index (d11's closed
    * form), phase 2 the tombstone-folded one (d25's survivors). Plain
    * concatenation, no outer stripMargin — the embedded bodies are
    * already stripped. */
  private[graft] val streamLshFlipSql: String =
    "SELECT CAST(1 AS BIGINT) AS phase, * FROM (" +
      incrementalNeardupSqlWhere("") + ")\nUNION ALL\n" +
      "SELECT CAST(2 AS BIGINT) AS phase, * FROM (" +
      incrementalNeardupSqlWhere("AND doc_id >= 100") +
      ")\nORDER BY phase, in_id"

  /** d30 — the janitor's MAINTENANCE DAY on the LSH family, hash-gated:
    * d25's exact geometry — base artifact (evens ≥ 400), one committed
    * append batch (evens < 400), a takedown of half the planted
    * re-fetch sources (evens < 100) — with every stage fired by
    * [[graft.api.CompactionPolicy.maintenanceDay]] (trigger over the
    * real manifests, the tombstone fold with the global re-census,
    * pointer flip inside the rollback window, input retirement,
    * history pruning). An under-counting policy leaves the serve on
    * the append-less base and every planted pair vanishes; the probe
    * serves the pointer-resolved LOADED artifact with NO serve-time
    * filter, so d25's selective closed form transfers across the loop.
    *
    * 100 TB shape: the maintenance day's billing; the probe is d11's
    * batch ⋈ index plan. */
  def lshJanitorCycle(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d30")
    val lsh = DocIndexStore.Lsh
    val v1 = lsh.versionedDir(s"$root/base", StoreDate)
    val dir = graft.api.CompactionPolicy.maintenanceDay(s, lsh, root, v1,
        lsh.versionedDir(s"$root/fold", StoreDate.plusDays(1)),
        maxAppendBatches = 1, maxTombstoneBatches = 1)(
        lsh.saveOnce(v1, existing.filter(col("doc_id") >= 400))) {
      (appendRoot, tombRoot) =>
        lsh.appendBatch(appendRoot, existing.filter(col("doc_id") < 400), 0L)
        DocIndexStore.appendTombstones(tombRoot,
          existing.filter(col("doc_id") < 100).select(col("doc_id")), 0L)
    }
    probePlantedAgainst(docs, off, lsh.load(s, dir))
  }

  /** d09 — eval-benchmark decontamination: corpus documents sharing any
    * 5-token shingle with the held-out eval set (doc_id ≡ 0 mod 97 —
    * the benchmark stand-in) are flagged with their overlap count, the
    * standard n-gram decontamination pass every published pretraining
    * corpus runs. Contamination is made REAL the way it happens in the
    * wild — the eval documents re-enter the corpus under fresh crawl
    * ids (plantOffset-shifted) — so the flagged set provably contains
    * every planted leak plus any organic phrase collision. Scale shape:
    * the eval shingle set is tiny and broadcast; the corpus side is one
    * explode + broadcast-hash semi-ish join + groupBy on doc_id — no
    * all-pairs anything. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    // widen before the corpus-wide 5-gram fanout, same as every other
    // high-fanout dedup path: a one-row-group parquet scan would
    // otherwise run the widest stage single-threaded
    val docs = graft.sources.Scans.widenForFanout(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      col("doc_id"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val leaked = eval.select((col("doc_id") + lit(off)).as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0).unionByName(leaked)
    Gates.gramHits(corpus, Gates.evalGrams(eval)).orderBy(col("doc_id"))
  }

  private[graft] val decontaminateSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""WITH t AS (SELECT doc_id, list_filter($tokList, x -> x <> '') AS l
      |           FROM documents),
      |w AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS word
      |      FROM t),
      |g AS (SELECT doc_id,
      |        word || ' ' || lead(word, 1) OVER win || ' ' ||
      |        lead(word, 2) OVER win || ' ' || lead(word, 3) OVER win ||
      |        ' ' || lead(word, 4) OVER win AS sh
      |      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |gs AS (SELECT doc_id, sh FROM g WHERE sh IS NOT NULL),
      |e AS (SELECT DISTINCT sh FROM gs WHERE doc_id % 97 = 0),
      |corpus AS (
      |  SELECT doc_id, sh FROM gs WHERE doc_id % 97 <> 0
      |  UNION ALL
      |  SELECT doc_id + ${plantOffsetSql("doc_id", "documents")}, sh
      |  FROM gs WHERE doc_id % 97 = 0)
      |SELECT doc_id, count(DISTINCT sh) AS n_shingle_hits
      |FROM corpus JOIN e USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** d13 — passage-level dedup (the RefinedWeb/CCNet paragraph-dedup
    * shape): split each document into consecutive fixed-width token
    * passages, hash each, and report every passage that recurs — across
    * documents or within one. Real corpora split on newlines; this
    * corpus is single-line bag-of-words, so the unit is a 20-token
    * window (same role, same plan). Removal is the natural follow-up
    * join (anti-join docs ⋈ dup passages keeping first occurrence) —
    * the REPORT is the verified operator here, the join is d01/d09's
    * well-covered shape.
    *
    * 100 TB shape: tokenize → generator fanout (map-only, codegen'd) →
    * ONE groupBy on a 128-bit passage hash — uniform keys, no skew, and
    * the shuffle carries (hash, doc_id) pairs only, never passage text.
    * This is the only formulation that survives corpus scale: the
    * passage universe grows linearly with the corpus and the hash
    * groupBy distributes it evenly. */
  private[graft] val PassageTokens = 20

  /** The (doc_id, pi, passage) instance relation — ONE definition shared
    * by d13's corpus report, d15's per-doc fraction, and d16's
    * boilerplate strip, so the passage slicing cannot drift between the
    * rows. `pi` is the passage's 0-based position within its document
    * (d16 reassembles in this order; d13/d15 aggregate it away). */
  private def passageInstances(s: SparkSession, d: String): DataFrame =
    passageInstancesFrom(Tables.documents(s, d))

  /** Frame-parametric form of [[passageInstances]] — d17 slices BOTH the
    * stored corpus and an incoming batch with the same definition. */
  private[graft] def passageInstancesFrom(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          expr(s"cast((size(ts) - 1) div $PassageTokens as bigint)")))
          .as("pi"))
      .select(col("doc_id"), col("pi"),
        array_join(slice(col("ts"),
          (col("pi") * PassageTokens + 1).cast("int"),
          lit(PassageTokens)), " ").as("passage"))
      .filter(length(col("passage")) > 0)

  /** The shared passage-CTE block (toks/u/ch) — the oracle-side twin of
    * [[passageInstancesFrom]], embedded verbatim by d13/d15/d16 (over
    * `documents`) and twice by d17 (stored corpus + incoming batch, via
    * the rel/sfx parameters) so a slicing change breaks every passage
    * hash together. */
  private[operators] def passageCtesSqlFor(rel: String, sfx: String): String =
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS ts
       |              FROM $rel),
       |u$sfx AS (SELECT doc_id, ts,
       |        unnest(generate_series(0, (len(ts) - 1) // $PassageTokens))
       |          AS pi
       |      FROM toks$sfx),
       |ch$sfx AS (SELECT doc_id, pi,
       |         array_to_string(
       |           ts[(pi * $PassageTokens + 1):((pi + 1) * $PassageTokens)],
       |           ' ') AS passage
       |       FROM u$sfx
       |       WHERE length(array_to_string(
       |         ts[(pi * $PassageTokens + 1):((pi + 1) * $PassageTokens)],
       |         ' ')) > 0)""".stripMargin

  private val passageCtesSql = passageCtesSqlFor("documents", "")

  def passageDedup(s: SparkSession, d: String): DataFrame =
    passageInstances(s, d)
      .groupBy(md5(col("passage").cast("binary")).as("passage_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_copies") > 1)
      .orderBy(col("passage_hash"))

  private val passageDedupSql =
    s"""WITH $passageCtesSql,
       |h AS (SELECT md5(passage) AS passage_hash,
       |        CAST(count(*) AS BIGINT) AS n_copies,
       |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |        min(doc_id) AS first_doc
       |      FROM ch GROUP BY 1)
       |SELECT passage_hash, n_copies, n_docs, first_doc
       |FROM h WHERE n_copies > 1 ORDER BY passage_hash""".stripMargin

  /** d15 — per-document duplicated-passage FRACTION (the Gopher /
    * RefinedWeb dedup diagnostic: how much of each document lives in
    * passages that also appear in OTHER documents — the per-doc signal
    * a curation pipeline thresholds on, where d13 is the corpus-level
    * report). A passage instance counts as duplicated when its hash
    * occurs in ≥ 2 distinct documents (cross-doc; within-doc repetition
    * is t10's separate signal). Composes [[passageInstances]] verbatim.
    *
    * 100 TB shape: two hash aggregations on the uniform 128-bit passage
    * hash (the recurring-hash set and the per-doc roll-up) plus one
    * shuffled equi-join between them — the recurring set grows with the
    * corpus, so it joins as an ordinary uniform-key shuffle, never a
    * broadcast. */
  def passageDupFraction(s: SparkSession, d: String): DataFrame =
    // FOUR registered consumers per sweep (d15 itself, c04's and s20's
    // cross-modal gates, and d15's own re-runs) re-ran the full
    // passage fanout + two hash aggregations + the join each — the
    // t17/t18 memo-scope discipline applied here (optimization r20,
    // guide §1.2: compute shared relations once). Values are
    // deterministic, so the checkpoint is bit-identical to a rebuild.
    graft.api.Intermediates.memo(s, s"d15_dupfrac|$d") {
      val hs = passageInstances(s, d)
        .select(col("doc_id"), md5(col("passage").cast("binary")).as("h"))
      val multi = hs.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1L).as("__dup"))
      hs.join(multi, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_passages"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_passages"), col("n_dup"),
          round(col("n_dup") / col("n_passages"), 6).as("dup_frac"))
        .localCheckpoint()
    }.orderBy(col("doc_id"))

  /** d15's query without the final ORDER BY — reused verbatim by c04's
    * cross-modal gate oracle. */
  private[operators] val passageDupFractionInnerSql =
    s"""WITH $passageCtesSql,
       |hs AS (SELECT doc_id, md5(passage) AS h FROM ch),
       |multi AS (SELECT h FROM hs GROUP BY h
       |          HAVING count(DISTINCT doc_id) >= 2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       |  CAST(sum(CASE WHEN h IN (SELECT h FROM multi) THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_dup,
       |  round(sum(CASE WHEN h IN (SELECT h FROM multi) THEN 1 ELSE 0 END)
       |        / count(*), 6) AS dup_frac
       |FROM hs GROUP BY doc_id""".stripMargin

  private val passageDupFractionSql =
    s"$passageDupFractionInnerSql ORDER BY doc_id"

  /** Passages occurring in at least this many DISTINCT documents are
    * treated as boilerplate by d16 (headers/footers/licence blurbs in a
    * real crawl; ≥3 distinguishes shared furniture from a one-off
    * quotation, which is d12/d13's business). */
  private val BoilerplateDocs = 3

  /** d16 — boilerplate strip (the C4/CCNet line-dedup curation rule,
    * applied to the same fixed 20-token passages as d13/d15): a passage
    * whose hash appears in ≥ [[BoilerplateDocs]] distinct documents is
    * shared furniture, not content — every instance of it is removed,
    * and each document is REASSEMBLED from its surviving passages in
    * original order. d13 reports the duplication, d15 scores it per
    * doc; d16 is the transform a pipeline actually applies before
    * training. Composes [[passageInstances]] verbatim, so a slicing
    * change breaks d13/d15/d16 together.
    *
    * 100 TB shape: one uniform 128-bit-hash aggregation builds the
    * boilerplate set (grows with the corpus — joined as an ordinary
    * shuffled equi-join, never broadcast), then one per-doc aggregation
    * reassembles; the per-doc sort is bounded by document length. The
    * shuffle carries passage TEXT only on the reassembly leg, where the
    * output needs it. */
  def boilerplateStrip(s: SparkSession, d: String): DataFrame =
    boilerplateStripFrom(Tables.documents(s, d))

  /** Frame-parametric form of d16 — any (doc_id, text) relation. */
  def boilerplateStripFrom(documents: DataFrame): DataFrame = {
    val inst = passageInstancesFrom(documents)
      .select(col("doc_id"), col("pi"), col("passage"),
        md5(col("passage").cast("binary")).as("h"))
    val boiler = inst.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateDocs)
      .select(col("h"), lit(1L).as("__b"))
    inst.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__b").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__b").isNull, struct(col("pi"), col("passage"))))),
            x => x.getField("passage")),
          " ").as("stripped_text"))
      .orderBy(col("doc_id"))
  }

  private val boilerplateStripSql =
    s"""WITH $passageCtesSql,
       |hs AS (SELECT doc_id, pi, passage, md5(passage) AS h FROM ch),
       |b AS (SELECT h FROM hs GROUP BY h
       |      HAVING count(DISTINCT doc_id) >= $BoilerplateDocs)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       |  CAST(sum(CASE WHEN h IN (SELECT h FROM b) THEN 0 ELSE 1 END)
       |       AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(passage, ' ' ORDER BY pi)
       |    FILTER (WHERE h NOT IN (SELECT h FROM b)), '') AS stripped_text
       |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The (doc_id, h) passage-hash index relation over any corpus — ONE
    * builder for d17's stored artifact and the store's append path
    * ([[graft.api.DocIndexStore.Passage.appendBatch]]), so the passage
    * slicing and hashing cannot drift between build and maintenance
    * (d20/d21's shared-builder discipline at passage grain). Distinct
    * per (doc, hash): the probe's membership semantics need each
    * passage once, and carrying doc_id is what makes the artifact
    * DELETABLE — a takedown anti-joins the id out, and a passage whose
    * only holder is tombstoned leaves the membership set while one
    * also held by a survivor stays (exactly the recompute-over-
    * survivors semantics the d27 oracle checks). */
  private[graft] def passageHashIndex(docs: DataFrame): DataFrame =
    passageInstancesFrom(docs)
      .select(col("doc_id"), md5(col("passage").cast("binary")).as("h"))
      .distinct()

  /** d17's probe against an ARBITRARY (doc_id, h) index relation — ONE
    * plan for the loaded store (d17), base ∪ committed appends (d26),
    * and the tombstone-folded compacted store (d27), d21's
    * shared-probe discipline at passage grain: the incoming batch
    * slices itself, joins the index's DISTINCT hash set (membership —
    * index multiplicity must not inflate the per-doc counts), and
    * rolls up per incoming doc. Also c08/s34's passage gate
    * ([[Gates.passageHits]]): stream-legal on the increment side (the
    * distinct is the static index's), unsorted — callers sort. */
  private[graft] def probePassagesAgainst(incoming: DataFrame,
      index: DataFrame): DataFrame = {
    val known = index.select(col("h")).distinct()
      .withColumn("__known", lit(1L))
    passageInstancesFrom(incoming)
      .select(col("doc_id"), md5(col("passage").cast("binary")).as("h"))
      .join(known, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(coalesce(col("__known"), lit(0L))).as("n_known"))
      .select(col("doc_id"), col("n_passages"), col("n_known"),
        round(col("n_known") / col("n_passages"), 6).as("known_frac"))
  }

  /** d08/d17's incoming batch (odd docs plus evens < 100 re-fetched at
    * +off) — shared by d08/d17/d26/d27/d31 and their streamed twins
    * s14/s32/s39 so every state probes the identical batch. */
  private[graft] def passageIncomingBatch(docs: DataFrame, off: Long): DataFrame =
    refetchIncrement(docs, off, 100)

  /** d17 — INCREMENTAL passage dedup against the STORED corpus
    * passage-hash index (completes the incremental trio: d08 exact,
    * d11 near-dup, d17 partial/passage — "how much of this incoming
    * document is already in my corpus", the question a crawl pipeline
    * asks before d08's whole-doc test can say anything about partial
    * overlap). Scenario mirrors d08: stored corpus = even-id docs;
    * incoming batch = odd-id docs plus even docs with id < 100
    * re-fetched under fresh crawl ids. Each incoming doc reports its
    * passage count, how many of those passages the stored index already
    * holds, and the known fraction — a re-fetched doc is provably
    * known_frac = 1 (every passage of an even doc is in the index by
    * construction), which the spec pins. The index side is a
    * shipped artifact ([[graft.api.DocIndexStore.Passage]], built once
    * per session, loaded per invocation).
    *
    * 100 TB shape: batch passages ⋈ LOADED index on the uniform
    * 128-bit hash (batch ⋈ index, never corpus ⋈ corpus — d11's
    * asymmetric discipline), then one per-doc roll-up of the incoming
    * batch. The index is corpus-sized: an ordinary shuffled equi-join,
    * never a broadcast; at deployment it is bucketed by `h`, the probe
    * access key, and maintained by d26/d27's append/tombstone/compact
    * lifecycle instead of rebuilt. */
  def incrementalPassageDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    probePassagesAgainst(passageIncomingBatch(docs, off),
      pointerServed(s, DocIndexStore.Passage,
        graft.sources.TmpDirs.artifactRoot(s, d, "d17"),
        docs.filter(col("doc_id") % 2 === 0)))
      .orderBy(col("doc_id"))
  }


  /** d17's oracle with an optional extra predicate on the EXISTING
    * (index-side) corpus — "" for d17/d26 (all even docs) and the
    * survivor restriction for d27 (tombstoned sources leave the index,
    * so the oracle recomputes membership over survivors — d25's
    * discipline; no projection needed, the full pipeline is
    * SQL-expressible at passage grain). */
  private def incrementalPassageSqlWhere(extra: String): String =
    s"""WITH inc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + ${plantOffsetSql("doc_id", "documents")}, text
       |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
       |ex AS (SELECT doc_id, text FROM documents
       |       WHERE doc_id % 2 = 0 $extra),
       |${passageCtesSqlFor("ex", "_ex")},
       |${passageCtesSqlFor("inc", "_in")},
       |idx AS (SELECT DISTINCT md5(passage) AS h FROM ch_ex),
       |hs AS (SELECT doc_id, md5(passage) AS h FROM ch_in)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       |  CAST(sum(CASE WHEN h IN (SELECT h FROM idx) THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_known,
       |  round(sum(CASE WHEN h IN (SELECT h FROM idx) THEN 1 ELSE 0 END)
       |        / count(*), 6) AS known_frac
       |FROM hs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private[graft] val incrementalPassageDedupSql = incrementalPassageSqlWhere("")

  /** s39's oracle: the per-doc known-passage roll-up phase-split
    * across the mid-drain flip — phase 1 serves the FULL index (d17's
    * closed form), phase 2 the tombstone-folded one (d27/d31's
    * survivors, evens ≥ 50). */
  private[graft] val streamPassageFlipSql: String =
    "SELECT CAST(1 AS BIGINT) AS phase, * FROM (" +
      incrementalPassageSqlWhere("") + ")\nUNION ALL\n" +
      "SELECT CAST(2 AS BIGINT) AS phase, * FROM (" +
      incrementalPassageSqlWhere("AND doc_id >= 50") +
      ")\nORDER BY phase, doc_id"

  /** d26 — passage-index APPEND (d21's discipline at passage grain,
    * r15 verdict ask #1: the store must GROW without a full-corpus
    * re-tokenize): the base artifact indexes only the OLDER half of
    * the existing corpus (even ids ≥ 400); the younger half (even ids
    * < 400 — which contains EVERY planted re-fetch source, so the
    * append is load-bearing in the oracle) arrives as an append batch
    * through [[graft.api.DocIndexStore.Passage.appendBatch]] (ExportCommit
    * atomic manifest — replayed batchIds skip), and d17's incoming
    * batch probes base ∪ committedAppends through the SHARED
    * [[probePassagesAgainst]] plan. d17's oracle transfers verbatim:
    * the membership union over (base ∪ appends) equals the full even
    * index by construction (passage-hash membership has no census — a
    * hash is in the set iff some indexed doc holds it), so a lost
    * append batch, a drifted passage slice in the append path, or a
    * manifest mis-read surfaces as a known_frac drop.
    *
    * 100 TB shape: per append, the batch tokenizes ITSELF only
    * (map-only fanout + one distinct) and writes one staged parquet
    * dir; the probe plans base + committed batch dirs unioned on the
    * uniform hash key — d27's compaction folds that union away on the
    * janitor cadence ([[graft.api.CompactionPolicy]]). */
  def incrementalPassagesAppended(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d26")
    val dir = DocIndexStore.Passage.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Passage, dir,
      existing.filter(col("doc_id") >= 400), root,
      existing.filter(col("doc_id") < 400))
    probePassagesAgainst(passageIncomingBatch(docs, off),
      DocIndexStore.Passage.load(s, dir).unionByName(
        DocIndexStore.Passage.committedAppends(s, appendRoot)))
      .orderBy(col("doc_id"))
  }


  /** d27 — tombstone DELETE through the passage-hash index (d25's
    * posture at passage grain, closing the last store without a
    * takedown path: a taken-down document's passages must leave the
    * membership set, or its content keeps reporting as "already in my
    * corpus" and suppresses legitimate re-ingestion — while a passage
    * ALSO held by a surviving document must stay known): d26's base +
    * append store, a takedown of HALF the planted re-fetch sources
    * (even ids < 50) committed to the tombstone log (replay-safe), and
    * [[graft.api.DocIndexStore.Passage.compactAppends]] folding base ∪
    * appends MINUS tombstones into the new versioned artifact — the
    * probe of the LOADED COMPACTED store runs with NO tombstone
    * filter, so a fold that leaves any tombstoned doc's rows breaks
    * the hash. The oracle recomputes the membership set over SURVIVING
    * index docs (the full pipeline, not a projection): a re-fetch of a
    * tombstoned source drops to exactly the fraction of its passages
    * other survivors still hold, and sources in [50, 200) must still
    * report known_frac 1 — so over-delete and wholesale batch-drop
    * also fail (e21's selective discipline). */
  def incrementalPassagesTombstoned(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d27")
    val baseDir = DocIndexStore.Passage.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Passage, baseDir,
      existing.filter(col("doc_id") >= 400), root,
      existing.filter(col("doc_id") < 400))
    probePassagesAgainst(passageIncomingBatch(docs, off),
      foldTakedown(s, DocIndexStore.Passage, baseDir, appendRoot, root,
        existing.filter(col("doc_id") < 50).select(col("doc_id"))))
      .orderBy(col("doc_id"))
  }


  private val incrementalPassagesTombstonedSql =
    incrementalPassageSqlWhere("AND doc_id >= 50")

  /** d31 — the janitor's MAINTENANCE DAY on the passage family (e28 on
    * the IVF side, d30 on the LSH side, HERE at passage grain — the
    * composed trigger→fold→adopt→retire→serve loop hash-gated on every
    * store family): d27's exact geometry — base artifact (evens ≥
    * 400), one committed append batch (evens < 400), a takedown of
    * half the planted re-fetch sources (evens < 50) — driven by
    * [[graft.api.CompactionPolicy.due]] over the real manifests, the
    * tombstone-folding compaction, the family pointer flip (window
    * protected, history pruned to the same horizon), input retirement,
    * and the pointer-resolved probe. d27's survivor-recomputed oracle
    * transfers across the loop. */
  def passageJanitorCycle(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d31")
    val pas = DocIndexStore.Passage
    val v1 = pas.versionedDir(s"$root/base", StoreDate)
    val dir = graft.api.CompactionPolicy.maintenanceDay(s, pas, root, v1,
        pas.versionedDir(s"$root/fold", StoreDate.plusDays(1)),
        maxAppendBatches = 1, maxTombstoneBatches = 1)(
        pas.saveOnce(v1, existing.filter(col("doc_id") >= 400))) {
      (appendRoot, tombRoot) =>
        pas.appendBatch(appendRoot, existing.filter(col("doc_id") < 400), 0L)
        DocIndexStore.appendTombstones(tombRoot,
          existing.filter(col("doc_id") < 50).select(col("doc_id")), 0L)
    }
    probePassagesAgainst(passageIncomingBatch(docs, off), pas.load(s, dir))
      .orderBy(col("doc_id"))
  }

  /** Passage-hash fanout guard for d18's pair join: a passage shared by
    * more than this many distinct documents is corpus furniture
    * (d16's boilerplate business — its strip removes it anyway), not a
    * quotation, and would pair-join quadratically. The same
    * degenerate-key discipline as the LSH banded joins. */
  private[operators] val MaxRunFanoutDocs = 32L

  /** d18 — passage-RUN grain dedup (r11 verdict ask #6): maximal runs
    * of ≥ 2 CONSECUTIVE shared passages between document pairs — the
    * long-verbatim-quotation detector that containment (d12,
    * token-set) and single-passage counts (d13/d15) both blur: a
    * 40-passage verbatim block and 40 scattered shared passages look
    * identical to them, but only the block is a quotation. Composes
    * the SAME passage relation as d13/d15/d16/d17
    * ([[passageInstances]] — one slicing definition) and finds runs by
    * island detection: matched position pairs (pa, pb) lie on the
    * diagonal pa − pb, and consecutive pa's on one diagonal share
    * pa − row_number — the index-minus-rank group key. One row per
    * maximal run: (doc_a, doc_b, a_start, b_start, run_len).
    *
    * 100 TB shape: shared-instance pair join on the uniform 128-bit
    * passage hash with the [[MaxRunFanoutDocs]] degenerate-key guard
    * (quotations live in few docs; furniture is d16's job), then a
    * (doc_a, doc_b, diag)-partitioned window over per-pair matched
    * positions — bounded by the shorter doc's passage count, never
    * corpus-global. */
  def passageRuns(s: SparkSession, d: String): DataFrame = {
    val inst = passageInstances(s, d)
      .select(col("doc_id"), col("pi"),
        md5(col("passage").cast("binary")).as("h"))
    val ok = inst.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2L, MaxRunFanoutDocs))
      .select(col("h"))
    val shared = inst.join(ok, "h")
    val pairs = shared.select(col("h"), col("doc_id").as("doc_a"), col("pi").as("pa"))
      .join(shared.select(col("h"), col("doc_id").as("doc_b"), col("pi").as("pb")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    diagonalRuns(pairs, minRun = 2L)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))
  }

  /** The island kernel shared by d18 (passage grain) and d19 (char-gram
    * grain): maximal runs of CONSECUTIVE matched positions per
    * (pair, diagonal) — matched position pairs (pa, pb) lie on the
    * diagonal pa − pb, and consecutive pa's on one diagonal share
    * pa − row_number (index-minus-rank). Input: (doc_a, doc_b, pa, pb);
    * output: one row per maximal run of ≥ `minRun` matches,
    * (doc_a, doc_b, a_start, b_start, run_len), un-ordered (callers
    * pin their own output order). The window partitions by
    * (pair, diagonal) — bounded by the shorter doc's position count,
    * never corpus-global. */
  private[graft] def diagonalRuns(matches: DataFrame, minRun: Long): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("run_len"))
  }

  private val passageRunsSql =
    s"""WITH $passageCtesSql,
       |inst AS (SELECT doc_id, pi, md5(passage) AS h FROM ch),
       |ok AS (SELECT h FROM inst GROUP BY h
       |       HAVING count(DISTINCT doc_id) BETWEEN 2 AND $MaxRunFanoutDocs),
       |sh AS (SELECT i.doc_id, i.pi, i.h FROM inst i JOIN ok USING (h)),
       |pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         x.pi AS pa, y.pi AS pb
       |       FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id),
       |g AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |                                ORDER BY pa) AS grp
       |      FROM pr)
       |SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_start,
       |  CAST(min(pb) AS BIGINT) AS b_start,
       |  CAST(count(*) AS BIGINT) AS run_len
       |FROM g GROUP BY doc_a, doc_b, diag, grp
       |HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  /** d19 candidate threshold: pairs must share this many distinct
    * (fanout-guarded) fingerprints before the exact verification pass
    * looks at them. Winnowing picks ≥ 1 position per w-gram window, so
    * a shared span of L chars yields ~(L−k+1)/w selections — ≥ 4
    * distinct shared fingerprints corresponds to a span on the order
    * of MinRunGrams, modulo distinct-hash collapse. */
  private[graft] val MinSharedFingerprints = 4L

  /** d19 verification threshold: a reported run must cover ≥ this many
    * consecutive matched gram positions ⇒ a verbatim shared substring
    * of ≥ MinRunGrams + k − 1 = 20 chars. */
  private val MinRunGrams = 16L

  /** d19 — cross-doc WINNOWING-fingerprint dedup, the MOSS composition
    * (r12 verdict ask #3): fingerprint match → candidate pairs → exact
    * run verification, catching verbatim reuse at SUBSTRING grain that
    * passage boundaries blur (d18 sees 20-token passages; a quotation
    * starting mid-passage straddles two passage hashes and vanishes —
    * at char grain it is one diagonal run).
    *
    * Stage 1 (candidates) runs on t08's fingerprint relation
    * ([[TextOps.winnowFrom]] — the codegen'd kernel, ~1/w of the gram
    * stream): fingerprints shared by 2..[[MaxRunFanoutDocs]] docs
    * (d18's furniture guard — a fingerprint in more docs is corpus
    * boilerplate, d16's business, and would pair-join quadratically;
    * on THIS tiny-vocabulary synthetic corpus most shared substrings
    * are genuinely furniture, so the row thins honestly as SF grows),
    * pair-joined and kept at ≥ [[MinSharedFingerprints]] shared
    * fingerprints.
    *
    * Stage 2 (verification) is EXACT, not approximate: candidate pairs
    * only are joined on [[TextOps.gramHashes]] — the same injective
    * gram hash the kernel selects minima from, at every position, so
    * hash equality is substring equality — and [[diagonalRuns]] (d18's
    * island kernel, shared verbatim) extracts maximal consecutive
    * matched-position runs ≥ [[MinRunGrams]]. Winnowing's guarantee
    * (any shared span ≥ w+k−1 chars shares a fingerprint — Schleimer
    * et al. 2003) makes stage 1 a superset of every pair stage 2 could
    * report at these thresholds; the planted-quotation differential in
    * PassageRunsSpec pins recall end-to-end.
    *
    * Emits one row per verified maximal run:
    * (doc_a, doc_b, a_pos, b_pos, run_len, match_len = run_len + k − 1
    * shared chars).
    *
    * 100 TB shape: candidates come from the fingerprint index (w×
    * smaller than the gram stream) under the same degenerate-key
    * guard as every banded join; the corpus-scale gram relation is
    * joined ONLY scoped to candidate pairs (first on doc_a — a
    * candidate-docs semi-join in effect — then on (doc_b, h), both
    * uniform keys); the island window partitions per (pair, diagonal).
    * Nothing global ever self-joins at gram grain. */
  def winnowRunDedup(s: SparkSession, d: String): DataFrame =
    winnowRunDedupFrom(Tables.documents(s, d)
      .select(col("doc_id"), col("text")))

  /** d19's full MOSS pipeline over ANY (doc_id, text) relation — shared
    * verbatim by d19 (the corpus) and d23 (the corpus ∪ planted
    * quotation docs), so the planted row runs the identical plan. */
  private def winnowRunDedupFrom(documents: DataFrame): DataFrame = {
    // The fingerprint INDEX is materialized once (localCheckpoint) —
    // the deployment posture: t08's output is a stored index table
    // (d11's discipline), and this plan reads it twice (fanout census
    // + shared-instance join). Un-materialized, Catalyst re-runs the
    // 80-regex clean chain + winnow kernel once per branch — measured
    // 4x the corpus clean cost and ~10s/query at sf0.1 for a plan
    // whose joins are kilobytes.
    val fps = TextOps.winnowFrom(documents).localCheckpoint()
    val ok = fps.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2L, MaxRunFanoutDocs))
      .select(col("fp"))
    val sh = fps.join(ok, "fp")
    val cand = sh.select(col("fp"), col("doc_id").as("doc_a"))
      .join(sh.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("nsh"))
      .filter(col("nsh") >= MinSharedFingerprints)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    // Verification grams for CANDIDATE DOCS ONLY, computed once: the
    // semi-join runs BEFORE the clean+explode chain (the corpus-scale
    // gram stream is never materialized — MOSS's whole point), and the
    // bounded candidate-doc gram relation is checkpointed so the
    // self-join's two sides share one computation.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val candGrams = TextOps.gramHashes(
        documents.join(candDocs, Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    val matches = cand
      .join(candGrams.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("h")), Seq("doc_a"))
      .join(candGrams.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("h")), Seq("doc_b", "h"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    diagonalRuns(matches, MinRunGrams)
      .select(col("doc_a"), col("doc_b"), col("a_start").as("a_pos"),
        col("b_start").as("b_pos"), col("run_len"),
        (col("run_len") + lit(TextOps.WinnowK - 1)).as("match_len"))
      .orderBy(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"))
  }

  /** The d19/d23 oracle TAIL over the winnow CTEs' `fps`/`h` names —
    * candidate census, pair join, exact verification, island roll-up.
    * One definition; d19 anchors it on `documents`, d23 on the planted
    * union relation. */
  private val winnowRunTailSql =
    s"""wok AS (SELECT fp FROM fps GROUP BY fp
       |        HAVING count(DISTINCT doc_id) BETWEEN 2 AND $MaxRunFanoutDocs),
       |wsh AS (SELECT f.doc_id, f.fp FROM fps f JOIN wok USING (fp)),
       |wcand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM wsh x JOIN wsh y
       |            ON x.fp = y.fp AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2
       |          HAVING count(*) >= $MinSharedFingerprints),
       |wma AS (SELECT cd.doc_a, cd.doc_b, x.pos AS pa, y.pos AS pb
       |        FROM wcand cd
       |        JOIN h x ON x.doc_id = cd.doc_a
       |        JOIN h y ON y.doc_id = cd.doc_b AND y.h = x.h),
       |wg AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |                                 ORDER BY pa) AS grp
       |       FROM wma)
       |SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_pos,
       |  CAST(min(pb) AS BIGINT) AS b_pos,
       |  CAST(count(*) AS BIGINT) AS run_len,
       |  CAST(count(*) + ${TextOps.WinnowK - 1} AS BIGINT) AS match_len
       |FROM wg GROUP BY doc_a, doc_b, diag, grp
       |HAVING count(*) >= $MinRunGrams
       |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin

  private val winnowRunDedupSql =
    s"""WITH ${TextOps.winnowCtesSql},
       |$winnowRunTailSql""".stripMargin

  // ----- Planted verbatim quotations (r14 verdict items 5/7 — t23's
  // planted discipline for the winnow family): the shipped corpus's
  // shared substrings are almost all furniture under the 32-doc fanout
  // guard, so d19 honestly reported ~0 rows at sf0.1 and the
  // interesting regime lived only in spec fixtures. These three
  // deterministic docs carry two long nonsense-word quotations —
  // grams unique to the planted docs, so the fanout guard passes them
  // at every SF — with doc 0 quoting BOTH (the archive side for d24)
  // and docs 1/2 each re-using one at a different offset (non-zero
  // diagonals). Lowercase [a-z ]-only text: the clean chain is the
  // identity on it, so the planted runs' offsets are stable. ONE
  // definition feeds the Scala relations and the oracles' literals. -----

  private val WinnowQuote1 =
    "zorvik blenqua xuvtrip mordexi kwalzen frobnir yelquat spandrix " +
      "uvolmer tragvix bolquen drizmat"
  private val WinnowQuote2 =
    "plimvor daxuche wrenzik boldgra quvenix marplod zynthra kelvout " +
      "isprang nuvekta ozmirel vashtog"

  private[graft] val PlantedQuoteDocs: Seq[(Long, String)] = Seq(
    (0L, s"archive prologue begins $WinnowQuote1 archive interlude " +
      s"continues $WinnowQuote2 archive epilogue ends"),
    (1L, s"second document opens $WinnowQuote1 second document closes"),
    (2L, s"third document starts $WinnowQuote2 third document stops"))

  /** The planted docs as a SQL literal union arm at plantOffset ids. */
  private def plantedQuoteDocsSql: String =
    PlantedQuoteDocs.map { case (i, t) =>
      s"SELECT $i + ${plantOffsetSql("doc_id", "documents")} AS doc_id, " +
        s"'$t' AS text"
    }.mkString("\n  UNION ALL ")

  /** d23 — d19's winnow-run dedup over the corpus ∪ the planted
    * quotation docs (r14 verdict item 7: make the winnow family's
    * interesting regime OBSERVABLE on shipped runs, not just in spec
    * fixtures): the SAME [[winnowRunDedupFrom]] plan, with the three
    * [[PlantedQuoteDocs]] unioned in-query at plantOffset ids. The
    * emitted relation now provably contains ≥ 2 verified cross-doc
    * runs at every SF — doc 0's two quotations re-appear in docs 1 and
    * 2 at different offsets (non-zero diagonals) — alongside whatever
    * organic runs the corpus yields; the oracle reproduces the whole
    * pipeline relationally over the identical union. */
  def winnowPlantedDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val planted = PlantedQuoteDocs.map { case (i, t) => (off + i, t) }
      .toDF("doc_id", "text")
    winnowRunDedupFrom(docs.unionByName(planted))
  }

  private val winnowPlantedDedupSql =
    s"""WITH d23 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL ${plantedQuoteDocsSql}),
       |${TextOps.winnowCtesSqlFor("d23", "")},
       |$winnowRunTailSql""".stripMargin

  /** The archive's PRUNED fingerprint index over any (doc_id, text)
    * relation — t08's winnow relation under d18's fanout guard, applied
    * ONCE at build time (a stored index caps its degenerate keys once,
    * not per probe — d11's discipline; singleton fingerprints STAY,
    * they match future probes). The store shape d24 persists. */
  /** Global fanout census over any (doc_id, fp) relation: fps held by
    * more than [[MaxRunFanoutDocs]] distinct docs are dropped. Shared
    * by the index BUILD and the compaction FOLD (the re-census over
    * base ∪ appends — the only stage that sees all rows again, so fps
    * that grew degenerate ACROSS increments retire there; per-batch
    * appends can only census themselves — [[pruneBands]]'s discipline
    * at fingerprint grain). */
  private[graft] def pruneFingerprints(fps: DataFrame): DataFrame = {
    val ok = fps.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") <= MaxRunFanoutDocs)
      .select(col("fp"))
    fps.join(ok, "fp").select(col("doc_id"), col("fp"))
  }

  private[graft] def prunedFingerprintIndex(docs: DataFrame): DataFrame =
    pruneFingerprints(TextOps.winnowFrom(docs))

  /** d24 — incremental SUBSTRING-grain dedup against a STORED winnowing
    * fingerprint index (r14 verdict item 5 — the MOSS "check new
    * submissions against the archive" shape, completing the incremental
    * grain set: exact d08, near-dup d11/d20/d21/d22/s27, passage d17,
    * embedding e15/s26/s28): the archive (corpus ∪ the two-quotation
    * doc 0) persists its pruned fingerprint index through
    * [[graft.api.DocIndexStore.Winnow]]; the incoming batch (docs 1/2, each
    * quoting the archived doc) fingerprints itself, probes the LOADED
    * index on the fingerprint key, pairs at ≥
    * [[MinSharedFingerprints]] shared fingerprints, and candidates are
    * verified EXACTLY — archive-side grams scoped to candidate docs
    * only (the corpus-scale gram stream is never materialized),
    * incoming grams batch-sized, runs ≥ [[MinRunGrams]] through the
    * shared [[diagonalRuns]] island kernel. Winnowing's guarantee makes
    * the probe a superset of every verifiable pair; the oracle
    * reproduces the full two-relation pipeline.
    *
    * 100 TB shape: the index probe is batch ⋈ stored-index on the
    * uniform fingerprint key (never corpus ⋈ corpus); verification
    * joins gram streams scoped per candidate pair; the archive is
    * re-fingerprinted never, probed always — d11's asymmetry at
    * substring grain. */
  /** d24's probe + exact-verification tail against an ARBITRARY
    * (doc_id, fp) index relation — ONE plan for the loaded store (d24),
    * base ∪ committed appends (d28), and the tombstone-folded compacted
    * store (d29), d21's shared-probe discipline at substring grain.
    * `archive` is the (doc_id, text) relation the verification pass
    * reads candidate-doc grams from (semi-join scoped — candidates can
    * only name docs the index holds, so passing the survivors-only
    * relation in d29 is complete). */
  private[graft] def winnowProbeAgainst(archive: DataFrame,
      incoming: DataFrame, index: DataFrame): DataFrame = {
    val inFps = TextOps.winnowFrom(incoming)
    val cand = index.select(col("fp"), col("doc_id").as("doc_a"))
      .join(inFps.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("nsh"))
      .filter(col("nsh") >= MinSharedFingerprints)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val candArchiveDocs = cand.select(col("doc_a").as("doc_id")).distinct()
    val aGrams = TextOps.gramHashes(
        archive.join(candArchiveDocs, Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    val bGrams = TextOps.gramHashes(incoming)
    val matches = cand
      .join(aGrams.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("h")), Seq("doc_a"))
      .join(bGrams.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("h")), Seq("doc_b", "h"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    diagonalRuns(matches, MinRunGrams)
      .select(col("doc_a"), col("doc_b"), col("a_start").as("a_pos"),
        col("b_start").as("b_pos"), col("run_len"),
        (col("run_len") + lit(TextOps.WinnowK - 1)).as("match_len"))
      .orderBy(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"))
  }

  /** The winnow maintenance rows' shared relations: (incoming batch at
    * plantOffset ids, the offset). Incoming is always docs 1/2 — each
    * quoting one archived planted doc. */
  private[graft] def winnowIncoming(s: SparkSession, docs: DataFrame, off: Long)
      : DataFrame = {
    import s.implicits._
    PlantedQuoteDocs.drop(1).map { case (i, t) => (off + i, t) }
      .toDF("doc_id", "text")
  }

  def winnowStoredProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val archive = docs.unionByName(
      PlantedQuoteDocs.take(1).map { case (i, t) => (off + i, t) }
        .toDF("doc_id", "text"))
    winnowProbeAgainst(archive, winnowIncoming(s, docs, off),
      pointerServed(s, DocIndexStore.Winnow,
        graft.sources.TmpDirs.artifactRoot(s, d, "d24"), archive))
  }


  /** The d24-family oracle over an ARBITRARY planted-archive-doc set —
    * the full two-relation pipeline (census → fp probe → exact gram
    * verification), shared by d24/d28 (doc 0 archived) and d29 (the
    * post-takedown survivors: doc 3 only), so the stored, appended,
    * and tombstone-folded serve states answer to ONE SQL body. */
  private def winnowStoredSqlFor(archPlanted: Seq[(Long, String)]): String = {
    val archSql =
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL ${archPlanted.map { case (i, t) =>
            s"SELECT $i + ${plantOffsetSql("doc_id", "documents")} " +
              s"AS doc_id, '$t' AS text" }.mkString("\n  UNION ALL ")}""".stripMargin
    val incSql = PlantedQuoteDocs.drop(1).map { case (i, t) =>
      s"SELECT $i + ${plantOffsetSql("doc_id", "documents")} AS doc_id, " +
        s"'$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH arch AS ($archSql),
       |inc AS ($incSql),
       |${TextOps.winnowCtesSqlFor("arch", "_ar")},
       |${TextOps.winnowCtesSqlFor("inc", "_in")},
       |wok AS (SELECT fp FROM fps_ar GROUP BY fp
       |        HAVING count(DISTINCT doc_id) <= $MaxRunFanoutDocs),
       |widx AS (SELECT f.doc_id, f.fp FROM fps_ar f JOIN wok USING (fp)),
       |wcand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM widx x JOIN fps_in y ON x.fp = y.fp
       |          GROUP BY 1, 2
       |          HAVING count(*) >= $MinSharedFingerprints),
       |wma AS (SELECT cd.doc_a, cd.doc_b, x.pos AS pa, y.pos AS pb
       |        FROM wcand cd
       |        JOIN h_ar x ON x.doc_id = cd.doc_a
       |        JOIN h_in y ON y.doc_id = cd.doc_b AND y.h = x.h),
       |wg AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |                                 ORDER BY pa) AS grp
       |       FROM wma)
       |SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS a_pos,
       |  CAST(min(pb) AS BIGINT) AS b_pos,
       |  CAST(count(*) AS BIGINT) AS run_len,
       |  CAST(count(*) + ${TextOps.WinnowK - 1} AS BIGINT) AS match_len
       |FROM wg GROUP BY doc_a, doc_b, diag, grp
       |HAVING count(*) >= $MinRunGrams
       |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin
  }

  private val winnowStoredProbeSql =
    winnowStoredSqlFor(PlantedQuoteDocs.take(1))

  /** The d29 takedown scenario's SECOND archive-side quotation source
    * (planted at off + 3): it re-uses [[WinnowQuote2]] in its own frame,
    * so after doc 0's takedown the quote still has a surviving archive
    * holder — the survivor whose continued verification makes the d29
    * oracle SELECTIVE (a wholesale drop loses this doc's runs too). */
  private[graft] val PlantedQuoteArchiveDoc: Seq[(Long, String)] =
    Seq((3L, s"fourth fragment keeps $WinnowQuote2 fourth fragment rests"))

  /** d28 — winnow-index APPEND (d21's discipline at substring grain,
    * r15 verdict ask #2: the one store that missed the r15 maintenance
    * sweep could not GROW — an archive that forces a full corpus
    * refingerprint per crawl): the base artifact indexes the corpus
    * ONLY; the two-quotation archive doc 0 arrives as an append batch
    * through [[graft.api.DocIndexStore.Winnow.appendBatch]] (ExportCommit
    * atomic manifest — replayed batchIds skip), and d24's incoming
    * batch (docs 1/2, each quoting doc 0) probes base ∪
    * committedAppends through the SHARED [[winnowProbeAgainst]] plan.
    * The append is 100% load-bearing: every emitted row names doc 0 as
    * its archive side (the quotes are nonsense grams — corpus docs
    * cannot verify a ≥ [[MinRunGrams]]-gram run against them, d23's
    * established regime), so a lost append batch, a drifted winnow
    * selection in the append path, or a manifest mis-read empties the
    * result. d24's oracle transfers verbatim: per-batch vs global
    * census can differ only on corpus-furniture fps near the fanout
    * cap, which cannot mint a VERIFIED run (the emitted relation is
    * the exact-verification output, not the candidate set).
    *
    * 100 TB shape: per append, the batch fingerprints ITSELF only
    * (~1/w of its gram stream) and writes one staged parquet dir; the
    * probe plans base + committed batch dirs unioned on the uniform fp
    * key — d29's compaction folds that union away on the janitor
    * cadence with the census RE-RUN over the union. */
  def winnowAppendedProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val doc0 = PlantedQuoteDocs.take(1)
      .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text")
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d28")
    val dir = DocIndexStore.Winnow.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Winnow, dir, docs, root, doc0)
    winnowProbeAgainst(docs.unionByName(doc0), winnowIncoming(s, docs, off),
      DocIndexStore.Winnow.load(s, dir).unionByName(
        DocIndexStore.Winnow.committedAppends(s, appendRoot)))
  }


  /** d29 — tombstone DELETE through the winnow-fingerprint index
    * (d25's posture at substring grain: a taken-down document's
    * fingerprints must leave the archive, or its content keeps
    * matching future submissions and the deleted text resurfaces
    * through plagiarism-review queues — while a quotation ALSO held by
    * a surviving archive doc must keep verifying): the corpus base +
    * an append batch carrying BOTH archive-side quotation sources
    * (doc 0 with both quotes, doc 3 re-using quote 2), a takedown of
    * HALF the sources (doc 0) committed to the tombstone log
    * (replay-safe), and [[graft.api.DocIndexStore.Winnow.compactAppends]]
    * folding base ∪ appends MINUS tombstones into the new versioned
    * artifact with the fanout census RE-RUN over the union — the probe
    * of the LOADED COMPACTED store runs with NO tombstone filter.
    * Expected relation (closed form through the planted geometry):
    * doc 1's quote-1 runs vanish with doc 0 (its only archive holder);
    * doc 2's quote-2 runs survive through doc 3 — so an ignored
    * tombstone resurfaces doc 0 rows, an over-delete/wholesale drop
    * loses the doc 3 rows, and each breaks the hash. The oracle is the
    * SAME d24 pipeline with the archive's planted set = the survivors
    * (doc 3 only). */
  def winnowTombstonedProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val planted = (PlantedQuoteDocs.take(1) ++ PlantedQuoteArchiveDoc)
      .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text")
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d29")
    val baseDir = DocIndexStore.Winnow.versionedDir(s"$root/base", StoreDate)
    val appendRoot = baseAndAppend(DocIndexStore.Winnow, baseDir, docs, root,
      planted)
    // survivors-only archive: candidates can only name index docs
    val survivors = docs.unionByName(PlantedQuoteArchiveDoc
      .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text"))
    winnowProbeAgainst(survivors, winnowIncoming(s, docs, off),
      foldTakedown(s, DocIndexStore.Winnow, baseDir, appendRoot, root,
        Seq(off + 0L).toDF("doc_id")))
  }


  private val winnowTombstonedProbeSql =
    winnowStoredSqlFor(PlantedQuoteArchiveDoc)

  /** s40's oracle: the verified-run relation phase-split across the
    * mid-drain flip — phase 1 serves the index holding BOTH archived
    * quotation sources (doc 0 and the d29 survivor), phase 2 the
    * tombstone-folded one (doc 0 taken down; d29/d32's survivors). */
  private[graft] val streamWinnowFlipSql: String =
    "SELECT CAST(1 AS BIGINT) AS phase, * FROM (" +
      winnowStoredSqlFor(PlantedQuoteDocs.take(1) ++ PlantedQuoteArchiveDoc) +
      ")\nUNION ALL\n" +
      "SELECT CAST(2 AS BIGINT) AS phase, * FROM (" +
      winnowStoredSqlFor(PlantedQuoteArchiveDoc) +
      ")\nORDER BY phase, doc_a, doc_b, a_pos, b_pos"

  /** d32 — the janitor's MAINTENANCE DAY on the winnow family (the
    * fourth and last store family: e28 IVF, d30 LSH, d31 passage,
    * HERE substring grain — the maintenance loop is now hash-gated on
    * EVERY store the engine ships): d29's exact geometry — corpus base
    * artifact, one append batch carrying both archive-side quotation
    * sources, a takedown of doc 0 — driven by the operational
    * machinery (trigger over the real manifests, the census-re-running
    * tombstone fold, the pointer flip with the window protected and
    * the history pruned, input retirement, pointer-resolved probe).
    * d29's survivors-only closed form transfers: quote-1 dies with its
    * only holder, quote-2 survives through doc 3. */
  def winnowJanitorCycle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = plantOffset(maxIdOf(docs, "doc_id"))
    val planted = (PlantedQuoteDocs.take(1) ++ PlantedQuoteArchiveDoc)
      .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text")
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "d32")
    val win = DocIndexStore.Winnow
    val v1 = win.versionedDir(s"$root/base", StoreDate)
    val dir = graft.api.CompactionPolicy.maintenanceDay(s, win, root, v1,
        win.versionedDir(s"$root/fold", StoreDate.plusDays(1)),
        maxAppendBatches = 1, maxTombstoneBatches = 1)(
        win.saveOnce(v1, docs)) {
      (appendRoot, tombRoot) =>
        win.appendBatch(appendRoot, planted, 0L)
        DocIndexStore.appendTombstones(tombRoot,
          Seq(off + 0L).toDF("doc_id"), 0L)
    }
    // survivors-only archive: candidates can only name index docs
    val survivors = docs.unionByName(PlantedQuoteArchiveDoc
      .map { case (i, t) => (off + i, t) }.toDF("doc_id", "text"))
    winnowProbeAgainst(survivors, winnowIncoming(s, docs, off),
      win.load(s, dir))
  }


  /** The s33 oracle: d24's CANDIDATE GATE relation — the (archive doc,
    * incoming doc, shared-fingerprint count) queue the screening stage
    * hands the exact verifier, over the same arch/inc/census CTEs as
    * the stored-probe oracle (one slicing definition; a census or
    * selection drift breaks both rows together). */
  private[graft] val winnowStreamGateSql = {
    val archSql =
      s"""SELECT doc_id, text FROM documents
         |  UNION ALL ${PlantedQuoteDocs.take(1).map { case (i, t) =>
            s"SELECT $i + ${plantOffsetSql("doc_id", "documents")} " +
              s"AS doc_id, '$t' AS text" }.mkString}""".stripMargin
    val incSql = PlantedQuoteDocs.drop(1).map { case (i, t) =>
      s"SELECT $i + ${plantOffsetSql("doc_id", "documents")} AS doc_id, " +
        s"'$t' AS text"
    }.mkString("\n  UNION ALL ")
    s"""WITH arch AS ($archSql),
       |inc AS ($incSql),
       |${TextOps.winnowCtesSqlFor("arch", "_ar")},
       |${TextOps.winnowCtesSqlFor("inc", "_in")},
       |wok AS (SELECT fp FROM fps_ar GROUP BY fp
       |        HAVING count(DISTINCT doc_id) <= $MaxRunFanoutDocs),
       |widx AS (SELECT f.doc_id, f.fp FROM fps_ar f JOIN wok USING (fp))
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS nsh
       |FROM widx x JOIN fps_in y ON x.fp = y.fp
       |GROUP BY 1, 2
       |HAVING count(*) >= $MinSharedFingerprints
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("d01_exact_dedup", exactDedup, Some(exactDedupSql)),
    QueryDef("d02_jaccard_pairs", jaccardPairs, Some(jaccardPairsSql)),
    QueryDef("d03_minhash_candidates", minhashCandidateBound,
      Some(minhashCandidateBoundSql)),
    QueryDef("d04_simhash", simhashBound, Some(simhashBoundSql)),
    QueryDef("d05_lsh_planted_recall", lshPlantedRecall, Some(lshPlantedRecallSql)),
    QueryDef("d06_simhash_planted_recall", simhashPlantedRecall,
      Some(simhashPlantedRecallSql)),
    QueryDef("d08_incremental_dedup", incrementalDedup,
      Some(incrementalDedupSql)),
    QueryDef("d09_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("d11_incremental_neardup", incrementalNeardup,
      Some(incrementalNeardupSql)),
    // d20 probes the LOADED store with d11's scenario — the planted
    // oracle transfers verbatim (see d20 doc)
    QueryDef("d20_stored_neardup", incrementalNeardupStored,
      Some(incrementalNeardupSql)),
    // d21/d22 probe base ∪ appended and the compacted store with d11's
    // scenario — the planted oracle transfers verbatim (see docs)
    QueryDef("d21_lsh_append", incrementalNeardupAppended,
      Some(incrementalNeardupSql)),
    QueryDef("d22_lsh_compact", incrementalNeardupCompacted,
      Some(incrementalNeardupSql)),
    // d25 probes the compacted store AFTER a takedown of half the
    // planted sources — d11's oracle restricted to survivors
    // d30 runs the WHOLE maintenance day on the LSH family (e28's loop
    // on the doc key space) — d25's selective closed form transfers
    QueryDef("d30_lsh_janitor_cycle", lshJanitorCycle,
      Some(incrementalNeardupTombstonedSql)),
    QueryDef("d25_lsh_tombstone", incrementalNeardupTombstoned,
      Some(incrementalNeardupTombstonedSql)),
    QueryDef("d13_passage_dedup", passageDedup, Some(passageDedupSql)),
    QueryDef("d15_passage_dup_fraction", passageDupFraction,
      Some(passageDupFractionSql)),
    QueryDef("d12_containment_pairs", containmentPairs,
      Some(containmentPairsSql)),
    QueryDef("d14_minhash_estimate", minhashEstimateBound,
      Some(minhashEstimateSql)),
    QueryDef("d16_boilerplate_strip", boilerplateStrip,
      Some(boilerplateStripSql)),
    QueryDef("d17_incremental_passages", incrementalPassageDedup,
      Some(incrementalPassageDedupSql)),
    // d26 probes base ∪ appended with d17's scenario — the oracle
    // transfers verbatim (membership union = full index; see d26 doc)
    QueryDef("d26_passage_append", incrementalPassagesAppended,
      Some(incrementalPassageDedupSql)),
    // d27 probes the compacted store AFTER a takedown of half the
    // planted re-fetch sources — d17's oracle recomputed over survivors
    QueryDef("d27_passage_tombstone", incrementalPassagesTombstoned,
      Some(incrementalPassagesTombstonedSql)),
    QueryDef("d18_passage_runs", passageRuns, Some(passageRunsSql)),
    QueryDef("d19_winnow_run_dedup", winnowRunDedup, Some(winnowRunDedupSql)),
    QueryDef("d23_winnow_planted", winnowPlantedDedup,
      Some(winnowPlantedDedupSql)),
    QueryDef("d24_winnow_stored", winnowStoredProbe,
      Some(winnowStoredProbeSql)),
    // d28 probes base ∪ appended with d24's scenario — the oracle
    // transfers verbatim (the append carries the only archive doc a
    // verified run can name; see d28 doc)
    QueryDef("d28_winnow_append", winnowAppendedProbe,
      Some(winnowStoredProbeSql)),
    // d29 probes the compacted store AFTER a takedown of half the
    // archive quotation sources — d24's oracle over the survivors
    QueryDef("d29_winnow_tombstone", winnowTombstonedProbe,
      Some(winnowTombstonedProbeSql)),
    // d31/d32 run the WHOLE maintenance day on the passage and winnow
    // families — the loop is now hash-gated on all four stores
    QueryDef("d31_passage_janitor_cycle", passageJanitorCycle,
      Some(incrementalPassagesTombstonedSql)),
    QueryDef("d32_winnow_janitor_cycle", winnowJanitorCycle,
      Some(winnowTombstonedProbeSql)))
}
