package graft.operators

import graft.QueryDef
import graft.expressions.VectorExpressions.{arrayDot, arrayMaxAbs, arrayNorm, arrayQuantError, fastCosine}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (`ARRAY<FLOAT>` columns) —
  * training-data-pipeline extension: brute-force cosine top-k as the
  * verifiable baseline, random-hyperplane LSH bucketing as the 100 TB
  * scale path (candidate generation becomes an equi-join on bucket ids
  * instead of an n² cross join).
  *
  * Vector math runs through the codegen'd kernels in
  * [[graft.expressions.VectorExpressions]] (double-cast elements,
  * sequential sum) — identical IEEE operation order to the DuckDB
  * oracle's unnest-and-sum, so rounded results hash-match.
  */
object EmbeddingOps {

  /** Brute-force cosine top-20 against a fixed query vector (vec_id 0).
    * One broadcast of the query row; the scan side streams — at cluster
    * scale this is a map-only pass. */
  def knnBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(fastCosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  private val knnBruteForceSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |z AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |      FROM embeddings e, q WHERE e.vec_id <> 0),
      |s AS (SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS nx, sqrt(sum(y*y)) AS ny
      |      FROM z GROUP BY vec_id)
      |SELECT vec_id, round(dot / (nx * ny), 6) AS cos_sim FROM s
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /** All-pairs cosine similarity above a threshold (embedding near-dup
    * detection, exact form). All-pairs is O(n²) by construction — the
    * verification window is capped to vec_id < 1000 (same cap in the
    * oracle) so the operator stays exact but bounded at every SF;
    * [[annLshCandidates]] is the scale path. */
  /** e02's pair generation at an arbitrary threshold — shared by e02
    * (0.3, the report form) and e08 (0.4, the collapse edges). */
  private[graft] def similarPairsAt(s: SparkSession, d: String,
                             threshold: Double): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .filter(col("vec_id") < VerifyWindow.MaxId)
      .select(col("vec_id"), col("embedding"), arrayNorm(col("embedding")).as("nrm"))
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(arrayDot(col("a_emb"), col("b_emb")) /
          nullif(col("a_nrm") * col("b_nrm"), lit(0.0)), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** The ≥ 0.3 window pair relation, memoized per dataset: e02 reports
    * it, e08 derives its ≥ 0.4 edges from it (rounded cosines, so the
    * subset filter is exact), and e04's bound contract grades the LSH
    * candidate set against it — one all-pairs window pass per sweep for
    * three consumers, the windowTokenPairs posture. */
  private def windowSimilarPairs(s: SparkSession, d: String): DataFrame =
    graft.api.Intermediates.memo(s, s"simpairs03|$d") {
      similarPairsAt(s, d, 0.3).localCheckpoint()
    }

  def similarPairs(s: SparkSession, d: String): DataFrame =
    windowSimilarPairs(s, d)
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))

  /** The matching DuckDB CTE pair (p, s) plus a threshold select —
    * e08's recursive oracle embeds the same text. */
  private def similarCtesSql(threshold: Double): String =
    s"""p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id < ${VerifyWindow.MaxId} AND b.vec_id < ${VerifyWindow.MaxId}),
      |s AS (SELECT a_id, b_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS na, sqrt(sum(y*y)) AS nb
      |      FROM p GROUP BY a_id, b_id),
      |pr AS (SELECT a_id, b_id, round(dot / (na * nb), 6) AS cos_sim FROM s
      |       WHERE round(dot / (na * nb), 6) >= $threshold)""".stripMargin

  private val similarPairsSql =
    s"""WITH ${similarCtesSql(0.3)}
      |SELECT a_id, b_id, cos_sim FROM pr
      |ORDER BY cos_sim DESC, a_id, b_id""".stripMargin

  /** e08 — embedding near-dup collapse (the e-modality mirror of d07):
    * connected components over the ≥ 0.4 cosine pair graph, one kept
    * representative per component. Same hash-min label propagation —
    * O(diameter) rounds, frontier checkpointed — with the recursive-CTE
    * fixpoint oracle over the identical pair definition. At 100 TB the
    * edges come from the ANN path (e04/e05) instead of the capped
    * all-pairs window; the collapse stage is unchanged. */
  def neardupEmbeddings(s: SparkSession, d: String): DataFrame = {
    // Intermediates-memoized like d07's label pass: the all-pairs edge
    // generation + propagation rounds build once per dataset per session
    val labels = graft.api.Intermediates.memo(s, s"embedding-components|$d") {
      // ≥ 0.4 edges are a rounded-cosine subset of the shared ≥ 0.3
      // window relation — filter the memoized build instead of paying a
      // second all-pairs pass
      val edges = windowSimilarPairs(s, d).filter(col("cos_sim") >= 0.4)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val nodes = Tables.embeddings(s, d)
        .filter(col("vec_id") < VerifyWindow.MaxId)
        .select(col("vec_id").as("id"))
      // explicit structural round cap (node count bounds the diameter):
      // skips the default cap's labels.count() action per collapse
      GraphOps.connectedComponents(nodes, edges,
        maxRounds = VerifyWindow.CcMaxRounds)
    }
    labels
      .select(col("id").as("vec_id"), col("component"),
        (col("id") === col("component")).cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  private val neardupEmbeddingsSql =
    s"""WITH RECURSIVE ${similarCtesSql(0.4)},
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pr
      |          UNION SELECT b_id, a_id FROM pr),
      |nodes AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < ${VerifyWindow.MaxId}),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
      |SELECT id AS vec_id, min(r) AS component,
      |  CAST(id = min(r) AS INTEGER) AS keep
      |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** Per-label centroid: posexplode → groupBy(label, pos) avg → re-reduce
    * to the centroid L2 norm (vector aggregation without densifying). */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")))
      .select(col("label"), col("vec_id"), col("pos"), col("col").cast("double").as("x"))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"),
        max(col("n")).as("n_vecs"))
      .orderBy(col("label"))

  private val labelCentroidsSql =
    """WITH z AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
      |                  unnest(embedding)::DOUBLE AS x
      |           FROM embeddings),
      |m AS (SELECT label, pos, avg(x) AS m, count(*) AS n FROM z GROUP BY label, pos)
      |SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm,
      |       CAST(max(n) AS BIGINT) AS n_vecs
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  /** LSH banding shape: `LshBands` independent bands of `LshPlanesPerBand`
    * random hyperplanes each. Multiple bands trade precision for recall
    * (a pair is a candidate if ANY band bucket matches) — single-band LSH
    * has unknown recall, the standard multi-band construction bounds it. */
  val LshBands = 4
  val LshPlanesPerBand = 8

  /** Embedding dimensionality of the test corpus (the default when a
    * caller can't supply one; [[lshCandidates]] measures the real width
    * from the data so a different corpus doesn't silently degrade). */
  val EmbeddingDim = 64

  /** Buckets larger than this are skipped as degenerate — the guard that
    * bounds the candidate join at any scale (mirrors the MinHash guard). */
  val LshMaxBucketSize = 100

  /** Deterministic ±1 hyperplane components from a splitmix64-style hash —
    * computed driver-side once, shipped as literal arrays so the per-row
    * projection runs through the codegen'd ArrayDot kernel (no interpreted
    * higher-order array scans in the hot path). */
  private def planeVector(band: Int, plane: Int, dim: Int): Array[Double] = {
    var z = (band.toLong << 32) ^ (plane.toLong * 0x9E3779B97F4A7C15L) ^ 0x5851F42D4C957F2DL
    Array.fill(dim) {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x = x ^ (x >>> 31)
      if ((x & 1L) == 0L) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH candidates: per band, bucket = sign-bit string
    * of the band's plane projections; candidates equi-join on
    * (band, bucket) with an oversized-bucket guard; exact cosine re-ranks.
    * Work is proportional to bucket collisions, not n² — the 100 TB path.
    * Rows-only check (approximate family); recall on planted near-twins
    * is pinned in DedupInvariantSpec (the corpus itself is isotropic
    * noise, where every pair is equally "far"). */
  def annLshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidates(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  /** Core LSH candidate generation over any (vec_id, embedding) relation.
    * Plane length is measured from the data (one 1-row probe job):
    * ArrayDot returns null on a length mismatch, so a wrong hard-coded
    * dim would collapse every sign bit to "0" and silently bucket the
    * whole corpus together. */
  def lshCandidates(emb: DataFrame): DataFrame = {
    val candidates = lshCandidatePairs(emb)
    candidates
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(fastCosine(col("a_emb"), col("b_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** LSH candidate-pair generation (no re-rank/limit) over any
    * (vec_id, embedding) relation. Plane length is measured from the
    * data (one 1-row probe job): ArrayDot returns null on a length
    * mismatch, so a wrong hard-coded dim would collapse every sign bit
    * to "0" and silently bucket the whole corpus together. */
  private[graft] def lshCandidatePairs(emb: DataFrame): DataFrame = {
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    val bandBuckets = (0 until LshBands).map { b =>
      val bits = (0 until LshPlanesPerBand).map { p =>
        when(arrayDot(col("embedding"), lit(planeVector(b, p, dim))) >= 0, "1").otherwise("0")
      }
      concat(bits: _*)
    }
    // (vec_id, band, bucket) only — the 64-float embedding does NOT ride
    // through the band explode + candidate shuffle; it is joined back just
    // for the exact re-rank of the (much smaller) candidate set.
    val banded = emb
      .select(col("vec_id"), posexplode(array(bandBuckets: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .localCheckpoint()
    // Bucket space per band is only 2^planes (256): scale the guard with
    // corpus size (16× the mean bucket load, floor LshMaxBucketSize) so a
    // big corpus doesn't trip the degenerate-bucket guard wholesale —
    // the count is free, banded is already materialized.
    val cap = DedupOps.scaledBucketCap(banded.count() / LshBands,
      1L << LshPlanesPerBand, LshMaxBucketSize)
    val smallBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, cap))
      .select(col("band"), col("bucket"))
    val pruned = banded.join(smallBuckets, Seq("band", "bucket"))
    pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** e04's bound-contract thresholds.
    *
    *  - `recall_ok`: a window pair at exact cosine ≥ 0.9999 missing from
    *    the candidate set. At that cosine θ/π ≤ 0.0045, a band of 8
    *    sign bits agrees w.p. ≥ 0.9645, and missing all 4 bands has
    *    P ≤ 1.6e-6 per pair — and exactly-proportional vectors (cos 1)
    *    agree on every sign bit deterministically, the e06 planted
    *    invariant. Below that cosine a miss is legitimate banding
    *    behavior (the 4×8 construction's 50%-recall point sits near
    *    cos 0.8) — those pairs pass unconditionally.
    *  - `cand_rate_ok`: total windowed candidates ≤ 10% of window pairs.
    *    Sign-bit agreement between isotropic vectors is a fair coin, so
    *    the organic collision rate is ≈ 4/2⁸ ≈ 2% of pairs (measured
    *    ~1.6%); the 10% ceiling is hundreds of binomial standard
    *    deviations above organic yet a 4× candidate spray (the
    *    bucket-join bug class d05/e06's planted proofs cannot see)
    *    trips it. There is NO per-pair precision floor for hyperplane
    *    LSH — orthogonal pairs legitimately collide at ~2% — so the
    *    precision statement is rate-level by design (documented trade;
    *    the exact re-rank downstream is what consumes the candidates). */
  val LshSureRecallCosine = 0.9999
  val LshCandRateCeiling = 0.10

  /** e04 — hyperplane-LSH candidate BOUND contract (the d03 pattern for
    * the embedding modality, closing the rows-only gap the r9 verdict
    * named): over the verification window, run the REAL candidate path
    * ([[lshCandidatePairs]] — same plane/band/bucket-guard code) and
    * grade it against the exact all-pairs cosine relation (shared with
    * e02/e08 via [[windowSimilarPairs]]). Emitted rows: the
    * deterministic exact side (window pairs at cosine ≥ 0.3) with the
    * per-pair recall flag and the corpus-wide candidate-rate flag; the
    * buckets stay engine-specific and the oracle pins the cosines and
    * both flags (see the threshold constants for the invariant margins).
    * The full-corpus candidate path remains [[annLshCandidates]] (API),
    * exercised at scale by e06's planted union. */
  def annLshBound(s: SparkSession, d: String): DataFrame = {
    val winEmb = Tables.embeddings(s, d)
      .filter(col("vec_id") < VerifyWindow.MaxId)
      .select(col("vec_id"), col("embedding"))
    val cand = lshCandidatePairs(winEmb).localCheckpoint()
    val nCand = cand.count()
    val nWin = winEmb.count()
    val rateOk =
      if (nCand.toDouble <= LshCandRateCeiling * nWin * (nWin - 1) / 2) 1 else 0
    windowSimilarPairs(s, d)
      .join(cand.withColumn("__cand", lit(1)), Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("cos_sim"),
        when(col("cos_sim") >= LshSureRecallCosine && col("__cand").isNull, 0)
          .otherwise(1).as("recall_ok"),
        lit(rateOk).as("cand_rate_ok"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
  }

  private val annLshBoundSql =
    s"""WITH ${similarCtesSql(0.3)}
      |SELECT a_id, b_id, cos_sim, 1 AS recall_ok, 1 AS cand_rate_ok FROM pr
      |ORDER BY cos_sim DESC, a_id, b_id""".stripMargin

  /** e06 — ANN-LSH recall invariant, oracle-checked (mirrors
    * d05): union the embeddings with an id-shifted copy and demand the
    * REAL hyperplane-LSH path recover every planted identical pair. An
    * identical vector projects to identical sign bits in every band, so
    * the twins share all 4 band buckets; the oversized-bucket guard can
    * only lose a pair if all 4 of its buckets exceed the scaled cap
    * (16× the mean bucket load — see [[DedupOps.scaledBucketCap]]),
    * impossible for isotropic data. The id offset derives from the
    * measured max id ([[DedupOps.plantOffset]]) so the harness stays
    * valid at every SF. Full DuckDB oracle: one row per corpus vector. */
  def annPlantedRecall(s: SparkSession, d: String): DataFrame = {
    val (union, off) = DedupOps.plantedUnion(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), "vec_id")
    lshCandidatePairs(union)
      .filter(col("b_id") === col("a_id") + lit(off))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"))
  }

  private val annPlantedRecallSql =
    s"""SELECT vec_id AS a_id,
      |  vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")} AS b_id
      |FROM embeddings ORDER BY a_id""".stripMargin

  /** IVF coarse-quantizer shape: cells in the inverted file and cells
    * probed per query. Recall/latency knob: more probes → closer to
    * brute force. */
  val IvfCells = 16
  val IvfProbes = 4

  /** Upper bound on the quantizer's cell count: past it the flat
    * k-means assignment itself becomes the bottleneck (O(n·cells) dot
    * products) and a production index would switch to a two-level
    * coarse quantizer (IVF-in-IVF); the degenerate-cell guard in
    * [[semanticDedup]] keeps the within-cell pass bounded even in the
    * capped regime. */
  val IvfMaxCells = 65536

  /** Target mean cell population the quantizer aims for — the SemDeDup
    * regime (cells ∝ corpus size at fixed cell load) that keeps the
    * within-cell all-pairs pass LINEAR in the corpus: per-cell work is
    * O(targetCellSize²) regardless of n. */
  val IvfTargetCellSize = 256L

  /** Corpus-scaled cell count: n/targetCellSize, floored at the legacy
    * 16 (so every shipped SF — ≤4000 vectors even in the planted-union
    * harnesses — builds the identical 16-cell index the recall oracles
    * were validated on) and capped at [[IvfMaxCells]]. */
  private[graft] def ivfCellsFor(n: Long): Int =
    math.max(IvfCells.toLong,
      math.min(IvfMaxCells.toLong, n / IvfTargetCellSize)).toInt

  /** A built IVF index: cell-assigned vectors + the quantizer's centers.
    * Built ONCE per (relation, cells) — the index is the expensive part;
    * every query probes it. */
  final case class IvfIndex(assigned: DataFrame,
                            model: org.apache.spark.ml.clustering.KMeansModel)

  /** Build the IVF coarse quantizer over a (vec_id, embedding) relation.
    * L2-normalize for the quantizer: the similarity metric is cosine,
    * and Euclidean cells over raw vectors split by magnitude, putting
    * true cosine neighbors in far cells. On the unit sphere,
    * ‖a−b‖² = 2(1−cos) — Euclidean k-means becomes a cosine quantizer. */
  /** embedding (ARRAY<FLOAT>) → L2-normalized ML vector — the ONE
    * normalization every IVF surface shares (build, and e15's no-refit
    * append assignment: identical inputs through the identical function
    * is what makes twin-cell agreement structural, not measured). */
  private[graft] val toFeatures: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { a: Seq[Float] =>
      val x = a.map(_.toDouble).toArray
      val n = math.sqrt(x.map(v => v * v).sum)
      org.apache.spark.ml.linalg.Vectors.dense(if (n == 0.0) x else x.map(_ / n))
    }

  def ivfBuild(emb: DataFrame, cells: Int = IvfCells): IvfIndex = {
    val vecs = emb
      .select(col("vec_id"), col("embedding"), toFeatures(col("embedding")).as("features"))
      .localCheckpoint()
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(42)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(vecs)
    IvfIndex(km.transform(vecs).localCheckpoint(), km)
  }

  /** e05 — IVF ANN probe: a query exact-searches only its `IvfProbes`
    * nearest cells of a prebuilt index. At scale the cell assignment is
    * the partition key — a probe touches IvfProbes/IvfCells of the data
    * instead of all of it. Rows-only (k-means-dependent); the
    * brute-force e01 is the exact baseline. One query through the exact
    * scorer ([[exactCandidates]]), its page cut by a plain sort + limit
    * (one query needs no per-query window). The candidates are cut to
    * the query's probe cells first, so the scorer's cell repartition
    * moves IvfProbes/cells of the index for one lookup, not all of it. */
  def ivfTopK(index: IvfIndex, queryId: Long, k: Int): DataFrame = {
    val s = index.assigned.sparkSession
    val query = index.assigned.filter(col("vec_id") === queryId)
    val cells = probedQueries(s, index.model, query).select(col("cell"))
    exactCandidates(s, index.model, index.assigned
        .filter(col("vec_id") =!= queryId)
        .join(broadcast(cells), Seq("cell"), "left_semi"), query)
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Corpus row count, memoized per dataset alongside the index memos:
    * quantizer sizing needs it BEFORE the build (the memo key pins the
    * cell count the index was actually built with), but repeat probes
    * must not pay a sizing scan per call. */
  private[graft] def corpusCount(s: SparkSession, d: String): Long =
    graft.api.Intermediates.memo(s, s"embcount|$d") {
      Tables.embeddings(s, d).count()
    }

  /** Which relation a session-shared IVF index is built over: the
    * corpus itself plus `copies − 1` id-shifted identical copies (the
    * i-th at +i·off, disjoint ranges since corpus ids < off).
    *
    *  - [[Geometry.Base]]: the corpus — the deployment posture, where
    *    planted rows arrive later as appends.
    *  - [[Geometry.Planted]]: corpus ∪ one twin — the closed-form
    *    recall and serve rows: every query's top-1 is its twin.
    *  - [[Geometry.DoublePlanted]]: corpus ∪ two twins — the takedown
    *    rows. Both twins score cosine 1.0 and the (cos desc, vec_id
    *    asc) tie-break picks the first, so a takedown of the first
    *    twin must surface the second at exactly +2·off: an ignored
    *    tombstone returns +off, an over-delete an organic id, and both
    *    break the hash.
    *
    * The quantizer is sized from the indexed row count, copies · n. */
  sealed abstract class Geometry(val tag: String, val copies: Int) {
    def cellsFor(n: Long): Int = ivfCellsFor(copies * n)

    /** By-name `off`: the base geometry plants nothing, so its build
      * never runs the max-id probe. */
    private[operators] def indexed(base: DataFrame, off: => Long): DataFrame =
      (1 until copies).foldLeft(base) { (u, i) =>
        u.unionByName(base.select((col("vec_id") + lit(i * off)).as("vec_id"),
          col("embedding")))
      }
  }

  object Geometry {
    case object Base extends Geometry("base", 1)
    case object Planted extends Geometry("planted", 2)
    case object DoublePlanted extends Geometry("double", 3)
  }

  /** A dataset's IVF index under one [[Geometry]]. The corpus count
    * and so `cells` are read on construction; the plant offset and the
    * build resolve on first use, so a row that never reads them pays
    * neither the max-id probe nor the build. */
  final class SharedIndex private[operators] (s: SparkSession, d: String,
      geometry: Geometry) {
    private val base =
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n: Long = corpusCount(s, d)
    val rows: Long = geometry.copies * n
    val cells: Int = geometry.cellsFor(n)
    lazy val off: Long = DedupOps.plantOffset(DedupOps.maxIdOf(base, "vec_id"))
    lazy val index: IvfIndex =
      graft.api.Intermediates.memo(s, s"ivf|${geometry.tag}|$d|$cells") {
        ivfBuild(geometry.indexed(base, off), cells)
      }
  }

  /** The one session-shared IVF build: every row that probes, saves or
    * serves an index of `g` over `d` reads this memo. */
  def sharedIndex(s: SparkSession, d: String, g: Geometry): SharedIndex =
    new SharedIndex(s, d, g)

  /** e05 query wrapper over the corpus table (rows-only: k-means cells).
    * The index is the session-shared base-geometry build — built once
    * per dataset, probed per query, exactly the build-offline/
    * probe-online IVF deployment shape. Note the test corpus is
    * isotropic noise — real recall behavior is pinned by the
    * planted-structure fixture in SkewOpsSpec. */
  def annIvf(s: SparkSession, d: String): DataFrame =
    ivfTopK(sharedIndex(s, d, Geometry.Base).index, queryId = 0, k = 20)

  /** e05 — IVF probe BOUND contract: the deterministic exact side is
    * e01's brute-force top-20 for query 0 (oracle-pinned ids and cosines);
    * the engine side probes the REAL shared IVF index ([[annIvf]]'s
    * memoized build — same quantizer, same probe code) and each exact
    * neighbor is flagged `in_ivf_or_unprobed`:
    *
    *  - if the neighbor's cell IS probed, it MUST appear in the IVF
    *    top-20 — within the probed subset its (cos desc, vec_id) rank
    *    can only improve on its global rank ≤ 20, and the within-cell
    *    re-rank is exact, so absence is a probe/re-rank/limit BUG (the
    *    defining IVF guarantee, e07's planted argument extended to
    *    every ORGANIC neighbor every run);
    *  - if its cell is NOT probed, missing it is the documented IVF
    *    recall/latency trade (IvfProbes of the cells searched), and the
    *    flag passes unconditionally.
    *
    * The cell assignment stays engine-specific (k-means); the oracle
    * pins the exact neighbors, their cosines, and the flag — the
    * q21/q33/d14 discipline. The raw probe API remains [[annIvf]];
    * both run the same memoized index, so the sweep builds it once. */
  def annIvfBound(s: SparkSession, d: String): DataFrame = {
    val index = sharedIndex(s, d, Geometry.Base).index
    val probed = probedQueries(s, index.model,
        index.assigned.filter(col("vec_id") === 0))
      .select(col("cell"), lit(1).as("__probed"))
    val found = ivfTopK(index, queryId = 0, k = 20)
      .select(col("vec_id"), lit(1).as("__found"))
    knnBruteForce(s, d)
      .join(found, Seq("vec_id"), "left")
      .join(index.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(probed, Seq("cell"), "left")
      .select(col("vec_id"), col("cos_sim"),
        when(col("__found").isNotNull || col("__probed").isNull, 1)
          .otherwise(0).as("in_ivf_or_unprobed"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  private val annIvfBoundSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |z AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |      FROM embeddings e, q WHERE e.vec_id <> 0),
      |s AS (SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS nx, sqrt(sum(y*y)) AS ny
      |      FROM z GROUP BY vec_id)
      |SELECT vec_id, round(dot / (nx * ny), 6) AS cos_sim,
      |  1 AS in_ivf_or_unprobed
      |FROM s ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /** e07 — IVF recall invariant, oracle-checked (completes the d05/e06
    * family for the last approximate path): union the embeddings with an
    * id-shifted copy, build the REAL IVF index ([[ivfBuild]], same
    * normalize/quantize code as e05) over the union, and demand every
    * planted identical twin land in its original's cell. Identical
    * vector ⇒ identical L2-normalized features ⇒ identical deterministic
    * nearest-center assignment — and since a probe set always contains
    * the query's own cell (its nearest center is probed first), same-cell
    * twins are exactly the pairs an IVF probe is guaranteed to recover.
    * The pair join is an O(n) equi-join on the shifted id (not a cell
    * self-join, which would be O(n²/cells) at scale). Full DuckDB
    * oracle: one row per corpus vector. */
  def ivfPlantedRecall(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Planted)
    val (index, off) = (shared.index, shared.off)
    val a = index.assigned.filter(col("vec_id") < off)
      .select(col("vec_id").as("a_id"), col("cell").as("a_cell"))
    val b = index.assigned.filter(col("vec_id") >= off)
      .select(col("vec_id").as("b_id"), col("cell").as("b_cell"))
    a.join(b, col("b_id") === col("a_id") + lit(off) &&
        col("a_cell") === col("b_cell"))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"))
  }

  private val ivfPlantedRecallSql =
    s"""SELECT vec_id AS a_id,
      |  vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")} AS b_id
      |FROM embeddings ORDER BY a_id""".stripMargin

  /** Every [[BatchQueryMod]]-th base vector is a query in e13's batch. */
  private[graft] val BatchQueryMod = 20L

  /** e13 — BATCH ANN serving: the offline serving shape where a
    * MILLION queries arrive as a table (recommendation backfills,
    * eval-set retrieval, dedup-against-index). The whole batch is
    * answered in ONE plan through the serve kernels, no driver loop
    * anywhere: each query's probe cells are ranked in its own row over
    * broadcast centers ([[probeCellsRowLocal]]), candidates come from
    * ONE cell equi-join against the shared index (never query ×
    * corpus) and are scored exactly ([[exactCandidates]]), and the
    * per-query argmax is one aggregation ([[top1]]).
    *
    * Contract (e07's planted discipline — nothing k-means-dependent is
    * emitted): over the planted union, every query's top-1 is its
    * identical twin at cosine 1.0, CLOSED FORM — the twin shares the
    * query's cell (identical features ⇒ identical deterministic
    * assignment), the query's own cell is always probed (its center is
    * nearest — rank 1 of 4), and cosine 1.0 strictly beats every
    * native pair (≤ 0.61 measured at every shipped SF). A probe-
    * assignment bug, a lost cell in the candidate join, or a broken
    * argmax surfaces as a wrong id or a missing query row. Full DuckDB
    * oracle: one row per query.
    *
    * 100 TB shape: the probe is a cells-sized broadcast (cells grows as
    * n/256 — at [[IvfMaxCells]] ~32 MB of centers, still a broadcast);
    * the candidate join shuffles on the cell id like e10's pair pass;
    * the argmax aggregates by query_id. Nothing data-scale touches the
    * driver — the batch can be arbitrarily large. */
  def annBatchServe(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Planted)
    batchServeAgainst(shared.index, shared.off)
  }

  /** e13's query batch against an index over base ∪ planted copies:
    * every [[BatchQueryMod]]-th base vector, as (vec_id, embedding). */
  private def batchQueries(index: IvfIndex, off: Long): DataFrame =
    index.assigned
      .filter(col("vec_id") < off && col("vec_id") % BatchQueryMod === 0)
      .select(col("vec_id"), col("embedding"))

  /** The e13 serve plan against an ARBITRARY index — shared verbatim by
    * e13 (in-session index), e14 (loaded-from-disk index), e15 (loaded
    * index + appended increment) and every later store row, so they run
    * ONE code path and their common closed-form oracle transfers: a
    * lossy save, an assignment drift, or a lost appended cell breaks
    * the respective row's hash instead of a serving job months later. */
  private[graft] def batchServeAgainst(index: IvfIndex, off: Long): DataFrame =
    serveQueriesAgainst(index.assigned.sparkSession, index,
      batchQueries(index, off)).orderBy(col("query_id"))

  /** Shared by e13/e14/e15 — the closed-form serve contract. CORPUS
    * ASSUMPTION: "top-1 = the planted twin" additionally
    * relies on no NATIVE vector being an exact duplicate of a query
    * vector — an exact native duplicate would also score cosine 1.0
    * and, with a smaller vec_id, win the (cos desc, vec_id asc)
    * tie-break over the twin at query_id+off, turning these rows red
    * on a CORRECT engine. Measured: max native pair ≤ 0.61 at every
    * shipped SF (isotropic 64-dim float noise — exact duplicates have
    * probability ~0). A future corpus regeneration that plants exact
    * native duplicates must revisit this oracle, not debug the
    * engine. */
  private[graft] val annBatchServeSql =
    s"""SELECT vec_id AS query_id,
      |  vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")}
      |    AS top1_id,
      |  1.0 AS cos_sim
      |FROM embeddings WHERE vec_id % $BatchQueryMod = 0
      |ORDER BY query_id""".stripMargin

  /** Deterministic artifact date for the tmp-rooted harness stores —
    * a real deployment passes its release date. */
  private val IndexDate = java.time.LocalDate.ofEpochDay(0)

  private def indexTmpBase(s: SparkSession, d: String, tag: String): String =
    graft.sources.TmpDirs.artifactRoot(s, d, tag)

  /** e14 — the ANN index as a SHIPPED ARTIFACT (t19's round-trip
    * discipline applied to the IVF index, r12 verdict ask #2): the
    * shared e07/e10/e13 index is persisted through
    * [[graft.api.IvfStore]] (S9 versioned path), loaded back, and
    * e13's whole batch is served against the LOADED index through the
    * SAME [[batchServeAgainst]] kernel — e13's oracle transfers
    * verbatim, so a lossy save (dropped rows, de-normalized features,
    * center drift through ML persistence) breaks THIS row's hash
    * instead of a production serving job. The loaded relation is
    * deliberately NOT memoized (t19's lesson: a shared
    * materialization would mask exactly the drift this row exists to
    * catch); the save+load runs per invocation and is index-sized.
    *
    * 100 TB shape: identical to e13 plus one index-sized parquet
    * write/scan (at scale `assigned/` would be bucketed by cell — the
    * probe access path — making the candidate equi-join
    * shuffle-free). */
  def annIndexRoundtrip(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Planted)
    val dir = graft.api.IvfStore.versionedDir(
      indexTmpBase(s, d, "e14"), shared.cells, IndexDate)
    graft.api.IvfStore.save(dir, shared.index)
    batchServeAgainst(graft.api.IvfStore.load(s, dir), shared.off)
  }

  /** e15 — INCREMENTAL APPEND to a stored index (d11's
    * batch-⋈-stored-index posture for the embedding side): a new crawl
    * increment (the id-shifted planted copy) is assigned to the cells
    * of the LOADED base-corpus index with NO refit and NO corpus
    * join — the increment streams through the
    * loaded quantizer's assignment function ([[toFeatures]] +
    * `model.transform`, a broadcast of the centers under the hood),
    * exactly how the stored rows were assigned at build time. That
    * sameness is what makes the recall proof STRUCTURAL, not
    * measured: an identical vector through the identical deterministic
    * function lands in its original's cell, so after the append every
    * query's twin is probe-reachable (the query's own cell is always
    * probed) and the e13 closed form transfers: top-1 = the appended
    * twin at cosine 1.0. A drifted loaded center, a refit-instead-of-
    * append, or an increment row lost in the union breaks the hash.
    *
    * The index keeps its BUILD-time cell count (sized from the base
    * corpus — the honest incremental posture: appends do not resize
    * the quantizer; re-sharding is a rebuild, d17's distinction).
    * This is e05's base-geometry index, not e13's union-built one —
    * the e13/e14 family proves the serve path, e15 proves the index
    * UPDATE path.
    *
    * 100 TB shape: increment × broadcast centers (cells-sized), one
    * unionByName with the loaded index relation, then the e13 serve
    * plan — the increment never joins the corpus. */
  def annIndexAppend(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Base)
    val dir = graft.api.IvfStore.versionedDir(
      indexTmpBase(s, d, "e15"), shared.cells, IndexDate)
    // the stored index is the append's INPUT — billed once per session;
    // the round-trip rows e14/e17 keep their per-invocation save+load
    // deliberately
    graft.api.IvfStore.saveOnce(dir, shared.index)
    val loaded = graft.api.IvfStore.load(s, dir)
    val off = shared.off
    val increment = Tables.embeddings(s, d)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"),
        toFeatures(col("embedding")).as("features"))
    val appendedRows = loaded.model.transform(increment)
      .select(col("vec_id"), col("embedding"), col("features"),
        col(loaded.model.getPredictionCol).as("cell"))
    val appended = IvfIndex(
      loaded.assigned
        .select(col("vec_id"), col("embedding"), col("features"), col("cell"))
        .unionByName(appendedRows),
      loaded.model)
    batchServeAgainst(appended, off)
  }

  /** PQ geometry: M subvectors × K centroids per subspace. K = 16 at
    * harness scale (k-means needs k ≪ n per subspace at the smallest
    * SF); production is K = 256 (one byte per subspace) — the geometry
    * is a constant of the artifact, like [[IvfCells]]. */
  val PqSubspaces = 8
  val PqCodes = 16

  /** Per-subspace coarse codebooks — one seeded k-means per subvector
    * slice of the NORMALIZED feature space (the IVF metric space: on
    * the unit sphere, squared-L2 ADC ranks exactly like cosine). */
  private[graft] final case class PqModel(
      models: Seq[org.apache.spark.ml.clustering.KMeansModel])

  /** Codebook-training sample bound (r17 verdict ask #1 — the FAISS
    * posture made REAL instead of asserted: codebooks are a constant-
    * size artifact fit on a bounded sample, never the corpus). The
    * sample is a deterministic hash-ordered prefix — `ORDER BY
    * xxhash64(vec_id), vec_id LIMIT N` — so it is (a) a uniform
    * pseudo-random draw, (b) identical run-to-run and partition-layout-
    * independent (total order, id tie-break), and (c) computed as a
    * distributed top-N (per-partition take + single merge), never a
    * corpus sort. Sized well above the K·M centroid count the fit
    * estimates (FAISS trains K=256 codebooks on ~10⁵ samples; ours is
    * K=16) and above every harness SF's corpus (≤ 8k vectors at
    * sf0.1), so harness-scale fits see the full corpus byte-for-byte;
    * the 20× scale gate (~160k vectors) is where the bound engages. */
  val PqTrainSample = 65536

  /** The fit's exact input relation: bounded deterministic sample,
    * then ONE vec_id-sorted partition. DETERMINISM (r17): KMeans
    * aggregates partials in task-COMPLETION order, so a
    * multi-partition fit is nondeterministic at the last float bit —
    * enough to flip a marginal full-code collision at the 20x receipt
    * between runs (a flaky loud-guard is worse than either outcome).
    * The bounded sample ([[PqTrainSample]]) caps the fit's input; one
    * sorted partition then pins the combine order — and because the
    * sample is ≤ N rows emerging from the top-N's own single merge
    * partition, the coalesce(1) collapses nothing corpus-sized (r17
    * ADVICE: the previous unbounded coalesce(1) serialized the whole
    * upstream relation into one task). */
  private[graft] def pqTrainInput(vecs: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    vecs.select(col("vec_id"), vector_to_array(col("features")).as("f"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(PqTrainSample)
      .coalesce(1).sortWithinPartitions("vec_id")
  }

  private[graft] def pqTrain(vecs: DataFrame, dim: Int): PqModel = {
    import org.apache.spark.ml.functions.array_to_vector
    val sub = dim / PqSubspaces
    val arr = pqTrainInput(vecs).localCheckpoint()
    // The M per-subspace fits are INDEPENDENT (disjoint slices of the
    // one checkpointed sample, per-subspace seeds) and each is dozens
    // of tiny driver-synchronous jobs — run them concurrently (guide
    // §2.6: overlap independent jobs; actions are only sequential
    // because the driver calls them sequentially). Each fit's input,
    // seed, and combine order are unchanged (the sample is one sorted
    // partition), so every codebook is bit-identical to the
    // sequential fit's.
    val fits = (0 until PqSubspaces).map { m =>
      () =>
        new org.apache.spark.ml.clustering.KMeans()
          .setK(PqCodes).setSeed(42L + m)
          .setFeaturesCol("features").setPredictionCol("code")
          .fit(arr.select(
            array_to_vector(slice(col("f"), m * sub + 1, sub))
              .as("features")))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PqSubspaces)
    try {
      val fs = fits.map(f => pool.submit(
        new java.util.concurrent.Callable[
          org.apache.spark.ml.clustering.KMeansModel] {
          override def call() = f()
        }))
      PqModel(fs.map(_.get()))
    } finally pool.shutdown()
  }

  /** Corpus encoding: each vector's M per-subspace nearest-centroid
    * codes, assigned by the codebooks' own transform (the e15
    * discipline — identical deterministic assignment function for
    * every row, which is what makes the twin-code argument structural). */
  private[graft] def pqEncode(assigned: DataFrame, pq: PqModel, dim: Int): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val sub = dim / PqSubspaces
    val base = assigned.select(col("vec_id"), col("cell"),
      vector_to_array(col("features")).as("f"))
    (0 until PqSubspaces).foldLeft(base) { (df, m) =>
      pq.models(m).copy(org.apache.spark.ml.param.ParamMap.empty)
        .setFeaturesCol(s"__sub$m").setPredictionCol(s"code$m")
        .transform(df.withColumn(s"__sub$m",
          array_to_vector(slice(col("f"), m * sub + 1, sub))))
        .drop(s"__sub$m")
    }.drop("f")
  }

  /** e16 — IVF-PQ batch serving, the production vector-search stack
    * (coarse quantizer for candidate selection + product-quantization
    * asymmetric-distance re-rank; Jégou et al. 2011): e13's probe
    * stage selects each query's candidate cells, but candidates are
    * scored by ADC TABLE LOOKUP against the M×K codebooks instead of
    * exact cosine — the memory/bandwidth shape that serves billions of
    * vectors (codes are M small ints per vector; raw embeddings never
    * ride the scoring join). Through the serve kernels: each query row
    * carries its own lookup table of ‖c‖² − 2·q_m·c over the broadcast
    * codebooks (the per-query ‖q_m‖² terms are constant across
    * candidates and cancel in the argmin), candidates come from the
    * shared IVF index's probed cells, the per-(query, candidate) ADC is
    * M carried-array lookups summed in a fixed m order
    * ([[adcCandidates]]), and the argmin is [[top1]].
    *
    * Contract (e13's closed form carried through the quantization):
    * the planted twin shares the query's cell AND its full PQ code
    * (identical features through the identical per-subspace
    * assignment), and the LUT's per-subspace minimum over codes is
    * achieved exactly by the query's own code — so the twin's ADC is
    * the GLOBAL minimum over all codes and the twin wins the
    * (adc asc, vec_id asc) argmin. A native vector sharing a query's
    * FULL code would tie and win the id tie-break — that precondition
    * is ASSERTED on the encoded relation per run (loud failure naming
    * the collision, the e10 discipline), not assumed. Emits
    * (query_id, top1_id); the oracle is e13's closed form minus the
    * exact-cosine column.
    *
    * 100 TB shape: codebooks are (M×K×dim/M) doubles — kilobytes,
    * broadcast; the LUT is M×K doubles per query row; the scoring join moves
    * M-int code rows instead of full embeddings (the 16-64× bandwidth
    * reduction that IS the point of PQ); everything partitions by
    * query_id or the cell key. */
  def annIvfPqServe(s: SparkSession, d: String): DataFrame = {
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.Planted)
    adcServe(index, pq, codes, off)
  }

  /** The one session-shared IVF-PQ build over a [[Geometry]]: the
    * [[sharedIndex]] plus its codebooks and corpus codes, and the plant
    * offset. The codes are collision-asserted here, their one
    * production site. Round-trip rows SAVE these; their serve side
    * reads only the loaded artifact (the e14/t19 discipline). */
  private[graft] def sharedPq(s: SparkSession, d: String, g: Geometry)
      : (IvfIndex, PqModel, DataFrame, Long) = {
    val shared = sharedIndex(s, d, g)
    val (index, off) = (shared.index, shared.off)
    val dim = index.model.clusterCenters.head.size
    val pq = graft.api.Intermediates.memo(s,
        s"pq|${g.tag}|$d|$PqSubspaces|$PqCodes") {
      pqTrain(index.assigned, dim)
    }
    val codes = graft.api.Intermediates.memo(s,
        s"pqcodes|${g.tag}|$d|$PqSubspaces|$PqCodes") {
      val encoded = pqEncode(index.assigned, pq, dim).localCheckpoint()
      assertNoQueryCodeCollisions(encoded, off)
      encoded
    }
    (index, pq, codes, off)
  }

  /** The e16 ADC serve plan against ARBITRARY (index, codebooks, codes)
    * — shared verbatim by e16 (in-session PQ), e17 (loaded-from-disk
    * PQ) and every later PQ store row, so they run ONE code path and
    * the common closed-form oracle transfers: a lossy codebook save, a
    * code-column drift, or a truncated subspace breaks e17's hash
    * instead of a serving job months later. */
  private[graft] def adcServe(index: IvfIndex, pq: PqModel,
      codes: DataFrame, off: Long): DataFrame =
    adcServeQueriesAgainst(index.assigned.sparkSession, index.model, pq,
      codes, batchQueries(index, off)).orderBy(col("query_id"))

  /** Loud precondition on a freshly ENCODED corpus: no NATIVE vector
    * may share a query's full code (it would tie the twin's ADC and win
    * the id tie-break on a correct engine — the e13 corpus assumption,
    * asserted instead of assumed because quantization makes collisions
    * more likely than exact-duplicate vectors). Asserted ONCE where the
    * codes are produced (the build memos), never inside the serve
    * plan's build (a deployment asserts at code-write time — appends
    * are exempt structurally, their vec_ids sit above `off`). Serves against LOADED codes inherit the
    * write-time check through the round-trip rows' hash contracts. */
  private[graft] def assertNoQueryCodeCollisions(codes: DataFrame,
      off: Long): Unit = {
    val codeCols = (0 until PqSubspaces).map(m => s"code$m")
    val qCodes = codes.filter(col("vec_id") < off &&
        col("vec_id") % BatchQueryMod === 0)
      .select((col("vec_id").as("query_id") +: codeCols.map(col)): _*)
    val collisions = qCodes.join(
        codes.filter(col("vec_id") < off), codeCols)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .limit(5).collect()
      .map(r => s"(query ${r.getLong(0)}, native ${r.getLong(1)})")
    require(collisions.isEmpty,
      s"pq encode: native vector(s) ${collisions.mkString(", ")} share a " +
        "query's full PQ code — the closed-form twin contract does not " +
        "hold on this corpus")
  }

  private[graft] val annIvfPqServeSql =
    s"""SELECT vec_id AS query_id,
      |  vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")}
      |    AS top1_id
      |FROM embeddings WHERE vec_id % $BatchQueryMod = 0
      |ORDER BY query_id""".stripMargin

  /** e17 — the IVF-PQ stack as a SHIPPED ARTIFACT (r13 verdict ask #1,
    * closing the last unshippable piece of the serving stack): e16's
    * per-subspace codebooks and corpus codes are persisted through
    * [[graft.api.IvfStore.savePq]] (S9 versioned path; codebooks via ML
    * persistence so centroids round-trip as exact doubles; codes as
    * parquet alongside `assigned/` — stored, never re-encoded at load,
    * because a re-encode through retrained codebooks is exactly the
    * drift this row exists to catch), loaded back, and e16's whole
    * batch is served against the LOADED artifact through the SAME
    * [[adcServe]] kernel — e16's closed-form oracle transfers verbatim.
    * Nothing served reads the in-session memos (their keys hold only
    * the build side — the e14/t19 discipline applied a third time), so
    * a lossy save, a dropped subspace, or a code-column drift breaks
    * THIS row's hash instead of a production serving job.
    *
    * 100 TB shape: e16 plus one artifact-sized parquet write/scan; the
    * codes relation is the corpus at M small ints per vector — the
    * compressed corpus IS the artifact a PQ serving fleet ships. */
  def annPqRoundtrip(s: SparkSession, d: String): DataFrame = {
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.Planted)
    val dir = graft.api.IvfStore.versionedPqDir(
      indexTmpBase(s, d, "e17"), index.model.getK, PqSubspaces, PqCodes,
      IndexDate)
    graft.api.IvfStore.savePq(dir, index, pq, codes)
    val (li, lp, lc) = graft.api.IvfStore.loadPq(s, dir, PqSubspaces)
    adcServe(li, lp, lc, off)
  }

  /** e26 — index REBUILD / re-shard FROM THE STORED ARTIFACT (the one
    * lifecycle stage every store doc defers to — "appends do not
    * resize the quantizer; re-sharding is a rebuild" — witnessed
    * nowhere until now: when the corpus outgrows the cell sizing,
    * per-cell populations grow past [[IvfTargetCellSize]] and probe
    * cost creeps linear, so the indexing job refits a LARGER quantizer
    * and re-assigns — reading the STORED artifact, never the corpus
    * table): the e13-family artifact is persisted (session-billed —
    * the rebuild's INPUT), loaded, a quantizer at double the cell
    * count is refit over the loaded vectors (seeded — deterministic),
    * the re-assigned corpus is written as the NEXT versioned artifact
    * (re-sharding mints a version like any maintenance op — the
    * snapshot-isolation witness applies), and e13's whole batch is
    * served against the RELOADED rebuilt artifact through the shared
    * serve kernel. e13's closed-form oracle transfers verbatim — the
    * twin shares the query's cell under ANY quantizer (identical
    * features through the identical assignment), so top-1 = twin at
    * cosine 1.0 regardless of cell count: a rebuild that drops rows,
    * de-normalizes features, or mis-assigns breaks the hash.
    *
    * WHEN to rebuild is [[rebuildDue]]'s call (cell-saturation
    * arithmetic over counts the store already has).
    *
    * 100 TB shape: the refit is one k-means over the stored features
    * (the same job that built the index, on artifact bytes — cheaper
    * than a corpus re-read and re-embed by orders of magnitude); the
    * re-assignment is one map over the artifact against broadcast
    * centers; the write is the bucketed rewrite a version mint always
    * costs. Janitor cadence, never the serve path. */
  def annIndexRebuild(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Planted)
    val (cells, off) = (shared.cells, shared.off)
    val root = indexTmpBase(s, d, "e26")
    val v1 = graft.api.IvfStore.versionedDir(root, cells, IndexDate)
    // the v1 artifact is the rebuild's INPUT, not its work (e23's billing)
    graft.api.IvfStore.saveOnce(v1, shared.index)
    val loaded = graft.api.IvfStore.load(s, v1)
    // the rebuild itself: refit at 2x the cells over the STORED vectors
    val newCells = math.min(IvfMaxCells, 2 * cells)
    val rebuilt = ivfBuild(
      loaded.assigned.select(col("vec_id"), col("embedding")), newCells)
    val v2 = graft.api.IvfStore.versionedDir(root, newCells,
      java.time.LocalDate.ofEpochDay(1))
    graft.api.IvfStore.save(v2, rebuilt)
    batchServeAgainst(graft.api.IvfStore.load(s, v2), off)
  }

  /** Rebuild TRIGGER predicate — [[graft.api.CompactionPolicy]]'s
    * posture for the re-shard decision: a fold keeps the artifact ONE
    * relation, but only a rebuild keeps cells at their target load
    * (probe cost is O(probes × cell size), so mean occupancy past the
    * target by `slack`× means the quantizer has outgrown its sizing).
    * Pure arithmetic over counts the store already tracks; the janitor
    * calls it with `assigned.count()` on its own cadence. */
  def rebuildDue(nVectors: Long, cells: Int, slack: Double = 2.0): Boolean = {
    require(cells > 0 && slack > 0,
      "rebuildDue needs positive cells and slack")
    // saturated-at-max quantizers cannot grow — a rebuild would mint
    // the same geometry (the two-level-quantizer regime starts there)
    cells < IvfMaxCells &&
      nVectors.toDouble / cells > IvfTargetCellSize * slack
  }

  /** e20 — index COMPACTION (s17's posture applied to the index
    * artifact, closing the maintenance loop s26 opens): a deployment's
    * append manifest grows one batch dir per micro-batch, and the
    * probe-side scan plans a manifest-length union — periodically the
    * compactor folds base + committed appends into ONE new versioned
    * artifact ([[graft.api.IvfStore.compactAppends]]; the quantizer is
    * copied unchanged — compaction never refits, re-sharding is a
    * rebuild). Here the full lifecycle runs in-row: base index saved,
    * TWO crawl increments committed as separate append batches through
    * the SAME [[graft.api.IvfStore.appendBatch]] API s26's stream
    * path uses, the store compacted, and e13's batch served against
    * the LOADED COMPACTED artifact — the closed-form oracle transfers
    * verbatim, so a compaction that drops, duplicates, or re-assigns
    * any row breaks this hash instead of a serving fleet's recall
    * months later.
    *
    * 100 TB shape: compaction is one union-scan + one partitioned
    * (at scale: bucketed-by-cell) parquet write, run by the janitor
    * cadence — never on the serve path; the serve side is e13's plan
    * against one relation again. */
  def annIndexCompact(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Base)
    val cells = shared.cells
    val root = indexTmpBase(s, d, "e20")
    val baseDir = graft.api.IvfStore.versionedDir(
      s"$root/base", cells, IndexDate)
    // base store = the compactor's input, billed once (e23's guard)
    graft.api.IvfStore.saveOnce(baseDir, shared.index)
    val loaded = graft.api.IvfStore.load(s, baseDir)
    val off = shared.off
    val inc = Tables.embeddings(s, d)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    val appendRoot = s"$root/append"
    graft.api.IvfStore.appendBatch(appendRoot,
      inc.filter(col("vec_id") % 2 === 0), 0L, loaded.model)
    graft.api.IvfStore.appendBatch(appendRoot,
      inc.filter(col("vec_id") % 2 === 1), 1L, loaded.model)
    val outDir = graft.api.IvfStore.versionedDir(
      s"$root/compacted", cells, IndexDate)
    graft.api.IvfStore.compactAppends(s, baseDir, appendRoot, outDir)
    batchServeAgainst(graft.api.IvfStore.load(s, outDir), off)
  }

  /** e23 — PQ-CODES COMPACTION (r14 verdict ask #2, e20's posture for
    * the compressed corpus): the base IVF-PQ artifact is persisted
    * ([[graft.api.IvfStore.savePq]]), TWO crawl increments are
    * committed as separate PQ-CODED append batches through the SAME
    * [[graft.api.IvfStore.appendPqBatch]] API s28's stream path uses
    * (loaded quantizer + loaded codebooks, no refit of either stage;
    * committed rows are M small ints, never raw embeddings), the store
    * is folded by [[graft.api.IvfStore.compactPqAppends]] into ONE new
    * versioned artifact (quantizer and codebooks copied unchanged —
    * compaction never retrains), and e16's whole batch is ADC-served
    * against the LOADED COMPACTED artifact through the same
    * [[adcServe]] kernel. e16's closed-form oracle transfers verbatim
    * (the s28 argument: identical vectors through identical
    * deterministic assignments carry their originals' cell and full
    * code, and the query's own code achieves the ADC global minimum) —
    * a compaction that drops, duplicates, or re-encodes any code row
    * breaks this hash instead of a PQ serving fleet's recall.
    *
    * 100 TB shape: the fold is one union-scan + rewrite over code rows
    * (M small ints per vector), janitor cadence; the serve side plans
    * ONE codes relation again instead of the manifest-length union. */
  def annPqCompact(s: SparkSession, d: String): DataFrame = {
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.Base)
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cells = index.model.getK
    val root = indexTmpBase(s, d, "e23")
    val baseDir = graft.api.IvfStore.versionedPqDir(
      s"$root/base", cells, PqSubspaces, PqCodes, IndexDate)
    // the base artifact is the COMPACTOR'S INPUT, not its work — in a
    // deployment it already exists (e17's job); creating it is billed
    // once per session, like the memoized build it ships
    graft.api.IvfStore.savePqOnce(baseDir, index, pq, codes)
    val (li, lp, _) = graft.api.IvfStore.loadPq(s, baseDir, PqSubspaces)
    val inc = base.select((col("vec_id") + lit(off)).as("vec_id"),
      col("embedding"))
    val appendRoot = s"$root/append"
    graft.api.IvfStore.appendPqBatch(appendRoot,
      inc.filter(col("vec_id") % 2 === 0), 0L, li.model, lp)
    graft.api.IvfStore.appendPqBatch(appendRoot,
      inc.filter(col("vec_id") % 2 === 1), 1L, li.model, lp)
    val outDir = graft.api.IvfStore.versionedPqDir(
      s"$root/compacted", cells, PqSubspaces, PqCodes, IndexDate)
    graft.api.IvfStore.compactPqAppends(s, baseDir, appendRoot, outDir,
      PqSubspaces)
    val (ci, cp, cc) = graft.api.IvfStore.loadPq(s, outDir, PqSubspaces)
    adcServe(ci, cp, cc, off)
  }

  /** The e21/e22 takedown set: every other batch query's FIRST twin
    * (base ids ≡ 0 mod 2·[[BatchQueryMod]], shifted by one offset) —
    * SELECTIVE by construction, so a serve that honors the log
    * wholesale (e.g. by dropping a whole append batch) still breaks
    * the hash on the queries whose twin was NOT taken down. */
  private[graft] def tombstoneIds(base: DataFrame, off: Long): DataFrame =
    base.filter(col("vec_id") % (2 * BatchQueryMod) === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"))

  /** The e21/e22 oracle: top-1 = the surviving nearest twin, closed
    * form per query (see [[Geometry.DoublePlanted]]); shared verbatim by
    * the serve-time row and the compaction row so the logical and
    * physical delete paths cannot drift. */
  private[graft] val tombstoneServeSql = {
    val offSql = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""SELECT vec_id AS query_id,
      |  CASE WHEN vec_id % ${2 * BatchQueryMod} = 0
      |       THEN vec_id + 2 * ($offSql)
      |       ELSE vec_id + ($offSql) END AS top1_id,
      |  1.0 AS cos_sim
      |FROM embeddings WHERE vec_id % $BatchQueryMod = 0
      |ORDER BY query_id""".stripMargin
  }

  /** e21 — tombstone DELETE honored by the ANN SERVE (without it every
    * store is append-only, and a takedown / GDPR erasure / recrawl
    * removal — routine at 100 TB — requires a full rebuild):
    * the [[Geometry.DoublePlanted]] index is persisted and loaded
    * (e14's artifact posture), a SELECTIVE takedown set — every other
    * query's first twin ([[tombstoneIds]]) — is committed to the
    * tombstone log through ExportCommit's atomic manifest
    * ([[graft.api.IvfStore.appendTombstones]], replayed batchId
    * skipped), and e13's whole batch is served against loaded-index
    * MINUS committed-tombstones ([[graft.api.IvfStore.minusTombstones]]
    * — ids-sized anti-join) through the SAME [[batchServeAgainst]]
    * kernel. Closed form per query: the surviving nearest twin — +2·off
    * where the first twin was taken down, +off elsewhere, cosine 1.0
    * both ways (see [[Geometry.DoublePlanted]] for why each failure
    * mode breaks the hash). Ref tie: post-hoc mutation of a shipped
    * model is the reference's own concern (ref
    * 04_cluster_refiner.R:726-774).
    *
    * 100 TB shape: the log is ids-sized (broadcast anti-join on the
    * serve path — zero extra shuffle); the physical fold is e22's
    * compaction job, never the serve path. */
  def annTombstoneServe(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val shared = sharedIndex(s, d, Geometry.DoublePlanted)
    val off = shared.off
    val root = indexTmpBase(s, d, "e21")
    val dir = graft.api.IvfStore.versionedDir(root, shared.cells, IndexDate)
    // the artifact is the serve's INPUT, not its work (e23's billing)
    graft.api.IvfStore.saveOnce(dir, shared.index)
    val loaded = graft.api.IvfStore.load(s, dir)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    // at-least-once delivery of the delete event — replay is skipped
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    batchServeAgainst(IvfIndex(
      graft.api.IvfStore.minusTombstones(loaded.assigned, s, tombRoot),
      loaded.model), off)
  }

  /** e24 — tombstone DELETE honored by the PQ/ADC SERVE (the
    * compressed-corpus half of the r14 verdict's "honored by the
    * IVF/PQ serve": e21 witnessed the raw-IVF path; a PQ fleet serves
    * CODES, and a takedown must stop the deleted code rows from being
    * scored at all): the e21 double-planted index gains its PQ stage
    * (codebooks + codes, collision-asserted at production), the same
    * selective takedown set commits to the tombstone log, and e16's
    * whole batch is ADC-served against codes MINUS committed
    * tombstones through the SAME [[adcServe]] kernel. The closed form
    * carries through the quantization: both twins hold the query's
    * FULL code (identical features through identical per-subspace
    * assignments), so their ADC ties at the global minimum and the
    * (adc, vec_id) tie-break picks the first — unless tombstoned, in
    * which case the second twin at +2·off must surface. e21's
    * selective oracle minus the cosine column.
    *
    * 100 TB shape: the honor is one ids-sized broadcast anti-join on
    * the code relation — the scoring join still moves M-int rows and
    * nothing else changes. */
  def annPqTombstoneServe(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.DoublePlanted)
    val tombRoot = indexTmpBase(s, d, "e24") + "/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    adcServe(index, pq,
      graft.api.IvfStore.minusTombstones(codes, s, tombRoot), off)
  }

  /** s42's oracle: the PQ serve phase-split across the mid-drain flip —
    * phase 1 serves the UNFOLDED double-planted artifact (every query
    * answers its byte-identical +off twin — shared full code, id
    * tie-break), phase 2 the tombstone-folded one (e24's selective
    * closed form: the takedown flips queries ≡ 0 mod 2·mod to the
    * +2·off twin). */
  private[graft] val streamPqFlipSql = {
    val offSql = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""WITH q AS (SELECT vec_id FROM embeddings
       |           WHERE vec_id % $BatchQueryMod = 0)
       |SELECT CAST(1 AS BIGINT) AS phase, vec_id AS query_id,
       |  vec_id + ($offSql) AS top1_id FROM q
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), vec_id,
       |  CASE WHEN vec_id % ${2 * BatchQueryMod} = 0
       |       THEN vec_id + 2 * ($offSql)
       |       ELSE vec_id + ($offSql) END FROM q
       |ORDER BY phase, query_id""".stripMargin
  }

  /** e24's oracle: e21's selective closed form minus the cosine column
    * (the ADC serve emits ids only). Shared verbatim by s31's streaming
    * query-side PQ serve — the batch and live ADC paths cannot drift. */
  private[graft] val tombstonePqServeSql = {
    val offSql = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""SELECT vec_id AS query_id,
      |  CASE WHEN vec_id % ${2 * BatchQueryMod} = 0
      |       THEN vec_id + 2 * ($offSql)
      |       ELSE vec_id + ($offSql) END AS top1_id
      |FROM embeddings WHERE vec_id % $BatchQueryMod = 0
      |ORDER BY query_id""".stripMargin
  }

  /** e25 — tombstone DELETE folded PHYSICALLY by PQ compaction (e22's
    * posture for the COMPRESSED corpus, r15 ADVICE: compactPqAppends'
    * tombstoneRoot branch — including the assigned-side anti-join —
    * had no caller, so drift in exactly the path a PQ fleet's janitor
    * runs would go unnoticed): the base IVF-PQ artifact is persisted,
    * BOTH planted copies arrive as PQ-CODED append batches through
    * [[graft.api.IvfStore.appendPqBatch]] (loaded quantizer + loaded
    * codebooks, no refit — committed rows are M small ints), the
    * selective takedown set commits to the log, and
    * [[graft.api.IvfStore.compactPqAppends]] folds codes ∪ appends
    * MINUS tombstones into ONE new versioned artifact — tombstoned
    * rows leave BOTH sides (codes/ and assigned/; a takedown surviving
    * in either is not a delete). The ADC serve against the LOADED
    * COMPACTED artifact runs with NO tombstone filter, so a fold that
    * leaves any tombstoned code row resurfaces the first twin and
    * breaks the hash; e24's selective closed form otherwise transfers
    * verbatim (the logical and physical PQ delete paths must agree
    * row-for-row).
    *
    * 100 TB shape: e23's fold (union-scan + rewrite over M-small-int
    * code rows, janitor cadence) plus one ids-sized broadcast
    * anti-join per side; the serve plans ONE codes relation again. */
  def annPqTombstoneCompact(s: SparkSession, d: String): DataFrame = {
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.Base)
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cells = index.model.getK
    val root = indexTmpBase(s, d, "e25")
    val baseDir = graft.api.IvfStore.versionedPqDir(
      s"$root/base", cells, PqSubspaces, PqCodes, IndexDate)
    // the base artifact is the compactor's INPUT (e23's billing)
    graft.api.IvfStore.savePqOnce(baseDir, index, pq, codes)
    val (li, lp, _) = graft.api.IvfStore.loadPq(s, baseDir, PqSubspaces)
    val appendRoot = s"$root/append"
    graft.api.IvfStore.appendPqBatch(appendRoot,
      base.select((col("vec_id") + lit(off)).as("vec_id"), col("embedding")),
      0L, li.model, lp)
    graft.api.IvfStore.appendPqBatch(appendRoot,
      base.select((col("vec_id") + lit(2 * off)).as("vec_id"),
        col("embedding")),
      1L, li.model, lp)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    val outDir = graft.api.IvfStore.versionedPqDir(
      s"$root/compacted", cells, PqSubspaces, PqCodes, IndexDate)
    graft.api.IvfStore.compactPqAppends(s, baseDir, appendRoot, outDir,
      PqSubspaces, Some(tombRoot))
    val (ci, cp, cc) = graft.api.IvfStore.loadPq(s, outDir, PqSubspaces)
    adcServe(ci, cp, cc, off)
  }

  /** e22 — tombstone DELETE folded PHYSICALLY by compaction (e21's log
    * honored by e20's fold): base index stored, BOTH planted copies
    * committed as separate append batches through the shared
    * [[graft.api.IvfStore.appendBatch]] API, the same selective
    * takedown set committed to the log, and
    * [[graft.api.IvfStore.compactAppends]] folds base + appends MINUS
    * tombstones into ONE new versioned artifact — the serve against the
    * LOADED COMPACTED store runs with NO tombstone filter, so a
    * compaction that leaves any tombstoned row in the artifact (or
    * over-deletes a surviving one) breaks this hash instead of a
    * takedown silently not taking. e21's closed-form oracle verbatim:
    * the logical and physical delete paths must agree row-for-row.
    *
    * 100 TB shape: the fold is e20's one union-scan + rewrite with an
    * ids-sized broadcast anti-join added — janitor cadence; after
    * adoption the tombstone log's folded entries are garbage. */
  def annTombstoneCompact(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val shared = sharedIndex(s, d, Geometry.Base)
    val (cells, off) = (shared.cells, shared.off)
    val root = indexTmpBase(s, d, "e22")
    val baseDir = graft.api.IvfStore.versionedDir(s"$root/base", cells,
      IndexDate)
    // the base artifact is the compactor's INPUT (e23's billing)
    graft.api.IvfStore.saveOnce(baseDir, shared.index)
    val loaded = graft.api.IvfStore.load(s, baseDir)
    val appendRoot = s"$root/append"
    graft.api.IvfStore.appendBatch(appendRoot,
      base.select((col("vec_id") + lit(off)).as("vec_id"), col("embedding")),
      0L, loaded.model)
    graft.api.IvfStore.appendBatch(appendRoot,
      base.select((col("vec_id") + lit(2 * off)).as("vec_id"),
        col("embedding")),
      1L, loaded.model)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    val outDir = graft.api.IvfStore.versionedDir(s"$root/compacted", cells,
      IndexDate)
    graft.api.IvfStore.compactAppends(s, baseDir, appendRoot, outDir,
      Some(tombRoot))
    batchServeAgainst(graft.api.IvfStore.load(s, outDir), off)
  }

  /** e27 — versioned ADOPTION and ROLLBACK through an atomic CURRENT
    * pointer ([[graft.api.ServePointer]] — the operational switch the
    * versioned stores implied but nothing provided: compactions and
    * rebuilds write NEW immutable dirs, e25 proved a pinned reader is
    * isolated from a concurrent fold, and this row witnesses the
    * missing stage — WHICH version the fleet serves, how a rollout
    * lands, and how a bad artifact is reverted without a rebuild):
    *
    *   phase 1 — v1 (the e21 double-planted index) is ADOPTED and
    *     served via the pointer: top-1 = the first twin (+off)
    *     everywhere, cosine 1.0;
    *   phase 2 — the tombstone log is folded physically into v2
    *     (e22's compaction, a DIFFERENT versioned dir), v2 is adopted
    *     (staged rollout), and the pointer-resolved serve flips to the
    *     surviving twin (+2·off) exactly on the taken-down queries;
    *   phase 3 — ROLLBACK: v1 is re-adopted (a NEW pointer version —
    *     the audit trail records the revert) and the serve is
    *     byte-identical to phase 1, proving v1 was untouched by the
    *     fold and the revert needs no data movement at all.
    *
    * Every phase serves the PHYSICAL artifact the pointer names with
    * NO serve-time tombstone filter: a fold that mutates v1 in place,
    * a pointer that resolves stale, or a non-atomic adoption each
    * breaks a phase's rows. Closed form per (phase, query).
    *
    * 100 TB shape: adoption/rollback move one kilobyte-scale pointer
    * file — never data; the serves are e13's plan against whichever
    * dir the pointer names. */
  def annVersionRollback(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val shared = sharedIndex(s, d, Geometry.DoublePlanted)
    val (cells, off) = (shared.cells, shared.off)
    val root = indexTmpBase(s, d, "e27")
    val v1 = graft.api.IvfStore.versionedDir(root, cells, IndexDate)
    graft.api.IvfStore.saveOnce(v1, shared.index)
    val tombRoot = s"$root/tombstones"
    graft.api.IvfStore.appendTombstones(tombRoot, tombstoneIds(base, off), 0L)
    val v2 = graft.api.IvfStore.versionedDir(root, cells,
      IndexDate.plusDays(1))
    if (!graft.api.IvfStore.isSaved(v2))
      graft.api.IvfStore.compactAppends(s, v1, s"$root/no_appends", v2,
        Some(tombRoot))
    val ptr = s"$root/pointer"
    def serveCurrent(phase: Long): DataFrame = {
      val dir = graft.api.ServePointer.current(ptr).getOrElse(
        sys.error(s"no adopted version under $ptr"))
      batchServeAgainst(graft.api.IvfStore.load(s, dir), off)
        .select(lit(phase).as("phase"), col("query_id"), col("top1_id"),
          col("cos_sim"))
    }
    graft.api.ServePointer.adopt(ptr, v1)
    val p1 = serveCurrent(1L)
    graft.api.ServePointer.adopt(ptr, v2) // staged rollout of the fold
    val p2 = serveCurrent(2L)
    graft.api.ServePointer.adopt(ptr, v1) // emergency ROLLBACK
    val p3 = serveCurrent(3L)
    p1.unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("query_id"))
  }

  /** e27's oracle: phase 1 and 3 are e13's doubled-union closed form
    * (first twin wins the tie-break), phase 2 is e21's post-takedown
    * form — phases 1 and 3 IDENTICAL by construction (the rollback
    * guarantee stated row-for-row). */
  private val versionRollbackSql = {
    val offSql = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""WITH q AS (SELECT vec_id FROM embeddings
       |           WHERE vec_id % $BatchQueryMod = 0),
       |phases AS (
       |  SELECT CAST(1 AS BIGINT) AS phase, vec_id AS query_id,
       |    vec_id + ($offSql) AS top1_id, 1.0 AS cos_sim FROM q
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), vec_id,
       |    CASE WHEN vec_id % ${2 * BatchQueryMod} = 0
       |         THEN vec_id + 2 * ($offSql)
       |         ELSE vec_id + ($offSql) END, 1.0 FROM q
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), vec_id,
       |    vec_id + ($offSql), 1.0 FROM q)
       |SELECT phase, query_id, top1_id, cos_sim
       |FROM phases ORDER BY phase, query_id""".stripMargin
  }

  /** s36's oracle — e27's closed form restricted to its first two
    * phases (the stream drains once; rollback is e27's business):
    * pre-flip batches answer from v1's twins (+off everywhere),
    * post-flip from v2's (the takedown flip on queries ≡ 0 mod
    * 2·[[BatchQueryMod]]). */
  private[graft] val pointerFlipSql = {
    val offSql = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""WITH q AS (SELECT vec_id FROM embeddings
       |           WHERE vec_id % $BatchQueryMod = 0),
       |phases AS (
       |  SELECT CAST(1 AS BIGINT) AS phase, vec_id AS query_id,
       |    vec_id + ($offSql) AS top1_id, 1.0 AS cos_sim FROM q
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), vec_id,
       |    CASE WHEN vec_id % ${2 * BatchQueryMod} = 0
       |         THEN vec_id + 2 * ($offSql)
       |         ELSE vec_id + ($offSql) END, 1.0 FROM q)
       |SELECT phase, query_id, top1_id, cos_sim
       |FROM phases ORDER BY phase, query_id""".stripMargin
  }

  /** e28 — the JANITOR'S MAINTENANCE DAY as one oracled row, on the
    * IVF family ([[graft.api.CompactionPolicy.maintenanceDay]]):
    *
    *   day 0 — the base artifact is adopted through the pointer
    *     (what the fleet serves before any debt accrues);
    *   debt — two twin append batches and one takedown batch commit
    *     through the stores' atomic manifests (e22's geometry);
    *   trigger — [[graft.api.CompactionPolicy.due]] evaluates the REAL
    *     manifests (2 appends ≥ max 2, 1 tombstone ≥ max 1) and the
    *     fold runs ONLY if it fires — a policy that under-counts debt
    *     leaves the serve on the twin-less base artifact and breaks
    *     every query's hash;
    *   fold — [[graft.api.IvfStore.compactAppends]] folds base ∪
    *     appends MINUS tombstones into a NEW versioned dir;
    *   adopt — the pointer flips to the fold (day 0's dir stays
    *     inside the rollback window);
    *   retire — the folded append + tombstone roots are deleted
    *     (their manifests' replay protection died WITH the fold — the
    *     upstream checkpoint passed batch 0/1), and the pointer
    *     history is pruned to the rollback horizon;
    *   serve — e13's batch against whatever the pointer names, NO
    *     serve-time tombstone filter.
    *
    * e21/e22's closed form transfers across the WHOLE loop: a janitor
    * that breaks the artifact at any stage breaks the hash. The loop
    * runs once per session; replays serve the adopted fold directly.
    *
    * 100 TB shape: the trigger reads two kilobyte manifests; the fold
    * is the one union-scan + rewrite the janitor was already paying
    * for; adoption moves a pointer file; retirement deletes dirs whose
    * bytes the fold already re-homed. Nothing corpus-sized moves
    * outside the fold. */
  def annJanitorCycle(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val shared = sharedIndex(s, d, Geometry.Base)
    val (cells, off) = (shared.cells, shared.off)
    val root = indexTmpBase(s, d, "e28")
    val v1 = graft.api.IvfStore.versionedDir(s"$root/base", cells, IndexDate)
    val dir = graft.api.CompactionPolicy.maintenanceDay(s, graft.api.IvfStore,
        root, v1, graft.api.IvfStore.versionedDir(s"$root/fold", cells,
          IndexDate.plusDays(1)),
        maxAppendBatches = 2, maxTombstoneBatches = 1)(
        graft.api.IvfStore.save(v1, shared.index)) { (appendRoot, tombRoot) =>
      val model = graft.api.IvfStore.load(s, v1).model
      for (b <- Seq(0L, 1L))
        graft.api.IvfStore.appendBatch(appendRoot,
          base.select((col("vec_id") + lit((b + 1) * off)).as("vec_id"),
            col("embedding")), b, model)
      graft.api.IvfStore.appendTombstones(tombRoot,
        tombstoneIds(base, off), 0L)
    }
    batchServeAgainst(graft.api.IvfStore.load(s, dir), off)
  }

  /** e29 — QUANTIZER-SURFACE right-to-be-forgotten (m18/t25's refit
    * loop on the third fitted artifact: the IVF coarse quantizer — and
    * via the identical build path, the PQ codebooks — was FIT on
    * vectors that included later-deleted ones;
    * e21/e22 delete the vectors FROM the index but the codebook
    * geometry still reflects them): the pre-takedown v1 index is
    * built on embeddings ∪ max(64, n/10) planted copies of one
    * far-out point (every coordinate 10.0 while the corpus is
    * unit-scale — an isolated 10%-mass cluster the seeded k-means
    * provably dedicates a centroid to, since any mixed assignment
    * leaves a cost term ~100·dim per planted copy); the takedown
    * removes them; the refit on survivors IS the session's shared
    * base-geometry [[sharedIndex]]. Both versions are saved through
    * [[graft.api.IvfStore]] and adopted v1 → v2 behind a
    * [[graft.api.ServePointer]]; the audit emits the relational
    * membership counts (planted ids in the loaded v1 assignment =
    * the closed-form plant count; zero in the pointer-resolved
    * current one; survivor count = the corpus), the codebook
    * geometry flags (some v1 centroid inside the plant's half-radius
    * ball; EVERY refit centroid outside it — the refit's centroids
    * are means of unit-scale survivors, so clearance is convexity,
    * not luck), served-is-refit (center-for-center identity with the
    * shared base build), and the rollback-window protection.
    *
    * 100 TB shape: the refit pays one quantizer fit over survivors —
    * the cost floor for honoring a takedown in codebook weights (the
    * same FAISS-posture sample bound applies, [[pqTrainInput]]);
    * membership counts are column-pruned scans of the assigned
    * relation; the geometry audit is driver-side over ≤ cells
    * centers. */
  def quantizerForget(s: SparkSession, d: String): DataFrame = {
    import graft.api.{IvfStore, ServePointer}
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // survivors = the shared base build
    val shared = sharedIndex(s, d, Geometry.Base)
    val (cells, off) = (shared.cells, shared.off)
    val p = math.max(64L, shared.n / 10L)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val planted = s.range(p).select((col("id") + lit(off)).as("vec_id"),
      array_repeat(lit(10.0f), dim).as("embedding"))
    val root = indexTmpBase(s, d, "e29")
    val ptr = s"$root/pointer"
    val v1 = IvfStore.versionedDir(s"$root/pre", cells, IndexDate)
    val v2 = IvfStore.versionedDir(s"$root/refit", cells,
      IndexDate.plusDays(1))
    val v2n = java.nio.file.Paths.get(v2).toAbsolutePath.normalize().toString
    val preIdx = graft.api.Intermediates.memo(s, s"e29-fit|$d|$cells") {
      ivfBuild(base.unionByName(planted), cells)
    }
    val refit = shared.index
    IvfStore.saveOnce(v1, preIdx)
    if (!ServePointer.current(ptr).contains(v2n))
      ServePointer.adopt(ptr, v1) // replays keep the flip (s38 posture)
    IvfStore.saveOnce(v2, refit)
    ServePointer.adopt(ptr, v2)
    val served = IvfStore.load(s, ServePointer.current(ptr).getOrElse(
      sys.error(s"no adopted quantizer version under $ptr")))
    val before = IvfStore.load(s, v1)
    val nPlantedBefore = before.assigned.filter(col("vec_id") >= off).count()
    val nPlantedAfter = served.assigned.filter(col("vec_id") >= off).count()
    val nAfter = served.assigned.count()
    import org.apache.spark.ml.linalg.Vectors
    // the quantizer is a COSINE quantizer (ivfBuild L2-normalizes), so
    // the plant's identity on the sphere is its DIRECTION: all-ones,
    // normalized. The corpus is isotropic mean-zero (organic |cos| to
    // all-ones ≲ 0.45 at every SF), so sqdist(c, u) = |c|²+1−2c·u
    // stays ≥ ~0.8 for any mean-of-survivors centroid, while the pure
    // plant cell's centroid is u exactly — 0.5 splits the two regimes
    // with margin on both sides
    val plantVec = Vectors.dense(Array.fill(dim)(1.0 / math.sqrt(dim.toDouble)))
    val halfSq = 0.5
    val shapedBefore =
      if (before.model.clusterCenters
        .exists(c => Vectors.sqdist(c, plantVec) < halfSq)) 1L else 0L
    val clearedAfter =
      if (served.model.clusterCenters
        .forall(c => Vectors.sqdist(c, plantVec) > halfSq)) 1L else 0L
    val servedIsRefit =
      if (served.model.clusterCenters.toSeq ==
        refit.model.clusterCenters.toSeq) 1L else 0L
    val priorProtected =
      if (ServePointer.retirable(ptr, Seq(v1, v2), keepLast = 2).isEmpty)
        1L else 0L
    val ptrVersion = ServePointer.history(ptr).last._1.toLong
    import s.implicits._
    Seq((nPlantedBefore, nPlantedAfter, nAfter, shapedBefore, clearedAfter,
      servedIsRefit, priorProtected, ptrVersion))
      .toDF("n_planted_before", "n_planted_after", "n_after",
        "codebook_shaped_before", "codebook_cleared_after",
        "served_is_refit", "prior_protected", "ptr_version")
  }

// the gate chain releases the working tree.

  /** e30 — PQ-CODEBOOK right-to-be-forgotten (e29's refit loop on the
    * LAST fitted artifact: e29 witnesses the coarse quantizer, but the
    * per-subspace PQ codebooks are their own trained model — fit by
    * [[pqTrain]] on the corpus sample — and a codebook trained before
    * a takedown still has a code dedicated to the forgotten cluster):
    * v1 = the FULL compressed stack (coarse quantizer + M codebooks +
    * corpus codes) built on embeddings ∪ the e29 plant (max(64, n/10)
    * copies of the 10·e1 point, whose energy lives in subspace 0);
    * the takedown removes them; the refit on survivors IS the
    * session's shared base-geometry [[sharedPq]] stack. Both versions are saved
    * through [[graft.api.IvfStore.savePq]] and adopted v1 → v2 behind
    * a [[graft.api.ServePointer]]. Audit:
    *  - relational: planted ids in the loaded v1 codes = the
    *    closed-form plant count; zero in the pointer-resolved current
    *    codes; survivor code count = the corpus census;
    *  - codebook geometry, anchored on the plant's ENERGY subspace
    *    (subspace 0 — see the plant construction note): v1's
    *    subspace-0 codebook holds a code inside the plant subvector's
    *    0.2-radius ball (the 10%-mass isolated point draws a pure
    *    code); the served refit's holds NONE (an organic code is a
    *    mean of subvectors with first coordinate ≲ 0.5, which cannot
    *    approach the unit e1 closer than ~0.5);
    *  - served_is_refit: codebooks center-for-center the shared base
    *    stack's, all M subspaces;
    *  - v1 window-protected (rollback still possible).
    *
    * 100 TB shape: the refit is M bounded-sample k-means fits (the
    * [[PqTrainSample]] FAISS posture); code membership is a
    * column-pruned scan; the geometry audit is driver-side over
    * M × K centers. */
  def pqForget(s: SparkSession, d: String): DataFrame = {
    import graft.api.{IvfStore, ServePointer}
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(base, "vec_id"))
    val n = corpusCount(s, d)
    val p = math.max(64L, n / 10L)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    // the plant's ENERGY lives in one subspace: embedding = 10·e1,
    // which normalizes to the basis direction (1,0,…,0). In the full
    // 64-dim space that is an isolated direction (organic first
    // coordinates of unit vectors are ~N(0, 1/dim)); in SUBSPACE 0 its
    // subvector is the unit e1 of R^{dim/M} while every organic
    // subvector has norm ≲ 0.6 — so the geometric witness anchors on
    // the energy subspace (the other subspaces see the plant as the
    // zero vector, indistinguishable from small organic subvectors,
    // which is exactly why an all-ones plant cannot witness there)
    val planted = s.range(p).select((col("id") + lit(off)).as("vec_id"),
      array((lit(10.0f) +: Seq.fill(dim - 1)(lit(0.0f))): _*).as("embedding"))
    val cells = Geometry.Base.cellsFor(n)
    val m = PqSubspaces
    val root = indexTmpBase(s, d, "e30")
    val ptr = s"$root/pointer"
    val v1 = IvfStore.versionedPqDir(s"$root/pre", cells, m, PqCodes,
      IndexDate)
    val v2 = IvfStore.versionedPqDir(s"$root/refit", cells, m, PqCodes,
      IndexDate.plusDays(1))
    val v2n = java.nio.file.Paths.get(v2).toAbsolutePath.normalize().toString
    val (preIdx, prePq, preCodes) = graft.api.Intermediates.memo(s,
        s"e30-fit|$d|$cells") {
      val idx = ivfBuild(base.unionByName(planted), cells)
      val pq = pqTrain(idx.assigned, dim)
      (idx, pq, pqEncode(idx.assigned, pq, dim).localCheckpoint())
    }
    val (refitIdx, refitPq, refitCodes, _) = sharedPq(s, d, Geometry.Base)
    IvfStore.savePqOnce(v1, preIdx, prePq, preCodes)
    if (!ServePointer.current(ptr).contains(v2n))
      ServePointer.adopt(ptr, v1) // replays keep the flip (s38 posture)
    IvfStore.savePqOnce(v2, refitIdx, refitPq, refitCodes)
    ServePointer.adopt(ptr, v2)
    val (_, servedPq, servedCodes) = IvfStore.loadPq(s,
      ServePointer.current(ptr).getOrElse(
        sys.error(s"no adopted PQ version under $ptr")), m)
    val (_, beforePq, beforeCodes) = IvfStore.loadPq(s, v1, m)
    val nPlantedBefore = beforeCodes.filter(col("vec_id") >= off).count()
    val nPlantedAfter = servedCodes.filter(col("vec_id") >= off).count()
    val nAfter = servedCodes.count()
    import org.apache.spark.ml.linalg.Vectors
    val sub = dim / m
    // subspace 0's plant subvector is e1 of R^sub; a pure-plant code
    // sits ON it, while any organic code is a mean of subvectors whose
    // first coordinate is ≲ 0.5 — sqdist ≥ 1 − 2c₀ + |c|² ≥ ~0.25,
    // so 0.04 (dist 0.2) splits the regimes with margin on both sides
    val plantSub = Vectors.dense(
      (1.0 +: Seq.fill(sub - 1)(0.0)).toArray)
    val shapedBefore =
      if (beforePq.models.head.clusterCenters
        .exists(c => Vectors.sqdist(c, plantSub) < 0.04)) 1L else 0L
    val clearedAfter =
      if (servedPq.models.head.clusterCenters
        .forall(c => Vectors.sqdist(c, plantSub) > 0.04)) 1L else 0L
    val servedIsRefit =
      if (servedPq.models.map(_.clusterCenters.toSeq) ==
        refitPq.models.map(_.clusterCenters.toSeq)) 1L else 0L
    val priorProtected =
      if (ServePointer.retirable(ptr, Seq(v1, v2), keepLast = 2).isEmpty)
        1L else 0L
    val ptrVersion = ServePointer.history(ptr).last._1.toLong
    import s.implicits._
    Seq((nPlantedBefore, nPlantedAfter, nAfter, shapedBefore, clearedAfter,
      servedIsRefit, priorProtected, ptrVersion))
      .toDF("n_planted_before", "n_planted_after", "n_after",
        "codebook_shaped_before", "codebook_cleared_after",
        "served_is_refit", "prior_protected", "ptr_version")
  }

  /** e30's oracle — e29's frame, verbatim. */
  private def pqForgetSql: String = quantizerForgetSql

  /** e29's oracle: the membership counts are relational (the plant
    * count formula and the survivor census), the geometry/lifecycle
    * flags the bound frame. */
  private val quantizerForgetSql =
    """SELECT
      |  CAST(greatest(64, (SELECT count(*) FROM embeddings) // 10)
      |    AS BIGINT) AS n_planted_before,
      |  CAST(0 AS BIGINT) AS n_planted_after,
      |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_after,
      |  CAST(1 AS BIGINT) AS codebook_shaped_before,
      |  CAST(1 AS BIGINT) AS codebook_cleared_after,
      |  CAST(1 AS BIGINT) AS served_is_refit,
      |  CAST(1 AS BIGINT) AS prior_protected,
      |  CAST(2 AS BIGINT) AS ptr_version""".stripMargin

  /** c09/s35's semantic-admission threshold — e10's SemDeDup operating
    * point (a pair ≥ this cosine is the same content re-embedded). */
  private[graft] val AdmitTau = 0.95

  /** The multi-probe semantic gate shared by c09's two phases and
    * s35's live path: the exact serve scorer ([[exactCandidates]]) over
    * the index relation, kept where a probed candidate scores ≥
    * [[AdmitTau]]. A stored vector under the query's own id counts as a
    * candidate: a re-embed resubmitted under an indexed id is caught
    * here. Emits one row per qualifying (query, candidate) as
    * the query's `vec_id` — NO distinct, so the plan stays STATELESS on
    * a streaming input (the vec side's semantic gate;
    * [[Gates.firstGate]] dedups, batch or after the drain). */
  private[graft] def semanticGateCandidates(s: SparkSession,
      queries: DataFrame, indexRel: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame =
    exactCandidates(s, model, indexRel, queries)
      .filter(col("cos_sim") >= AdmitTau)
      .select(col("query_id").as("vec_id"))

  private[graft] def semanticGateHits(s: SparkSession, queries: DataFrame,
      indexRel: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame =
    semanticGateCandidates(s, queries, indexRel, model).distinct()

  /** c09/s35's incoming vector increment over any (vec_id, embedding)
    * relation — byte-identical re-embeds of vec_id < 200 at +off,
    * 0.999-scaled re-embeds of [200,400) at +2·off, dimension-REVERSED
    * copies of everything at +3·off (the novel class). ONE construction
    * for the batch row (which checkpoints it) and the stream (which
    * cannot). Reversal, not a roll: a coordinate REFLECTION of
    * isotropic noise is isotropic noise again, but unlike a cyclic
    * roll it lies OUTSIDE the 20x scale corpus's own transform group
    * (ScaleProbe's blow-up copies are dimension rolls — a rolled
    * "novel" vector would alias byte-for-byte into another corpus copy
    * there, which is exactly what the 20x receipt caught). */
  private[graft] def admissionVecBatch(base: DataFrame,
      off: Long): DataFrame = {
    val scaledEmb = transform(col("embedding"), v => v * lit(0.999f))
    base.filter(col("vec_id") < 200)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
      .unionByName(base
        .filter(col("vec_id") >= 200 && col("vec_id") < 400)
        .select((col("vec_id") + lit(2 * off)).as("vec_id"),
          scaledEmb.as("embedding")))
      .unionByName(base
        .select((col("vec_id") + lit(3 * off)).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
  }

  /** c09 — embedding-side crawl ADMISSION (c08's composed waterfall on
    * the vec-keyed half, completing the admission story across BOTH
    * key spaces: a multimodal crawl increment ships documents AND
    * their embeddings, and the vector store runs its own gates):
    *
    *   phase 1 — the incoming vector batch is three planted classes:
    *     byte-identical re-embeds of vec_id < 200 at +off (the exact
    *     re-fetch — gate 1: hash-join on xxhash64(embedding) against
    *     the stored corpus, VERIFIED by exact array equality), 0.999-
    *     scaled re-embeds of [200,400) at +2·off (new bytes, cosine
    *     1.0 — gate 2: [[semanticGateHits]] against the LOADED
    *     artifact), and dimension-REVERSED copies of the whole corpus at
    *     +3·off (a coordinate reflection of isotropic noise is
    *     isotropic noise again — genuinely novel, admitted; a
    *     reflection, unlike a roll, is outside the 20x scale corpus's
    *     own transform group, so the novelty survives that receipt);
    *   commit — survivors appended through
    *     [[graft.api.IvfStore.appendBatch]] (loaded quantizer's own
    *     assignment, atomic manifest, replay-safe);
    *   phase 2 — a 0.999-scaled re-embed of EVERY admitted vector
    *     probes base ∪ committedAppends: all rejected, and only the
    *     APPENDED rows can reject them (nothing in the base index is
    *     within τ of a reversed vector) — the commit is load-bearing.
    *
    * Closed form throughout (e10's planted discipline: identical
    * features share the source's cell deterministically, the source's
    * own cell is always probed, cosine 1.0 ≥ τ; no native pair reaches
    * τ — ≤ 0.61 measured at every shipped SF — and a reversed isotropic
    * vector is just another native vector to the index).
    *
    * 100 TB shape: gate 1 is a uniform 64-bit hash equi-join with an
    * equality verify; gate 2 probes IvfProbes/cells of the corpus per
    * query (the serving fleet's own read path); the commit writes one
    * batch-sized artifact through the manifest CAS. */
  /** The vec-admission base ARTIFACT (the c09-family serving index —
    * built once per session under the c09 root, loaded per caller) and
    * the vec plant offset. Shared by c09's waterfall, c11's handoff,
    * c12's multimodal pair admission and their streamed twins s35/s37. */
  private[graft] def vecAdmissionArtifact(s: SparkSession, d: String)
      : (IvfIndex, Long) = {
    val shared = sharedIndex(s, d, Geometry.Base)
    val off = shared.off
    val dir = graft.api.IvfStore.versionedDir(indexTmpBase(s, d, "c09"),
      shared.cells, IndexDate)
    graft.api.IvfStore.saveOnce(dir, shared.index)
    (graft.api.IvfStore.load(s, dir), off)
  }

  /** c09's two vec gates over a static (vec_id, embedding) increment
    * — returns (vec_id, embedding, gate) with gate ∈ {1_exact,
    * 2_semantic, admitted}. c09's planted increment and c12's paired
    * one call this; s35/s37 drain the same two gates and attribute
    * through the same [[Gates.vecFirstGate]]. */
  private[graft] def vecGateAttribution(s: SparkSession, batch: DataFrame,
      base: DataFrame, loaded: IvfIndex): DataFrame =
    Gates.vecFirstGate(batch, Gates.vecExactFlags(batch, base),
      semanticGateCandidates(s, batch, loaded.assigned, loaded.model))

  /** c09's attributed increment WITH its commit, memoized per session
    * — the shared artifact between c09's histogram row and c11's
    * trainer handoff (ONE waterfall, billed once): the base-corpus
    * index artifact is built/loaded, both
    * gates run over [[admissionVecBatch]], and the admitted survivors
    * are committed through [[graft.api.IvfStore.appendBatch]] (atomic
    * manifest, replay-safe — a second caller in the session reads the
    * committed batch, never re-commits). Returns (attributed
    * (vec_id, embedding, gate), loaded index, off). */
  private[graft] def admissionVecCommitted(s: SparkSession, d: String)
      : (DataFrame, IvfIndex, Long) =
    graft.api.Intermediates.memo(s, s"c09_attr|$d") {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val (loaded, off) = vecAdmissionArtifact(s, d)
      val root = indexTmpBase(s, d, "c09")
      val batch = admissionVecBatch(base, off).localCheckpoint()
      val attributed = vecGateAttribution(s, batch, base, loaded)
        .localCheckpoint()
      // the COMMIT: survivors enter the serving index
      graft.api.IvfStore.appendBatch(s"$root/append",
        attributed.filter(col("gate") === "admitted")
          .select(col("vec_id"), col("embedding")), 0L, loaded.model)
      (attributed, loaded, off)
    }

  def embeddingAdmission(s: SparkSession, d: String): DataFrame = {
    val (attributed, loaded, off) = admissionVecCommitted(s, d)
    val root = indexTmpBase(s, d, "c09")
    val scaledEmb = transform(col("embedding"), v => v * lit(0.999f))
    val admitted = attributed.filter(col("gate") === "admitted")
      .select(col("vec_id"), col("embedding"))
    val phase1 = PackOps.admissionHistogram(s, attributed,
      Seq("1_exact", "2_semantic"))
      .select(lit(1L).as("phase"), col("stage"), col("n_in"),
        col("n_rejected"), col("n_admitted"))
    val serveRel = loaded.assigned
      .select(col("vec_id"), col("embedding"), col("cell"))
      .unionByName(graft.api.IvfStore
        .committedAppends(s, s"$root/append")
        .select(col("vec_id"), col("embedding"), col("cell")))
    val resub = admitted.select(
      (col("vec_id") + lit(4 * off)).as("vec_id"),
      scaledEmb.as("embedding"))
    val r2 = semanticGateHits(s, resub, serveRel, loaded.model)
    phase1
      .unionByName(PackOps.resubmissionRow("1_resubmit_semantic", admitted, r2))
      .orderBy(col("phase"), col("stage"))
  }

  /** c09's oracle: pure planted arithmetic — the gates' outcomes are
    * fixed by construction (see [[embeddingAdmission]]), so every
    * count derives from the corpus size and the planted ranges. */
  private val embeddingAdmissionSql =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM embeddings),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM embeddings
       |      WHERE vec_id < 200),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM embeddings
       |      WHERE vec_id >= 200 AND vec_id < 400),
       |rows_all AS (
       |  SELECT CAST(1 AS BIGINT) AS phase, '1_exact' AS stage,
       |    (SELECT n1 FROM a) + (SELECT n2 FROM b) + (SELECT nb FROM n)
       |      AS n_in,
       |    (SELECT n1 FROM a) AS n_rejected,
       |    (SELECT n2 FROM b) + (SELECT nb FROM n) AS n_admitted
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), '2_semantic',
       |    (SELECT n2 FROM b) + (SELECT nb FROM n),
       |    (SELECT n2 FROM b), (SELECT nb FROM n)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '1_resubmit_semantic',
       |    (SELECT nb FROM n), (SELECT nb FROM n), CAST(0 AS BIGINT))
       |SELECT phase, stage, n_in, n_rejected, n_admitted
       |FROM rows_all ORDER BY phase, stage""".stripMargin

  /** s35's oracle: c09's phase-1 closed form without the phase column
    * — referenced by the streaming row in
    * [[graft.streaming.EventStreams]]. */
  private[graft] val streamEmbeddingAdmissionSql =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM embeddings),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM embeddings
       |      WHERE vec_id < 200),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM embeddings
       |      WHERE vec_id >= 200 AND vec_id < 400),
       |rows_all AS (
       |  SELECT '1_exact' AS stage,
       |    (SELECT n1 FROM a) + (SELECT n2 FROM b) + (SELECT nb FROM n)
       |      AS n_in,
       |    (SELECT n1 FROM a) AS n_rejected,
       |    (SELECT n2 FROM b) + (SELECT nb FROM n) AS n_admitted
       |  UNION ALL
       |  SELECT '2_semantic',
       |    (SELECT n2 FROM b) + (SELECT nb FROM n),
       |    (SELECT n2 FROM b), (SELECT nb FROM n))
       |SELECT stage, n_in, n_rejected, n_admitted
       |FROM rows_all ORDER BY stage""".stripMargin

  /** Neighbors served per query by e18's top-k list (k = 10 — the RAG /
    * k-NN-backfill regime the r13 verdict named). */
  val ServeTopK = 10

  /** e18 — TOP-K batch serving under the e05/X10 bound-contract
    * discipline at batch scale (real retrieval — RAG context assembly,
    * k-NN recommendation backfills, dedup-against-index review queues
    * — consumes top-k LISTS): the REAL serve path runs the exact scorer
    * e13/e14/e15 pin ([[exactCandidates]]) for the WHOLE batch, cut by
    * [[topK]] instead of [[top1]], and the emitted rows are the
    * deterministic EXACT top-[[ServeTopK]] per window query (brute
    * force over the planted union, rounded cosine, vec_id tie-break —
    * e01's discipline batched) with each exact neighbor flagged
    * `in_served_or_unprobed`:
    *
    *  - if the neighbor's cell IS in the query's probe set, it MUST
    *    appear in the served top-k — within the probed candidate subset
    *    its (cos desc, vec_id) rank can only improve on its global rank
    *    ≤ k, and the re-rank is exact, so absence is a
    *    probe/candidate-join/limit/rank BUG (e05's defining IVF
    *    guarantee, extended from one query to the whole batch);
    *  - if its cell is NOT probed, missing it is the documented IVF
    *    recall/latency trade and the flag passes unconditionally.
    *
    * The planted twin stays the closed-form anchor: every query's exact
    * rank 1 is its twin at cosine 1.0 (same argument as e13), which the
    * brute-force oracle reproduces organically. Queries are window-
    * capped (`vec_id < VerifyWindow.MaxId`) so the exact side stays
    * bounded at every SF; the SERVE side runs the full batch — the
    * graded subset is a projection of the real path, never a special
    * case (the d03/e04 bound posture).
    *
    * 100 TB shape: the serve side is e13's plan with a wider window
    * cut; the exact side is (window queries × union) through the
    * codegen'd cosine kernel — verification-scale by construction, and
    * at deployment the exact side is the offline eval job, not the
    * serving path. */
  def annTopkServeBound(s: SparkSession, d: String): DataFrame = {
    val shared = sharedIndex(s, d, Geometry.Planted)
    val (index, off) = (shared.index, shared.off)
    val queries = batchQueries(index, off)
    val served = topK(exactCandidates(s, index.model, index.assigned,
        queries), ServeTopK, col("cos_sim"))
      .select(col("query_id"), col("vec_id"), lit(1).as("__served"))
    val probed = probedQueries(s, index.model, queries)
      .select(col("query_id"), col("cell"), lit(1).as("__probed"))
    exactWindowTopK(index, off)
      .join(served, Seq("query_id", "vec_id"), "left")
      .join(probed, Seq("query_id", "cell"), "left")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos_sim"),
        when(col("__served").isNotNull || col("__probed").isNull, 1)
          .otherwise(0).as("in_served_or_unprobed"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The deterministic EXACT side shared by e18 and e19: per window
    * query, the brute-force top-[[ServeTopK]] over the union (rounded
    * cosine, vec_id tie-break — e01's discipline batched), with the
    * neighbor's cell carried for the probe-flag join. Window-capped so
    * the exact pass stays bounded at every SF. */
  private def exactWindowTopK(index: IvfIndex, off: Long): DataFrame = {
    val queriesWin = batchQueries(index, off)
      .filter(col("vec_id") < VerifyWindow.MaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    topK(index.assigned.select(col("vec_id"), col("embedding"), col("cell"))
        .crossJoin(broadcast(queriesWin))
        .select(col("query_id"), col("vec_id"), col("cell"),
          serveCosine.as("cos_sim")), ServeTopK, col("cos_sim"))
      .withColumnRenamed("rn", "rank")
  }

  /** ADC shortlist depth for e19's re-rank stage (R ≫ k: the shortlist
    * absorbs quantization mis-ranking so the exact re-rank can recover
    * the true order — Jégou et al.'s IVFADC-R parameterization). */
  val AdcShortlist = 50

  /** e19 — IVFADC-R: the COMPLETE production serving stack, composing
    * this family end-to-end (coarse probe → PQ-ADC shortlist → EXACT
    * re-rank → top-k list). e16 proved the ADC argmin finds the twin;
    * e18 proved the exact-scored top-k list; a deployed PQ fleet runs
    * BOTH stages — ADC cuts the candidate set to an R-deep shortlist
    * using only codes (bandwidth-cheap), then the re-rank stage fetches
    * the R raw vectors per query and scores them exactly (Jégou et
    * al. 2011's IVFADC-R). Emitted rows are e18's exact window top-k,
    * each flagged `in_served_or_unshortlisted`:
    *
    *  - a neighbor IN the ADC shortlist with global exact rank ≤ k
    *    MUST be served — within the shortlist its exact (cos desc,
    *    vec_id) rank can only improve, and the re-rank is exact, so
    *    absence is a shortlist-join/re-rank/limit BUG;
    *  - a neighbor NOT in the shortlist (unprobed cell, or probed but
    *    ADC-ranked past R) is the documented quantization recall trade
    *    and passes unconditionally — that trade is exactly what R
    *    tunes, and the spec pins its non-vacuity (the shortlist really
    *    contains deeper exact neighbors, not just the twin).
    *
    * The twin stays the closed-form anchor end-to-end: its ADC is the
    * global minimum (e16's argument) so it is ALWAYS shortlisted at
    * any R ≥ 1, and the exact re-rank puts it at rank 1, cosine 1.0.
    *
    * 100 TB shape: the ADC stage is e16's (codes ride the scoring
    * join, never embeddings); the re-rank joins |batch| × R code rows
    * back to raw vectors — an equi-join on vec_id, the only stage that
    * touches embeddings, sized by the shortlist, not the corpus. */
  def annIvfPqRerank(s: SparkSession, d: String): DataFrame = {
    val (index, pq, codes, off) = sharedPq(s, d, Geometry.Planted)
    val queries = batchQueries(index, off)
    val shortlist = topK(adcCandidates(s, index.model, pq, codes, queries),
        AdcShortlist, -col("adc"))
      .select(col("query_id"), col("vec_id"))
    val served = topK(shortlist
        .join(index.assigned.select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
        .join(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), serveCosine.as("cos_sim")),
        ServeTopK, col("cos_sim"))
      .select(col("query_id"), col("vec_id"), lit(1).as("__served"))
    val short = shortlist.select(col("query_id"), col("vec_id"),
      lit(1).as("__short"))
    exactWindowTopK(index, off)
      .join(served, Seq("query_id", "vec_id"), "left")
      .join(short, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos_sim"),
        when(col("__served").isNotNull || col("__short").isNull, 1)
          .otherwise(0).as("in_served_or_unshortlisted"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The e18/e19 oracle: exact top-k per window query over the union,
    * the bound flag pinned to 1 (see the operator docs for why a
    * probed/shortlisted exact neighbor is ALWAYS served on a correct
    * engine) — one generator, flag-name-parametric, so the two rows'
    * exact sides cannot drift. */
  private def exactTopkOracleSql(flag: String): String =
    s"""WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")},
      |    embedding
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      |      WHERE vec_id % $BatchQueryMod = 0
      |        AND vec_id < ${VerifyWindow.MaxId}),
      |z AS (SELECT q.query_id, u.vec_id,
      |        unnest(u.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
      |      FROM u JOIN q ON u.vec_id <> q.query_id),
      |s AS (SELECT query_id, vec_id, sum(x*y) AS dot,
      |        sqrt(sum(x*x)) AS nx, sqrt(sum(y*y)) AS ny
      |      FROM z GROUP BY query_id, vec_id),
      |r AS (SELECT query_id, vec_id, round(dot / (nx * ny), 6) AS cos_sim,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY round(dot / (nx * ny), 6) DESC, vec_id) AS rank
      |      FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_sim,
      |  1 AS $flag
      |FROM r WHERE rank <= $ServeTopK
      |ORDER BY query_id, rank""".stripMargin

  private val annTopkServeBoundSql =
    exactTopkOracleSql("in_served_or_unprobed")

  private val annIvfPqRerankSql =
    exactTopkOracleSql("in_served_or_unshortlisted")

  /** The degenerate-cell guard of the pair pass ([[multiProbeEdges]]):
    * cells past 16× the mean PRIMARY load (floor 4× the target cell
    * size) are the quantizer failing on a region, and their all-pairs
    * pass would be the one quadratic stage in the plan — excluded cells
    * keep their vectors un-deduped (self-component): graceful
    * degradation, loudly logged. The count is near-free (a 1-column agg
    * over ids). */
  private def admittedCells(primary: DataFrame, nTotal: Long,
                            nCells: Int): DataFrame = {
    val cap = DedupOps.scaledBucketCap(nTotal, nCells.toLong,
      4L * IvfTargetCellSize)
    // one row per cell — localCheckpoint so the hot-cell guard count and
    // the keep-joins read one materialized aggregation, not two passes
    // over the assignment (ADVICE r8)
    val cellSizes = primary.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
      .localCheckpoint()
    val hot = cellSizes.filter(col("cell_n") > cap).count()
    if (hot > 0)
      System.err.println(s"[semdedup] $hot/$nCells cells exceed the " +
        s"degenerate-cell cap ($cap) and are excluded from the pair pass")
    cellSizes.filter(col("cell_n") <= cap).select(col("cell"))
  }

  /** The IVF SERVE KERNELS. Every ANN serve composes them, batch rows
    * and streamed rows alike:
    *
    *  - [[probeCellsRowLocal]] — the one probe ranking;
    *  - [[probedQueries]] — a query relation under its probe cells;
    *  - [[exactCandidates]] — the one exact scorer, (query_id, vec_id,
    *    cos_sim) over the probed cells' vectors;
    *  - [[adcCandidates]] — the one ADC scorer, (query_id, vec_id, adc)
    *    over the probed cells' codes;
    *  - [[top1]] — the one top-1 tail, a max(struct) per query.
    *
    * Queries are any (vec_id, embedding) relation. STREAM-LEGAL: no
    * kernel body holds a window, `distinct`, `orderBy` or
    * `localCheckpoint`, so each runs unchanged on a static relation or
    * on a streaming micro-batch — s29/s31 drain [[top1]] in complete
    * mode, s36/s41/s42 run it inside each foreachBatch, and the batch
    * rows add only their final ORDER BY. The batch-only [[topK]] window
    * sits outside the contract: it cuts e18's served list, e19's
    * shortlist and re-rank and the exact side of both. Both tails rank
    * a higher-is-better score with ties to the smaller vec_id (an ADC
    * caller passes −adc).
    *
    * Both tails drop a query's own id as a candidate; the scorers keep
    * it, so the semantic gate still matches a resubmitted vector
    * against a stored copy under the same id.
    *
    * This one is the probe ranking: each query's `probes` nearest cells
    * by (sqdist, cell) over broadcast quantizer centers, reduced in the
    * query's own row (no window, no per-query shuffle before the
    * candidate join). A bounded insertion keeps the best `probes` in
    * one pass over the centers, O(cells · probes) with no per-center
    * allocation; the strict `<` keeps an equal distance behind the
    * smaller cell. The closed-form serve contracts need only rank 1
    * — the query's own cell. Cells-sized broadcast. */
  private[graft] def probeCellsRowLocal(s: SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel,
      probes: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val centers = centerBroadcasts.computeIfAbsent(
      s"${s.sparkContext.applicationId}|${model.uid}",
      _ => s.sparkContext.broadcast(model.clusterCenters))
    udf { f: Vector =>
      val cs = centers.value
      val dist = new Array[Double](probes)
      val cell = new Array[Int](probes)
      var n = 0
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        val x = Vectors.sqdist(c, f)
        var j = n
        while (j > 0 && x < dist(j - 1)) j -= 1
        if (j < probes) {
          val moved = math.min(n, probes - 1) - j
          System.arraycopy(dist, j, dist, j + 1, moved)
          System.arraycopy(cell, j, cell, j + 1, moved)
          dist(j) = x
          cell(j) = i
          n = math.min(n + 1, probes)
        }
        i += 1
      }
      cell.take(n).toSeq
    }
  }

  /** Per-(app, model) broadcast cache for [[probeCellsRowLocal]]: a
    * long-lived session invoking the serve rows repeatedly would
    * otherwise accumulate one undestroyed centers broadcast per
    * invocation. KMeansModel uids are unique per fit, so the key cannot
    * alias two center sets; entries die with the JVM (broadcasts are
    * invalidated when their SparkContext stops, which is also when the
    * app id stops being reachable). */
  private val centerBroadcasts = new java.util.concurrent.ConcurrentHashMap[
    String,
    org.apache.spark.broadcast.Broadcast[
      Array[org.apache.spark.ml.linalg.Vector]]]()

  /** A (vec_id, embedding) query relation under its `probes` nearest
    * cells: one (query_id, q_emb, q_feat, cell) row per probed cell,
    * plus whatever `perQuery` adds to the query row before the explode
    * (computed once per query, not once per probed cell). */
  private[graft] def probedQueries(s: SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel, queries: DataFrame,
      probes: Int = IvfProbes,
      perQuery: DataFrame => DataFrame = identity): DataFrame = {
    val topP = probeCellsRowLocal(s, model, probes)
    perQuery(queries
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          toFeatures(col("embedding")).as("q_feat")))
      .withColumn("cell", explode(topP(col("q_feat"))))
  }

  /** The serve cosine of a query (`q_emb`) and a candidate
    * (`embedding`), rounded as the oracles round it. */
  private val serveCosine: Column =
    round(fastCosine(col("q_emb"), col("embedding")), 6)

  /** The one EXACT scorer: every candidate in the query's
    * [[IvfProbes]] probed cells of `indexRel` (cell, vec_id, embedding),
    * scored by [[serveCosine]] — (query_id, vec_id, cos_sim).
    *
    * The probe join's work is candidate-pair compute (every (query
    * probe, cell member) pair pays an exact 64-dim cosine), not bytes:
    * AQE's size-based coalescing sees a few MB of shuffle and would
    * fold the join to 1-2 partitions, serializing the cosines (compute
    * skew the byte stats can't see). An explicit
    * repartition of BOTH sides on the join key keeps the width at the
    * session's parallelism — user-specified widths are what AQE's
    * coalescer leaves alone, and the join reuses these exchanges. */
  private[graft] def exactCandidates(s: SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel, indexRel: DataFrame,
      queries: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    probedQueries(s, model, queries)
      .repartition(p, col("cell"))
      .join(indexRel.select(col("cell"), col("vec_id"), col("embedding"))
        .repartition(p, col("cell")), Seq("cell"))
      .select(col("query_id"), col("vec_id"), serveCosine.as("cos_sim"))
  }

  /** The one ADC scorer against (quantizer, codebooks, codes): each
    * probed query row carries its ADC lookup table ([[adcLutRowLocal]])
    * and equi-joins the code rows of its cell (M small ints — raw
    * embeddings never ride the scoring join); the ADC is M carried-array
    * lookups summed in a fixed m order, so candidates holding identical
    * codes tie exactly. Emits (query_id, vec_id, adc). */
  private[graft] def adcCandidates(s: SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel, pq: PqModel,
      servedCodes: DataFrame, queries: DataFrame): DataFrame = {
    val lut = adcLutRowLocal(s, pq)
    val adcExpr = (0 until PqSubspaces)
      .map(mi => element_at(col("lut"),
        col(s"code$mi") + lit(mi * PqCodes + 1)))
      .reduce(_ + _)
    probedQueries(s, model, queries,
        perQuery = _.withColumn("lut", lut(col("q_feat"))))
      .select(col("query_id"), col("lut"), col("cell"))
      .join(servedCodes, Seq("cell"))
      .select(col("query_id"), col("vec_id"), adcExpr.as("adc"))
  }

  /** Per-(app, codebooks) broadcast cache for [[adcLutRowLocal]] —
    * the [[centerBroadcasts]] discipline for the PQ side. */
  private val codebookBroadcasts = new java.util.concurrent.ConcurrentHashMap[
    String,
    org.apache.spark.broadcast.Broadcast[
      Array[Array[(Array[Double], Double)]]]]()

  /** ROW-LOCAL ADC lookup-table function over broadcast PQ codebooks:
    * each query row carries its flattened M×K table of
    * d2[m][k] = ‖c_mk‖² − 2·q_m·c_mk. The per-query ‖q_m‖² terms are
    * constant across candidates and cancel in the argmin. Kilobytes
    * broadcast (M×K centroids); the carried column is M×K doubles per
    * query row — 128 values at the shipped geometry. */
  private[graft] def adcLutRowLocal(s: SparkSession, pq: PqModel)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.ml.linalg.Vector
    val key = s"${s.sparkContext.applicationId}|" +
      pq.models.map(_.uid).mkString(",")
    val cents = codebookBroadcasts.computeIfAbsent(key, _ =>
      s.sparkContext.broadcast(
        pq.models.map(_.clusterCenters.map { c =>
          val a = c.toArray
          (a, a.map(v => v * v).sum)
        }).toArray))
    udf { f: Vector =>
      val cs = cents.value
      val m = cs.length
      val k = cs(0).length
      val sub = f.size / m
      val out = new Array[Double](m * k)
      var mi = 0
      while (mi < m) {
        var ki = 0
        while (ki < k) {
          val (c, n2) = cs(mi)(ki)
          var dot = 0.0
          var j = 0
          while (j < sub) {
            dot += f(mi * sub + j) * c(j)
            j += 1
          }
          out(mi * k + ki) = n2 - 2.0 * dot
          ki += 1
        }
        mi += 1
      }
      out.toSeq
    }
  }

  /** The one TOP-1 tail: per query, the candidate other than the query
    * itself with the highest `score`, ties to the smaller vec_id — one
    * max(struct) aggregation, stream-legal (a complete-mode streaming
    * aggregation or a plain batch groupBy). Emits (query_id, top1_id,
    * score). */
  private[graft] def top1(cand: DataFrame, score: Column): DataFrame =
    cand.filter(col("vec_id") =!= col("query_id")).groupBy(col("query_id"))
      .agg(max(struct(score.as("score"), (-col("vec_id")).as("neg_id")))
        .as("m"))
      .select(col("query_id"), (-col("m.neg_id")).as("top1_id"),
        col("m.score").as("score"))

  /** The exact top-1 serve of an ARBITRARY (vec_id, embedding) query
    * relation against an index: (query_id, top1_id, cos_sim). Batch
    * rows, s29's stream and s36/s41's per-micro-batch serves. */
  private[graft] def serveQueriesAgainst(s: SparkSession, index: IvfIndex,
      queries: DataFrame): DataFrame =
    top1(exactCandidates(s, index.model, index.assigned, queries),
      col("cos_sim")).withColumnRenamed("score", "cos_sim")

  /** The ADC top-1 serve of an ARBITRARY query relation against
    * (quantizer, codebooks, codes): (query_id, top1_id). Batch rows,
    * s31's stream and s42's per-micro-batch serve. */
  private[graft] def adcServeQueriesAgainst(s: SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel, pq: PqModel,
      servedCodes: DataFrame, queries: DataFrame): DataFrame =
    top1(adcCandidates(s, model, pq, servedCodes, queries), -col("adc"))
      .select(col("query_id"), col("top1_id"))

  /** The one batch TOP-K window: per query, the `k` candidates other
    * than the query itself with the highest `score`, ties to the
    * smaller vec_id, ranked 1.. in `rn`. Batch-only — a window is not
    * stream-legal. */
  private[graft] def topK(cand: DataFrame, k: Int, score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cand.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(score.desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** e10's probe side: every indexed vector under each of its TWO
    * nearest cells, as (cell, vec_id, embedding) rows. */
  private[graft] def cellProbes(index: IvfIndex): DataFrame =
    probedQueries(index.assigned.sparkSession, index.model, index.assigned,
        probes = 2)
      .select(col("cell"), col("query_id").as("vec_id"),
        col("q_emb").as("embedding"))

  /** Boundary multi-probe pair pass (replaces single-probe in e10): the
    * PRIMARY assignment joins each vector's TWO nearest cells on the
    * other side, so a near-dup pair straddling a cell boundary meets
    * whenever either vector's primary cell is within the other's probe
    * set — the pairs the single-probe design provably sacrificed
    * (SemDeDup's documented blind spot). Cost is ≤ 2× the single-probe
    * pass (one side stays 1×, the probe side is 2×), not the 4× of
    * duplicating both sides; the residual blind spot is pairs whose
    * cell sets overlap ONLY in both SECOND cells (two boundary vectors
    * leaning toward each other from two different primaries), plus
    * guard-excluded cells as before. A census over the shipped corpus
    * (SCALE.md, the second-cell-only residue table) found that class
    * empty at the 0.95 operating threshold. Emitted pairs are
    * canonicalized (least, greatest) and deduplicated — a same-cell
    * pair meets in up to two shared cells and both orientations. The
    * guard stays keyed on primary loads: probe-side load is ≤ 2× the
    * primary load, so admitted-cell work stays O(cap²) bounded. */
  private[graft] def multiProbeEdges(primary: DataFrame, probes: DataFrame,
                                     nTotal: Long, nCells: Int,
                                     threshold: Double = 0.95): DataFrame = {
    val ok = admittedCells(primary, nTotal, nCells)
    val a = primary.join(ok, Seq("cell"))
      .select(col("cell"), col("vec_id").as("u"), col("embedding").as("a_emb"))
    val b = probes.join(ok, Seq("cell"))
      .select(col("cell"), col("vec_id").as("v"), col("embedding").as("b_emb"))
    a.join(b, Seq("cell"))
      .filter(col("u") =!= col("v"))
      .filter(fastCosine(col("a_emb"), col("b_emb")) >= threshold)
      .select(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst"))
      .distinct()
  }

  /** e10 — PRODUCTION semantic dedup (the SemDeDup shape, d10's
    * composition for the embedding modality): the FULL corpus is
    * cell-partitioned by the real IVF coarse quantizer ([[ivfBuild]] —
    * shared memo with e07, it is the same index), near-duplicate edges
    * are generated by an all-pairs cosine pass WITHIN each cell only
    * (an equi-join on the cell id — never a corpus×corpus cross join),
    * and the ≥ 0.95 pair graph collapses through the d07 connected
    * components to one representative per component. The cell count
    * grows with the corpus ([[ivfCellsFor]]: n/[[IvfTargetCellSize]],
    * the SemDeDup regime) so per-cell work is O(targetCellSize²) at
    * ANY n and the pair pass stays linear overall; a degenerate-cell
    * guard (16× the mean cell load, mirroring
    * [[DedupOps.scaledBucketCap]]) excludes any hot cell the quantizer
    * mis-balances, so one collapsed cell can never go quadratic — its
    * vectors simply keep themselves, logged loudly. The pair pass is
    * boundary MULTI-PROBE ([[multiProbeEdges]]): each vector's two
    * nearest cells are probed, so near-dups straddling a cell boundary
    * — single-probe SemDeDup's documented blind spot — are recovered at
    * ≤ 2× pair-pass cost (the planted proof below only relies on
    * same-cell recall, which the quantizer guarantees for identical
    * vectors; the boundary gain is proved by its own planted fixture in
    * SkewOpsSpec); production would feed the e09
    * int8 vectors through the same plan to shrink the cell shuffle 4×.
    *
    * Oracle (planted clique-collapse proof, closed form): corpus ∪
    * id-shifted identical copy ⇒ every copy lands in its original's
    * cell (deterministic nearest-center of identical features), every
    * planted pair scores cosine 1.0 ≥ 0.95, and NO native pair
    * qualifies (max native cosine ≤ 0.61 at every shipped SF, measured;
    * isotropic 64-dim noise keeps it far from 0.95 at any n) — so the
    * components are exactly the planted twins: base rows keep
    * (component = own id), copies collapse onto their originals. Both
    * planting assumptions are now ASSERTED on the edge set (one count
    * over the tiny edge frame): a native/cross pair that qualifies, a
    * zero-norm embedding whose planted edge vanishes (cosine null), or
    * a guard-dropped cell each fail loudly with the violated assumption
    * named, instead of as a bare downstream hash mismatch. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val labels = graft.api.Intermediates.memo(s, s"semdedup|$d") {
      val shared = sharedIndex(s, d, Geometry.Planted)
      val (index, nBase) = (shared.index, shared.n)
      // boundary multi-probe: the pair pass joins each vector's TWO
      // nearest cells, so boundary-straddling near-dups are not
      // sacrificed; membership for representative selection stays
      // single-cell (the components are keyed on vec_id, not cells)
      val edges = multiProbeEdges(
        index.assigned.select(col("cell"), col("vec_id"), col("embedding")),
        cellProbes(index), shared.rows, shared.cells).localCheckpoint()
      // Loud planting invariants: the closed-form oracle is only valid
      // when the edge set is EXACTLY the planted twins.
      val nonPlanted = edges
        .filter(col("dst") =!= col("src") + lit(shared.off)).count()
      require(nonPlanted == 0,
        s"semanticDedup oracle assumption violated: $nonPlanted non-planted " +
          "pair(s) at cosine >= 0.95 — the corpus's max native cosine has " +
          "drifted into the threshold; re-measure and re-derive the oracle")
      val nEdges = edges.count()
      require(nEdges == nBase,
        s"semanticDedup oracle assumption violated: $nEdges planted edges " +
          s"for $nBase vectors — a zero-norm embedding (cosine null) or a " +
          "guard-excluded hot cell dropped a planted pair")
      val nodes = index.assigned.select(col("vec_id").as("id"))
      GraphOps.connectedComponents(nodes, edges,
        maxRounds = VerifyWindow.CcMaxRounds)
    }
    labels
      .select(col("id").as("vec_id"), col("component"),
        (col("id") === col("component")).cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  private val semanticDedupSql =
    s"""SELECT vec_id, vec_id AS component, 1 AS keep FROM embeddings
      |UNION ALL
      |SELECT vec_id + ${DedupOps.plantOffsetSql("vec_id", "embeddings")}
      |    AS vec_id,
      |  vec_id AS component, 0 AS keep
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** e09 — int8 symmetric scalar quantization with a reconstruction
    * error-bound oracle (the standard embedding-storage optimization:
    * 4× smaller vectors for ANN shortlists, exact re-rank on demand).
    * Per vector: step = max|xᵢ|/127, quantize q = rint(x/step),
    * dequantize, and assert max|q·step − x| ≤ step/2 — the defining
    * guarantee of round-to-nearest, so `within_half_step` is an
    * invariant flag (1e-6 relative slack absorbs the two float ops'
    * ulps), and the step itself is closed-form for the oracle. An
    * all-zero vector has step 0 and is exactly representable — flagged
    * 1 directly (the quantizer kernel returns null at scale ≤ 0).
    * Map-only pass through two codegen'd kernels
    * ([[graft.expressions.ArrayMaxAbs]]/[[ArrayQuantError]] — the HOF
    * `aggregate` forms stay interpreted); at 100 TB this is a
    * scan-shaped stage with no shuffle at all. */
  def quantizeEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        (arrayMaxAbs(col("embedding")) / 127).as("qstep"))
      .select(col("vec_id"), round(col("qstep"), 6).as("step"),
        when(col("qstep") === 0, lit(1)).otherwise(
          (arrayQuantError(col("embedding"), col("qstep"))
            <= col("qstep") * lit(0.5000001)).cast("int"))
          .as("within_half_step"))
      .orderBy(col("vec_id"))

  // Oracle anchored on the embeddings TABLE, not the unnested stats:
  // DuckDB's unnest yields no rows for a zero-length list, so a
  // stats-anchored oracle would drop such a vector while the Spark side
  // still emits (vec_id, step 0, flag 1) — a rows_match failure on any
  // corpus with an empty embedding. LEFT JOIN + coalesce restores the
  // row (amax of nothing = 0: an empty vector is exactly representable);
  // a NULL embedding stays NULL/NULL on both engines.
  private val quantizeEmbeddingsSql =
    """WITH z AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x
      |           FROM embeddings),
      |m AS (SELECT vec_id, max(abs(x)) AS amax FROM z GROUP BY vec_id)
      |SELECT e.vec_id,
      |  CASE WHEN e.embedding IS NULL THEN NULL
      |       ELSE round(coalesce(m.amax, 0) / 127, 6) END AS step,
      |  CASE WHEN e.embedding IS NULL THEN NULL ELSE 1 END
      |    AS within_half_step
      |FROM embeddings e LEFT JOIN m USING (vec_id)
      |ORDER BY vec_id""".stripMargin

  /** e11 outlier gate: a vector whose cosine to its OWN label centroid
    * rounds below this is flagged (≈ the bottom few percent at every
    * SF — measured min ≈ −0.37, median ≈ +0.1). */
  private val OutlierCos = -0.1

  /** e11 — embedding OUTLIER detection against label centroids (the
    * drop-mislabeled / drop-noise curation gate over an embedded
    * corpus, composing e03's centroid relation): each vector's cosine
    * to its own label's mean vector, flagged when it rounds below
    * [[OutlierCos]]. A vector pointing away from its labeled cluster is
    * either mislabeled or junk — the standard embedding-space QA step
    * before centroids/ANN indexes are trusted. The flag compares the
    * ROUNDED cosine on both engines, so the decision is as
    * deterministic as every other rounded oracle column.
    *
    * 100 TB shape: centroids are (labels × dim)-sized — broadcast; the
    * per-vector dot runs in one pass over the posexploded corpus with
    * map-side aggregation keyed on vec_id. One data-scale shuffle
    * (vec_id), no pairwise anything. */
  def embeddingOutliers(s: SparkSession, d: String): DataFrame =
    // FOUR registered consumers per sweep (e11 itself, c04's and s20's
    // cross-modal gates, and e11's re-runs) re-ran the posexplode +
    // two aggregations + two broadcast joins each — the t17/t18 memo
    // discipline (optimization r20, guide §1.2). Deterministic values;
    // the checkpoint is bit-identical to a rebuild.
    graft.api.Intermediates.memo(s, s"e11_outliers|$d") {
      val z = Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"), posexplode(col("embedding")))
        .select(col("label"), col("vec_id"), col("pos"),
          col("col").cast("double").as("x"))
      val m = z.groupBy(col("label"), col("pos"))
        .agg(avg(col("x")).as("m"))
      val nm = m.groupBy(col("label"))
        .agg(sqrt(sum(col("m") * col("m"))).as("cn"))
      val cosExpr = round(col("dot") / (col("nv") * col("cn")), 6)
      z.join(broadcast(m), Seq("label", "pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("x") * col("m")).as("dot"),
          sqrt(sum(col("x") * col("x"))).as("nv"))
        .join(broadcast(nm), "label")
        .select(col("vec_id"), col("label"),
          cosExpr.as("cos_centroid"),
          (cosExpr < OutlierCos).cast("int").as("is_outlier"))
        .localCheckpoint()
    }.orderBy(col("vec_id"))

  /** e11's query without the final ORDER BY — reused verbatim by c04's
    * cross-modal gate oracle. */
  private[operators] val embeddingOutliersInnerSql =
    s"""WITH z AS (SELECT label, vec_id,
       |             generate_subscripts(embedding, 1) AS pos,
       |             unnest(embedding)::DOUBLE AS x
       |           FROM embeddings),
       |m AS (SELECT label, pos, avg(x) AS m FROM z GROUP BY label, pos),
       |nm AS (SELECT label, sqrt(sum(m * m)) AS cn FROM m GROUP BY label),
       |v AS (SELECT z.vec_id, z.label, sum(z.x * m.m) AS dot,
       |        sqrt(sum(z.x * z.x)) AS nv
       |      FROM z JOIN m ON m.label = z.label AND m.pos = z.pos
       |      GROUP BY z.vec_id, z.label)
       |SELECT v.vec_id, v.label,
       |  round(v.dot / (v.nv * nm.cn), 6) AS cos_centroid,
       |  CAST(round(v.dot / (v.nv * nm.cn), 6) < $OutlierCos AS INT)
       |    AS is_outlier
       |FROM v JOIN nm ON nm.label = v.label""".stripMargin

  private val embeddingOutliersSql =
    s"$embeddingOutliersInnerSql ORDER BY v.vec_id"

  /** e12 — label-centroid SIMILARITY matrix (the embedding-space
    * confusion-structure audit: which labeled clusters are actually
    * close, read before trusting label-conditioned sampling or
    * nearest-centroid prediction — the e-modality analog of m08's
    * centroid-cosine merge input, as an audit table instead of a merge
    * decision): pairwise cosine between every pair of per-label mean
    * vectors, upper triangle. Composes the SAME per-(label, pos)
    * centroid relation as e03/e11.
    *
    * 100 TB shape: centroids are (labels × dim) — the pairwise pass is
    * labels²·dim on a broadcast relation, constant-sized at any corpus
    * scale; the only data-scale stage is the one centroid aggregation
    * e03 already pays. */
  def centroidMatrix(s: SparkSession, d: String): DataFrame = {
    val m = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("x"))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("m"))
    val a = m.select(col("label").as("label_a"), col("pos"),
      col("m").as("ma"))
    val b = m.select(col("label").as("label_b"), col("pos"),
      col("m").as("mb"))
    a.join(broadcast(b), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sqrt(sum(col("ma") * col("ma"))).as("na"),
        sqrt(sum(col("mb") * col("mb"))).as("nb"))
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cos_sim"))
      .orderBy(col("label_a"), col("label_b"))
  }

  private val centroidMatrixSql =
    """WITH z AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
      |             unnest(embedding)::DOUBLE AS x
      |           FROM embeddings),
      |m AS (SELECT label, pos, avg(x) AS m FROM z GROUP BY label, pos),
      |p AS (SELECT a.label AS label_a, b.label AS label_b,
      |        sum(a.m * b.m) AS dot,
      |        sqrt(sum(a.m * a.m)) AS na, sqrt(sum(b.m * b.m)) AS nb
      |      FROM m a JOIN m b ON a.pos = b.pos AND a.label < b.label
      |      GROUP BY a.label, b.label)
      |SELECT label_a, label_b, round(dot / (na * nb), 6) AS cos_sim
      |FROM p ORDER BY label_a, label_b""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("e01_knn_brute_force", knnBruteForce, Some(knnBruteForceSql)),
    QueryDef("e02_similar_pairs", similarPairs, Some(similarPairsSql)),
    QueryDef("e03_label_centroids", labelCentroids, Some(labelCentroidsSql)),
    QueryDef("e04_ann_lsh", annLshBound, Some(annLshBoundSql)),
    QueryDef("e05_ann_ivf", annIvfBound, Some(annIvfBoundSql)),
    QueryDef("e06_ann_planted_recall", annPlantedRecall, Some(annPlantedRecallSql)),
    QueryDef("e07_ivf_planted_recall", ivfPlantedRecall, Some(ivfPlantedRecallSql)),
    QueryDef("e13_ann_batch_serve", annBatchServe, Some(annBatchServeSql)),
    // e14/e15 run the e13 serve kernel against the loaded / appended
    // index — the closed-form oracle transfers verbatim (see e14 doc)
    QueryDef("e14_ann_index_roundtrip", annIndexRoundtrip,
      Some(annBatchServeSql)),
    QueryDef("e15_ann_index_append", annIndexAppend,
      Some(annBatchServeSql)),
    QueryDef("e16_ivfpq_serve", annIvfPqServe, Some(annIvfPqServeSql)),
    // e17 serves e16's batch against the LOADED PQ artifact through the
    // same adcServe kernel — the closed-form oracle transfers verbatim
    QueryDef("e17_pq_roundtrip", annPqRoundtrip, Some(annIvfPqServeSql)),
    QueryDef("e18_topk_serve", annTopkServeBound,
      Some(annTopkServeBoundSql)),
    QueryDef("e19_ivfpq_rerank", annIvfPqRerank,
      Some(annIvfPqRerankSql)),
    // e20 serves against the loaded COMPACTED artifact — the e13
    // closed-form oracle transfers verbatim (see e20 doc)
    QueryDef("e20_index_compact", annIndexCompact,
      Some(annBatchServeSql)),
    // e26 serves against the loaded REBUILT (re-sharded) artifact —
    // e13's closed form holds under ANY quantizer (see e26 doc)
    QueryDef("e26_index_rebuild", annIndexRebuild,
      Some(annBatchServeSql)),
    // e23 ADC-serves against the loaded compacted PQ artifact — e16's
    // closed-form oracle transfers verbatim (see e23 doc)
    QueryDef("e23_pq_compact", annPqCompact,
      Some(annIvfPqServeSql)),
    // e21/e22 share the tombstone closed form: the logical (serve-time
    // anti-join) and physical (compaction fold) delete paths must agree
    QueryDef("e21_tombstone_serve", annTombstoneServe,
      Some(tombstoneServeSql)),
    QueryDef("e22_tombstone_compact", annTombstoneCompact,
      Some(tombstoneServeSql)),
    // e24 honors the log on the ADC (compressed-corpus) serve — e21's
    // selective closed form carries through the quantization
    QueryDef("e24_pq_tombstone_serve", annPqTombstoneServe,
      Some(tombstonePqServeSql)),
    // e25 folds the log PHYSICALLY through PQ compaction and serves the
    // loaded artifact with NO tombstone filter — e24's oracle verbatim
    QueryDef("e25_pq_tombstone_compact", annPqTombstoneCompact,
      Some(tombstonePqServeSql)),
    // e27 adopts, rolls out, and ROLLS BACK versioned artifacts through
    // the atomic CURRENT pointer — phases 1 and 3 identical (see doc)
    QueryDef("e27_version_rollback", annVersionRollback,
      Some(versionRollbackSql)),
    // e28 runs the WHOLE maintenance day in-row (trigger → fold →
    // adopt → retire → pointer serve) — e21/e22's closed form transfers
    // e29 refits the QUANTIZER on survivors after a takedown and
    // adopts the refit — the codebook no longer reflects the
    // forgotten vectors (see e29 doc)
    QueryDef("e29_quantizer_forget", quantizerForget,
      Some(quantizerForgetSql)),
    // e30 refits the PQ CODEBOOKS on survivors — the compressed
    // stack's own forget loop (see e30 doc)
    QueryDef("e30_pq_forget", pqForget, Some(pqForgetSql)),
    QueryDef("e28_janitor_cycle", annJanitorCycle,
      Some(tombstoneServeSql)),
    // c09 admits a vector increment through exact + semantic gates and
    // proves the commit load-bearing — planted closed form (see doc)
    QueryDef("c09_embedding_admission", embeddingAdmission,
      Some(embeddingAdmissionSql)),
    QueryDef("e08_neardup_embeddings", neardupEmbeddings,
      Some(neardupEmbeddingsSql)),
    QueryDef("e10_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    QueryDef("e11_embedding_outliers", embeddingOutliers,
      Some(embeddingOutliersSql)),
    QueryDef("e12_centroid_matrix", centroidMatrix,
      Some(centroidMatrixSql)),
    QueryDef("e09_quantize_embeddings", quantizeEmbeddings,
      Some(quantizeEmbeddingsSql)))
}
