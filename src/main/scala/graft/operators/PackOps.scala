package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for LLM training-data preparation — the
  * stage after clean/dedup/score where documents become training
  * sequences and splits. The reference stops at model features; these
  * are beyond-reference extensions (SURVEY §2.14) that a 100 TB corpus
  * pipeline needs: token-budget sequence packing, exact quantile
  * bucketing (curriculum mixing), and per-source systematic sampling
  * (mixture weights).
  *
  * All three need a GLOBAL order-dependent sequence number, which the
  * naive formulation (`Window.orderBy` with no partition) computes on a
  * single partition — the classic scale-killer Spark warns about. The
  * shared [[exclusivePrefixSum]] below is the distributed form: a
  * range-partitioned two-phase scan whose only global step runs over
  * one row per partition, never over the data.
  */
object PackOps {

  /** Distributed exclusive prefix sum (parallel scan) of `value` over
    * the total order `orderCols`, optionally restarting per stratum.
    *
    * Shape: range-partition by the order columns (partitions hold
    * disjoint, ordered key ranges), freeze that placement with ONE
    * localCheckpoint (both consumers below must see identical
    * `spark_partition_id`), then
    *   phase 1: per-(partition, stratum) partial sums — map-side
    *     combined, ≤ numPartitions × |strata| rows;
    *   phase 2: exclusive running sum of the partials per stratum —
    *     a window over the TINY partial relation (the only unkeyed
    *     window in the engine, and it scans one row per partition,
    *     not per record);
    *   phase 3: broadcast the offsets back and add the within-
    *     partition running sum (window keyed on partition id — local,
    *     parallel).
    * Cost at scale: two exchanges of the narrow projection (range
    * partition + the window's hash partition) regardless of data size;
    * driver memory O(numPartitions), not O(rows).
    *
    * `orderCols` must be a TOTAL order (include a tiebreak key):
    * rows-frame running sums over tied sort keys are otherwise
    * nondeterministic.
    */
  private[graft] def exclusivePrefixSum(
      df: DataFrame,
      orderCols: Seq[String],
      value: Column,
      out: String,
      strata: Seq[String] = Nil): DataFrame = {
    val numPartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val keyed = df
      .withColumn("__v", value.cast("long"))
      .repartitionByRange(numPartitions, orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val keys = "__pid" +: strata
    val partials = keyed
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__v")).as("__psum"))
    val wOffsets = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("__off", coalesce(sum(col("__psum")).over(wOffsets), lit(0L)))
      .drop("__psum")
    val wLocal = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-SAFE join back: groupBy above keeps a NULL stratum as its own
    // group, but a plain equi-join on the stratum column would evaluate
    // NULL = NULL to NULL and silently drop those rows from the output
    val offRenamed = offsets.select(
      keys.map(k => col(k).as(s"__o_$k")) :+ col("__off"): _*)
    val cond = keys.map(k => keyed(k) <=> offRenamed(s"__o_$k")).reduce(_ && _)
    keyed
      .join(broadcast(offRenamed), cond)
      .withColumn(out,
        coalesce(sum(col("__v")).over(wLocal), lit(0L)) + col("__off"))
      .drop(keys.map(k => s"__o_$k") :+ "__v" :+ "__pid" :+ "__off": _*)
  }

  /** BPE-style pre-tokenizer piece count — same regex as
    * t09_token_stats (letter runs / digit runs / single punctuation).
    * regexp_count, not size(regexp_extract_all): counting must not
    * materialize a per-row match array at corpus scale. */
  private val BpeRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private[graft] val bpePieces: Column =
    regexp_count(lower(col("text")), lit(BpeRegex)).cast("long")

  /** Tokens per packed training sequence. Small enough that sf0.01
    * exercises many bins; the operator is budget-agnostic. */
  private val SeqBudget = 256L

  /** p01 — token-budget sequence packing: assign each document to the
    * training sequence where its token span begins, by exclusive prefix
    * sum of per-doc token counts in doc_id order. The contiguous-span
    * discipline (documents enter sequences in corpus order; a doc
    * straddling a boundary starts a carry into the next bin) is the
    * standard streaming-concat packing used for LLM pretraining shards;
    * `tok_offset` is the doc's start position inside its sequence. */
  /** Packing tail shared by p01 and c01: scan → bin id → offset over a
    * (doc_id, n_tokens) relation. */
  private def packByBudget(counted: DataFrame): DataFrame =
    exclusivePrefixSum(counted, Seq("doc_id"), col("n_tokens"), "cum_before")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before div $SeqBudget").as("seq_id"),
        (col("cum_before") % SeqBudget).as("tok_offset"))
      .orderBy(col("doc_id"))

  def sequencePack(s: SparkSession, d: String): DataFrame =
    packByBudget(Tables.documents(s, d)
      .select(col("doc_id"), bpePieces.as("n_tokens")))

  /** p01's query without the final ORDER BY — embedded by p06's oracle
    * so both rows share one packing definition. */
  private val sequencePackInnerSql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(cum_before // $SeqBudget AS BIGINT) AS seq_id,
       |  CAST(cum_before % $SeqBudget AS BIGINT) AS tok_offset
       |FROM c""".stripMargin

  private val sequencePackSql = s"$sequencePackInnerSql ORDER BY doc_id"

  /** p14 — sequence packing billed in LEARNED-BPE tokens (completes the
    * unit-of-account migration the r11 verdict motivated: p13 converted
    * the budget DRAW, this converts the PACKING — the two big
    * token-denominated consumers now both bill in the trained
    * tokenizer's units). The packing kernel is p01's [[packByBudget]]
    * shared verbatim; only the per-doc count relation changes
    * ([[BpeOps.docBpeCounts]]). Docs the tokenizer cannot count (zero
    * clean tokens) drop on both engines (t18's convention) — p01 keeps
    * them as zero-width rows, which is exactly the difference between
    * billing in raw regex pieces and billing in the unit a trainer
    * actually consumes.
    *
    * 100 TB shape: t18's retokenization feeding p01's distributed
    * prefix scan — both shapes already audited. */
  def bpeSequencePack(s: SparkSession, d: String): DataFrame =
    packByBudget(BpeOps.docBpeCounts(s, d))

  private val bpeSequencePackSql =
    s"""WITH ${BpeOps.docBpeCtesSql},
       |nb AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
       |       FROM t2 JOIN pieces USING (word) GROUP BY doc_id),
       |c AS (SELECT doc_id, n_tokens,
       |        COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS cum_before
       |      FROM nb)
       |SELECT doc_id, n_tokens,
       |  CAST(cum_before // $SeqBudget AS BIGINT) AS seq_id,
       |  CAST(cum_before % $SeqBudget AS BIGINT) AS tok_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** p03 — exact quality-quartile bucketing (curriculum mixing): global
    * 0-based rank by (quality_score, doc_id) via the distributed scan,
    * then bucket = rank·4 ÷ N + 1. Same spread as ntile(4) but with the
    * remainder distributed evenly (closed-form from the rank, identical
    * formula on both engines) — and unlike ntile it never needs a
    * global single-partition window. Null scores (empty docs) sort
    * first via the -1 sentinel. */
  def qualityBuckets(s: SparkSession, d: String): DataFrame = {
    val q = TextOps.docQuality(s, d)
      .select(col("doc_id"), col("quality_score"),
        coalesce(col("quality_score"), lit(-1.0)).as("__qs"))
    val n = q.agg(count(lit(1)).as("n_docs"))
    exclusivePrefixSum(q, Seq("__qs", "doc_id"), lit(1L), "rn0")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("quality_score"),
        expr("(rn0 * 4) div n_docs + 1").as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val qualityBucketsSql =
    s"""WITH r AS (
       |  SELECT doc_id, quality_score,
       |    row_number() OVER (ORDER BY COALESCE(quality_score, -1.0), doc_id) - 1 AS rn0,
       |    count(*) OVER () AS n_docs
       |  FROM (${TextOps.docQualityInnerSql}))
       |SELECT doc_id, quality_score,
       |  CAST((rn0 * 4) // n_docs + 1 AS BIGINT) AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** Keep every k-th document per stratum. */
  private val SampleEvery = 10L

  /** p04 — per-source systematic sample (mixture-weight downsampling):
    * every 10th document per source in doc_id order. The per-stratum
    * sequence number comes from the grouped distributed scan — the
    * naive `Window.partitionBy(source)` form moves each whole stratum
    * to one task, which dies at 100 TB where a source can be most of
    * the corpus; here strata only shrink the partial-sum relation. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    exclusivePrefixSum(docs, Seq("doc_id"), lit(1L), "rn0",
        strata = Seq("source"))
      .filter(col("rn0") % SampleEvery === 0)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val stratifiedSampleSql =
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rn0
       |  FROM documents)
       |WHERE rn0 % $SampleEvery = 0 ORDER BY doc_id""".stripMargin

  /** p06 — materialized packed sequences: the p01 assignment turned
    * into actual training-shard rows — one row per sequence with the
    * member docs' text concatenated in corpus order. The concat is
    * order-pinned (sort the collected (doc_id, text) structs, then
    * join) because `collect_list` order is otherwise
    * partition-arrival-dependent; the aggregation shuffles on seq_id,
    * which is dense and uniform by construction (consecutive integers,
    * ~budget tokens each). */
  def packedSequences(s: SparkSession, d: String): DataFrame = {
    val assignment = sequencePack(s, d).select(col("doc_id"), col("n_tokens"),
      col("seq_id"))
    val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
    assignment.join(texts, "doc_id")
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          " ").as("seq_text"))
      .orderBy(col("seq_id"))
  }

  private val packedSequencesSql =
    s"""SELECT seq_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       |  string_agg(text, ' ' ORDER BY doc_id) AS seq_text
       |FROM ($sequencePackInnerSql) p JOIN documents USING (doc_id)
       |GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** p05 — α-scaled source mixture weights (α = 0.5): per-source token
    * mass raised to α and normalized, the standard square-root
    * temperature scaling that up-weights small sources when sampling a
    * multi-source pretraining mixture. One groupBy over the corpus; the
    * normalizer is a 1-row broadcast. */
  def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(bpePieces).as("n_tokens"))
    val z = per.agg(sum(sqrt(col("n_tokens"))).as("z"))
    per.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(sqrt(col("n_tokens")) / col("z"), 6).as("weight"))
      .orderBy(col("source"))
  }

  private val mixtureWeightsSql =
    s"""WITH s AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source)
       |SELECT source, n_docs, n_tokens,
       |  round(sqrt(n_tokens) / (SELECT sum(sqrt(n_tokens)) FROM s), 6) AS weight
       |FROM s ORDER BY source""".stripMargin

  /** c01 — the composed corpus-prep pipeline, end-to-end in ONE lazy
    * plan: quality gate (t04's score) → language gate (t05's marker
    * ratio) → exact dedup (d01's digest-groupBy, min-id keep) →
    * token-budget packing (p01's prefix scan) over the survivors. This
    * is the actual 100 TB pretraining prep flow; the point of the row is
    * that the registered operators COMPOSE — one corpus scan feeds both
    * gates (the single-pass select below), the dedup is a semi-join on
    * the digest aggregate, and the packing re-numbers the surviving
    * corpus. The oracle composes the t04/t05 fragments and the p01
    * window verbatim, so any drift between a stage and its standalone
    * query breaks this hash too. */
  /** c01's gate+dedup head, exposed for the plan audit (the packing
    * tail checkpoints, hiding this stage from the final executed plan).
    * Gates share ONE Spark-side definition with t04/t05
    * (TextOps.Score), evaluated in a single corpus-scan select; the
    * min-id keep is a digest-partitioned window rather than the
    * d01-style agg + semi-join — the semi-join's two plan arms each
    * recompute the regex-gated scan (the expensive stage), while the
    * window dedups in ONE pass over it: one shuffle on the uniform
    * digest, per-group sort of tiny duplicate sets, same keep
    * semantics (lowest doc_id per digest survives). */
  private[graft] def gatedDeduped(s: SparkSession, d: String): DataFrame = {
    // §4.4 anti-duplication barrier on the score fields: without it the
    // optimizer pushes the gate predicate below this projection and the
    // regex scoring chain evaluates twice per corpus row (once in the
    // pushed filter, once in the projection) — measured 2.6× on the
    // gate stage at sf0.1 (optimization r20)
    val gated = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        graft.expressions.BarrierExpressions.barrier(
          TextOps.Score.qualityScore).as("quality_score"),
        graft.expressions.BarrierExpressions.barrier(
          TextOps.Score.markerRatio).as("marker_ratio"))
      .filter(col("quality_score") >= 0.85 && col("marker_ratio") >= 0.08)
    val byDigest = Window.partitionBy(md5(col("text").cast("binary")))
      .orderBy(col("doc_id"))
    gated
      .withColumn("__rn", row_number().over(byDigest))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def corpusPrep(s: SparkSession, d: String): DataFrame =
    packByBudget(gatedDeduped(s, d)
      .select(col("doc_id"), bpePieces.as("n_tokens")))

  private val corpusPrepSql =
    s"""WITH gated AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d
       |  JOIN (${TextOps.docQualityInnerSql}) q ON q.doc_id = d.doc_id
       |  JOIN (${TextOps.langGuessInnerSql}) l ON l.doc_id = d.doc_id
       |  WHERE q.quality_score >= 0.85 AND l.marker_ratio >= 0.08),
       |keep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
       |         FROM gated GROUP BY 1),
       |ded AS (SELECT g.doc_id, g.text FROM gated g
       |        JOIN keep k ON k.doc_id = g.doc_id),
       |t AS (SELECT doc_id,
       |        len(regexp_extract_all(lower(text),
       |          '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens
       |      FROM ded),
       |c AS (SELECT doc_id, n_tokens,
       |        COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS cum_before
       |      FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(cum_before // $SeqBudget AS BIGINT) AS seq_id,
       |  CAST(cum_before % $SeqBudget AS BIGINT) AS tok_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** c02 — the dataset-card summary: corpus-level totals (documents,
    * whitespace tokens, characters, distinct vocabulary, mean doc
    * length) that every published training corpus reports. One
    * aggregation pass plus a distinct over the exploded token stream;
    * at 100 TB the vocabulary count is the only shuffle (partial
    * distinct map-side, uniform term keys). */
  def corpusStats(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextFunctions.tokens(col("text")))).cast("long").as("n_tokens"),
      sum(length(col("text"))).cast("long").as("n_chars"))
    val vocab = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("vocab_size"))
    base.crossJoin(broadcast(vocab))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("vocab_size"),
        round(col("n_tokens") / col("n_docs"), 4).as("avg_doc_tokens"))
  }

  private val corpusStatsSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""WITH t AS (SELECT doc_id, list_filter($tokList, x -> x <> '') AS l
       |           FROM documents),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM t),
       |c AS (SELECT CAST(sum(length(text)) AS BIGINT) AS n_chars
       |      FROM documents),
       |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
       |      FROM (SELECT unnest(l) AS tok FROM t))
       |SELECT n_docs, n_tokens, n_chars, vocab_size,
       |  round(n_tokens / n_docs, 4) AS avg_doc_tokens
       |FROM b, c, v""".stripMargin
  }

  /** c03 — per-slice dataset card (c02 is the corpus-level card): one
    * row per (source, lang) with docs, tokens, chars, mean t04 quality,
    * and the slice's share of corpus tokens. This is the table a
    * curation run publishes alongside the corpus — the per-source /
    * per-language accounting that mixture decisions (p05/p09) and
    * domain caps (p08) are audited against. Token and quality
    * definitions are SHARED with c02/t04 (TextFunctions.tokens,
    * TextOps.Score on the Spark side; the same oracle fragments), so a
    * tokenizer or scoring change breaks the card together with the
    * operators it audits.
    *
    * 100 TB shape: one corpus scan → one hash aggregation on
    * (source, lang) — cardinality sources×langs, tiny at any corpus
    * size — plus a broadcast 1-row total. Map-side partial aggregation
    * does the heavy lifting; nothing data-sized shuffles. */
  def sourceCard(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val per = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text")))).cast("long")
          .as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        round(avg(TextOps.Score.qualityScore), 6).as("avg_quality"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("avg_quality"),
        round(col("n_tokens") / col("tot_tokens"), 6).as("token_share"))
      .orderBy(col("source"), col("lang"))
  }

  private val sourceCardSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""WITH q AS (${TextOps.docQualityInnerSql}),
       |per AS (
       |  SELECT d.source, d.lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(list_filter($tokList, x -> x <> '')))
       |      AS BIGINT) AS n_tokens,
       |    CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
       |    round(avg(q.quality_score), 6) AS avg_quality
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id
       |  GROUP BY d.source, d.lang)
       |SELECT source, lang, n_docs, n_tokens, n_chars, avg_quality,
       |  round(n_tokens / (SELECT sum(n_tokens) FROM per), 6)
       |    AS token_share
       |FROM per ORDER BY source, lang""".stripMargin
  }

  /** c04 — CROSS-MODAL curation gate (the "every modality must pass"
    * keep/drop table): one row per document joining the text-quality
    * score (t04's shared Score), the duplicated-passage fraction (d15),
    * and the embedding-outlier verdict (e11, vec_id ≡ doc_id in this
    * corpus), with keep = quality ≥ 0.85 ∧ dup_frac ≤ 0.5 ∧ not an
    * embedding outlier. This is the composed curation decision a
    * multimodal pipeline actually applies — a doc with clean text but a
    * junk embedding (or vice versa) must NOT survive — and each signal
    * is the REGISTERED operator's own relation, so drift in any one of
    * t04/d15/e11 breaks this row too (c01's composition discipline
    * across modalities). All three gate columns are rounded-oracle
    * columns, so the boolean is deterministic on both engines.
    *
    * The gate is anchored on the DOCUMENT universe, not on the signal
    * relations: a doc with no non-empty passage (d15 emits no row —
    * "nothing duplicated") contributes dup_frac = 0, and a doc with no
    * embedding row cannot clear the outlier check, so it is emitted
    * with keep = 0 rather than silently dropped. A curation gate that
    * omits rows is a trap for downstream consumers — every doc gets a
    * verdict (r10 advisory).
    *
    * 100 TB shape: three corpus-sized relations equi-joined on the
    * uniform doc id — ordinary shuffled joins (none is broadcastable at
    * scale), each input one scan + one keyed aggregation. */
  def crossModalGate(s: SparkSession, d: String): DataFrame = {
    val q = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.Score.qualityScore.as("quality_score"))
    val p = DedupOps.passageDupFraction(s, d)
      .select(col("doc_id"), col("dup_frac"))
    val e = EmbeddingOps.embeddingOutliers(s, d)
      .select(col("vec_id").as("doc_id"), col("cos_centroid"),
        col("is_outlier"))
    q.join(p, Seq("doc_id"), "left").join(e, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_score"),
        coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"),
        col("cos_centroid"),
        (col("quality_score") >= 0.85 &&
          coalesce(col("dup_frac"), lit(0.0)) <= 0.5 &&
          coalesce(col("is_outlier"), lit(1)) === 0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  private[graft] val crossModalGateSql =
    s"""WITH q AS (${TextOps.docQualityInnerSql}),
       |pf AS (${DedupOps.passageDupFractionInnerSql}),
       |eo AS (${EmbeddingOps.embeddingOutliersInnerSql})
       |SELECT q.doc_id, q.quality_score,
       |  COALESCE(pf.dup_frac, 0.0) AS dup_frac, eo.cos_centroid,
       |  CAST(q.quality_score >= 0.85 AND COALESCE(pf.dup_frac, 0.0) <= 0.5
       |       AND COALESCE(eo.is_outlier, 1) = 0 AS INT) AS keep
       |FROM q
       |LEFT JOIN pf ON pf.doc_id = q.doc_id
       |LEFT JOIN eo ON eo.vec_id = q.doc_id
       |ORDER BY q.doc_id""".stripMargin

  /** c05 — the per-source dataset DATASHEET (Gebru et al.'s
    * "Datasheets for Datasets" in relational form — the audit table a
    * dataset RELEASE ships, where c03 is the raw source card and c04
    * the per-doc gate): for every source, corpus size in the LEARNED
    * unit of account (t18's BPE tokens), the tokenizer's achieved
    * compression, mean quality (t04), the share the trained language
    * gate calls English (t17), the mean duplicated-passage fraction
    * (d15), and the fraction surviving the full cross-modal gate
    * (c04's keep). Every column is the REGISTERED operator's own
    * relation composed by doc_id (the c01/c04 composition discipline
    * — one definition per signal, so the datasheet can never disagree
    * with the operators it summarizes). Docs outside a signal's domain
    * stay honest: en_share_model's denominator is docs the model can
    * score (≥ 1 trigram), pieces_per_word's is docs with ≥ 1 clean
    * token.
    *
    * 100 TB shape: four uniform doc_id equi-joins (each side an
    * already-audited relation) into one sources-sized hash agg —
    * nothing new shuffles; the datasheet is kilobytes. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val gate = crossModalGate(s, d)
      .select(col("doc_id"), col("quality_score"), col("dup_frac"),
        col("keep"))
    val pred = TextOps.langModelPred(s, d)
      .select(col("doc_id"), col("lang_model"))
    val bpe = BpeOps.bpeRetokenize(s, d)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    src.join(gate, "doc_id")
      .join(pred, Seq("doc_id"), "left")
      .join(bpe, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        round(sum(col("n_bpe_tokens")) / sum(col("n_words")), 6)
          .as("pieces_per_word"),
        round(avg(col("quality_score")), 6).as("mean_quality"),
        round(sum(when(col("lang_model") === "en", 1L).otherwise(0L)) /
          count(col("lang_model")), 6).as("en_share_model"),
        round(avg(col("dup_frac")), 6).as("mean_dup_frac"),
        round(avg(col("keep")), 6).as("keep_frac"))
      .orderBy(col("source"))
  }

  private val datasetCardSql =
    s"""WITH ${TextOps.langModelChainSql},
       |${BpeOps.docBpeCtesSql},
       |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(n_sym) AS BIGINT) AS nb_tokens
       |       FROM t2 JOIN pieces USING (word) GROUP BY doc_id),
       |g AS ($crossModalGateSql),
       |base AS (SELECT d.doc_id, d.source, g.quality_score, g.dup_frac,
       |           g.keep, p.lang_model, nb.n_words, nb.nb_tokens
       |         FROM documents d
       |         JOIN g ON g.doc_id = d.doc_id
       |         LEFT JOIN (SELECT doc_id, lang_model FROM pred
       |                    WHERE rn = 1) p ON p.doc_id = d.doc_id
       |         LEFT JOIN nb ON nb.doc_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nb_tokens) AS BIGINT) AS n_bpe_tokens,
       |  round(sum(nb_tokens) / sum(n_words), 6) AS pieces_per_word,
       |  round(avg(quality_score), 6) AS mean_quality,
       |  round(sum(CASE WHEN lang_model = 'en' THEN 1 ELSE 0 END)
       |        / count(lang_model), 6) AS en_share_model,
       |  round(avg(dup_frac), 6) AS mean_dup_frac,
       |  round(avg(keep), 6) AS keep_frac
       |FROM base GROUP BY source ORDER BY source""".stripMargin

  /** Epoch-shuffle scramble: Knuth's multiplicative hash over the
    * 2^31-reduced id, mod 2^32. Every term stays < 2^63 for ANY long
    * input (the reduction precedes the multiply), so the formula is
    * bit-exact portable arithmetic — DuckDB errors on BIGINT overflow
    * where the JVM wraps, and a wrapped key would silently diverge
    * from the oracle (same discipline as the winnow gram hash). The
    * map x → x·2654435761 mod 2^32 is a bijection on [0, 2^31), so
    * distinct ids below 2^31 get distinct keys; the id itself is the
    * final tie-break regardless. A deployment with >2^31 ids per epoch
    * swaps in xxhash64 via the [[epochShuffle]] key parameter — the
    * shard/pos mechanics are key-agnostic. */
  private[graft] def shuffleKey(id: Column, seed: Long): Column =
    // pmod, not %: identical on the oracle's non-negative domain, but a
    // negative id (legal for the generic API) still lands in
    // [0, 2^32) instead of minting negative shards
    pmod(pmod(id + lit(seed), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))

  private def shuffleKeySql(id: String, seed: Long): String =
    s"(($id + $seed) % 2147483648) * 2654435761 % 4294967296"

  /** p07 shape constants: seed picks the epoch's permutation; the shard
    * count at deployment is corpus_bytes / target_shard_bytes (hundreds
    * of thousands at 100 TB), far exceeding cores — 64 here keeps the
    * sf0.01 oracle populated at ~8 docs/shard. */
  private val ShuffleSeed = 17L
  private val EpochShards = 64L

  /** Deterministic seeded epoch shuffle: assign every row a scrambled
    * key, a shard (key mod nShards) and a dense 0-based position within
    * its shard (ordered by key, then id). Reading shards in
    * (shard, pos) order replays one globally pseudorandom document
    * order — the reproducible global shuffle every pretraining run
    * needs, where `ORDER BY rand()` is non-reproducible across retries
    * and a true global sort is a scale hazard. Positions come from the
    * grouped distributed scan ([[exclusivePrefixSum]] with the shard as
    * the stratum), NOT `Window.partitionBy(shard)` — the window form
    * moves each whole shard to one task, which matters exactly when a
    * deployment picks few-but-huge shards; the scan's cost profile is
    * independent of the shard count. */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
      nShards: Long): DataFrame = {
    // documented output columns — a frame already carrying one would be
    // silently clobbered by withColumn; fail loudly instead
    val clash = df.columns.toSet.intersect(Set("shuffle_key", "shard", "pos"))
    require(clash.isEmpty,
      s"epochShuffle input carries reserved output column name(s) " +
        s"${clash.mkString(", ")} — rename before calling")
    val keyed = df
      .withColumn("shuffle_key", shuffleKey(col(idCol), seed))
      .withColumn("shard", col("shuffle_key") % nShards)
    exclusivePrefixSum(keyed, Seq("shuffle_key", idCol), lit(1L), "pos",
      strata = Seq("shard"))
  }

  /** p07 — the registered epoch-shuffle row over the documents table:
    * (doc_id, shuffle_key, shard, pos), ordered by the replay order
    * (shard, pos). The oracle recomputes the identical portable
    * scramble and numbers shards with a window — the engine side must
    * reproduce the window's semantics through the distributed scan. */
  def epochShuffleDocs(s: SparkSession, d: String): DataFrame =
    epochShuffle(Tables.documents(s, d).select(col("doc_id")), "doc_id",
        ShuffleSeed, EpochShards)
      .select(col("doc_id"), col("shuffle_key"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  private val epochShuffleSql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} AS shuffle_key
       |  FROM documents)
       |SELECT doc_id, shuffle_key,
       |  shuffle_key % $EpochShards AS shard,
       |  CAST(row_number() OVER (PARTITION BY shuffle_key % $EpochShards
       |    ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS pos
       |FROM k ORDER BY shard, pos""".stripMargin

  /** Per-source document cap (C4/RefinedWeb-style domain cap). */
  private val SourceCapN = 10L

  /** p08 — per-source quality cap: keep at most [[SourceCapN]] documents
    * per source, ranked by t04's quality score (descending, nulls last,
    * doc_id tie-break). This is the domain-cap curation rule every web
    * corpus applies so no single host dominates the mixture; ranking
    * reuses the SAME scoring definition as t04/p03 (TextOps.Score on
    * the Spark side, docQualityInnerSql verbatim in the oracle). The
    * per-source rank comes from the grouped distributed scan — a hot
    * source (most of a crawl) never lands on one task, the exact skew
    * scenario the cap exists to correct. */
  def sourceCap(s: SparkSession, d: String): DataFrame = {
    val q = TextOps.docQuality(s, d).select(col("doc_id"), col("quality_score"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val ranked = docs.join(q, "doc_id")
      // ascending scan order ≡ descending quality: negate the coalesced
      // score (-1 sentinel ranks null scores last, matching NULLS LAST)
      .withColumn("__negq", -coalesce(col("quality_score"), lit(-1.0)))
    exclusivePrefixSum(ranked, Seq("__negq", "doc_id"), lit(1L), "src_rank",
        strata = Seq("source"))
      .filter(col("src_rank") < SourceCapN)
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_rank"))
      .orderBy(col("source"), col("src_rank"))
  }

  private val sourceCapSql =
    s"""WITH r AS (
       |  SELECT d.doc_id, d.source, q.quality_score,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY COALESCE(q.quality_score, -1.0) DESC, d.doc_id) - 1
       |      AS src_rank
       |  FROM documents d
       |  JOIN (${TextOps.docQualityInnerSql}) q ON q.doc_id = d.doc_id)
       |SELECT doc_id, source, quality_score,
       |  CAST(src_rank AS BIGINT) AS src_rank
       |FROM r WHERE src_rank < $SourceCapN
       |ORDER BY source, src_rank""".stripMargin

  /** p09 shape constants: draw a quarter of the corpus's tokens; a
    * distinct seed from p07 so the two epoch orders are provably
    * independent permutations. */
  private val DrawBudgetDen = 4L
  private val DrawSeed = 29L

  /** Micro-share scale for p09's exact integer quota arithmetic: six
    * decimal digits of √-share resolution — enough that the integer
    * quota reproduces the former float formula on every tested corpus,
    * small enough that budget·m stays ~10²⁵ at 100 TB (inside
    * DECIMAL(38,0)/HUGEINT). */
  private val MShareScale = 1000000L

  /** p09 — token-budget mixture draw: MATERIALIZE p05's √-temperature
    * mixture weights into an actual training subset. The global budget
    * (corpus tokens ÷ [[DrawBudgetDen]], integer) splits into per-source
    * token quotas ∝ √(source tokens) — the α=0.5 temperature that
    * upweights small sources — and each source's documents fill their
    * quota in the seeded epoch-shuffle order ([[shuffleKey]], p07's
    * portable scramble under a different seed): a doc is drawn iff the
    * tokens BEFORE it in its source's order leave room (exclusive
    * running sum < quota). p05 reports what the mixture should be; p09
    * is the draw a run actually trains on, reproducible across retries
    * because the order is a pure function of (doc_id, seed).
    *
    * 100 TB shape: one per-source aggregation (quotas are
    * vocabulary-of-sources-sized — broadcast), one grouped distributed
    * scan for the running sums (a hot source never lands on one task),
    * no global sort.
    *
    * Quota arithmetic is EXACT (r12 — retires the r10 boundary-risk
    * advisory): the √-share is materialized as an integer micro-share
    * m = round(√src_tokens · 10⁶) — deterministic on both engines
    * because IEEE-754 `sqrt` and the scale multiply are correctly
    * rounded per-value operations with NO accumulation-order
    * dependence (the old z = Σ√src float sum was the one
    * order-sensitive term) — and the quota is the exact integer
    * floor(budget·m / Σm), evaluated in 128-bit integer arithmetic
    * (DECIMAL(38,0) `div` Spark-side, HUGEINT `//` oracle-side;
    * budget·m ≈ 3·10²⁵ at 100 TB, far inside 38 digits). Verified to
    * reproduce the former float quotas bit-for-bit at sf0.01 and
    * sf0.1 — the hash is unchanged; what changed is that no corpus
    * can ever sit on a rounding boundary. */
  def budgetDraw(s: SparkSession, d: String): DataFrame =
    budgetDrawFrom(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), bpePieces.as("n_tokens")))

  /** The draw kernel over any (doc_id, source, n_tokens) relation —
    * shared by p09 (regex-piece units) and p13 (learned-BPE units):
    * the unit of account is a PARAMETER, the quota/draw algebra is
    * one definition. */
  private def budgetDrawFrom(per: DataFrame): DataFrame = {
    val bySrc = per.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("m_share",
        round(sqrt(col("src_tokens")) * MShareScale).cast("long"))
    val tot = bySrc.agg(
      expr(s"cast(sum(src_tokens) div $DrawBudgetDen as bigint)")
        .as("budget"),
      sum(col("m_share")).as("m_tot"))
    val quotas = bySrc.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("cast((cast(budget as decimal(38,0)) * cast(m_share as decimal(38,0)))" +
          " div cast(m_tot as decimal(38,0)) as bigint)")
          .as("quota_tokens"))
    val keyed = per.withColumn("shuffle_key",
      shuffleKey(col("doc_id"), DrawSeed))
    exclusivePrefixSum(keyed, Seq("shuffle_key", "doc_id"),
        col("n_tokens"), "cum_tokens", strata = Seq("source"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("cum_tokens") < col("quota_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("quota_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** The draw algebra after a `per$sfx (doc_id, source, n_tokens,
    * shuffle_key)` CTE, as CTEs ending in `drawn$sfx` — ONE quota
    * definition shared by p09 (regex units, sfx ""), p13 (learned-BPE
    * units, sfx "") and c06 (BOTH, suffixed `_rx`/`_bp` so the two
    * instantiations coexist in one query). */
  private def budgetDrawTailCtes(sfx: String): String =
    s"""srcs$sfx AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |         FROM per$sfx GROUP BY source),
       |tot$sfx AS (SELECT CAST(sum(src_tokens) AS BIGINT) // $DrawBudgetDen
       |          AS budget,
       |        CAST(sum(CAST(round(sqrt(src_tokens) * $MShareScale)
       |          AS BIGINT)) AS BIGINT) AS m_tot
       |        FROM srcs$sfx),
       |q$sfx AS (SELECT source,
       |        CAST((CAST(budget AS HUGEINT) *
       |              CAST(round(sqrt(src_tokens) * $MShareScale) AS BIGINT))
       |             // m_tot AS BIGINT) AS quota_tokens
       |      FROM srcs$sfx, tot$sfx),
       |c$sfx AS (SELECT doc_id, source, n_tokens,
       |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY shuffle_key, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cum_tokens
       |      FROM per$sfx),
       |drawn$sfx AS (
       |  SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens, q.quota_tokens
       |  FROM c$sfx c JOIN q$sfx q USING (source)
       |  WHERE c.cum_tokens < q.quota_tokens)""".stripMargin

  private val budgetDrawTailSql =
    s"""${budgetDrawTailCtes("")}
       |SELECT doc_id, source, n_tokens, cum_tokens, quota_tokens
       |FROM drawn ORDER BY source, cum_tokens""".stripMargin

  private val budgetDrawSql =
    s"""WITH per AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
       |    ${shuffleKeySql("doc_id", DrawSeed)} AS shuffle_key
       |  FROM documents),
       |$budgetDrawTailSql""".stripMargin

  /** p13 — the budget draw billed in LEARNED-BPE tokens (the payoff of
    * t16: the p-family's unit of account comes from the trained
    * tokenizer, not the fixed regex approximation — the r11 verdict's
    * motivating gap). Identical draw algebra to p09
    * ([[budgetDrawFrom]] / [[budgetDrawTailSql]] shared verbatim);
    * only `n_tokens` changes meaning — so comparing p09 and p13 rows
    * IS the audit of how far regex-piece accounting drifts from the
    * learned unit. Docs the tokenizer cannot count (zero clean tokens)
    * drop on both engines (t18's convention).
    *
    * 100 TB shape: t18's retokenization (vocabulary-scale replay +
    * size-guarded join) feeding p09's draw shape (per-source quotas
    * broadcast, grouped prefix scan, no global sort). */
  def bpeBudgetDraw(s: SparkSession, d: String): DataFrame =
    budgetDrawFrom(Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(BpeOps.docBpeCounts(s, d), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens")))

  private val bpeBudgetDrawSql =
    s"""WITH ${BpeOps.docBpeCtesSql},
       |nb AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
       |       FROM t2 JOIN pieces USING (word) GROUP BY doc_id),
       |per AS (
       |  SELECT d.doc_id, d.source, nb.n_tokens,
       |    ${shuffleKeySql("d.doc_id", DrawSeed)} AS shuffle_key
       |  FROM documents d JOIN nb ON nb.doc_id = d.doc_id),
       |$budgetDrawTailSql""".stripMargin

  /** The regex-piece token count as an oracle fragment ≙ [[bpePieces]]
    * over a `documents` alias. */
  private def bpePiecesSqlOf(alias: String): String =
    s"CAST(len(regexp_extract_all(lower($alias.text), " +
      "'[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)"

  /** c06 — UNIT-DRIFT audit (SURVEY X114, r12 verdict ask #6): per
    * source, how far the p09 regex-piece accounting drifts from p13's
    * learned-BPE unit — the number a pipeline reads before trusting
    * historical regex-billed budgets. Composes p09's and p13's OWN
    * draw relations ([[budgetDraw]] / [[bpeBudgetDraw]] verbatim —
    * their shared quota algebra means any disagreement is the UNIT,
    * never the draw): per source,
    *   - n_docs and both unit totals with the drift ratio
    *     (bpe_tokens / regex_tokens — >1 means regex UNDER-bills and a
    *     regex-budgeted epoch overruns its true token budget),
    *   - the draw disagreement: docs drawn under exactly one unit
    *     (n_only_regex / n_only_bpe) vs drawn under both — the
    *     concrete training-set churn a unit migration causes.
    * Docs the tokenizer cannot count (zero raw words) carry
    * bpe_tokens 0 and can only be regex-drawn — the denominators stay
    * honest about model coverage (c05's discipline).
    *
    * 100 TB shape: two draws the engine already runs (each: broadcast
    * quotas + grouped prefix scan), two membership left-joins on
    * doc_id, one sources-sized agg — pure relational algebra over
    * relations p09/p13 materialize anyway. */
  def unitDriftAudit(s: SparkSession, d: String): DataFrame = {
    val inRx = budgetDraw(s, d)
      .select(col("doc_id"), lit(1L).as("in_rx"))
    val inBp = bpeBudgetDraw(s, d)
      .select(col("doc_id"), lit(1L).as("in_bp"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), bpePieces.as("regex_tokens"))
      .join(BpeOps.docBpeCounts(s, d)
        .select(col("doc_id"), col("n_tokens").as("bpe_tokens")),
        Seq("doc_id"), "left")
      .join(inRx, Seq("doc_id"), "left")
      .join(inBp, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("regex_tokens")).as("regex_tokens"),
        sum(coalesce(col("bpe_tokens"), lit(0L))).as("bpe_tokens"),
        sum(coalesce(col("in_rx"), lit(0L))).as("n_drawn_regex"),
        sum(coalesce(col("in_bp"), lit(0L))).as("n_drawn_bpe"),
        sum(when(col("in_rx") === 1L && col("in_bp") === 1L, 1L)
          .otherwise(0L)).as("n_drawn_both"),
        sum(when(col("in_rx") === 1L && col("in_bp").isNull, 1L)
          .otherwise(0L)).as("n_only_regex"),
        sum(when(col("in_bp") === 1L && col("in_rx").isNull, 1L)
          .otherwise(0L)).as("n_only_bpe"))
      .select(col("source"), col("n_docs"), col("regex_tokens"),
        col("bpe_tokens"),
        round(col("bpe_tokens") / col("regex_tokens"), 6).as("drift_ratio"),
        col("n_drawn_regex"), col("n_drawn_bpe"), col("n_drawn_both"),
        col("n_only_regex"), col("n_only_bpe"))
      .orderBy(col("source"))
  }

  private val unitDriftAuditSql =
    s"""WITH ${BpeOps.docBpeCtesSql},
       |nb AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
       |       FROM t2 JOIN pieces USING (word) GROUP BY doc_id),
       |per_rx AS (
       |  SELECT d.doc_id, d.source, ${bpePiecesSqlOf("d")} AS n_tokens,
       |    ${shuffleKeySql("d.doc_id", DrawSeed)} AS shuffle_key
       |  FROM documents d),
       |${budgetDrawTailCtes("_rx")},
       |per_bp AS (
       |  SELECT d.doc_id, d.source, nb.n_tokens,
       |    ${shuffleKeySql("d.doc_id", DrawSeed)} AS shuffle_key
       |  FROM documents d JOIN nb ON nb.doc_id = d.doc_id),
       |${budgetDrawTailCtes("_bp")},
       |u AS (
       |  SELECT d.doc_id, d.source, ${bpePiecesSqlOf("d")} AS regex_tokens,
       |    COALESCE(nb.n_tokens, 0) AS bpe_tokens,
       |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS in_rx,
       |    CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS in_bp
       |  FROM documents d
       |  LEFT JOIN nb ON nb.doc_id = d.doc_id
       |  LEFT JOIN (SELECT DISTINCT doc_id FROM drawn_rx) r
       |    ON r.doc_id = d.doc_id
       |  LEFT JOIN (SELECT DISTINCT doc_id FROM drawn_bp) b
       |    ON b.doc_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(regex_tokens) AS BIGINT) AS regex_tokens,
       |  CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  round(sum(bpe_tokens) / sum(regex_tokens), 6) AS drift_ratio,
       |  CAST(sum(in_rx) AS BIGINT) AS n_drawn_regex,
       |  CAST(sum(in_bp) AS BIGINT) AS n_drawn_bpe,
       |  CAST(sum(CASE WHEN in_rx = 1 AND in_bp = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_drawn_both,
       |  CAST(sum(CASE WHEN in_rx = 1 AND in_bp = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_only_regex,
       |  CAST(sum(CASE WHEN in_bp = 1 AND in_rx = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_only_bpe
       |FROM u GROUP BY source ORDER BY source""".stripMargin

  /** p11 — training-export shard MANIFEST through real written shards
    * (the handoff artifact every training job consumes: which shard
    * holds how many documents/tokens/chars, so the trainer plans
    * epochs and data-parallel splits without scanning data). The
    * corpus is assigned to shards by p07's seeded portable scramble
    * ([[shuffleKey]] % [[EpochShards]] — the export is reproducible by
    * (corpus, seed) across retries), WRITTEN as gzip JSONL partitioned
    * by shard (s21's trainer-facing format), and the manifest is
    * aggregated from the READ-BACK files — n_tokens re-tokenized from
    * the round-tripped text, so a shard-routing bug, a dropped row, or
    * text corruption in the export path breaks the manifest hash, not
    * just a downstream training run. The oracle reproduces shard
    * assignment and token counts closed-form from the table.
    *
    * 100 TB shape: one map-only partitioned write (the dynamic-
    * partition sink sorts rows by shard within each task, so writers
    * open one at a time), one map-only read, one 64-key hash agg
    * (map-side combined). The manifest is shard-count-sized — the
    * trainer reads kilobytes, not the corpus. File-count honesty:
    * files per shard = tasks that touch it, so a wide cluster writing
    * few shards fragments (tasks × shards files) — a deployment
    * either repartitions on shard first (one shuffle, one file per
    * shard) or runs s17's compaction after; at the harness's
    * task-per-shard ratio the map-only form is the right plan. */
  /** The export shard-assignment relation (doc_id, text, shard) —
    * ONE routing rule shared by batch p11 and streaming s22, so the
    * two export paths cannot drift apart (the passage-CTE factoring
    * discipline). */
  private[graft] def exportAssigned(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      (shuffleKey(col("doc_id"), ShuffleSeed) % EpochShards).as("shard"))

  /** The manifest tail over a read-back export — shared by p11/s22:
    * n_tokens re-tokenized from the round-tripped text, so export-path
    * corruption fails the manifest hash. The count is deliberately the
    * REGEX piece count, not the learned-BPE unit: its job here is
    * corruption DETECTION (any deterministic text-sensitive count
    * works, and the regex needs no model join inside the export path);
    * billing in learned units is p13/p14's business, and s23 meters
    * the same stream in them. */
  private[graft] def manifestFrom(readBack: DataFrame): DataFrame =
    readBack.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(bpePieces).as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .orderBy(col("shard"))

  /** The export now commits through
    * [[graft.sources.ExportCommit]]'s atomic manifest protocol (r12):
    * the shard files are STAGED into a per-attempt directory and
    * published by atomically creating `manifest-v{N}.json`; the
    * read-back resolves the manifest and reads exactly the committed
    * directories. A crashed or replayed attempt is invisible /
    * deleted — the formerly-documented at-least-once caveat is closed
    * in-repo, not delegated to a table format. Re-runs in one session
    * are no-ops (the batch id is already committed), keeping the row
    * bench-stable; the tmp tree is registered for JVM-exit cleanup
    * ([[graft.sources.TmpDirs]], r11 ADVICE). */
  def exportManifest(s: SparkSession, d: String): DataFrame = {
    val assigned = exportAssigned(Tables.documents(s, d))
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "p11")
    // the export GENERATION is itself a versioned artifact: the commit
    // root the trainer reads is resolved through the atomic CURRENT
    // pointer (r16 ask #1, export family — a re-export or p15-style
    // rewrite lands as a NEW generation root + one pointer flip, and
    // this row's hash now rides on the pointer resolving correctly)
    val gen = s"$root/gen0"
    graft.sources.ExportCommit.commitOnce(gen, 0L)(
      assigned.write.partitionBy("shard").option("compression", "gzip").json(_))
    graft.api.ServePointer.adopt(s"$root/pointer", gen)
    val served = graft.api.ServePointer.current(s"$root/pointer")
      .getOrElse(sys.error(s"no adopted export generation under $root"))
    manifestFrom(
      graft.sources.ExportCommit.readCommitted(s, served, assigned.schema))
  }

  private[graft] val exportManifestSql =
    s"""WITH k AS (
       |  SELECT doc_id, text,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin

  /** p12 — INCREMENTAL shard export against a stored id index (d08's
    * incremental-dedup discipline applied to the trainer handoff: a
    * pipeline does not re-export 100 TB because a crawl added a
    * terabyte). The epoch starts with the base corpus (doc_id % 10 ≠ 0
    * — the harness's planted growth split) exported through p11's
    * shared routing, PLUS a doc-id INDEX parquet written alongside —
    * the index, not the export, is what the incremental step probes
    * (re-reading gzip payloads to learn ids would scan the corpus;
    * probing a column-pruned parquet index is d08's batch ⋈ index
    * shape, never batch ⋈ corpus). The incremental step anti-joins the
    * grown corpus against the index, APPENDS only the new docs to
    * their shards, appends their ids to the index, and emits the
    * manifest from the full read-back with per-shard `n_new` — the
    * oracle reproduces totals AND the increment split closed-form, so
    * re-exported (duplicated) docs, dropped new docs, or index drift
    * all break the hash.
    *
    * 100 TB shape: index probe is a broadcast-or-shuffle anti-join on
    * the id (index is ids-only — orders of magnitude under the
    * corpus); appends are map-only. */
  /** Both the shard tree and the id index now commit through
    * [[graft.sources.ExportCommit]] (r12): each epoch's files are
    * staged and published by an atomic manifest version, so the
    * formerly-documented at-least-once append window (shards AND
    * index) is closed in-repo. Ordering invariant: within an epoch the
    * SHARD commit precedes the INDEX commit, and the increment is
    * always derived by anti-joining against the COMMITTED index — so a
    * crash between the two commits replays to the identical increment
    * (the index still lacks the epoch), the shard commit no-ops on its
    * already-committed batch id, and the index catches up; nothing
    * double-appends. `n_new` is read from the increment's OWN
    * committed directories ([[graft.sources.ExportCommit.readBatch]])
    * — derived from artifacts, stable across re-runs. */
  def incrementalExport(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    val docs = Tables.documents(s, d)
    val base = graft.sources.TmpDirs.artifactRoot(s, d, "p12")
    val shardsRoot = s"$base/shards"
    val indexRoot = s"$base/index"
    val epoch0 = exportAssigned(docs.filter(col("doc_id") % 10 =!= 0))
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    // shards commit BEFORE the index, per epoch (see above)
    ExportCommit.commitOnce(shardsRoot, 0L)(
      epoch0.write.partitionBy("shard").option("compression", "gzip").json(_))
    ExportCommit.commitOnce(indexRoot, 0L)(
      epoch0.select(col("doc_id")).write.parquet(_))
    if (!ExportCommit.isCommitted(shardsRoot, 1L) ||
        !ExportCommit.isCommitted(indexRoot, 1L)) {
      val idx = ExportCommit.readCommitted(s, indexRoot, idSchema, "parquet")
      val fresh = exportAssigned(docs)
        .join(idx, Seq("doc_id"), "left_anti")
        .localCheckpoint() // consumed twice: shard stage, index stage
      ExportCommit.commitOnce(shardsRoot, 1L)(
        fresh.write.partitionBy("shard").option("compression", "gzip").json(_))
      ExportCommit.commitOnce(indexRoot, 1L)(
        fresh.select(col("doc_id")).write.parquet(_))
    }
    val nNew = ExportCommit.readBatch(s, shardsRoot, 1L, epoch0.schema)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_new"))
    manifestFrom(ExportCommit.readCommitted(s, shardsRoot, epoch0.schema))
      .join(nNew, Seq("shard"), "left")
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .orderBy(col("shard"))
  }

  private val incrementalExportSql =
    s"""WITH k AS (
       |  SELECT doc_id, text,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_new
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin

  /** p16 — the EXPORT TREE'S MAINTENANCE DAY (r18 verdict ask #3):
    * p12's increments and s22's micro-batches append committed shard
    * dirs under the export root forever — every index store got
    * `compactAppends` + pointer adoption + debt retirement, but the
    * export family's small files had no fold. This row runs the full
    * janitor day on the export surface:
    *
    *  1. BASE generation: the epoch-0 corpus (doc_id % 10 ≠ 0, p12's
    *     growth split) written through [[exportAssigned]]'s shared
    *     routing, committed, and adopted as the export pointer's v1;
    *  2. APPEND DEBT: two incremental batches (the % 10 == 0 docs,
    *     split % 20) land as committed append dirs — the small-file
    *     debt a live export tree accrues;
    *  3. TRIGGER: [[graft.api.CompactionPolicy.due]] evaluates the
    *     REAL append manifest and is LOAD-BEARING — the fold runs only
    *     if it fires (asserted: 2 committed appends ≥ threshold 2);
    *  4. FOLD (s17's posture): base ∪ appends read back and rewritten
    *     as ONE compacted generation — `repartition(shard)` before the
    *     partitioned write, so every shard lands in exactly one task
    *     and the generation carries ONE file per shard;
    *  5. ADOPT + RETIRE: the fold becomes the pointer's v2; the folded
    *     append root is retired through
    *     [[graft.api.ServePointer.retireFoldedDebt]] (idempotent, on
    *     every entry — a crash between adopt and retire must not leak
    *     the debt); history pruned to the rollback window.
    *
    * The emitted manifest is re-aggregated from the READ-BACK
    * compacted files through the pointer-resolved current generation
    * — p11's manifest arithmetic transfers verbatim across the fold
    * (the fold moves bytes, never rows), `n_files` = 1 per shard is
    * the compaction's closed form, `inputs_retired` measures the
    * folded append root physically gone, `served_is_fold` that the
    * pointer serves the compacted generation. Replay discipline: once
    * the pointer names the fold, the append debt is never recreated
    * (the s38 posture), so re-runs serve the identical manifest.
    *
    * 100 TB shape: the trigger reads two kilobyte manifests; the fold
    * is one corpus-scale read + one shuffle on the shard key + one
    * partitioned write — the cost the janitor pays ONCE to turn
    * O(increments) read fan-in into one file per shard; the manifest
    * is shard-count-sized. */
  def exportMaintenance(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    val docs = Tables.documents(s, d)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "p16")
    val gen0 = s"$root/gen0"
    val appends = s"$root/appends"
    val gen1 = s"$root/gen1"
    val ptr = s"$root/pointer"
    val gen1n = java.nio.file.Paths.get(gen1)
      .toAbsolutePath.normalize().toString
    val assigned = exportAssigned(docs)
    val folded = graft.api.ServePointer.current(ptr).contains(gen1n)
    if (!folded) {
      // ---- base generation + the append debt (never recreated after
      // the fold retired it)
      ExportCommit.commitOnce(gen0, 0L)(assigned.filter(col("doc_id") % 10 =!= 0)
        .write.partitionBy("shard").option("compression", "gzip").json(_))
      graft.api.ServePointer.adopt(ptr, gen0)
      for ((residue, b) <- Seq((0L, 0L), (10L, 1L)))
        ExportCommit.commitOnce(appends, b)(
          assigned.filter(col("doc_id") % 20 === residue)
            .write.partitionBy("shard").option("compression", "gzip").json(_))
      // ---- the maintenance day: trigger → fold → adopt
      val dec = graft.api.CompactionPolicy.due(appends, None,
        maxAppendBatches = 2, maxTombstoneBatches = 1)
      require(dec.due && dec.appendBatches == 2,
        s"p16: compaction policy must fire on 2 committed appends, got $dec")
      ExportCommit.commitOnce(gen1, 0L)(
        ExportCommit.readCommitted(s, gen0, assigned.schema)
          .unionByName(ExportCommit.readCommitted(s, appends, assigned.schema))
          .repartition(col("shard"))
          .write.partitionBy("shard").option("compression", "gzip").json(_))
      graft.api.ServePointer.adopt(ptr, gen1)
      graft.api.ServePointer.pruneHistory(ptr, keepLast = 2)
      ()
    }
    // debt retirement runs on EVERY entry, outside the day guard (the
    // r17 crash-between-adopt-and-retire lesson)
    graft.api.ServePointer.retireFoldedDebt(ptr, gen1, Seq(appends))
    val served = graft.api.ServePointer.current(ptr).getOrElse(
      sys.error(s"no adopted export generation under $ptr"))
    val servedIsFold = if (served == gen1n) 1L else 0L
    val inputsRetired = if (!new java.io.File(appends).exists()) 1L else 0L
    // per-shard data-file census of the served generation (driver-side
    // listing of shard-count dirs — kilobytes, never data)
    val shardFiles = ExportCommit.committedDirs(served).flatMap { dir =>
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
        .map(f => (f.getName.stripPrefix("shard=").toLong,
          f.listFiles().count(_.getName.startsWith("part-")).toLong))
    }
    import s.implicits._
    val filesDf = shardFiles.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toSeq
      .toDF("shard", "n_files")
    manifestFrom(ExportCommit.readCommitted(s, served, assigned.schema))
      .join(broadcast(filesDf), Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_files"),
        lit(inputsRetired).as("inputs_retired"),
        lit(servedIsFold).as("served_is_fold"))
      .orderBy(col("shard"))
  }

  /** p16's oracle: p11's manifest arithmetic over the FULL corpus (the
    * fold preserves it verbatim), with the compaction's closed forms —
    * one file per shard, the folded debt physically retired, the
    * pointer serving the fold. */
  private val exportMaintenanceSql =
    s"""WITH k AS (
       |  SELECT doc_id, text,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  CAST(1 AS BIGINT) AS n_files,
       |  CAST(1 AS BIGINT) AS inputs_retired,
       |  CAST(1 AS BIGINT) AS served_is_fold
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin

  /** p15 — tombstone DELETE reflected in the EXPORT artifact (the third
    * surface of the r14 verdict's takedown lifecycle, after e21's serve
    * and e22's index compaction): a takedown set (doc_id ≡ 0 mod 10 —
    * the planted discipline) is committed to a tombstone log through
    * ExportCommit's atomic manifest, and the shipped export honors it
    * PHYSICALLY with shard-selective rewrites:
    *
    *  - the AFFECTED shard set comes straight off the log — shard
    *    routing is a pure function of doc_id ([[shuffleKey]]), so no
    *    payload scan decides what to rewrite;
    *  - only affected shards are re-exported (read back, anti-join the
    *    log, re-stage, commit) — unaffected shards keep their ORIGINAL
    *    committed files, provably untouched;
    *  - p12's doc-id INDEX loses the ids the same way (ids-sized
    *    rewrite — the index is what incremental exports probe, so a
    *    deleted doc must not suppress a future legitimate re-add as
    *    "already exported");
    *  - the emitted manifest aggregates the COMPOSED post-delete export
    *    (original unaffected dirs ∪ rewritten affected dirs) with a
    *    per-shard `n_deleted`, and its shard universe is the ORIGINAL
    *    epoch's — a shard emptied by the takedown still reports, with
    *    zero survivors.
    *
    * The oracle reproduces survivors and deletions closed-form from the
    * table, so a tombstoned doc surviving in any shard file, a dropped
    * survivor, or index drift each break the hash. All four roots
    * commit through ExportCommit (replayed batch ids skip), so the
    * whole delete-then-re-export lifecycle is exactly-once under
    * at-least-once delivery.
    *
    * 100 TB shape: the log and the affected-shard probe are ids-sized
    * (broadcast); rewrites touch only affected shards' payload bytes;
    * the manifest roll-up is shard-count-sized. Nothing rescans
    * unaffected payload. */
  def tombstoneExport(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    val docs = Tables.documents(s, d)
    val base = graft.sources.TmpDirs.artifactRoot(s, d, "p15")
    val shardsRoot = s"$base/shards"
    val indexRoot = s"$base/index"
    val tombRoot = s"$base/tombstones"
    val rewriteRoot = s"$base/rewrite"
    val index2Root = s"$base/index_v2"
    val assigned = exportAssigned(docs)
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    ExportCommit.commitOnce(shardsRoot, 0L)(
      assigned.write.partitionBy("shard").option("compression", "gzip").json(_))
    ExportCommit.commitOnce(indexRoot, 0L)(
      assigned.select(col("doc_id")).write.parquet(_))
    ExportCommit.commitOnce(tombRoot, 0L)(
      docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
        .write.parquet(_))
    val tombs = ExportCommit.readCommitted(s, tombRoot, idSchema, "parquet")
      .localCheckpoint() // ids-sized; consumed by four joins below
    val shardOf = (shuffleKey(col("doc_id"), ShuffleSeed) % EpochShards)
      .as("shard")
    val affected = tombs.select(shardOf).distinct().localCheckpoint()
    ExportCommit.commitOnce(rewriteRoot, 0L)(
      ExportCommit.readCommitted(s, shardsRoot, assigned.schema)
        .join(broadcast(affected), Seq("shard"), "left_semi")
        .join(tombs, Seq("doc_id"), "left_anti")
        .write.partitionBy("shard").option("compression", "gzip").json(_))
    ExportCommit.commitOnce(index2Root, 0L)(
      ExportCommit.readCommitted(s, indexRoot, idSchema, "parquet")
        .join(tombs, Seq("doc_id"), "left_anti")
        .write.parquet(_))
    val composed = ExportCommit.readCommitted(s, shardsRoot, assigned.schema)
      .join(broadcast(affected), Seq("shard"), "left_anti")
      .unionByName(ExportCommit.readCommitted(s, rewriteRoot, assigned.schema))
    val nDel = tombs.select(shardOf)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_deleted"))
    val mf = manifestFrom(composed)
    // shard universe without a third payload scan (r15 review): every
    // original-epoch shard either still has a survivor (→ in the
    // manifest) or lost ALL its docs to the takedown (→ in the
    // affected set) — their union IS the original universe
    val universe = mf.select(col("shard"))
      .unionByName(affected).distinct()
    universe
      .join(mf, Seq("shard"), "left")
      .join(nDel, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"))
      .orderBy(col("shard"))
  }

  private val tombstoneExportSql =
    s"""WITH k AS (
       |  SELECT doc_id, text,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM documents)
       |SELECT shard,
       |  CAST(count(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) FILTER (WHERE doc_id % 10 <> 0),
       |    0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum(length(text)) FILTER (WHERE doc_id % 10 <> 0), 0)
       |    AS BIGINT) AS n_chars,
       |  CAST(count(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS n_deleted
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin

  /** The c07 single-surface audit row: ONE takedown log joined against
    * the surface's PRE (artifact before the fold) and POST (loaded
    * folded artifact) relations, reduced to the flags the composed
    * oracle states closed-form. The log is ids-sized and broadcast;
    * each audit is two scans + one 1-row × 1-row join (the
    * constant-sized cross the engine's 1-row-aggregate rows already
    * use). `reportN = false` for the LSH surface: band rows are
    * engine-hash values no SQL oracle can recount, so it reports the
    * flags only (its planted serve-path witness is d25's row) and
    * n_after = -1 by convention. */
  private def forgottenSurfaceRow(surface: String, pre: DataFrame,
      post: DataFrame, key: String, tombs: DataFrame,
      reportN: Boolean): DataFrame = {
    val t = broadcast(tombs.select(col(key)).withColumn("__t", lit(1L)))
    val preAgg = pre.join(t, Seq(key), "left")
      .agg(coalesce(max(col("__t")), lit(0L)).as("hb"))
    val postAgg = post.join(t, Seq(key), "left")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("nfa"),
        count(lit(1)).as("na"))
    preAgg.crossJoin(postAgg).select(
      lit(surface).as("surface"),
      (col("hb") === 1L).as("had_forgotten_before"),
      col("nfa").cast("long").as("n_forgotten_after"),
      (col("na") > 0L).as("survivors_present"),
      (if (reportN) col("na").cast("long") else lit(-1L)).as("n_after"))
  }

  /** c07 — composed RIGHT-TO-BE-FORGOTTEN audit (r15 verdict ask #4:
    * the takedown lifecycle was witnessed per-store — e21/e22/e24/e25,
    * d25/d27/d29, p15, s30/s31 — but no single row propagated ONE
    * takedown set through EVERY store and proved absence everywhere at
    * once, which is the audit a data-protection officer actually
    * requests): the forgotten principals are ids ≡ 0 mod 10 — the SAME
    * set in both key spaces (doc_id for the document-keyed stores,
    * vec_id for the vector-keyed ones) — committed ONCE per key space
    * through the shared manifest protocol, folded PHYSICALLY through
    * each store's own compaction path, and audited per surface with NO
    * tombstone filter on the read:
    *
    *   - export_shards — p15's shard-selective rewrite (affected
    *     shards from the log alone; unaffected shards keep their
    *     original committed files), audited over the COMPOSED payload;
    *   - ivf_assigned / pq_codes — [[graft.api.IvfStore]]'s
    *     compactAppends / compactPqAppends tombstone folds (e22/e25's
    *     machinery, empty append manifests);
    *   - lsh_bands / winnow_index / passage_index — the three
    *     document-grain index stores' folds (d25/d29/d27's machinery).
    *
    * One row per surface: `had_forgotten_before` (the set was really
    * IN the store — absence is not vacuous), `n_forgotten_after` (MUST
    * be 0: the flag the oracle states closed-form), `survivors_present`
    * (a wholesale drop is not a delete), and `n_after` — the exact
    * surviving row count, stated closed-form by the oracle for every
    * surface whose artifact is SQL-reproducible (deletes only SHRINK
    * census counts, so the post-fold re-census prunes nothing new and
    * the survivor filter commutes with the build); the LSH band count
    * is engine-hash territory and reports -1 (flags still audited).
    * `had_forgotten_before` = TRUE is closed-form for the exact-count
    * surfaces and corpus-measured for lsh/winnow (a tenth of the
    * corpus with ≥ 3 tokens never loses ALL its band rows to the
    * bucket cap at any shipped SF — d25's planted receipts pin the
    * mechanism).
    *
    * c04's composition discipline applied to deletion: every leg is
    * the REGISTERED store's own API — drift in any fold breaks this
    * row's hash together with the per-store row.
    *
    * 100 TB shape: the logs are ids-sized (broadcast everywhere); the
    * folds are the compactions the janitor was already paying for
    * (here session-billed as the audit's INPUT artifacts, e23's
    * billing); the audit itself is one scan per surface with an
    * ids-sized broadcast join — nothing corpus-sized moves twice. */
  def rightToBeForgotten(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c07")
    val docTombs = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
    val vecTombs = emb.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
    // ONE takedown set, committed once per key space (replay-safe)
    val docTombRoot = s"$root/tomb_docs"
    val vecTombRoot = s"$root/tomb_vecs"
    graft.api.DocIndexStore.appendTombstones(docTombRoot, docTombs, 0L)
    graft.api.IvfStore.appendTombstones(vecTombRoot, vecTombs, 0L)
    val date = java.time.LocalDate.ofEpochDay(0)

    // ---- lsh_bands / winnow_index / passage_index (d25/d29/d27's
    // folds over the ONE doc-tombstone log; lsh reports flags only —
    // see forgottenSurfaceRow)
    val docStores = Seq(
      ("lsh_bands", "lsh", graft.api.DocIndexStore.Lsh, false),
      ("winnow_index", "win", graft.api.DocIndexStore.Winnow, true),
      ("passage_index", "pas", graft.api.DocIndexStore.Passage, true))
    for ((_, fam, store, _) <- docStores) {
      val base = s"$root/${fam}_base"
      store.saveOnce(base, docs)
      if (!store.isSaved(s"$root/${fam}_out"))
        store.compactAppends(s, base, s"$root/${fam}_none",
          s"$root/${fam}_out", Some(docTombRoot))
    }

    // ---- ivf_assigned (e22's fold; the shared base-corpus quantizer)
    val ivf = EmbeddingOps.sharedIndex(s, d, EmbeddingOps.Geometry.Base)
    val cells = ivf.cells
    val ivfBase = graft.api.IvfStore.versionedDir(s"$root/ivf_base", cells, date)
    val ivfOut = graft.api.IvfStore.versionedDir(s"$root/ivf_out", cells, date)
    graft.api.IvfStore.saveOnce(ivfBase, ivf.index)
    if (!graft.api.IvfStore.isSaved(ivfOut))
      graft.api.IvfStore.compactAppends(s, ivfBase, s"$root/ivf_none",
        ivfOut, Some(vecTombRoot))

    // ---- pq_codes (e25's fold; the shared base-posture PQ stack)
    val (pqIndex, pqModel, pqCodes, _) =
      EmbeddingOps.sharedPq(s, d, EmbeddingOps.Geometry.Base)
    val m = EmbeddingOps.PqSubspaces
    val pqBase = graft.api.IvfStore.versionedPqDir(s"$root/pq_base",
      cells, m, EmbeddingOps.PqCodes, date)
    val pqOut = graft.api.IvfStore.versionedPqDir(s"$root/pq_out",
      cells, m, EmbeddingOps.PqCodes, date)
    graft.api.IvfStore.savePqOnce(pqBase, pqIndex, pqModel, pqCodes)
    if (!graft.api.IvfStore.isPqSaved(pqOut))
      graft.api.IvfStore.compactPqAppends(s, pqBase, s"$root/pq_none",
        pqOut, m, Some(vecTombRoot))

    // ---- export_shards (p15's shard-selective rewrite, composed view)
    val shardsRoot = s"$root/shards"
    val rewriteRoot = s"$root/rewrite"
    val assigned = exportAssigned(docs)
    ExportCommit.commitOnce(shardsRoot, 0L)(
      assigned.write.partitionBy("shard").option("compression", "gzip").json(_))
    val tombsRead = graft.api.DocIndexStore.committedTombstones(s, docTombRoot)
      .localCheckpoint() // ids-sized; consumed by the audits below
    val shardOf = (shuffleKey(col("doc_id"), ShuffleSeed) % EpochShards)
      .as("shard")
    val affected = tombsRead.select(shardOf).distinct().localCheckpoint()
    ExportCommit.commitOnce(rewriteRoot, 0L)(
      ExportCommit.readCommitted(s, shardsRoot, assigned.schema)
        .join(broadcast(affected), Seq("shard"), "left_semi")
        .join(tombsRead, Seq("doc_id"), "left_anti")
        .write.partitionBy("shard").option("compression", "gzip").json(_))
    val exportPre = ExportCommit.readCommitted(s, shardsRoot, assigned.schema)

    // r16 ask #1: the audit resolves every POST artifact through its
    // family's atomic CURRENT pointer — "what does the fleet serve
    // AFTER the takedown folded" is answered by the pointer, so a
    // stale or skipped adoption on ANY surface breaks the audit hash,
    // not just a raw-dir convention. adopt() is a replay no-op, so
    // re-invocations never churn the pointers.
    def adopted(fam: String, dir: String): String = {
      val ptr = s"$root/${fam}_ptr"
      graft.api.ServePointer.adopt(ptr, dir)
      graft.api.ServePointer.current(ptr)
        .getOrElse(sys.error(s"no adopted $fam artifact under $ptr"))
    }
    val exportPost = exportPre
      .join(broadcast(affected), Seq("shard"), "left_anti")
      .unionByName(ExportCommit.readCommitted(s,
        adopted("export", rewriteRoot), assigned.schema))

    // ---- the composed audit: one row per surface
    forgottenSurfaceRow("export_shards", exportPre, exportPost,
        "doc_id", tombsRead, reportN = true)
      .unionByName(forgottenSurfaceRow("ivf_assigned",
        graft.api.IvfStore.load(s, ivfBase).assigned,
        graft.api.IvfStore.load(s, adopted("ivf", ivfOut)).assigned,
        "vec_id", vecTombs, reportN = true))
      .unionByName(forgottenSurfaceRow("pq_codes",
        graft.api.IvfStore.loadPq(s, pqBase, m)._3,
        graft.api.IvfStore.loadPq(s, adopted("pq", pqOut), m)._3,
        "vec_id", vecTombs, reportN = true))
      .unionByName(docStores.map { case (surface, fam, store, reportN) =>
        forgottenSurfaceRow(surface, store.load(s, s"$root/${fam}_base"),
          store.load(s, adopted(fam, s"$root/${fam}_out")),
          "doc_id", tombsRead, reportN)
      }.reduce(_.unionByName(_)))
      .orderBy(col("surface"))
  }

  /** c07's oracle: the six surfaces' closed forms. Deletes only SHRINK
    * the census doc-counts, so the engine's post-fold re-census prunes
    * nothing beyond the build-time census and the survivor filter
    * commutes with the build — the winnow/passage counts are therefore
    * (full-census artifact) restricted to surviving docs. */
  private val rightToBeForgottenSql = {
    val passCtes = DedupOps.passageCtesSqlFor("documents", "_pg")
    val winCtes = graft.operators.TextOps.winnowCtesSqlFor("documents", "_wn")
    s"""WITH $passCtes,
       |$winCtes,
       |pidx AS (SELECT DISTINCT doc_id, md5(passage) AS h FROM ch_pg),
       |wok AS (SELECT fp FROM fps_wn GROUP BY fp
       |        HAVING count(DISTINCT doc_id) <= ${DedupOps.MaxRunFanoutDocs}),
       |widx AS (SELECT f.doc_id FROM fps_wn f JOIN wok USING (fp)),
       |surfaces AS (
       |  SELECT 'export_shards' AS surface, TRUE AS had_forgotten_before,
       |    CAST(0 AS BIGINT) AS n_forgotten_after,
       |    TRUE AS survivors_present,
       |    (SELECT CAST(count(*) AS BIGINT) FROM documents
       |     WHERE doc_id % 10 <> 0) AS n_after
       |  UNION ALL
       |  SELECT 'ivf_assigned', TRUE, CAST(0 AS BIGINT), TRUE,
       |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings
       |     WHERE vec_id % 10 <> 0)
       |  UNION ALL
       |  SELECT 'pq_codes', TRUE, CAST(0 AS BIGINT), TRUE,
       |    (SELECT CAST(count(*) AS BIGINT) FROM embeddings
       |     WHERE vec_id % 10 <> 0)
       |  UNION ALL
       |  SELECT 'lsh_bands', TRUE, CAST(0 AS BIGINT), TRUE,
       |    CAST(-1 AS BIGINT)
       |  UNION ALL
       |  SELECT 'winnow_index', TRUE, CAST(0 AS BIGINT), TRUE,
       |    (SELECT CAST(count(*) AS BIGINT) FROM widx WHERE doc_id % 10 <> 0)
       |  UNION ALL
       |  SELECT 'passage_index', TRUE, CAST(0 AS BIGINT), TRUE,
       |    (SELECT CAST(count(*) AS BIGINT) FROM pidx WHERE doc_id % 10 <> 0))
       |SELECT surface, had_forgotten_before, n_forgotten_after,
       |  survivors_present, n_after
       |FROM surfaces ORDER BY surface""".stripMargin
  }

  // ===== c08 — composed crawl-ADMISSION waterfall (the ingest twin of
  // c07's composed delete) =====

  /** Cleaned-salt marker for the planted quotation docs: pure alpha so
    * [[graft.functions.TextFunctions.cleanText]] keeps it (digits ride
    * along raw for per-doc uniqueness but clean away). Shared with
    * s34's streaming waterfall. */
  private[graft] val AdmitSalt = "qzgraftsalt"

  /** A batch doc sharing at least this many DISTINCT cleaned 5-grams
    * with the held-out eval set is quarantined (gate 5). */
  private[graft] val DecontamMinHits = 5

  /** Quotation-doc text: the source's first 2 passage widths of RAW
    * tokens (so its leading passage windows are EXACTLY the source's)
    * plus a salted tail token that fails gates 1-3's equality checks.
    * One definition for the planted batch docs AND the round-2 probe
    * (the slicing cannot drift between the two uses). */
  private[graft] def admitQuoteText: Column = concat(
    array_join(slice(split(col("text"), " "), 1,
      2 * DedupOps.PassageTokens), " "),
    lit(s" $AdmitSalt"), col("doc_id").cast("string"))

  /** Per-doc gate attribution of the admission batch — the waterfall's
    * core, factored out so the spec can pin every PLANTED class to its
    * gate by id. Returns (doc_id, text, gate) with gate ∈
    * {1_exact_store, 2_exact_intra, 3_neardup, 4_passage, 5_decontam,
    * admitted} ([[Gates.firstGate]] over the [[Gates]] s34 drains,
    * plus c08's own intra-batch keep-first). Also builds (once per
    * session)
    * the two LOADED serving artifacts the batch probes — the
    * waterfall's INPUT indexes, e21's billing discipline. */
  private[graft] def admissionAttributed(s: SparkSession,
      d: String): DataFrame =
    graft.api.Intermediates.memo(s, s"c08attr|$d") {
      admissionAttributedBuild(s, d)
    }

  private def admissionAttributedBuild(s: SparkSession,
      d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val (lshDir, pasDir) = Gates.admissionStores(s, d, existing)
    val wide = graft.sources.Scans.widenForFanout(docs, col("doc_id"))
    val batch = Gates.admissionIncrement(wide, off).localCheckpoint()
    // keep-first per digest WITHIN the batch: batch-only (a stream has
    // no arrival order to keep first by), so it is c08's own entry
    val withDigest = batch.withColumn("th", Gates.digest)
    val intraHits = withDigest
      .join(withDigest.groupBy(col("th")).agg(min(col("doc_id")).as("__keep")),
        Seq("th"))
      .filter(col("doc_id") =!= col("__keep"))
    Gates.firstGate(batch, "doc_id", Seq(
        "1_exact_store" ->
          Gates.exactFlags(batch, Gates.ledger(existing)).filter(col("exact")),
        "2_exact_intra" -> intraHits,
        "3_neardup" -> Gates.nearDupHits(batch,
          graft.api.DocIndexStore.Lsh.load(s, lshDir), existing),
        "4_passage" -> Gates.passageHits(DedupOps.probePassagesAgainst(batch,
          graft.api.DocIndexStore.Passage.load(s, pasDir))),
        "5_decontam" -> Gates.decontamHits(Gates.gramHits(batch,
          Gates.evalGrams(wide.filter(col("doc_id") % 97 === 0))))))
      .localCheckpoint()
  }

  /** Stage histogram with running totals over an attributed
    * (…, gate) relation — the waterfall's report shape, shared by
    * c08's phase 1 and s34's streaming waterfall. Running totals come
    * from a triangular self-join over the stage literal (an unkeyed
    * window would single-partition — harmless on ≤ 5 rows, but the
    * engine keeps exactly one unkeyed window: the prefix scan's
    * per-partition partials). */
  private[graft] def admissionHistogram(s: SparkSession,
      attributed: DataFrame, stages: Seq[String]): DataFrame = {
    import s.implicits._
    val hist = attributed.groupBy(col("gate"))
      .agg(count(lit(1)).as("n_rej"))
    val total = attributed.agg(count(lit(1)).as("n_total"))
    val h0 = stages.toDF("stage")
      .join(hist.withColumnRenamed("gate", "stage"), Seq("stage"), "left")
      .na.fill(0L, Seq("n_rej"))
      .localCheckpoint()
    h0.as("a")
      .join(h0.as("b"), col("b.stage") < col("a.stage"), "left")
      .groupBy(col("a.stage"), col("a.n_rej"))
      .agg(coalesce(sum(col("b.n_rej")), lit(0L)).as("rej_before"))
      .withColumnRenamed("n_rej", "n_rej0")
      .crossJoin(broadcast(total))
      .withColumn("n_rej", col("n_rej0"))
      .select(col("stage"),
        (col("n_total") - col("rej_before")).as("n_in"),
        col("n_rej").as("n_rejected"),
        (col("n_total") - col("rej_before") - col("n_rej"))
          .as("n_admitted"))
  }

  /** A phase-2 resubmission row — c08/c09/c12's witness that a commit
    * is load-bearing: `universe` resubmitted, `rejected` (key-distinct)
    * the members a gate still rejects. */
  private[graft] def resubmissionRow(stage: String, universe: DataFrame,
      rejected: DataFrame): DataFrame =
    rejected.agg(count(lit(1)).as("n_rejected"))
      .crossJoin(broadcast(universe.agg(count(lit(1)).as("n_in"))))
      .select(lit(2L).as("phase"), lit(stage).as("stage"),
        col("n_in"), col("n_rejected"),
        (col("n_in") - col("n_rejected")).as("n_admitted"))

  /** c08 — composed crawl-ADMISSION audit: the ingest twin of c07's
    * composed delete, and the composition every training-data
    * deployment actually runs per crawl increment. ONE incoming batch
    * (organic odd-id docs plus four planted reject classes) flows
    * through the full admission waterfall against the STORED corpus
    * (even ids) and its LOADED serving indexes:
    *
    *   1_exact_store — content digest already in the corpus ledger
    *     (planted: evens < 100 re-fetched verbatim at +off);
    *   2_exact_intra — duplicate digest WITHIN the batch, keep-first
    *     (organic odd-id twins);
    *   3_neardup — LSH candidates against the loaded
    *     [[graft.api.DocIndexStore.Lsh]] artifact, verified by cleaned-text
    *     identity (planted: evens in [100,200) re-fetched UPPERCASED at
    *     +2·off — new digest, identical cleaned tokens);
    *   4_passage — ≥ half the doc's passages already in the loaded
    *     [[graft.api.DocIndexStore.Passage]] membership set (planted:
    *     quotation docs built from evens in [200,250) at +3·off — the
    *     source's first two passage windows plus a salted tail);
    *   5_decontam — ≥ [[DecontamMinHits]] distinct cleaned 5-grams
    *     shared with the held-out eval set, doc_id ≡ 0 mod 97
    *     (planted: eval docs re-entering at +4·off behind a "leak "
    *     prefix — new digest, new cleaned text, SHIFTED passage
    *     windows, but n-gram overlap is position-independent).
    *
    * Survivors are then COMMITTED to the serving indexes through the
    * stores' own append paths (atomic manifests, replay-safe), and
    * phase 2 proves the appends are load-bearing: a verbatim
    * re-submission dies at the ledger (all |A|), an UPPERCASED variant
    * of every admitted doc with ≥ 1 shingle dies at the near-dup gate
    * only via the APPENDED band rows (nothing clean-equal exists in the
    * base index — gate 3 already removed those), and a quotation of
    * every admitted doc with ≥ 1 full passage dies at the passage gate
    * only via the APPENDED hashes. One row per (phase, stage) with
    * n_in / n_rejected / n_admitted, every count stated closed-form by
    * the oracle (the probabilistic LSH stage is pinned by the verified
    * equality, d11's discipline).
    *
    * 100 TB shape: every gate is batch ⋈ store on a uniform key
    * (128-bit digest / (band,bucket) / 128-bit passage hash /
    * broadcast eval grams) — never corpus ⋈ corpus; the appends write
    * batch-sized artifacts through the manifest CAS; the attribution
    * is ONE checkpointed pass whose counts aggregate a batch-sized
    * relation. Winnow-grain admission is d28's row; the vec-keyed
    * embedding side is e15/s26's (separate key space). */
  def crawlAdmission(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val off = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c08")
    val attributed = admissionAttributed(s, d)
    val admitted = attributed.filter(col("gate") === "admitted")
      .select(col("doc_id"), col("text"))

    // ---- phase 1 rows: the waterfall histogram with running totals
    val phase1 = admissionHistogram(s, attributed,
      Seq("1_exact_store", "2_exact_intra", "3_neardup",
        "4_passage", "5_decontam"))
      .select(lit(1L).as("phase"), col("stage"), col("n_in"),
        col("n_rejected"), col("n_admitted"))

    // ---- the admission COMMIT: survivors appended to the serving
    // indexes through the stores' own atomic manifest paths
    graft.api.DocIndexStore.Lsh.appendBatch(s"$root/lsh_app", admitted, 0L)
    graft.api.DocIndexStore.Passage.appendBatch(s"$root/pas_app", admitted, 0L)

    val (lshDir, pasDir) = Gates.admissionStores(s, d, existing)
    val stored = existing.unionByName(admitted)
    // (a) verbatim re-submission → the digest ledger now includes the
    // admitted batch; everything dies at the exact gate
    val r2a = Gates.exactFlags(admitted, Gates.ledger(stored))
      .filter(col("exact"))
    // (b) uppercased variants → base ∪ APPENDED band rows + verify
    val variants = admitted.select(
      (col("doc_id") + lit(5 * off)).as("doc_id"),
      upper(col("text")).as("text"))
    val lshServe = graft.api.DocIndexStore.Lsh.load(s, lshDir).unionByName(
      graft.api.DocIndexStore.Lsh.committedAppends(s, s"$root/lsh_app"))
    val r2b = Gates.nearDupHits(variants, lshServe, stored).distinct()
    // (c) quotations of admitted docs → base ∪ APPENDED passage hashes
    val quotes = admitted.select(
      (col("doc_id") + lit(6 * off)).as("doc_id"),
      admitQuoteText.as("text"))
    val pasServe = graft.api.DocIndexStore.Passage.load(s, pasDir).unionByName(
      graft.api.DocIndexStore.Passage.committedAppends(s, s"$root/pas_app"))
    val r2c = Gates.passageHits(DedupOps.probePassagesAgainst(quotes, pasServe))

    phase1
      .unionByName(resubmissionRow("1_resubmit_exact", admitted, r2a))
      .unionByName(resubmissionRow("2_variant_neardup", admitted, r2b))
      .unionByName(resubmissionRow("3_quote_passage", admitted, r2c))
      .orderBy(col("phase"), col("stage"))
  }

  /** c08's oracle: the full waterfall recomputed in SQL. The only
    * non-SQL stage (LSH banding) is pinned by its verification
    * predicate — a candidate REJECTS only when cleaned texts are
    * identical, and identical cleaned tokens guarantee the bucket
    * collision (d11's receipts cover the stored-side census margin) —
    * so gate 3 is exactly "≥ 3 cleaned tokens AND cleaned text already
    * stored". Phase 2's near-dup count is the same predicate against
    * store ∪ admitted, which every admitted doc satisfies through
    * ITSELF: closed form = |admitted with ≥ 3 cleaned tokens|. */
  /** Shared oracle prefix — batch construction through the per-doc
    * `attr` attribution CTE, plus the stage histogram with running
    * totals (`p1b`). `intraGate` toggles the batch-internal keep-first
    * stage: batch c08 runs it; the streaming s34 waterfall omits it
    * (cross-batch arrival-order dedup is s05/s14's state story) and
    * renumbers the later gates accordingly. */
  private def admissionAttrCtes(intraGate: Boolean): String = {
    val off = s"(SELECT o FROM off)"
    val tokList = graft.oracle.DuckFragments.tokListSql
    val clean = graft.oracle.DuckFragments.cleanSql
    val pasW = 2 * DedupOps.PassageTokens
    def gramCtes(rel: String, sfx: String): String =
      s"""tk$sfx AS (SELECT doc_id, list_filter(
         |    $tokList, x -> x <> '') AS tl FROM $rel),
         |w$sfx AS (SELECT doc_id, generate_subscripts(tl, 1) AS pos,
         |        unnest(tl) AS word FROM tk$sfx),
         |g$sfx AS (SELECT doc_id,
         |        word || ' ' || lead(word, 1) OVER win || ' ' ||
         |        lead(word, 2) OVER win || ' ' || lead(word, 3) OVER win ||
         |        ' ' || lead(word, 4) OVER win AS sh
         |      FROM w$sfx WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |gs$sfx AS (SELECT doc_id, sh FROM g$sfx WHERE sh IS NOT NULL)"""
        .stripMargin
    val stages =
      if (intraGate) Seq("1_exact_store", "2_exact_intra", "3_neardup",
        "4_passage", "5_decontam")
      else Seq("1_exact_store", "2_neardup", "3_passage", "4_decontam")
    val stageList = stages.map(st => s"'$st'").mkString(", ")
    val nearStage = if (intraGate) "3_neardup" else "2_neardup"
    val pasStage = if (intraGate) "4_passage" else "3_passage"
    val contStage = if (intraGate) "5_decontam" else "4_decontam"
    val keepfCte = if (intraGate)
      "keepf AS (SELECT th, min(doc_id) AS keep FROM dig GROUP BY th),\n"
    else ""
    val intraCase = if (intraGate)
      "      WHEN d.doc_id <> k.keep THEN '2_exact_intra'\n" else ""
    val keepfJoin = if (intraGate) " JOIN keepf k USING (th)" else ""
    s"""off AS (SELECT ${DedupOps.plantOffsetSql("doc_id",
          "documents")} AS o),
       |ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       |inc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + $off, text FROM ex WHERE doc_id < 100
       |  UNION ALL
       |  SELECT doc_id + 2 * $off, upper(text)
       |  FROM ex WHERE doc_id >= 100 AND doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 3 * $off,
       |    array_to_string((string_split(text, ' '))[1:$pasW], ' ') ||
       |      ' $AdmitSalt' || CAST(doc_id AS VARCHAR)
       |  FROM ex WHERE doc_id >= 200 AND doc_id < 250
       |  UNION ALL
       |  SELECT doc_id + 4 * $off, 'leak ' || text
       |  FROM documents WHERE doc_id % 97 = 0),
       |seen AS (SELECT DISTINCT md5(text) AS th FROM ex),
       |dig AS (SELECT doc_id, text, md5(text) AS th FROM inc),
       |${keepfCte}cx AS (SELECT DISTINCT md5($clean) AS ck FROM ex),
       |ti AS (SELECT doc_id, len(list_filter($tokList, x -> x <> ''))
       |         AS ntok, md5($clean) AS ck FROM inc),
       |${DedupOps.passageCtesSqlFor("ex", "_ex")},
       |${DedupOps.passageCtesSqlFor("inc", "_in")},
       |pidx AS (SELECT DISTINCT md5(passage) AS h FROM ch_ex),
       |pmem AS (SELECT doc_id, count(*) AS np,
       |      sum(CASE WHEN md5(passage) IN (SELECT h FROM pidx)
       |          THEN 1 ELSE 0 END) AS nk
       |    FROM ch_in GROUP BY doc_id),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |${gramCtes("ev", "_ev")},
       |evg AS (SELECT DISTINCT sh FROM gs_ev),
       |${gramCtes("inc", "_ic")},
       |cont AS (SELECT doc_id, count(DISTINCT sh) AS nh
       |       FROM gs_ic JOIN evg USING (sh) GROUP BY doc_id),
       |attr AS (SELECT d.doc_id, d.text,
       |    CASE WHEN d.th IN (SELECT th FROM seen) THEN '1_exact_store'
       |$intraCase      WHEN t.ntok >= 3 AND t.ck IN (SELECT ck FROM cx)
       |        THEN '$nearStage'
       |      WHEN p.nk IS NOT NULL AND p.nk * 2 >= p.np THEN '$pasStage'
       |      WHEN c.nh >= $DecontamMinHits THEN '$contStage'
       |      ELSE 'admitted' END AS gate
       |  FROM dig d$keepfJoin
       |  LEFT JOIN ti t USING (doc_id)
       |  LEFT JOIN pmem p USING (doc_id)
       |  LEFT JOIN cont c USING (doc_id)),
       |hist AS (SELECT gate, CAST(count(*) AS BIGINT) AS n
       |       FROM attr GROUP BY gate),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM attr),
       |st AS (SELECT unnest([$stageList]) AS stage),
       |p1a AS (SELECT st.stage, CAST(coalesce(h.n, 0) AS BIGINT) AS n0
       |      FROM st LEFT JOIN hist h ON h.gate = st.stage),
       |p1b AS (SELECT stage, n0,
       |      CAST(coalesce(sum(n0) OVER (ORDER BY stage
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS BIGINT) AS rb
       |    FROM p1a)""".stripMargin
  }

  /** c10 — ADMITTED-increment export (the handoff the admission story
    * exists FOR: the shards a trainer consumes next epoch are EXACTLY
    * what the waterfall admitted — no rejected re-fetch, no
    * quarantined leak, and nothing admitted is dropped): c08's
    * attributed relation (ONE memoized computation per session — the
    * two c-family rows share it) filtered to the admitted docs, routed
    * by p11's SHARED shard rule ([[exportAssigned]] — the two export
    * paths cannot drift), staged + atomically committed through
    * [[graft.sources.ExportCommit]] (replay-safe), and the manifest
    * aggregated from the READ-BACK shards with p11's
    * corruption-detecting re-tokenized counts ([[manifestFrom]]). The
    * oracle recomputes the admitted set closed-form (the full
    * waterfall CTE) and the manifest arithmetic over it — an admission
    * drift, a shard mis-route, a dropped or doubled doc in the export,
    * and read-back text corruption each break this hash.
    *
    * 100 TB shape: the waterfall is shared, not re-run; the export is
    * one batch-sized gzip shard write + read per increment (p12's
    * incremental posture with admission as the upstream filter). */
  def admissionExport(s: SparkSession, d: String): DataFrame = {
    val admitted = admissionAttributed(s, d)
      .filter(col("gate") === "admitted")
      .select(col("doc_id"), col("text"))
    val assigned = exportAssigned(admitted)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c10")
    graft.sources.ExportCommit.commitOnce(root, 0L)(
      assigned.write.partitionBy("shard").option("compression", "gzip").json(_))
    manifestFrom(
      graft.sources.ExportCommit.readCommitted(s, root, assigned.schema))
  }

  private val admissionExportSql =
    s"""WITH ${admissionAttrCtes(intraGate = true)},
       |adm AS (SELECT doc_id, text FROM attr WHERE gate = 'admitted'),
       |k AS (SELECT doc_id, text,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM adm)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin

  /** c11 — the VEC-side trainer handoff (r16 verdict ask #3, c10's
    * posture on the embedding key space: c09 proves what the vector
    * waterfall admits and commits; a multimodal trainer consumes those
    * admitted VECTORS as shards, and the handoff must export exactly
    * what the store committed): [[graft.operators.EmbeddingOps
    * .admissionVecCommitted]]'s committed append batch (the ONE
    * waterfall, billed once — c09 and c11 share the memoized gates and
    * the one manifest commit) is read back FROM the store's manifest,
    * routed by p11's seeded portable scramble on vec_id (the shared
    * shard rule — the doc and vec export paths cannot drift), staged +
    * atomically committed as parquet through
    * [[graft.sources.ExportCommit]] (replay-safe), and the manifest is
    * aggregated from the READ-BACK shards with integer-exact
    * payload-sensitive counts ([[vecManifestFrom]]: element count +
    * a floor(|x|·1000) checksum, so a dropped dimension, a corrupted
    * float, or a doubled row breaks the hash — p11's re-tokenize
    * discipline for a payload with no tokens). The oracle recomputes
    * the admitted set closed-form (c09's: exactly the dimension-
    * REVERSED corpus at +3·off) and the manifest arithmetic over it.
    *
    * 100 TB shape: admitted-increment-sized parquet write + read (the
    * waterfall is shared, not re-run); the manifest is shard-count
    * rows — the trainer reads kilobytes. */
  def admittedVecExport(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    // ensures the waterfall ran and its survivors are committed
    EmbeddingOps.admissionVecCommitted(s, d)
    val root9 = graft.sources.TmpDirs.artifactRoot(s, d, "c09")
    val committed = graft.api.IvfStore
      .committedAppends(s, s"$root9/append")
      .select(col("vec_id"), col("embedding"))
    val assigned = committed.select(col("vec_id"), col("embedding"),
      (shuffleKey(col("vec_id"), ShuffleSeed) % EpochShards).as("shard"))
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c11")
    ExportCommit.commitOnce(root, 0L)(
      assigned.write.partitionBy("shard").parquet(_))
    vecManifestFrom(
      ExportCommit.readCommitted(s, root, assigned.schema, "parquet"))
  }

  /** The manifest tail over a read-back VECTOR export — c11's twin of
    * [[manifestFrom]]: counts are integer-exact (floor of |x|·1000 in
    * double — both engines run the identical IEEE ops on the identical
    * float32 payload, so the checksum is reproducible, unlike a
    * float-sum which would be association-order noise). */
  private[graft] def vecManifestFrom(readBack: DataFrame): DataFrame =
    readBack.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(size(col("embedding"))).cast("long").as("n_dims"),
        sum(aggregate(transform(col("embedding"),
            x => floor(abs(x.cast("double")) * lit(1000.0))),
          lit(0L), (a, x) => a + x)).cast("long").as("checksum"))
      .orderBy(col("shard"))

  private val admittedVecExportSql = {
    val off = DedupOps.plantOffsetSql("vec_id", "embeddings")
    s"""WITH adm AS (
       |  SELECT vec_id + 3 * ($off) AS vec_id,
       |    list_reverse(embedding) AS embedding
       |  FROM embeddings),
       |k AS (SELECT vec_id, embedding,
       |    ${shuffleKeySql("vec_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM adm)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(len(embedding)) AS BIGINT) AS n_dims,
       |  CAST(sum(list_sum(list_transform(embedding,
       |    x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT))))
       |    AS BIGINT) AS checksum
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** c13 — PAIR-level multimodal export (r17 verdict ask #3: c10
    * exports admitted docs and c11 admitted vecs as two independent
    * shard trees with two manifests, but a multimodal trainer consumes
    * ALIGNED (document, embedding) pairs — the handoff must ship both
    * payloads in ONE layout under ONE manifest, or the trainer is left
    * re-deriving the alignment the admission already proved):
    * [[pairAttributed]]'s admitted pairs (the ONE c12-shared relation,
    * billed once) are routed by p11's seeded portable scramble on the
    * PAIR key (doc_id — each admitted pair is doc-unique, and the
    * shard rule is the same [[exportAssigned]] scramble, so the doc
    * and pair export paths cannot drift), staged + atomically
    * committed as parquet through [[graft.sources.ExportCommit]]
    * (replay-safe), and the manifest aggregates the READ-BACK shards
    * with BOTH payloads' corruption-detecting counts: text re-tokenized
    * ([[manifestFrom]]'s regex discipline) AND the vec payloads'
    * integer-exact element count + floor(|x|·1000) checksum
    * ([[vecManifestFrom]]'s discipline) in one row. The oracle
    * recomputes c12's admitted pair set closed-form (the full doc
    * waterfall CTE × the (kd, b) vec-gate arithmetic) and the manifest
    * arithmetic over it — an admission drift, a shard mis-route, a
    * dropped/doubled pair, a torn alignment, text corruption, and
    * embedding corruption each break this hash.
    *
    * 100 TB shape: admitted-increment-sized parquet write + read (the
    * waterfalls are shared, not re-run); one shuffle on the pair key;
    * the manifest is shard-count rows — the trainer reads kilobytes
    * and every shard it opens carries aligned (text, vec) rows. */
  def admittedPairExport(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ExportCommit
    val (pairs, _, _) = pairAttributed(s, d)
    val assigned = pairs
      .filter(col("doc_gate") === "admitted" &&
        col("vec_gate") === "admitted")
      .select(col("doc_id"), col("text"), col("vec_id"), col("embedding"),
        (shuffleKey(col("doc_id"), ShuffleSeed) % EpochShards).as("shard"))
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c13")
    ExportCommit.commitOnce(root, 0L)(
      assigned.write.partitionBy("shard").parquet(_))
    pairManifestFrom(
      ExportCommit.readCommitted(s, root, assigned.schema, "parquet"))
  }

  /** The manifest tail over a read-back PAIR export: one row per shard
    * accounting BOTH payloads — [[manifestFrom]]'s re-tokenized text
    * counts and [[vecManifestFrom]]'s integer-exact vec checksums. */
  private[graft] def pairManifestFrom(readBack: DataFrame): DataFrame =
    readBack.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(bpePieces).as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        sum(size(col("embedding"))).cast("long").as("n_dims"),
        sum(aggregate(transform(col("embedding"),
            x => floor(abs(x.cast("double")) * lit(1000.0))),
          lit(0L), (a, x) => a + x)).cast("long").as("checksum"))
      .orderBy(col("shard"))

  private val admittedPairExportSql = {
    val off = "(SELECT o FROM off)"
    s"""WITH ${admissionAttrCtes(intraGate = true)},
       |pr AS (
       |  SELECT a.doc_id, a.text, a.gate AS doc_gate,
       |    a.doc_id % $off AS b, a.doc_id // $off AS kd, e.embedding
       |  FROM attr a
       |  JOIN embeddings e ON e.vec_id = a.doc_id % $off),
       |adm AS (
       |  SELECT doc_id, text, embedding FROM pr
       |  WHERE doc_gate = 'admitted'
       |    AND NOT (kd = 1 OR (kd = 0 AND b % 5 = 0) OR kd = 2 OR kd = 4)),
       |k AS (SELECT doc_id, text, embedding,
       |    ${shuffleKeySql("doc_id", ShuffleSeed)} % $EpochShards AS shard
       |  FROM adm)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |  CAST(sum(len(embedding)) AS BIGINT) AS n_dims,
       |  CAST(sum(list_sum(list_transform(embedding,
       |    x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT))))
       |    AS BIGINT) AS checksum
       |FROM k GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** c12 — composed MULTIMODAL pair admission (c04's conjunction
    * discipline applied to c08 × c09: a multimodal crawl increment
    * ships (document, embedding) PAIRS, and rejection in EITHER key
    * space vetoes the PAIR — a clean document whose
    * embedding is a re-embed must not enter the doc store, and a novel
    * embedding whose document is a quotation must not enter the vec
    * store):
    *
    *   pairing — each c08 batch member (base b, plant class kd)
    *     arrives WITH one embedding submission, by a fixed rule the
    *     oracle restates: exact re-fetches (kd=1) and every fifth
    *     organic doc (kd=0, b≡0 mod 5) ship a byte-identical re-embed
    *     of base b; near-dup variants (kd=2) and eval leaks (kd=4)
    *     ship the 0.999-scaled re-embed; quotations (kd=3) and the
    *     remaining organics ship the dimension-REVERSED (novel)
    *     embedding. Pairs exist where the base embedding exists
    *     (b joins the embeddings table).
    *   gates — the doc side is c08's FULL waterfall
    *     ([[admissionAttributed]], shared memo); the vec side is c09's
    *     two gates ([[graft.operators.EmbeddingOps.vecGateAttribution]],
    *     c09's own call) against the loaded c09-family artifact.
    *     Phase 1 reports the CONJUNCTION matrix: one row per realized
    *     (doc_gate, vec_gate) combination; a pair is admitted
    *     only when BOTH sides are.
    *   commit — admitted pairs' docs enter the LSH store and their
    *     vecs the IVF store through the stores' own append manifests
    *     (c12's OWN roots — the veto must gate the commit, not just
    *     the report).
    *   phase 2 — four resubmission witnesses: (1) uppercased variants
    *     of every committed doc die at the near-dup gate ONLY via the
    *     appended band rows; (2) scaled re-embeds of every committed
    *     vec die at the semantic gate ONLY via the appended codes;
    *     (3) variants of docs that were doc-space-admitted but
    *     pair-VETOED are NOT rejected — the veto withheld the doc
    *     commit; (4) scaled re-embeds of vecs that were vec-space-
    *     admitted but pair-vetoed are NOT rejected — the veto withheld
    *     the vec commit. (3)/(4) are the conjunction's load-bearing
    *     witnesses in both directions: an engine that commits
    *     single-space survivors breaks them.
    *
    * Closed form throughout: the doc side is c08's oracle CTE, the vec
    * side pure planted arithmetic over (kd, b), phase 2 the admitted /
    * vetoed set sizes.
    *
    * 100 TB shape: the pair join is batch ⋈ batch on the base id; all
    * gates are the two waterfalls' own store probes (batch ⋈ index on
    * uniform keys); the commits are two batch-sized manifest CAS
    * writes. Nothing corpus-sized moves beyond the gates both
    * single-space rows already pay for. */
  /** c12's PAIRING RULE over any relation carrying `doc_id` — derives
    * (b, kd) from the plant-offset id arithmetic, joins the base
    * embeddings on b (pairs exist where the base embedding exists),
    * and emits the input columns + the pair's (vec_id, embedding)
    * submission. ONE definition for the batch row and s37's stream —
    * the projections are stateless, so the plan is stream-safe. */
  private[graft] def pairVecAssignment(rel: DataFrame, baseE: DataFrame,
      offD: Long, offV: Long): DataFrame = {
    val scaled = transform(col("base_emb"), v => v * lit(0.999f))
    val exactRule = col("kd") === 1 || (col("kd") === 0 && col("b") % 5 === 0)
    val scaledRule = col("kd") === 2 || col("kd") === 4
    val inCols = rel.columns.map(col).toSeq
    rel
      .withColumn("b", col("doc_id") % offD)
      .withColumn("kd",
        floor(col("doc_id").cast("double") / lit(offD.toDouble))
          .cast("long"))
      .join(baseE.select(col("vec_id").as("b"),
        col("embedding").as("base_emb")), Seq("b"))
      .select(inCols ++ Seq(
        when(exactRule, col("b") + lit(offV))
          .when(scaledRule, col("b") + lit(2 * offV))
          .otherwise(col("b") + lit(3 * offV)).as("vec_id"),
        when(exactRule, col("base_emb"))
          .when(scaledRule, scaled)
          .otherwise(reverse(col("base_emb"))).as("embedding")): _*)
  }

  /** c12/c13's SHARED attributed pair relation — one row per pair
    * increment member carrying (doc_id, text, doc_gate, vec_id,
    * embedding, vec_gate) — memoized per session (c12 reports and
    * commits from it; c13 exports from it; the waterfalls are billed
    * once). Returns (pairs, offD, offV). */
  private[graft] def pairAttributed(s: SparkSession, d: String)
      : (DataFrame, Long, Long) =
    // The WHOLE tuple is the memo value (r18 ADVICE): the doc
    // waterfall, the vec-admission artifact bring-up (maxId scans,
    // _SUCCESS probe, store load), and both offsets are inputs of the
    // build, so a hit must skip them too — only the first caller per
    // session pays the artifact construction.
    graft.api.Intermediates.memo(s, s"c12_pairs|$d") {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val offD = DedupOps.plantOffset(DedupOps.maxIdOf(docs, "doc_id"))
      val (loaded, offV) = EmbeddingOps.vecAdmissionArtifact(s, d)
      val baseE = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val attrDoc = admissionAttributed(s, d)
      // ---- the pair increment: each doc member ships one embedding
      val withVec = pairVecAssignment(
        attrDoc.select(col("doc_id"), col("text"),
          col("gate").as("doc_gate")), baseE, offD, offV)
      // ---- vec gates over the increment's DISTINCT vectors (two doc
      // members may ship the same submission), c09's own definition
      val vecAttr = EmbeddingOps.vecGateAttribution(s,
        withVec.select(col("vec_id"), col("embedding")).distinct(),
        baseE, loaded)
      val pairs = withVec
        .join(vecAttr.select(col("vec_id"), col("gate").as("vec_gate")),
          Seq("vec_id"))
        .localCheckpoint()
      (pairs, offD, offV)
    }

  def multimodalAdmission(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val (loaded, offV) = EmbeddingOps.vecAdmissionArtifact(s, d)
    val root = graft.sources.TmpDirs.artifactRoot(s, d, "c12")
    val (pairs, offD, _) = pairAttributed(s, d)
    val bothAdmit = col("doc_gate") === "admitted" &&
      col("vec_gate") === "admitted"

    // ---- phase 1: the conjunction matrix
    val phase1 = pairs.groupBy(col("doc_gate"), col("vec_gate"))
      .agg(count(lit(1)).as("n"))
      .select(lit(1L).as("phase"),
        concat(col("doc_gate"), lit("*"), col("vec_gate")).as("stage"),
        col("n").as("n_in"),
        when(bothAdmit, lit(0L)).otherwise(col("n")).as("n_rejected"),
        when(bothAdmit, col("n")).otherwise(lit(0L)).as("n_admitted"))

    // ---- the PAIR commit: both stores, c12's own append roots.
    // Memoized per session: the admitted sets are pure
    // functions of the memoized `pairs` checkpoint and the commits are
    // batchId-CAS'd no-ops on replay, so a later run re-paying the two
    // eager checkpoints + commit probes buys nothing. Billed to the
    // first run (Bench memo stats disclose it); the four resubmission
    // probes below stay per-run.
    val (admDocs, admVecs) =
      graft.api.Intermediates.memo(s, s"c12_committed|$d") {
        val ad = pairs.filter(bothAdmit)
          .select(col("doc_id"), col("text")).distinct().localCheckpoint()
        val av = pairs.filter(bothAdmit)
          .select(col("vec_id"), col("embedding")).distinct().localCheckpoint()
        graft.api.DocIndexStore.Lsh.appendBatch(s"$root/lsh_app", ad, 0L)
        graft.api.IvfStore.appendBatch(s"$root/ivf_app", av, 0L,
          loaded.model)
        (ad, av)
      }

    // ---- phase 2: the four resubmission witnesses
    val (lshDir, _) = Gates.admissionStores(s, d, existing)
    val lshServe = graft.api.DocIndexStore.Lsh.load(s, lshDir).unionByName(
      graft.api.DocIndexStore.Lsh.committedAppends(s, s"$root/lsh_app"))
    def docNeardupRejected(probe: DataFrame): DataFrame =
      Gates.nearDupHits(probe, lshServe, existing.unionByName(admDocs))
        .distinct()
    val serveRel = loaded.assigned
      .select(col("vec_id"), col("embedding"), col("cell"))
      .unionByName(graft.api.IvfStore
        .committedAppends(s, s"$root/ivf_app")
        .select(col("vec_id"), col("embedding"), col("cell")))
    val scaledSub = transform(col("embedding"), v => v * lit(0.999f))
    def vecSemRejected(probe: DataFrame): DataFrame =
      EmbeddingOps.semanticGateHits(s, probe, serveRel, loaded.model)
    val vetoDocs = pairs
      .filter(col("doc_gate") === "admitted" &&
        col("vec_gate") =!= "admitted")
      .select(col("doc_id"), col("text")).distinct()
    val vetoVecs = pairs
      .filter(col("vec_gate") === "admitted" &&
        col("doc_gate") =!= "admitted")
      .select(col("vec_id"), col("embedding")).distinct()
    val r1 = docNeardupRejected(admDocs.select(
      (col("doc_id") + lit(5 * offD)).as("doc_id"),
      upper(col("text")).as("text")))
    val r2 = vecSemRejected(admVecs.select(
      (col("vec_id") + lit(5 * offV)).as("vec_id"),
      scaledSub.as("embedding")))
    val r3 = docNeardupRejected(vetoDocs.select(
      (col("doc_id") + lit(6 * offD)).as("doc_id"),
      upper(col("text")).as("text")))
    val r4 = vecSemRejected(vetoVecs.select(
      (col("vec_id") + lit(6 * offV)).as("vec_id"),
      scaledSub.as("embedding")))

    phase1
      .unionByName(resubmissionRow("1_resubmit_doc", admDocs, r1))
      .unionByName(resubmissionRow("2_resubmit_vec", admVecs, r2))
      .unionByName(resubmissionRow("3_vetoed_doc_uncommitted", vetoDocs, r3))
      .unionByName(resubmissionRow("4_vetoed_vec_uncommitted", vetoVecs, r4))
      .orderBy(col("phase"), col("stage"))
  }

  private val multimodalAdmissionSql = {
    val tokList = graft.oracle.DuckFragments.tokListSql
    s"""WITH ${admissionAttrCtes(intraGate = true)},
       |pr AS (
       |  SELECT a.doc_id, a.text, a.gate AS doc_gate,
       |    a.doc_id % (SELECT o FROM off) AS b,
       |    a.doc_id // (SELECT o FROM off) AS kd
       |  FROM attr a
       |  JOIN embeddings e ON e.vec_id = a.doc_id % (SELECT o FROM off)),
       |pg AS (
       |  SELECT doc_id, text, doc_gate, b, kd,
       |    CASE WHEN kd = 1 OR (kd = 0 AND b % 5 = 0) THEN '1_exact'
       |         WHEN kd = 2 OR kd = 4 THEN '2_semantic'
       |         ELSE 'admitted' END AS vec_gate
       |  FROM pr),
       |p1 AS (SELECT doc_gate, vec_gate, CAST(count(*) AS BIGINT) AS n
       |    FROM pg GROUP BY doc_gate, vec_gate),
       |admd AS (SELECT DISTINCT doc_id, text FROM pg
       |    WHERE doc_gate = 'admitted' AND vec_gate = 'admitted'),
       |nadmd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM admd),
       |radmd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM admd
       |    WHERE len(list_filter($tokList, x -> x <> '')) >= 3),
       |nadmv AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM pg
       |    WHERE doc_gate = 'admitted' AND vec_gate = 'admitted'),
       |nvetd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
       |    FROM pg WHERE doc_gate = 'admitted' AND vec_gate <> 'admitted'),
       |nvetv AS (SELECT CAST(count(DISTINCT CAST(b AS VARCHAR) || '_' ||
       |      CASE WHEN kd = 1 OR (kd = 0 AND b % 5 = 0) THEN '1'
       |           WHEN kd = 2 OR kd = 4 THEN '2' ELSE '3' END) AS BIGINT)
       |      AS n
       |    FROM pg WHERE vec_gate = 'admitted' AND doc_gate <> 'admitted'),
       |rows_all AS (
       |  SELECT CAST(1 AS BIGINT) AS phase,
       |    doc_gate || '*' || vec_gate AS stage, n AS n_in,
       |    CASE WHEN doc_gate = 'admitted' AND vec_gate = 'admitted'
       |         THEN CAST(0 AS BIGINT) ELSE n END AS n_rejected,
       |    CASE WHEN doc_gate = 'admitted' AND vec_gate = 'admitted'
       |         THEN n ELSE CAST(0 AS BIGINT) END AS n_admitted
       |  FROM p1
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '1_resubmit_doc', (SELECT n FROM nadmd),
       |    (SELECT n FROM radmd),
       |    (SELECT n FROM nadmd) - (SELECT n FROM radmd)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '2_resubmit_vec', (SELECT n FROM nadmv),
       |    (SELECT n FROM nadmv), CAST(0 AS BIGINT)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '3_vetoed_doc_uncommitted',
       |    (SELECT n FROM nvetd), CAST(0 AS BIGINT), (SELECT n FROM nvetd)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '4_vetoed_vec_uncommitted',
       |    (SELECT n FROM nvetv), CAST(0 AS BIGINT), (SELECT n FROM nvetv))
       |SELECT phase, stage, n_in, n_rejected, n_admitted
       |FROM rows_all ORDER BY phase, stage""".stripMargin
  }

  /** s37's oracle: c12's conjunction matrix with the INTRA-FREE doc
    * attribution (the streaming waterfall has no keep-first gate —
    * s34's argument) — referenced by the streaming row in
    * [[graft.streaming.EventStreams]]. */
  private[graft] val streamMultimodalSql =
    s"""WITH ${admissionAttrCtes(intraGate = false)},
       |pr AS (
       |  SELECT a.doc_id, a.gate AS doc_gate,
       |    a.doc_id % (SELECT o FROM off) AS b,
       |    a.doc_id // (SELECT o FROM off) AS kd
       |  FROM attr a
       |  JOIN embeddings e ON e.vec_id = a.doc_id % (SELECT o FROM off)),
       |pg AS (
       |  SELECT doc_gate,
       |    CASE WHEN kd = 1 OR (kd = 0 AND b % 5 = 0) THEN '1_exact'
       |         WHEN kd = 2 OR kd = 4 THEN '2_semantic'
       |         ELSE 'admitted' END AS vec_gate
       |  FROM pr)
       |SELECT doc_gate || '*' || vec_gate AS stage,
       |  CAST(count(*) AS BIGINT) AS n_in,
       |  CASE WHEN doc_gate = 'admitted' AND vec_gate = 'admitted'
       |       THEN CAST(0 AS BIGINT)
       |       ELSE CAST(count(*) AS BIGINT) END AS n_rejected,
       |  CASE WHEN doc_gate = 'admitted' AND vec_gate = 'admitted'
       |       THEN CAST(count(*) AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS n_admitted
       |FROM pg GROUP BY doc_gate, vec_gate
       |ORDER BY stage""".stripMargin

  /** s34's oracle: the intra-free waterfall histogram (see
    * [[admissionAttrCtes]]) — referenced by the streaming row in
    * [[graft.streaming.EventStreams]]. */
  private[graft] val streamAdmissionSql =
    s"""WITH ${admissionAttrCtes(intraGate = false)}
       |SELECT stage, (SELECT t FROM tot) - rb AS n_in, n0 AS n_rejected,
       |  (SELECT t FROM tot) - rb - n0 AS n_admitted
       |FROM p1b ORDER BY stage""".stripMargin

  private val crawlAdmissionSql = {
    val off = s"(SELECT o FROM off)"
    val tokList = graft.oracle.DuckFragments.tokListSql
    val pasW = 2 * DedupOps.PassageTokens
    s"""WITH ${admissionAttrCtes(intraGate = true)},
       |adm AS (SELECT doc_id, text FROM attr WHERE gate = 'admitted'),
       |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM adm),
       |r2b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM adm
       |      WHERE len(list_filter($tokList, x -> x <> '')) >= 3),
       |q2 AS (SELECT doc_id + 6 * $off AS doc_id,
       |      array_to_string((string_split(text, ' '))[1:$pasW], ' ')
       |        || ' $AdmitSalt' || CAST(doc_id AS VARCHAR) AS text
       |    FROM adm),
       |${DedupOps.passageCtesSqlFor("adm", "_ad")},
       |${DedupOps.passageCtesSqlFor("q2", "_q2")},
       |pidx2 AS (SELECT h FROM pidx
       |      UNION SELECT DISTINCT md5(passage) FROM ch_ad),
       |pm2 AS (SELECT doc_id, count(*) AS np,
       |      sum(CASE WHEN md5(passage) IN (SELECT h FROM pidx2)
       |          THEN 1 ELSE 0 END) AS nk
       |    FROM ch_q2 GROUP BY doc_id),
       |r2c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pm2
       |      WHERE nk * 2 >= np),
       |rows_all AS (
       |  SELECT CAST(1 AS BIGINT) AS phase, stage,
       |    (SELECT t FROM tot) - rb AS n_in, n0 AS n_rejected,
       |    (SELECT t FROM tot) - rb - n0 AS n_admitted
       |  FROM p1b
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '1_resubmit_exact',
       |    (SELECT n FROM na), (SELECT n FROM na), CAST(0 AS BIGINT)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '2_variant_neardup',
       |    (SELECT n FROM na), (SELECT n FROM r2b),
       |    (SELECT n FROM na) - (SELECT n FROM r2b)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), '3_quote_passage',
       |    (SELECT n FROM na), (SELECT n FROM r2c),
       |    (SELECT n FROM na) - (SELECT n FROM r2c))
       |SELECT phase, stage, n_in, n_rejected, n_admitted
       |FROM rows_all ORDER BY phase, stage""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("c01_corpus_prep", corpusPrep, Some(corpusPrepSql)),
    QueryDef("c02_corpus_stats", corpusStats, Some(corpusStatsSql)),
    QueryDef("c03_source_card", sourceCard, Some(sourceCardSql)),
    QueryDef("c04_cross_modal_gate", crossModalGate,
      Some(crossModalGateSql)),
    QueryDef("c05_dataset_card", datasetCard, Some(datasetCardSql)),
    QueryDef("p01_sequence_pack", sequencePack, Some(sequencePackSql)),
    QueryDef("p03_quality_buckets", qualityBuckets, Some(qualityBucketsSql)),
    QueryDef("p04_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    QueryDef("p05_mixture_weights", mixtureWeights, Some(mixtureWeightsSql)),
    QueryDef("p06_packed_sequences", packedSequences, Some(packedSequencesSql)),
    QueryDef("p07_epoch_shuffle", epochShuffleDocs, Some(epochShuffleSql)),
    QueryDef("p08_source_cap", sourceCap, Some(sourceCapSql)),
    QueryDef("p09_budget_draw", budgetDraw, Some(budgetDrawSql)),
    QueryDef("p13_bpe_budget_draw", bpeBudgetDraw, Some(bpeBudgetDrawSql)),
    QueryDef("c06_unit_drift", unitDriftAudit, Some(unitDriftAuditSql)),
    QueryDef("p14_bpe_sequence_pack", bpeSequencePack,
      Some(bpeSequencePackSql)),
    QueryDef("p11_export_manifest", exportManifest,
      Some(exportManifestSql)),
    QueryDef("p16_export_maintenance", exportMaintenance,
      Some(exportMaintenanceSql)),
    QueryDef("p12_incremental_export", incrementalExport,
      Some(incrementalExportSql)),
    // c07 propagates ONE takedown set through all six artifact
    // surfaces and proves absence everywhere at once (see doc)
    QueryDef("c07_right_to_be_forgotten", rightToBeForgotten,
      Some(rightToBeForgottenSql)),
    // c08 runs ONE batch through the full admission waterfall, commits
    // the survivors, and proves the appends are load-bearing (see doc)
    QueryDef("c08_crawl_admission", crawlAdmission,
      Some(crawlAdmissionSql)),
    // c10 exports EXACTLY the admitted increment through the atomic
    // shard protocol — the trainer handoff of the waterfall (see doc)
    QueryDef("c10_admission_export", admissionExport,
      Some(admissionExportSql)),
    // c11 exports the VEC waterfall's committed survivors as trainer
    // shards with an integer-exact read-back manifest (see doc)
    QueryDef("c11_admitted_vec_export", admittedVecExport,
      Some(admittedVecExportSql)),
    // c13 exports ALIGNED (doc, embedding) pairs — both payloads in
    // one layout under one read-back manifest
    QueryDef("c13_admitted_pair_export", admittedPairExport,
      Some(admittedPairExportSql)),
    // c12 admits (doc, embedding) PAIRS — rejection in either key
    // space vetoes the pair; both commits gated by the veto (see doc)
    QueryDef("c12_multimodal_admission", multimodalAdmission,
      Some(multimodalAdmissionSql)),
    QueryDef("p15_tombstone_export", tombstoneExport,
      Some(tombstoneExportSql)))
}
