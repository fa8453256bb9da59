package graft.operators

import graft.QueryDef
import graft.multimodal.Multimodal
import graft.sources.{Sinks, Tables, TmpDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sample + multimodal-column queries (SURVEY §2.1 S3-S5 + the
  * multimodal extension). The chunk writer/glob scan S4/S5 are additionally
  * exercised under the harness oracle by the s03 round-trip; the
  * consolidated/model sinks S6-S9 stay spec-verified (SinksSpec,
  * ModelStoreSpec). */
object SourceOps {

  /** s01 — S3b systematic sample: exact, partition-independent residue
    * sample (the oracle-checkable form of the reference's dry-run
    * sampling; the seeded Bernoulli variant is [[Sinks.sample]]). */
  def systematicSample(s: SparkSession, d: String): DataFrame =
    Sinks.sampleByMod(Tables.documents(s, d), "doc_id", 10, 3)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val systematicSampleSql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id % 10 = 3 ORDER BY doc_id""".stripMargin

  /** s03 — S4 chunk writer + S5 glob scan under the harness oracle: the
    * documents' (doc_id, digest) projection is written as chunked CSV
    * (chunk = partition, ref 01_extract_features.R:338-341) and read
    * back through the glob union with an explicit schema — the oracle
    * compares the round-trip against the table directly, so a chunking /
    * header / schema bug anywhere in the sink path breaks the hash.
    * Digest instead of raw text keeps the payload CSV-safe (hex — no
    * quoting/newline escaping divergence between writers). */
  /** CSV sink round-trip scaffold shared by s03/s08: write `proj`
    * through `write`, glob-read back with the explicit `schema`, order
    * by doc_id for the hash compare. */
  private def csvRoundtrip(s: SparkSession, d: String, tag: String,
      proj: DataFrame, schema: org.apache.spark.sql.types.StructType,
      write: (DataFrame, String) => Unit): DataFrame = {
    val dir = TmpDirs.artifactRoot(s, d, tag)
    write(proj, dir)
    Sinks.readChunks(s, dir, schema).orderBy(col("doc_id"))
  }

  def chunkRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    csvRoundtrip(s, d, "s03_chunks",
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest")),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("digest", StringType))),
      Sinks.writeChunks(_, _, numChunks = 8))
  }

  private val chunkRoundtripSql =
    """SELECT doc_id, md5(text) AS digest FROM documents
      |ORDER BY doc_id""".stripMargin

  /** s08 — S6 consolidated single-file CSV sink under the harness
    * oracle: the (doc_id, digest, n_chars) projection is written through
    * `writeConsolidated` (coalesce(1) — the reference's "one final CSV"
    * contract) and read back with an explicit schema; the oracle
    * compares the round-trip against the table directly. Completes the
    * sink family's oracle coverage: chunked write (s03) and consolidated
    * write (here) both hash-checked end-to-end through real files. */
  def consolidatedRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    csvRoundtrip(s, d, "s08_consolidated",
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
          col("n_chars").cast("long").as("n_chars")),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("digest", StringType),
        StructField("n_chars", LongType))),
      Sinks.writeConsolidated)
  }

  private val consolidatedRoundtripSql =
    """SELECT doc_id, md5(text) AS digest, n_chars FROM documents
      |ORDER BY doc_id""".stripMargin

  /** b01 — multimodal table plumbing: binary payload + typed metadata
    * (schema-level contract is oracle-checked; the payload itself is the
    * documents text as UTF-8 bytes — the corpus ships no true binary
    * column). */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(Tables.documents(s, d))
      .select(col("doc_id"), col("media_type"),
        length(col("content")).cast("long").as("n_bytes"),
        col("meta.n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  private val mediaTableSql =
    """SELECT doc_id,
      |  ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** b02 — partition-wise media decode through a REAL binary parser
    * ([[Multimodal.PpmDecoder]]): planted fixed-geometry P6 images (one
    * per doc, channel bytes closed-form in (doc_id, pixel)) stream
    * through the per-executor-cached decoder, which parses the ASCII
    * header and computes stride-5 pixel statistics. Full oracle — the
    * planted arithmetic reproduces every feature relationally in DuckDB
    * (the m11 planted-through-the-real-path pattern), so a header
    * fencepost, a sign error on byte widening, or a stride drift breaks
    * the hash. All features are integer-valued: float32 carries them
    * exactly. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.ppmTable(Tables.documents(s, d)),
        Multimodal.PpmDecoderFactory(stride = 5))
      .select(col("doc_id"), col("n_bytes"),
        element_at(col("features"), 1).cast("long").as("width"),
        element_at(col("features"), 2).cast("long").as("height"),
        element_at(col("features"), 3).cast("long").as("maxval"),
        element_at(col("features"), 4).cast("long").as("sum_r"),
        element_at(col("features"), 5).cast("long").as("sum_g"),
        element_at(col("features"), 6).cast("long").as("sum_b"),
        element_at(col("features"), 7).cast("long").as("px_min"),
        element_at(col("features"), 8).cast("long").as("px_max"))
      .orderBy(col("doc_id"))

  // planted geometry: 8x6 pixels, 11-byte header => 155 bytes; stride 5
  // samples pixels 0,5,...,45
  private val mediaFeaturesSql =
    """WITH px AS (
      |  SELECT d.doc_id, t.p,
      |    (d.doc_id * 7 + t.p * 13) % 256 AS r,
      |    (d.doc_id * 11 + t.p * 17) % 256 AS g,
      |    (d.doc_id * 3 + t.p * 19) % 256 AS b
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 47, 5)) AS p) t)
      |SELECT doc_id, CAST(155 AS BIGINT) AS n_bytes,
      |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
      |  CAST(255 AS BIGINT) AS maxval,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(least(min(r), min(g), min(b)) AS BIGINT) AS px_min,
      |  CAST(greatest(max(r), max(g), max(b)) AS BIGINT) AS px_max
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** b04 — partition-wise AUDIO decode through the REAL RIFF/WAVE chunk
    * parser ([[Multimodal.WavDecoder]]): planted 240-sample PCM16 mono
    * clips (amplitudes closed-form in (doc_id, sample index)) stream
    * through the per-executor-cached decoder, which walks the chunk
    * list, validates the fmt contract, and computes amplitude
    * statistics. Full oracle — DuckDB reproduces every feature
    * (including the strict-sign zero-crossing count, a lag-window
    * reconstruction) from the same arithmetic; a chunk-walk fencepost,
    * an endianness slip, or a sign-extension bug on the 16-bit decode
    * breaks the hash. Completes the image (b02) / audio (b04) / video
    * (b03 frames) modality triple, each behind the one MediaDecoder
    * trait. */
  def audioFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.wavTable(Tables.documents(s, d)),
        Multimodal.WavDecoderFactory())
      .select(col("doc_id"), col("n_bytes"),
        element_at(col("features"), 1).cast("long").as("channels"),
        element_at(col("features"), 2).cast("long").as("sample_rate"),
        element_at(col("features"), 3).cast("long").as("bits"),
        element_at(col("features"), 4).cast("long").as("n_samples"),
        element_at(col("features"), 5).cast("long").as("sum_amp"),
        element_at(col("features"), 6).cast("long").as("amp_min"),
        element_at(col("features"), 7).cast("long").as("amp_max"),
        element_at(col("features"), 8).cast("long").as("zero_cross"))
      .orderBy(col("doc_id"))

  // planted clip: 240 samples, 44-byte canonical header => 524 bytes;
  // amplitude v(i) = ((doc_id*31 + i*17) % 401) - 200
  private val audioFeaturesSql =
    """WITH smp AS (
      |  SELECT d.doc_id, t.i,
      |    ((d.doc_id * 31 + t.i * 17) % 401) - 200 AS v
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 239)) AS i) t),
      |seq AS (
      |  SELECT doc_id, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM smp)
      |SELECT doc_id, CAST(524 AS BIGINT) AS n_bytes,
      |  CAST(1 AS BIGINT) AS channels, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(16 AS BIGINT) AS bits, CAST(240 AS BIGINT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS sum_amp,
      |  CAST(min(v) AS BIGINT) AS amp_min,
      |  CAST(max(v) AS BIGINT) AS amp_max,
      |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
      |FROM seq GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** b03 — frame sampling over the video-typed payloads (doc_id % 3 = 2
    * under b01's media-type rotation): up to 8 evenly-strided 32-char
    * frames per payload, one row per frame with its content digest.
    * Full oracle — the stride arithmetic and slicing reproduce exactly
    * in DuckDB, so a fencepost bug in the sampler breaks the hash. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.frameSample(
        Tables.documents(s, d).filter(col("doc_id") % 3 === 2))
      .orderBy(col("doc_id"), col("frame_idx"))

  private val frameSampleSql =
    """WITH v AS (SELECT doc_id, text, length(text) AS n FROM documents
      |           WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id, text, n,
      |        greatest(1, least(8, n // 32)) AS k FROM v),
      |u AS (SELECT doc_id, text, n, k,
      |        unnest(generate_series(0, k - 1)) AS frame_idx FROM f)
      |SELECT doc_id, frame_idx,
      |  md5(substr(text, CAST(frame_idx * (n // k) + 1 AS BIGINT), 32))
      |    AS frame_hash
      |FROM u ORDER BY doc_id, frame_idx""".stripMargin

  /** b05 — image RESIZE through the real byte path: 2× box-filter
    * thumbnails of the planted 8×6 P6 images ([[Multimodal
    * .ppmThumbnails]]), one row per 4×3 thumbnail pixel with each
    * channel the truncated mean of its 2×2 source block. The resize is
    * the multimodal preprocessing step b02's stats don't exercise —
    * geometry, block addressing, and integer pooling all live in the
    * executor-side byte loop, and the oracle reproduces every output
    * pixel closed-form from the planted generator (the m11 pattern), so
    * a block-offset fencepost, a channel swap, or a rounding change
    * breaks the hash. */
  def mediaThumbnails(s: SparkSession, d: String): DataFrame =
    Multimodal.ppmThumbnails(
        Multimodal.ppmTable(Tables.documents(s, d)), factor = 2)
      .orderBy(col("doc_id"), col("ty"), col("tx"))

  // planted geometry 8x6, factor 2 => 4x3 thumbnails; source pixel
  // p = y*8+x with the ppmBytes channel formulas
  private val mediaThumbnailsSql =
    """WITH tys AS (SELECT unnest(generate_series(0, 2)) AS ty),
      |txs AS (SELECT unnest(generate_series(0, 3)) AS tx),
      |dys AS (SELECT unnest(generate_series(0, 1)) AS dy),
      |dxs AS (SELECT unnest(generate_series(0, 1)) AS dx),
      |px AS (
      |  SELECT d.doc_id, tys.ty, txs.tx,
      |    (2 * tys.ty + dys.dy) * 8 + (2 * txs.tx + dxs.dx) AS p
      |  FROM documents d, tys, txs, dys, dxs)
      |SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
      |  CAST(sum((doc_id * 7 + p * 13) % 256) // 4 AS BIGINT) AS r,
      |  CAST(sum((doc_id * 11 + p * 17) % 256) // 4 AS BIGINT) AS g,
      |  CAST(sum((doc_id * 3 + p * 19) % 256) // 4 AS BIGINT) AS b
      |FROM px GROUP BY doc_id, ty, tx ORDER BY doc_id, ty, tx""".stripMargin

  /** s15 — partitioned data-lake sink + partition-PRUNED scan (the
    * standard 100 TB corpus layout: shard by a low-cardinality ingest
    * dimension — language, source, date — so per-slice jobs read only
    * their directories): documents written `partitionBy(lang)`, read
    * back with a `lang = 'en'` predicate that must resolve at the FILE
    * INDEX level (PlanAuditSpec pins `PartitionFilters` on the scan —
    * the non-en directories are never opened, which at 100 TB is the
    * difference between scanning 2 TB and 100 TB). Oracle is the plain
    * filtered table — any divergence in partition encode/decode (nulls,
    * escaping, type inference) breaks the hash. Write-once per
    * (application, dataset) like [[bucketedTables]]; same benign
    * concurrent-session tmpdir caveat. */
  def partitionedSink(s: SparkSession, d: String): DataFrame = {
    val dir = partitionedOnce.computeIfAbsent(
      s.sparkContext.applicationId + "|" + d, _ => {
        val path = TmpDirs.artifactRoot(s, d, "s15")
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"),
            col("n_chars"), col("lang"))
          .write.mode("overwrite").partitionBy("lang").parquet(path)
        path
      })
    // Explicit read schema (ADVICE r7): default partition-column TYPE
    // INFERENCE parses the directory value — a lang that happens to look
    // numeric ("88" as a code) would round-trip as int and break the
    // oracle only on that future corpus. Pinning the writer's own schema
    // keeps `lang` a string whatever the directory names look like.
    val readSchema = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"),
        col("n_chars"), col("lang")).schema
    s.read.schema(readSchema).parquet(dir)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val partitionedOnce =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val partitionedSinkSql =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** Write-once cache for the bucketed table pair: bucketing pays its
    * one-time shuffle-and-write so every LATER join on the bucket key is
    * exchange-free — re-writing per bench run would charge the
    * amortized cost back. Keyed by (applicationId, sfDir): table NAMES
    * are data-keyed (stable across sessions, overwrite-safe), the cache
    * entry is session-keyed (a fresh session must re-register the name
    * in its in-memory catalog). Same benign concurrent-session caveat
    * as csvRoundtrip: the tmpdir path is keyed by applicationId +
    * dataset, so two APPLICATIONS never collide, but two sessions of
    * one application sweeping the same dataset would share the write —
    * fine for the sequential harness, a real deployment buckets into
    * its warehouse once at ingest. */
  private val bucketedOnce =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** lineitem + orders as 8-bucket parquet catalog tables on the order
    * key. `repartition(8, key)` before the bucketed write aligns write
    * tasks with buckets (same Murmur3 hash space) → one file per bucket
    * instead of numTasks × 8 fragments. */
  private def bucketedTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val key = s.sparkContext.applicationId + "|" + d
    val names = bucketedOnce.computeIfAbsent(key, _ => {
      val hex = TmpDirs.pathDigest(d)
      val base = TmpDirs.artifactRoot(s, d, "bucketed")
      val li = s"graft_li_$hex"
      val ord = s"graft_ord_$hex"
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$base/li")
        .bucketBy(8, "l_orderkey").saveAsTable(li)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").option("path", s"$base/ord")
        .bucketBy(8, "o_orderkey").saveAsTable(ord)
      (li, ord)
    })
    (s.table(names._1), s.table(names._2))
  }

  /** s12 — bucketed co-located fact join (the 100 TB amortized-shuffle
    * pattern: bucket both fact tables on the join key ONCE at ingest,
    * then every downstream equi-join on that key is exchange-free —
    * bucketed scans already satisfy the join's HashPartitioning). The
    * merge hint keeps the small-SF plan on the co-located sort-merge
    * path the pattern exists for; PlanAuditSpec pins `Bucketed: true`
    * on both scans and ZERO shuffles on the join keys. The oracle is
    * the plain join — bucketing must not change a row. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (li, ord) = bucketedTables(s, d)
    li.hint("merge").join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** Records per compacted shard (the sizing stand-in: a deployment
    * computes shards from bytes — corpus_bytes / target_shard_bytes —
    * or lets `spark.sql.files.maxRecordsPerFile` + AQE-coalesced
    * writes bound file sizes; the record-count form keeps the oracle
    * closed-form). */
  private val CompactRecordsPerShard = 200L

  private def parquetFileCount(dir: String): Int =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .count(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))

  /** s17 — ingest COMPACTION round-trip (the small-files operator every
    * 100 TB lake runs continuously: streaming ingest and per-chunk
    * writers fragment a table into thousands of tiny files, and scan
    * cost becomes file-open cost — compaction rewrites a fragmented
    * table into few bounded shards WITHOUT changing a row). The row
    * materializes a deliberately fragmented copy (one tiny file per
    * write task), compacts it to ⌈n / recordsPerShard⌉ round-robin
    * shards, and emits the compacted read-back plus the shard count as
    * a column — the oracle pins BOTH that content survived compaction
    * byte-for-byte and that the file count is exactly the closed-form
    * target (round-robin repartition balances within ±1 row, so one
    * file per shard task). Fragmentation degree is runtime-asserted,
    * not oracle-encoded: it is the scenario setup, not the contract. */
  def compactedSink(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
        col("n_chars").cast("long").as("n_chars"))
    val base = TmpDirs.artifactRoot(s, d, "s17")
    val fragDir = s"$base/frag"
    val compDir = s"$base/comp"
    proj.repartition(50).write.mode("overwrite").parquet(fragDir)
    val frag = s.read.schema(proj.schema).parquet(fragDir)
    val shards = math.max(1L, (frag.count() + CompactRecordsPerShard - 1) /
      CompactRecordsPerShard).toInt
    frag.repartition(shards).write.mode("overwrite").parquet(compDir)
    val nFrag = parquetFileCount(fragDir)
    val nComp = parquetFileCount(compDir)
    require(nComp == shards,
      s"s17: expected $shards compacted shards, found $nComp files")
    require(nFrag > nComp,
      s"s17: fragmentation scenario broken — $nFrag fragment files vs " +
        s"$nComp compacted (nothing to compact)")
    s.read.schema(proj.schema).parquet(compDir)
      .withColumn("n_files", lit(nComp.toLong))
      .orderBy(col("doc_id"))
  }

  private val compactedSinkSql =
    s"""SELECT doc_id, md5(text) AS digest, n_chars,
       |  (SELECT CAST(ceil(count(*) / $CompactRecordsPerShard.0) AS BIGINT)
       |   FROM documents) AS n_files
       |FROM documents ORDER BY doc_id""".stripMargin

  /** s18 — SCHEMA-EVOLUTION merge read (the crawl-generation drift every
    * long-lived corpus accumulates: an early shard generation lacks
    * columns later generations carry). Two parquet generations are
    * written — gen1 without the `lang` column, gen2 with it — and read
    * back in ONE scan with `mergeSchema`: the unified schema is the
    * union, and gen1 rows surface `lang` as null instead of failing the
    * read or silently dropping the column. The oracle reproduces the
    * generation split closed-form (even ids = gen1 ⇒ null lang), so a
    * merge that drops, re-types or misaligns the evolved column breaks
    * the hash. Directory names deliberately avoid `k=v` so partition
    * discovery cannot masquerade as the merge; a production lake pins
    * the evolved schema in a catalog — this row exercises the read-side
    * mechanics that make that evolution safe. */
  def schemaMergeScan(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = TmpDirs.artifactRoot(s, d, "s18")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
        col("lang"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .select(col("doc_id"), col("digest"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val schemaMergeSql =
    """SELECT doc_id, md5(text) AS digest,
      |  CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** s21 — JSONL sink + source round-trip (the de-facto interchange
    * format of LLM training corpora: one JSON object per line in
    * gzip-compressed shards — what a crawler hands the pipeline and
    * what the pipeline hands the trainer; the CSV family covers the
    * reference's own format, this covers the format its USERS live
    * on). The documents' (doc_id, text, lang, source) projection is
    * written via the native JSON sink with gzip codec and read back
    * with an EXPLICIT schema — schema inference is a second full scan
    * at 100 TB, banned on the read path, the same discipline as the
    * CSV sources. The oracle compares the round-trip against the
    * parquet table directly, so an escaping, encoding, null-handling
    * or codec bug anywhere in the JSON path breaks the hash. Unlike
    * the CSV rows (digest proxy — CSV quoting is writer-dependent),
    * the RAW corpus text rides this round-trip: JSON string escaping
    * is lossless by specification, which is exactly why training
    * corpora standardized on JSONL.
    *
    * 100 TB shape: map-only write (shard = partition), map-only read.
    * Gzip shards are not splittable — shard size is the WRITE-side
    * knob (s17's records-per-shard discipline); a splittable codec
    * (bzip2, or zstd with seekable framing) plans identically. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val dir = TmpDirs.artifactRoot(s, d, "s21")
    proj.write.mode("overwrite").option("compression", "gzip").json(dir)
    s.read.schema(proj.schema).json(dir).orderBy(col("doc_id"))
  }

  private val jsonlRoundtripSql =
    """SELECT doc_id, text, lang, source FROM documents
      |ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("s01_systematic_sample", systematicSample, Some(systematicSampleSql)),
    QueryDef("s03_chunk_roundtrip", chunkRoundtrip, Some(chunkRoundtripSql)),
    QueryDef("s21_jsonl_roundtrip", jsonlRoundtrip, Some(jsonlRoundtripSql)),
    QueryDef("s08_consolidated_roundtrip", consolidatedRoundtrip,
      Some(consolidatedRoundtripSql)),
    QueryDef("b01_media_table", mediaTable, Some(mediaTableSql)),
    QueryDef("b02_media_features", mediaFeatures, Some(mediaFeaturesSql)),
    QueryDef("b03_frame_sample", frameSample, Some(frameSampleSql)),
    QueryDef("b04_audio_features", audioFeatures, Some(audioFeaturesSql)),
    QueryDef("b05_media_thumbnails", mediaThumbnails,
      Some(mediaThumbnailsSql)),
    QueryDef("s12_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    QueryDef("s15_partitioned_sink", partitionedSink,
      Some(partitionedSinkSql)),
    QueryDef("s17_compacted_sink", compactedSink, Some(compactedSinkSql)),
    QueryDef("s18_schema_merge", schemaMergeScan, Some(schemaMergeSql)))
}
