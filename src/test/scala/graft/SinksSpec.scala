package graft

import graft.multimodal.Multimodal
import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Chunk sink / glob source round-trips (S4-S6) + sampling semantics
  * (S3) + multimodal decode plumbing. */
class SinksSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("chunk write → glob read round-trips the relation (S4/S5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunks").toString
    val df = Tables.documents(spark, sfTiny).select("doc_id", "source", "n_chars")
    Sinks.writeChunks(df, dir, numChunks = 4)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv"))
    assert(files === 4, "one CSV per chunk")
    val back = Sinks.readChunks(spark, dir, schema)
    assert(back.count() === df.count())
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("consolidated sink writes a single CSV file (S6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-consolidated").toString
    val df = Tables.documents(spark, sfTiny).select("doc_id", "source", "n_chars")
    Sinks.writeConsolidated(df, dir)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv"))
    assert(files === 1)
    assert(Sinks.readChunks(spark, dir, schema).count() === df.count())
  }

  test("s17 compaction collapses the file count and preserves every row") {
    val out = graft.operators.SourceOps.compactedSink(spark, sfTiny)
    val docs = Tables.documents(spark, sfTiny)
    // content survives compaction row-for-row
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    // closed-form shard count rides the row (500 docs / 200 per shard)
    val nFiles = out.select("n_files").distinct().collect().map(_.getLong(0))
    assert(nFiles.toSeq === Seq(3L))
    // digest parity against the table itself
    val want = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("digest"))
    assert(out.select("doc_id", "digest").except(want).count() === 0)
  }

  test("s18 mergeSchema read unions generations — evolved column null on old shards") {
    val out = graft.operators.SourceOps.schemaMergeScan(spark, sfTiny)
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)))
    assert(out.length === Tables.documents(spark, sfTiny).count())
    out.foreach { case (id, lang) =>
      if (id % 2 == 0) assert(lang.isEmpty, s"gen1 doc $id must have null lang")
      else assert(lang.nonEmpty, s"gen2 doc $id lost its lang")
    }
  }

  test("seeded Bernoulli sample is deterministic; systematic sample is exact (S3)") {
    val df = Tables.documents(spark, sfTiny)
    val s1 = Sinks.sample(df, 0.2, seed = 7).select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sinks.sample(df, 0.2, seed = 7).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "same seed, same partitioning, same sample")
    assert(s1.nonEmpty && s1.size < df.count())

    val sys = Sinks.sampleByMod(df, "doc_id", 10, 3)
      .select("doc_id").collect().map(_.getLong(0))
    assert(sys.forall(_ % 10 === 3))
  }

  test("multimodal decode: schema, determinism, and dimensionality") {
    val media = Multimodal.ppmTable(Tables.documents(spark, sfTiny).limit(30))
    assert(media.schema("content").dataType === BinaryType)
    val feats = Multimodal.extractFeatures(media, Multimodal.PpmDecoderFactory())
    val rows = feats.collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("features")).length === 8)
      assert(r.getString(1) === "image")
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(media, Multimodal.PpmDecoderFactory())
      .collect().map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("features")))).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getSeq[Float](r.fieldIndex("features"))))
  }

  test("two pipelines with different strides get different decoders") {
    // regression: the per-JVM decoder cache is keyed by factory — an
    // unkeyed singleton would hand the stride-5 pipeline the stride-1
    // decoder (channel sums over 48 vs 10 pixels diverge immediately)
    val media = Multimodal.ppmTable(Tables.documents(spark, sfTiny).limit(5))
    def sums(stride: Int) =
      Multimodal.extractFeatures(media, Multimodal.PpmDecoderFactory(stride))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("features"))(3)))
        .toMap
    val full = sums(1)
    val strided = sums(5)
    assert(full.keySet === strided.keySet)
    // stride-1 sums 48 pixels, stride-5 only 10 — strictly larger ΣR
    full.foreach { case (id, sr) => assert(sr > strided(id)) }
  }

  test("PpmDecoder parses the header and matches the planted closed form") {
    val dec = new Multimodal.PpmDecoder(stride = 5)
    val f = dec.decode("image", Multimodal.ppmBytes(42L))
    assert(f(0) === 8.0f && f(1) === 6.0f && f(2) === 255.0f)
    val ps = 0 until 48 by 5
    assert(f(3) === ps.map(p => (42L * 7 + p * 13) % 256).sum.toFloat)
    assert(f(4) === ps.map(p => (42L * 11 + p * 17) % 256).sum.toFloat)
    assert(f(5) === ps.map(p => (42L * 3 + p * 19) % 256).sum.toFloat)
    val all = ps.flatMap(p => Seq((42L * 7 + p * 13) % 256,
      (42L * 11 + p * 17) % 256, (42L * 3 + p * 19) % 256))
    assert(f(6) === all.min.toFloat && f(7) === all.max.toFloat)
    // a non-trivial header (multi-digit dims) parses too
    val wide = Multimodal.ppmBytes(7L, w = 12, h = 10)
    val fw = new Multimodal.PpmDecoder().decode("image", wide)
    assert(fw(0) === 12.0f && fw(1) === 10.0f)
    // malformed input fails loudly, not silently
    def bad(payload: Array[Byte]): Unit =
      intercept[IllegalArgumentException] { dec.decode("image", payload) }
    bad("not a ppm".getBytes("US-ASCII"))
    bad(Multimodal.ppmBytes(1L).dropRight(10)) // truncated payload
    bad("P6\n0 5\n255\n".getBytes("US-ASCII")) // zero-pixel dims
    bad(("P6\n65536 65536\n255\n" + "x" * 64).getBytes("US-ASCII")) // dim cap
    bad("P6\n2 2\n65535\n".getBytes("US-ASCII")) // 2-byte samples unsupported
    // header not terminated by whitespace must fail, not shift every read
    val shifted = Multimodal.ppmBytes(1L)
    shifted(10) = 'X' // the '\n' after maxval in "P6\n8 6\n255\n"
    bad(shifted)
  }

  test("ppmThumbnails box-filters blocks, drops partial edges, and is " +
      "identity at factor 1") {
    import spark.implicits._
    // 4x4 image with known bytes: channel value = pixel index (0..15)
    val w = 4; val h = 4
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val img = header ++ (0 until w * h).flatMap(p =>
      Seq(p.toByte, (p * 2).toByte, (p * 3).toByte)).toArray
    val media = Seq((7L, img)).toDF("doc_id", "content")
    val thumb = Multimodal.ppmThumbnails(media, factor = 2)
      .orderBy(col("ty"), col("tx"))
      .select(col("ty"), col("tx"), col("r"), col("g"), col("b"))
      .as[(Long, Long, Long, Long, Long)].collect()
    // block (ty,tx) covers pixels {2ty,2ty+1}x{2tx,2tx+1}; truncated mean
    def mean(ty: Int, tx: Int, mult: Int): Long = {
      val ps = for (dy <- 0 to 1; dx <- 0 to 1)
        yield ((2 * ty + dy) * w + (2 * tx + dx)) * mult % 256
      ps.sum / 4L
    }
    assert(thumb.length === 4)
    thumb.foreach { case (ty, tx, r, g, b) =>
      assert((r, g, b) ===
        ((mean(ty.toInt, tx.toInt, 1), mean(ty.toInt, tx.toInt, 2),
          mean(ty.toInt, tx.toInt, 3))))
    }
    // factor 1 is the identity resize: every pixel survives unchanged
    val id1 = Multimodal.ppmThumbnails(media, factor = 1).count()
    assert(id1 === (w * h).toLong)
    // odd dims: 5x3 at factor 2 keeps only the 2x1 whole-block grid
    val odd = Multimodal.ppmBytes(3L, w = 5, h = 3)
    val oddThumb = Multimodal
      .ppmThumbnails(Seq((3L, odd)).toDF("doc_id", "content"), factor = 2)
      .select(col("ty"), col("tx")).as[(Long, Long)].collect().toSet
    assert(oddThumb === Set((0L, 0L), (0L, 1L)))
    // malformed payloads surface through the shared parse, not zero-fill
    intercept[org.apache.spark.SparkException] {
      Multimodal.ppmThumbnails(
        Seq((1L, "junk".getBytes("US-ASCII"))).toDF("doc_id", "content"))
        .count()
    }
  }

  test("WavDecoder walks RIFF chunks and matches the planted closed form") {
    val dec = new Multimodal.WavDecoder()
    val f = dec.decode("audio", Multimodal.wavBytes(42L))
    val amps = (0 until 240).map(i => ((42L * 31 + i * 17) % 401).toInt - 200)
    assert(f(0) === 1.0f && f(1) === 8000.0f && f(2) === 16.0f)
    assert(f(3) === 240.0f)
    assert(f(4) === amps.sum.toFloat)
    assert(f(5) === amps.min.toFloat && f(6) === amps.max.toFloat)
    val zc = amps.sliding(2).count(p => p(0) * p(1) < 0)
    assert(f(7) === zc.toFloat)
    // a REAL parser skips unknown chunks: splice a junk chunk between
    // fmt and data (a fixed-offset reader would mis-read every sample)
    val base = Multimodal.wavBytes(42L)
    val junk = "LIST".getBytes("US-ASCII") ++ Array[Byte](6, 0, 0, 0) ++
      "extra!".getBytes("US-ASCII")
    val spliced = base.slice(0, 36) ++ junk ++ base.drop(36)
    // patch the RIFF size for the inserted 14 bytes
    val riffSize = spliced.length - 8
    for (b <- 0 until 4) spliced(4 + b) = ((riffSize >> (8 * b)) & 0xFF).toByte
    assert(dec.decode("audio", spliced).toSeq === f.toSeq)
    // malformed input fails loudly, not silently
    def bad(mutate: Array[Byte] => Array[Byte]): Unit =
      intercept[IllegalArgumentException] {
        dec.decode("audio", mutate(Multimodal.wavBytes(1L)))
      }
    bad(_ => "not a wav".getBytes("US-ASCII"))
    bad(_.dropRight(10)) // truncated: RIFF size no longer matches
    bad { w => w(22) = 2; w } // stereo rejected
    bad { w => w(34) = 8; w } // 8-bit rejected
    bad { w => w(20) = 3; w } // float PCM rejected
    bad { w => w(39) = 'x'; w } // no data chunk found ("datx")
    // odd data size: shrink the declared data chunk by one byte
    bad { w => w(40) = (w(40) - 1).toByte; w(4) = (w(4) - 1).toByte
      w.dropRight(1) }
  }

  test("s21 JSONL round-trip: gzip shard files, lossless text, explicit-schema read") {
    import spark.implicits._
    val out = graft.operators.SourceOps.jsonlRoundtrip(spark, sfTiny)
    val src = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // identity: the raw corpus text survives the JSON escape/unescape
    assert(out.columns.toSeq === src.columns.toSeq)
    val got = out.as[(Long, String, String, String)].collect().sortBy(_._1)
    val want = src.as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(got === want, "JSONL round-trip is not lossless")
    // format contract: the sink really wrote gzip JSONL shard files
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith(
        s"graft_s21_${spark.sparkContext.applicationId}_")).head
    val shards = dir.listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(shards.nonEmpty, s"no .json.gz shards in $dir")
    // one JSON object per line, readable by a plain gzip line reader
    val lines = shards.iterator.flatMap { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)),
        java.nio.charset.StandardCharsets.UTF_8))
      Iterator.continually(in.readLine()).takeWhile(_ != null)
    }.toSeq
    assert(lines.size === want.length)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")),
      "a shard line is not a single JSON object")
  }

  test("p11 export manifest cross-foots with the corpus and is seed-reproducible") {
    import spark.implicits._
    val m1 = graft.operators.PackOps.exportManifest(spark, sfTiny)
      .as[(Long, Long, Long, Long)].collect()
    val m2 = graft.operators.PackOps.exportManifest(spark, sfTiny)
      .as[(Long, Long, Long, Long)].collect()
    assert(m1 === m2, "manifest differs across identical export runs")
    assert(m1.forall { case (sh, _, _, _) => sh >= 0 && sh < 64 })
    val docs = Tables.documents(spark, sfTiny)
    assert(m1.map(_._2).sum === docs.count(),
      "manifest doc total diverges from the corpus")
    val chars = docs.agg(sum(length(col("text")))).head().getLong(0)
    assert(m1.map(_._4).sum === chars,
      "manifest char total diverges from the corpus text")
    // every shard the manifest lists is non-empty (empty shards are
    // absent rows, not zero rows)
    assert(m1.forall(_._2 >= 1))
  }

  test("JSONL mechanics are lossless on adversarial strings (quotes, " +
      "newlines, backslashes, unicode, empty, null)") {
    import spark.implicits._
    // the corpus text is clean [a-z ]; this pins the FORMAT posture on
    // the strings a real crawl ships: embedded newlines (the reason
    // JSONL needs escaping at all), JSON metachars, non-ASCII, nulls
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "line one\nline two\r\nline three"),
      (3L, "quote \" backslash \\ slash / tab\t end"),
      (4L, "unicode: \u00e9\u4e2d\u6587 emoji \ud83d\ude00 zero-width\u200b"),
      (5L, ""),
      (6L, null.asInstanceOf[String]),
      (7L, "{\"not\":\"parsed as object\"}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_adv").toString
    nasty.write.mode("overwrite").option("compression", "gzip").json(dir)
    val back = spark.read.schema(nasty.schema).json(dir)
      .as[(Long, Option[String])].collect().sortBy(_._1)
    val want = nasty.as[(Long, Option[String])].collect().sortBy(_._1)
    assert(back === want, "JSONL round-trip corrupted an adversarial string")
    // one object per LINE even with embedded newlines in the payload
    val lines = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json.gz")).iterator.flatMap { f =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)),
          java.nio.charset.StandardCharsets.UTF_8))
        Iterator.continually(in.readLine()).takeWhile(_ != null)
      }.toSeq
    assert(lines.size === want.length,
      "embedded newlines leaked into the line structure")
  }
}
