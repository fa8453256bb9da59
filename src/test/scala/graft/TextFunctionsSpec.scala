package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Properties of the clean/tokenize chain (SURVEY §5: clean idempotence,
  * tokenizer invariants). Deterministic generated samples instead of a
  * scalacheck runner — same coverage, no extra test-framework glue. */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val samples = Seq(
    "",
    "   ",
    "Hello, World!",
    "don't STOP 123 me  now",
    "a--b__c;;d..e",
    "newlines\nand\ttabs\r\nhere",
    "ünïcödé stays out",
    "UPPER lower MiXeD 42x",
    "trailing space ",
    "it's a won't can't they're I'm"
  )

  private def cleanOf(input: Seq[String]): Seq[String] =
    input.toDF("text")
      .select(TextFunctions.cleanText(col("text")).as("c"))
      .as[String].collect().toSeq

  test("cleanText is idempotent") {
    val once = cleanOf(samples)
    val twice = once.map(c => Seq(c)).flatMap(cleanOf)
    assert(once === twice)
  }

  test("cleanText output alphabet is [a-z ] with no double spaces or edge spaces") {
    cleanOf(samples).foreach { c =>
      assert(c.matches("[a-z ]*"), s"alphabet: '$c'")
      assert(!c.contains("  "), s"double space: '$c'")
      assert(c == c.trim, s"untrimmed: '$c'")
    }
  }

  test("tokens drops empties and splits on single spaces") {
    val toks = samples.toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect().toSeq
    toks.foreach(ts => assert(!ts.contains("")))
    assert(toks(2) === Seq("hello", "world"))
    // contraction expansion happens inside the clean chain
    assert(toks(3) === Seq("do", "not", "stop", "me", "now"))
  }

  test("ngrams produces size-n space-joined windows; short docs give empty") {
    val df = Seq(Seq("a", "b", "c", "d"), Seq("a"), Seq.empty[String]).toDF("toks")
    val got = df.select(TextFunctions.ngrams(col("toks"), 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
  }

  test("expression ngrams matches ml.feature.NGram on the same input") {
    val df = Seq(Seq("x", "y", "z", "w", "v"), Seq("p", "q"), Seq("only"))
      .toDF("toks")
    val viaExpr = df.select(TextFunctions.ngrams(col("toks"), 2).as("g"))
      .as[Seq[String]].collect().toSeq
    val viaMl = TextFunctions.withNgrams(df, "toks", "g", 2)
      .select("g").as[Seq[String]].collect().toSeq
    assert(viaExpr === viaMl)
  }

  test("minimized contraction passes reproduce the full parity dictionary") {
    // the breadth claim: every lexicon::key_contractions entry expands to
    // its dictionary value through the minimized hot-path sequence
    val keys = TextFunctions.contractionDictionary.map(_._1)
    val got = keys.toDF("text")
      .select(TextFunctions.expandContractions(col("text")).as("c"))
      .as[String].collect().toSeq
    val want = TextFunctions.contractionDictionary.map(_._2)
    keys.lazyZip(got).lazyZip(want).foreach { (k, g, w) =>
      assert(g === w, s"dictionary entry '$k' expanded to '$g', want '$w'")
    }
    assert(TextFunctions.contractionDictionary.size >= 65,
      "parity dictionary must stay at lexicon::key_contractions breadth")
  }

  test("expandContractions applies the dictionary longest-first") {
    val got = Seq("i won't and they can't, it's a don't")
      .toDF("text")
      .select(TextFunctions.expandContractions(col("text")).as("c"))
      .as[String].collect().head
    assert(got.contains("will not"))
    assert(got.contains("cannot"))
    assert(got.contains("it is"))
    assert(got.contains("do not"))
    assert(!got.contains("n't"))
  }

  test("whole-word contractions never fire inside possessives (word-bounded)") {
    // "show's" contains the substring "how's", "sphere's" contains
    // "here's", "niche's" contains "he's" — a substring pass turned
    // these into "show is"/"sphere is"/"niche is"
    val got = Seq("the show's host met sphere's edge and niche's rule but how's it")
      .toDF("text")
      .select(TextFunctions.expandContractions(col("text")).as("c"))
      .as[String].collect().head
    assert(got.contains("show's"), s"possessive corrupted: '$got'")
    assert(got.contains("sphere's"))
    assert(got.contains("niche's"))
    assert(got.contains("how is it"), "real contraction must still expand")
  }
}
