package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleaning / tokenization column expressions (SURVEY §2.7 F1-F12,
  * §2.8 V1-V2). All pure Catalyst `Column` chains — codegen'd, no UDFs —
  * re-expressing the reference's clean_text (ref 02_build_models.R:25-41)
  * as lazy expressions instead of eager R string maps.
  *
  * Regex classes are kept ASCII-explicit (`[^a-z0-9 ]`, `\\s+`) so Java
  * regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte.
  */
object TextFunctions {

  /** F1 lowercase. */
  def toLower(c: Column): Column = lower(c)

  /** F3+F4 strip punctuation and digits (anything outside [a-z ]) —
    * applied after lowering; ref 02_build_models.R:32-33. */
  def stripNonAlpha(c: Column): Column = regexp_replace(c, "[^a-z ]", " ")

  /** F5 collapse whitespace runs + F9 trim; ref 02_build_models.R:34. */
  def collapseWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Full clean chain ≙ reference clean_text (ref 02_build_models.R:25-41):
    * lower → expand contractions → strip punct/nums → collapse
    * whitespace → trim. Contractions run BEFORE punctuation stripping
    * (the apostrophe is still intact), exactly as the reference chains
    * replace_contraction before removePunctuation (ref :28 vs :32). */
  def cleanText(c: Column): Column =
    collapseWs(stripNonAlpha(expandContractions(toLower(c))))

  /** F2 contraction parity dictionary ≙ lexicon::key_contractions, the
    * dictionary behind textclean::replace_contraction (ref
    * 02_build_models.R:28) — lowercase pairs since the clean chain
    * lowers first. This is the PARITY surface: the engine claims every
    * entry here expands to its value. The hot path does NOT run one pass
    * per entry — [[contractions]] below is the minimized pass sequence,
    * and TextFunctionsSpec proves it reproduces this dictionary
    * entry-for-entry (most entries are exactly what the generic suffix
    * rules produce: "aren't" → "are not" IS "n't" → " not"). */
  val contractionDictionary: Seq[(String, String)] = Seq(
    // lexicon::key_contractions parity block (specific before generic)
    "ain't" -> "am not", "aren't" -> "are not", "can't" -> "cannot",
    "could've" -> "could have", "couldn't" -> "could not",
    "didn't" -> "did not", "doesn't" -> "does not", "don't" -> "do not",
    "hadn't" -> "had not", "hasn't" -> "has not", "haven't" -> "have not",
    "he'd" -> "he would", "he'll" -> "he will", "he's" -> "he is",
    "here's" -> "here is",
    "how'd" -> "how did", "how'll" -> "how will", "how's" -> "how is",
    "i'd" -> "i would", "i'll" -> "i will", "i'm" -> "i am",
    "i've" -> "i have", "isn't" -> "is not",
    "it'd" -> "it would", "it'll" -> "it will", "it's" -> "it is",
    "let's" -> "let us", "ma'am" -> "madam",
    "might've" -> "might have", "mightn't" -> "might not",
    "must've" -> "must have", "mustn't" -> "must not",
    "needn't" -> "need not", "o'clock" -> "of the clock",
    "shan't" -> "shall not",
    "she'd" -> "she would", "she'll" -> "she will", "she's" -> "she is",
    "should've" -> "should have", "shouldn't" -> "should not",
    "that'd" -> "that would", "that's" -> "that is",
    "there'd" -> "there would", "there's" -> "there is",
    "they'd" -> "they would", "they'll" -> "they will",
    "they're" -> "they are", "they've" -> "they have",
    "wasn't" -> "was not",
    "we'd" -> "we would", "we'll" -> "we will", "we're" -> "we are",
    "we've" -> "we have", "weren't" -> "were not",
    "what'll" -> "what will", "what're" -> "what are",
    "what's" -> "what is", "what've" -> "what have",
    "when's" -> "when is",
    "where'd" -> "where did", "where's" -> "where is",
    "where've" -> "where have",
    "who'd" -> "who would", "who'll" -> "who will", "who're" -> "who are",
    "who's" -> "who is", "who've" -> "who have",
    "why's" -> "why is", "won't" -> "will not",
    "would've" -> "would have", "wouldn't" -> "would not",
    "you'd" -> "you would", "you'll" -> "you will",
    "you're" -> "you are", "you've" -> "you have")

  /** The minimized pass sequence actually applied (and regenerated into
    * the DuckDB oracle via [[graft.oracle.DuckFragments.cleanSql]], so
    * both sides stay identical by construction). Equivalence argument:
    * a dictionary entry like "they're" → "they are" is the prefix
    * "they" plus the generic "'re" → " are" rewrite, so on ANY input
    * the generic pass produces the same bytes the specific entry would —
    * only the irregular forms (can't/won't/shan't/ain't, how'd/where'd)
    * and the 's/misc family (no generic 's rule: possessives stay) need
    * their own pass. Declaration order is semantic: irregulars before
    * the generic suffix rules ("won't" must not become "wo not").
    * TextFunctionsSpec pins minimized ≡ [[contractionDictionary]].
    *
    * Whole-word entries apply WORD-BOUNDED (`\b`-anchored, as
    * textclean's replacement is): a plain substring pass corrupted
    * possessives whose tail collides with an entry — "show's" contains
    * "how's", "sphere's" contains "here's" — turning them into
    * "show is"/"sphere is". Suffix rules anchor on the right only (the
    * left side is mid-word by design). */
  val wholeWordContractions: Seq[(String, String)] = Seq(
    // irregular n't / 'd forms the generic rules would mangle
    "ain't" -> "am not", "can't" -> "cannot", "shan't" -> "shall not",
    "won't" -> "will not",
    "how'd" -> "how did", "where'd" -> "where did",
    // 's and misc family — no generic 's rule exists (possessives stay)
    "he's" -> "he is", "here's" -> "here is", "how's" -> "how is",
    "it's" -> "it is", "let's" -> "let us", "ma'am" -> "madam",
    "o'clock" -> "of the clock",
    "she's" -> "she is", "that's" -> "that is", "there's" -> "there is",
    "what's" -> "what is", "when's" -> "when is", "where's" -> "where is",
    "who's" -> "who is", "why's" -> "why is")

  /** Generic suffix rules covering every regular dictionary entry —
    * right-bounded only. */
  val suffixContractions: Seq[(String, String)] = Seq(
    "n't" -> " not",
    "'re" -> " are", "'ve" -> " have", "'ll" -> " will",
    "'d" -> " would", "'m" -> " am")

  val contractions: Seq[(String, String)] =
    wholeWordContractions ++ suffixContractions

  /** Whole-word passes are `\b`-anchored regex replaces (keys are
    * letters + apostrophe only — no metacharacters to escape; `\b` is
    * the ASCII word boundary in BOTH Java regex and DuckDB's RE2, so
    * the oracle regenerates byte-identical semantics); suffix passes
    * anchor on the right only. The whole chain is skipped for rows
    * without an apostrophe — every key contains one, so
    * apostrophe-free text is a fixed point. */
  def expandContractions(c: Column): Column =
    when(c.contains("'"), {
      val whole = wholeWordContractions.foldLeft(c) { case (col, (k, v)) =>
        regexp_replace(col, "\\b" + k + "\\b", v)
      }
      suffixContractions.foldLeft(whole) { case (col, (k, v)) =>
        regexp_replace(col, k + "\\b", v)
      }
    }).otherwise(c)

  /** Snowball English stopword list ≙ tm::stopwords("en") (ref
    * 02_build_models.R:35), restricted to its apostrophe-free entries —
    * the contracted forms ("don't", "i'm", …) can never survive this
    * engine's clean chain because contraction expansion rewrites them to
    * words that are themselves on the list. Plus the reference's custom
    * noise words (ref 02_build_models.R:35-36). */
  val stopWords: Seq[String] = Seq(
    // snowball en (plain-word subset)
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "your", "yours", "yourself", "yourselves",
    "he", "him", "his", "himself", "she", "her", "hers", "herself",
    "it", "its", "itself", "they", "them", "their", "theirs", "themselves",
    "what", "which", "who", "whom", "this", "that", "these", "those",
    "am", "is", "are", "was", "were", "be", "been", "being",
    "have", "has", "had", "having", "do", "does", "did", "doing",
    "would", "should", "could", "ought", "cannot",
    "a", "an", "the", "and", "but", "if", "or", "because", "as",
    "until", "while", "of", "at", "by", "for", "with", "about",
    "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in",
    "out", "on", "off", "over", "under", "again", "further", "then",
    "once", "here", "there", "when", "where", "why", "how", "all",
    "any", "both", "each", "few", "more", "most", "other", "some",
    "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "will",
    // reference-specific noise words:
    "project", "focuses", "team", "users",
    "excuse", "tongue", "sticking", "loring")

  /** Whitespace tokenization of cleaned text → array<string> with empties
    * dropped. Deterministic and oracle-expressible (string_split + filter). */
  def tokens(c: Column): Column =
    filter(split(cleanText(c), " "), t => t =!= "")

  /** V1-ish n-gram generation from a token array: space-joined n-grams.
    * Built from transform over slice — stays in codegen'd expressions.
    * Empty array when the doc has fewer than n tokens (sequence would
    * otherwise count downward). */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Fast n-gram path: ml.feature.NGram (compiled sliding window —
    * identical output to [[ngrams]], ~50× faster than the interpreted
    * higher-order expression; use for hot paths over whole tables). */
  def withNgrams(df: org.apache.spark.sql.DataFrame, inCol: String,
                 outCol: String, n: Int): org.apache.spark.sql.DataFrame =
    new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol(inCol).setOutputCol(outCol).transform(df)

  /** F12 label prefix arithmetic (ref 02_build_models.R:632,764). */
  def clusterId(label: Column): Column =
    regexp_replace(label, "^Cluster_", "").cast("int")
}
