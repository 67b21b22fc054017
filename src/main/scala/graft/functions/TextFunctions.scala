package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.{ColumnBridge, ShingleUtil, TextKernelUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Column-level text kernels: Spark-first re-expressions of the
  * reference's `clean_text` (reference src/utils.py:5-10, applied at
  * src/preprocess.py:48 and src/predict.py:81) plus the text-analysis
  * extensions a training-data pipeline needs (token stats, quality
  * scoring, language guessing, fingerprinting).
  *
  * Everything is composed from built-in column functions and static
  * kernel methods (`TextKernelUtil`, `ShingleUtil`) called through
  * Spark's StaticInvoke — no UDFs — so the whole chain stays inside
  * WholeStageCodegen and is equally usable in batch and Structured
  * Streaming plans. Plans print a kernel as
  * `static_invoke(TextKernelUtil.stripNoise(text#…))`.
  */
object TextFunctions {

  /** `TextKernelUtil.<method>(c)` over a string column. */
  private def textKernel(method: String, dataType: DataType)(c: Column): Column =
    ColumnBridge.column(ColumnBridge.invoke(TextKernelUtil, method, dataType,
      Seq(ColumnBridge.expression(c)), Seq(StringType)))

  /** Python's string.punctuation — the exact 32-char set the reference
    * deletes via str.translate (reference src/utils.py:9). */
  val asciiPunctuation: String = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"

  /** F1–F3 — strip URLs, @mentions and #hashtags (reference
    * src/utils.py:6-8) — in ONE byte scan (TextKernelUtil.stripNoise):
    * equality with the three sequential regexp_replace passes is
    * property-proven in TextFunctionsSpec — those were three full
    * java.util.regex passes per row, the dominant cost of q20/q25. */
  def stripNoise(c: Column): Column = textKernel("stripNoise", StringType)(c)

  /** F1–F4 fused: the noise scan with the punctuation translate-delete
    * (F4, reference src/utils.py:9) applied to each surviving byte —
    * per-character deletions commute with the emit order, so this
    * equals translate(stripNoise(c), asciiPunctuation, "") exactly
    * (property-proven; TextKernelUtil.stripNoisePunct). */
  def stripNoiseAndPunct(c: Column): Column = textKernel("stripNoisePunct", StringType)(c)

  /** The 6-char java-\s set: [ \t\n\x0B\f\r]. */
  private val wsChars = " \t\n\u000B\f\r"

  /** Python str.strip() parity: strips ALL leading/trailing whitespace
    * including tab/newline — Spark's one-arg trim() strips spaces only
    * (golden case at reference src/unit_tests/test_utils.py:18-21).
    * Spelled as charset-trim rather than
    * regexp_replace(c, "^\\s+|\\s+$", "") — identical for every input
    * (both remove exactly the leading and trailing [ \t\n\x0B\f\r]
    * runs; TextFunctionsSpec proves it) without the per-row regex. */
  def pyStrip(c: Column): Column = trim(c, wsChars)

  /** F1–F5 chained in reference order (src/utils.py:5-10); F1–F4 run
    * as the fused byte-scan kernel. */
  def cleanText(c: Column): Column =
    pyStrip(lower(stripNoiseAndPunct(c)))

  /** F6: label decode — 1→Positive, 0→Negative, else Unknown
    * (reference src/predict.py:84-92). */
  def decodeSentiment(pred: Column): Column =
    when(pred === 1, "Positive sentiment")
      .when(pred === 0, "Negative sentiment")
      .otherwise("Unknown sentiment")

  /** Whitespace tokenizer over a python-stripped string. Byte-scan
    * kernel (TextKernelUtil.wsTokens), output identical to
    * split(pyStrip(c), "\\s+") including the [""] result for strings
    * that strip to empty (TextFunctionsSpec proves equality). */
  def tokens(c: Column): Column =
    textKernel("wsTokens", ArrayType(StringType, containsNull = false))(c)

  /** Tiny embedded stopword list for quality scoring: the table of
    * `tokenStats3`'s kernel and the list q23's oracle SQL reads. */
  val qualityStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** [n_tokens, n_stop, char_sum] in ONE byte scan over the raw text,
    * counting `qualityStopwords` — no token array materialized, no
    * interpreted HOF lambda (TextKernelUtil.tokenStats; equality with
    * the size/filter/aggregate spelling proven in TextFunctionsSpec). */
  def tokenStats3(c: Column): Column =
    textKernel("tokenStats", ArrayType(LongType, containsNull = false))(c)

  /** Marker words of q24's language guess, one list per language: the
    * table of `markerCounts`' kernel and the lists q24's oracle SQL
    * reads. */
  val enMarkers = Seq("the", "and", "of", "to", "is")
  val frMarkers = Seq("le", "la", "les", "et", "des")
  val esMarkers = Seq("el", "los", "las", "de", "y")
  val deMarkers = Seq("der", "die", "das", "und", "ist")
  val langMarkers: Seq[Seq[String]] = Seq(enMarkers, frMarkers, esMarkers, deMarkers)

  /** Whole-word hit counts of each `langMarkers` list, in order, in ONE
    * byte scan (TextKernelUtil.langMarkerCounts): the
    * regexp_extract_all spelling ran four full-text regex scans per
    * row. Counts are identical (the sets are disjoint and a \b(w)\b
    * match is exactly a maximal \w-run equal to w — TextFunctionsSpec
    * proves equality per set). */
  def markerCounts(c: Column): Column =
    textKernel("langMarkerCounts", ArrayType(IntegerType, containsNull = false))(c)

  /** Content-defined document fingerprint: md5 over the cleaned text.
    * Stable across engines (unlike murmur/xxhash whose seeds differ),
    * so it doubles as the exact-dedup key. */
  def fingerprint(c: Column): Column = md5(cleanText(c))

  /** Word n-gram shingles from a token array. Tight loop
    * (ShingleUtil.shingles) — the HOF spelling
    * (transform + sequence + element_at + concat_ws) is interpreted
    * CodegenFallback and dominated the dedup queries; output is
    * identical, short/NULL docs yield an empty array. */
  def wordShingles(toks: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    ColumnBridge.column(ColumnBridge.invoke(ShingleUtil, "shingles",
      ArrayType(StringType, containsNull = false), Seq(ColumnBridge.expression(toks), Literal(n)),
      Seq(ArrayType(StringType), IntegerType), propagateNull = false))
  }
}
