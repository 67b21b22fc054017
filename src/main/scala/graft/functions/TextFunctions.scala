package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSigExpr, SimHash64Expr}
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
  * `static_invoke(graft.functions.TextKernelUtil.stripNoise(text#…))`.
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

  /** The text layer's one whitespace set, [ \t\n\x0B\f\r]: the
    * characters `cleanText` strips and the kernels' `isWs` tests. RE2's
    * `\s` lacks \x0B, so the oracle SQL spells whitespace as
    * `wsClass`/`nonWsClass`, never as `\s`/`\S`. Python's `str.strip`
    * strips more (\x1c–\x1f, \x85, \xa0, …): a declared deviation. */
  val wsChars = " \t\n\u000B\f\r"

  /** `wsChars` as a regex class, [\x20\x09\x0A\x0B\x0C\x0D], and its
    * negation; DuckDB's RE2 and java.util.regex read both the same. */
  val wsClass: String = wsChars.map(c => f"\\x${c.toInt}%02X").mkString("[", "", "]")
  val nonWsClass: String = "[^" + wsClass.tail

  /** F1–F5 (reference src/utils.py:5-10) as ONE kernel
    * (TextKernelUtil.cleanText): the noise scan deletes the punctuation
    * (F4, reference src/utils.py:9) as it emits, then lowers the kept
    * text as Spark's default `lower` does and strips `wsChars` from
    * both ends, Python's `str.strip()` over that set (golden case at
    * reference src/unit_tests/test_utils.py:18-21). One scan and one
    * output string per row, where `trim(lower(…))` made three; and no
    * plan calls Spark's case mapping, whose initializer loads ICU's
    * break-iterator data. TextFunctionsSpec proves it equal to the
    * reference's passes spelled in Spark. */
  def cleanText(c: Column): Column = textKernel("cleanText", StringType)(c)

  /** Python string.punctuation with the single quote doubled for SQL. */
  private val punctSql = asciiPunctuation.replace("'", "''")

  /** The strip pattern of the oracle SQL: leading or trailing `wsChars`. */
  private val sqlStrip = s"^$wsClass+|$wsClass+$$"

  /** `cleanText` of the SQL expression `e`, spelled for the DuckDB
    * oracle as the reference's own passes: three regex deletes, the
    * punctuation translate, lower, strip. */
  def sqlCleanText(e: String): String =
    s"""regexp_replace(
       |  lower(translate(
       |    regexp_replace(regexp_replace(regexp_replace($e,
       |      'http$nonWsClass+|www$nonWsClass+', '', 'g'), '@\\w+', '', 'g'), '#\\w+', '', 'g'),
       |    '$punctSql', '')),
       |  '$sqlStrip', '', 'g')""".stripMargin

  /** F6: label decode — 1→Positive, 0→Negative, else Unknown
    * (reference src/predict.py:84-92). */
  def decodeSentiment(pred: Column): Column =
    when(pred === 1, "Positive sentiment")
      .when(pred === 0, "Negative sentiment")
      .otherwise("Unknown sentiment")

  /** Whitespace tokenizer over a python-stripped string. Byte-scan
    * kernel (TextKernelUtil.wsTokens), output identical to splitting
    * the `wsChars`-stripped string on wsClass + "+", including the
    * [""] result for strings that strip to empty (TextFunctionsSpec
    * proves equality). */
  def tokens(c: Column): Column =
    textKernel("wsTokens", ArrayType(StringType, containsNull = false))(c)

  /** `tokens` of the SQL expression `e`, spelled for the DuckDB oracle. */
  def sqlTokens(e: String): String =
    s"regexp_split_to_array(regexp_replace($e, '$sqlStrip', '', 'g'), '$wsClass+')"

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
    * row. A hit is a maximal ASCII \w-run equal to a marker, which is
    * what the oracle's RE2 \b(w)\b matches, since RE2's \b is ASCII
    * (an accented letter next to a marker does not join its word).
    * The sets are disjoint; TextFunctionsSpec proves equality per set. */
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

  val minhashSlots: Int = SignatureUtil.MinhashFuncs // slots of a `minhashSignature`

  /** The MinHash signature of a non-empty shingle array, one loop per
    * row (SignatureUtil.minhash, seed-42 murmur3 shingle hashes). */
  def minhashSignature(shingles: Column): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingles)))

  /** The 64-bit SimHash of a token array, one loop per row
    * (SignatureUtil.simhash, seed-42 xxhash64 token hashes). */
  def simhashSignature(toks: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(toks)))
}
