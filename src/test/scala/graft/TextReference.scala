package graft

import graft.functions.SignatureUtil
import graft.functions.TextFunctions.{asciiPunctuation, nonWsClass, qualityStopwords, wsClass}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in spellings the kernels replaced, kept as the references
  * the specs compare the kernels against and `KernelLedger` times them
  * against. The text ones read the oracle SQL's character classes:
  * whitespace is `TextFunctions.wsClass`, and a word is ASCII, as in
  * RE2. */
object TextReference {

  /** F1: strip URLs (reference src/utils.py:6). */
  def stripUrls(c: Column): Column = regexp_replace(c, s"http$nonWsClass+|www$nonWsClass+", "")

  /** F2: strip @mentions (reference src/utils.py:7). */
  def stripMentions(c: Column): Column = regexp_replace(c, "@\\w+", "")

  /** F3: strip #hashtags (reference src/utils.py:8). */
  def stripHashtags(c: Column): Column = regexp_replace(c, "#\\w+", "")

  /** F4: delete ASCII punctuation (reference src/utils.py:9). */
  def dropPunctuation(c: Column): Column = translate(c, asciiPunctuation, "")

  /** Stopword hits in a token array: the filter lambda is interpreted
    * CodegenFallback — query paths use tokenStats3 instead. */
  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(qualityStopwords: _*)))

  /** Sum of token lengths — interpreted CodegenFallback, see
    * tokenStats3. */
  def tokenCharSum(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)

  /** Language-marker hit count: number of whole-word matches of any of
    * the marker words, where a word boundary is ASCII, as RE2's \b is
    * (java's \b would also join a marker to an accented neighbour). */
  def markerHits(c: Column, markers: Seq[String]): Column =
    size(regexp_extract_all(c,
      lit("(?<![A-Za-z0-9_])(" + markers.mkString("|") + ")(?![A-Za-z0-9_])"), lit(0)))

  /** Strip leading and trailing whitespace by regex. */
  def pyStripRegex(c: Column): Column = regexp_replace(c, s"^$wsClass+|$wsClass+$$", "")

  /** Split the stripped string on whitespace runs. */
  def tokensRegex(c: Column): Column = split(pyStripRegex(c), s"$wsClass+")

  /** Word n-gram shingles of a token array: the higher-order-function
    * chain `TextFunctions.wordShingles` replaced. */
  def hofShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Dot product as the higher-order-function fold `VectorFunctions.dot`
    * replaced: NULL on unequal lengths (zip_with pads with NULL) and on a
    * NULL element. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** MinHash signature of a non-empty shingle array as the per-row
    * higher-order-function spelling of `TextFunctions.minhashSignature`:
    * slot i is the least pmod(As[i]·pmod(hash(s), p) + Bs[i], p) over the
    * shingles s. */
  def hofMinhash(sh: Column): Column = {
    val p = lit(SignatureUtil.Prime)
    val as = typedLit(SignatureUtil.As.toSeq)
    val bs = typedLit(SignatureUtil.Bs.toSeq)
    transform(sequence(lit(0), lit(SignatureUtil.MinhashFuncs - 1)), i =>
      array_min(transform(sh, s =>
        pmod(as.getItem(i) * pmod(hash(s).cast("long"), p) + bs.getItem(i), p))))
  }

  /** 64-bit SimHash of a token array as the per-row higher-order-function
    * spelling of `TextFunctions.simhashSignature`: bit i is set iff the
    * tokens' xxhash64 values have bit i set more often than not. */
  def hofSimhash(toks: Column): Column = {
    val hs = transform(toks, t => xxhash64(t))
    aggregate(sequence(lit(0), lit(63)), lit(0L), (sig, i) => {
      val votes = aggregate(hs, lit(0), (n, h) =>
        n + when(call_function("shiftright", h, i).bitwiseAND(1L) === 1L, 1).otherwise(-1))
      sig.bitwiseOR(when(votes > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L))
    })
  }
}
