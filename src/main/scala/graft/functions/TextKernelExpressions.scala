package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-scan text kernels replacing per-row regex passes. Each public
  * method is one kernel, called from generated code through a
  * StaticInvoke (`ColumnBridge.invoke`, built in `TextFunctions`).
  * A kernel's plan-time table (punctuation, stopwords, marker words) is
  * a constant here, built from the list in `TextFunctions` that the
  * oracle SQL also reads.
  *
  * Each kernel's contract is its DuckDB oracle SQL, and each re-implements
  * that SQL's ASCII character classes: whitespace is the class spelled
  * from `TextFunctions.wsChars` ([ \t\n\x0B\f\r]), and a word byte is
  * RE2's ASCII `\w` ([a-zA-Z0-9_]). Multi-byte UTF-8 units are ≥ 0x80,
  * in neither class, so a byte scan sees exactly the boundaries the
  * regex engine sees. `cleanText` also lowers as Spark's `lower` does,
  * calling ICU itself for non-ASCII text, so no plan holds a Spark case
  * mapping. Measured at sf0.1 the regex tokenization cost
  * ~0.13 s per evaluation over 5k docs and feeds eight queries; the
  * marker counter collapses q24's four full-text regex scans into one.
  * TextFunctionsSpec proves each kernel equal to the regex spelling over
  * the corpus plus adversarial inputs, and TextHostileSpec replays the
  * queries on hostile documents against DuckDB.
  */
object TextKernelUtil {
  /** The bytes of `TextFunctions.wsChars` (KernelEdgeSpec pins them);
    * a compare chain, since this is the layer's hottest test. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** ASCII \w, as RE2 and java.util.regex read it */
  @inline private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  private val EmptyString = UTF8String.fromString("")

  /** `TextFunctions.sqlTokens`: strip both ends, then maximal
    * non-whitespace runs; a string that strips to empty yields [""]
    * exactly like the regex split of "". */
  def wsTokens(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var lo = 0
    while (lo < n && isWs(Platform.getByte(base, off + lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(Platform.getByte(base, off + hi - 1))) hi -= 1
    if (lo >= hi) return new GenericArrayData(Array[Any](EmptyString))
    val out = new java.util.ArrayList[Any](16)
    var i = lo
    while (i < hi) {
      // stripped interior: i starts on a non-ws byte
      var j = i + 1
      while (j < hi && !isWs(Platform.getByte(base, off + j))) j += 1
      val len = j - i
      val b = new Array[Byte](len)
      Platform.copyMemory(base, off + i, b, Platform.BYTE_ARRAY_OFFSET, len)
      out.add(UTF8String.fromBytes(b))
      i = j + 1
      while (i < hi && isWs(Platform.getByte(base, off + i))) i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The `len` bytes at `i` packed into a long, byte k at bits
    * 8(k+1) and the length in the low byte; -1, which no table word
    * packs to, above 7 bytes. */
  @inline private def packAt(base: AnyRef, off: Long, i: Int, len: Int): Long =
    if (len > 7) -1L
    else {
      var v = len.toLong
      var k = 0
      while (k < len) {
        v |= (Platform.getByte(base, off + i + k) & 0xFFL) << (8 * (k + 1))
        k += 1
      }
      v
    }

  /** `words` packed by `packAt`; they must be distinct ASCII words of
    * 1..7 bytes. */
  private def wordTable(words: Seq[String]): Array[Long] = {
    require(words.forall(w => w.nonEmpty && w.length <= 7 && w.forall(_ < 128)),
      "table words must be ASCII and 1..7 bytes")
    require(words.distinct.size == words.size, "table words must be distinct")
    words.map(w => packAt(w.getBytes("US-ASCII"), Platform.BYTE_ARRAY_OFFSET, 0, w.length)).toArray
  }

  /** The position of `v` in `table`, or -1. */
  @inline private def indexOf(table: Array[Long], v: Long): Int = {
    var w = 0
    while (w < table.length && table(w) != v) w += 1
    if (w < table.length) w else -1
  }

  /** One-pass token statistics over the SAME token boundaries as
    * wsTokens: [token count, stopword hits, char sum], where "char"
    * counts code points exactly like Spark's length() (UTF-8 lead
    * bytes) and a stopword hit is a token equal to a word of
    * `TextFunctions.qualityStopwords`. The strip-to-empty edge mirrors
    * wsTokens' [""] result: one token, zero stopwords, zero chars.
    * Equivalent to (size(toks), size(filter(toks, isin(stop))),
    * aggregate(transform(toks, length), 0, +)) over toks = wsTokens(s)
    * — the HOF spelling is interpreted CodegenFallback and re-walks the
    * token array three times — except that char_sum accumulates in a
    * long where the HOF's int accumulator would overflow-throw under
    * ANSI (needs a single document of ≥ 2³¹ chars; unreachable, and
    * wider-exact is the safe direction). Property-proven equal in
    * TextFunctionsSpec. */
  def tokenStats(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var lo = 0
    while (lo < n && isWs(Platform.getByte(base, off + lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(Platform.getByte(base, off + hi - 1))) hi -= 1
    if (lo >= hi) return UnsafeArrayData.fromPrimitiveArray(Array(1L, 0L, 0L))
    var nTok = 0L
    var nStop = 0L
    var chars = 0L
    var i = lo
    while (i < hi) {
      // stripped interior: i starts on a non-ws byte
      var j = i
      while (j < hi && !isWs(Platform.getByte(base, off + j))) {
        if ((Platform.getByte(base, off + j) & 0xC0) != 0x80) chars += 1 // UTF-8 lead byte = one code point
        j += 1
      }
      nTok += 1
      if (indexOf(QualityStop, packAt(base, off, i, j - i)) >= 0) nStop += 1
      i = j + 1
      while (i < hi && isWs(Platform.getByte(base, off + i))) i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(nTok, nStop, chars))
  }

  /** Bitmap of ASCII bytes to drop at emit time (the translate-delete
    * pass of clean_text). Deleting punctuation AFTER the noise strip
    * commutes with emitting survivors during it: both are per-
    * character deletions over the noise-stripped stream. Bytes ≥ 0x80
    * (multi-byte UTF-8) index the upper half, which is always false —
    * translate passes non-mapped characters through. */
  private def punctTable(chars: String): Array[Boolean] = {
    val t = new Array[Boolean](256)
    chars.foreach { c => require(c < 128, s"non-ASCII punct '$c'"); t(c) = true }
    t
  }

  /** One byte scan reproducing the three sequential regexp_replace
    * deletions of clean_text — regexp_replace(regexp_replace(
    * regexp_replace(s, "http\S+|www\S+", ""), "@\w+", ""), "#\w+", "")
    * — exactly (TextFunctionsSpec proves equality per pass-composition
    * over corpus + adversarial inputs). Every character class and
    * literal involved is pure ASCII, so byte-level scanning sees the
    * regex engine's boundaries (multi-byte UTF-8 units are ≥ 0x80:
    * non-\s, non-\w).
    *
    * Why one scan is enough (the pass interactions are bounded):
    *  - a URL match's greedy \S+ always extends to the END of its
    *    non-whitespace run, so pass 1 just truncates each run at the
    *    leftmost URL start — later passes see truncated runs and no
    *    new intra-run adjacency is ever created by pass 1;
    *  - a mention match's greedy \w+ means the character following any
    *    pass-2 deletion is non-\w, so pass 2 can never create a new
    *    mention or hashtag: a '#' before a deleted mention chain still
    *    faces a non-\w byte afterwards ("#@x@y7abc" → pass 2 → "#" →
    *    pass 3 → "#"), so '@' and '#' decisions are both local to the
    *    pass-1 stream;
    *  - pass 3 runs AFTER pass 2, so text joined by a hashtag deletion
    *    is never re-examined for mentions ("@#x" → "@"), which the
    *    left-to-right single scan reproduces for free. */
  def stripNoise(s: UTF8String): UTF8String = {
    val out = new Array[Byte](s.numBytes)
    UTF8String.fromBytes(out, 0, strip(s, NoDrop, out))
  }

  /** clean_text (F1–F5) in one scan: the noise scan drops the bytes of
    * `TextFunctions.asciiPunctuation` as it emits (see punctTable),
    * then lowers the kept text in place and strips `TextFunctions.wsChars`
    * from both ends, so a row makes one output array. Lowering is
    * Spark's default `lower` (`spark.sql.icu.caseMappings.enabled`):
    * all-ASCII text maps A–Z to a–z, as `toLowerCaseAscii` does; any
    * other text is lowered whole by ICU's `UCharacter.toLowerCase`, the
    * body of `CollationAwareUTF8String.toLowerCaseSlow`. That class is
    * not touched: its initializer loads ICU's break-iterator data. */
  def cleanText(s: UTF8String): UTF8String = {
    var out = new Array[Byte](s.numBytes)
    var n = strip(s, PunctDrop, out)
    var i = 0
    while (i < n && out(i) >= 0) i += 1
    if (i < n) {
      out = UCharacter.toLowerCase(UTF8String.fromBytes(out, 0, n).toValidString).getBytes(UTF_8)
      n = out.length
    } else {
      i = 0
      while (i < n) {
        if (out(i) >= 'A' && out(i) <= 'Z') out(i) = (out(i) + ('a' - 'A')).toByte
        i += 1
      }
    }
    var lo = 0
    while (lo < n && isWs(out(lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(out(hi - 1))) hi -= 1
    UTF8String.fromBytes(out, lo, hi - lo)
  }

  /** The noise scan of `s` into `out` (at least `s.numBytes` long),
    * emitting no byte that `drop` marks; returns the bytes emitted. */
  private def strip(s: UTF8String, drop: Array[Boolean], out: Array[Byte]): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var o = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b)) {
        if (!drop(b & 0xFF)) { out(o) = b; o += 1 }
        i += 1
      } else {
        var re = i + 1
        while (re < n && !isWs(Platform.getByte(base, off + re))) re += 1
        // pass 1: truncate the run at the leftmost URL start
        var eff = re
        var j = i
        while (j < eff) {
          val c = Platform.getByte(base, off + j)
          if (c == 'h' && j + 4 < re &&
              Platform.getByte(base, off + j + 1) == 't' &&
              Platform.getByte(base, off + j + 2) == 't' &&
              Platform.getByte(base, off + j + 3) == 'p') eff = j
          else if (c == 'w' && j + 3 < re &&
              Platform.getByte(base, off + j + 1) == 'w' &&
              Platform.getByte(base, off + j + 2) == 'w') eff = j
          else j += 1
        }
        // passes 2+3 within the truncated run
        var p = i
        while (p < eff) {
          val c = Platform.getByte(base, off + p)
          if ((c == '@' || c == '#') && p + 1 < eff &&
              isWord(Platform.getByte(base, off + p + 1))) {
            p += 1 // drop the sigil and its word run
            while (p < eff && isWord(Platform.getByte(base, off + p))) p += 1
          } else {
            if (!drop(c & 0xFF)) { out(o) = c; o += 1 }
            p += 1
          }
        }
        i = re // [eff, re) is the deleted URL tail
      }
    }
    o
  }

  // the plan-time tables; building them validates the lists (ASCII
  // punctuation, distinct 1..7-byte words)
  private val NoDrop: Array[Boolean] = new Array[Boolean](256)
  private val PunctDrop: Array[Boolean] = punctTable(TextFunctions.asciiPunctuation)
  private val QualityStop: Array[Long] = wordTable(TextFunctions.qualityStopwords)
  private val MarkerWords: Array[Long] = wordTable(TextFunctions.langMarkers.flatten)
  private val MarkerSet: Array[Int] =
    TextFunctions.langMarkers.zipWithIndex.flatMap { case (ws, l) => ws.map(_ => l) }.toArray

  /** Per-set counts of whole-word marker matches — exactly
    * len(regexp_extract_all(s, '\b(w1|w2|…)\b')) per set in DuckDB,
    * in one scan. RE2's \b is ASCII, so such a match is precisely a
    * maximal \w-run equal to w: its neighbours are non-\w bytes or a
    * string end, multi-byte UTF-8 units included. Runs are disjoint, so
    * counts are independent across the disjoint sets. The sets are
    * `TextFunctions.langMarkers`, counted in their order. */
  def langMarkerCounts(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val counts = new Array[Int](MarkerSet.last + 1)
    var i = 0
    while (i < n) {
      if (isWord(Platform.getByte(base, off + i))) {
        var j = i + 1
        while (j < n && isWord(Platform.getByte(base, off + j))) j += 1
        val w = indexOf(MarkerWords, packAt(base, off, i, j - i))
        if (w >= 0) counts(MarkerSet(w)) += 1
        i = j
      } else i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}
